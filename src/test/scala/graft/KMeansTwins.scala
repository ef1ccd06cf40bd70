package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.functions.{LloydSums, Md5Unit, VectorKernels, VectorMeanAgg, VectorOps}
import graft.operators.{KMeans, Sampling}
import graft.operators.KMeans._

/** The forms KMeans ran before its rounds read packed VecChunks, kept
  * as the twins the chunk kernels are pinned against in KMeansSpec:
  * the SQL Lloyd step and k-means++ race round, and the whole
  * cached-projection fit — `Dataset.cache` of the (id, f) projection,
  * SQL inits, row kernels over its `toRdd` (the columnar cache decoded
  * back into UnsafeRows every round), SQL k-means‖ rounds and a SQL
  * trackCost sum per step. */
object KMeansTwins {

  /** Lloyd step: assign column + groupBy + VectorMeanAgg mean. */
  def stepSql(df: DataFrame, featCol: String, cents: Centroids,
              keepEmpty: Boolean = false): Centroids = {
    val assigned = df.select(
      KMeans.assignColumn(cents, VectorOps.toDouble(col(featCol))).as("cluster"),
      VectorOps.toDouble(col(featCol)).as("f"))
    val next = assigned.groupBy("cluster")
      .agg(VectorMeanAgg.vecMean(col("f")).as("c"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    if (!keepEmpty) next
    else {
      val got = next.map(_._1).toSet
      (next ++ cents.filter(c => !got.contains(c._1))).sortBy(_._1)
    }
  }

  /** k-means++ race round over an (id: long, f: array<double>)
    * projection: key column, NULL/NaN filter, orderBy(key, id),
    * limit(1). */
  def plusPlusRoundSql(proj: DataFrame, soFar: Centroids, seed: Long,
                       round: Int): Option[(Long, Array[Double])] = {
    val u = Sampling.unitFromMd5(concat(lit(s"$seed:$round:"), col("id")))
    val d2 = KMeans.minSqDistColumn(soFar, col("f"))
    val key = when(d2 > 0.0, -log(u) / d2)
    proj.withColumn("__key", key)
      .filter(col("__key").isNotNull && !isnan(col("__key")))
      .orderBy(col("__key"), col("id")).limit(1).collect()
      .headOption.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
  }

  /** The whole PlusPlus init with SQL race rounds, as initCentroids
    * ran it. */
  def plusPlusSql(df: DataFrame, idCol: String, featCol: String, k: Int,
                  seed: Long): Centroids = {
    val proj = df.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(featCol)).as("f")).cache()
    try {
      val first = proj.filter(col("id").isNotNull && col("f").isNotNull)
        .withColumn("__u", Sampling.unitFromMd5(concat(lit(s"$seed:0:"), col("id"))))
        .orderBy(col("__u"), col("id")).limit(1).collect()
        .headOption.getOrElse(throw new NoSuchElementException(
          "k-means++: input DataFrame has no row with a non-NULL id and vector"))
      var chosen = Vector(first.getLong(0) -> first.getSeq[Double](1).toArray)
      for (round <- 1 until k) {
        val soFar: Centroids = chosen.zipWithIndex
          .map { case ((_, v), i) => (i + 1) -> v }.toArray
        val next = plusPlusRoundSql(proj, soFar, seed, round)
        require(next.nonEmpty, s"k-means++: fewer than $k distinct points in the input")
        chosen = chosen :+ next.get
      }
      chosen.zipWithIndex.map { case ((_, v), i) => (i + 1) -> v }.toArray
    } finally { proj.unpersist(); () }
  }

  /** initCentroids as it cached the projection for PlusPlus/Parallel. */
  def initCentroids(df: DataFrame, idCol: String, featCol: String, init: Init): Centroids = {
    val proj = projection(df, idCol, featCol)
    init match {
      case _: PlusPlus | _: Parallel =>
        val cached = proj.cache()
        try initFrom(cached, init) finally { cached.unpersist(); () }
      case _ => initFrom(proj, init)
    }
  }

  /** fit over one cached projection; `start`, when given, replaces
    * the init's pick. */
  def fit(data: DataFrame, idCol: String, featCol: String, init: Init,
          maxIter: Int, tol: Double = 0.0, keepEmpty: Boolean = false,
          trackCost: Boolean = false, start: Option[Centroids] = None): KMeansModel = {
    if (maxIter == 0)
      return KMeansModel(start.getOrElse(initCentroids(data, idCol, featCol, init)), 0,
        converged = false)
    val df = projection(data, idCol, featCol).cache()
    try {
      var cents = start.getOrElse(initFrom(df, init))
      val cap = if (maxIter < 0) 10000 else maxIter
      var iter = 0
      var converged = false
      val costs = Seq.newBuilder[Double]
      val rows = df.queryExecution.toRdd
      while (!converged && iter < cap) {
        val next = lloydStepRows(rows, 1, cents, keepEmpty)
        converged = isConverged(cents, next, tol)
        cents = next
        iter += 1
        if (trackCost)
          costs += df.select(minSqDistColumn(cents, col("f")).as("m"))
            .agg(sum(col("m"))).head().getDouble(0)
      }
      KMeansModel(cents, iter, converged, costs.result())
    } finally { df.unpersist(); () }
  }

  private def projection(df: DataFrame, idCol: String, featCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), VectorOps.toDouble(col(featCol)).as("f"))

  private def initFrom(proj: DataFrame, init: Init): Centroids =
    init match {
      case ExplicitIds(ids) =>
        val byId = proj.filter(col("id").isin(ids: _*)).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        ids.zipWithIndex.map { case (id, i) =>
          (i + 1) -> byId.getOrElse(id,
            throw new NoSuchElementException(s"initial centroid id $id not in dataset"))
        }.toArray
      case RandomRows(k, seed) =>
        proj.orderBy(rand(seed), col("id")).limit(k).collect().zipWithIndex
          .map { case (r, i) => (i + 1) -> r.getSeq[Double](1).toArray }
      case FirstK(k) =>
        proj.orderBy(col("id")).limit(k).collect().zipWithIndex
          .map { case (r, i) => (i + 1) -> r.getSeq[Double](1).toArray }
      case PlusPlus(k, seed) =>
        var chosen = Vector(firstPick(proj, seed, "k-means++"))
        for (round <- 1 until k) {
          val soFar: Centroids = chosen.zipWithIndex
            .map { case ((_, v), i) => (i + 1) -> v }.toArray
          val next = plusPlusRoundRows(proj, soFar, seed, round)
          require(next.nonEmpty, s"k-means++: fewer than $k distinct points in the input")
          chosen = chosen :+ next.get
        }
        chosen.zipWithIndex.map { case ((_, v), i) => (i + 1) -> v }.toArray
      case Parallel(k, seed, rounds, l0, sortedCost) =>
        val lFactor = if (l0 > 0) l0 else 2 * k
        require(rounds >= 1, s"k-means parallel needs rounds >= 1, got $rounds")
        var cands = Vector(firstPick(proj, seed, "k-means parallel"))
        var round = 1
        var exhausted = false
        while (round <= rounds && !exhausted) {
          val soFar: Centroids = cands.zipWithIndex
            .map { case ((_, v), i) => (i + 1) -> v }.toArray
          val d2 = minSqDistColumn(soFar, col("f"))
          val cost =
            if (sortedCost)
              proj.select(VectorOps.sortedSum(d2).as("c")).head().getDouble(0)
            else proj.select(sum(d2).as("c")).head().getDouble(0)
          if (cost <= 0.0) exhausted = true
          else {
            val u = Sampling.unitFromMd5(concat(lit(s"$seed:$round:"), col("id")))
            val p = least(lit(1.0), lit(lFactor.toDouble) * d2 / lit(cost))
            val newRows = proj.filter(d2.isNotNull && u < p).select(col("id"), col("f"))
              .collect().sortBy(_.getLong(0))
            val seen = cands.map(_._1).toSet
            cands ++= newRows.iterator
              .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
              .filter(c => !seen(c._1))
          }
          round += 1
        }
        require(cands.length >= k,
          s"k-means parallel sampled ${cands.length} candidates < k=$k — " +
            "raise rounds or l (or the input has too few distinct points)")
        val candCents: Centroids = cands.zipWithIndex
          .map { case ((_, v), i) => (i + 1) -> v }.toArray
        val wByCluster = assign(proj, "f", candCents).groupBy("cluster")
          .agg(count(lit(1)).as("w")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val weighted = cands.zipWithIndex.map { case ((id, v), i) =>
          (id, v, wByCluster.getOrElse(i + 1, 0L).max(1L))
        }.toArray
        KMeans.weightedPlusPlusLocal(weighted, k, seed)
    }

  private def firstPick(proj: DataFrame, seed: Long, init: String): (Long, Array[Double]) = {
    val r = proj.filter(col("id").isNotNull && col("f").isNotNull)
      .withColumn("__u", Sampling.unitFromMd5(concat(lit(s"$seed:0:"), col("id"))))
      .orderBy(col("__u"), col("id")).limit(1).collect()
      .headOption.getOrElse(throw new NoSuchElementException(
        s"$init: input DataFrame has no row with a non-NULL id and vector"))
    r.getLong(0) -> r.getSeq[Double](1).toArray
  }

  /** The race round as a row kernel over the projection's toRdd. */
  private def plusPlusRoundRows(proj: DataFrame, soFar: Centroids, seed: Long,
                                round: Int): Option[(Long, Array[Double])] = {
    val (_, flat, d) = KMeans.flatCents(soFar)
    val prefix = s"$seed:$round:"
    proj.queryExecution.toRdd
      .mapPartitions(it => plusPlusRaceRows(it, flat, d, prefix))
      .collect()
      .reduceOption((a, b) => if (b._1 < a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)
      .map(c => c._2 -> c._3)
  }

  private def lloydStepRows(rows: RDD[InternalRow], fIdx: Int, cents: Centroids,
                            keepEmpty: Boolean): Centroids = {
    require(cents.nonEmpty, "a Lloyd step needs at least one centroid")
    val sorted = cents.sortBy(_._1)
    val (cids, flat, d) = KMeans.flatCents(sorted)
    val total = rows.mapPartitions(it => Iterator.single(lloydSumsRows(it, fIdx, flat, d)))
      .collect().foldLeft(new LloydSums(cids.length, d))(_ merge _)
    cids.indices.iterator.collect {
      case c if total.n(c) > 0L => cids(c) -> total.mean(c)
      case c if keepEmpty => sorted(c)
    }.toArray
  }

  /** The Lloyd row kernel: UnsafeArrayData read per row, a NULL
    * element added as 0.0. */
  private def lloydSumsRows(rows: Iterator[InternalRow], fIdx: Int, cents: Array[Double],
                            d: Int): LloydSums = {
    val acc = new LloydSums(cents.length / d, d)
    while (rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(fIdx)) {
        val v = r.getArray(fIdx)
        require(v.numElements() == d,
          s"ragged vector in group: expected dim $d, got ${v.numElements()}")
        val c = if (VectorKernels.centValid(v, d)) VectorKernels.nearestCentroid(v, cents, d) else 0
        acc.add(c, Array.tabulate(d)(i => if (v.isNullAt(i)) 0.0 else v.getDouble(i)), 0)
      }
    }
    acc
  }

  /** The race row kernel (id at 0, f at 1). */
  private def plusPlusRaceRows(rows: Iterator[InternalRow], chosen: Array[Double], d: Int,
                               prefix: String): Iterator[(Double, Long, Array[Double])] = {
    val md = Md5Unit.newDigest()
    var found = false
    var bestKey = 0.0
    var bestId = 0L
    var bestF: Array[Double] = null
    while (rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val v = r.getArray(1)
        if (VectorKernels.centValid(v, d)) {
          val d2 = VectorKernels.minSqDistToSet(v, chosen, d)
          if (d2 > 0.0) {
            val id = r.getLong(0)
            val u = Md5Unit.unit(md, prefix + id)
            if (u > 0.0) {
              val key = -StrictMath.log(u) / d2
              if (!key.isNaN &&
                  (!found || key < bestKey || (key == bestKey && id < bestId))) {
                found = true; bestKey = key; bestId = id; bestF = v.toDoubleArray()
              }
            }
          }
        }
      }
    }
    if (found) Iterator.single((bestKey, bestId, bestF)) else Iterator.empty
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{VectorMeanAgg, VectorOps}
import graft.operators.{KMeans, Sampling}
import graft.operators.KMeans.Centroids

/** The SQL forms of a Lloyd step and of a k-means++ race round that
  * KMeans ran before both became single-stage kernels over toRdd
  * (VectorKernels.lloydSums / plusPlusRace). Kept as the twins the
  * kernels are pinned against in KMeansSpec. */
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
}

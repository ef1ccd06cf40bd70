package bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{ClusterMetrics, KMeans, PCA}
import graft.operators.KMeans.{Centroids, PlusPlus}
import graft.sources.GeneIO

/** The paper's pipeline on a gene TSV in the reference layout (id,
  * label, doubles): read, fit K-Means++ for 12 Lloyd steps, assign,
  * score against the labels, project to 2-D, write finalOutput lines.
  * Per-row kernel work and the sources layer dominate; no graph or
  * index code runs. */
final class GeneKMeans(spark: SparkSession, tracer: Tracer, seed: Long, work: Path)
    extends Workload {
  import GeneKMeans._

  private var input: Path = _
  private var features: Array[Array[Double]] = _
  private var labels: Array[Int] = _
  private var expected: (Centroids, Int, Boolean) = _

  private var genes: DataFrame = _
  private var model: KMeans.KMeansModel = _
  private var assigned: DataFrame = _
  private var jaccard: Row = _
  private var rand: Row = _
  private var purity: Row = _
  private var projected = 0L
  private var writeBytes = 0L

  private def outDir(p: Int): Path = work.resolve(s"final-output-$p")

  /** Rows in shuffled order; ids 1..Rows. About 5% carry label -1 and
    * sit uniformly in the bounding box, the iyer outlier convention.
    * Clusters overlap heavily, so 12 exact-zero Lloyd steps do not
    * converge and every pass does the same number of steps. */
  def generate(dir: Path): Unit = {
    val rnd = new Random(seed)
    val centers = Array.fill(TrueK, Dims)(rnd.nextDouble() * 10.0)
    def round4(x: Double) = math.rint(x * 1e4) / 1e4
    val rows = Array.tabulate(Rows) { i =>
      if (rnd.nextDouble() < OutlierShare)
        (i + 1L, -1, Array.fill(Dims)(round4(rnd.nextDouble() * 20.0 - 5.0)))
      else {
        val l = rnd.nextInt(TrueK)
        (i + 1L, l + 1, Array.tabulate(Dims)(j => round4(centers(l)(j) + rnd.nextGaussian() * Sigma)))
      }
    }
    val shuffled = rnd.shuffle(rows.toSeq).toArray
    val sb = new java.lang.StringBuilder(Rows * Dims * 9)
    shuffled.foreach { case (id, label, f) =>
      sb.append(id).append('\t').append(label)
      f.foreach(v => sb.append('\t').append(v))
      sb.append('\n')
    }
    Files.createDirectories(dir)
    input = dir.resolve("genes.tsv")
    Files.write(input, sb.toString.getBytes(StandardCharsets.UTF_8))
    val byId = rows.sortBy(_._1)
    features = byId.map(_._3)
    labels = byId.map(_._2)
  }

  /** The fit's own init, then a driver-local Lloyd replay from it. */
  def prepare(): Unit = {
    val init = KMeans.initCentroids(GeneIO.readGenes(spark, input.toString),
      "id", "features", PlusPlus(K, seed))
    expected = lloydLocal(features, init, MaxIter)
  }

  def pass(p: Int): Unit = {
    genes = tracer.span("gene_io.read") {
      val g = GeneIO.readGenes(spark, input.toString).cache()
      g.count()
      g
    }
    model = tracer.span("kmeans.fit") {
      KMeans.fit(genes, "id", "features", PlusPlus(K, seed), MaxIter)
    }
    assigned = tracer.span("kmeans.assign") {
      val a = KMeans.assign(genes, "features", model.centroids).cache()
      a.count()
      a
    }
    jaccard = tracer.span("cluster_metrics.jaccard") {
      ClusterMetrics.jaccard(assigned, "label", "cluster").head()
    }
    rand = tracer.span("cluster_metrics.rand_index") {
      ClusterMetrics.randIndex(assigned, "label", "cluster").head()
    }
    purity = tracer.span("cluster_metrics.purity") {
      ClusterMetrics.purity(assigned, "label", "cluster").head()
    }
    projected = tracer.span("pca.project2d") {
      PCA.project2D(assigned, "id", "features", "cluster").collect().length.toLong
    }
    tracer.span("gene_io.write") {
      GeneIO.writeTsv(GeneIO.finalOutputLines(assigned, "id", "cluster", "features"),
        outDir(p).toString)
    }
  }

  override def aside(p: Int): Unit = tracer.span("kmeans.init") {
    KMeans.initCentroids(genes, "id", "features", PlusPlus(K, seed))
    ()
  }

  def check(p: Int): Seq[(String, Boolean, String)] = {
    val (eCents, eIter, eConv) = expected
    val cents = model.centroids.sortBy(_._1)
    val maxDiff =
      if (cents.map(_._1).toSeq != eCents.map(_._1).toSeq) Double.PositiveInfinity
      else cents.zip(eCents).flatMap { case ((_, a), (_, b)) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) / math.max(1.0, math.abs(y)) }
      }.max
    val fitOk = model.iterations == eIter && model.converged == eConv &&
      maxDiff <= CentroidTolerance

    // (id, label, cluster) as the assignment produced them
    val got = assigned.select(col("id"), col("label"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val cids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val assignOk = got.length == Rows && got.forall { case (id, label, c) =>
      val i = (id - 1).toInt
      labels(i) == label && cids(nearest(features(i), flat, Dims)) == c
    }
    val pairs = got.map(r => (r._2, r._3))
    val (m11, g, pp, ntot) = contingency(pairs)
    val jaccardOk = jaccard.getLong(0) == m11 && jaccard.getLong(1) == g + pp - 2 * m11 &&
      jaccard.getDouble(2) == m11.toDouble / (g + pp - m11)
    val randOk = rand.getLong(0) == m11 && rand.getLong(1) == ntot * ntot - g - pp + m11 &&
      rand.getDouble(2) == (m11 + ntot * ntot - g - pp + m11).toDouble / (ntot * ntot).toDouble
    val correct = pairs.groupBy(_._2).values.map(_.groupBy(_._1).values.map(_.length).max).sum
    val purityOk = purity.getLong(0) == correct && purity.getLong(1) == ntot &&
      purity.getDouble(2) == correct.toDouble / ntot.toDouble

    // the reference's O(n²) Jaccard on a fixed subset, against Spark on
    // the same subset (the full set would be 2e10 pair visits)
    val subset = got.filter(_._1 <= LocalJaccardRows).map(r => (r._2, r._3)).toSeq
    val (lm11, lm0, lj) = ClusterMetrics.jaccardLocal(subset)
    val sj = ClusterMetrics.jaccard(assigned.filter(col("id") <= LocalJaccardRows),
      "label", "cluster").head()
    val localJaccardOk = sj.getLong(0) == lm11 && sj.getLong(1) == lm0 && sj.getDouble(2) == lj

    val parts = Fs.partFiles(outDir(p))
    writeBytes = parts.map(Files.size).sum
    val lines = parts.map(f => Files.readAllLines(f).size.toLong).sum
    Seq(
      ("fit matches local Lloyd replay", fitOk,
        s"iterations ${model.iterations}/$eIter, converged ${model.converged}/$eConv, " +
          s"max relative centroid diff $maxDiff (tolerance $CentroidTolerance)"),
      ("assignment is the nearest fitted centroid", assignOk, s"${got.length} rows"),
      ("jaccard equals local contingency count", jaccardOk, s"spark $jaccard, local m11=$m11"),
      (s"jaccard equals jaccardLocal on ids <= $LocalJaccardRows", localJaccardOk,
        s"spark $sj, local ($lm11, $lm0, $lj)"),
      ("randIndex equals local count", randOk, s"spark $rand"),
      ("purity equals local count", purityOk, s"spark $purity, local $correct/$ntot"),
      ("PCA projects every row", projected == Rows, s"$projected rows"),
      ("written lines equal input rows", lines == Rows, s"$lines lines"))
  }

  def counts: Map[String, Double] = Map(
    "kmeans.iterations" -> model.iterations.toDouble,
    "kmeans.rows" -> Rows.toDouble,
    "gene_io.write_bytes" -> writeBytes.toDouble)

  def cleanup(p: Int): Unit = {
    if (assigned != null) assigned.unpersist()
    if (genes != null) genes.unpersist()
    Fs.deleteTree(outDir(p))
  }
}

object GeneKMeans {
  val Rows = 150000
  val Dims = 16
  val TrueK = 8
  val K = 8
  val MaxIter = 12
  val Sigma = 4.0
  val OutlierShare = 0.05
  val LocalJaccardRows = 2000L
  /** Distributed and local sums add in different orders. */
  val CentroidTolerance = 1e-9

  /** Position of the nearest centroid, lowest position on ties: the
    * arithmetic of the library's nearest-centroid kernel. */
  def nearest(v: Array[Double], flat: Array[Double], d: Int): Int = {
    var best = Double.NaN
    var bestIdx = -1
    var c = 0
    while (c < flat.length / d) {
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = v(i) - flat(c * d + i)
        acc = acc + x * x
        i += 1
      }
      if (bestIdx == -1 || java.lang.Double.compare(acc, best) < 0) { best = acc; bestIdx = c }
      c += 1
    }
    bestIdx
  }

  /** Lloyd's algorithm on the driver: empty clusters vanish and
    * convergence is exact-zero movement, as in KMeans.fit. */
  def lloydLocal(x: Array[Array[Double]], init: Centroids, maxIter: Int): (Centroids, Int, Boolean) = {
    var cents = init.sortBy(_._1)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val d = cents.head._2.length
      val flat = cents.flatMap(_._2)
      val sums = Array.ofDim[Double](cents.length, d)
      val n = new Array[Long](cents.length)
      x.foreach { v =>
        val c = nearest(v, flat, d)
        var i = 0
        while (i < d) { sums(c)(i) += v(i); i += 1 }
        n(c) += 1
      }
      val next = cents.indices.filter(n(_) > 0).map(c => cents(c)._1 -> sums(c).map(_ / n(c))).toArray
      converged = KMeans.isConverged(cents, next, 0.0)
      cents = next
      iter += 1
    }
    (cents, iter, converged)
  }

  /** (M11, G, P, n) of the reference's ordered-pairs Jaccard, with label
    * -1 excluded from co-membership on both sides. */
  def contingency(pairs: Array[(Int, Int)]): (Long, Long, Long, Long) = {
    val cells = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val m11 = cells.collect { case ((t, p), n) if t != -1 && p != -1 => n * n }.sum
    def squares(key: ((Int, Int)) => Int) =
      cells.toSeq.filter(c => key(c._1) != -1).groupBy(c => key(c._1))
        .values.map(_.map(_._2).sum).map(s => s * s).sum
    (m11, squares(_._1), squares(_._2), pairs.length.toLong)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{ClusterMetrics, KMeans}
import graft.operators.KMeans.ExplicitIds
import graft.sources.GeneIO

/** Gene TSV source + sinks + interchange format, and the REFERENCE
  * GOLDEN PARITY run (SURVEY §7.2): Iris with explicit centroids
  * 1,2,3, run to exact convergence, checked against an independent
  * plain-Scala Lloyd's implementation written in this spec. */
class GeneIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val DataDir = "/root/reference/data"

  // ── independent local Lloyd's (mirrors reference semantics) ──────

  private def localParse(path: String): Seq[(Long, Int, Array[Double])] =
    scala.io.Source.fromFile(path).getLines().filter(_.trim.nonEmpty).map { line =>
      val t = line.split("\t")
      (t(0).toLong, t(1).toInt, t.drop(2).map(_.toDouble))
    }.toSeq

  private def localSqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** argmin with lowest-cid tie-break; mean sums rows in input order
    * (matching the single-partition fold of the Spark run); empty
    * clusters vanish; exact-zero convergence; iteration counts steps
    * executed — all the reference semantics of KMeans.fit. */
  private def localLloyd(rows: Seq[(Long, Int, Array[Double])],
                         init: Seq[(Int, Array[Double])],
                         tol: Double = 0.0, cap: Int = 10000)
      : (Seq[(Int, Array[Double])], Int, Map[Long, Int]) = {
    var cents = init
    var iter = 0
    var converged = false
    var assignMap = Map.empty[Long, Int]
    while (!converged && iter < cap) {
      assignMap = rows.map { case (id, _, f) =>
        id -> cents.map { case (cid, cv) => (localSqDist(cv, f), cid) }.min._2
      }.toMap
      val next = cents.flatMap { case (cid, _) =>
        val members = rows.filter(r => assignMap(r._1) == cid)
        if (members.isEmpty) None
        else {
          val d = members.head._3.length
          val sum = new Array[Double](d)
          members.foreach(m => (0 until d).foreach(i => sum(i) += m._3(i)))
          Some(cid -> sum.map(_ / members.length))
        }
      }
      converged = next.length == cents.length &&
        cents.sortBy(_._1).zip(next.sortBy(_._1)).forall { case ((i1, v1), (i2, v2)) =>
          i1 == i2 && KMeans.euclideanLocal(v1, v2) <= tol
        }
      cents = next
      iter += 1
    }
    (cents, iter, assignMap)
  }

  // ── source ───────────────────────────────────────────────────────

  test("readGenes parses all three reference datasets with their native widths") {
    val iris = GeneIO.readGenes(spark, s"$DataDir/new_dataset_1.txt")
    val cho = GeneIO.readGenes(spark, s"$DataDir/cho.txt")
    val iyer = GeneIO.readGenes(spark, s"$DataDir/iyer.txt")
    assert(iris.count() === 150L)
    assert(cho.count() === 386L)
    assert(iyer.count() === 517L)
    def dims(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.select(size(col("features"))).distinct().collect().map(_.getInt(0)).toSet
    assert(dims(iris) === Set(4))
    assert(dims(cho) === Set(16))
    assert(dims(iyer) === Set(12))
    // iyer carries the -1 outlier label convention (KMeans.java:559)
    assert(iyer.filter(col("label") === -1).count() > 0L)
    // spot-check first iris row: 1 \t 1 \t 5.4 3.9 1.7 0.4
    val r = iris.orderBy("id").limit(1).collect()(0)
    assert(r.getLong(0) === 1L && r.getInt(1) === 1)
    assert(r.getSeq[Double](2) === Seq(5.4, 3.9, 1.7, 0.4))
  }

  test("readGenes matches the plain-Scala parse row for row") {
    val local = localParse(s"$DataDir/cho.txt")
    val got = GeneIO.readGenes(spark, s"$DataDir/cho.txt").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    assert(got.length === local.length)
    local.sortBy(_._1).zip(got).foreach { case ((id1, l1, f1), (id2, l2, f2)) =>
      assert(id1 === id2); assert(l1 === l2); assert(f1.toSeq === f2.toSeq)
    }
  }

  // ── GOLDEN PARITY: Iris, explicit centroids 1,2,3, to convergence ─

  test("golden: Iris fit with centroids 1,2,3 matches independent Lloyd's exactly") {
    val rows = localParse(s"$DataDir/new_dataset_1.txt")
    val byId = rows.map(r => r._1 -> r._3).toMap
    val init = Seq(1 -> byId(1L), 2 -> byId(2L), 3 -> byId(3L))
    val (expCents, expIters, expAssign) = localLloyd(rows, init)

    // coalesce(1) pins partial-sum order to row order = the local fold
    val df = GeneIO.readGenes(spark, s"$DataDir/new_dataset_1.txt").coalesce(1)
    val model = KMeans.fit(df, "id", "features", ExplicitIds(Seq(1L, 2L, 3L)),
      maxIter = -1, tol = 0.0)

    assert(model.converged)
    assert(model.iterations === expIters)
    assert(model.centroids.length === expCents.length)
    model.centroids.sortBy(_._1).zip(expCents.sortBy(_._1)).foreach {
      case ((c1, v1), (c2, v2)) =>
        assert(c1 === c2)
        assert(v1.toSeq === v2.toSeq) // bit-exact: same fold order both sides
    }

    val assigned = KMeans.assign(df, "features", model.centroids)
    val gotAssign = assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotAssign === expAssign)

    // Jaccard vs ground truth: engine contingency form == reference-
    // literal O(n²) pair count
    val truthPred = rows.map(r => (r._2, gotAssign(r._1)))
    val (m11, dis, j) = ClusterMetrics.jaccardLocal(truthPred)
    val row = ClusterMetrics.jaccard(assigned, "label", "cluster").collect()(0)
    assert(row.getLong(0) === m11)
    assert(row.getLong(1) === dis)
    assert(row.getDouble(2) === j)
    // sanity: better than random co-membership (~1/3 for 3 balanced
    // clusters). Seeds 1,2,3 carry labels 1,3,1 (two seeds in one true
    // class), so the deterministic result lands at J ≈ 0.484.
    assert(j > 0.4)
  }

  // ── GOLDEN PARITY: the other two reference datasets ──────────────
  // cho (k=5) and iyer (k=10, 33 rows labeled -1) — together with the
  // Iris golden above, every dataset the reference ships is run
  // end-to-end (parse → fit to convergence → assign → Jaccard) against
  // the independent local Lloyd's.

  test("golden: cho and iyer (with -1 outliers) match independent Lloyd's exactly") {
    for ((file, k) <- Seq(("cho.txt", 5), ("iyer.txt", 10))) {
      val rows = localParse(s"$DataDir/$file")
      val byId = rows.map(r => r._1 -> r._3).toMap
      val ids = (1L to k.toLong).toSeq
      val init = ids.zipWithIndex.map { case (id, i) => (i + 1) -> byId(id) }
      val (expCents, expIters, expAssign) = localLloyd(rows, init)

      val df = GeneIO.readGenes(spark, s"$DataDir/$file").coalesce(1)
      val model = KMeans.fit(df, "id", "features", ExplicitIds(ids), maxIter = -1)
      assert(model.converged, file)
      assert(model.iterations === expIters, file)
      model.centroids.sortBy(_._1).zip(expCents.sortBy(_._1)).foreach {
        case ((c1, v1), (c2, v2)) =>
          assert(c1 === c2, file)
          assert(v1.toSeq === v2.toSeq, file)
      }
      val assigned = KMeans.assign(df, "features", model.centroids)
      val gotAssign = assigned.select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(gotAssign === expAssign, file)

      // Jaccard parity including the -1 exclusion (exercised by iyer)
      val truthPred = rows.map(r => (r._2, gotAssign(r._1)))
      val (m11, dis, j) = ClusterMetrics.jaccardLocal(truthPred)
      val row = ClusterMetrics.jaccard(assigned, "label", "cluster").collect()(0)
      assert(row.getLong(0) === m11, file)
      assert(row.getLong(1) === dis, file)
      assert(row.getDouble(2) === j, file)
    }
  }

  // ── sinks (op 14) ────────────────────────────────────────────────

  test("row sinks render the reference's byte formats") {
    import spark.implicits._
    val df = Seq((7L, 2, Array(1.5, -0.25, 3.0)), (8L, 1, Array(0.0, 10.0, 2.5)))
      .toDF("id", "cluster", "features")
    val fin = GeneIO.finalOutputLines(df, "id", "cluster", "features")
      .as[String].collect().sorted
    assert(fin === Array("7\t2\t1.5\t-0.25\t3.0", "8\t1\t0.0\t10.0\t2.5"))
    val plot = GeneIO.plotOutputLines(df, "cluster", "features")
      .as[String].collect().sorted
    assert(plot === Array("0.0\t10.0\t2.5\t1", "1.5\t-0.25\t3.0\t2"))

    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/final"
    GeneIO.writeTsv(GeneIO.finalOutputLines(df, "id", "cluster", "features"), out)
    val back = spark.read.text(out).as[String].collect().sorted
    assert(back === fin)
  }

  test("row sinks: the native array<string> cast renders what the per-element transform did") {
    import spark.implicits._
    def v(xs: java.lang.Double*): Option[Seq[java.lang.Double]] = Some(xs)
    val vecs = Seq(
      v(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0),
      v(1e-7, 1e21, 1.5, -0.25, 123456789.0),
      v(1.0, null, 3.0), v(null: java.lang.Double), v(), None)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, i % 3, v) }
      .toDF("id", "cluster", "features")
    // the form both sinks used before the native cast
    val oldFeats = concat_ws("\t", transform(col("features"), _.cast("string")))
    val oldFinal = df.select(concat_ws("\t", col("id").cast("string"),
      col("cluster").cast("string"), oldFeats).as("value"))
    val oldPlot = df.select(concat_ws("\t", oldFeats, col("cluster").cast("string")).as("value"))
    def lines(d: org.apache.spark.sql.DataFrame) = d.as[String].collect().sorted.toSeq
    val fin = lines(GeneIO.finalOutputLines(df, "id", "cluster", "features"))
    assert(fin == lines(oldFinal))
    assert(lines(GeneIO.plotOutputLines(df, "cluster", "features")) == lines(oldPlot))
    // an empty or NULL vector keeps its trailing tab
    assert(fin.contains("4\t1\t") && fin.contains("5\t2\t"), fin)
    assert(fin.contains("0\t0\tNaN\tInfinity\t-Infinity\t-0.0\t0.0"), fin)
  }

  // ── centroid interchange format (op 9) ───────────────────────────

  test("centroid interchange format round-trips, '|' sentinel honored") {
    val cents: KMeans.Centroids =
      Array(1 -> Array(1.5, -2.25, 0.5), 2 -> Array(0.0, 3.0, -1.0))
    val membership = Map(1 -> Seq(3L, 7L, 9L), 2 -> Seq(4L))
    val lines = GeneIO.centroidLines(cents, membership)
    // KMeans.java:516-526 format: cid \t v… \t id1|id2|…| \t -count
    assert(lines === Seq("1\t1.5\t-2.25\t0.5\t3|7|9|\t-3", "2\t0.0\t3.0\t-1.0\t4|\t-1"))
    val (back, mem) = GeneIO.parseCentroidLines(lines)
    assert(back.map(_._1).toSeq === Seq(1, 2))
    assert(back(0)._2.toSeq === Seq(1.5, -2.25, 0.5)) // negative value ≠ count sentinel
    assert(back(1)._2.toSeq === Seq(0.0, 3.0, -1.0))
    assert(mem === membership)

    // initial (no-membership) form, KMeans.java:605
    val initLines = GeneIO.centroidLines(cents)
    assert(initLines === Seq("1\t1.5\t-2.25\t0.5", "2\t0.0\t3.0\t-1.0"))
    val (back2, mem2) = GeneIO.parseCentroidLines(initLines)
    assert(back2.map(_._2.toSeq).toSeq === cents.map(_._2.toSeq).toSeq)
    assert(mem2 === Map.empty)
  }

  test("membership lists reproduce Centroid.idList from an assignment table") {
    import spark.implicits._
    val assigned = Seq((1L, 1), (2L, 2), (3L, 1), (4L, 1)).toDF("id", "cluster")
    assert(GeneIO.membership(assigned, "id", "cluster") ===
      Map(1 -> Seq(1L, 3L, 4L), 2 -> Seq(2L)))
  }
}

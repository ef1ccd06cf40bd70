package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.ClusterMetrics

/** Distributed contingency-table Jaccard must equal the reference's
  * literal n×n matrix loops (`KMeans.java:623-665`), including the
  * diagonal pairs and the -1 outlier exclusion. */
class ClusterMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(pairs: Seq[(Int, Int)]): Unit = {
    import spark.implicits._
    val (m11, m0, j) = ClusterMetrics.jaccardLocal(pairs)
    val row = ClusterMetrics.jaccard(pairs.toDF("truth", "pred"), "truth", "pred").collect()(0)
    assert(row.getLong(0) === m11)
    assert(row.getLong(1) === m0)
    assert(row.getDouble(2) === j)
  }

  test("matches reference matrix loops on a hand-built assignment") {
    check(Seq((1, 1), (1, 1), (1, 2), (2, 2), (2, 2), (3, 3)))
  }

  test("excludes -1 labels from co-membership on both sides") {
    // -1 rows never co-member (not even with themselves): KMeans.java:629,640
    check(Seq((-1, 1), (-1, 1), (1, -1), (1, 1), (2, 2), (-1, -1)))
  }

  test("perfect clustering gives jaccard = 1.0") {
    val pairs = Seq((1, 5), (1, 5), (2, 7), (2, 7), (3, 9))
    check(pairs)
    val (_, m0, j) = ClusterMetrics.jaccardLocal(pairs)
    assert(m0 === 0L)
    assert(j === 1.0)
  }

  test("matches on pseudo-random labelings with outliers") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(5) - 1, rnd.nextInt(4) - 1))
    check(pairs)
  }

  /** Brute-force Rand over ordered pairs incl. diagonal, -1 never
    * co-members — the same convention as jaccardLocal. */
  private def randLocal(pairs: Seq[(Int, Int)]): (Long, Long, Double) = {
    var m11 = 0L; var m00 = 0L
    for ((t1, p1) <- pairs; (t2, p2) <- pairs) {
      val g = t1 == t2 && t1 != -1
      val c = p1 == p2 && p1 != -1
      if (g && c) m11 += 1
      else if (!g && !c) m00 += 1
    }
    val n = pairs.length.toLong
    (m11, m00, (m11 + m00).toDouble / (n * n))
  }

  test("randIndex matches brute-force ordered-pair counting") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(90)((rnd.nextInt(4) - 1, rnd.nextInt(3) - 1))
    val (m11, m00, r) = randLocal(pairs)
    val row = ClusterMetrics.randIndex(pairs.toDF("truth", "pred"), "truth", "pred").collect()(0)
    assert(row.getLong(0) == m11)
    assert(row.getLong(1) == m00)
    assert(row.getDouble(2) == r)
  }

  test("simplifiedSilhouette: 1.0 on centroid-coincident points, 0 when equidistant") {
    import spark.implicits._
    import graft.operators.KMeans
    val cents: KMeans.Centroids = Array(1 -> Array(0.0, 0.0), 2 -> Array(10.0, 10.0))
    val df = Seq(
      (1L, Seq(0.0, 0.0)),   // on centroid 1: a=0, b>0 -> s=1
      (2L, Seq(10.0, 10.0)), // on centroid 2: s=1
      (3L, Seq(5.0, 5.0))    // equidistant: a=b -> s=0
    ).toDF("id", "features")
    val assigned = KMeans.assign(df, "features", cents)
    val row = ClusterMetrics.simplifiedSilhouette(assigned, "features", cents).collect()(0)
    assert(row.getLong(1) == 3L)
    assert(math.abs(row.getDouble(0) - 2.0 / 3.0) < 1e-12)
    // the sorted-fold oracle twin agrees
    val tw = ClusterMetrics.simplifiedSilhouette(assigned, "features", cents,
      sortedFold = true).collect()(0)
    assert(math.abs(tw.getDouble(0) - row.getDouble(0)) < 1e-12 && tw.getLong(1) == 3L)
    // k=1 has no "other centroid" — must fail fast, not silently drop rows
    intercept[IllegalArgumentException] {
      ClusterMetrics.simplifiedSilhouette(assigned, "features",
        Array(1 -> Array(0.0, 0.0)))
    }
  }

  test("calinskiHarabasz: hand-computed value, fold modes agree, vanished cluster is 0-weight") {
    import spark.implicits._
    import graft.operators.KMeans
    // two 1-D clusters: {0, 2} around centroid 1, {10, 12} around 11
    // W = 1+1+1+1 = 4; mu = 6; B = 2*(1-6)^2 + 2*(11-6)^2 = 100
    // CH = (100/(2-1)) / (4/(4-2)) = 50
    val cents: KMeans.Centroids = Array((1, Array(1.0)), (2, Array(11.0)))
    val df = Seq((1L, Seq(0.0), 1), (2L, Seq(2.0), 1), (3L, Seq(10.0), 2), (4L, Seq(12.0), 2))
      .toDF("id", "features", "cluster")
    val r = ClusterMetrics.calinskiHarabasz(df, "features", cents, sortedFold = true).head()
    assert(math.abs(r.getDouble(0) - 50.0) < 1e-12)
    assert(r.getDouble(1) === 100.0 && r.getDouble(2) === 4.0 && r.getLong(3) === 4L)
    // the scale path (partial aggs) agrees within FP tolerance
    val s = ClusterMetrics.calinskiHarabasz(df, "features", cents, sortedFold = false).head()
    assert(math.abs(s.getDouble(0) - 50.0) < 1e-9)
    // a centroid with no members contributes zero to B, not a null
    val cents3: KMeans.Centroids = Array((1, Array(1.0)), (2, Array(11.0)), (3, Array(99.0)))
    val r3 = ClusterMetrics.calinskiHarabasz(df, "features", cents3, sortedFold = true).head()
    assert(!r3.isNullAt(0) && r3.getDouble(1) === 100.0)
  }

  test("daviesBouldin: hand-computed value, fold modes agree, vanished cluster excluded") {
    import spark.implicits._
    import graft.operators.KMeans
    // two 1-D clusters: {0, 2} around centroid 1, {10, 12} around 11
    // S1 = S2 = 1; d(c1, c2) = 10; R = (1+1)/10 = 0.2; DB = 0.2
    val cents: KMeans.Centroids = Array((1, Array(1.0)), (2, Array(11.0)))
    val df = Seq((1L, Seq(0.0), 1), (2L, Seq(2.0), 1), (3L, Seq(10.0), 2), (4L, Seq(12.0), 2))
      .toDF("id", "features", "cluster")
    val r = ClusterMetrics.daviesBouldin(df, "features", cents, sortedFold = true).head()
    assert(math.abs(r.getDouble(0) - 0.2) < 1e-15)
    assert(r.getLong(1) === 2L && r.getLong(2) === 4L)
    val s = ClusterMetrics.daviesBouldin(df, "features", cents, sortedFold = false).head()
    assert(math.abs(s.getDouble(0) - 0.2) < 1e-12)
    // a memberless centroid takes no part (it has no S_i); k_present drops it
    val cents3: KMeans.Centroids = Array((1, Array(1.0)), (2, Array(11.0)), (3, Array(99.0)))
    val r3 = ClusterMetrics.daviesBouldin(df, "features", cents3, sortedFold = true).head()
    assert(math.abs(r3.getDouble(0) - 0.2) < 1e-15 && r3.getLong(1) === 2L)
    // every point in one cluster -> fewer than 2 survivors -> NULL, not an error
    val one = Seq((1L, Seq(0.0), 1), (2L, Seq(2.0), 1)).toDF("id", "features", "cluster")
    assert(ClusterMetrics.daviesBouldin(one, "features", cents, sortedFold = true)
      .head().isNullAt(0))
  }

  test("purity: majority-vote fraction, 1.0 for perfect clustering") {
    import spark.implicits._
    val pairs = Seq((1, 5), (1, 5), (2, 5), (2, 7), (2, 7), (3, 9))
    // cluster 5: majority truth 1 (2 of 3); cluster 7: truth 2 (2); cluster 9: truth 3 (1)
    val row = ClusterMetrics.purity(pairs.toDF("truth", "pred"), "truth", "pred").collect()(0)
    assert(row.getLong(0) == 5L && row.getLong(1) == 6L)
    assert(row.getDouble(2) == 5.0 / 6.0)
    val perfect = ClusterMetrics.purity(
      Seq((1, 5), (1, 5), (2, 7)).toDF("truth", "pred"), "truth", "pred").collect()(0)
    assert(perfect.getDouble(2) == 1.0)
  }

  private type Metric = (DataFrame, String, String) => DataFrame

  private val metricsAndTwins: Seq[(String, Metric, Metric)] = Seq(
    ("jaccard", ClusterMetrics.jaccard, ClusterMetricsTwins.jaccardSql),
    ("randIndex", ClusterMetrics.randIndex, ClusterMetricsTwins.randIndexSql),
    ("purity", ClusterMetrics.purity, ClusterMetricsTwins.puritySql))

  /** The schema and rows of `body`, or the condition of the first
    * Spark error with one in the cause chain. */
  private def outcome(body: => DataFrame): Either[String, (StructType, Seq[Row])] =
    scala.util.Try { val df = body; (df.schema, df.collect().toSeq) }.toEither.left.map { e =>
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(s"${e.getClass.getName}: ${e.getMessage}")
    }

  test("jaccard, randIndex and purity ≡ their SQL twins: rows and schema, or the same error") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def label(): Option[Int] = if (rnd.nextInt(40) == 0) None else Some(rnd.nextInt(6) - 1)
    val random = Seq.fill(500)((label(), label())).toDF("truth", "pred")
    val inputs: Seq[(String, DataFrame)] = Seq(
      "NULL truth" -> Seq((Some(1), Some(1)), (None, Some(1)), (Some(2), Some(2)), (Some(1), Some(2)))
        .toDF("truth", "pred"),
      "NULL pred" -> Seq((Some(1), Some(1)), (Some(1), None), (Some(2), None), (Some(-1), Some(3)))
        .toDF("truth", "pred"),
      "all -1" -> Seq((-1, -1), (-1, -1), (-1, -1)).toDF("truth", "pred"),
      "empty" -> Seq.empty[(Int, Int)].toDF("truth", "pred"),
      "single row" -> Seq((4, 2)).toDF("truth", "pred"),
      "string labels" -> Seq(("1", 5), ("1", 5), ("2", 5), ("-1", 7), ("3", 7)).toDF("truth", "pred"),
      "500 rows, 1 partition" -> random.repartition(1),
      "500 rows, 7 partitions" -> random.repartition(7))
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    try for (ansi <- Seq("true", "false"); (what, df) <- inputs;
             (name, metric, twin) <- metricsAndTwins) {
      spark.conf.set(key, ansi)
      val a = outcome(metric(df, "truth", "pred"))
      val b = outcome(twin(df, "truth", "pred"))
      assert(a == b, s"$name on $what, ANSI $ansi")
      if (what != "empty" && what != "all -1") assert(a.isRight, s"$name on $what: $a")
      if (what == "empty" && ansi == "true" && name != "purity")
        assert(a == Left("DIVIDE_BY_ZERO"), s"$name: $a")
    } finally spark.conf.set(key, saved)
  }

  /** Spark jobs started while `body` runs (the KMeansSpec job-group
    * listener, drained through a marker job). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val stamp = System.nanoTime()
    val (group, marker) = (s"cm-spec-body-$stamp", s"cm-spec-marker-$stamp")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
        if (props.exists(_.getProperty("spark.job.description") == marker)) drained = true
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "ClusterMetricsSpec body")
      try body finally sc.clearJobGroup()
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis))(assert(drained))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("each external metric runs one grouped count when called; reading its row runs no job") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 500, 1, 4)
      .select((col("id") % 5 - 1).as("truth"), (col("id") % 3).as("pred"))
    for ((name, metric, _) <- metricsAndTwins) {
      var out: DataFrame = null
      val called = jobsDuring { out = metric(df, "truth", "pred") }
      assert(called >= 1 && called <= 2, s"$name: $called jobs")
      assert(jobsDuring(out.head()) == 0, name)
    }
  }
}

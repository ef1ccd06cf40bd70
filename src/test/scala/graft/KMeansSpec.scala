package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.KMeans
import graft.operators.KMeans._

object KMeansSpec {
  final case class Seen(unpersisted: Set[Int], jobs: Seq[SparkListenerJobStart])

  /** Relations in the shared session's cache manager — read inside
    * tasks, which run in this JVM under local[N]. The count is
    * private[sql]; its JVM method is public. */
  def cachedRelations(): Int = {
    val cm = TestSpark.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }
}

class KMeansSpec extends AnyFunSuite {
  import KMeansSpec.Seen
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Two obvious 2-D clusters around (0,0) and (10,10).
  private lazy val tiny = Seq(
    (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)),
    (4L, Seq(10.0, 10.0)), (5L, Seq(11.0, 10.0)), (6L, Seq(10.0, 11.0))
  ).toDF("id", "features")

  test("assign: every point goes to its nearest centroid") {
    val cents: Centroids = Array(1 -> Array(0.0, 0.0), 2 -> Array(10.0, 10.0))
    val got = KMeans.assign(tiny, "features", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 2))
  }

  test("assign: equidistant tie breaks to the lowest centroid id (SURVEY §7.4.2)") {
    val cents: Centroids = Array(1 -> Array(0.0, 0.0), 2 -> Array(2.0, 0.0))
    val got = Seq((1L, Seq(1.0, 0.0))).toDF("id", "features")
    val cl = KMeans.assign(got, "features", cents).select("cluster").as[Int].head()
    assert(cl == 1)
    // and with ids reversed in the input array, still the lowest id
    val rev: Centroids = Array(2 -> Array(2.0, 0.0), 1 -> Array(0.0, 0.0))
    val cl2 = KMeans.assign(got, "features", rev).select("cluster").as[Int].head()
    assert(cl2 == 1)
  }

  test("step: new centroid is the element-wise mean of its members (KMeans.java:184-198)") {
    val cents: Centroids = Array(1 -> Array(0.0, 0.0), 2 -> Array(10.0, 10.0))
    val next = KMeans.step(tiny.select($"features".cast("array<double>").as("features")),
      "features", cents)
    val m = next.toMap
    assert(m(1).toSeq == Seq(1.0 / 3, 1.0 / 3))
    assert(m(2).toSeq == Seq(31.0 / 3, 31.0 / 3))
  }

  test("step: empty cluster vanishes by default, kept with keepEmpty (SURVEY §7.4.3)") {
    val far: Centroids = Array(
      1 -> Array(0.0, 0.0), 2 -> Array(10.0, 10.0), 3 -> Array(1000.0, 1000.0))
    val dropped = KMeans.step(tiny, "features", far)
    assert(dropped.map(_._1).toSeq == Seq(1, 2))
    val kept = KMeans.step(tiny, "features", far, keepEmpty = true)
    assert(kept.map(_._1).toSeq == Seq(1, 2, 3))
    assert(kept.toMap.apply(3).toSeq == Seq(1000.0, 1000.0))
  }

  test("isConverged: exact-zero semantics and size mismatch (KMeans.java:291-310)") {
    val a: Centroids = Array(1 -> Array(1.0, 2.0), 2 -> Array(3.0, 4.0))
    val same: Centroids = Array(1 -> Array(1.0, 2.0), 2 -> Array(3.0, 4.0))
    val moved: Centroids = Array(1 -> Array(1.0, 2.0), 2 -> Array(3.0, 4.0 + 1e-9))
    val fewer: Centroids = Array(1 -> Array(1.0, 2.0))
    assert(KMeans.isConverged(a, same, 0.0))
    assert(!KMeans.isConverged(a, moved, 0.0))
    assert(KMeans.isConverged(a, moved, 1e-6))
    assert(!KMeans.isConverged(a, fewer, 1.0))
  }

  test("initCentroids: ExplicitIds renumbers 1..k in argument order (KMeans.java:597-606)") {
    val cents = KMeans.initCentroids(tiny, "id", "features", ExplicitIds(Seq(5L, 2L)))
    assert(cents.map(_._1).toSeq == Seq(1, 2))
    assert(cents(0)._2.toSeq == Seq(11.0, 10.0)) // id 5 -> cluster 1
    assert(cents(1)._2.toSeq == Seq(1.0, 0.0))   // id 2 -> cluster 2
    intercept[NoSuchElementException] {
      KMeans.initCentroids(tiny, "id", "features", ExplicitIds(Seq(99L)))
    }
  }

  test("initCentroids: FirstK takes lowest ids; RandomRows is seed-stable") {
    val fk = KMeans.initCentroids(tiny, "id", "features", FirstK(2))
    assert(fk.map(_._1).toSeq == Seq(1, 2))
    assert(fk(0)._2.toSeq == Seq(0.0, 0.0))
    val r1 = KMeans.initCentroids(tiny, "id", "features", RandomRows(2, seed = 7))
    val r2 = KMeans.initCentroids(tiny, "id", "features", RandomRows(2, seed = 7))
    assert(r1.map(_._2.toSeq).toSeq == r2.map(_._2.toSeq).toSeq)
  }

  test("fit: converges on separable data to the true means") {
    val model = KMeans.fit(tiny, "id", "features", ExplicitIds(Seq(1L, 4L)), maxIter = -1)
    assert(model.converged)
    val m = model.centroids.toMap
    assert(m(1).toSeq == Seq(1.0 / 3, 1.0 / 3))
    assert(m(2).toSeq == Seq(31.0 / 3, 31.0 / 3))
    // converged in 2 steps: step1 moves centroids, step2 confirms fixpoint
    assert(model.iterations >= 2 && model.iterations <= 3)
  }

  test("fit: trackCost records non-increasing WCSS per iteration") {
    val model = KMeans.fit(tiny, "id", "features", ExplicitIds(Seq(1L, 2L)),
      maxIter = 4, trackCost = true)
    assert(model.costHistory.length == model.iterations)
    model.costHistory.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-12)
      case _ =>
    }
    // off by default
    assert(KMeans.fit(tiny, "id", "features", FirstK(2), maxIter = 1).costHistory.isEmpty)
  }

  test("fit: maxIter caps the loop") {
    val model = KMeans.fit(tiny, "id", "features", ExplicitIds(Seq(1L, 2L)), maxIter = 1)
    assert(model.iterations == 1)
  }

  test("stepSortedFold matches step within FP tolerance") {
    val cents = KMeans.initCentroids(tiny, "id", "features", FirstK(2))
    val a = KMeans.step(tiny, "features", cents)
    val b = KMeans.stepSortedFold(tiny, "features", cents)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      va.zip(vb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
    }
  }

  test("membershipLists: sorted ids per cluster, counts match") {
    val cents = KMeans.initCentroids(tiny, "id", "features", ExplicitIds(Seq(1L, 4L)))
    val assigned = KMeans.assign(tiny, "features", cents)
    val rows = KMeans.membershipLists(assigned, "id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2))
    rows.foreach { case (_, n, ids) =>
      assert(n == ids.length)
      assert(ids == ids.sorted)
    }
    assert(rows.flatMap(_._3).sorted.toSeq == (1L to 6L).toSeq)
  }

  test("PlusPlus init: deterministic, repartition-stable, one seed per separated blob") {
    // 4 tight, well-separated blobs of 5 points each
    val blobs = for {
      (bx, by) <- Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
      i <- 0 until 5
    } yield (bx, by, bx + i * 0.1, by + i * 0.1)
    val df = blobs.zipWithIndex
      .map { case ((_, _, x, y), id) => (id.toLong + 1, Seq(x, y)) }
      .toDF("id", "features")
    val c1 = KMeans.initCentroids(df, "id", "features", PlusPlus(4, seed = 42))
    val c2 = KMeans.initCentroids(df, "id", "features", PlusPlus(4, seed = 42))
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq) // deterministic
    val c3 = KMeans.initCentroids(df.repartition(7), "id", "features", PlusPlus(4, seed = 42))
    assert(c1.map(_._2.toSeq).toSeq == c3.map(_._2.toSeq).toSeq) // partitioning-independent
    // D² weighting: one seed lands in each blob (blob = rounded /100)
    val blobsHit = c1.map { case (_, v) =>
      (math.round(v(0) / 100.0), math.round(v(1) / 100.0))
    }.toSet
    assert(blobsHit.size == 4, s"expected one seed per blob, got ${c1.map(_._2.toSeq).toSeq}")
    // different seed picks (almost surely) different points
    val c4 = KMeans.initCentroids(df, "id", "features", PlusPlus(4, seed = 7))
    assert(c1.map(_._2.toSeq).toSeq != c4.map(_._2.toSeq).toSeq)
  }

  test("Parallel init (k-means parallel): deterministic, one seed per blob, fit-compatible") {
    // 4 tight, well-separated blobs of 8 points each
    val blobs = for {
      (bx, by) <- Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
      i <- 0 until 8
    } yield (bx + i * 0.1, by + i * 0.1)
    val df = blobs.zipWithIndex
      .map { case ((x, y), id) => (id.toLong + 1, Seq(x, y)) }
      .toDF("id", "features")
    val c1 = KMeans.initCentroids(df, "id", "features", Parallel(4, seed = 42, rounds = 3))
    val c2 = KMeans.initCentroids(df, "id", "features", Parallel(4, seed = 42, rounds = 3))
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq) // deterministic rerun
    assert(c1.map(_._1).toSeq == Seq(1, 2, 3, 4))                // renumbered 1..k
    // oversampling + weighted reduction: one seed per separated blob
    val blobsHit = c1.map { case (_, v) =>
      (math.round(v(0) / 100.0), math.round(v(1) / 100.0))
    }.toSet
    assert(blobsHit.size == 4, s"expected one seed per blob, got ${c1.map(_._2.toSeq).toSeq}")
    // the init feeds fit() like any other; converges on the blobs
    val m = KMeans.fit(df, "id", "features", Parallel(4, seed = 42, rounds = 3), maxIter = -1)
    assert(m.converged && m.centroids.length == 4)
    // too few distinct points refuses loudly
    val dup = Seq((1L, Seq(1.0, 1.0)), (2L, Seq(1.0, 1.0))).toDF("id", "features")
    intercept[IllegalArgumentException] {
      KMeans.initCentroids(dup, "id", "features", Parallel(3, seed = 1, rounds = 4))
    }
  }

  test("Parallel init, sortedCost parity mode: partitioning-independent, agrees with default") {
    val blobs = for {
      (bx, by) <- Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
      i <- 0 until 8
    } yield (bx + i * 0.1, by + i * 0.1)
    val df = blobs.zipWithIndex
      .map { case ((x, y), id) => (id.toLong + 1, Seq(x, y)) }
      .toDF("id", "features")
    val sorted1 = KMeans.initCentroids(df, "id", "features",
      Parallel(4, seed = 42, rounds = 3, sortedCost = true))
    // the point of the mode: bit-identical under ANY partitioning —
    // the default's partial-agg cost sum cannot promise this
    val sorted2 = KMeans.initCentroids(df.repartition(7), "id", "features",
      Parallel(4, seed = 42, rounds = 3, sortedCost = true))
    assert(sorted1.map(_._2.toSeq).toSeq == sorted2.map(_._2.toSeq).toSeq)
    // on a small input both cost paths compute the same double (the
    // boundary-coin divergence is a ~2^-50 event), so the chains agree
    val default = KMeans.initCentroids(df, "id", "features",
      Parallel(4, seed = 42, rounds = 3))
    assert(sorted1.map(_._2.toSeq).toSeq == default.map(_._2.toSeq).toSeq)
  }

  test("fit: SSE is non-increasing across iterations (Lloyd invariant)") {
    val df = tiny.select($"id", $"features".cast("array<double>").as("features")).cache()
    var cents = KMeans.initCentroids(df, "id", "features", ExplicitIds(Seq(1L, 2L)))
    def sse(c: Centroids): Double =
      df.select(KMeans.minSqDistColumn(c, $"features").as("m"))
        .agg(org.apache.spark.sql.functions.sum($"m")).as[Double].head()
    var prev = sse(cents)
    for (_ <- 1 to 4) {
      cents = KMeans.step(df, "features", cents)
      val cur = sse(cents)
      assert(cur <= prev + 1e-12)
      prev = cur
    }
    df.unpersist()
  }

  test("native assign/minSqDist kernels == HOF twins, bit for bit") {
    // review r15: assignColumn/minSqDistColumn moved to native
    // primitive kernels (NearestCentroidExpr/MinSqDistToSetExpr) —
    // every Lloyd pass, IVF build, SemDeDup cell and cost row rides
    // them, so the selection must match the array_min-over-struct HOF
    // exactly, including ties (lowest cid) and arbitrary cid values
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val feats = graft.functions.VectorOps.toDouble(col("embedding"))
    // non-contiguous, non-1-based cids: k-means++ seeds use row ids
    val cents: KMeans.Centroids =
      KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
        .map { case (cid, v) => (cid * 37 + 5, v) }
    val a = emb.select(col("vec_id"),
        KMeans.assignColumn(cents, feats).as("c"),
        KMeans.minSqDistColumn(cents, feats).as("d")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val b = emb.select(col("vec_id"),
        KMeans.assignColumnHof(cents, feats).as("c"),
        KMeans.minSqDistColumnHof(cents, feats).as("d")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(a.nonEmpty && a.keySet == b.keySet)
    a.foreach { case (id, (c, d)) =>
      assert(c == b(id)._1, s"assign mismatch for $id: $c vs ${b(id)._1}")
      assert(java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(b(id)._2),
        s"minSqDist mismatch for $id: $d vs ${b(id)._2}")
    }
    // equidistant tie → lowest cid on both paths
    import spark.implicits._
    val tie = Seq((1L, Seq(0.0, 0.0))).toDF("id", "v")
    val tieCents: KMeans.Centroids =
      Array(7 -> Array(1.0, 0.0), 3 -> Array(-1.0, 0.0))
    assert(tie.select(KMeans.assignColumn(tieCents, col("v")))
      .collect()(0).getInt(0) == 3)
    assert(tie.select(KMeans.assignColumnHof(tieCents, col("v")))
      .collect()(0).getInt(0) == 3)
    // malformed vector (wrong length): HOF's struct min sees all-null
    // dists → lowest cid; the kernel mirrors; minSqDist nulls on both
    val bad = Seq((1L, Seq(0.0, 0.0, 0.0))).toDF("id", "v")
    val hofC = bad.select(KMeans.assignColumnHof(tieCents, col("v")))
      .collect()(0)
    val natC = bad.select(KMeans.assignColumn(tieCents, col("v")))
      .collect()(0)
    assert(natC.getInt(0) == 3 && hofC.getInt(0) == natC.getInt(0))
    assert(bad.select(KMeans.minSqDistColumn(tieCents, col("v")))
      .collect()(0).isNullAt(0))
    assert(bad.select(KMeans.minSqDistColumnHof(tieCents, col("v")))
      .collect()(0).isNullAt(0))
    // NULL vector (review r15): the HOF's struct min sees all-null
    // dists → lowest cid, so the kernel must NOT take the usual
    // nullSafeEval short-circuit to NULL — a NULL assignment would
    // route the row into the never-probed __HIVE_DEFAULT_PARTITION__
    // cell of every partitioned index instead of cell cids(0).
    // minSqDist nulls on both (array_min skips nulls; all null → null)
    val nul = Seq((1L, null: Seq[Double])).toDF("id", "v")
    val hofN = nul.select(KMeans.assignColumnHof(tieCents, col("v")))
      .collect()(0)
    val natN = nul.select(KMeans.assignColumn(tieCents, col("v")))
      .collect()(0)
    assert(!natN.isNullAt(0) && natN.getInt(0) == 3,
      s"native assign on NULL vector: ${natN}")
    assert(!hofN.isNullAt(0) && hofN.getInt(0) == natN.getInt(0),
      s"HOF assign on NULL vector: ${hofN}")
    assert(nul.select(KMeans.minSqDistColumn(tieCents, col("v")))
      .collect()(0).isNullAt(0))
    assert(nul.select(KMeans.minSqDistColumnHof(tieCents, col("v")))
      .collect()(0).isNullAt(0))
  }

  /** Three blobs of small-integer points: every sum a Lloyd step takes
    * is exact, so a step's result does not depend on summation order
    * and two fits can be compared bit for bit. */
  private lazy val intBlobs = {
    val r = new scala.util.Random(5)
    (0 until 180).map { i =>
      val b = (i % 3) * 50.0
      (i.toLong + 1, Seq(b + r.nextInt(21), b + r.nextInt(21), r.nextInt(21).toDouble))
    }.toDF("id", "features")
  }

  /** What a listener saw while `body` ran: the distinct RDD ids
    * unpersisted and the jobs `body` started. RDD ids grow
    * monotonically, so ids at or below a watermark taken first belong
    * to earlier work (e.g. a ContextCleaner sweep); `body`'s jobs
    * carry a job group of their own; a marker job posted after `body`
    * drains the listener up to its events. */
  private def seenDuring(body: => Unit): Seen = {
    val sc = spark.sparkContext
    val watermark = sc.emptyRDD[Int].id
    val stamp = System.nanoTime()
    val group = s"kmeans-spec-body-$stamp"
    val marker = s"kmeans-spec-marker-$stamp"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var drained = false
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId > watermark) ids.add(e.rddId)
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) jobs.add(e)
        if (props.exists(_.getProperty("spark.job.description") == marker)) drained = true
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "KMeansSpec body")
      try body finally sc.clearJobGroup()
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis))(assert(drained))
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    Seen(ids.asScala.toSet, jobs.asScala.toSeq.sortBy(_.jobId))
  }

  /** Distinct RDD ids unpersisted while `body` runs. */
  private def unpersistedDuring(body: => Unit): Set[Int] = seenDuring(body).unpersisted

  test("fit(PlusPlus | Parallel) starts from initCentroids' exact pick, at 1, 4 and 7 partitions") {
    val inits = Seq(PlusPlus(3, seed = 11), Parallel(3, seed = 11, rounds = 3))
    val picks = for (parts <- Seq(1, 4, 7); init <- inits) yield {
      val df = intBlobs.repartition(parts)
      val standalone = KMeans.initCentroids(df, "id", "features", init)
      // one Lloyd step from the standalone pick, replayed outside fit
      val replay = KMeans.step(
        df.select($"features".cast("array<double>").as("f")), "f", standalone, keepEmpty = true)
      val m = KMeans.fit(df, "id", "features", init, maxIter = 1, keepEmpty = true)
      assert(m.centroids.map(c => (c._1, c._2.toSeq)).toSeq ==
        replay.map(c => (c._1, c._2.toSeq)).toSeq, s"$init at $parts partitions")
      (init, standalone.map(c => (c._1, c._2.toSeq)).toSeq)
    }
    // and the pick itself is partitioning-independent
    picks.groupBy(_._1).foreach { case (init, ps) =>
      assert(ps.map(_._2).distinct.size == 1, s"$init pick varies with partitioning")
    }
  }

  test("fit caches exactly one projection and leaves no cached relation behind") {
    val sc = spark.sparkContext
    val df = intBlobs.repartition(4)
    for (init <- Seq(PlusPlus(3, seed = 11), Parallel(3, seed = 11, rounds = 3))) {
      val before = sc.getPersistentRDDs.keySet
      val gone = unpersistedDuring {
        KMeans.fit(df, "id", "features", init, maxIter = 3)
      }
      assert(gone.size == 1, s"$init: fit unpersisted ${gone.size} cached RDDs, want 1")
      assert(sc.getPersistentRDDs.keySet.subsetOf(before), s"$init: fit left a cached RDD")
    }
    // the standalone init still owns (and drops) its own cache
    val standalone = unpersistedDuring {
      KMeans.initCentroids(df, "id", "features", PlusPlus(3, seed = 11))
    }
    assert(standalone.size == 1)
  }

  private def bits(c: Centroids): Seq[(Int, Seq[Long])] =
    c.toSeq.map { case (cid, v) => cid -> v.toSeq.map(java.lang.Double.doubleToRawLongBits) }

  /** 300 real-valued 5-d rows in three overlapping blobs, plus NULL
    * vectors that ride along in whichever cluster is lowest. */
  private lazy val realBlobs = {
    val r = new scala.util.Random(17)
    (0 until 300).map { i =>
      val b = (i % 3) * 2.5
      val f: Seq[Double] = if (i % 50 == 7) null else Seq.fill(5)(b + r.nextGaussian())
      (i.toLong + 1, f)
    }.toDF("id", "features")
  }

  test("step ≡ the groupBy + VectorMeanAgg twin: exact on integer data, 1e-12 on real data, at 1, 4 and 7 partitions") {
    // a far centroid exercises the empty-cluster rule both ways
    val far = 99 -> Array.fill(3)(1e6)
    val intCents = KMeans.initCentroids(intBlobs, "id", "features", FirstK(3)) :+ far
    val realCents = KMeans.initCentroids(realBlobs, "id", "features", FirstK(4)) :+
      (99 -> Array.fill(5)(1e6))
    for (parts <- Seq(1, 4, 7); keep <- Seq(false, true)) {
      val ctx = s"at $parts partitions, keepEmpty=$keep"
      val i = intBlobs.repartition(parts)
      val a = KMeans.step(i, "features", intCents, keep)
      assert(bits(a) == bits(KMeansTwins.stepSql(i, "features", intCents, keep)), ctx)
      assert(a.map(_._1).toSeq == (if (keep) Seq(1, 2, 3, 99) else Seq(1, 2, 3)), ctx)
      val r = realBlobs.repartition(parts)
      val b = KMeans.step(r, "features", realCents, keep)
      val t = KMeansTwins.stepSql(r, "features", realCents, keep)
      assert(b.map(_._1).toSeq == t.map(_._1).toSeq, ctx)
      b.zip(t).foreach { case ((cid, x), (_, y)) =>
        assert(x.length == y.length, s"$ctx, cluster $cid")
        x.zip(y).foreach { case (p, q) =>
          assert(math.abs(p - q) <= 1e-12 * math.max(math.abs(q), 1e-300), s"$ctx, cluster $cid: $p vs $q")
        }
      }
    }
  }

  test("step on malformed rows: a NULL-only cluster is empty (no driver NPE); the rest as before") {
    val cents: Centroids = Array(1 -> Array(0.0, 0.0), 2 -> Array(10.0, 10.0))
    def df(rows: (Long, Seq[java.lang.Double])*) = rows.toDF("id", "f").repartition(1)
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    def got(d: org.apache.spark.sql.DataFrame, keep: Boolean = false) =
      KMeans.step(d, "f", cents, keep).toSeq.map(c => c._1 -> c._2.toSeq)
    // NULL vectors route to the lowest cid; when they are its only
    // members it has no mean: it vanishes, or keepEmpty carries it
    // (the groupBy twin threw a driver NPE here)
    val nullOnly = df(1L -> null, 2L -> null, 3L -> v(10.0, 10.0))
    assert(got(nullOnly) == Seq(2 -> Seq(10.0, 10.0)))
    assert(got(nullOnly, keep = true) == Seq(1 -> Seq(0.0, 0.0), 2 -> Seq(10.0, 10.0)))
    intercept[NullPointerException](KMeansTwins.stepSql(nullOnly, "f", cents))
    // kept from the twin, pinned equal to it:
    val same = Seq(
      // a NULL vector beside real members counts toward no mean
      df(1L -> v(1.0, 1.0), 2L -> null, 3L -> v(10.0, 10.0)) -> Seq(1 -> Seq(1.0, 1.0)),
      // a length-d vector with a NULL element goes to the lowest cid
      // and adds that element as 0.0, near or far
      df(1L -> v(1.0, null), 2L -> v(1.0, 1.0), 3L -> v(10.0, 10.0)) -> Seq(1 -> Seq(1.0, 0.5)),
      df(1L -> v(null, 12.0), 2L -> v(1.0, 1.0), 3L -> v(10.0, 10.0)) -> Seq(1 -> Seq(0.5, 6.5)),
      df(1L -> v(12.0, null), 3L -> v(10.0, 10.0)) -> Seq(1 -> Seq(12.0, 0.0)),
      // NaN propagates into its cluster's mean
      df(1L -> v(Double.NaN, 1.0), 2L -> v(1.0, 1.0), 3L -> v(10.0, 10.0)) ->
        Seq(1 -> Seq(Double.NaN, 1.0)),
      // a cluster's first vector is adopted, so -0.0 survives
      df(1L -> v(-0.0, -0.0), 3L -> v(10.0, 10.0)) -> Seq(1 -> Seq(-0.0, -0.0)))
    same.foreach { case (d, first) =>
      val a = KMeans.step(d, "f", cents)
      assert(bits(a) == bits(KMeansTwins.stepSql(d, "f", cents)))
      assert(bits(a.take(1)) == bits(first.map(c => c._1 -> c._2.toArray).toArray))
      assert(bits(a.drop(1)) == bits(Array(2 -> Array(10.0, 10.0))))
    }
    // a vector of the wrong length refuses loudly, first or later in
    // its cluster, and also when it is the cluster's only member (where
    // the twin returned a centroid of the wrong length, which the next
    // step refused as "centroid dims differ")
    Seq(
      df(1L -> v(1.0), 2L -> v(1.0, 1.0), 3L -> v(10.0, 10.0)),
      df(2L -> v(1.0, 1.0), 1L -> v(1.0), 3L -> v(10.0, 10.0)),
      df(1L -> v(1.0), 3L -> v(10.0, 10.0)),
      df(1L -> v(1.0, 2.0, 3.0), 3L -> v(10.0, 10.0)),
      df(1L -> v(), 3L -> v(10.0, 10.0))
    ).foreach { d =>
      val e = intercept[org.apache.spark.SparkException](KMeans.step(d, "f", cents))
      assert(e.getMessage.contains("ragged vector"), e.getMessage)
    }
  }

  /** intBlobs plus what the race must exclude: exact duplicates of
    * earlier points under new ids (d² = 0 once the original is
    * chosen), a NULL vector and a short vector. */
  private lazy val raceInput = {
    val dups = (1 to 20).map(i => (1000L + i, Seq((i % 3) * 50.0, (i % 3) * 50.0, 0.0)))
    val base = intBlobs.as[(Long, Seq[Double])].collect().toSeq
    val originals = (1 to 20).map(i => (2000L + i, Seq((i % 3) * 50.0, (i % 3) * 50.0, 0.0)))
    (base ++ originals ++ dups ++ Seq((3001L, null: Seq[Double]), (3002L, Seq(50.0, 50.0))))
      .toDF("id", "features")
  }

  private def outcome(body: => Centroids): Either[String, Seq[(Int, Seq[Long])]] =
    scala.util.Try(body).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")
      .map(bits)

  test("PlusPlus init ≡ the SQL race twin, bit for bit, at 1, 4 and 7 partitions") {
    val picks = for (parts <- Seq(1, 4, 7); seed <- 1L to 6L) yield {
      val d = raceInput.repartition(parts)
      val a = outcome(KMeans.initCentroids(d, "id", "features", PlusPlus(6, seed)))
      val b = outcome(KMeansTwins.plusPlusSql(d, "id", "features", 6, seed))
      assert(a == b, s"seed $seed at $parts partitions")
      a
    }
    // (a draw may fail on the short vector, which fails both alike)
    assert(picks.count(_.isRight) >= 15, picks)
    // fewer distinct points than k: both refuse in a race round
    val few = raceInput.filter($"id" > 1000L).repartition(4)
    val a = outcome(KMeans.initCentroids(few, "id", "features", PlusPlus(8, 3)))
    assert(a == outcome(KMeansTwins.plusPlusSql(few, "id", "features", 8, 3)))
    assert(a.left.exists(_.contains("fewer than 8 distinct points")), a)
  }

  test("k-means++ race round ≡ its SQL twin with a NULL id; round 0 skips NULL id/vector") {
    import org.apache.spark.sql.functions.{concat, lit, size}
    // row 5 loses its id, and a far point with no id would win every
    // race it entered
    val withNullId = raceInput.as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, f) => (if (id == 5L) null else Long.box(id), f) } :+
      ((null: java.lang.Long) -> Seq(500.0, 500.0, 500.0))
    val df = withNullId.toDF("id", "features")
    val soFar: Centroids = Array(1 -> Array(0.0, 0.0, 0.0), 2 -> Array(50.0, 50.0, 10.0))
    for (parts <- Seq(1, 4, 7)) {
      val proj = df.repartition(parts)
        .select($"id".cast("long").as("id"), $"features".cast("array<double>").as("f"))
      for (seed <- 1L to 3L; round <- 1 to 4) {
        val a = KMeans.plusPlusRound(KMeans.packed(proj), soFar, seed, round)
        val b = KMeansTwins.plusPlusRoundSql(proj, soFar, seed, round)
        assert(a.map(p => p._1 -> p._2.toSeq.map(java.lang.Double.doubleToRawLongBits)) ==
          b.map(p => p._1 -> p._2.toSeq.map(java.lang.Double.doubleToRawLongBits)),
          s"seed $seed round $round at $parts partitions")
      }
    }
    // a NULL id has a NULL md5 unit, which sorts first: round 0 skips
    // it as the race rounds do, for both inits
    val pp = outcome(KMeans.initCentroids(df, "id", "features", PlusPlus(3, 1)))
    assert(pp.isRight, pp)
    assert(pp == outcome(KMeansTwins.plusPlusSql(df, "id", "features", 3, 1)))
    assert(pp == outcome(KMeans.initCentroids(df.filter($"id".isNotNull), "id", "features",
      PlusPlus(3, 1))))
    // (Parallel: see "k-means parallel samples only rows with a d²")
    val wellFormed = df.filter(size($"features") === 3)
    val par = outcome(KMeans.initCentroids(wellFormed, "id", "features",
      Parallel(3, 1, rounds = 3)))
    assert(par.isRight, par)
    // the row round 0 would pick loses its vector: skipped, not an NPE
    val first = raceInput.filter($"features".isNotNull)
      .withColumn("u", graft.operators.Sampling.unitFromMd5(concat(lit("1:0:"), $"id")))
      .orderBy($"u", $"id").first().getLong(0)
    val noVec = raceInput.filter($"id" =!= first)
      .union(Seq((first, null: Seq[Double])).toDF("id", "features"))
    val got = outcome(KMeans.initCentroids(noVec, "id", "features", PlusPlus(3, 1)))
    assert(got.isRight, got)
    assert(got == outcome(KMeansTwins.plusPlusSql(noVec, "id", "features", 3, 1)))
  }

  test("k-means parallel samples only rows with a d²: NULL and short vectors never become candidates") {
    import org.apache.spark.sql.functions.size
    val wellFormed = raceInput.filter($"features".isNotNull && size($"features") === 3)
    for (parts <- Seq(1, 4, 7); seed <- 1L to 3L) {
      val init = Parallel(4, seed, rounds = 3)
      val got = outcome(KMeans.initCentroids(raceInput.repartition(parts), "id", "features", init))
      assert(got.isRight, s"seed $seed at $parts partitions: $got")
      assert(got == outcome(KMeans.initCentroids(wellFormed.repartition(parts), "id", "features",
        init)), s"seed $seed at $parts partitions")
    }
  }

  test("fit(PlusPlus(k), maxIter = n): one single-stage job per init round and per Lloyd step") {
    import org.apache.spark.sql.functions.{col, udf}
    val reads = spark.sparkContext.longAccumulator("kmeans-spec-reads")
    val counted = udf { (id: Long) => reads.add(1L); id }
    // a local relation: no shuffle below the fit's cache either
    val df = intBlobs.withColumn("id", counted(col("id")))
    for ((k, n) <- Seq((3, 2), (5, 3))) {
      reads.reset()
      var m: KMeansModel = null
      val seen = seenDuring {
        m = KMeans.fit(df, "id", "features", PlusPlus(k, seed = 11), maxIter = n)
      }
      assert(m.iterations == n, s"k=$k: converged early, after ${m.iterations} steps")
      assert(seen.jobs.size == k + n, s"k=$k, n=$n: ${seen.jobs.size} jobs")
      seen.jobs.foreach(j =>
        assert(j.stageInfos.size == 1, s"job ${j.jobId} has ${j.stageInfos.size} stages"))
      // every round reads the one cache, which reads the input once
      assert(reads.value == 180L, s"input rows read: ${reads.value}")
    }
  }

  /** The root cause of a failure, as "class: message" — a task's
    * refusal arrives wrapped in a SparkException that names the task. */
  private def failure(e: Throwable): String = {
    var c = e
    while (c.getCause != null) c = c.getCause
    s"${c.getClass.getName}: ${c.getMessage}"
  }

  private def tried(body: => Centroids): Either[String, Seq[(Int, Seq[Long])]] =
    scala.util.Try(body).toEither.left.map(failure).map(bits)

  private def fitted(body: => KMeansModel)
      : Either[String, (Seq[(Int, Seq[Long])], Int, Boolean, Seq[Double])] =
    scala.util.Try(body).toEither.left.map(failure)
      .map(m => (bits(m.centroids), m.iterations, m.converged, m.costHistory))

  /** Equal refusals, or bit-equal centroids, iterations and converged
    * with costs within 1e-12 relative (a NaN cost matches a NaN). */
  private def assertSameFit(
      a: Either[String, (Seq[(Int, Seq[Long])], Int, Boolean, Seq[Double])],
      b: Either[String, (Seq[(Int, Seq[Long])], Int, Boolean, Seq[Double])],
      ctx: String): Unit = {
    assert(a.map(m => (m._1, m._2, m._3)) == b.map(m => (m._1, m._2, m._3)), ctx)
    for (x <- a; y <- b) {
      assert(x._4.length == y._4.length, ctx)
      x._4.zip(y._4).foreach { case (p, q) =>
        assert((p.isNaN && q.isNaN) || math.abs(p - q) <= 1e-12 * math.abs(q), s"$ctx: cost $p vs $q")
      }
    }
  }

  /** RandomRows' skip rule: the twin's rand(seed) draw over
    * every row, NULL-vector rows then skipped. */
  private def randomRowsSkippingNull(df: org.apache.spark.sql.DataFrame, k: Int,
                                     seed: Long): Centroids = {
    import org.apache.spark.sql.functions.rand
    df.select($"id".cast("long").as("id"), $"features".cast("array<double>").as("f"))
      .withColumn("r", rand(seed)).filter($"f".isNotNull).orderBy($"r", $"id").limit(k)
      .collect().zipWithIndex.map { case (r, i) => (i + 1) -> r.getSeq[Double](1).toArray }
  }

  /** 60 real-valued 3-d rows in three blobs, then one of each row a
    * round must handle: duplicate points, -0.0, NaN, a NULL element, a
    * ragged vector, a NULL vector, a NULL id with and without one. */
  private lazy val awkward = {
    val r = new scala.util.Random(23)
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val base = (1 to 60).map { i =>
      val b = (i % 3) * 4.0
      (Long.box(i.toLong), v(Seq.fill(3)(Double.box(b + r.nextGaussian())): _*))
    }
    val odd: Seq[(java.lang.Long, Seq[java.lang.Double])] = Seq(
      (101L, base(0)._2), (102L, base(1)._2), (103L, base(2)._2),
      (104L, v(-0.0, -0.0, -0.0)), (105L, v(0.0, -0.0, 0.0)),
      (106L, v(Double.NaN, 1.0, 1.0)),
      (107L, v(1.0, null, 2.0)),
      (108L, v(1.0, 2.0)),
      (109L, null),
      (null, v(5.0, 5.0, 5.0)),
      (null, null))
    (base ++ odd).toDF("id", "features")
  }

  test("fit and initCentroids ≡ the cached-projection twin, bit for bit, every Init, at 1, 4 and 7 partitions") {
    val inits = Seq(ExplicitIds(Seq(3L, 104L, 107L, 101L)), RandomRows(4, 5), FirstK(4),
      PlusPlus(4, 5), Parallel(4, 5, rounds = 3), Parallel(4, 5, rounds = 3, sortedCost = true))
    // the whole fixture refuses every Lloyd step (its ragged row);
    // without the NaN row k-means‖ draws by d², not every row
    val inputs = Seq("awkward" -> awkward,
      "no ragged row" -> awkward.filter($"id".isNull || $"id" =!= 108L),
      "no ragged or NaN row" -> awkward.filter($"id".isNull || !$"id".isin(106L, 108L)))
    var npes = 0
    var fits = 0
    for ((name, input) <- inputs; parts <- Seq(1, 4, 7); init <- inits) {
      val ctx = s"$init on $name at $parts partitions"
      val df = input.repartition(parts)
      val twinInit = tried(KMeansTwins.initCentroids(df, "id", "features", init))
      val gotInit = tried(KMeans.initCentroids(df, "id", "features", init))
      val gotFit = fitted(KMeans.fit(df, "id", "features", init, maxIter = 4, trackCost = true))
      if (gotFit.isRight) fits += 1
      if (twinInit.left.exists(_.startsWith("java.lang.NullPointerException"))) {
        // the twin picked a NULL vector: FirstK and RandomRows skip it
        npes += 1
        val want = scala.util.Try(init match {
          case FirstK(k) => KMeansTwins.initCentroids(df.filter($"features".isNotNull), "id",
            "features", FirstK(k))
          case RandomRows(k, seed) => randomRowsSkippingNull(df, k, seed)
          case other => fail(s"$ctx: the twin threw a driver NPE for $other")
        })
        assert(gotInit == want.toEither.left.map(failure).map(bits), ctx)
        val wantFit = want.toEither.left.map(failure).flatMap(c => fitted(KMeansTwins.fit(df,
          "id", "features", init, maxIter = 4, trackCost = true, start = Some(c))))
        assertSameFit(gotFit, wantFit, ctx)
      } else {
        assert(gotInit == twinInit, ctx)
        assertSameFit(gotFit, fitted(KMeansTwins.fit(df, "id", "features", init, maxIter = 4,
          trackCost = true)), ctx)
      }
    }
    // FirstK's NULL ids sort first, and one of them has no vector
    assert(npes >= 9, s"only $npes NULL-vector picks")
    // every fit without the ragged row runs its 4 steps, or converges
    assert(fits == 36, s"$fits fits returned a model")
  }

  test("FirstK and RandomRows skip NULL-vector rows; ExplicitIds refuses one by id (no driver NPE)") {
    val df = Seq((1L, null: Seq[Double]), (2L, Seq(2.0, 0.0)), (3L, Seq(3.0, 0.0)),
      (4L, null: Seq[Double]), (5L, Seq(5.0, 0.0)), (6L, Seq(6.0, 0.0))).toDF("id", "features")
      .repartition(2)
    def npe(body: => Centroids) =
      assert(tried(body).left.exists(_.startsWith("java.lang.NullPointerException")))
    npe(KMeansTwins.initCentroids(df, "id", "features", FirstK(2)))
    assert(KMeans.initCentroids(df, "id", "features", FirstK(2)).toSeq.map(c => c._1 -> c._2.toSeq) ==
      Seq(1 -> Seq(2.0, 0.0), 2 -> Seq(3.0, 0.0)))
    for (seed <- 1L to 8L) {
      val got = KMeans.initCentroids(df, "id", "features", RandomRows(3, seed))
      assert(bits(got) == bits(randomRowsSkippingNull(df, 3, seed)), s"seed $seed")
      assert(got.length == 3 && got.forall(_._2 != null), s"seed $seed")
    }
    // every draw takes all four vectors; the twin met a NULL one first
    // for some seed
    assert((1L to 8L).exists(s => tried(KMeansTwins.initCentroids(df, "id", "features",
      RandomRows(4, s))).isLeft))
    npe(KMeansTwins.initCentroids(df, "id", "features", ExplicitIds(Seq(2L, 4L))))
    for (body <- Seq(() => KMeans.initCentroids(df, "id", "features", ExplicitIds(Seq(2L, 4L))),
                     () => KMeans.fit(df, "id", "features", ExplicitIds(Seq(2L, 4L)), 2).centroids)) {
      val e = intercept[IllegalArgumentException](body())
      assert(e.getMessage.contains("initial centroid id 4 has a NULL vector"), e.getMessage)
    }
    // fit takes the same picks
    assert(bits(KMeans.fit(df, "id", "features", FirstK(2), 1).centroids) ==
      bits(KMeans.step(df, "features", KMeans.initCentroids(df, "id", "features", FirstK(2)))))
  }

  test("chunk boundaries: partitions of ChunkRows - 1, ChunkRows and ChunkRows + 1 rows sum as one unchunked block") {
    import graft.functions.{LloydSums, VecChunk, VectorKernels}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(3)
    val cents = Array(0.0, 0.0, 0.0, 5.0, 5.0, 5.0, -5.0, 2.0, 9.0)
    def same(a: LloydSums, b: LloydSums): Unit = {
      assert(a.n.toSeq == b.n.toSeq)
      assert(a.sums.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
        b.sums.toSeq.map(java.lang.Double.doubleToRawLongBits))
      assert(java.lang.Double.doubleToRawLongBits(a.cost) ==
        java.lang.Double.doubleToRawLongBits(b.cost))
    }
    for (n <- Seq(VecChunk.Rows - 1, VecChunk.Rows, VecChunk.Rows + 1)) {
      val rows: Seq[(java.lang.Long, Array[java.lang.Double])] = (0 until n).map { i =>
        val f: Array[java.lang.Double] =
          if (i % 97 == 5) null
          else Array.tabulate(3)(j => if (i % 89 == 7 && j == 1) null else Double.box(rnd.nextGaussian() * 4))
        (if (i % 101 == 3) null else Long.box(i.toLong)) -> f
      }
      def internal: Iterator[InternalRow] = rows.iterator.map { case (id, f) =>
        new GenericInternalRow(Array[Any](id, if (f == null) null else new GenericArrayData(f.map(x => x: Any))))
      }
      val chunks = VecChunk.pack(internal, 0, 1).toVector
      assert(chunks.map(_.rows) == Seq(n.min(VecChunk.Rows)) ++ (if (n > VecChunk.Rows) Seq(1) else Nil))
      // the same rows as one block, built by hand
      val off = rows.scanLeft(0)((o, r) => o + (if (r._2 == null) 0 else 3)).toArray
      val whole = new VecChunk(rows.map(r => if (r._1 == null) 0L else r._1.longValue).toArray, off,
        rows.flatMap(r => Option(r._2).toSeq.flatMap(_.map(x => if (x == null) 0.0 else x.doubleValue))).toArray,
        rows.map { case (id, f) =>
          ((if (id == null) VecChunk.NullId else 0) | (if (f == null) VecChunk.NullVec else 0) |
            (if (f != null && f.contains(null)) VecChunk.NullElem else 0)).toByte
        }.toArray)
      assert(chunks.flatMap(_.flags).toSeq == whole.flags.toSeq)
      same(VectorKernels.lloydSums(chunks.iterator, cents, 3),
        VectorKernels.lloydSums(Iterator.single(whole), cents, 3))
      assert(VectorKernels.costSum(chunks.iterator, cents, 3) ==
        VectorKernels.costSum(Iterator.single(whole), cents, 3))
      assert(VectorKernels.sortedSqDists(chunks.iterator, cents, 3).toSeq ==
        VectorKernels.sortedSqDists(Iterator.single(whole), cents, 3).toSeq)
      assert(VectorKernels.nearestCounts(chunks.iterator, cents, 3).toSeq ==
        VectorKernels.nearestCounts(Iterator.single(whole), cents, 3).toSeq)
      // and through Spark: one partition of n integer rows, the twin exact
      val df = spark.range(n).select(
        org.apache.spark.sql.functions.array(($"id" % 7).cast("double"), ($"id" % 11).cast("double"),
          ($"id" % 13).cast("double")).as("f")).repartition(1)
      val ic: Centroids = Array(1 -> Array(0.0, 0.0, 0.0), 2 -> Array(6.0, 10.0, 12.0))
      assert(bits(KMeans.step(df, "f", ic)) == bits(KMeansTwins.stepSql(df, "f", ic)), s"$n rows")
    }
  }

  test("the packer yields its first chunk after at most ChunkRows rows") {
    import graft.functions.VecChunk
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    var consumed = 0
    val rows = Iterator.range(0, 5 * VecChunk.Rows / 2).map { i =>
      consumed += 1
      new GenericInternalRow(Array[Any](i.toLong, new GenericArrayData(Array[Any](i.toDouble)))): InternalRow
    }
    val chunks = VecChunk.pack(rows, 0, 1)
    assert(consumed == 0)
    assert(chunks.next().rows == VecChunk.Rows)
    assert(consumed <= VecChunk.Rows, s"read $consumed rows for the first chunk")
    assert(chunks.map(_.rows).toSeq == Seq(VecChunk.Rows, VecChunk.Rows / 2))
  }

  test("no fit or init registers an InMemoryRelation: every round reads the packed chunks") {
    import org.apache.spark.sql.functions.{col, udf}
    val before = KMeansSpec.cachedRelations()
    val grew = spark.sparkContext.longAccumulator("kmeans-spec-cache-probe")
    // the probe runs as the fit reads its input, where a cached
    // projection would already be registered
    val probe = udf { (id: Long) => if (KMeansSpec.cachedRelations() != before) grew.add(1L); id }
    val df = intBlobs.repartition(4).withColumn("id", probe(col("id")))
    for (init <- Seq(ExplicitIds(Seq(1L, 2L, 3L)), RandomRows(3, 1), FirstK(3), PlusPlus(3, 1),
                     Parallel(3, 1, rounds = 2), Parallel(3, 1, rounds = 2, sortedCost = true))) {
      KMeans.fit(df, "id", "features", init, maxIter = 2, trackCost = true)
      KMeans.initCentroids(df, "id", "features", init)
      assert(grew.value == 0L, s"$init: a relation was cached while the input was read")
      assert(KMeansSpec.cachedRelations() == before, s"$init")
    }
  }

  test("fit(Parallel(k, rounds = r), trackCost, maxIter = n): 2r + n + 3 single-stage jobs") {
    // round 0, a cost and a draw per round, the weight count, n Lloyd
    // steps (each also costs the centroids it starts from) and the
    // final cost
    for ((r, n) <- Seq((2, 2), (3, 1))) {
      var m: KMeansModel = null
      val seen = seenDuring {
        m = KMeans.fit(intBlobs, "id", "features", Parallel(3, seed = 11, rounds = r), maxIter = n,
          trackCost = true)
      }
      assert(m.iterations == n && m.costHistory.length == n)
      assert(seen.jobs.size == 2 * r + n + 3, s"r=$r, n=$n: ${seen.jobs.size} jobs")
      seen.jobs.foreach(j =>
        assert(j.stageInfos.size == 1, s"job ${j.jobId} has ${j.stageInfos.size} stages"))
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.operators.{KMeans, Similarity}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupCentroids: element-wise mean per group, partial-agg plan") {
    val df = Seq(
      ("a", Seq(1.0, 2.0)), ("a", Seq(3.0, 4.0)), ("b", Seq(10.0, 0.0))
    ).toDF("k", "v")
    val got = Similarity.groupCentroids(df, "k", "v")
      .collect().map(r => r.getString(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(got("a") === ((Seq(2.0, 3.0), 2L)))
    assert(got("b") === ((Seq(10.0, 0.0), 1L)))
    // n counts NON-NULL vectors — the mean's actual divisor
    val withNull = Seq(("a", Some(Seq(1.0, 2.0))), ("a", Some(Seq(3.0, 4.0))),
      ("a", None: Option[Seq[Double]])).toDF("k", "v")
    val gn = Similarity.groupCentroids(withNull, "k", "v").head()
    assert(gn.getSeq[Double](1) === Seq(2.0, 3.0) && gn.getLong(2) === 2L)
    // partial + final aggregate pair; never a collect_list of vectors
    val plan = Similarity.groupCentroids(df, "k", "v").queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), s"unexpected collect_list:\n$plan")
    assert("(SortAggregate|HashAggregate|ObjectHashAggregate)".r
      .findAllIn(plan).length >= 2, s"expected partial+final agg pair:\n$plan")
  }

  test("TopKAgg keeps the k best with (score desc, id asc) tie-break") {
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.5), (1L, 12L, 0.9), (1L, 13L, 0.1),
      (2L, 20L, 0.3), (2L, 21L, 0.7))
    val out = rows.toDF("g", "id", "s")
      .groupBy("g").agg(TopKAgg.topK(2, col("id"), col("s")).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getDouble(1)))).toMap
    assert(out(1L) === Seq((10L, 0.9), (12L, 0.9))) // tie on 0.9 → lower id first
    assert(out(2L) === Seq((21L, 0.7), (20L, 0.3)))
  }

  test("TopKAgg survives many values per group (partial-mode trimming)") {
    val n = 5000
    val df = (1 to n).map(i => (1L, i.toLong, i.toDouble / n)).toDF("g", "id", "s")
      .repartition(8)
    val top = df.groupBy("g").agg(TopKAgg.topK(3, col("id"), col("s")).as("top"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
    assert(top === Seq(n.toLong, n - 1L, n - 2L))
  }

  private def vecRow(id: Long, v: Array[Double]) = (id, v.map(_.toFloat))

  test("topKCosine ranks an identical-direction vector first") {
    val base = Array(1.0, 0.0, 0.0, 0.0)
    val corpus = Seq(
      vecRow(1, base),
      vecRow(2, Array(2.0, 0.0, 0.0, 0.0)),   // same direction, sim 1
      vecRow(3, Array(1.0, 1.0, 0.0, 0.0)),   // sim ~0.707
      vecRow(4, Array(0.0, 1.0, 0.0, 0.0)),   // orthogonal
      vecRow(5, Array(-1.0, 0.0, 0.0, 0.0))   // opposite
    ).toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") === 1)
    val got = Similarity.topKCosine(corpus, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((2L, 1), (3L, 2), (4L, 3)))
  }

  test("hyperplane coords are deterministic and in [-1, 1)") {
    val h1 = Similarity.hyperplanes(2, 3, 8)
    val h2 = Similarity.hyperplanes(2, 3, 8)
    assert(h1.flatten.flatten.toSeq === h2.flatten.flatten.toSeq)
    assert(h1.flatten.flatten.forall(x => x >= -1.0 && x < 1.0))
  }

  test("LSH: identical vectors share every table bucket; ANN finds them") {
    val corpus = Seq(
      vecRow(1, Array(1.0, 2.0, 3.0, 4.0)),
      vecRow(2, Array(1.0, 2.0, 3.0, 4.0)),
      vecRow(3, Array(-4.0, 3.0, -2.0, 1.0))
    ).toDF("vec_id", "embedding")
    val buckets = Similarity.lshBuckets(corpus, "vec_id", "embedding", 4, 4, 4)
    assert(buckets.count() === 12) // 3 vectors × 4 tables
    val shared = buckets.filter(col("vec_id").isin(1L, 2L))
      .groupBy("tbl", "bucket").count().filter(col("count") === 2).count()
    assert(shared === 4L)
    val ann = Similarity.annTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 1), "vec_id", "embedding",
        k = 2, tables = 4, bits = 4, d = 4)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(ann.head === ((2L, 1, 1.0))) // the identical vector, sim exactly 1
  }

  test("IVF with nprobe=k-cells degrades to exact search") {
    val corpus = Seq(
      vecRow(1, Array(10.0, 0.0)), vecRow(2, Array(11.0, 0.0)),
      vecRow(3, Array(0.0, 10.0)), vecRow(4, Array(0.0, 11.0))
    ).toDF("vec_id", "embedding")
    val cents: KMeans.Centroids =
      Array(1 -> Array(10.0, 0.0), 2 -> Array(0.0, 10.0))
    val probes = corpus.filter(col("vec_id") === 1)
    val ivf2 = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      probes, "vec_id", "embedding", cents, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(ivf2.toSeq === Seq((2L, 1), (3L, 2), (4L, 3)))
    // nprobe=1 searches only the probe's own cell
    val ivf1 = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      probes, "vec_id", "embedding", cents, nprobe = 1, k = 3)
      .collect().map(r => r.getLong(1))
    assert(ivf1.toSeq === Seq(2L))
  }

  test("persisted IVF index: results match the in-memory path, scan prunes to probed cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val probes = emb.orderBy("vec_id").limit(3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, dir)
      // one partition directory per surviving cell
      val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
      assert(parts.nonEmpty)
      val indexed = Similarity.ivfTopKIndexed(spark, dir,
        probes, "vec_id", "embedding", cents, nprobe = 2, k = 5)
      val direct = Similarity.ivfTopK(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", cents, nprobe = 2, k = 5)
      val a = indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(a == b && a.nonEmpty)
      // partition pruning: the cell IN (...) predicate reaches the scan
      // as a partition filter (literal, so pruning is static)
      val plan = indexed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"expected partition filters on cell in:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("IVF index freshness: append serves like a full build; stale quantizer and row drift refuse") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val probes = emb.orderBy("vec_id").limit(3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_fresh").toString
    try {
      // build on 2/3, append the rest — must equal the full-corpus scan
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", cents, dir)
      Similarity.appendIvfIndex(spark, emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", dir)
      val a = Similarity.ivfTopKIndexed(spark, dir, probes, "vec_id", "embedding",
          cents, nprobe = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val b = Similarity.ivfTopK(emb, "vec_id", "embedding",
          probes, "vec_id", "embedding", cents, nprobe = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(a == b && a.nonEmpty, "maintained index must serve the full-build answer")
      // a DIFFERENT quantizer (one centroid nudged) must be refused —
      // wrong-cell probes would return plausible garbage
      val drifted: KMeans.Centroids = cents.map { case (cid, v) =>
        if (cid == 1) cid -> v.map(_ + 0.5) else cid -> v }
      val e1 = intercept[IllegalArgumentException] {
        Similarity.ivfTopKIndexed(spark, dir, probes, "vec_id", "embedding",
          drifted, nprobe = 2, k = 5)
      }
      assert(e1.getMessage.contains("quantizer"))
      // row drift (a lost/extra file) must be refused: delete one
      // data file behind the meta's back
      val victim = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet")).maxBy(_.length())
      assert(victim.delete())
      val e2 = intercept[IllegalArgumentException] {
        Similarity.ivfTopKIndexed(spark, dir, probes, "vec_id", "embedding",
          cents, nprobe = 2, k = 5)
      }
      assert(e2.getMessage.contains("rows"))
      // a meta-less directory is not served
      val bare = java.nio.file.Files.createTempDirectory("ivf_bare").toString
      emb.limit(1).write.mode("overwrite").parquet(s"$bare/whatever")
      val e3 = intercept[IllegalArgumentException] {
        Similarity.ivfTopKIndexed(spark, bare, probes, "vec_id", "embedding",
          cents, nprobe = 2, k = 5)
      }
      assert(e3.getMessage.contains("_graft_index_meta"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("PQ: codes in range, deterministic retrain, clustered probe recalls its cluster") {
    val rnd = new scala.util.Random(7)
    def near(c: Array[Double]) = c.map(_ + rnd.nextGaussian() * 0.05).toSeq
    val c1 = Array.fill(8)(0.0)
    val c2 = Array.fill(8)(10.0)
    val c3 = Array.tabulate(8)(i => if (i % 2 == 0) -10.0 else 10.0)
    // ids interleave clusters (cluster = (id-1) % 3) so the
    // deterministic FirstK init sees diverse seeds — k=3 codewords
    // per subspace then converge to the three cluster means
    val centers = Array(c1, c2, c3)
    val rows = (1 to 60).map(i => (i.toLong, near(centers((i - 1) % 3))))
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.trainPQ(df, "vec_id", "embedding", d = 8, m = 2, k = 3, maxIter = 5)
    assert(model.codebooks.length == 2 && model.dsub == 4)
    // FirstK init + deterministic Lloyd steps ⇒ retraining reproduces the model
    val model2 = Similarity.trainPQ(df, "vec_id", "embedding", d = 8, m = 2, k = 3, maxIter = 5)
    assert(model.codebooks.zip(model2.codebooks).forall { case (a, b) =>
      a.zip(b).forall { case ((i1, v1), (i2, v2)) => i1 == i2 && v1.sameElements(v2) }
    })
    val codes = Similarity.encodePQ(df, "embedding", model).select("vec_id", "codes")
    val cs = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(cs.forall { case (_, c) => c.length == 2 && c.forall(x => x >= 1 && x <= 3) })
    // all members of one tight cluster share a code word per subspace
    cs.groupBy { case (id, _) => (id - 1) % 3 }.values.foreach { members =>
      assert(members.map(_._2).distinct.length == 1,
        s"tight cluster encoded to ${members.map(_._2).distinct.length} distinct codes")
    }
    // ADC: probe 1's top-19 are exactly the rest of its cluster
    val sameCluster = (2L to 60L).filter(id => (id - 1) % 3 == 0).toSet
    val top = Similarity.pqTopK(codes, "vec_id", "codes",
      df.filter($"vec_id" === 1L), "vec_id", "embedding", model, k = 19)
      .collect()
    assert(top.length == 19)
    assert(top.forall(r => sameCluster(r.getLong(1))),
      s"foreign cluster leaked into top-k: ${top.map(_.getLong(1)).mkString(",")}")
    // adist of same-cluster members is far below a foreign cluster's
    val all = Similarity.pqTopK(codes, "vec_id", "codes",
      df.filter($"vec_id" === 1L), "vec_id", "embedding", model, k = 59)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(all(4L) < 1.0 && all(2L) > 100.0)

    // IVF-PQ: with nprobe = all cells it reproduces plain ADC exactly;
    // with nprobe = 1 the probe's own cell already holds its cluster
    val cents = KMeans.fit(df, "vec_id", "embedding", KMeans.FirstK(3), maxIter = 5).centroids
    val probes = df.filter($"vec_id" === 1L)
    def asTuples(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sortBy(_._3)
    val full = asTuples(Similarity.ivfPqTopK(df, "vec_id", "embedding",
      probes, "vec_id", "embedding", cents, model, nprobe = 3, k = 10))
    val adc = asTuples(Similarity.pqTopK(codes, "vec_id", "codes",
      probes, "vec_id", "embedding", model, k = 10))
    assert(full.toSeq == adc.toSeq)
    val pruned = asTuples(Similarity.ivfPqTopK(df, "vec_id", "embedding",
      probes, "vec_id", "embedding", cents, model, nprobe = 1, k = 10))
    assert(pruned.length == 10 && pruned.forall(t => sameCluster(t._2)))
    // re-rank with a full-corpus shortlist IS brute force: results
    // equal topKCosine bit-for-bit
    val rer = asTuples(Similarity.pqTopKRerank(df, "vec_id", "embedding",
      codes, "vec_id", "codes", probes, "vec_id", "embedding",
      model, k = 10, shortlist = 59))
    val exact = asTuples(Similarity.topKCosine(df, "vec_id", "embedding",
      probes, "vec_id", "embedding", k = 10))
    assert(rer.toSeq == exact.toSeq)
  }

  test("annRecall: per-probe overlap with the exact denominator") {
    val approx = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L))
      .toDF("probe_id", "vec_id")
    val exact = Seq((1L, 1L), (1L, 2L), (1L, 9L), (2L, 4L), (2L, 5L), (3L, 7L))
      .toDF("probe_id", "vec_id")
    val got = Similarity.annRecall(approx, exact)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((3L, 2L, 2.0 / 3.0)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((1L, 0L, 0.0))) // probe the index missed entirely
    // an honest index scores 1.0 against itself
    val self = Similarity.annRecall(exact, exact).collect().map(_.getDouble(3))
    assert(self.forall(_ === 1.0))
  }

  test("rrfFuse: both-list items outrank single-list items; missing side contributes 0") {
    // query 1: item 10 ranked 1 in BOTH lists; item 20 ranked 2 only
    // in A; item 30 ranked 2 only in B
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("q", "id", "rank")
    val b = Seq((1L, 10L, 1L), (1L, 30L, 2L)).toDF("q", "id", "rank")
    val got = Similarity.rrfFuse(a, b, "q", "id", topK = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._3)
    assert(got.map(_._1).toSeq === Seq(10L, 20L, 30L))
    assert(got(0)._2 === 2.0 / 61.0)
    assert(got(1)._2 === 1.0 / 62.0) // A-only: B contributes exactly 0
    // 20 and 30 tie on score (same single-list rank) — id breaks it
    assert(got(1)._2 === got(2)._2 && got(1)._1 < got(2)._1)
  }

  test("rrfFuse: topK truncates per query independently") {
    val a = (1 to 30).map(i => (1L, i.toLong, i.toLong)) ++
      (1 to 3).map(i => (2L, i.toLong, i.toLong))
    val df = a.toDF("q", "id", "rank")
    val empty = Seq.empty[(Long, Long, Long)].toDF("q", "id", "rank")
    val got = Similarity.rrfFuse(df, empty, "q", "id", topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._1 == 1L) === 5)
    assert(got.count(_._1 == 2L) === 3)
    // single-list fusion preserves the list's own order
    assert(got.filter(_._1 == 1L).map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("kCenterGreedy picks extremes first on a line; radius sequence is non-increasing") {
    // points on a line at 0, 1, 2, 10, 11, 20
    val pts = Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 10.0), (4L, 11.0), (5L, 20.0))
      .map { case (id, x) => (id, Seq(x)) }
    val df = pts.toDF("vid", "vec")
    val got = Similarity.kCenterGreedy(df, "vid", "vec", k = 3)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // seed = id 0 (x=0); farthest = 20 (d²=400); then 10 (min(100,100)=100)
    assert(got.map(_._2).toSeq === Seq(0L, 5L, 3L))
    assert(got.map(_._3).toSeq === Seq(0.0, 400.0, 100.0))
    // extending the selection never increases the covering radius
    val radii = Similarity.kCenterGreedy(df, "vid", "vec", k = 6)
      .orderBy("step").collect().map(_.getDouble(2)).drop(1)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
  }

  test("kCenterGreedy: k larger than the pool stops at pool size") {
    val df = Seq((7L, Seq(1.0)), (9L, Seq(5.0))).toDF("vid", "vec")
    val got = Similarity.kCenterGreedy(df, "vid", "vec", k = 10).collect()
    assert(got.length === 2)
  }

  test("mmrSelect skips a near-duplicate of an already-picked result") {
    // 1 and 2 nearly identical (both high rel); 3 orthogonal-ish,
    // lower rel. Pure relevance picks (1, 2); MMR picks (1, 3).
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.01), 0.95),
      (2L, Seq(1.0, 0.0, 0.02), 0.94),
      (3L, Seq(0.0, 1.0, 0.0), 0.60)
    ).toDF("vid", "vec", "rel")
    val got = Similarity.mmrSelect(df, "vid", "vec", "rel", k = 2)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).toSeq === Seq(1L, 3L))
    // λ=1 degenerates to pure relevance order
    val pure = Similarity.mmrSelect(df, "vid", "vec", "rel", k = 3, lambda = 1.0)
      .orderBy("step").collect().map(_.getLong(1))
    assert(pure.toSeq === Seq(1L, 2L, 3L))
  }

  test("mmrSelect: seed score is rel, later scores are the MMR objective") {
    val df = Seq(
      (1L, Seq(1.0, 0.0), 0.9),
      (2L, Seq(0.0, 1.0), 0.5)
    ).toDF("vid", "vec", "rel")
    val got = Similarity.mmrSelect(df, "vid", "vec", "rel", k = 2)
      .orderBy("step").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got(0) === ((1L, 0.9)))
    // cos((1,0),(0,1)) = 0 → score = 0.5·0.5 − 0.5·0 = 0.25
    assert(got(1) === ((2L, 0.25)))
  }

  test("knnPredict: majority vote among k nearest, label-asc tie-break") {
    // probe 0 at (1,0); two label-1 neighbors near it, one label-2
    // slightly nearer but outvoted at k=3
    val corpus = Seq(
      (0L, Seq(1.0, 0.0), 9),
      (1L, Seq(0.99, 0.1), 2),
      (2L, Seq(0.9, 0.2), 1),
      (3L, Seq(0.9, 0.25), 1),
      (4L, Seq(-1.0, 0.0), 3) // far: outside k=3
    ).toDF("vec_id", "embedding", "label")
    val probes = corpus.filter($"vec_id" === 0L)
    val got = Similarity.knnPredict(corpus, "vec_id", "embedding", "label",
      probes, k = 3).collect()
    assert(got.length === 1)
    assert(got(0).getInt(1) === 1)  // 2 votes for label 1 beat 1 for label 2
    assert(got(0).getLong(2) === 2L)
    // 1-vs-1 tie at k=2 → smallest label wins
    val tied = Similarity.knnPredict(corpus, "vec_id", "embedding", "label",
      probes, k = 2).collect()
    assert(tied(0).getInt(1) === 1)
    assert(tied(0).getLong(2) === 1L)
  }

  test("mineTriplets: nearest same-label positive, nearest impostor negative") {
    // probe 0 (label 1): nearest overall is 1 (label 2, the impostor),
    // nearest same-label is 2
    val corpus = Seq(
      (0L, Seq(1.0, 0.0), 1),
      (1L, Seq(0.99, 0.1), 2),
      (2L, Seq(0.9, 0.2), 1),
      (3L, Seq(0.0, 1.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val probes = corpus.filter($"vec_id" === 0L)
    val got = Similarity.mineTriplets(corpus, "vec_id", "embedding", "label",
      probes, k = 3).collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === 2L, "positive = nearest same-label")
    assert(got(0).getLong(3) === 1L, "negative = nearest different-label")
    assert(got(0).getDouble(4) > got(0).getDouble(2),
      "this fixture's negative is harder (closer) than the positive")
    // a probe whose label appears nowhere in top-k drops out
    val loner = corpus.filter($"vec_id" === 0L)
      .withColumn("label", org.apache.spark.sql.functions.lit(9))
    assert(Similarity.mineTriplets(corpus.filter($"vec_id" =!= 0L)
      .unionByName(loner), "vec_id", "embedding", "label", loner, k = 3)
      .count() === 0L)
  }

  test("randomProjection: signs are ±1, deterministic, and linear in the input") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(2.0, 0.0, 0.0, 0.0)),  // 2× row 1 → every coord doubles
      (3L, Seq(0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(df, "vec_id", "embedding",
      inDim = 4, outDim = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // e_1 input reads out column 1 of the sign matrix: all ±1
    assert(got(1L).forall(v => v == 1.0 || v == -1.0))
    assert(got(2L) === got(1L).map(_ * 2.0))
    assert(got(3L).forall(_ == 0.0))
    // matches the driver-side sign function exactly
    assert(got(1L) === (1 to 3).map(j => Similarity.projSign(j, 1)))
  }

  test("IVF-PQ persisted index: serves the in-memory answer with pruned partitions; drift refused") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val probes = emb.orderBy("vec_id").limit(3)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val indexed = Similarity.ivfPqTopKIndexed(spark, dir,
      probes, "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    val a = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val b = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == b && a.nonEmpty,
      "persisted IVF-PQ must serve the in-memory answer bit-for-bit")
    // the cell IN (...) predicate reaches the scan as a static
    // partition filter — the disk-side nprobe/#cells claim
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected partition filters on cell in:\n$plan")
    // drifted coarse quantizer refused
    val driftedC: KMeans.Centroids = cents.map { case (cid, v) =>
      if (cid == 1) cid -> v.map(_ + 0.5) else cid -> v }
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, dir, probes, "vec_id", "embedding",
        driftedC, model, nprobe = 2, k = 5)
    }
    assert(e1.getMessage.contains("coarse quantizer"))
    // drifted codebook refused — ADC over foreign codes is garbage
    val driftedM = model.copy(codebooks = model.codebooks.map(_.map {
      case (cid, cw) => (cid, cw.map(_ + 0.25)) }))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, dir, probes, "vec_id", "embedding",
        cents, driftedM, nprobe = 2, k = 5)
    }
    assert(e2.getMessage.contains("codebook"))
    // a non-index directory refuses with the meta diagnosis
    val bare = java.nio.file.Files.createTempDirectory("ivfpq_bare").toString
    emb.limit(3).write.mode("overwrite").parquet(bare)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, bare, probes, "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5)
    }
    assert(e3.getMessage.contains("_graft_ivfpq_meta"))
  }

  test("appendIvfPqIndex: build+append serves the full-corpus answer; drifted codebook refused") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val probes = emb.orderBy("vec_id").limit(3)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString + "/i"
    // TWO sequential appends: the second reads the meta row the first
    // wrote, so the accumulated prev+batch count chain is exercised,
    // not just the build→append edge
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", cents, model, dir)
    Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", model, dir)
    Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", model, dir)
    val a = Similarity.ivfPqTopKIndexed(spark, dir,
        probes, "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val b = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == b && a.nonEmpty,
      "build+append must serve the full-corpus in-memory answer bit-for-bit")
    // an append under a drifted codebook is refused — mixed-codebook
    // codes are silently wrong at ADC time
    val driftedM = model.copy(codebooks = model.codebooks.map(_.map {
      case (cid, cw) => (cid, cw.map(_ + 0.25)) }))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(spark, emb.limit(3),
        "vec_id", "embedding", driftedM, dir)
    }
    assert(e1.getMessage.contains("codebook"))
    // the duplicate-id audit is ON BY DEFAULT (VERDICT r14 item 3):
    // a retried-but-committed batch re-appending already-indexed ids
    // refuses loudly (and writes nothing — the guard precedes the
    // write) with no opt-in required...
    val eDup = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", model, dir)
    }
    assert(eDup.getMessage.contains("already present"))
    // ...while genuinely-new ids pass the same default audit
    Similarity.appendIvfPqIndex(spark,
      emb.limit(3).select((col("vec_id") + 500000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", model, dir)
    // a row-count drift after manual surgery is refused at serve time
    // (the v2 layout keeps data in the current generation dir, g0
    // for a fresh build)
    emb.limit(1)
      .select(col("vec_id").cast("long").as("id"),
        typedlit(Seq(1, 1, 1, 1)).as("codes"), lit(1).as("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/g0")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, dir, probes, "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5)
    }
    assert(e2.getMessage.contains("rows"))
  }

  test("ivfPqTopKIndexedRerank: stored-code shortlist + float re-rank equals the in-memory recipe") {
    // review r15: the at-rest production query path — shortlist from
    // the persisted cell-partitioned codes (no assignment/encode in
    // the query), exact-cosine re-rank touching only probes×shortlist
    // float rows — must return exactly what the in-memory
    // ivfPqTopKRerank computes over the same corpus and model
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_irr").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val probes = emb.orderBy("vec_id").limit(3)
    val a = Similarity.ivfPqTopKIndexedRerank(spark, dir,
        emb, "vec_id", "embedding", probes, "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5, shortlist = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val b = Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", cents, model,
        nprobe = 2, k = 5, shortlist = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == b && a.nonEmpty,
      "the persisted-index rerank must equal the in-memory rerank bit-for-bit")
    // the same freshness gate as the indexed serve
    val driftedM = model.copy(codebooks = model.codebooks.map(_.map {
      case (cid, cw) => (cid, cw.map(_ + 0.25)) }))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexedRerank(spark, dir,
        emb, "vec_id", "embedding", probes, "vec_id", "embedding",
        cents, driftedM, nprobe = 2, k = 5, shortlist = 20)
    }
    assert(e.getMessage.contains("codebook"))
  }

  test("foreachBatch ANN serving: per-micro-batch ivfPqTopKIndexed equals the batch serve") {
    // the documented cold-storage-scale streaming deployment
    // (ivfPqTopKStream's Scaladoc): each micro-batch's probes are a
    // bounded BATCH relation, so the cell-pruned indexed serve
    // applies verbatim inside foreachBatch — the union of per-batch
    // results must equal one batch serve over all fed probes, because
    // the serve is per-probe-independent
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_feb").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val probeRows = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").cast("long"),
        graft.functions.VectorOps.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => StreamProbe(id, v) }
    val source = MemoryStream[StreamProbe]
    val acc = scala.collection.mutable.Set.empty[(Long, Long, Int, Double)]
    val q = source.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= Similarity.ivfPqTopKIndexed(spark, dir, batch,
            "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        ()
      }.start()
    try probeRows.grouped(2).foreach { b =>
      source.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val want = Similarity.ivfPqTopKIndexed(spark, dir,
        emb.orderBy("vec_id").limit(4), "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(acc.toSet == want && acc.nonEmpty,
      "foreachBatch per-micro-batch serves must union to the batch serve")
  }

  test("ivfPqTopKStream: streamed probes serve the batch indexed answer bit-for-bit") {
    // VERDICT r14 item 7: the rowwise plan-literal cell ranking + the
    // stream-static join + one complete-mode top-k must equal
    // ivfPqTopKIndexed over the same probes exactly — including
    // across a micro-batch boundary (2 batches) and including adist
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_str").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val probeRows = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").cast("long"),
        graft.functions.VectorOps.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => StreamProbe(id, v) }
    val source = MemoryStream[StreamProbe]
    val scored = Similarity.ivfPqTopKStream(spark, dir, source.toDF(),
      "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    val q = scored.writeStream.format("memory").queryName("ivfpq_stream_t")
      .outputMode("complete").start()
    try probeRows.grouped(2).foreach { b =>
      source.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ivfpq_stream_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfPqTopKIndexed(spark, dir,
        emb.orderBy("vec_id").limit(4), "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == want && got.nonEmpty,
      "the streamed IVF-PQ serve must equal the batch indexed serve bit-for-bit")
    // a drifted coarse quantizer is refused at plan-build time, same
    // gate as the batch serve
    val driftedC: KMeans.Centroids = cents.map { case (cid, v) =>
      if (cid == 1) cid -> v.map(_ + 0.5) else cid -> v }
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKStream(spark, dir, source.toDF(),
        "vec_id", "embedding", driftedC, model, nprobe = 2, k = 5)
    }
    assert(e.getMessage.contains("coarse quantizer"))
    // a non-long-castable probe id refuses at plan-build time, same
    // as every batch sibling (review r15: without the guard a string
    // id casts to NULL, the self-match filter drops every candidate
    // row, and the sink is silently incomplete instead of loud)
    val eId = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKStream(spark, dir,
        source.toDF().select(col("vec_id").cast("string").as("vec_id"),
          col("embedding")),
        "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    }
    assert(eId.getMessage.contains("long-castable"))
  }

  test("streaming ingest: foreachBatch appendIvfPqIndex maintains the index; a retried batch is refused") {
    // VERDICT r15 item 4 — the ingest dual of the streaming serve:
    // vectors arriving as a stream append to the persisted index via
    // foreachBatch → appendIvfPqIndex (default-on duplicate audit),
    // and after three micro-batches the serve must equal one batch
    // build of the union — a lost batch, a double-applied batch, or
    // a drifted assignment all diverge here. A RETRIED batch that
    // had actually committed is refused by the audit, not silently
    // double-indexed.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val base = java.nio.file.Files.createTempDirectory("ivfpq_ing").toString
    val dir = s"$base/i"
    Similarity.buildIvfPqIndex(emb.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", cents, model, dir)
    def rows(rem: Int) = emb.filter($"vec_id" % 4 === rem)
      .select(col("vec_id").cast("long"),
        graft.functions.VectorOps.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => StreamProbe(id, v) }
    val source = MemoryStream[StreamProbe]
    val q = source.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.appendIvfPqIndex(spark, batch, "vec_id", "embedding",
          model, dir)
      }
      .start()
    // one micro-batch per remainder class — processAllAvailable
    // between feeds pins the batch boundary
    try (1 to 3).foreach { r =>
      source.addData(rows(r).toSeq); q.processAllAvailable()
    } finally q.stop()
    val full = s"$base/full"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, full)
    val probes = emb.orderBy("vec_id").limit(4)
    def serve(p: String) = Similarity.ivfPqTopKIndexed(spark, p, probes,
        "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(serve(dir) == serve(full) && serve(dir).nonEmpty,
      "three foreachBatch appends must serve exactly the batch build of the union")
    // the retry: batch 1 already committed — the default-on audit
    // refuses it instead of double-indexing its buckets
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(spark,
        rows(1).toSeq.toDF("vec_id", "embedding"),
        "vec_id", "embedding", model, dir)
    }
    assert(e.getMessage.contains("already present"),
      s"retried batch must be refused with the duplicate diagnosis: ${e.getMessage}")
  }

  test("residual indexed serve: in-memory parity, partition pruning intact, no raw-vector join") {
    // the residual rewrite must not cost the disk-side shape: the
    // cell IN (...) predicate still reaches the scan as a static
    // partition filter, and the serve carries the per-(probe, cell)
    // residual INSIDE the pruning broadcast instead of adding a
    // second probe-vector join
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQResidual(emb, "vec_id", "embedding",
      d = 64, cents, m = 4, k = 16, maxIter = 0)
    val probes = emb.orderBy("vec_id").limit(3)
    val base = java.nio.file.Files.createTempDirectory("ivfpq_resp").toString
    val dir = s"$base/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val modelRaw = Similarity.trainPQ(emb, "vec_id", "embedding",
      d = 64, m = 4, k = 16, maxIter = 0)
    val dirRaw = s"$base/raw"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, modelRaw, dirRaw)
    val indexed = Similarity.ivfPqTopKIndexed(spark, dir, probes,
      "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    val direct = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      probes, "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    val a = indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a == b && a.nonEmpty,
      "persisted residual IVF-PQ must serve the in-memory answer bit-for-bit")
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected partition filters on cell in:\n$plan")
    // exactly ONE broadcast hash join feeds the serve in residual
    // mode (the pruning relation carrying the residuals); raw mode
    // runs two (cell pruning pairs + the probe-vector join). AQE
    // prints Final + Initial plan sections — count the FINAL only.
    def joins(p: String) =
      "BroadcastHashJoin".r.findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(joins(plan) == 1,
      s"residual serve should join only the pruning relation, got ${joins(plan)}:\n$plan")
    val rawPlan = Similarity.ivfPqTopKIndexed(spark, dirRaw, probes,
      "vec_id", "embedding", cents, modelRaw, nprobe = 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(joins(rawPlan) == 2,
      s"raw serve joins pruning pairs + probe vectors, got ${joins(rawPlan)}:\n$rawPlan")
  }

  test("ivfPqTopKStream in residual mode equals the batch indexed serve bit-for-bit") {
    // the streaming probe-side residual (CellResidualExpr per
    // (probe, cell) row) must produce the same doubles the batch
    // path's driver-side subtraction does — IEEE a−b is deterministic
    // everywhere — so the completed sink equals ivfPqTopKIndexed over
    // the same probes exactly, adist included
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQResidual(emb, "vec_id", "embedding",
      d = 64, cents, m = 4, k = 16, maxIter = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rstr").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val probeRows = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").cast("long"),
        graft.functions.VectorOps.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => StreamProbe(id, v) }
    val source = MemoryStream[StreamProbe]
    val scored = Similarity.ivfPqTopKStream(spark, dir, source.toDF(),
      "vec_id", "embedding", cents, model, nprobe = 2, k = 5)
    val q = scored.writeStream.format("memory").queryName("ivfpq_rstream_t")
      .outputMode("complete").start()
    try probeRows.grouped(2).foreach { b =>
      source.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ivfpq_rstream_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfPqTopKIndexed(spark, dir,
        emb.orderBy("vec_id").limit(4), "vec_id", "embedding",
        cents, model, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == want && got.nonEmpty,
      "the residual streamed serve must equal the batch indexed serve bit-for-bit")
  }

  test("ivfPqTopKIndexed broadcasts one d-vector per probe: two broadcast joins, no driver-built tables") {
    // VERDICT r13 item 1 + r14 item 2 pin: the (probe, cell) pruning
    // pairs and ONE d-vector per probe broadcast as SEPARATE
    // relations (the vector join keyed on probe_id, after the cell
    // join pruned the scan), and NOTHING m×k-scaled exists in the
    // plan — ADC arithmetic runs per row from the plan-literal
    // codebook, so the probe broadcast is d·8 bytes per probe,
    // probe-count-independent of m and k
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_bc").toString + "/i"
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, model, dir)
    val q = Similarity.ivfPqTopKIndexed(spark, dir,
      emb.orderBy("vec_id").limit(3), "vec_id", "embedding",
      cents, model, nprobe = 2, k = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 2,
      s"expected exactly two broadcast joins (cells, then probe vectors):\n$plan")
    // the join that carries __pv keys on probe_id, not on cell
    assert(plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("probe_id")),
      s"expected the probe-vector join keyed on probe_id:\n$plan")
    // the retired driver-side ADC tables must not reappear
    assert(!plan.contains("__tbl"),
      s"driver-built ADC tables leaked back into the plan:\n$plan")
  }

  test("rerank entries bound probes BEFORE pinning; one checkpoint feeds both stages") {
    // VERDICT r14 item 1: the old shape localCheckpoint'ed the RAW
    // probes relation and only then hit boundedProbes' guard inside
    // the shortlist stage — an over-budget probe set materialized
    // fully to block storage before being refused, and the probe plan
    // checkpointed twice. Now the limit precedes the (single)
    // checkpoint, so at most maxProbes+1 rows can ever materialize,
    // and both stages read the same pinned RDD.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val codes = Similarity.encodePQ(emb, "embedding", model).select("vec_id", "codes")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val probes = emb.orderBy("vec_id").limit(5)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopKRerank(emb, "vec_id", "embedding", codes, "vec_id",
        "codes", probes, "vec_id", "embedding", model, k = 2, shortlist = 3,
        maxProbes = 4)
    }
    assert(e1.getMessage.contains("maxProbes"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", cents, model, nprobe = 2, k = 2,
        shortlist = 3, maxProbes = 4)
    }
    assert(e2.getMessage.contains("maxProbes"))
    for (df <- Seq(
        Similarity.pqTopKRerank(emb, "vec_id", "embedding", codes, "vec_id",
          "codes", probes, "vec_id", "embedding", model, k = 3, shortlist = 10),
        Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding", probes,
          "vec_id", "embedding", cents, model, nprobe = 2, k = 3,
          shortlist = 10))) {
      // the probe relation is pinned as ONE driver-side collect (r19:
      // boundedProbes collects instead of checkpointing — the rows are
      // LOCAL relations in the plan, so the probes subplan structurally
      // CANNOT re-evaluate per stage, and no checkpointed RDD remains
      // to leak)
      val rdds = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(rdds.isEmpty,
        s"the probe pin must be a driver collect, not a checkpoint — " +
          s"stray checkpointed RDDs in the plan: $rdds")
      val locals = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }
      assert(locals.nonEmpty,
        "both stages must read the pinned probes as a LocalRelation")
      assert(df.select("probe_id").distinct().count() == 5)
    }
  }

  test("compactIvfPqIndex / compactIvfIndex: one file per cell, serve identical, provenance preserved") {
    // VERDICT r14 item 4: N ingest batches leave ≥N files per touched
    // cell — compaction rewrites to one file per cell via write-aside
    // + swap, byte-preserving meta and serve results
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val probes = emb.orderBy("vec_id").limit(3)
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    def cellFiles(dir: String): Map[String, Int] =
      new java.io.File(dir).listFiles.filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_cmp").toString + "/i"
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", cents, model, dir)
    Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", model, dir)
    Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", model, dir)
    def serve() = asSet(Similarity.ivfPqTopKIndexed(spark, dir, probes,
      "vec_id", "embedding", cents, model, nprobe = 2, k = 5))
    val before = serve()
    assert(cellFiles(s"$dir/g0").values.exists(_ > 1),
      "appends should have left more than one file in at least one cell")
    Similarity.compactIvfPqIndex(spark, dir)
    // generational swap (r17): the compacted copy lands in g1 and the
    // meta pointer flips; g0 is RETAINED as the in-flight readers'
    // grace window and retires on the NEXT compact
    val files = cellFiles(s"$dir/g1")
    assert(files.nonEmpty && files.values.forall(_ == 1),
      s"expected exactly one file per cell after compaction, got $files")
    assert(serve() == before && before.nonEmpty,
      "compaction must not change the serve result")
    assert(new java.io.File(s"$dir/g0").exists,
      "the replaced generation must survive one compact (reader grace window)")
    Similarity.compactIvfPqIndex(spark, dir)
    assert(!new java.io.File(s"$dir/g0").exists,
      "a twice-retired generation must be deleted")
    assert(serve() == before)
    // the copied meta still accepts maintenance: a post-compaction
    // append under the same codebook works (fingerprints survived)
    Similarity.appendIvfPqIndex(spark,
      emb.limit(2).select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", model, dir)

    // the float IVF index compacts under the same contract
    val fdir = java.nio.file.Files.createTempDirectory("ivf_cmp").toString + "/i"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", cents, fdir)
    Similarity.appendIvfIndex(spark, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", fdir)
    def fserve() = asSet(Similarity.ivfTopKIndexed(spark, fdir, probes,
      "vec_id", "embedding", cents, nprobe = 2, k = 5))
    val fBefore = fserve()
    Similarity.compactIvfIndex(spark, fdir)
    assert(cellFiles(fdir).values.forall(_ == 1))
    assert(fserve() == fBefore && fBefore.nonEmpty)
    // an index whose actual rows drifted from its meta REFUSES to
    // compact — compacting a partial append would bless the corruption
    val victim = new java.io.File(fdir).listFiles
      .filter(_.getName.startsWith("cell=")).head.listFiles
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, fdir)
    }
    assert(e.getMessage.contains("partial append"))
  }

  test("buildIvfPqIndex under partitionOverwriteMode=dynamic: a rebuild leaves no stale cells") {
    // ADVICE r13 (medium): with a dynamic session conf, overwrite +
    // partitionBy replaces only the cells present in the new build —
    // a rebuild whose quantizer maps everything into fewer cells
    // would leave the other cells' files encoded under the OLD
    // codebook behind a fresh meta. The writer forces static
    // semantics, so the rebuild must fully replace the index.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
        m = 4, k = 16, maxIter = 0)
      val cents8 = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
      // FirstK(2) assigns every vector to cells {1, 2} — a rebuild
      // with it must erase cells 3..8 from the FirstK(8) build
      val cents2 = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(2))
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_dyn").toString + "/i"
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents8, model, dir)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents2, model, dir)
      val idx = spark.read.parquet(s"$dir/g0")
      assert(idx.count() == emb.count(),
        "a rebuild must fully replace the index, not merge into it")
      val cellsLeft = idx.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(cellsLeft.subsetOf(Set(1, 2)),
        s"stale cells survived the rebuild: $cellsLeft")
      // and the probe path over the rebuilt index matches in-memory
      val probes = emb.orderBy("vec_id").limit(3)
      val a = Similarity.ivfPqTopKIndexed(spark, dir, probes,
          "vec_id", "embedding", cents2, model, nprobe = 1, k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val b = Similarity.ivfPqTopK(emb, "vec_id", "embedding", probes,
          "vec_id", "embedding", cents2, model, nprobe = 1, k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(a == b && a.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("pickServingBudget: cheapest swept point meeting the target; None when unreachable") {
    // VERDICT r16 item 5: the deployer knob over a RECORDED sweep —
    // min seconds among rows meeting the target, ties to the smaller
    // (nprobe, shortlist), loud None when the grid can't reach it
    import Similarity.ServingBudget
    val sweep = Seq(
      ServingBudget(1, 50, 0.40, 1.0),
      ServingBudget(2, 50, 0.55, 1.5),
      ServingBudget(4, 100, 0.72, 1.8),
      ServingBudget(2, 100, 0.72, 1.8), // same cost/recall → smaller nprobe
      ServingBudget(8, 400, 0.95, 6.0),
      ServingBudget(16, 400, 0.97, 9.0))
    def pick(t: Double) = Similarity.pickServingBudget(sweep, t)
      .map(b => (b.nprobe, b.shortlist))
    assert(pick(0.5) == Some((2, 50)))
    assert(pick(0.7) == Some((2, 100)), "ties must break to the smaller nprobe")
    assert(pick(0.9) == Some((8, 400)))
    assert(pick(0.99).isEmpty,
      "an unreachable target must be None, not the best-available recall")
  }

  test("savePQ/loadPQ: bit-exact round trip; drifted artifacts refused") {
    val emb = (1L to 20L).map(i =>
      (i, (0 until 8).map(p => (i * 7 + p * 3 % 11).toDouble / 4.0)))
      .toDF("vec_id", "embedding")
    val m = Similarity.trainPQ(emb, "vec_id", "embedding", d = 8, m = 2,
      k = 4, maxIter = 0)
    val path = java.nio.file.Files.createTempDirectory("pq_model_").toString + "/m"
    Similarity.savePQ(spark, path, m)
    val lm = Similarity.loadPQ(spark, path)
    assert(lm.d == m.d && lm.m == m.m && lm.k == m.k)
    assert(lm.codebooks.map(_.toSeq.map { case (c, w) => (c, w.toSeq) }) ==
      m.codebooks.map(_.toSeq.map { case (c, w) => (c, w.toSeq) }),
      "codebooks must round-trip bit-exactly")
    // encoding through the loaded model is identical
    val a = Similarity.encodePQ(emb, "embedding", m).select("vec_id", "codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Similarity.encodePQ(emb, "embedding", lm).select("vec_id", "codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
    // lost codeword row refused
    val pPath = path + "_p"
    spark.read.parquet(s"$path/codebooks").limit(7)
      .write.parquet(s"$pPath/codebooks")
    spark.read.parquet(s"$path/meta").write.parquet(s"$pPath/meta")
    val e1 = intercept[IllegalArgumentException] { Similarity.loadPQ(spark, pPath) }
    assert(e1.getMessage.contains("rows"))
    // renumbered codeword ids refused — codes store these ids
    val cPath = path + "_c"
    spark.read.parquet(s"$path/codebooks")
      .withColumn("cid", col("cid") + 1).write.parquet(s"$cPath/codebooks")
    spark.read.parquet(s"$path/meta").write.parquet(s"$cPath/meta")
    val e2 = intercept[IllegalArgumentException] { Similarity.loadPQ(spark, cPath) }
    assert(e2.getMessage.contains("codeword ids"))
    // version drift refused
    val vPath = path + "_v"
    spark.read.parquet(s"$path/codebooks").write.parquet(s"$vPath/codebooks")
    spark.read.parquet(s"$path/meta").withColumn("version", lit(99))
      .write.parquet(s"$vPath/meta")
    val e3 = intercept[IllegalArgumentException] { Similarity.loadPQ(spark, vPath) }
    assert(e3.getMessage.contains("version"))
    // a v1 artifact (no residual_to column) still loads, as raw mode
    // (ADVICE r16): v1 could only express raw codebooks, so the
    // loader defaults residualTo to None instead of stranding every
    // pre-v2 artifact
    val v1Path = path + "_v1"
    spark.read.parquet(s"$path/codebooks").write.parquet(s"$v1Path/codebooks")
    spark.read.parquet(s"$path/meta")
      .withColumn("version", lit(1)).drop("residual_to")
      .write.parquet(s"$v1Path/meta")
    val lv1 = Similarity.loadPQ(spark, v1Path)
    assert(!lv1.residual, "a v1 artifact must load as raw mode")
    assert(lv1.codebooks.map(_.toSeq.map { case (c, w) => (c, w.toSeq) }) ==
      m.codebooks.map(_.toSeq.map { case (c, w) => (c, w.toSeq) }))
  }

  test("append pins ONE batch instantiation: a nondeterministic batch " +
    "cannot pass the audit with one id set and write another") {
    // review r15: the dup-id audit and the write used to evaluate the
    // batch plan independently — a batch whose re-evaluation yields
    // different rows (sample(), an unordered limit, a directory
    // re-read racing an upstream writer) could show only-new ids to
    // the audit and then append already-indexed ones. The append now
    // localCheckpoints the batch once; audit, write, and meta count
    // all read that pin. This batch returns FRESH ids on its first
    // evaluation and ALREADY-INDEXED ids on every later one — without
    // the pin, the index ends up silently holding duplicate ids.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val dir =
      java.nio.file.Files.createTempDirectory("ivfpq_volatile").toString + "/i"
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", cents, model, dir)
    val fresh = emb.filter(col("vec_id") % 3 === 2).orderBy("vec_id").limit(5)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val indexed = emb.filter(col("vec_id") % 3 === 1).orderBy("vec_id").limit(5)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    VolatileBatch.evals.set(0)
    val batch = spark.sparkContext.parallelize(Seq(0), 1)
      .mapPartitions { _ =>
        val e = VolatileBatch.evals.getAndIncrement()
        (if (e == 0) fresh else indexed).iterator
      }.toDF("vec_id", "embedding")
    Similarity.appendIvfPqIndex(spark, batch, "vec_id", "embedding", model, dir)
    val ids = spark.read.parquet(s"$dir/g0").select("id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      "the index must never hold duplicate ids after an audited append")
    assert(fresh.map(_._1).toSet.subsetOf(ids.toSet),
      "the audited (first) instantiation is the one that must land")
  }

  test("SPARK_GRAFT_MAX_RECORDS_PER_FILE: unset/≤0 is off, a malformed value is refused by name") {
    assert(Similarity.maxRecordsPerFile(None).isEmpty)
    assert(Similarity.maxRecordsPerFile(Some(" 4096 ")).contains(4096L))
    assert(Similarity.maxRecordsPerFile(Some("0")).isEmpty)
    assert(Similarity.maxRecordsPerFile(Some("-5")).isEmpty)
    for (bad <- Seq("4k", "1e6", "", "  ", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](Similarity.maxRecordsPerFile(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_MAX_RECORDS_PER_FILE") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("every vector serve entry keeps its output schema") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val pq = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64, m = 4,
      k = 16, maxIter = 0)
    val opq = Similarity.OpqIvfModel(
      Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0), cents, pq)
    val codes = Similarity.encodePQ(emb, "embedding", pq).select("vec_id", "codes")
    val probes = emb.orderBy("vec_id").limit(3)
    val base = java.nio.file.Files.createTempDirectory("serve_schema").toString
    val (ivf, ivfPq, rot) = (s"$base/ivf", s"$base/ivfpq", s"$base/rot")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, ivf)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, pq, ivfPq)
    Similarity.buildIvfPqIndexRotated(emb, "vec_id", "embedding", opq, rot)
    val cands = Similarity.topKCosine(emb, "vec_id", "embedding", probes,
      "vec_id", "embedding", 5).select("probe_id", "vec_id")
    val entries = Seq(
      "topKCosine" -> Similarity.topKCosine(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", 5),
      "annTopK" -> Similarity.annTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", 5, tables = 2, bits = 4, d = 64),
      "ivfTopK" -> Similarity.ivfTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", cents, nprobe = 2, k = 5),
      "ivfTopKIndexed" -> Similarity.ivfTopKIndexed(spark, ivf, probes,
        "vec_id", "embedding", cents, nprobe = 2, k = 5),
      "pqTopK" -> Similarity.pqTopK(codes, "vec_id", "codes", probes,
        "vec_id", "embedding", pq, 5),
      "pqTopKRerank" -> Similarity.pqTopKRerank(emb, "vec_id", "embedding",
        codes, "vec_id", "codes", probes, "vec_id", "embedding", pq, 5, 10),
      "ivfPqTopK" -> Similarity.ivfPqTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", cents, pq, nprobe = 2, k = 5),
      "ivfPqTopKRerank" -> Similarity.ivfPqTopKRerank(emb, "vec_id",
        "embedding", probes, "vec_id", "embedding", cents, pq, nprobe = 2,
        k = 5, shortlist = 10),
      "ivfPqTopKIndexed" -> Similarity.ivfPqTopKIndexed(spark, ivfPq, probes,
        "vec_id", "embedding", cents, pq, nprobe = 2, k = 5),
      "ivfPqTopKIndexedRotated" -> Similarity.ivfPqTopKIndexedRotated(spark,
        rot, probes, "vec_id", "embedding", opq, nprobe = 2, k = 5),
      "ivfPqTopKIndexedRerank" -> Similarity.ivfPqTopKIndexedRerank(spark,
        ivfPq, emb, "vec_id", "embedding", probes, "vec_id", "embedding",
        cents, pq, nprobe = 2, k = 5, shortlist = 10),
      "ivfPqTopKIndexedRerankRotated" -> Similarity.ivfPqTopKIndexedRerankRotated(
        spark, rot, emb, "vec_id", "embedding", probes, "vec_id", "embedding",
        opq, nprobe = 2, k = 5, shortlist = 10),
      "exactRerank" -> Similarity.exactRerank(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", cands, 3))
    // DDL literals recorded from the serves before they shared one
    // ranking tail: a nullable probe_id where the probe relation's id
    // reaches the output, NOT NULL where the driver-built (probe, cell)
    // pairs do
    def ddl(probeId: String, score: String) =
      s"probe_id BIGINT$probeId,vec_id BIGINT,rank INT NOT NULL,$score DOUBLE"
    val (nullable, notNull) = ("", " NOT NULL")
    val want = Map(
      "topKCosine" -> ddl(nullable, "sim"),
      "annTopK" -> ddl(nullable, "sim"),
      "ivfTopK" -> ddl(nullable, "sim"),
      "ivfTopKIndexed" -> ddl(notNull, "sim"),
      "pqTopK" -> ddl(nullable, "adist"),
      "pqTopKRerank" -> ddl(nullable, "sim"),
      "ivfPqTopK" -> ddl(notNull, "adist"),
      "ivfPqTopKRerank" -> ddl(notNull, "sim"),
      "ivfPqTopKIndexed" -> ddl(notNull, "adist"),
      "ivfPqTopKIndexedRotated" -> ddl(notNull, "adist"),
      "ivfPqTopKIndexedRerank" -> ddl(notNull, "sim"),
      "ivfPqTopKIndexedRerankRotated" -> ddl(notNull, "sim"),
      "exactRerank" -> ddl(nullable, "sim"))
    assert(entries.map(_._1).toSet == want.keySet)
    for ((name, df) <- entries) assert(df.schema.toDDL === want(name), name)
  }
}

/** Evaluation counter for the nondeterministic-batch append spec —
  * object-level so the task closure and the driver share it under
  * local mode's single JVM. */
object VolatileBatch {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
}

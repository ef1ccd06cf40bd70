package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  private val unrelated = "completely different words about spark engines and parquet files here"

  test("shingles: distinct trigrams, empty below n tokens") {
    val df = Seq("a b c d", "a b", "x y x y x y").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) === Seq("a b c", "b c d"))
    assert(rows(1) === Seq.empty)
    // "x y x", "y x y" repeat — distinct keeps 2
    assert(rows(2).sorted === Seq("x y x", "y x y"))
  }

  test("exact dedup groups duplicates and keeps lowest id") {
    val df = Seq((1L, base), (2L, nearDup), (3L, base), (4L, base)).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(groups === Array((3L, 1L), (1L, 2L))) // base×3 keep 1, nearDup×1 keep 2
    val kept = Dedup.dropExactDuplicates(df, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L))
  }

  test("minhash LSH surfaces near-duplicates, not unrelated docs") {
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text", n = 3, h = 16, b = 8, minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    // 13 tokens -> 11 trigrams each, differing only in the last token
    // -> 10 shared of 12 distinct-union
    assert(math.abs(pairs(0)._3 - 10.0 / 12.0) < 1e-12)
  }

  test("identical docs collide in every band") {
    val df = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val buckets = Dedup.minhashBuckets(df, "doc_id", "text", n = 3, h = 16, b = 8)
    val byBand = buckets.groupBy("band", "bucket").count()
      .filter(col("count") === 2).count()
    assert(byBand === 8L)
  }

  test("fast path (parity=false): xxhash64 base hashes are 32-bit and deterministic") {
    val df = Seq((1L, base)).toDF("doc_id", "text")
      .select(Dedup.shingleHashes(Dedup.shingles(col("text"), 3), parity = false).as("hs"))
    val hs1 = df.collect()(0).getSeq[Long](0)
    val hs2 = df.collect()(0).getSeq[Long](0)
    assert(hs1 === hs2)                                  // deterministic across runs
    assert(hs1.nonEmpty && hs1.forall(h => h >= 0L && h <= 4294967295L)) // masked to 32 bits
    assert(hs1.distinct.length === hs1.length)           // distinct shingles -> distinct hashes
  }

  test("fast path: near-dup results carry exact Jaccard sims, same as parity mode") {
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val fast = Dedup.nearDuplicates(df, "doc_id", "text", n = 3, h = 16, b = 8,
        minSim = 0.5, parity = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Dedup.releaseCaches()
    // the verification stage is hash-independent (exact n-gram Jaccard),
    // so the surviving pairs and their sims must match the parity mode
    assert(fast.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(math.abs(fast(0)._3 - 10.0 / 12.0) < 1e-12)
  }

  test("maxBucket drops oversized buckets but pairs still meet via other bands") {
    // 12 identical docs: every (band, bucket) holds all 12 -> any
    // maxBucket < 12 drops every bucket and no pairs survive...
    val many = (1L to 12L).map(i => (i, base))
    val df = many.toDF("doc_id", "text")
    val capped = Dedup.nearDuplicates(df, "doc_id", "text", n = 3, h = 16, b = 8,
      minSim = 0.0, parity = false, maxBucket = 11)
    assert(capped.count() === 0L)
    Dedup.releaseCaches()
    // ...while a cap >= the bucket size keeps all 12*11/2 pairs
    val uncapped = Dedup.nearDuplicates(df, "doc_id", "text", n = 3, h = 16, b = 8,
      minSim = 0.0, parity = false, maxBucket = 12)
    assert(uncapped.count() === 66L)
    Dedup.releaseCaches()
    // mixed skew: 12 identical boilerplate docs (capped away) + one
    // genuine near-dup pair in a small bucket survives the cap
    val mixed = (many ++ Seq((100L, nearDup + " extra"), (101L, nearDup + " extra"))).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(mixed, "doc_id", "text", n = 3, h = 16, b = 8,
        minSim = 0.9, parity = false, maxBucket = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Dedup.releaseCaches()
    assert(pairs.toSeq === Seq((100L, 101L)))
  }

  test("fast-path near-dup invariants on real testdata, sims spot-checked vs local Jaccard") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
      n = 3, h = 16, b = 8, minSim = 0.0, parity = false, maxBucket = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Dedup.releaseCaches()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, s) => a < b && s >= 0.0 && s <= 1.0 })
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
    // spot-check: reported sim is the EXACT trigram Jaccard
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.take(5).foreach { case (a, b, s) =>
      val (sa, sb) = (shingleSet(text(a)), shingleSet(text(b)))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(s - expect) < 1e-12, s"pair ($a,$b): $s vs $expect")
    }
  }

  test("connectedComponents labels transitive clusters with their minimum id") {
    // chain 1–3, 3–2: one cluster {1,2,3}. Per-pair dropping would
    // keep BOTH local minima 1 and 2; components keep only 1.
    val pairs = Seq((1L, 3L), (3L, 2L), (5L, 6L)).toDF("id1", "id2")
    try {
      val got = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    } finally Dedup.releaseCaches()
  }

  test("connectedComponents converges on a long path (many propagation rounds)") {
    val path = (0L until 12L).sliding(2).map(s => (s(1), s(0))).toSeq.toDF("id1", "id2")
    try {
      val got = Dedup.connectedComponents(path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === 12 && got.values.forall(_ == 0L))
    } finally Dedup.releaseCaches()
  }

  test("connectedComponents refuses a partial labeling when maxIter is hit") {
    val path = (0L until 8L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id1", "id2")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(path, maxIter = 2).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    } finally Dedup.releaseCaches()
  }

  test("connectedComponents and componentsStar agree on NULL ids: each connects nothing, labelled NULL") {
    // NULL on either side and on both; 4–NULL must not pull 4 apart
    // from 3, nor 1 and 2 together through their NULL partner
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None), (Some(3L), Some(4L)), (Some(4L), None))
      .toDF("id1", "id2")
    val want = Seq[(Option[Long], Option[Long])](
      (None, None), (Some(1L), Some(1L)), (Some(2L), Some(2L)), (Some(3L), Some(3L)),
      (Some(4L), Some(3L)))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.as[(Option[Long], Option[Long])].collect().toSeq.sortBy(_._1.getOrElse(Long.MinValue))
    try {
      for (parts <- Seq(1, 4)) {
        val df = pairs.repartition(parts)
        assert(rows(Dedup.connectedComponents(df)) === want, s"connectedComponents, $parts")
        assert(rows(Dedup.componentsStar(df)) === want, s"componentsStar, $parts")
      }
    } finally Dedup.releaseCaches()
  }

  test("winnowNearDup surfaces shared passages, not unrelated docs; cap drops hot fps") {
    val shared = "a very long shared passage that appears verbatim in two documents"
    val docs = Seq(
      (1L, s"first document prefix $shared and a distinct suffix one"),
      (2L, s"second document opening $shared then another different tail"),
      (3L, "a completely unrelated document with its own words entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDup(docs, "doc_id", "text", minShared = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 5L)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
    // an aggressive popularity cap removes every fingerprint that
    // appears in 2+ docs, killing the shared-passage candidates
    val capped = Dedup.winnowNearDup(docs, "doc_id", "text", minShared = 1, maxDocsPerFp = 1)
    assert(capped.count() == 0L)
    Dedup.releaseCaches()
  }

  test("dropNearDuplicates keeps the lowest id of each near-dup group") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // exact near-dup of 1
      (3L, "completely different content with unrelated words here")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", minSim = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
    Dedup.releaseCaches()
  }

  test("native SimHash64 expression is bit-identical to the HOF form") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the repeated tokens weigh by frequency"),
      (3L, "x"),
      (4L, "unicode tokens naïve café 東京 mixed in"),
      (5L, "")
    ).toDF("doc_id", "text")
    val both = docs.select(
      Dedup.simhash(Dedup.tokens($"text")).as("native"),
      Dedup.simhashHof(Dedup.tokens($"text")).as("hof")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("simhashNearDup: exact dup at hamming 0, banding never misses <= maxHamming") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // identical -> hamming 0
      (3L, "alpha beta gamma delta epsilon eta"),  // near
      (4L, "one two three four five six")          // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    // recall check against brute force: every pair within the
    // threshold must be found (pigeonhole guarantee)
    val fps = docs.select($"doc_id", Dedup.simhash(Dedup.tokens($"text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        java.lang.Long.bitCount(java.lang.Long.parseLong(x.toString, 16) ^
          java.lang.Long.parseLong(y.toString, 16))
      }.sum
    for (i <- fps.keys; j <- fps.keys if i < j) {
      val h = ham(fps(i), fps(j))
      if (h <= 3) assert(pairs.get((i, j)).contains(h), s"missed pair ($i,$j) at hamming $h")
      else assert(!pairs.contains((i, j)))
    }
  }

  test("embeddingNearDup: finds identical vectors, excludes dissimilar ones") {
    val base = Array.tabulate(64)(i => math.sin(i + 1))
    val near = base.clone(); near(0) += 0.001
    val anti = base.map(x => -x)
    val df = Seq(
      (1L, base.toSeq), (2L, base.toSeq), (3L, near.toSeq), (4L, anti.toSeq)
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", minSim = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.999)
    // anti-correlated vector lands in complementary buckets; even if
    // it collided, sim = -1 < minSim filters it
    assert(!pairs.exists { case ((a, b), _) => a == 4L || b == 4L })
    Dedup.releaseCaches()
  }

  test("semanticNearDup: within-cluster cosine pairs, cross-cluster pruned by design") {
    import graft.operators.KMeans
    val a = Array.tabulate(64)(i => math.sin(i + 1))
    val aNear = a.clone(); aNear(0) += 0.001
    val b = a.map(x => -x) // opposite cell, cosine -1 to a
    val bNear = b.clone(); bNear(1) += 0.001
    val cents: KMeans.Centroids = Array((1, a), (2, b))
    val df = Seq((1L, a.toSeq), (2L, aNear.toSeq), (3L, b.toSeq), (4L, bNear.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDup(df, "vec_id", "embedding", cents, minSim = 0.9)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    Dedup.releaseCaches()
    // near pairs inside each cell found with exact similarity …
    assert(pairs.keySet === Set((1L, 2L), (3L, 4L)))
    assert(pairs((1L, 2L)) > 0.999 && pairs((3L, 4L)) > 0.999)
  }

  test("dropSemanticDuplicates keeps the lowest id of each pair; maxCluster guards hot cells") {
    import graft.operators.KMeans
    val hot = Array.tabulate(64)(i => math.cos(i + 1))
    val cents: KMeans.Centroids = Array((1, hot))
    // 10 identical vectors: one cell, 45 pairs uncapped -> keep id 1
    val df = (1L to 10L).map(i => (i, hot.toSeq)).toDF("vec_id", "embedding")
    val kept = Dedup.dropSemanticDuplicates(df, "vec_id", "embedding", cents, minSim = 0.9)
      .select("vec_id").as[Long].collect().sorted
    Dedup.releaseCaches()
    assert(kept === Array(1L))
    // the skew guard blacklists the over-populated cell entirely:
    // zero pairs, nothing dropped (bounded recall loss, never m² rows)
    val capped = Dedup.semanticNearDup(df, "vec_id", "embedding", cents,
      minSim = 0.9, maxCluster = 5).count()
    Dedup.releaseCaches()
    assert(capped === 0L)
  }

  test("dedupReport: per-group docs/distinct/dups/shared counts") {
    val df = Seq(
      (1L, "s1", base), (2L, "s1", base), (3L, "s1", unrelated),
      (4L, "s2", base), (5L, "s2", nearDup)
    ).toDF("doc_id", "source", "text")
    val got = Dedup.dedupReport(df, Seq("text"), "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    Dedup.releaseCaches()
    // s1: 3 docs, 2 distinct (base×2 + unrelated), 1 dup, base shared with s2
    assert(got("s1") === ((3L, 2L, 1L, 1L)))
    // s2: 2 docs, 2 distinct, 0 dups, base shared with s1
    assert(got("s2") === ((2L, 2L, 0L, 1L)))
  }

  test("dropNearDupClustersKeepBest keeps the best-scoring doc per component") {
    // 1-2-3 form one near-dup chain (transitive), 4 unrelated; score
    // says keep 2 (longest), not the min id 1
    val df = Seq(
      (1L, base, 10), (2L, base + " x", 99), (3L, base + " y", 50),
      (4L, unrelated, 1)
    ).toDF("doc_id", "text", "n_chars")
    val kept = Dedup.dropNearDupClustersKeepBest(df, "doc_id", "text", "n_chars",
        minSim = 0.5, parity = true)
      .select("doc_id").as[Long].collect().sorted
    Dedup.releaseCaches()
    assert(kept === Array(2L, 4L))
  }

  test("simhashNearDup maxBucket drops boilerplate bucket clusters") {
    // 12 identical docs: every (band, substring) bucket has 12
    // members in all 4 bands -> 66 pairs uncapped, zero once the cap
    // blacklists the over-populated keys (the m² skew guard).
    val docs = (1L to 12L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3).count()
    Dedup.releaseCaches()
    val capped = Dedup.simhashNearDup(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 10).count()
    Dedup.releaseCaches()
    assert(uncapped === 66L)
    assert(capped === 0L)
  }

  test("autoBits keeps expected bucket occupancy near the target") {
    assert(Dedup.autoBits(1024, targetBucket = 32) === 5)
    assert(Dedup.autoBits(100, targetBucket = 32) === 4)  // floored at minBits
    assert(Dedup.autoBits(1L << 20, targetBucket = 32) === 15)
    assert(Dedup.autoBits(0, targetBucket = 32) === 4)    // degenerate corpus
    // the invariant that makes the candidate join linear: n / 2^bits
    // (expected bucket size) stays within 2x of the target
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L)) {
      val b = Dedup.autoBits(n, targetBucket = 32)
      val occupancy = n.toDouble / (1L << b)
      assert(occupancy <= 32.0 && occupancy > 8.0, s"n=$n bits=$b occ=$occupancy")
    }
  }

  test("embeddingNearDup candidate growth is sub-quadratic with autoBits + cap") {
    // Duplicate-heavy corpus: a hot cluster of n/4 identical vectors
    // (shares every table-bucket -> the quadratic hazard) plus
    // scattered deterministic background vectors. With the cap
    // blacklisting the hot buckets and bits derived from n, doubling
    // the corpus must NOT quadruple the pair count (fixed bits and no
    // cap would: hot cluster alone contributes (n/4)²/2 pairs).
    def corpus(n: Int) = {
      val hot = Array.tabulate(64)(j => math.cos(j + 1))
      (1 to n).map { i =>
        val v = if (i % 4 == 0) hot else Array.tabulate(64)(j => math.sin(i * 64 + j))
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
    }
    def pairs(n: Int): Long = {
      val c = Dedup.embeddingNearDup(corpus(n), "vec_id", "embedding",
        minSim = -2.0, // keep every verified candidate: count = candidate count
        tables = 4, bits = Dedup.autoBits(n, targetBucket = 16), d = 64,
        maxBucket = 32).count()
      Dedup.releaseCaches()
      c
    }
    val small = pairs(256)
    val big = pairs(512)
    assert(small > 0L, "guard must not kill ordinary buckets")
    assert(big < 4 * small, s"quadratic candidate growth: $small -> $big")
  }

  test("native Shingles kernel is bit-identical to the HOF twin incl. space edge cases") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b a b"),                  // duplicate shingles
      (3L, "one  two   three four"),            // runs of spaces -> empty tokens
      (4L, "trailing space "), (5L, " leading"),
      (6L, ""), (7L, "just two"),               // below n
      (8L, "naïve café 東京 unicode tokens here")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val native = docs.select(col("doc_id"), Dedup.shingles(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hof = docs.select(col("doc_id"), Dedup.shinglesHof(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native === hof, s"n=$n")
    }
  }

  test("native MinHashSig kernel is bit-identical to the HOF twin in both hash modes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a b c"),                         // exactly one 3-shingle
      (4L, "naïve café 東京 tokens mixed in here"),
      (5L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    for (parity <- Seq(true, false)) {
      val hof = sh.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("sh"), parity), 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = sh.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("sh"), 16, parity).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native === hof, s"parity=$parity")
    }
  }

  test("simhash: identical tokens give identical fingerprints; near-dups are close") {
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, unrelated)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhash(Dedup.tokens(col("text"))).as("fp"))
    val fp = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L).length === 16)
    val dist = df.as("a").crossJoin(df.as("b"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.hammingHex(col("a.fp"), col("b.fp")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(dist((1L, 2L)) === 0)
    assert(dist((1L, 3L)) < dist((1L, 4L))) // near-dup closer than unrelated
    assert(dist((1L, 3L)) === dist((3L, 1L)))
  }

  test("dedupPassages: first occurrence wins, docs reassemble in order, audit counts") {
    // width 2, docs of 4 tokens = 2 passages each:
    //   doc 1: [a b][c d]           — all first occurrences
    //   doc 2: [a b][x y]           — [a b] seen in doc 1, dropped
    //   doc 3: [c d][a b]           — both passages seen, fully dropped
    //   doc 4: [p q][r s]           — untouched
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d a b"), (4L, "p q r s")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupPassages(df, "doc_id", "text", width = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === (("a b c d", 2L, 0L)))
    assert(got(2L) === (("x y", 1L, 1L)))
    assert(got(3L) === (("", 0L, 2L)))   // fully boilerplate, empty not missing
    assert(got(4L) === (("p q r s", 2L, 0L)))
    // passage order within a doc is chunk order, not passage-text order
    val ooo = Seq((1L, "z z a a"), (2L, "b b z z")).toDF("doc_id", "text")
    val g2 = Dedup.dedupPassages(ooo, "doc_id", "text", width = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g2(1L) === "z z a a" && g2(2L) === "b b")
    // winner selection is a partial aggregate, never a window on the
    // passage key (a viral passage would single-thread its copies);
    // the chunk relation is cached so all three consumers (winner agg,
    // join, totals) read one materialization — one corpus scan
    val qe = Dedup.dedupPassages(df, "doc_id", "text", 2).queryExecution
    try {
      val plan = qe.executedPlan.toString
      assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
      val imrs = qe.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(imrs.nonEmpty, "expected the cached chunk relation in the plan")
    } finally Dedup.releaseCaches()
  }

  test("incremental dedup: batch vs index admits what a full re-dedup would") {
    val corpus = Seq((1L, base), (3L, nearDup), (5L, unrelated)).toDF("doc_id", "text")
    val batch = Seq(
      (4L, base),                      // exact copy of corpus doc 1 → dropped by the hash index
      (8L, base + " x"),               // near-dup of corpus doc 1 → dropped by the sig index
      (12L, "a fresh sentence with entirely novel tokens nothing shares"), // novel → kept
      (16L, "too short")               // no trigram signature → passes the near-dup join
    ).toDF("doc_id", "text")
    try {
      val afterExact = Dedup.dropSeenExact(batch, Dedup.exactIndex(corpus, Seq("text")), Seq("text"))
      assert(afterExact.select("doc_id").as[Long].collect().toSet === Set(8L, 12L, 16L))
      val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
      val admitted = Dedup.dropSeenNearDup(afterExact, idx, "doc_id", "text", minAgree = 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(admitted === Set(12L, 16L))
      // the decision is batch-vs-index only: two near-dup batch docs both
      // survive if neither matches the index (batch-internal dedup is
      // dropExactDuplicates/dropNearDuplicates' job, run before this)
      val twins = Seq((20L, unrelated + " a"), (24L, unrelated + " b")).toDF("doc_id", "text")
      val corpusOnly = Seq((1L, base)).toDF("doc_id", "text")
      val kept2 = Dedup.dropSeenNearDup(twins,
        Dedup.minhashIndex(corpusOnly, "doc_id", "text"), "doc_id", "text", minAgree = 0.5)
      assert(kept2.count() === 2L)
    } finally Dedup.releaseCaches()
  }

  test("persisted MinHash index: append serves like a rebuild; family mismatch and row drift refuse") {
    val corpus = Seq((1L, base), (3L, nearDup)).toDF("doc_id", "text")
    val late = Seq((5L, unrelated)).toDF("doc_id", "text")
    val batch = Seq(
      (8L, base + " x"),        // near-dup of the BUILT half
      (9L, unrelated + " y"),   // near-dup of the APPENDED half
      (12L, "a fresh sentence with entirely novel tokens nothing shares")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    try {
      // coalesce(1): one row-carrying file per write, so the drift
      // test below cannot accidentally delete an empty part file
      Dedup.writeMinhashIndex(corpus.coalesce(1), "doc_id", "text", dir)
      Dedup.appendMinhashIndex(spark, late.coalesce(1), "doc_id", "text", dir)
      val idx = Dedup.readMinhashIndex(spark, dir)
      val admitted = Dedup.dropSeenNearDup(batch, idx, "doc_id", "text", minAgree = 0.5)
        .select("doc_id").as[Long].collect().toSet
      // 9L dropped ONLY if the appended rows actually joined the index
      assert(admitted === Set(12L))
      // drop the operator caches before the drift checks: a cached
      // index relation would serve the stale pre-delete count (the
      // freshness check reads storage, and Spark's cache matches the
      // same-path scan plan)
      Dedup.releaseCaches()
      // family mismatch: signatures across (n, h, parity) families are
      // not comparable — must refuse, not estimate garbage
      val e1 = intercept[IllegalArgumentException] {
        Dedup.readMinhashIndex(spark, dir, n = 4)
      }
      assert(e1.getMessage.contains("family"))
      // row drift behind the meta's back must refuse (largest part
      // file — small test relations leave empty part files whose
      // deletion would not change the count)
      val victim = new java.io.File(s"$dir/data").listFiles()
        .filter(_.getName.endsWith(".parquet")).maxBy(_.length())
      assert(victim.delete())
      val e2 = intercept[IllegalArgumentException] {
        Dedup.readMinhashIndex(spark, dir)
      }
      assert(e2.getMessage.contains("rows"))
    } finally {
      Dedup.releaseCaches()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("appendMinhashIndex default dup audit; compactMinhashIndex: one data file, identical reads") {
    // VERDICT r14 items 3 + 4 for the MinHash index: a retried batch
    // refuses to double-append by DEFAULT, and N appends' small files
    // compact to one via write-aside + swap with the meta verbatim
    val corpus = Seq((1L, base), (3L, nearDup)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_cmp").toString
    try {
      Dedup.writeMinhashIndex(corpus.coalesce(1), "doc_id", "text", dir)
      Dedup.appendMinhashIndex(spark,
        Seq((5L, unrelated)).toDF("doc_id", "text"), "doc_id", "text", dir)
      // default-on audit: re-appending an indexed id refuses loudly
      val eDup = intercept[IllegalArgumentException] {
        Dedup.appendMinhashIndex(spark,
          Seq((5L, unrelated)).toDF("doc_id", "text"), "doc_id", "text", dir)
      }
      assert(eDup.getMessage.contains("already present"))
      // pipelines that own their retry discipline opt out explicitly
      Dedup.appendMinhashIndex(spark,
        Seq((7L, base + " z")).toDF("doc_id", "text"), "doc_id", "text", dir,
        requireNewIds = false)
      def readSet() = Dedup.readMinhashIndex(spark, dir).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).mkString(","))).toSet
      val before = readSet()
      assert(new java.io.File(s"$dir/data").listFiles()
        .count(_.getName.endsWith(".parquet")) > 1,
        "appends should have left multiple data files")
      Dedup.compactMinhashIndex(spark, dir)
      assert(new java.io.File(s"$dir/data").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1,
        "compaction must leave exactly one data file")
      assert(readSet() == before && before.size == 4,
        "compaction must not change the index contents")
      assert(!new java.io.File(s"${dir}__compacting").exists
        && !new java.io.File(s"${dir}__precompact").exists)
      // the copied meta still enforces the family contract
      val e = intercept[IllegalArgumentException] {
        Dedup.readMinhashIndex(spark, dir, n = 4)
      }
      assert(e.getMessage.contains("family"))
    } finally {
      Dedup.releaseCaches()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("overlapStats counts batch rows whose content hash exists in the corpus") {
    val a = Seq((1L, base), (2L, base), (3L, unrelated)).toDF("doc_id", "text")
    val b = Seq((4L, base), (5L, base), (6L, nearDup), (7L, unrelated)).toDF("doc_id", "text")
    val r = Dedup.overlapStats(a, Seq("text"), b, Seq("text")).head()
    // 4, 5 (base) and 7 (unrelated) hit; 6 (nearDup) is novel content
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L && r.getDouble(2) === 0.75)
  }

  test("editNearDup: Levenshtein verification on LSH candidates") {
    // base vs base+" x": one word appended → tiny char churn, high
    // edit_sim; unrelated text shares no shingles → never a candidate
    val docs = Seq(
      (1L, base), (2L, base + " x"), (3L, unrelated)
    ).toDF("doc_id", "text")
    try {
      val got = Dedup.editNearDup(docs, "doc_id", "text", minSim = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.length === 1)
      val (id1, id2, lev, sim) = got(0)
      assert((id1, id2) === (1L, 2L))
      assert(lev === 2L) // " x" appended = 2 insertions
      assert(sim === 1.0 - 2.0 / (base.length + 2))
      // tighter threshold rejects the same pair
      assert(Dedup.editNearDup(docs, "doc_id", "text", minSim = 0.999).count() === 0L)
    } finally Dedup.releaseCaches()
  }

  test("jaccardJoin matches all-pairs brute force on 120 random docs") {
    // exactness contract: the prefix filter + length prune must find
    // EVERY pair with J >= tau — compare against the O(n²) reference
    val rnd = new scala.util.Random(42L)
    val docs = (1L to 120L).map { id =>
      val n = 3 + rnd.nextInt(12)
      id -> (0 until n).map(_ => ('a' + rnd.nextInt(8)).toChar.toString).mkString(" ")
    }
    val expected = (for {
      (i, ti) <- docs; (j, tj) <- docs if i < j
      si = ti.split(" ").filter(_.nonEmpty).toSet
      sj = tj.split(" ").filter(_.nonEmpty).toSet
      if si.nonEmpty && sj.nonEmpty
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.6
    } yield (i, j, jac)).toSet
    try {
      val got = Dedup.jaccardJoin(docs.toDF("doc_id", "text"), "doc_id", "text",
          minSim = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected.nonEmpty, "vacuous: random corpus produced no qualifying pairs")
      assert(got === expected)
    } finally Dedup.releaseCaches()
  }

  test("jaccardJoin n=3 matches shingle-set brute force on 80 random docs") {
    val rnd = new scala.util.Random(7L)
    val docs = (1L to 80L).map { id =>
      val m = 5 + rnd.nextInt(10)
      id -> (0 until m).map(_ => ('a' + rnd.nextInt(4)).toChar.toString).mkString(" ")
    }
    def sh(t: String): Set[String] =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val expected = (for {
      (i, ti) <- docs; (j, tj) <- docs if i < j
      si = sh(ti); sj = sh(tj) if si.nonEmpty && sj.nonEmpty
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.5
    } yield (i, j, jac)).toSet
    try {
      val got = Dedup.jaccardJoin(docs.toDF("doc_id", "text"), "doc_id", "text",
          minSim = 0.5, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected.nonEmpty, "vacuous: random corpus produced no qualifying pairs")
      assert(got === expected)
    } finally Dedup.releaseCaches()
  }

  test("jaccardJoin: exact boundary pair survives the FP-slack guards") {
    // J = 3/5 = 0.6 exactly: sets {a,b,c,d} and {a,b,c,e} share 3 of 5
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    try {
      val got = Dedup.jaccardJoin(docs, "doc_id", "text", minSim = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === Seq((1L, 2L, 0.6)))
    } finally Dedup.releaseCaches()
  }

  test("jaccardJoin capped: a dropped rarer bucket costs no pair a surviving bucket finds") {
    // Pairs with J ≥ tau that share a prefix token whose bucket the
    // cap keeps: what the capped call finds with no positional filter.
    def capped(docs: Seq[(Long, Set[String])], tau: Double, maxBucket: Int): Set[(Long, Long)] = {
      val df = docs.flatMap(_._2).groupBy(identity).map { case (t, ts) => t -> ts.size }
      val prefix = docs.map { case (id, s) => id -> s.toSeq.sortBy(t => (df(t), t))
        .take(s.size - math.ceil(tau * s.size - 1e-9).toInt + 1).toSet }.toMap
      val bucket = prefix.values.toSeq.flatten.groupBy(identity).map { case (t, ts) => t -> ts.size }
      (for {
        (i, si) <- docs; (j, sj) <- docs if i < j
        if (prefix(i) & prefix(j)).exists(bucket(_) <= maxBucket)
        inter = (si & sj).size if inter.toDouble / (si.size + sj.size - inter) >= tau
      } yield (i, j)).toSet
    }
    def run(docs: Seq[(Long, Set[String])], tau: Double, maxBucket: Int) =
      Dedup.jaccardJoin(docs.map { case (id, s) => id -> s.mkString(" ") }.toDF("doc_id", "text"),
          "doc_id", "text", minSim = tau, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def doc(id: Long, ts: String) = id -> ts.split(" ").toSet
    // x and y share r1 r2 r3 s c1 (J = 5/7); the r buckets hold 4 docs
    // and are dropped at maxBucket = 3, so s, the last token of both
    // 4-token prefixes, is where the pair meets: the positional bound
    // there (1 + 2 < 4) would drop a pair the cap kept
    val fixture = Seq(
      doc(1, "r1 r2 r3 s c1 c2"), doc(2, "r1 r2 r3 s c1 c3"),
      doc(3, "r1 r2 r3 c1 c2 c3"), doc(4, "r1 r2 r3 c1 c2 c4"),
      doc(5, "s u1 u2 u3"), doc(6, "s u4 u5 u6")) ++
      (7 to 10).map(i => doc(i, s"c1 c2 c3 c4 v$i w$i"))
    val rnd = new scala.util.Random(5L)
    val random = (1L to 80L).map(id => id -> Seq.fill(4 + rnd.nextInt(8))(
      s"t${rnd.nextInt(14)}").toSet)
    try {
      val want = capped(fixture, 0.5, 3)
      assert(want.contains((1L, 2L)), want)
      assert(run(fixture, 0.5, 3) == want)
      for (mb <- Seq(2, 5, 9)) assert(run(random, 0.5, mb) == capped(random, 0.5, mb), s"maxBucket $mb")
    } finally Dedup.releaseCaches()
  }

  test("jaccardJoin plan has no cartesian or nested-loop join") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    try {
      val plan = Dedup.jaccardJoin(docs, "doc_id", "text", minSim = 0.5)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally Dedup.releaseCaches()
  }

  test("sigAgreement: 1.0 on identical signatures, 0.0 on disjoint ones") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L)))
      .toDF("a", "b", "c")
      .select(Dedup.sigAgreement(col("a"), col("b")).as("same"),
        Dedup.sigAgreement(col("a"), col("c")).as("diff"))
    val r = df.collect()(0)
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.0)
  }

  test("minhashCalibration: exact copies have est = jac = 1, err = 0; est stays in [0,1]") {
    val docs = Seq((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
      .toDF("doc_id", "text")
    try {
      val got = Dedup.minhashCalibration(docs, "doc_id", "text", parity = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val (est, jac, err) = got((1L, 2L))
      assert(est === 1.0 && jac === 1.0 && err === 0.0)
      got.values.foreach { case (e, j, a) =>
        assert(e >= 0.0 && e <= 1.0 && j >= 0.0 && j <= 1.0)
        assert(a === math.abs(e - j))
      }
      // the near-dup pair must surface as a candidate with high agreement
      assert(got.contains((1L, 3L)) || got.contains((2L, 3L)),
        "planted near-dup must be an LSH candidate")
    } finally Dedup.releaseCaches()
  }

  test("lshBudget: per-config pair bill equals the bucket-table recount") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      val base = if (i % 4 == 0) "the quick brown fox jumps over the lazy dog again"
      else s"unique text body number $i with its own words ${i * 7} and ${i * 13}"
      (i, base)
    }.toDF("doc_id", "text")
    try {
      val got = Dedup.lshBudget(docs, "doc_id", "text", n = 3, h = 16,
        bs = Seq(4, 8), parity = true)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // recount each config straight off the public bucket table
      for (b <- Seq(4, 8)) {
        val occ = Dedup.minhashBuckets(docs, "doc_id", "text", n = 3, h = 16,
          b = b, parity = true)
          .groupBy("band", "bucket").count()
          .collect().map(_.getLong(2))
        val (r, nb, cand) = got(b.toLong)
        assert(r === (16 / b).toLong)
        assert(nb === occ.length.toLong, s"b=$b")
        assert(cand === occ.map(m => m * (m - 1) / 2).sum, s"b=$b")
      }
      // identical docs (every 4th) share every bucket: the bill is
      // at least C(10,2) per band config
      assert(got(4L)._3 >= 45L && got(8L)._3 >= 45L)
    } finally Dedup.releaseCaches()
  }
}

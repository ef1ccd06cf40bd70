package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication for LLM-training-data pipelines: exact
  * (content-hash group-by), MinHash+LSH near-dup (banded — candidate
  * pairs come from bucket joins, never an all-pairs product), SimHash
  * fingerprints, and n-gram Jaccard verification of candidates.
  *
  * Not present in the reference (its only relation is the gene table,
  * SURVEY.md §1) — this is the 100 TB extension surface. Scale
  * posture:
  *  - exact dedup: one hash-shuffle on a 32-hex-char key, O(rows);
  *  - MinHash: signatures are computed rowwise in whole-stage codegen
  *    (HOFs over the token array — no UDF), then exploded to B rows
  *    per doc; the candidate join is per-(band, bucket), so work is
  *    Σ bucket² per band, not n²;
  *  - verification joins texts back only for candidate pairs.
  *
  * Cross-engine determinism: MinHash signatures are integer minima of
  * universal hashes (a_i·x + b_i mod p) over a per-shingle base hash;
  * in parity mode the base hash derives from md5 (identical in Spark
  * and DuckDB), so every operator here is bit-exact oracle-checkable.
  * The scale default swaps the base hash for masked xxhash64 — same
  * shape, no digest cost.
  */
object Dedup {

  /** Cached intermediates created by operators in this object (the
    * signature table inside nearDuplicates). Spark's CacheManager pins
    * them for the SparkSession's lifetime, so long-lived sessions that
    * call nearDuplicates repeatedly must release them: call
    * releaseCaches() after materializing the result (Bench/Verify do
    * this after every query action). */
  private val cachedTables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val cachedRdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  private def registerCache(df: DataFrame): DataFrame = synchronized {
    val c = df.cache(); cachedTables += c; c
  }

  /** Pin an RDD intermediate (Graph's edge blocks) under the same
    * lifecycle, at the storage level Dataset.cache uses. */
  private[operators] def pin[T](rdd: RDD[T]): RDD[T] = synchronized {
    cachedRdds += rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd
  }

  /** Pin a caller-built intermediate under this object's cache
    * lifecycle (released by the next releaseCaches()). For pipeline
    * compositions whose intermediate feeds several downstream
    * operators — e.g. the exact-deduped table that both sides of a
    * near-dup pass re-read — so the whole upstream chain executes
    * once instead of once per consumer. */
  def pin(df: DataFrame): DataFrame = registerCache(df)

  /** Unpersist every intermediate cached by this object's operators.
    * Safe to call at any time — a released cache is recomputed, not
    * wrong.
    *
    * Scope: the registry (and therefore this release) is
    * SESSION-GLOBAL and single-tenant by design — it frees every
    * cache registered object-wide, including ones still referenced by
    * another caller's in-flight query in a shared session (results
    * stay correct via recompute; only the cache benefit disappears).
    * Concurrent multi-tenant sessions should release at a quiesce
    * point (as Bench/Verify do, after each query's action), and
    * long-lived sessions MUST call this periodically or cachedTables
    * grows without bound. */
  def releaseCaches(): Unit = synchronized {
    cachedTables.foreach(_.unpersist(false)); cachedTables.clear()
    cachedRdds.foreach(_.unpersist(false)); cachedRdds.clear()
  }

  /** Whitespace tokenization — single-space split, matching the
    * synthetic corpus and DuckDB's string_split. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingle set (order-preserving construction,
    * deduplicated). Empty array when the doc has < n tokens. Runs the
    * native Shingles kernel; shinglesHof below is its bit-identical
    * declarative twin (pinned in DedupSpec). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Shingles.shingles(text, n)

  /** The composed-HOF twin of the Shingles kernel — the form the
    * DuckDB oracle mirrors (list comprehension over token slices). */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array()))
  }

  /** MinHash universal-hash mixing constants: h_i(x) = (a_i·x + b_i)
    * mod p over a 32-bit base hash x. p = 2^31-1 (Mersenne prime, < x's
    * range so minima genuinely permute); a_i ≤ ~2.1e7 keeps a_i·x <
    * 2^57 — no signed-64 overflow on either engine. Formula-derived
    * constants (not a table) so the DuckDB oracle can generate them
    * with `range(1, h+1)`. */
  private val P = 2147483647L

  /** Per-shingle 32-bit base hash, computed ONCE per shingle (the h
    * signature rows are derived by cheap integer mixing — the old
    * md5-per-(i,shingle) form cost h full digests per shingle and
    * shuffled 32-char strings).
    *  - parity=true: first 8 hex chars of md5 — bit-exact in DuckDB
    *    (`CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)`);
    *  - parity=false (scale default): xxhash64 masked to 32 bits —
    *    ~10× cheaper, Spark-only. */
  def shingleHashes(shingleCol: Column, parity: Boolean): Column =
    if (parity)
      transform(shingleCol, s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))
    else
      transform(shingleCol, s => xxhash64(s).bitwiseAND(lit(4294967295L)))

  /** MinHash signature from a base-hash array: element i = min over
    * shingles of (a_i·x + b_i) mod p — an array<long> of length h.
    * Null when the base-hash set is empty. This HOF form is the
    * oracle-shaped declarative twin of the native MinHashSig kernel
    * (what sigTable actually runs) — bit-identical, pinned in
    * DedupSpec. */
  def minhashSignature(hashesCol: Column, h: Int): Column =
    when(size(hashesCol) > 0,
      transform(sequence(lit(1), lit(h)), i => {
        val il = i.cast("long")
        val a = lit(1299721L) * il + lit(7L)
        val b = lit(104729L) * il
        array_min(transform(hashesCol, x => (a * x + b) % lit(P)))
      }))

  /** Full text→signature composition as one Column: shingle, base-
    * hash, minhash — the SQL-surface form (registered as
    * minhash_signature by GraftExtensions), running the native
    * MinHashSig kernel. Null when the doc has no n-shingles,
    * mirroring sigTable's filter. */
  def minhashSignatureOf(text: Column, n: Int, h: Int, parity: Boolean): Column =
    graft.functions.MinHashSig.minhashSig(shingles(text, n), h, parity)

  /** LSH banding: B bands of R = H/B signature rows each; the bucket
    * key is the band's minima joined with ','. Docs agreeing on ALL
    * R rows of any band land in the same (band, bucket). */
  def bandBuckets(sigCol: Column, b: Int, r: Int): Column =
    transform(sequence(lit(1), lit(b)), bi =>
      struct(bi.cast("int").as("band"),
        concat_ws(",", transform(slice(sigCol, (bi - lit(1)) * r + lit(1), lit(r)),
          x => x.cast("string"))).as("bucket")))

  /** (id, shingles, signature) table — the shared upstream of both the
    * bucket explode and the verification join. Signatures come from
    * the native MinHashSig kernel (one S·h integer loop per doc);
    * shingleHashes→minhashSignature above is its bit-identical
    * HOF/oracle twin (pinned in DedupSpec). */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
                       n: Int, h: Int, parity: Boolean): DataFrame =
    df.select(col(idCol), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col(idCol), col("sh"),
        graft.functions.MinHashSig.minhashSig(col("sh"), h, parity).as("sig"))

  /** LSH parameter-sweep budget: for each band count b (rows per band
    * r = h/b), the bucket count and the candidate-pair JOIN COST
    * Σ_buckets m(m−1)/2 — with multiplicity across bands, because
    * that is what the bucket join actually pays. The tuning table an
    * engineer reads before picking (b, r): more bands = higher recall
    * at Jaccard^r per band but a bigger candidate bill; this measures
    * the bill on the real corpus instead of assuming uniform buckets
    * (boilerplate-heavy corpora are far from uniform — exactly when
    * the sweep matters).
    *
    * Scale shape: ONE signature pass (the native MinHashSig kernel),
    * a bounded ×Σb band explode, one (config, band, bucket) count,
    * one config-sized rollup. The configs come off a SINGLE sig scan
    * via a nested explode — the earlier per-config union re-ran the
    * signature kernel |bs| times, which the sf10 scale run measured
    * at 3× the whole query's cost once the corpus was large enough
    * for signing to dominate. All exact longs; m(m−1) is even so the
    * halving div is exact. Output: (b, r, n_buckets, n_candidates). */
  def lshBudget(df: DataFrame, idCol: String, textCol: String,
                n: Int, h: Int, bs: Seq[Int],
                parity: Boolean = false): DataFrame = {
    require(bs.nonEmpty && bs.distinct == bs, s"band counts must be distinct: $bs")
    bs.foreach(b => require(b >= 1 && h % b == 0,
      s"every band count must divide h=$h, got $b"))
    val sigs = sigTable(df, idCol, textCol, n, h, parity)
    val cfgs = bs.map { b =>
      struct(lit(b.toLong).as("b"), lit((h / b).toLong).as("r"),
        bandBuckets(col("sig"), b, h / b).as("bbs"))
    }
    val exploded = sigs
      .select(explode(array(cfgs: _*)).as("cfg"))
      .select(col("cfg.b").as("b"), col("cfg.r").as("r"),
        explode(col("cfg.bbs")).as("bb"))
    exploded
      .groupBy(col("b"), col("r"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
      .agg(count(lit(1)).cast("long").as("__m"))
      .groupBy(col("b"), col("r"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(call_function("div", col("__m") * (col("__m") - 1L), lit(2L)))
          .cast("long").as("n_candidates"))
  }

  /** (id, band, bucket) table: B rows per document. */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     n: Int, h: Int, b: Int, parity: Boolean = false): DataFrame = {
    require(h % b == 0, s"h=$h must be divisible by b=$b")
    sigTable(df, idCol, textCol, n, h, parity)
      .select(col(idCol), explode(bandBuckets(col("sig"), b, h / b)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs from bucket co-occupancy (id1 < id2, distinct).
    * This is the LSH step that avoids the n² all-pairs product: the
    * join key is (band, bucket), so only docs sharing a bucket meet.
    * maxBucket caps bucket size — the classic banded-LSH skew guard: a
    * degenerate (band, bucket) with m members (boilerplate docs)
    * otherwise contributes m² join rows. Oversized buckets are dropped
    * (their members still meet via their other b-1 bands unless they
    * are pathological everywhere). */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    val base = dropOverPopulated(buckets, Seq("band", "bucket"), maxBucket)
    val a = base.select(col(idCol).as("id1"), col("band"), col("bucket"))
    val b = base.select(col(idCol).as("id2"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** The shared skew guard: drop rows whose key group exceeds `max`
    * members. Anti-join against the OVERSIZED keys, not semi-join
    * against the ok ones: the blacklist is tiny by construction (only
    * pathological keys exceed the cap), so it broadcasts and the
    * guard costs one map-side filter instead of a full-width shuffle
    * join. Used by both the banded-LSH bucket join and the winnow
    * fingerprint join. */
  private def dropOverPopulated(df: DataFrame, keyCols: Seq[String], max: Int): DataFrame =
    if (max == Int.MaxValue) df
    else {
      val over = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > max)
        .select(keyCols.map(col): _*)
      df.join(broadcast(over), keyCols, "left_anti")
    }

  /** Exact n-gram Jaccard similarity between two shingle-set columns:
    * |A∩B| / |A∪B| on distinct shingles — the verification stage run
    * only on LSH candidates. */
  def jaccardSim(sh1: Column, sh2: Column): Column = {
    val inter = size(array_intersect(sh1, sh2))
    inter.cast("double") / (size(sh1) + size(sh2) - inter).cast("double")
  }

  /** Near-duplicate pairs: LSH candidates verified with exact n-gram
    * Jaccard, keeping pairs with sim >= minSim.
    *
    * Single-pass: the (id, shingles, signature) table is computed once
    * and CACHED — it feeds both sides of the bucket self-join AND the
    * verification joins (previously shingling+signing ran 3×, most of
    * the query's cost). At 100 TB the cache becomes a materialized
    * intermediate table (persist DISK_ONLY or a checkpoint); the
    * asymptotics are unchanged.
    *
    * Cache lifecycle: the signature cache lives until
    * Dedup.releaseCaches() — call it once the result is materialized
    * (long-lived sessions would otherwise accumulate one pinned
    * dataset per invocation). */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, h: Int = 16, b: Int = 8,
                     minSim: Double = 0.0, parity: Boolean = false,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    require(h % b == 0, s"h=$h must be divisible by b=$b")
    val sigs = registerCache(sigTable(df, idCol, textCol, n, h, parity)
      .select(col(idCol).as("id"), col("sh"), col("sig")))
    // cached: referenced up to 3× downstream (the skew-guard count and
    // BOTH sides of the candidate self-join) — without the cache the
    // explode re-runs per reference
    val buckets = registerCache(sigs
      .select(col("id"), explode(bandBuckets(col("sig"), b, h / b)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")))
    candidatePairs(buckets, "id", maxBucket)
      .join(sigs.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sigs.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"), jaccardSim(col("sh1"), col("sh2")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Near-duplicate pairs verified by EDIT DISTANCE rather than
    * n-gram Jaccard — the complementary verification mode: Jaccard on
    * shingle SETS is blind to how edits are distributed (a single
    * moved paragraph and fifty scattered typos can score the same),
    * while normalized Levenshtein measures the literal character
    * churn, which is what template-diff and typo-class duplicate
    * policies are written against. Candidates still come from the
    * banded MinHash LSH (recall rides the surviving shingles);
    * verification is `levenshtein` on the raw text:
    * edit_sim = 1 − lev / max(len1, len2), pairs kept at ≥ minSim.
    *
    * Scale: Levenshtein is O(len₁·len₂) per CANDIDATE pair, so the
    * quadratic cost rides the bucketed, skew-capped pair table —
    * never n². The two text joins are plain hash joins on ids; text
    * moves only for candidate rows. Output: (id1, id2, lev,
    * edit_sim). */
  def editNearDup(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, h: Int = 16, b: Int = 8,
                  minSim: Double = 0.8, parity: Boolean = false,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    val cand = nearDuplicates(df, idCol, textCol, n, h, b,
      minSim = 0.0, parity = parity, maxBucket = maxBucket)
      .select("id1", "id2")
    val t = df.select(col(idCol), col(textCol))
    val lev = levenshtein(col("t1"), col("t2")).cast("long")
    val maxLen = greatest(length(col("t1")), length(col("t2")))
    cand
      .join(t.select(col(idCol).as("id1"), col(textCol).as("t1")), "id1")
      .join(t.select(col(idCol).as("id2"), col(textCol).as("t2")), "id2")
      .select(col("id1"), col("id2"), lev.as("lev"),
        when(maxLen === 0, lit(1.0))
          .otherwise(lit(1.0) - lev.cast("double") / maxLen.cast("double"))
          .as("edit_sim"))
      .filter(col("edit_sim") >= minSim)
  }

  /** Winnowing-based near-dup candidates: document pairs sharing at
    * least minShared winnow fingerprints. Detects LOCAL overlap (a
    * long shared passage) that set-level MinHash dilutes away on
    * otherwise-different documents — the plagiarism-shaped dedup.
    * Join key = fingerprint value, so the same skew hazard as banded
    * LSH applies: maxDocsPerFp drops fingerprints present in more
    * than that many docs (they are non-discriminative boilerplate
    * anyway — a header shared by m docs would otherwise put m² rows
    * in one join key), via the shared broadcast-blacklist guard. The
    * cap is ON by default; size it to ~1% of the corpus — popular
    * fingerprints carry nearly all the join volume and none of the
    * signal (measured: 678M of 678.4M join rows at sf0.1 came from
    * fps in >100 of 5000 docs). Output: (id1, id2, n_shared ≥
    * minShared). */
  def winnowNearDup(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4, minShared: Int = 10,
                    maxDocsPerFp: Int = 10000): DataFrame = {
    val fps = registerCache(
      TextAnalysis.winnowMins(df, idCol, textCol, k, w)
        .select(col(idCol).as("id"), explode(array_distinct(col("__mins"))).as("f")))
    val base = dropOverPopulated(fps, Seq("f"), maxDocsPerFp)
    base.select(col("id").as("id1"), col("f"))
      .join(base.select(col("id").as("id2"), col("f")), Seq("f"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Drop near-duplicates: remove the HIGHER id of every verified
    * near-dup pair (sim ≥ minSim), keeping canonical lower-id docs —
    * the curation-pipeline form of nearDuplicates. A doc that pairs
    * with several others is dropped once; chains keep their lowest
    * member. One anti-join over the pair table. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, h: Int = 16, b: Int = 8,
                         minSim: Double = 0.5, parity: Boolean = false,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    val doomed = nearDuplicates(df, idCol, textCol, n, h, b, minSim, parity, maxBucket)
      .select(col("id2").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Connected components of a pair graph by iterative min-label
    * propagation — the transitive-closure step that turns near-dup
    * PAIRS into dedup CLUSTERS. dropNearDuplicates' per-pair rule
    * (drop the higher id of each pair) keeps every LOCAL minimum, so
    * a chain a(1)–c(3)–b(2) keeps both 1 and 2 from one cluster;
    * components give the one-representative-per-cluster semantics
    * (the component label IS the cluster's minimum id).
    *
    * Each round: the labels broadcast to the pair list (pinned with
    * both orientations and a self-pair per id, hash-partitioned on its
    * first id), one grouped min per id over its pairs' labels that
    * also keeps the id's previous label (its self-pair's), and a
    * co-partitioned join with the pinned id table — one broadcast and
    * no exchange (Graph.broadcastState prices the broadcast). Labels
    * only ever decrease, so a round changed something iff one of its
    * rows has component < prev, and the loop stops after the first
    * round where none has (Graph.iterate's convergent mode: the flag is
    * observed on the round's checkpoint job, no second job). Every
    * round, the stable one included, is one eager localCheckpoint —
    * the SQL executions e2ebench counts component rounds by, which is
    * why this loop stays on Dataset rounds. Rounds needed
    * = graph diameter + the stable one; for near-dup clusters that is small
    * (duplicates of a document are duplicates of each other — clusters
    * are near-cliques; the sf0.01 corpus's deepest chain is 3 nodes). For adversarial
    * long-path graphs the known fix is large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) at O(log²) rounds — not needed for dedup
    * workloads, noted here so the limit is a decision, not a
    * surprise. No driver-side graph; the only collect is the
    * broadcast labels.
    *
    * A NULL id connects nothing: it is labelled NULL, and its pairs
    * link none of their other ids (componentsStar's rule too).
    *
    * Output: (id, component) for every id in the pair table. */
  def connectedComponents(pairs: DataFrame, id1Col: String = "id1", id2Col: String = "id2",
                          maxIter: Int = 50): DataFrame = {
    // registerCache, not a bare persist: if an action inside the loop
    // throws, releaseCaches() can still free the pinned tables — the
    // same failure-safe lifecycle as every other operator intermediate.
    // Every id also pairs with itself, so a round's grouped min over an
    // id's pairs sees its own label beside its neighbours'.
    val sym = registerCache(Graph.partitionedOn(
      pairs.select(explode(array(
          Seq((id1Col, id2Col), (id2Col, id1Col), (id1Col, id1Col), (id2Col, id2Col))
            .map { case (a, b) => struct(col(a).as("src"), col(b).as("dst")) }: _*)).as("__p"))
        .select(col("__p.src").as("src"), col("__p.dst").as("dst")), "src")
      .distinct())
    val edges = sym.filter(col("src").isNotNull && col("dst").isNotNull)
    val nodes = registerCache(sym.select(col("src").as("id")).distinct())
    val n = Graph.rows(nodes)
    // iterate checkpoints every round, so a round's plan never nests
    // the rounds before it. Where a lost executor must not restart the
    // whole loop, a reliable .checkpoint() is the same shape.
    val (labels, done) = Graph.iterate(nodes.select(col("id"), col("id").as("component")), maxIter,
        Some(Graph.noRowMeets(col("component") < col("prev")))) { (labels, _) =>
      val mins = edges
        .join(Graph.broadcastState(labels.select(col("id").as("dst"), col("component").as("__c")), n),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("__c")).as("component"),
          min(when(col("src") === col("dst"), col("__c"))).as("prev"))
      // the NULL id has no pairs to group: its label stays NULL
      nodes.join(mins.hint("shuffle_hash"), Seq("id"), "left")
    }
    sym.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    // a silent partial result would violate the one-label-per-
    // component contract downstream (dropNearDupClusters would keep
    // several "representatives" of one cluster) — refuse instead
    require(done, s"connectedComponents did not converge in $maxIter rounds: the " +
      "pair graph's diameter exceeds the cap (raise maxIter, or pre-split the " +
      "graph — near-dup clusters this deep usually mean the similarity " +
      "threshold is admitting chains of unrelated documents)")
    labels.select("id", "component")
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the ESCALATION path connectedComponents' docstring
    * names: min-label propagation needs diameter rounds, this needs
    * O(log² n) regardless of diameter, so adversarial long-path
    * graphs (linked-page chains, citation paths — not near-dup
    * cliques) still converge in a handful of shuffles.
    *
    * Each round is two grouped aggregations over the edge list:
    * large-star connects every neighbor LARGER than u to the minimum
    * of u's neighborhood (emits (v, m) for v ∈ Γ(u), v > u, with
    * m = min(Γ(u) ∪ {u})); small-star keys each edge by its larger
    * endpoint and connects the smaller ones to their minimum (emits
    * (v, m) for v ∈ Γ(u)\{m} plus (u, m)). Edges only ever move
    * toward component minima; the fixed point is a star per
    * component rooted at its minimum id. Small-star's output is
    * grouped together with the round's input edges, each tagged by
    * side, so the same aggregate that dedups the new edge set also
    * says whether it differs from the old one (an edge on one side
    * only); the loop stops after the first round where none does
    * (Graph.iterate's convergent mode). No driver-side graph, no
    * collect; per-round localCheckpoint cuts the lineage exactly as
    * the propagation loop does.
    *
    * Same contract as connectedComponents: (id, component) for every
    * id in the pair table, component = the component's minimum id,
    * and a NULL id connects nothing and is labelled NULL — the two
    * are interchangeable and the oracle gate runs this one against
    * the identical SQL closure. */
  def componentsStar(pairs: DataFrame, id1Col: String = "id1", id2Col: String = "id2",
                     maxIter: Int = 50): DataFrame = {
    // read once at the end (no cache needed): the only consumer is
    // the final left join that restores isolated / self-paired ids
    val ids = pairs.select(col(id1Col).as("id"))
      .union(pairs.select(col(id2Col).as("id"))).distinct()
    // __tag: 1 = an edge this round emits, 2 = an edge it read; an
    // edge on both sides ORs to 3, so the round is stable iff all are
    val init = pairs
      .select(least(col(id1Col), col(id2Col)).as("lo"),
        greatest(col(id1Col), col(id2Col)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .localCheckpoint(eager = true)
      .withColumn("__tag", lit(1))
    val current = col("__tag") =!= 2
    val (tagged, done) = Graph.iterate(init, maxIter,
        Some(Graph.noRowMeets(col("__tag") =!= 3))) { (cur, _) =>
      val edges = cur.filter(current).select("lo", "hi")
      // large-star over the symmetric adjacency
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      // v > u >= m, so (m, v) is already (lo, hi)-canonical
      val large = sym.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
      // small-star: every edge already keyed by its larger endpoint
      val mins2 = large.groupBy("hi").agg(min(col("lo")).as("m"))
      large.join(mins2, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(mins2.select(col("m").as("lo"), col("hi")))
        .withColumn("__tag", lit(1))
        .union(edges.withColumn("__tag", lit(2)))
        .groupBy("lo", "hi").agg(bit_or(col("__tag")).as("__tag"))
    }
    require(done, s"componentsStar did not converge in $maxIter rounds — " +
      "O(log² n) alternation should never need this many; the edge list is " +
      "likely growing from upstream duplicate pairs")
    // fixed point is a star set: every non-root appears as hi exactly
    // once (the groupBy-min is a safety net, not a semantic step)
    val stars = tagged.filter(current).groupBy(col("hi")).agg(min(col("lo")).as("component"))
      .select(col("hi").as("id"), col("component"))
    ids.join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Cluster-level near-dup removal: pairs → connected components →
    * keep each cluster's minimum-id representative (plus every doc in
    * no pair at all). The set-correct form of dropNearDuplicates —
    * per-pair dropping keeps every LOCAL minimum, which over-keeps on
    * transitive chains. Costs the component loop (diameter rounds
    * over the pair table, which holds only near-dup docs — tiny next
    * to the corpus) plus one anti-join. */
  def dropNearDupClusters(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, h: Int = 16, b: Int = 8,
                          minSim: Double = 0.5, parity: Boolean = false,
                          maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = nearDuplicates(df, idCol, textCol, n, h, b, minSim, parity, maxBucket)
      .select("id1", "id2")
    val doomed = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster-level near-dup removal: pairs → connected
    * components → keep each component's BEST-scoring document (max
    * scoreCol, lowest id on ties) instead of dropNearDupClusters'
    * minimum id. The form real curation pipelines want — of a dup
    * cluster, keep the longest / highest-quality copy, not whichever
    * crawled first. Docs in no pair pass through untouched.
    *
    * Costs what dropNearDupClusters costs plus one max_by partial agg
    * over the component members (a relation of near-dup docs only —
    * tiny next to the corpus; the winner agg ships one candidate per
    * component per task, never window-sorts). idCol must be numeric
    * (keepBestPerKey's tie-break contract). */
  def dropNearDupClustersKeepBest(df: DataFrame, idCol: String, textCol: String,
                                  scoreCol: String,
                                  n: Int = 3, h: Int = 16, b: Int = 8,
                                  minSim: Double = 0.5, parity: Boolean = false,
                                  maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = nearDuplicates(df, idCol, textCol, n, h, b, minSim, parity, maxBucket)
      .select("id1", "id2")
    val comps = connectedComponents(pairs).select(col("id").as("__cid"), col("component"))
    val members = df.join(comps, df(idCol) === comps("__cid")).drop("__cid")
    val best = Curation.keepBestPerKey(members, Seq("component"), scoreCol, idCol)
      .drop("component")
    val untouched = df.join(comps.select(col("__cid").as(idCol)), Seq(idCol), "left_anti")
    untouched.unionByName(best)
  }

  /** Per-group duplication audit — the dashboard a curation run emits
    * per source/domain/snapshot: how many rows, how many distinct
    * contents, the dup overhead, and how much content is SHARED with
    * other groups (mirror sites, syndication). One row per group:
    * (groupCol, docs, distinct_keys, dup_docs, shared_keys) where
    * shared_keys counts this group's distinct contents that also
    * appear in ≥1 other group.
    *
    * Scale shape: rows reduce map-side to (group, md5) in the scan
    * stage; one partial-agg shuffle to (group, hash) counts, one more
    * on hash for the cross-group fan-out, then a per-group rollup of
    * the (group, hash) relation — every shuffled relation is counts
    * over compact keys, never document text. */
  def dedupReport(df: DataFrame, keyCols: Seq[String], groupCol: String): DataFrame = {
    val gh = registerCache(
      df.select(col(groupCol).as("__grp"), contentHash(keyCols.map(col): _*).as("__h"))
        .groupBy("__grp", "__h").agg(count(lit(1)).as("__n")))
    val spread = gh.groupBy("__h").agg(count(lit(1)).as("__n_groups"))
    gh.join(spread, Seq("__h"))
      .groupBy(col("__grp").as(groupCol))
      .agg(sum("__n").cast("long").as("docs"),
        count(lit(1)).cast("long").as("distinct_keys"),
        (sum("__n") - count(lit(1))).cast("long").as("dup_docs"),
        sum(when(col("__n_groups") > 1, 1L).otherwise(0L)).cast("long").as("shared_keys"))
  }

  /** Content hash for exact dedup: md5 of the concatenated key columns
    * with a \u0001 separator (collision-safe for text columns that
    * cannot contain the separator). NULLs are replaced by a distinct
    * \u0002 sentinel BEFORE concat_ws — concat_ws SKIPS nulls, so
    * without it multi-column keys ('a', NULL) and (NULL, 'a') would
    * collide. For a single non-null column this degenerates to
    * md5(col), which is what the oracle computes. */
  def contentHash(cols: Column*): Column =
    md5(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))

  /** Exact-duplicate groups: (hash, n, keep_id) — one row per distinct
    * content, keep_id = lowest id of the group (the canonical row). */
  def exactGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.select(col(idCol), contentHash(keyCols.map(col): _*).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Drop exact duplicates keeping the lowest-id row per content hash.
    * One window over the hash key — a single O(rows) shuffle. */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(contentHash(keyCols.map(col): _*)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ── Incremental dedup: a new batch vs a persisted corpus index ──
  //
  // Continuous ingestion cannot re-dedup 100 TB against itself per
  // batch; it dedups the BATCH against a compact INDEX of what is
  // already admitted, then appends the batch's own entries to the
  // index. Two index granularities: content hashes (exact) and
  // minhash signatures (near-dup) — both O(docs) rows of a few dozen
  // bytes, never the corpus text.

  /** Exact-dedup index: the distinct content hashes of a corpus —
    * one 32-hex row per unique content, regardless of corpus width.
    * Persist it (parquet, bucketed by content_hash for an exchange-
    * free anti-join) and union in each admitted batch's hashes. */
  def exactIndex(corpus: DataFrame, keyCols: Seq[String]): DataFrame =
    corpus.select(contentHash(keyCols.map(col): _*).as("content_hash")).distinct()

  /** Drop batch rows whose content is already in the index — the
    * incremental form of dropExactDuplicates: yesterday's corpus is
    * never re-scanned; the anti-join shuffles 32-char hashes only.
    * contentHash maps NULLs to a sentinel (never a null hash), so a
    * null-content batch row matches a null-content corpus row — same
    * grouping rule as dropExactDuplicates. Batch-INTERNAL duplicates are not
    * this function's job — run dropExactDuplicates on the batch
    * first; the composition admits exactly what a full re-dedup of
    * corpus+batch would keep from the batch. */
  def dropSeenExact(batch: DataFrame, index: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(!batch.columns.contains("__ch"),
      "batch already has a __ch column — rename it before dropSeenExact")
    batch.withColumn("__ch", contentHash(keyCols.map(col): _*))
      .join(index.select(col("content_hash").as("__ch")), Seq("__ch"), "left_anti")
      .drop("__ch")
  }

  /** Cross-corpus overlap audit: how much of `b` is already in `a`?
    * One row — (n_b, n_exact, frac_exact) — counting b rows whose
    * content hash appears anywhere in a: the "is this new dataset
    * actually new" check run BEFORE paying for a merge+dedup. Only
    * 32-hex hashes shuffle (one distinct + one left join); text never
    * moves. For near-duplicate overlap, compare counts around
    * dropSeenNearDup(b, minhashIndex(a)). */
  def overlapStats(a: DataFrame, aKeys: Seq[String],
                   b: DataFrame, bKeys: Seq[String]): DataFrame = {
    val ah = a.select(contentHash(aKeys.map(col): _*).as("__h")).distinct()
      .withColumn("__in", lit(1))
    b.select(contentHash(bKeys.map(col): _*).as("__h"))
      .join(ah, Seq("__h"), "left")
      .agg(count(lit(1)).cast("long").as("n_b"),
        sum(when(col("__in").isNotNull, 1L).otherwise(0L)).cast("long").as("n_exact"))
      .select(col("n_b"), col("n_exact"),
        (col("n_exact").cast("double") / col("n_b").cast("double")).as("frac_exact"))
  }

  /** Near-dup index of a curated corpus: (id, sig) — h longs per doc,
    * NO shingle sets. Signature agreement (below) stands in for exact
    * Jaccard at verification time, which is precisely what lets the
    * index stay this small. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, h: Int = 16, parity: Boolean = false): DataFrame =
    sigTable(corpus, idCol, textCol, n, h, parity)
      .select(col(idCol).as("id"), col("sig"))

  // ── Persisted MinHash index + freshness contract (VERDICT r11 item 5)
  //
  // Signatures are only comparable under the SAME hash family: an
  // index built with different (n, h, parity) silently estimates
  // garbage agreement against a batch signed with today's params —
  // every band join plausible, every verdict wrong. The persisted
  // form therefore pins (n, h, parity), the row count and the
  // tombstone count in its Artifacts meta; readMinhashIndex refuses a
  // family mismatch or a count drift, and appendMinhashIndex signs new
  // batches with the STORED family. Layout: `path/data/` (the (id,
  // sig) parquet) + `path/_graft_index_meta/` + `path/_tomb/`.

  private val MinhashMetaVersion = 2

  /** Decoded MinHash index meta; v1 (no deletes) reads as deleted = 0
    * — the tolerant-read convention (ADVICE r16). */
  private[operators] final case class MinhashMeta(version: Int, rows: Long,
                                                  deleted: Long, n: Int,
                                                  h: Int, parity: Boolean) {
    def live: Long = rows - deleted
  }

  /** Writes `meta` at the current format version. */
  private def writeMinhashMeta(spark: SparkSession, path: String,
                               meta: MinhashMeta): Unit =
    Artifacts.writeMeta(spark, s"$path/_graft_index_meta",
      (MinhashMetaVersion, meta.rows, meta.deleted, meta.n, meta.h,
        meta.parity),
      "version", "rows", "deleted", "n", "h", "parity")

  private def readMinhashMeta(spark: SparkSession, path: String): MinhashMeta = {
    val m = Artifacts.readMeta(spark, s"$path/_graft_index_meta",
      "MinHash index", 1 to MinhashMetaVersion)
    MinhashMeta(m.version, m.get[Long]("rows"), m.since(2, "deleted", 0L),
      m.get[Int]("n"), m.get[Int]("h"), m.get[Boolean]("parity"))
  }

  /** Persist the near-dup index: minhashIndex written as parquet plus
    * the hash-family + row-count meta. One signature row (h longs)
    * per shingle-able doc — O(corpus) rows of a few dozen bytes. */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, n: Int = 3, h: Int = 16,
                        parity: Boolean = false): Unit = {
    minhashIndex(corpus, idCol, textCol, n, h, parity)
      .write.mode("overwrite").parquet(s"$path/data")
    val spark = corpus.sparkSession
    // stale tombstones from a previous index at this root must not
    // mask the fresh build's rows
    Artifacts.delete(spark, Artifacts.rootTombDir(path))
    writeMinhashMeta(spark, path, MinhashMeta(MinhashMetaVersion,
      Artifacts.scan(spark, s"$path/data").rows, deleted = 0L, n, h, parity))
    Artifacts.refreshIndexPath(spark, path)
  }

  /** Tombstone-delete ids from a persisted MinHash index — the
    * takedown mutation (VERDICT r16 item 2) for the near-dup
    * signature table (Artifacts.deleteIds, ids in their native type):
    * the read surface anti-joins the set (so a deleted doc stops
    * vetoing batch docs immediately), and the next compact drops the
    * rows physically. Idempotent and self-healing. */
  def deleteFromMinhashIndex(spark: SparkSession, ids: DataFrame,
                             idCol: String, path: String): Unit = {
    val meta = readMinhashMeta(spark, path)
    Artifacts.deleteIds(spark, ids.select(col(idCol).as("id")),
      s"$path/data", Artifacts.rootTombDir(path), meta.deleted, path,
      "Dedup.deleteFromMinhashIndex") { deleted =>
      writeMinhashMeta(spark, path, meta.copy(deleted = deleted))
      Artifacts.refreshIndexPath(spark, path)
    }
  }

  /** Read a persisted near-dup index for dropSeenNearDup, refusing a
    * hash-family mismatch (silently-garbage agreement), a row-count
    * drift (partial append), or a tombstone-count drift (interrupted
    * delete). Tombstoned rows are masked out (one anti-join against
    * the takedown-sized set), so every consumer — dedup, calibration
    * — sees only live signatures. The row checks sum parquet footers
    * on the driver — metadata-only I/O, no Spark job; verifyRows=false
    * skips them on hot paths. */
  def readMinhashIndex(spark: SparkSession, path: String,
                       n: Int = 3, h: Int = 16, parity: Boolean = false,
                       verifyRows: Boolean = true): DataFrame = {
    val meta = readMinhashMeta(spark, path)
    require(meta.n == n && meta.h == h && meta.parity == parity,
      s"stale MinHash index at $path: built under family (n=${meta.n}, " +
        s"h=${meta.h}, parity=${meta.parity}) but queried as (n=$n, h=$h, " +
        s"parity=$parity) — signatures are not comparable across families; " +
        "rebuild or match params")
    val (data, tombDir) = (Artifacts.scan(spark, s"$path/data"),
      Artifacts.rootTombDir(path))
    if (verifyRows) Artifacts.requireCounts(spark, data, meta.rows, tombDir,
      meta.deleted, path, "Dedup.readMinhashIndex")
    Artifacts.maskTombstones(spark, data.df, tombDir)
  }

  /** Append a new admitted batch to a persisted near-dup index,
    * signing it with the index's own STORED hash family (the caller
    * cannot drift the family — that requires a rebuild). Meta row
    * count refreshes after the append, so a crash between the steps
    * leaves a DETECTABLY stale index, never a silently short one.
    * The duplicate-id audit defaults ON (VERDICT r14 item 3 — a
    * RETRIED batch that had actually committed re-appends cleanly
    * and the index then over-votes those docs' buckets past every
    * freshness gate): one column-pruned id scan + batch-sized
    * semi-join per append. Pipelines that dedup upstream and own
    * their retry discipline opt out with requireNewIds = false. */
  def appendMinhashIndex(spark: SparkSession, batch: DataFrame,
                         idCol: String, textCol: String, path: String,
                         requireNewIds: Boolean = true): Unit = {
    val meta = readMinhashMeta(spark, path)
    val (n, h, parity) = (meta.n, meta.h, meta.parity)
    // a batch id in the TOMBSTONE set refuses loudly and first (r17
    // deletes — see Artifacts.requireNotTombstoned)
    Artifacts.requireNotTombstoned(spark, batch.select(col(idCol).as("id")),
      Artifacts.rootTombDir(path), path, "Dedup.appendMinhashIndex")
    // pin ONE instantiation of the batch — but only when the audit
    // runs (ADVICE r15): the pin exists so the audit and the signing
    // write see the same rows (a nondeterministic batch plan could
    // pass the audit with one id set and sign another — the shared
    // contract documented on Similarity.requireIdsNotIndexed). With
    // requireNewIds = false there is exactly one consumer chain and
    // the cached `sigs` below already pins what the write and the
    // meta count read, so the opt-out path pays no extra
    // materialization — the performance property callers opted out
    // for.
    val src = if (requireNewIds)
      batch.select(col(idCol), col(textCol)).localCheckpoint()
    else batch.select(col(idCol), col(textCol))
    try {
      if (requireNewIds) Similarity.requireIdsNotIndexed(
        src.select(col(idCol).as("id")), Artifacts.scan(spark, s"$path/data").df, s"$path/data",
        "Dedup.appendMinhashIndex", "double-sign them")
      // meta rows = prev + batch (O(batch) — a full-index recount per
      // append would cost more than the append at 100 TB; review r12).
      // Crash-detectability survives: the meta writes AFTER the data,
      // so a crash between the steps leaves actual > meta, which the
      // read-side footer count refuses.
      //
      // The signature table pins differently per path (review r16):
      // with the audit, `src` is already checkpointed, so a lost
      // cached sigs partition recomputes DETERMINISTICALLY from the
      // pinned batch and cache() suffices; without the audit nothing
      // upstream is pinned, and cache() is best-effort — a lost
      // partition between the write and the meta count would recount
      // a NONDETERMINISTIC batch plan differently than it wrote,
      // permanently poisoning the index (the read-side footer check
      // refuses it forever). localCheckpoint pins the one signing
      // materialization both consumers read; it is the signing pass
      // the cache was already paying, not an extra scan of the batch.
      val sigs0 = minhashIndex(src, idCol, textCol, n, h, parity)
      val sigs = if (requireNewIds) sigs0.cache() else sigs0.localCheckpoint()
      try {
        sigs.write.mode("append").parquet(s"$path/data")
        writeMinhashMeta(spark, path, meta.copy(rows = meta.rows + sigs.count()))
        Artifacts.refreshIndexPath(spark, path)
      } finally {
        sigs.unpersist()
        org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(sigs)
      }
    } finally {
      // explicit checkpoint-block release (ADVICE r15): Dataset
      // .unpersist cannot free them, and the ContextCleaner leaks one
      // batch of storage per append until GC; no-op on the un-pinned
      // opt-out path
      org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(src)
    }
  }

  /** Compact a persisted MinHash index in place: every
    * appendMinhashIndex lands ≥1 new parquet file, so N ingest
    * batches leave ≥N files — the small-file collapse at ingest
    * cadence (VERDICT r14 item 4). Rewrites `data/` into `numFiles`
    * files (size numFiles so each lands near your FS's comfortable
    * file size; 1 fits the signature table's few-dozen-bytes-per-row
    * shape up to hundreds of millions of docs) via the same
    * write-aside + rename swap protocol as the IVF/IVF-PQ compactors
    * (Artifacts.compactIndexRoot — ONE implementation of the
    * crash-window-sensitive swap, review r15): the live index is
    * never read-and-overwritten in place, the copy is
    * row-count-verified before the swap, and the meta (hash family +
    * row count) is copied verbatim, so reads serve byte-identically.
    * Refuses an index whose row or tombstone count drifted from its
    * meta. Single-writer discipline is the caller's, as for append. */
  def compactMinhashIndex(spark: SparkSession, path: String,
                          numFiles: Int = 1): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val meta = readMinhashMeta(spark, path)
    val tombDir = Artifacts.rootTombDir(path)
    val data = Artifacts.scan(spark, s"$path/data")
    Artifacts.requireCounts(spark, data, meta.rows, tombDir, meta.deleted,
      path, "Dedup.compactMinhashIndex")
    Artifacts.compactIndexRoot(spark, path, data, "data", "_graft_index_meta",
      meta.live, "Dedup.compactMinhashIndex",
      // tombstoned rows drop physically here (r17 deletes), so the
      // meta rewrites to (rows := live, deleted := 0); the tombstone
      // dir stays behind in the swapped-away root
      rewriteMeta = if (meta.deleted > 0) Some(root =>
        writeMinhashMeta(spark, root, meta.copy(rows = meta.live, deleted = 0L)))
      else None) { (df, dest) =>
      Artifacts.maskTombstones(spark, df, tombDir)
        .repartition(numFiles).write.mode("overwrite").parquet(dest)
    }
  }

  /** MinHash estimate of Jaccard: the fraction of agreeing signature
    * positions (unbiased, variance 1/h). */
  def sigAgreement(s1: Column, s2: Column): Column =
    aggregate(zip_with(s1, s2, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(s1).cast("double")

  /** MinHash calibration audit: for every LSH candidate pair, the
    * signature-agreement ESTIMATE of Jaccard next to the EXACT
    * shingle Jaccard, plus the absolute error — the sketch-accuracy
    * companion to Similarity's ANN recall audit (q_ann_recall): the
    * near-dup pipeline's recall/precision rides on |est − exact|
    * staying within the 1/√h binomial band, and this measures it on
    * the corpus itself rather than trusting the textbook variance.
    *
    * Exactness: est is (agreeing positions)/h and exact is the
    * integer-set Jaccard — both single divisions of exact ints, so
    * every row (and the abs of their difference) hash-matches the
    * SQL replay.
    *
    * Scale shape: identical to nearDuplicates — the cached signature
    * table feeds the banded self-join and both verification joins;
    * est adds one h-length rowwise zip per CANDIDATE, nothing
    * corpus-sized. Output: (id1, id2, est, jac, abs_err). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, h: Int = 16, b: Int = 8,
                         parity: Boolean = false,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    require(h % b == 0, s"h=$h must be divisible by b=$b")
    val sigs = registerCache(sigTable(df, idCol, textCol, n, h, parity)
      .select(col(idCol).as("id"), col("sh"), col("sig")))
    val buckets = sigs
      .select(col("id"), explode(bandBuckets(col("sig"), b, h / b)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    candidatePairs(buckets, "id", maxBucket)
      .join(sigs.select(col("id").as("id1"), col("sh").as("sh1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("id").as("id2"), col("sh").as("sh2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        sigAgreement(col("sig1"), col("sig2")).as("est"),
        jaccardSim(col("sh1"), col("sh2")).as("jac"))
      .withColumn("abs_err", abs(col("est") - col("jac")))
  }

  /** Drop batch docs that near-duplicate any INDEXED corpus doc: band
    * both signature sets, equi-join on (band, bucket) — batch side ×
    * index side only, never batch-internal — then verify candidates
    * with sigAgreement ≥ minAgree. Shuffle volume is O(batch·b +
    * index·b) bucket rows plus the candidates; maxBucket drops over-
    * populated INDEX buckets via the broadcast-blacklist guard, which
    * bounds a hot boilerplate bucket's contribution to maxBucket ×
    * (its batch-side count) instead of m_index × m_batch. Docs too
    * short to shingle have no signature and pass through. Run
    * dropSeenExact (cheaper) first; this join then only sees novel
    * content. */
  def dropSeenNearDup(batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, h: Int = 16, b: Int = 8,
                      minAgree: Double = 0.5, parity: Boolean = false,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(h % b == 0, s"h=$h must be divisible by b=$b")
    val bsig = registerCache(sigTable(batch, idCol, textCol, n, h, parity)
      .select(col(idCol).as("__bid"), col("sig").as("__bsig")))
    val isig = registerCache(index
      .select(col("id").as("__iid"), col("sig").as("__isig")))
    def bandsOf(sigs: DataFrame, id: String, sig: String) =
      sigs.select(col(id), explode(bandBuckets(col(sig), b, h / b)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val ib = dropOverPopulated(bandsOf(isig, "__iid", "__isig"), Seq("band", "bucket"), maxBucket)
    val doomed = bandsOf(bsig, "__bid", "__bsig")
      .join(ib, Seq("band", "bucket"))
      .select("__bid", "__iid").distinct()
      .join(bsig, "__bid").join(isig, "__iid")
      .filter(sigAgreement(col("__bsig"), col("__isig")) >= minAgree)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(doomed, Seq(idCol), "left_anti")
  }

  // ── SimHash ──────────────────────────────────────────────────────

  private val HexChars = "0123456789abcdef"

  /** Bit masks 2^15 .. 2^0, MSB first — plan literal shared by every
    * tokenBits evaluation. */
  private val Masks16: Seq[Int] = (15 to 0 by -1).map(1 << _)

  /** Per-token 64 bits from its md5, as an array<int> of 0/1, MSB
    * first. The digest is read as 4 × 16-bit words via conv(hex); bits
    * come out with pure integer mask tests (v & 2^j) — no double
    * pow/floor in the hot loop. Produces the same bits as the DuckDB
    * oracle's floor(v / 2^j) % 2 formulation (both are exact). */
  private def tokenBits(tok: Column): Column = {
    val m = md5(tok)
    val words = array((0 until 4).map { w =>
      conv(substring(m, 1 + 4 * w, 4), 16, 10).cast("int")
    }: _*)
    flatten(transform(words, v =>
      transform(typedlit(Masks16), k =>
        when(v.bitwiseAND(k) > 0, 1).otherwise(0))))
  }

  /** 64-bit SimHash of a token array (term frequency weighted: each
    * occurrence contributes ±1 per bit), returned as a 16-hex-char
    * string. Similar documents differ in few bits (small Hamming
    * distance), unlike MinHash which models set overlap.
    *
    * Default = the native SimHash64 expression (one JVM kernel per
    * row, ~7× the composed-HOF throughput, still inside whole-stage
    * codegen). simhashHof is the declarative twin it is bit-identical
    * to (pinned in DedupSpec) and the form the DuckDB oracle mirrors
    * term by term. */
  def simhash(toksCol: Column): Column =
    graft.functions.SimHash64.simhash64(toksCol)

  /** Composed-HOF SimHash — the oracle-shaped reference form. */
  def simhashHof(toksCol: Column): Column = {
    val acc = aggregate(toksCol,
      array_repeat(lit(0), 64),
      (a, t) => zip_with(a, tokenBits(t), (x, b) => x + b * 2 - 1))
    val bits = transform(acc, a => when(a > 0, 1).otherwise(0))
    // repack 64 bits into 16 hex chars
    concat(
      (0 until 16).map { d =>
        val v = element_at(bits, 4 * d + 1) * 8 + element_at(bits, 4 * d + 2) * 4 +
          element_at(bits, 4 * d + 3) * 2 + element_at(bits, 4 * d + 4)
        lit(HexChars).substr(v + 1, lit(1))
      }: _*)
  }

  /** Hamming distance between two equal-length hex fingerprints. */
  def hammingHex(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""), (x, y) =>
        when(x === y, 0).otherwise(
          bit_count(conv(x, 16, 10).cast("long").bitwiseXOR(conv(y, 16, 10).cast("long"))))),
      lit(0), (acc, v) => acc + v)

  /** SimHash near-duplicate pairs via banded Hamming LSH: the 16-hex
    * fingerprint splits into maxHamming+1 bands, and by pigeonhole two
    * fingerprints within maxHamming bits MUST agree exactly on at
    * least one band — so candidates come from per-(band, substring)
    * joins (never all-pairs) — PERFECT recall at the threshold when
    * no bucket trips maxBucket — then exact Hamming verification.
    * Same shuffle shape as the MinHash path: Σ bucket² per band,
    * O(rows) otherwise — and the same skew hazard: m boilerplate
    * docs sharing a band substring put m² rows in one (band,
    * substring) join key, so maxBucket drops over-populated keys via
    * the shared broadcast-blacklist guard (size it to ~1% of the
    * corpus). Dropped buckets trade BOUNDED RECALL LOSS for skew
    * safety, exactly as winnowNearDup does: a pair whose ONLY
    * agreeing band is a dropped one is missed — meeting through the
    * other bands is likely, not guaranteed. Exact-dedup first so
    * identical-everywhere groups never reach this join. Default
    * 10000 matches winnowNearDup's maxDocsPerFp.
    * maxHamming+1 must divide 16 (maxHamming ∈ {0, 1, 3, 7, 15}).
    * Output: (id1, id2, hamming ≤ maxHamming), id1 < id2. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    hammingNearDup(
      df.select(col(idCol), simhash(tokens(col(textCol))).as("__fp")),
      idCol, "__fp", maxHamming, maxBucket)

  /** Banded-Hamming near-dup join over ANY 16-hex 64-bit fingerprint
    * relation — the shared engine behind simhashNearDup (text
    * SimHash) and Multimodal.imageNearDup (perceptual dHash).
    * Pigeonhole recall and the maxBucket skew trade-off are exactly
    * simhashNearDup's (see its docstring); the fingerprint table is
    * cached for the two sides of the band join.
    * Output: (id1, id2, hamming ≤ maxHamming), id1 < id2. */
  def hammingNearDup(fps0: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val bands = maxHamming + 1
    require(16 % bands == 0, s"maxHamming+1=$bands must divide the 16 hex chars")
    val w = 16 / bands
    val fps = registerCache(
      fps0.select(col(idCol).as("id"), col(fpCol).as("fp")))
    val bx = dropOverPopulated(
      fps.select(col("id"), col("fp"),
        explode(sequence(lit(0), lit(bands - 1))).as("bi"))
        .select(col("id"), col("fp"), col("bi"),
          col("fp").substr(col("bi") * w + 1, lit(w)).as("bk")),
      Seq("bi", "bk"), maxBucket)
    val x = bx.select(col("id").as("id1"), col("fp").as("fp1"), col("bi"), col("bk"))
    val y = bx.select(col("id").as("id2"), col("fp").as("fp2"), col("bi"), col("bk"))
    x.join(y, Seq("bi", "bk")).filter(col("id1") < col("id2"))
      .select("id1", "id2", "fp1", "fp2").distinct()
      .select(col("id1"), col("id2"),
        hammingHex(col("fp1"), col("fp2")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Bit width that keeps expected LSH bucket occupancy near
    * `targetBucket` for an n-vector corpus: the smallest b ≥ minBits
    * with 2^b · targetBucket ≥ n. The structural scale knob for
    * embeddingNearDup — with FIXED bits the 2^bits bucket space is
    * constant, so expected bucket size grows with n and the candidate
    * self-join is Θ(tables·n²/2^bits), quadratic in corpus size;
    * deriving bits from n keeps buckets (and therefore candidates per
    * vector) constant as the corpus grows. Costs one count() job at
    * plan time — negligible against the join it protects.
    *
    * INTEGER arithmetic throughout (ceil-div + ceil-log2 via leading
    * zeros), never floating log2: at exact powers of two a libm log
    * can land on either side of the integer and ceil() would then
    * disagree across engines — the q_embed_neardup oracle replays
    * this formula in SQL ((n+31)//32 and a binary-digit count), so
    * both sides must round identically everywhere. */
  def autoBits(n: Long, targetBucket: Int = 32, minBits: Int = 4): Int = {
    val q = (math.max(1L, n) + targetBucket - 1) / targetBucket
    val ceilLog2 = if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.max(minBits, ceilLog2.toInt)
  }

  /** Embedding-cosine near-duplicate pairs: candidates from the
    * random-hyperplane LSH bucket self-join (docs sharing ANY
    * table-bucket — reuses the Similarity index, never all-pairs),
    * verified with exact cosine ≥ minSim. The similarity-space analog
    * of the MinHash path for dense-vector columns.
    *
    * Two scale guards, both needed:
    *  - `bits` sets the 2^bits bucket space; with a fixed value the
    *    candidate join is quadratic in corpus size, so at scale pass
    *    `bits = autoBits(df.count())` (spec-asserted sub-quadratic in
    *    DedupSpec). Random hyperplanes keep RANDOM buckets
    *    near-uniform, but
    *  - duplicate-heavy corpora break that assumption: identical and
    *    near-identical vectors share EVERY table-bucket, so a hot
    *    embedding cluster of m docs still yields a Θ(m²) bucket
    *    self-join regardless of bits. maxBucket drops over-populated
    *    (tbl, bucket) keys via the shared broadcast-blacklist guard
    *    (size to ~1% of the corpus); alternatively exact-dedup the
    *    vectors first.
    * Output: (id1, id2, sim ≥ minSim), id1 < id2. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       minSim: Double, tables: Int = 8, bits: Int = 4,
                       d: Int = 64, maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorOps
    // cached: both sides of the candidate self-join — without it the
    // tables×bits hyperplane projections run twice over the corpus
    val bk = registerCache(Similarity.lshBuckets(df, idCol, vecCol, tables, bits, d))
    val base = dropOverPopulated(bk, Seq("tbl", "bucket"), maxBucket)
    val cand = base.select(col(idCol).as("id1"), col("tbl"), col("bucket"))
      .join(base.select(col(idCol).as("id2"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val vecs = registerCache(df.select(col(idCol).cast("long").as("vid"),
      VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("n", VectorOps.norm2(col("v"))))
    cand
      .join(vecs.select(col("vid").as("id1"), col("v").as("v1"), col("n").as("n1")), "id1")
      .join(vecs.select(col("vid").as("id2"), col("v").as("v2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        VectorOps.cosineWithNorms(col("v1"), col("v2"), col("n1"), col("n2")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): partition the embedding space by
    * nearest-centroid assignment, then verify pairs EXACTLY (cosine ≥
    * minSim) only WITHIN a cluster. Where embeddingNearDup prunes
    * candidates with random hyperplanes, this prunes with a
    * data-dependent K-Means partition — semantic duplicates embed
    * close together, so they land in the same cell and the pair space
    * collapses from n² to Σ cluster².
    *
    * Scale shape: assignment is a rowwise argmin against a k×d plan
    * literal (KMeans.assignColumn — broadcast-sized, no shuffle), the
    * self-join shuffles once on the cluster id, and per-row norms are
    * hoisted so each PAIR costs one dot product. Sizing rule: pick
    * k ≈ n / targetCluster (train centroids with KMeans.fit on a
    * sample at scale; any fixed k makes expected cluster size grow
    * with n and the join quadratic — same law as autoBits). Skewed
    * cells (a mega-cluster of boilerplate embeddings) are dropped by
    * the shared maxCluster blacklist — bounded recall loss for skew
    * safety, as with every banded path here; exact-dedup identical
    * vectors first so they never reach the join.
    * Output: (cluster, id1, id2, sim ≥ minSim), id1 < id2. */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      cents: KMeans.Centroids, minSim: Double,
                      maxCluster: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorOps
    val assigned = registerCache(
      KMeans.assign(
        df.select(col(idCol).cast("long").as("vid"),
          VectorOps.toDouble(col(vecCol)).as("v")), "v", cents)
        .withColumn("n", VectorOps.norm2(col("v"))))
    val base = dropOverPopulated(assigned, Seq("cluster"), maxCluster)
    val x = base.select(col("cluster"), col("vid").as("id1"), col("v").as("v1"), col("n").as("n1"))
    val y = base.select(col("cluster"), col("vid").as("id2"), col("v").as("v2"), col("n").as("n2"))
    x.join(y, Seq("cluster")).filter(col("id1") < col("id2"))
      .select(col("cluster"), col("id1"), col("id2"),
        VectorOps.cosineWithNorms(col("v1"), col("v2"), col("n1"), col("n2")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Semantic dedup: drop the higher id of every semantic near-dup
    * pair (the per-pair keep-first rule; for one-representative-per-
    * component semantics feed semanticNearDup's pairs through
    * connectedComponents as dropNearDupClusters does). Returns the
    * surviving rows of `df` unchanged. */
  def dropSemanticDuplicates(df: DataFrame, idCol: String, vecCol: String,
                             cents: KMeans.Centroids, minSim: Double,
                             maxCluster: Int = Int.MaxValue): DataFrame = {
    val doomed = semanticNearDup(df, idCol, vecCol, cents, minSim, maxCluster)
      .select(col("id2").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Passage-level exact dedup à la C4's span/line dedup: cut every
    * document into non-overlapping width-token passages
    * (TextAnalysis.chunkByTokens, overlap 0), keep only the FIRST
    * occurrence of each distinct passage corpus-wide (lowest doc id,
    * then chunk position), and reassemble each document from its
    * surviving passages in order. Boilerplate repeated across
    * thousands of pages (headers, licence blocks, navigation) is cut
    * from every copy but the first, while each host document's unique
    * content survives — the sub-document granularity exact dedup that
    * whole-doc dedup cannot express.
    *
    * Scale shape: the first-occurrence winner per passage is a
    * partial MIN aggregate over an exact integer encoding
    * doc_id·2²⁰ + chunk_id (never a ranking window partitioned by
    * passage text — a viral passage would sort its million copies on
    * one partition; MIN partial-aggregates them away map-side). One
    * hash-shuffle of the chunks on passage text for the winner agg +
    * join, one shuffle by doc for reassembly. The encoding requires
    * chunk_id < 2²⁰ (a million passages per doc) and doc_id < 2⁴³ —
    * loudly guarded, not silently wrong. The chunk relation feeds
    * three consumers (winner agg, winner join, per-doc totals) so it
    * is cached under the releaseCaches() lifecycle — the corpus
    * parquet is scanned exactly ONCE, on the cache build.
    * Output: (idCol, clean_text, n_kept, n_dropped); a document whose
    * every passage was seen earlier comes back with empty clean_text
    * (its rows are what a downstream filter drops). */
  def dedupPassages(df: DataFrame, idCol: String, textCol: String,
                    width: Int): DataFrame = {
    val enc = col(idCol).cast("long") * lit(1048576L) + col("chunk_id")
    val chunks = registerCache(
      TextAnalysis.chunkByTokens(df, idCol, textCol, width, overlap = 0)
        .select(col(idCol), col("chunk_id"), col("chunk_text"))
        .withColumn("__enc",
          when(col("chunk_id") < 1048576L
              && col(idCol).cast("long").between(0L, (1L << 43) - 1), enc)
            .otherwise(raise_error(concat(lit("dedupPassages encoding overflow: doc "),
              col(idCol).cast("string"), lit(" chunk "), col("chunk_id").cast("string"))))))
    val winners = chunks.groupBy("chunk_text").agg(min(col("__enc")).as("__win"))
    val kept = chunks.join(winners, Seq("chunk_text"))
      .filter(col("__enc") === col("__win"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        // codegen reassembly (r19): sort_array ≡ array_sort here
        // (non-null structs, unique chunk_id) and .getField is native
        // — see UnigramTokenizer.encode
        array_join(sort_array(collect_list(struct(col("chunk_id"), col("chunk_text"))))
          .getField("chunk_text"), " ").as("clean_text"))
    // chunk_ids are contiguous 0..k-1, so totals come from the CACHED
    // chunks (max+1) — the corpus parquet is scanned exactly once
    val totals = chunks.groupBy(col(idCol))
      .agg((max(col("chunk_id")) + 1L).as("n_chunks"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** EXACT set-similarity self-join with prefix filtering (the
    * AllPairs/PPJoin candidate scheme, Bayardo et al. WWW'07): every
    * pair of documents whose distinct-token Jaccard is ≥ `minSim`,
    * with NO false negatives — the exact complement to the
    * probabilistic MinHash path (`nearDuplicates` can miss a true
    * pair; this cannot, at the cost of exact verification on every
    * candidate).
    *
    * Candidate scheme: rank the vocabulary by rarity (document
    * frequency asc, term asc — a TOTAL order) and keep, per document,
    * only the p = |x| − ⌈minSim·|x|⌉ + 1 RAREST tokens (its "prefix").
    * Any pair with J ≥ minSim has overlap ≥ ⌈minSim·|x|⌉ on both
    * sides, so it must share a prefix token — joining on prefix
    * tokens alone finds every qualifying pair. Because prefixes are
    * the rarest tokens, bucket sizes are small by construction ("the"
    * is in nobody's prefix); a `maxBucket` cap guards pathological
    * skew like the LSH path (capped buckets CAN drop true pairs —
    * leave it at the default for exactness, set it when a skewed
    * corpus needs the bound). The ⌈·⌉ computations subtract a 1e-9
    * slack before rounding so an FP product landing one ulp above an
    * integer can only LENGTHEN a prefix / RELAX the length filter —
    * never drop a boundary-exact pair (minSim·|x| for |x| < 10⁴ keeps
    * the true product within 2⁻⁴² of the double, far under the
    * slack).
    *
    * Scale shape: the corpus is scanned once into the cached
    * (id, distinct-token set) relation; the vocabulary table is
    * aggregate-sized and ranked by `Curation.globalRank` (range
    * exchange — no single-partition window); candidates are per-rank
    * bucket joins (Σ bucket², never n²) on ONLY the prefix tokens;
    * the exact `array_intersect` verification runs on candidate pairs
    * alone. Shuffles: term-rank join, per-doc regroup, bucket join,
    * two verify joins — all on keys, none corpus-crossing.
    * Intermediates are registered under the releaseCaches()
    * lifecycle.
    *
    * The set domain is `n`-gram shingles for n > 1 (the near-dup
    * dedup posture — shingle vocabularies are huge, so rarity
    * prefixes genuinely prune) or distinct non-empty tokens for
    * n = 1 (token-set similarity; note a tiny shared vocabulary
    * degrades the filter to ~all-pairs — that is a property of the
    * corpus, not the algorithm, and exactly why shingles are the
    * default deployment choice). Docs with an empty set cannot reach
    * `minSim > 0` with anything and are excluded up front (their
    * Jaccard is 0/0).
    * Output: (id1, id2, jaccard) with id1 < id2, one row per
    * qualifying pair. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  minSim: Double, n: Int = 1,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"minSim must be in (0, 1], got $minSim")
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val eps = 1e-9
    val tokSet =
      if (n <= 1) array_distinct(filter(split(col(textCol), " "),
        t => length(t) > 0))
      else shingles(col(textCol), n)
    val sets = registerCache(
      df.select(col(idCol), tokSet.as("__toks"))
        .filter(size(col("__toks")) > 0)
        .withColumn("__sz", size(col("__toks")).cast("long")))
    // rarity order: document frequency asc, term asc (total order)
    val vocab = sets.select(explode(col("__toks")).as("__term"))
      .groupBy("__term").agg(count(lit(1)).as("__df"))
    val ranked = Curation.globalRank(vocab, "__rank", 0,
      col("__df"), col("__term")).select(col("__term"), col("__rank"))
    // per-doc sorted rank arrays, sliced to the prefix — WITH each
    // prefix token's 0-based position in the doc's full rarity-sorted
    // token array (r19: the PPJoin positional filter needs it)
    val prefixLen = (col("__sz")
      - ceil(lit(minSim) * col("__sz") - lit(eps)) + 1L).cast("int")
    val pfx = sets
      .select(col(idCol), col("__sz"), explode(col("__toks")).as("__term"))
      .join(ranked, "__term")
      .groupBy(col(idCol))
      .agg(first(col("__sz")).as("__sz"),
        sort_array(collect_list(col("__rank"))).as("__ranks"))
      .select(col(idCol), col("__sz"),
        posexplode(slice(col("__ranks"), lit(1), prefixLen))
          .as(Seq("__p", "__rank")))
    val pruned = dropOverPopulated(pfx, Seq("__rank"), maxBucket)
    val a = pruned.select(col(idCol).as("id1"), col("__sz").as("__n1"),
      col("__p").as("__p1"), col("__rank"))
    val b = pruned.select(col(idCol).as("id2"), col("__sz").as("__n2"),
      col("__p").as("__p2"), col("__rank"))
    // positional filter (PPJoin, Xiao et al. WWW'08 — VERDICT r18
    // item 7): evaluated at each pair's FIRST shared prefix token,
    // which is provably the pair's first shared token OVERALL (a
    // shared token rarer than it would sit even earlier in both
    // rarity-sorted arrays, hence inside both prefixes, and would BE
    // an earlier meeting). Every other shared token therefore lies
    // strictly after position i in x and j in y, so the true overlap
    // is ≤ 1 + min(|x|−i−1, |y|−j−1) (0-based i, j); J ≥ τ forces
    // overlap ≥ τ/(1+τ)·(|x|+|y|), so pairs whose bound falls short
    // cannot qualify — a SUPERSET filter, exactness untouched (the
    // same brute-force specs and the oracle hash pin it). Uncapped
    // only: a cap can drop that first token's bucket, and the bound
    // at a later one undercounts the overlap. The min-by-rank
    // aggregation replaces the old distinct() — the same
    // (id1, id2)-keyed exchange — and the filter runs BEFORE the
    // verify joins ship candidate token arrays anywhere.
    val met = a.join(b, Seq("__rank"))
      .filter(col("id1") < col("id2"))
      // length prune: J ≥ τ forces min ≥ τ·max (slack-relaxed)
      .filter(least(col("__n1"), col("__n2")).cast("double")
        >= lit(minSim) * greatest(col("__n1"), col("__n2")).cast("double") - lit(eps))
      .groupBy(col("id1"), col("id2"))
      .agg(min(struct(col("__rank"), col("__p1"), col("__p2"),
        col("__n1"), col("__n2"))).as("__m"))
    val cand = (if (maxBucket != Int.MaxValue) met
      else met.filter((lit(1.0)
          + least(col("__m.__n1") - col("__m.__p1") - 1L,
                  col("__m.__n2") - col("__m.__p2") - 1L).cast("double"))
        >= lit(minSim / (1.0 + minSim))
          * (col("__m.__n1") + col("__m.__n2")).cast("double") - lit(eps)))
      .select("id1", "id2")
    val s1 = sets.select(col(idCol).as("id1"), col("__toks").as("__t1"), col("__sz").as("__m1"))
    val s2 = sets.select(col(idCol).as("id2"), col("__toks").as("__t2"), col("__sz").as("__m2"))
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("__inter",
        size(array_intersect(col("__t1"), col("__t2"))).cast("long"))
      .withColumn("jaccard", col("__inter").cast("double")
        / (col("__m1") + col("__m2") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= lit(minSim))
      .select(col("id1"), col("id2"), col("jaccard"))
  }
}

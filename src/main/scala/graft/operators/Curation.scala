package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup: per-source caps, token-
  * budget packing, and benchmark decontamination. Not present in the
  * reference (its only relation is the gene table, SURVEY §1) — this
  * is the 100 TB extension surface. Everything here is one window or
  * one join over keys the data is already grouped by, so each
  * operator costs a single hash-shuffle on its key column.
  */
object Curation {

  /** Keep at most n rows per key, lowest idCol first (the
    * deterministic "≤N documents per domain" rule of web-corpus
    * curation). One window over the key — a single O(rows) shuffle
    * partitioned by keyCol; no key's group is ever collected to one
    * node beyond the window sort, and the per-key sort is bounded by
    * the key's own group size (cap skew is the caller's concern:
    * a pathological mega-key sorts its own partition slice only). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Uniform deterministic k-of-n sample per key — the "keep a fair
    * sample of every domain" knob (capPerKey above keeps the FIRST n
    * by id, which biases toward early crawl order; this ranks each
    * key's rows by a salted md5 of the id, so the admitted subset is
    * uniform over the key's rows, reproducible, and repartition-
    * stable). One ranking window = one shuffle on the key. Note the
    * admitted set is NOT nested across k (rank order is, so k=5's
    * sample contains k=3's — nested in that sense). */
  def sampleKPerKey(df: DataFrame, keyCol: String, idCol: String, k: Int,
                    seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = md5(concat_ws(":", lit(seed), col(idCol)))
    val w = Window.partitionBy(col(keyCol)).orderBy(u, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Curriculum sharding: rank the corpus by a difficulty/quality
    * score (globalRank — range exchange + partition offsets, never a
    * single-partition sort) and cut the ranking into nShards
    * contiguous shards: shard 0 = lowest scores … nShards-1 =
    * highest. Feeding shards in order gives ascending-difficulty
    * curriculum epochs; ties broken by id so the assignment is total
    * and deterministic. shard = (rank-1)·nShards div n: EVERY shard
    * 0..nShards-1 is populated (when n ≥ nShards) with sizes within
    * one of each other — the ceil-div cut would leave trailing shards
    * empty whenever nShards does not divide n evenly. Exact integer
    * arithmetic, replayable in SQL. Output: input columns +
    * (curriculum_rank, shard). */
  def curriculumShards(df: DataFrame, scoreCol: String, idCol: String,
                       nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val ranked = Dedup.pin(globalRank(df, "curriculum_rank", 0,
      col(scoreCol), col(idCol)))
    val n = math.max(1L, ranked.count())
    // exact integer division (Column./ is double division — exact
    // only below 2^53; `div` never degrades)
    ranked.withColumn("shard",
      call_function("div", (col("curriculum_rank") - 1L) * nShards, lit(n)).cast("int"))
  }

  /** Sequence packing: concatenate each key's documents in idCol
    * order and cut the token stream at budget marks — a document's
    * shard is where it STARTS: shard = exclusive-prefix-sum(tokens)
    * div budget. The standard spillover packing of LLM pre-training
    * (fill a sequence, let the last document run over, continue in
    * the next), expressed as ONE partitioned running-sum window:
    * integer arithmetic end to end, deterministic, and partitioned
    * by keyCol so no global single-partition window exists at any
    * scale.
    *
    * Contract, precisely: documents are never split; a shard's total
    * may EXCEED the budget by up to its last document's length minus
    * one (start-position rule) — consumers that truncate each shard
    * at `budget` tokens lose only that spillover tail, which is how
    * packed training sequences are consumed. This is NOT bin
    * packing: a hard ≤ budget guarantee with no splitting is a
    * sequential greedy fold, which no shuffle-parallel operator can
    * express. Output: input columns + (n_tokens, shard). */
  def packByTokenBudget(df: DataFrame, keyCol: String, idCol: String,
                        textCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // integer `div`, not `/`: Spark's / is double division, and a
      // prefix sum over a 100 TB key can exceed 2^53 where doubles
      // drop integer exactness
      .withColumn("shard", expr(s"__cum div ${budget}L").cast("long"))
      .drop("__cum")
  }

  /** Materialize the packed training sequences packByTokenBudget
    * assigns: one row per (key, shard) with the member documents
    * joined in id order by a separator token (where a tokenizer would
    * put EOS), plus exact token/member counts. The emit step of the
    * packing story — q_pack's assignment becomes the actual sequence
    * relation a trainer reads. One additional hash-shuffle on
    * (key, shard); the collect_list holds one shard's documents
    * (≈ budget tokens by construction — bounded by the packing
    * contract, never a whole key). */
  def materializePacked(df: DataFrame, keyCol: String, idCol: String,
                        textCol: String, budget: Long,
                        sep: String = " <|eos|> "): DataFrame =
    packByTokenBudget(df, keyCol, idCol, textCol, budget)
      .groupBy(col(keyCol), col("shard"))
      .agg(
        // codegen reassembly (r19): sort_array ≡ array_sort here
        // (non-null structs, unique id) and .getField is native —
        // see UnigramTokenizer.encode
        array_join(sort_array(collect_list(struct(col(idCol), col(textCol))))
          .getField(textCol), sep).as("sequence"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_docs"))

  /** Deterministic global shuffle + shard assignment — the "shuffle
    * the corpus exactly once, reproducibly" step before writing
    * training shards. Each row gets a shuffle_key (md5 hex of its id
    * — an effectively random but engine-portable total order, the
    * same hash contract as Sampling) and shard = floor(unit(key) ·
    * nShards): shards are CONTIGUOUS RANGES of the key space, so
    * sorting by shuffle_key both shuffles the corpus and clusters it
    * by shard in one range partitioning. Rowwise, no shuffle here;
    * pair with shuffled() to materialize the order. Duplicate ids
    * collide on purpose (same id ⇒ same position ⇒ adjacent — easy
    * to spot); distinct ids get md5-uniform spread, so shard sizes
    * are balanced to O(√n) fluctuation with no coordination. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    Seq("shuffle_key", "shard").foreach(c => require(!df.columns.contains(c),
      s"input already has a '$c' column — silently replacing a previous " +
        "shard assignment would let old and new assignments be confused downstream"))
    // shard = the md5 unit of the same id string the key hashes
    df.withColumn("shuffle_key", md5(col(idCol).cast("string")))
      .withColumn("shard", floor(Sampling.hashUnit(col(idCol)) * nShards).cast("int"))
  }

  /** The materialized form: range-repartition into nShards tasks by
    * shuffle_key and sort within each — ONE Exchange(RangePartitioning)
    * for the whole corpus, after which `write.partitionBy("shard")`
    * (or per-partition writers) emits globally-shuffled, stably
    * ordered training shards. Because shard boundaries are quantiles
    * of the SAME key the range partitioner samples, partitions align
    * with shards up to sampling error — no second shuffle to group
    * by shard. */
  def shuffled(df: DataFrame, idCol: String, nShards: Int): DataFrame =
    shuffleShards(df, idCol, nShards)
      .repartitionByRange(nShards, col("shuffle_key"))
      .sortWithinPartitions(col("shuffle_key"))

  /** Rebalance a corpus to target source proportions ("make the mix
    * 50% src0, 30% src1, 20% src2") by deterministic down-sampling —
    * never up-sampling: the output size is the largest N where every
    * target share is achievable, N = min over sources of n_s / w_s,
    * and each source keeps rate_s = w_s·N / n_s of its rows via the
    * id-hash rule (stable under reruns and repartitioning, nested
    * across rate changes — Sampling's contract). Sources absent from
    * targetShare are dropped: the output mix is exactly the specified
    * sources. The per-source counts are collected to the driver by
    * design — that is #sources rows (the same k-bounded-collect
    * posture as the K-Means centroid step), never corpus rows; the
    * corpus itself is read once more for the one filter pass. */
  def rebalanceSources(df: DataFrame, keyCol: String, idCol: String,
                       targetShare: Map[String, Double]): DataFrame = {
    require(targetShare.nonEmpty, "targetShare must not be empty")
    targetShare.foreach { case (s, w) =>
      require(w > 0.0, s"share for '$s' must be positive, got $w") }
    val counts = df
      .filter(col(keyCol).isin(targetShare.keys.toSeq.map(_.asInstanceOf[Any]): _*))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targetShare.filter { case (s, _) => counts.contains(s) }
    require(present.nonEmpty, "no targetShare key present in the data")
    val nTarget = present.map { case (s, w) => counts(s) / w }.min
    val rates = present.map { case (s, w) => s -> math.min(1.0, w * nTarget / counts(s)) }
    Sampling.stratifiedSample(df, idCol, keyCol, rates, defaultRate = 0.0)
  }

  /** Deterministic training-order interleave to a target mix — the
    * SCHEDULE twin of rebalanceSources above (which decides WHAT to
    * keep; this decides in WHAT ORDER to feed it): deficit
    * round-robin, the classic weighted-fair-queueing discipline. Row
    * r of a key with weight w gets virtual time (r - 1/2) / w; the
    * ascending virtual-time order interleaves keys so every prefix of
    * the plan holds ≈ the target proportions — a training run stopped
    * at any step has seen the intended mix, unlike per-source
    * concatenation. Keys missing from `weights` are excluded
    * (weight 0 = never scheduled).
    *
    * Scale shape — no per-key window anywhere: with a handful of
    * sources a Window.partitionBy(key) would sort ~corpus/keys rows
    * in ONE task, so the per-key rank comes instead from globalRank
    * over (key, id) (a range exchange of np parallel sorted runs)
    * minus each key's exclusive offset, computed from a
    * #keys-bounded groupBy-count collect (keys ⊆ the driver-side
    * weights map by construction). A second globalRank orders the
    * virtual times. The one division per row is a single IEEE op on
    * exact integers — bit-stable cross-engine.
    * Output: input columns + (vtime, order_pos). */
  def interleaveMix(df: DataFrame, keyCol: String, idCol: String,
                    weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    weights.foreach { case (s, w) =>
      require(w > 0.0, s"weight for '$s' must be positive, got $w") }
    Seq("vtime", "order_pos", "__g", "__r").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — silently replacing a previous " +
          "schedule would let old and new training orders be confused downstream"))
    require(df.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"interleaveMix: keyCol '$keyCol' must be string (weights are " +
        "keyed by string; cast explicitly if the source key is numeric)")
    val kept = df.filter(col(keyCol).isin(weights.keys.toSeq.map(_.asInstanceOf[Any]): _*))
    // exclusive per-key offsets in (key asc) order: rank within key =
    // global (key, id) rank − offset(key). The offsets are subtracted
    // from a rank ordered by Spark's UTF8String BINARY comparison
    // (UTF-8 byte order), so the driver-side sort must use the same
    // order — Scala's String.sorted is UTF-16 code-unit order, which
    // disagrees for supplementary characters vs U+E000..U+FFFF.
    val counts = kept.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keysAsc = utf8SortedKeys(counts.keys)
    val offsets = keysAsc.zip(keysAsc.scanLeft(0L)((acc, k) => acc + counts(k))).toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (k, off)) =>
      when(col(keyCol) === k, lit(off)).otherwise(acc)
    }
    val wCol = weights.foldLeft(lit(null).cast("double")) { case (acc, (v, w)) =>
      when(col(keyCol) === v, lit(w)).otherwise(acc)
    }
    val timed = globalRank(kept, "__g", 0, col(keyCol), col(idCol))
      .withColumn("__r", col("__g") - offCol)
      .withColumn("vtime", (col("__r").cast("double") - 0.5) / wCol)
      .drop("__g", "__r")
    globalRank(timed, "order_pos", 0, col("vtime"), col(keyCol), col(idCol))
  }

  /** Up-sample to a target mix by REPEATING rows across epochs — the
    * complement of rebalanceSources (which only drops). The binding
    * source is the one whose share most exceeds its target: it stays
    * at one copy; every other listed source repeats to an expected
    * f_s = w_s · max_j(n_j / w_j) copies (multiplier m_s ≥ 1) — the
    * integer part exactly, the fractional part by the id-hash rule
    * (rerun- and repartition-stable). Output rows carry an `epoch`
    * column (0-based copy index), the training-data convention that
    * lets the shard writer interleave repeated copies deliberately
    * instead of re-reading a source k times. Sources absent from
    * targetShare pass through with one copy — up-sampling never drops
    * data (rebalanceSources is the cutting knife). The per-source
    * counts are a k-bounded driver collect (the centroid-step
    * posture); multipliers ship back as a plan literal CASE chain, so
    * the data-sized work is ONE map-side generator pass — no join, no
    * shuffle, output ≤ max-multiplier × input. */
  def upsampleToMix(df: DataFrame, keyCol: String, idCol: String,
                    targetShare: Map[String, Double]): DataFrame = {
    require(targetShare.nonEmpty, "targetShare must not be empty")
    targetShare.foreach { case (s, w) =>
      require(w > 0.0, s"share for '$s' must be positive, got $w") }
    require(!df.columns.contains("epoch"),
      "input already has an 'epoch' column — refusing to up-sample twice")
    val counts = df
      .filter(col(keyCol).isin(targetShare.keys.toSeq.map(_.asInstanceOf[Any]): _*))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targetShare.filter { case (s, _) => counts.contains(s) }
    require(present.nonEmpty, "no targetShare key present in the data")
    val tTotal = present.map { case (s, w) => counts(s) / w }.max
    val mult = present.map { case (s, w) => s -> math.max(1.0, w * tTotal / counts(s)) }
    val multCol = mult.foldLeft(lit(1.0)) { case (acc, (v, m)) =>
      when(col(keyCol) === v, lit(m)).otherwise(acc)
    }
    val reps = (floor(multCol).cast("long") +
      when(Sampling.hashUnit(col(idCol)) < multCol - floor(multCol), 1L).otherwise(0L))
    // explode must stay a top-level generator (no wrapping cast)
    df.withColumn("__epoch", explode(sequence(lit(0L), reps - 1)))
      .withColumn("epoch", col("__epoch").cast("int")).drop("__epoch")
  }

  /** Per-source corpus profile: doc count, total tokens, and EXACT
    * discrete percentiles of per-doc token count (the "what does each
    * domain's length distribution look like" audit before mixing).
    * p-th percentile = the ceil(p·n)-th smallest value, rank-ordered
    * with idCol as the deterministic tie-break — exact integers end
    * to end, unlike percentile_approx (a sketch, not cross-engine
    * checkable) or interpolating percentile (whose FP lerp order is
    * engine-specific). One window + one hash-agg, both partitioned by
    * the key: no global sort, skew bounded by the largest source
    * (same posture as capPerKey; cap pathological sources first). */
  /** Driver-side keys in UTF-8 BYTE order — the load-bearing
    * cross-engine contract (it must match Spark's UTF8String binary
    * comparison and DuckDB's binary collation; Scala's String.sorted
    * is UTF-16 code-unit order, which disagrees for supplementary
    * characters vs U+E000..U+FFFF). ONE implementation shared by
    * interleaveMix / quantilesByKey / temperatureShares (review r15:
    * three verbatim copies risked silent desynchronization of a
    * contract the oracle hashes ride on). */
  private def utf8SortedKeys(keys: Iterable[String]): Seq[String] =
    keys.toSeq.sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    }

  def sourceProfile(df: DataFrame, keyCol: String, idCol: String, textCol: String,
                    percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    percentiles.foreach(p => require(p > 0.0 && p <= 1.0, s"percentile must be in (0,1], got $p"))
    // labels round to whole percents — refuse configs whose labels
    // collide (review r15: 0.005 and 0.01 both label p1_tokens, and
    // the aggregate would emit two identically-named columns that
    // fail AMBIGUOUS_REFERENCE downstream while the two quantiles
    // become indistinguishable)
    val pctLabels = percentiles.map(p => s"p${(p * 100).round}_tokens")
    require(pctLabels.distinct.size == pctLabels.size,
      s"percentile labels collide after rounding: ${pctLabels.mkString(", ")} — " +
        "use percentiles at least one percent apart")
    val w = Window.partitionBy(col(keyCol))
    // NULLS FIRST made explicit on BOTH engines: Spark's ascending
    // default is nulls-first but DuckDB's is nulls-LAST, and a silent
    // default mismatch would shift every rank below a null-text doc
    val wOrd = w.orderBy(col("n").asc_nulls_first, col(idCol).asc_nulls_first)
    val ranked = df
      .select(col(keyCol), col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(w))
    val pctCols = percentiles.zip(pctLabels).map { case (p, lbl) =>
      max(when(col("rn") <= ceil(lit(p) * col("cnt")).cast("long"), col("n")))
        .as(lbl) }
    val aggs = sum(col("n")).cast("long").as("total_tokens") +: pctCols
    ranked.groupBy(col(keyCol))
      .agg(max(col("cnt")).cast("long").as("n_docs"), aggs: _*)
  }

  /** Exact fixed-width histogram of a numeric column — the length/
    * score-distribution audit next to sourceProfile's percentiles.
    * Bucket = floor((x − min) · buckets / (max − min)), the max value
    * clamped into the last bucket; nulls are excluded. min/max come
    * from one O(1)-rows-back aggregate (the k-bounded-collect
    * posture), ship back as plan literals, and the histogram itself
    * is ONE hash-agg over `buckets` keys — two corpus scans total,
    * no window, no sort. Doubles stay exact cross-engine because
    * every step ((x−lo)·buckets, one division, floor) is the same
    * IEEE op sequence the oracle runs. Output: (bucket, n, lo, hi)
    * with lo/hi the bucket's real-value bounds. */
  def histogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 100000, s"buckets must be in [1,1e5], got $buckets")
    val mm = df.agg(min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi")).head()
    require(!mm.isNullAt(0), s"histogram of an empty or all-null column '$valueCol'")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val w = (hi - lo) / buckets
    val bkt = if (hi == lo) lit(0)
      else least(floor((col(valueCol).cast("double") - lo) * buckets / (hi - lo)),
        lit(buckets - 1)).cast("int")
    df.filter(col(valueCol).isNotNull)
      .groupBy(bkt.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", lit(lo) + col("bucket") * lit(w))
      .withColumn("hi", when(col("bucket") === buckets - 1, lit(hi))
        .otherwise(lit(lo) + (col("bucket") + 1) * lit(w)))
  }

  /** Stable pseudonymization: replace each named column with the md5
    * hex of salt ‖ ':' ‖ value — the de-identification step before a
    * curated corpus leaves its enclave. Same (salt, value) ⇒ same
    * pseudonym, so joins and group-bys on the pseudonymized key still
    * work across tables hashed with the same salt, while the raw
    * identifier never appears downstream; rotating the salt unlinks
    * past releases. NULL stays NULL (a hashed sentinel would make
    * every null identical-and-joinable, which is exactly the linkage
    * leak this prevents). Rowwise codegen, no shuffle — one map-only
    * pass at any scale. Nothing here is reversible anonymization —
    * it is linkable pseudonymization, as documented. */
  def pseudonymize(df: DataFrame, cols: Seq[String], salt: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize needs at least one column")
    require(salt.nonEmpty, "empty salt defeats the unlinkability contract")
    cols.foldLeft(df)((acc, c) =>
      acc.withColumn(c,
        when(col(c).isNotNull,
          md5(concat(lit(salt), lit(":"), col(c).cast("string"))))))
  }

  /** Per-key quantile gate: within each key, drop the bottom q
    * fraction of rows by metricCol (keep rows ranked ABOVE the
    * ceil(q·n)-th smallest — "drop each source's shortest/lowest-
    * quality 20%"). The cut is the exact-integer rank rule of
    * sourceProfile — rank with idCol tie-break, threshold
    * ceil(q·count) — never an FP comparison against an interpolated
    * quantile value, so membership is deterministic and cross-engine
    * exact (ties are split by id, not all-kept or all-dropped).
    * One key-partitioned window + count — a single O(rows) shuffle on
    * the key, same posture as capPerKey. */
  def filterByQuantile(df: DataFrame, keyCol: String, idCol: String,
                       metricCol: String, q: Double): DataFrame = {
    require(q >= 0.0 && q < 1.0, s"q must be in [0,1), got $q")
    val w = Window.partitionBy(col(keyCol))
    val wOrd = w.orderBy(col(metricCol).asc_nulls_first, col(idCol).asc_nulls_first)
    df.withColumn("__rn", row_number().over(wOrd))
      .withColumn("__cnt", count(lit(1)).over(w))
      .filter(col("__rn") > ceil(lit(q) * col("__cnt")).cast("long"))
      .drop("__rn", "__cnt")
  }

  /** Per-key robust outlier gate: keep rows whose metric sits within
    * nMads median-absolute-deviations of their key's median — the
    * quality gate that, unlike mean/stddev z-scores, one viral
    * outlier cannot drag (median and MAD have 50% breakdown). Both
    * statistics are DISCRETE (the ceil(n/2)-th smallest value under
    * (metric, id) ordering — sourceProfile's exact-rank rule, nulls
    * first) so membership is deterministic and cross-engine exact;
    * no FP interpolation anywhere. Rows with a null metric drop (an
    * unmeasurable row is not within any deviation bound). Degenerate
    * keys where MAD = 0 (over half the rows share the median) keep
    * only metric == median — the honest reading of "within 0
    * deviations"; widen with filterByQuantile if that is too sharp.
    * Cost: two same-key windows over one exchange — the capPerKey
    * posture, skew bounded by the largest key. */
  def madOutlierGate(df: DataFrame, keyCol: String, idCol: String,
                     metricCol: String, nMads: Double = 3.0): DataFrame = {
    require(nMads >= 0.0, s"nMads must be >= 0, got $nMads")
    val w = Window.partitionBy(col(keyCol))
    val half = ceil(col("__cnt") / lit(2.0)).cast("long")
    val ord1 = w.orderBy(col(metricCol).asc_nulls_first, col(idCol).asc_nulls_first)
    val m1 = df
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(ord1))
      .withColumn("__med", max(when(col("__rn") <= half, col(metricCol))).over(w))
      .withColumn("__dev", abs(col(metricCol) - col("__med")))
    val ord2 = w.orderBy(col("__dev").asc_nulls_first, col(idCol).asc_nulls_first)
    m1.withColumn("__rn2", row_number().over(ord2))
      .withColumn("__mad", max(when(col("__rn2") <= half, col("__dev"))).over(w))
      .filter(col("__dev") <= lit(nMads) * col("__mad"))
      .drop("__cnt", "__rn", "__med", "__dev", "__rn2", "__mad")
  }

  /** Scalable global rank (1-based, dense over rows): the two-pass
    * range-partition + partition-offset form of `row_number() OVER
    * (ORDER BY ...)`. A global ranking Window sorts the WHOLE input
    * on ONE partition — the classic 100 TB scale cliff; this form
    * never materializes a global sort on a single node:
    *
    *  1. `repartitionByRange(np, order)` + `sortWithinPartitions` —
    *     ONE range exchange; partition i holds the rows ranked
    *     between partitions i-1 and i+1, each internally sorted.
    *  2. per-partition row counts → driver (np rows — the same
    *     k-bounded-collect posture as the K-Means centroid step) →
    *     exclusive prefix sums = each partition's rank offset.
    *  3. rank = offset(pid) + local index + 1, where
    *     `monotonically_increasing_id()` = pid·2³³ + local index
    *     (its documented contract) gives both pieces rowwise.
    *
    * The sorted relation is materialized ONCE (localCheckpoint) before
    * the counts job: range-bound sampling is seeded by RDD id, so
    * re-executing the exchange in the rank job could place boundary
    * rows in different partitions than the counts saw (observed as
    * off-by-k ranks at np=3) — both jobs must read the SAME placement.
    * That materialization is also why the input should be the SMALL
    * relation (an aggregated vocabulary, not the raw corpus). The
    * caller's `order` must be a TOTAL order — pass a tie-break column.
    * Rank parity with the single-partition Window twin is pinned in
    * CurationSpec. */
  def globalRank(df: DataFrame, rankCol: String, numPartitions: Int,
                 order: Column*): DataFrame = {
    require(order.nonEmpty, "globalRank needs at least one order column")
    val np = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(np, order: _*).sortWithinPartitions(order: _*)
      .localCheckpoint()
    val counts = sorted.select(spark_partition_id().as("__pid"))
      .groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until np).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetByPid = (0 until np).map(p => p -> offsets(p)).toMap
    val mid = monotonically_increasing_id()
    sorted.withColumn(rankCol,
      element_at(typedlit(offsetByPid), shiftright(mid, 33).cast("int"))
        + (mid.bitwiseAND((1L << 33) - 1)) + 1L)
  }

  /** Global inclusive running sum over a total order — the prefix-sum
    * primitive behind budget cuts and offset assignment. A plain
    * `Window.orderBy(...)` with no partition funnels the corpus
    * through ONE task; this takes the globalRank route instead:
    * range-partition by the order keys + in-partition sort (one
    * Exchange(RangePartitioning) — np parallel sorted runs), collect
    * the np per-partition TOTALS (np longs, not rows) to the driver,
    * and stream each partition once adding its exclusive offset. The
    * per-partition pass is the one genuinely sequential step of a
    * prefix sum — the documented mapPartitions exception (like the
    * Multimodal codec hatch): expressing it as a window partitioned
    * by spark_partition_id would re-shuffle the full corpus a second
    * time for nothing. localCheckpoint pins the partition layout so
    * the totals job and the streaming pass see identical pids.
    * valueCol must be an integral column (exact arithmetic; FP prefix
    * sums would be partitioning-dependent in the last ulp). Output:
    * input columns + outCol (inclusive running sum, order given). */
  def globalRunningSum(df: DataFrame, valueCol: String, outCol: String,
                       numPartitions: Int, order: Column*): DataFrame = {
    require(order.nonEmpty, "globalRunningSum needs at least one order column")
    require(df.schema(valueCol).dataType == org.apache.spark.sql.types.LongType
        || df.schema(valueCol).dataType == org.apache.spark.sql.types.IntegerType,
      s"valueCol '$valueCol' must be int/long — exact integer prefix sums only")
    val np = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df.withColumn("__v", col(valueCol).cast("long"))
      .repartitionByRange(np, order: _*).sortWithinPartitions(order: _*)
      .localCheckpoint()
    // coalesce: an all-null partition would otherwise NPE the driver
    // collect below; the streaming pass still rejects any null row
    // loudly (the totals job runs first, so this is the only place a
    // null could slip through silently)
    val totals = sorted.select(spark_partition_id().as("__pid"), col("__v"))
      .groupBy("__pid").agg(coalesce(sum(col("__v")), lit(0L)).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until np).scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L))
    // the pid rides as a COLUMN, not TaskContext.getPartitionId():
    // spark_partition_id() is evaluated with the PLANNING partition's
    // index (mapPartitionsWithIndex under the hood), so it survives a
    // downstream coalesce() — whereas the task id would collapse to 0
    // and silently drop every offset. The accumulator resets on pid
    // change because a coalesced task concatenates several planning
    // partitions into one iterator.
    val withPid = sorted.withColumn("__pid", spark_partition_id())
    val vIdx = withPid.schema.fieldIndex("__v")
    val pidIdx = withPid.schema.fieldIndex("__pid")
    val outSchema = withPid.schema.add(outCol, org.apache.spark.sql.types.LongType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPid.mapPartitions { it =>
      var cur = -1
      var acc = 0L
      it.map { r =>
        if (r.isNullAt(vIdx))
          throw new IllegalArgumentException(
            "globalRunningSum: NULL in the value column — a null has no " +
              "defined place in an exact prefix sum; filter or coalesce it upstream")
        val pid = r.getInt(pidIdx)
        if (pid != cur) { cur = pid; acc = offsets(pid) }
        acc += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    }(enc).drop("__v", "__pid")
  }

  /** Deterministic down-sample to a TOTAL token budget — "cut me an
    * exactly-≤N-token corpus": rows are ordered by a salted md5 of
    * the id (an unbiased, repartition-stable shuffle order) and kept
    * while the inclusive running token sum stays ≤ budget. The
    * admitted set is nested across budgets (a 1B-token cut contains
    * the 100M-token cut — same order, longer prefix) and never
    * depends on rng state. Costs globalRunningSum's one range
    * exchange. Output: input columns + cum_tokens (of kept rows). */
  def sampleToTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                          budget: Long, seed: Long = 42L): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val keyed = df.withColumn("__sk", md5(concat_ws(":", lit(seed), col(idCol))))
    globalRunningSum(keyed, tokensCol, "cum_tokens", 0, col("__sk"), col(idCol))
      .filter(col("cum_tokens") <= budget)
      .drop("__sk")
  }

  /** Keep the single best row per key — argmax by scoreCol with
    * lowest-idCol tie-break (the "best document per URL/domain" rule
    * of web-corpus curation, where crawls see the same page many
    * times at different quality). Deliberately NOT a window: a
    * ranking window shuffles and sorts every row of every key;
    * `max_by` is a declarative aggregate, so each map task ships ONE
    * candidate row per key it sees (partial aggregation — the struct
    * buffer plans as a SortAggregate pair, still map-side combined),
    * and the reduce side compares #tasks candidates — the shuffle is
    * O(keys·tasks), independent of corpus size. Parity with the
    * row_number()=1 window twin is pinned in CurationSpec.
    * idCol must be numeric (the tie-break negates it so the struct
    * comparison picks max score then MIN id). Null scores never win
    * against a non-null score (struct ordering on the agg side skips
    * rows whose ordering key is not greater). */
  def keepBestPerKey(df: DataFrame, keyCols: Seq[String], scoreCol: String,
                     idCol: String): DataFrame = {
    require(keyCols.nonEmpty, "keepBestPerKey needs at least one key column")
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric — the tie-break negates it")
    val all = df.columns.toIndexedSeq.map(col)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(all: _*), struct(col(scoreCol), -col(idCol))).as("__best"))
      .select(col("__best.*"))
  }

  /** Snapshot diff between two corpus versions — the audit a periodic
    * ingestion pipeline runs before promoting a new crawl: which ids
    * were added, which disappeared, which changed content. Emits
    * DELTAS ONLY (unchanged rows are the overwhelming majority at
    * scale and are filtered before the result materializes).
    *
    * Scale shape: each side is reduced map-side to (id, md5) — wide
    * value columns are hashed in the scan stage and never shuffled —
    * then one full-outer hash join on the id. Output:
    * (idCol, status ∈ {added, removed, changed}). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   valueCols: Seq[String]): DataFrame = {
    val oh = oldDf.select(col(idCol), Dedup.contentHash(valueCols.map(col): _*).as("__oh"))
    val nh = newDf.select(col(idCol), Dedup.contentHash(valueCols.map(col): _*).as("__nh"))
    oh.join(nh, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Apply side of snapshotDiff: materialize the MERGED corpus from a
    * current table and an incoming batch — incoming rows win on id
    * collision (upsert), current-only rows survive (no implicit
    * deletes: removal is a curation decision, not a merge side
    * effect), and every output row carries its provenance action
    * (inserted / updated / unchanged), decided by the same content
    * hash snapshotDiff uses — a re-sent identical row is `unchanged`,
    * not a spurious update, which is what makes downstream
    * incremental consumers (dedup indices, embedding caches) able to
    * skip no-op rows.
    *
    * Scale shape: ONE full-outer join on the id (both sides shuffle
    * once on the same key; AQE broadcasts a small batch side), all
    * columns resolved via coalesce — no second pass, no window.
    * Output: valueCols resolved to the winner + (idCol, action). */
  def mergeSnapshot(current: DataFrame, incoming: DataFrame, idCol: String,
                    valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "mergeSnapshot needs at least one value column")
    val cur = current.select(col(idCol) +: lit(1).as("__curp") +:
      Dedup.contentHash(valueCols.map(col): _*).as("__ch") +:
      valueCols.map(c => col(c).as(s"__cur_$c")): _*)
    val inc = incoming.select(col(idCol) +: lit(1).as("__incp") +:
      Dedup.contentHash(valueCols.map(col): _*).as("__ih") +:
      valueCols.map(c => col(c).as(s"__inc_$c")): _*)
    cur.join(inc, Seq(idCol), "full_outer")
      .select(col(idCol) +:
        valueCols.map(c => coalesce(col(s"__inc_$c"), col(s"__cur_$c")).as(c)) :+
        when(col("__curp").isNull, lit("inserted"))
          .when(col("__incp").isNull, lit("kept"))
          .when(col("__ch") =!= col("__ih"), lit("updated"))
          .otherwise(lit("unchanged")).as("action"): _*)
  }

  /** Exact n-gram decontamination — the 13-gram standard of GPT-3
    * appendix C / PaLM-style eval hygiene (public papers): corpus
    * documents sharing at least minShared exact word n-grams with ANY
    * probe document. Complementary to winnowContamination below:
    * winnow detects long shared passages with sampled fingerprints;
    * this is the exhaustive exact-n-gram contract most eval cards
    * state. Grams are md5-compressed before the join so the shuffled/
    * broadcast relation carries 32-hex keys, never 13-word strings.
    *
    * Scale shape: identical to winnowContamination — the probe side
    * (an eval benchmark, thousands of rows) is BROADCAST, so the
    * corpus explodes its grams map-side into the broadcast-hash join
    * and is never shuffled; the partial-agg count ships only matched
    * (doc, probe) rows. Output: (corpusId, probe_id, n_shared ≥
    * minShared) counting DISTINCT shared n-grams. */
  def ngramContamination(corpus: DataFrame, corpusId: String, corpusText: String,
                         probes: DataFrame, probeId: String, probeText: String,
                         n: Int = 13, minShared: Int = 1): DataFrame = {
    def grams(df: DataFrame, id: String, text: String, outId: String) =
      df.select(col(id).as(outId),
        explode(Dedup.shingles(col(text), n)).as("__g"))
        .select(col(outId), md5(col("__g")).as("__g"))
    grams(corpus, corpusId, corpusText, corpusId)
      .join(broadcast(grams(probes, probeId, probeText, "probe_id")), Seq("__g"))
      .groupBy(col(corpusId), col("probe_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Distribution drift between two corpus versions over a
    * categorical key (source, lang, domain): per-key counts and
    * fractions on both sides plus the absolute fraction change — the
    * mix-shift audit run next to snapshotDiff before promoting a new
    * crawl (half the total drift summed over keys is the total
    * variation distance). Keys absent on one side report 0 with
    * frac 0, not a dropped row. Fractions are NULL when a side is
    * empty (never an IEEE infinity).
    *
    * Scale shape: each side partial-aggs to (key, count) map-side —
    * one compact-key shuffle each — then a full-outer join of two
    * key-cardinality relations and a broadcast of the 1-row totals.
    * Output: (keyCol, n_old, n_new, frac_old, frac_new, drift). */
  def distributionDrift(oldDf: DataFrame, newDf: DataFrame, keyCol: String): DataFrame = {
    val oc = oldDf.groupBy(col(keyCol)).agg(count(lit(1)).as("n_old"))
    val nc = newDf.groupBy(col(keyCol)).agg(count(lit(1)).as("n_new"))
    // pinned: the totals row AND the output read `joined` — without
    // the pin both corpus-wide aggregations (the operator's dominant
    // cost) run twice; the cached relation is only |keys| rows
    val joined = Dedup.pin(oc.join(nc, Seq(keyCol), "full_outer")
      .select(col(keyCol), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new")))
    val totals = joined.agg(sum("n_old").as("__to"), sum("n_new").as("__tn"))
    val fo = when(col("__to") > 0, col("n_old").cast("double") / col("__to"))
    val fn = when(col("__tn") > 0, col("n_new").cast("double") / col("__tn"))
    joined.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n_old"), col("n_new"),
        fo.as("frac_old"), fn.as("frac_new"),
        abs(coalesce(fn, lit(0.0)) - coalesce(fo, lit(0.0))).as("drift"))
  }

  /** Deterministic negative sampling for contrastive training: for
    * each row, k pseudo-random OTHER rows — negatives that are (a)
    * never the anchor itself, (b) reproducible (a pure function of
    * seed, id, and j — reruns, retries, and repartitioning cannot
    * change a pair), and (c) uniform-ish over the corpus via md5.
    *
    * Mechanics: rank rows 1..n by id (globalRank — one range
    * exchange, no single-partition sort), then negative j of a row is
    * the row at rank (rank-1 + 1 + md5(seed:id:j) mod (n-1)) mod n +
    * 1 — a modular shift that can never land on the anchor. One hash
    * join on the rank resolves ids; output is the k·n pair relation
    * itself, so the join IS the output size. The ranked relation is
    * pinned (cache) because both the shift and the resolve side read
    * it. Output: (idCol, j ∈ 1..k, neg_id). */
  def negativeSamples(df: DataFrame, idCol: String, k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = Dedup.pin(globalRank(df.select(col(idCol)), "__r", 0, col(idCol)))
    val n = ranked.count()
    require(n >= 2, s"negative sampling needs >= 2 rows, got $n")
    val off = conv(substring(md5(concat_ws(":", lit(seed), col(idCol), col("j"))), 1, 8),
      16, 10).cast("long") % lit(n - 1) + 1L
    ranked.select(col(idCol), col("__r"), explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__nr", (col("__r") - 1L + off) % lit(n) + 1L)
      .join(ranked.select(col("__r").as("__nr"), col(idCol).as("neg_id")), Seq("__nr"))
      .select(col(idCol), col("j"), col("neg_id"))
  }

  /** Quantile normalization of a per-key score onto the corpus-wide
    * distribution — the cross-source calibration step for quality
    * scores: a "0.8" from a verbose source and a "0.8" from a terse
    * one rarely mean the same thing, so each row's score is replaced
    * by the GLOBAL score at its within-key quantile. After it, every
    * key's scores share the corpus distribution and one threshold
    * means one thing (the classic quantile-normalization technique).
    *
    * Exact integer contract (deterministic, SQL-replayable): within
    * key, rank r of m by (score, id); target global rank =
    * 1 + (r-1)·(N-1) div (m-1) — endpoints map to endpoints — and a
    * singleton key maps to the global median rank 1 + (N-1) div 2.
    * No floating quantile is ever computed.
    *
    * Scale shape: one ranking window on the key, the globalRank
    * range exchange for the reference distribution, one hash join on
    * the computed rank. Output: (idCol, keyCol, scoreCol,
    * score_norm). */
  def quantileNormalize(df: DataFrame, keyCol: String, scoreCol: String,
                        idCol: String): DataFrame = {
    val wk = Window.partitionBy(col(keyCol)).orderBy(col(scoreCol), col(idCol))
    val ranked = df
      .withColumn("__r", row_number().over(wk).cast("long"))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col(keyCol))).cast("long"))
    val global = Dedup.pin(globalRank(
      df.select(col(scoreCol).as("__gs"), col(idCol).as("__gid")),
      "__gr", 0, col("__gs"), col("__gid")))
    val n = global.count()
    val target = when(col("__m") > 1L,
        lit(1L) + call_function("div", (col("__r") - 1L) * lit(n - 1), col("__m") - 1L))
      .otherwise(lit(1L + (n - 1) / 2))
    ranked.withColumn("__t", target)
      .join(global.select(col("__gr").as("__t"), col("__gs").as("score_norm")), Seq("__t"))
      .select(col(idCol), col(keyCol), col(scoreCol), col("score_norm"))
  }

  /** Exact linear-interpolated quantiles of a numeric column per key
    * (type-7 / "quantile_cont": at quantile p over m sorted values,
    * position h = (m-1)·p + 1, result = v_⌊h⌋ + (h-⌊h⌋)·(v_⌊h⌋₊₁ -
    * v_⌊h⌋)) — the per-source length/quality distribution report that
    * sizes curation thresholds. EXACT, not approx_percentile: the
    * summary is a handful of rows, and curation cutoffs chosen from a
    * sketch drift between runs. The formula is spelled out (rather
    * than delegated to an engine percentile builtin) so the oracle
    * replays the identical IEEE sequence.
    *
    * Scale shape: NO per-key window (a mega-source would sort in one
    * task) — within-key rank = globalRank over (key, value) minus
    * per-key exclusive offsets, the interleaveMix idiom (offsets from
    * a #keys-bounded driver collect, UTF-8-byte-order sorted to match
    * the rank's binary string order). The (key, p) → needed-rank spec
    * is driver-computed (#keys × #ps rows) and BROADCAST into two
    * joins that pluck only the ⌊h⌋ and ⌊h⌋+1 rows. Rank ties among
    * equal values are harmless: only VALUES are emitted, and equal
    * values interpolate to the same result whichever takes the rank.
    * Output: (keyCol, p, q, m) — one row per key per p. */
  def quantilesByKey(df: DataFrame, keyCol: String, valCol: String,
                     ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "quantilesByKey needs at least one quantile")
    ps.foreach(p => require(p >= 0.0 && p <= 1.0, s"quantile must be in [0,1], got $p"))
    require(ps.distinct.length == ps.length, "duplicate quantiles")
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType,
      s"quantilesByKey: keyCol '$keyCol' must be string")
    require(df.schema(valCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"quantilesByKey: valCol '$valCol' must be numeric")
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // loud contract, not an NPE three lines later in the byte sort:
    // the offset arithmetic and the join-back in robustScale /
    // winsorizeByKey key on the string value, so a NULL key has no
    // defined rank space here — callers must bucket NULLs first
    require(!counts.contains(null),
      s"quantilesByKey: keyCol '$keyCol' contains NULL keys — map them to a " +
        "sentinel bucket before calling (the per-key rank space needs a value)")
    require(counts.nonEmpty, "quantilesByKey on an empty relation")
    val keysAsc = utf8SortedKeys(counts.keys)
    val offsets = keysAsc.zip(keysAsc.scanLeft(0L)((acc, k) => acc + counts(k))).toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (k, off)) =>
      when(col("__k") === k, lit(off)).otherwise(acc)
    }
    val ranked = Dedup.pin(
      globalRank(
        df.filter(col(valCol).isNotNull)
          .select(col(keyCol).as("__k"), col(valCol).cast("double").as("__v")),
        "__g", 0, col("__k"), col("__v"))
        .select(col("__k"), (col("__g") - offCol).as("__r"), col("__v")))
    val spec = for { k <- keysAsc; p <- ps } yield {
      val m = counts(k)
      val h = (m - 1).toDouble * p + 1.0
      val lo = math.floor(h)
      (k, p, m, lo.toLong, math.min(lo.toLong + 1L, m), h - lo)
    }
    val specDf = df.sparkSession.createDataFrame(spec)
      .toDF("__sk", "p", "m", "__lo", "__hi", "__frac")
    val loRows = ranked.join(broadcast(specDf),
        ranked("__k") === specDf("__sk") && ranked("__r") === specDf("__lo"))
      .select(col("__sk"), col("p"), col("m"), col("__hi"), col("__frac"),
        col("__v").as("__vlo"))
    broadcast(loRows).join(
        ranked.select(col("__k").as("__sk"), col("__r").as("__hi"), col("__v").as("__vhi")),
        Seq("__sk", "__hi"))
      .select(col("__sk").as(keyCol), col("p"),
        (col("__vlo") + col("__frac") * (col("__vhi") - col("__vlo"))).as("q"),
        col("m"))
  }

  /** Exact one-pass Pearson correlation per key — the feature-
    * redundancy / drift-vs-metric diagnostic ("is discount actually
    * coupled to quantity inside each return class"), bit-exact where
    * a textbook two-pass corr is not (distributed FP moment sums are
    * order-dependent).
    *
    * The zscoreByKey fixed-point idiom, two-variable form: work in
    * integer units x = round(xScale·X), y = round(yScale·Y); per key
    * the six moments (n, Σx, Σy, Σx², Σy², Σxy) are EXACT longs, and
    * r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) has exact
    * integer operands. The cross terms (n·Σx², Σx·Σy, …) can exceed
    * 2⁶³ long before the double math cares, so the FINAL algebra runs
    * in decimal(38,0) — exact integers to 38 digits, mirrored by the
    * oracle's HUGEINT — with ONE rounding per operand at the cast to
    * double. Degenerate keys (either variance 0, or n = 1) yield
    * NULL. Long-moment bound: Σx² needs max(|x|)²·n < 2⁶³ — holds to
    * ~90 billion rows/key at |x| ≤ 10⁴ units; the decimal stage has
    * 38 digits of headroom above that.
    *
    * Scale shape: ONE map-side-combined hash aggregate over the scan
    * (six longs per key), then rowwise algebra on the #keys-sized
    * result. No second pass, no windows.
    * Output: (keyCol, n, r). */
  def pearsonByKey(df: DataFrame, keyCol: String, xCol: String, yCol: String,
                   xScale: Int = 100, yScale: Int = 100): DataFrame = {
    require(xScale > 0 && yScale > 0, "scales must be positive")
    val x = round(col(xCol) * xScale).cast("long")
    val y = round(col(yCol) * yScale).cast("long")
    val m = df.groupBy(col(keyCol)).agg(
      count(lit(1)).cast("long").as("n"),
      sum(x).cast("long").as("__sx"), sum(y).cast("long").as("__sy"),
      sum(x * x).cast("long").as("__sxx"), sum(y * y).cast("long").as("__syy"),
      sum(x * y).cast("long").as("__sxy"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val covN = dec(col("n")) * dec(col("__sxy")) - dec(col("__sx")) * dec(col("__sy"))
    val vxN = dec(col("n")) * dec(col("__sxx")) - dec(col("__sx")) * dec(col("__sx"))
    val vyN = dec(col("n")) * dec(col("__syy")) - dec(col("__sy")) * dec(col("__sy"))
    m.select(col(keyCol), col("n"),
      when(vxN > 0 && vyN > 0,
        covN.cast("double")
          / (sqrt(vxN.cast("double")) * sqrt(vyN.cast("double")))).as("r"))
  }

  /** Robust per-key standardization: r = (x − median) / IQR — the
    * outlier-insensitive twin of Events.zscoreByKey (one fat-tailed
    * whale moves a mean/σ z-score arbitrarily; the median and
    * quartiles ignore it), the normalizer of choice before
    * quality-score thresholding on heavy-tailed web data.
    *
    * Exactness: the three quartiles come from quantilesByKey's exact
    * type-7 machinery (the identical IEEE interpolation the oracle
    * replays), and r is two subtractions + one division in a pinned
    * order — every row hash-matches the SQL replay. Degenerate keys
    * (IQR = 0 — over half the key's mass on one value) yield NULL
    * rather than a division blow-up.
    *
    * Scale shape: quantilesByKey's range-exchange rank (no per-key
    * window — a mega-key would sort in one task) produces a
    * #keys-sized quartile table, pivoted and BROADCAST back over the
    * scan — the corpus itself never shuffles.
    * Output: (idCol, keyCol, valCol, r). */
  def robustScale(df: DataFrame, idCol: String, keyCol: String,
                  valCol: String): DataFrame = {
    val qs = quantilesByKey(df.select(col(keyCol), col(valCol)),
      keyCol, valCol, Seq(0.25, 0.5, 0.75))
    val stats = qs.groupBy(col(keyCol)).agg(
      max(when(col("p") === 0.25, col("q"))).as("__q1"),
      max(when(col("p") === 0.5, col("q"))).as("__med"),
      max(when(col("p") === 0.75, col("q"))).as("__q3"))
    df.select(col(idCol), col(keyCol), col(valCol))
      .join(broadcast(stats), Seq(keyCol))
      .select(col(idCol), col(keyCol), col(valCol),
        when(col("__q3") > col("__q1"),
          (col(valCol) - col("__med")) / (col("__q3") - col("__q1"))).as("r"))
  }

  /** Hard-negative mining for contrastive training: negatives drawn
    * from the anchor's OWN K-Means cell — semantically close (hard)
    * but never the anchor itself — where negativeSamples draws
    * uniformly from the whole corpus (easy negatives). Same
    * determinism contract: a pure function of (seed, id, j), stable
    * under reruns and repartitioning. Anchors in singleton cells emit
    * no rows (there is nothing hard to offer them — fall back to
    * negativeSamples for those).
    *
    * Mechanics: rowwise argmin assignment against the k×d centroid
    * plan literal, then rank + size per cell with one key-partitioned
    * window (a single shuffle on the cluster id), then the modular-
    * shift trick of negativeSamples per cell: negative j sits at rank
    * (rank-1 + 1 + md5(seed:id:j) mod (m-1)) mod m + 1 — never the
    * anchor. One hash join on (cluster, rank) resolves ids.
    * Output: (idCol, cluster, j ∈ 1..k, neg_id). */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    cents: graft.operators.KMeans.Centroids, k: Int,
                    seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric — a string id would silently " +
        "cast to NULL and corrupt the per-cell ranking")
    val idType = df.schema(idCol).dataType
    import graft.functions.VectorOps
    val assigned = Dedup.pin(
      KMeans.assign(df.select(col(idCol).cast("long").as("__id"),
        VectorOps.toDouble(col(vecCol)).as("__v")), "__v", cents)
        .select(col("__id"), col("cluster")))
    val ranked = Dedup.pin(assigned
      .withColumn("__r", row_number().over(
        Window.partitionBy("cluster").orderBy("__id")).cast("long"))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy("cluster")).cast("long")))
    val off = conv(substring(md5(concat_ws(":", lit(seed), col("__id"), col("j"))), 1, 8),
      16, 10).cast("long") % (col("__m") - 1L) + 1L
    ranked.filter(col("__m") >= 2L)
      .select(col("__id"), col("cluster"), col("__r"), col("__m"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__nr", (col("__r") - 1L + off) % col("__m") + 1L)
      .join(ranked.select(col("cluster"), col("__r").as("__nr"), col("__id").as("neg_id")),
        Seq("cluster", "__nr"))
      .select(col("__id").cast(idType).as(idCol), col("cluster"), col("j"),
        col("neg_id").cast(idType).as("neg_id"))
  }

  /** Benchmark decontamination: corpus documents sharing ≥ minShared
    * winnow fingerprints with ANY probe document (the eval-set
    * leak check run before training). Same detection guarantee as
    * winnowNearDup — a shared substring of length ≥ w+k-1 produces a
    * common fingerprint — but joined corpus×probes instead of
    * self-joined, and the probe side (an eval benchmark: thousands
    * of rows, not billions) is BROADCAST, so the corpus is never
    * shuffled at all: fingerprint explode + broadcast-hash join +
    * partial-agg count. Output: (idCol, probe_id, n_shared ≥
    * minShared). */
  def winnowContamination(corpus: DataFrame, corpusId: String, corpusText: String,
                          probes: DataFrame, probeId: String, probeText: String,
                          k: Int = 5, w: Int = 4, minShared: Int = 10): DataFrame = {
    def fps(df: DataFrame, id: String, text: String, outId: String) =
      TextAnalysis.winnowMins(df, id, text, k, w)
        .select(col(id).as(outId), explode(array_distinct(col("__mins"))).as("f"))
    fps(corpus, corpusId, corpusText, corpusId)
      .join(broadcast(fps(probes, probeId, probeText, "probe_id")), Seq("f"))
      .groupBy(col(corpusId), col("probe_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Referential-integrity audit: child-side foreign-key values with
    * no matching parent row, plus how many child rows carry each —
    * the orphan report a pipeline runs after every ingest/join stage
    * (a non-empty result means an upstream extractor or a snapshot
    * race broke a relation). NULL child keys are excluded: a NULL FK
    * references nothing, it doesn't dangle.
    *
    * Scale shape: the child aggregates to distinct (key, count)
    * FIRST (map-side partial — the fact table never moves wider than
    * its key column), then ONE anti-join against the parent's
    * distinct keys; Catalyst broadcasts the parent side when it fits,
    * and AQE picks a shuffled hash anti-join when it doesn't.
    * Output: (childKey, n_rows) — one row per orphaned key value. */
  def fkOrphans(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .groupBy(col(childKey)).agg(count(lit(1)).cast("long").as("n_rows"))
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")

  /** Per-column completeness audit: for every column, the table's row
    * count, its NULL count, and (string columns only — NULL
    * otherwise) its blank count (trims to empty). The one-pass
    * profile a pipeline asserts invariants against before training
    * data ships ("text is never blank", "doc_id is never null").
    *
    * Scale shape: ONE scan, ONE single-row partial aggregate (2
    * counters per column + a row count), then a rowwise explode of
    * that single row into the per-column report — no shuffle wider
    * than one row.
    * Output: (col_name, n_rows, n_null, n_blank) in schema order. */
  def nullProfile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cs = if (columns.nonEmpty) columns else df.columns.toSeq
    require(cs.nonEmpty, "nullProfile needs at least one column")
    val aggs = count(lit(1)).cast("long").as("__n") +: cs.flatMap { c =>
      val isStr = df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"__null_$c"),
        (if (isStr) sum(when(trim(col(c)) === "", 1L).otherwise(0L)).cast("long")
         else max(lit(null).cast("long"))).as(s"__blank_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cs.map(c => struct(
          lit(c).as("col_name"),
          col("__n").as("n_rows"),
          col(s"__null_$c").as("n_null"),
          col(s"__blank_$c").as("n_blank"))): _*)).as("r"))
      .select(col("r.col_name"), col("r.n_rows"), col("r.n_null"), col("r.n_blank"))
  }

  /** Z-order (Morton) layout index over two integer dimensions — the
    * multi-column clustering key behind data-skipping layouts: rows
    * sorted/bucketed by `zvalue` put records close in BOTH dimensions
    * into the same bucket, so a scan filtering on either column (or a
    * box on both) prunes most buckets by min/max stats, where a
    * single-column sort only prunes its leading column. `zbucket` is
    * the bucket id a writer would use (`nBuckets` a power of two —
    * the top log₂ bits of the z-value).
    *
    * Construction is exact integer arithmetic end to end: each
    * dimension is affinely mapped onto [0, 2^bits) with INTEGER
    * division ((x − min)·(2^bits − 1) DIV max(1, max − min) — no FP
    * anywhere, so cross-engine bit-exact), then the two coordinates'
    * bits interleave (x in even positions, y in odd). The per-
    * dimension min/max is the only driver-side state — ONE 4-long
    * collect, the K-Means-centroid posture; the mapping itself is a
    * plan literal and the whole operator is a rowwise projection
    * (zero shuffle — partitioning/sorting by the result is the
    * caller's write step).
    *
    * Input magnitudes: (x − min) · (2^bits − 1) must stay under 2⁶³,
    * i.e. value RANGE < 2^(63−bits) (~1.4e14 at the default 16 bits)
    * — loudly guarded, not silently wrong. */
  def zOrderIndex(df: DataFrame, idCol: String, xCol: String, yCol: String,
                  bits: Int = 16, nBuckets: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets must be a power of two, got $nBuckets")
    val bShift = 2 * bits - (31 - Integer.numberOfLeadingZeros(nBuckets))
    require(bShift >= 0, s"nBuckets=$nBuckets needs more than 2*bits=$bits z-bits")
    val bounds = df.agg(
      min(col(xCol).cast("long")), max(col(xCol).cast("long")),
      min(col(yCol).cast("long")), max(col(yCol).cast("long"))).collect()(0)
    require(!bounds.anyNull, "zOrderIndex: empty input or all-NULL dimension")
    val (minX, maxX, minY, maxY) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    val top = (1L << bits) - 1L
    // ranges in BigInt BEFORE subtracting (review r15): maxX − minX
    // itself wraps for a dimension spanning more than Long.MaxValue
    // (e.g. ±6e18), which made this guard pass trivially and pushed
    // the overflow into the engine-side scaled() arithmetic — exactly
    // the silent wrongness the guard exists to refuse
    require((math.BigInt(maxX) - math.BigInt(minX)) * top < math.BigInt(Long.MaxValue)
        && (math.BigInt(maxY) - math.BigInt(minY)) * top < math.BigInt(Long.MaxValue),
      s"zOrderIndex: dimension range too wide for bits=$bits")
    // DIV = exact integer division (the product can exceed 2^53, so
    // a double-rounding `/` + floor would be silently wrong)
    def scaled(c: String, lo: Long, hi: Long) = expr(
      s"((CAST(`$c` AS BIGINT) - ${lo}L) * ${top}L) DIV ${math.max(1L, hi - lo)}L")
    val xi = scaled(xCol, minX, maxX)
    val yi = scaled(yCol, minY, maxY)
    val z = (0 until bits).map { i =>
      (shiftright(xi, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(yi, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
    df.select(col(idCol), col(xCol), col(yCol), z.as("zvalue"))
      .withColumn("zbucket", shiftright(col("zvalue"), bShift))
  }

  /** Per-key distinct-count estimate via a K-Minimum-Values sketch
    * (Bar-Yossef et al., RANDOM'02): keep the k smallest 32-bit
    * hashes of the value per key; if the key has fewer than k
    * distinct hashes the count is EXACT (the sketch holds every
    * value), otherwise est = (k−1) / u_k where u_k is the k-th
    * minimum normalized to (0,1] — the classic unbiased KMV
    * estimator. Unlike `approx_count_distinct`'s HLL (whose register
    * layout is engine-private), every piece here is deterministic
    * PUBLIC arithmetic — md5-derived hashes, an integer k-th minimum,
    * and ONE final IEEE division of exact longs — so the sketch is
    * bit-exact reproducible in any engine, mergeable across
    * snapshots, and oracle-checkable.
    *
    * Scale shape: one hash-shuffle dedups (key, hash) pairs with
    * map-side partial aggregation (the corpus never moves — only
    * 8-byte hashes); then a BOUNDED k-element partial agg (TopKAgg —
    * each map task ships ≤ k longs per key, so a billion-row key
    * costs the same shuffle bytes as a thousand-row key). No windows,
    * no per-key sorts, no unbounded collect_list.
    *
    * 32-bit-prefix collisions merge distinct values identically on
    * every engine (deterministic, and a < n²/2³³ relative
    * undercount — irrelevant at sketch precision).
    * Output: (keyCol, n_sketch ≤ k, kth_min — NULL when the sketch
    * isn't full, est). */
  def kmvDistinct(df: DataFrame, keyCol: String, valueCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"sketch size must be >= 2, got $k")
    val hv = conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val dedup = df.select(col(keyCol), hv.as("__hv")).distinct()
    // k minima ride TopKAgg's (score desc, id asc) contract with
    // score = −hash: the result array is ascending by hash
    val sk = dedup.groupBy(col(keyCol))
      .agg(graft.functions.TopKAgg.topK(k, col("__hv"),
        -col("__hv").cast("double")).as("__mins"))
    sk.select(col(keyCol),
        size(col("__mins")).cast("long").as("n_sketch"),
        when(size(col("__mins")) === k,
          element_at(col("__mins"), k).getField("_1")).as("kth_min"))
      .withColumn("est",
        when(col("kth_min").isNull, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toLong * 4294967296L).cast("double")
            / col("kth_min").cast("double")))
  }

  /** Count-Min sketch counter table (Cormode & Muthukrishnan '05):
    * `depth` independent md5-derived hash rows over `width` buckets;
    * counter(i, b) = exact occurrences of values hashing to b under
    * row i's hash. The bounded-memory frequency primitive: the table
    * is ≤ depth×width rows REGARDLESS of corpus size or cardinality,
    * mergeable across shards/snapshots by elementwise addition (the
    * counts are plain sums), and — unlike library sketches with
    * engine-private layouts — every piece is deterministic public
    * arithmetic (md5 prefix, mod, integer sums), so the table and
    * every estimate off it are bit-exact reproducible in any engine
    * and oracle-checkable.
    *
    * Scale shape: ONE pass — a depth-way rowwise expansion (array
    * literal of (row, bucket) structs, codegen) into a partial-agg
    * groupBy whose output is the depth×width table; shuffle bytes are
    * bounded by depth×width per task, independent of rows. */
  def cmsTable(df: DataFrame, valueCol: String,
               depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1 << 20), s"width must be in [2, 2^20], got $width")
    val v = col(valueCol).cast("string")
    val rb = transform(sequence(lit(0), lit(depth - 1)), i =>
      struct(i.cast("int").as("row"),
        pmod(conv(substring(md5(concat(i.cast("string"), lit(":"), v)), 1, 8),
            16, 10).cast("long"),
          lit(width.toLong)).cast("int").as("bucket")))
    df.select(explode(rb).as("__rb"))
      .groupBy(col("__rb.row").as("row"), col("__rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-query estimates off a `cmsTable`: est(x) = min over rows i
    * of counter(i, h_i(x)) — the classic CMS upper bound (est ≥ true
    * count always; ≤ true + εN with probability 1−δ for
    * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉). `items` must use the SAME
    * (depth, width) the table was built with — counters under a
    * different geometry estimate garbage, so pass them explicitly.
    * Exact integer arithmetic end to end (hash, lookup, min).
    *
    * Scale shape: items expand depth-way rowwise, LEFT-join the
    * (≤ depth×width row) counter table — broadcast by size — missing
    * counters read 0, then one per-item partial-agg min. */
  def cmsEstimate(cms: DataFrame, items: DataFrame, itemCol: String,
                  depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1 << 20), s"width must be in [2, 2^20], got $width")
    val v = col(itemCol).cast("string")
    val rb = transform(sequence(lit(0), lit(depth - 1)), i =>
      struct(i.cast("int").as("row"),
        pmod(conv(substring(md5(concat(i.cast("string"), lit(":"), v)), 1, 8),
            16, 10).cast("long"),
          lit(width.toLong)).cast("int").as("bucket")))
    items.select(col(itemCol), explode(rb).as("__rb"))
      .select(col(itemCol), col("__rb.row").as("row"),
        col("__rb.bucket").as("bucket"))
      .join(cms, Seq("row", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_n"))
  }

  /** k-anonymity audit (Sweeney 2002): group rows by their quasi-
    * identifier tuple and flag every equivalence class smaller than
    * k — the release-safety check that runs BEFORE pseudonymize
    * (hashing direct identifiers does nothing if a (nation, segment,
    * balance-bucket) triple already pins a row to one person).
    * Callers pre-project the quasi columns, generalizing as needed
    * (bucket the continuous ones — an exact balance IS an
    * identifier).
    *
    * Scale shape: ONE grouped count on the quasi tuple with map-side
    * partial agg; output is one row per equivalence class, never per
    * input row.
    *
    * Output: (quasi..., class_size, at_risk). */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("class_size"))
      .withColumn("at_risk", col("class_size") < k)
  }

  /** Bloom-prefiltered EXACT decontamination: drop every corpus row
    * whose key appears in the probe set (benchmark prompts, eval
    * answers), with the anti-join accelerated by a Bloom filter over
    * the probe keys. Blooms have NO false negatives, so rows the
    * filter clears are clean with certainty and skip the join
    * entirely; only the might-contain sliver (true hits + the fpp
    * tail) pays the exact verification anti-join that removes false
    * positives. The result is bit-identical to a plain anti-join —
    * the sketch buys the plan, not an approximation.
    *
    * Uses Spark's own BloomFilterAggregate / BloomFilterMightContain
    * (the runtime-row-filtering kernels — codegen'd, xxhash64-keyed).
    * The filter is built distributed (partial sketches OR-merge),
    * then ships as ONE plan literal (~1.2 MB per million probe keys
    * at 1% fpp) — the centroid-matrix posture. The corpus itself
    * never shuffles: the clean slice is a pure filter, and the
    * candidate slice entering the join is |hits| + fpp·|corpus|,
    * which a broadcast join absorbs when the probe side is
    * broadcast-sized. Probe sets too big to sketch-and-ship (≥ ~1e9
    * keys) should use the partitioned exact path (ngramContamination)
    * instead.
    *
    * NULL corpus keys are kept: SQL equality never matches NULL, so
    * a plain anti-join keeps them too (xxhash64 hashes a NULL child
    * to the seed, so such rows may enter the candidate slice — the
    * verification join then keeps them, preserving exactness).
    *
    * Output: the corpus rows whose key is NOT in the probe set, full
    * original schema. */
  def bloomDecontaminate(corpus: DataFrame, corpusKeyCol: String,
                         probe: DataFrame, probeKeyCol: String,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftglue.ColumnGlue
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    // xxhash64 is TYPE-sensitive (xxhash64(5: int) != xxhash64(5: long))
    // while the verification join's implicit-cast equality would still
    // match — mismatched key types could bloom-miss a truly
    // contaminated row into the unverified clean branch. Refuse rather
    // than silently break the "bit-identical to a plain anti-join"
    // contract; callers cast one side explicitly.
    require(corpus.schema(corpusKeyCol).dataType == probe.schema(probeKeyCol).dataType,
      s"corpus.$corpusKeyCol (${corpus.schema(corpusKeyCol).dataType}) and " +
        s"probe.$probeKeyCol (${probe.schema(probeKeyCol).dataType}) must have " +
        "the same type — xxhash64 is type-sensitive, so a cross-type bloom " +
        "probe can miss true contamination; cast one side first")
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = ColumnGlue.column(new BloomFilterAggregate(
      ColumnGlue.resolvedExpression(xxhash64(col("__k"))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bytes = probe.select(col(probeKeyCol).as("__k"))
      .agg(bloomAgg.as("__bf")).head().getAs[Array[Byte]](0)
    if (bytes == null) return corpus // empty probe set: nothing to drop
    val might = ColumnGlue.column(new BloomFilterMightContain(
      Literal(bytes, BinaryType),
      ColumnGlue.resolvedExpression(xxhash64(col(corpusKeyCol)))))
    val clean = corpus.filter(!might)
    // dataframe-qualified join refs: bare col("__pk") would be
    // ambiguous (or resolve wrongly) if the corpus itself carries a
    // __pk column
    val candidates = corpus.filter(might)
    val probeKeys = probe.select(col(probeKeyCol).as("__pk")).distinct()
    val verified = candidates.join(probeKeys,
      candidates(corpusKeyCol) === probeKeys("__pk"), "left_anti")
    clean.unionByName(verified)
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's
    * distinct token n-grams that appear in no other document — the
    * "how much genuinely new text does this doc contribute" signal
    * used to up-weight novel documents (the inverse of
    * ngramContamination's overlap direction, self-corpus instead of
    * corpus-vs-probe). 1.0 = all n-grams unique to this doc; 0.0 =
    * everything it says, some other doc also says.
    *
    * Scale shape: distinct (doc, md5-gram) explode → gram doc-
    * frequency (partial agg, gram-vocab-sized keys, 32-char hashed
    * grams so shuffle width is constant) → join back on the gram →
    * per-doc integer counts. The df table is aggregated BEFORE the
    * join (vocab-sized build side). All counts exact longs; novelty
    * is one division. Docs too short for any n-gram report 0 grams
    * with NULL novelty. n counts TOKENS (Dedup.shingles — word
    * n-grams, distinct per doc by construction).
    * Output: (idCol, n_grams, n_novel, novelty). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = Dedup.pin(df.select(col(idCol),
      explode(Dedup.shingles(col(textCol), n)).as("__g"))
      .select(col(idCol), md5(col("__g")).as("__g")))
    val gdf = grams.groupBy("__g").agg(count(lit(1)).cast("long").as("__df"))
    val perDoc = grams.join(gdf, Seq("__g"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).cast("long").as("n_novel"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams").isNotNull,
          col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** Per-probe n-gram CONTAINMENT against a corpus: |probe's distinct
    * n-grams present anywhere in the corpus| / |probe's distinct
    * n-grams| — the eval-contamination SCORE (Lee et al. 2022 /
    * GPT-3-appendix style): a probe at 1.0 is fully quoted by the
    * corpus, 0.0 shares nothing. ngramContamination reports WHICH
    * corpus docs share grams (pairwise); this reports HOW MUCH of
    * each probe is covered (setwise — the decision number a
    * "contaminated above τ → drop from eval" rule needs).
    *
    * Scale shape: corpus side reduces to DISTINCT md5 grams (vocab-
    * sized, partial-agg'd before any join); probe side is a distinct
    * (probe, gram) explode; ONE left-semi-shaped join (left + flag)
    * on the 32-char gram hash, then per-probe integer counts. The
    * corpus never joins at row granularity and probe rows are
    * typically the small side. Probes too short for any n-gram
    * report 0 grams with NULL containment. n counts TOKENS
    * (Dedup.shingles — word n-grams, distinct per doc).
    * Output: (probeId, n_grams, n_matched, containment). */
  def containmentScore(corpus: DataFrame, corpusText: String,
                       probes: DataFrame, probeId: String, probeText: String,
                       n: Int = 13): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val corpusGrams = corpus
      .select(explode(Dedup.shingles(col(corpusText), n)).as("__g"))
      .select(md5(col("__g")).as("__g")).distinct()
      .withColumn("__hit", lit(1L))
    val probeGrams = probes.select(col(probeId).as("probe_id"),
      explode(Dedup.shingles(col(probeText), n)).as("__g"))
      .select(col("probe_id"), md5(col("__g")).as("__g"))
    val perProbe = probeGrams.join(corpusGrams, Seq("__g"), "left")
      .groupBy(col("probe_id")).agg(
        count(lit(1)).cast("long").as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).cast("long").as("n_matched"))
    probes.select(col(probeId).as("probe_id")).join(perProbe, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(col("n_grams").isNotNull,
          col("n_matched").cast("double") / col("n_grams").cast("double"))
          .as("containment"))
  }

  /** Temperature-scaled mixture plan (the multilingual-training
    * sampling rule: target share_i ∝ n_i^alpha): for each source, its
    * natural share, its temperature-flattened target weight, and the
    * epoch multiplier upsampleToMix would need to realize that mix —
    * alpha=1 is proportional (no change), alpha→0 approaches uniform,
    * alpha=0.5 is the common compromise that keeps head domains from
    * drowning tail ones. This is the PLANNING table (k rows, one per
    * source); feed the weights to upsampleToMix / interleaveMix to
    * materialize the mix.
    *
    * Cross-engine exactness without a pow() contract: general pow is
    * not correctly-rounded in IEEE (libm-dependent — Java and DuckDB
    * may differ in the last ulp), but sqrt IS, so alpha is restricted
    * to {1.0, 0.5, 0.25} = 0-2 sqrt applications, each bit-exact on
    * both engines. The Σ n_j^alpha denominator is an FP sum, so it
    * folds left-assoc over keys in UTF-8 byte order on the driver and
    * the oracle replays list_reduce over the same ordered list —
    * the sorted-fold contract (KMeans.stepSortedFold's trick). All
    * remaining arithmetic is a fixed op sequence on identical
    * operands: share = n/total (exact-long operands), weight =
    * root(n)/denom, epochs = (weight · tmax)/n with tmax =
    * max_j(n_j/weight_j) — max is order-free.
    *
    * Scale shape: ONE distributed count agg (k rows); the k-bounded
    * collect is the centroid-step posture; weights return to the
    * plan as a literal CASE chain over the k-row counts relation.
    * NULL keys are excluded — a mixture is over named sources.
    * Output: (keyCol, n_docs, share, temp_weight, epochs). */
  def temperatureShares(df: DataFrame, keyCol: String,
                        alpha: Double = 0.5): DataFrame = {
    val root: Double => Double = alpha match {
      case 1.0 => identity
      case 0.5 => math.sqrt
      case 0.25 => x => math.sqrt(math.sqrt(x))
      case a => throw new IllegalArgumentException(
        s"alpha must be one of 1.0/0.5/0.25 (sqrt-composable — general pow " +
          s"is not cross-engine bit-exact), got $a")
    }
    require(df.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"temperatureShares: keyCol '$keyCol' must be string (the sorted-fold " +
        "order contract is UTF-8 bytes; cast numeric keys explicitly)")
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).cast("long").as("n_docs"))
    val cmap = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(cmap.nonEmpty, "temperatureShares: no non-null keys in input")
    // UTF-8 byte order = Spark UTF8String / DuckDB binary collation —
    // the same cross-engine order contract interleaveMix documents
    val keysAsc = utf8SortedKeys(cmap.keys)
    val total = cmap.values.sum // exact long
    val denom = keysAsc.foldLeft(0.0)((acc, k) => acc + root(cmap(k).toDouble))
    val tw = keysAsc.map(k => k -> root(cmap(k).toDouble) / denom).toMap
    val tmax = tw.map { case (k, w) => cmap(k).toDouble / w }.max
    val twCol = tw.foldLeft(lit(null).cast("double")) { case (acc, (k, w)) =>
      when(col(keyCol) === k, lit(w)).otherwise(acc)
    }
    counts.select(col(keyCol), col("n_docs"),
      (col("n_docs").cast("double") / lit(total).cast("double")).as("share"),
      twCol.as("temp_weight"),
      (twCol * lit(tmax) / col("n_docs").cast("double")).as("epochs"))
  }

  /** Distribution matching by deterministic rejection sampling: the
    * LARGEST subsample of `src` whose binCol distribution exactly
    * matches `ref`'s (in expectation) — the domain-adaptation /
    * "make the web slice look like the curated slice" curation move.
    * With source bin counts s_i and reference counts t_i, the scale
    * λ = min over reference bins of s_i/t_i is the biggest multiple
    * of the reference histogram the source can supply; each bin then
    * keeps rate_i = (t_i·λ)/s_i of its rows by the id-hash rule
    * (rerun- and repartition-stable, nested across rate changes).
    * Bins the reference lacks drop entirely (rate 0); a reference
    * bin the source can't populate at all drives λ to 0 — an honest
    * "unmatchable", surfaced loudly rather than silently skewed.
    *
    * Exactness: s_i/t_i is one IEEE division of exact longs per bin,
    * min is order-free, rate_i is a fixed (t·λ)/s sequence, and the
    * acceptance compares the md5 unit hash — all bit-replayable in
    * SQL. Scale shape: two bin-sized count aggs (k-bounded collect,
    * the centroid-step posture), rates return as a plan-literal CASE
    * over the bin column, ONE filter pass over src — no join, no
    * shuffle. Output: src rows that survive, plus their bin. */
  def matchDistribution(src: DataFrame, ref: DataFrame, idCol: String,
                        binCol: String): DataFrame = {
    def binCounts(df: DataFrame) = df
      .select(col(binCol).cast("long").as("__b"))
      .filter(col("__b").isNotNull) // post-cast: a non-numeric bin must drop, not NPE
      .groupBy(col("__b")).agg(count(lit(1)).cast("long").as("__n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = binCounts(src)
    val t = binCounts(ref)
    require(t.nonEmpty, "matchDistribution: reference has no binned rows")
    val lambda = t.keys.map(b => s.getOrElse(b, 0L).toDouble / t(b).toDouble).min
    require(lambda > 0.0,
      s"matchDistribution: reference bins ${t.keySet -- s.keySet} are empty in " +
        "the source — the distribution is unmatchable; widen the bins or trim the reference")
    val rates = t.keys.map { b =>
      b -> math.min(1.0, t(b).toDouble * lambda / s(b).toDouble)
    }.toMap
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (b, r)) =>
      when(col(binCol).cast("long") === b, lit(r)).otherwise(acc)
    }
    src.filter(col(binCol).isNotNull)
      .filter(Sampling.hashUnit(col(idCol)) < rateCol)
  }

  /** Shared (term, c1, c2) contrast table behind the corpus-drift
    * family: per-token counts in each snapshot, full-outer aligned,
    * absent terms as exact zero. One explode + hash agg per side,
    * one vocab-sized join — the corpus never joins at row grain. */
  private def driftCounts(v1: DataFrame, v2: DataFrame, textCol: String): DataFrame = {
    def cnt(df: DataFrame, as: String) = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as(as))
    cnt(v1, "__c1").join(cnt(v2, "__c2"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("__c1"), lit(0L)).as("c1"),
        coalesce(col("__c2"), lit(0L)).as("c2"))
  }

  /** Token-distribution drift between two corpus snapshots: total
    * variation distance TVD = ½ Σ_t |c1_t/N1 − c2_t/N2| — the
    * monitoring number behind "did this refresh change what the
    * model will read?", plus the vocab overlap counts. Computed in
    * EXACT INTEGER form: ½ Σ |c1·N2 − c2·N1| / (N1·N2) — the
    * per-term deviations and their sum are exact longs (integer
    * addition is order-free, so the distributed sum is bit-stable
    * where a double Σ|p−q| would not be), with ONE double division
    * at the end. Long bounds: Σ|c1·N2 − c2·N1| ≤ 2·N1·N2, so both
    * snapshots are required under 2·10⁹ tokens — beyond that, drift
    * runs per shard. TVD ∈ [0,1]: 0 = identical distributions, 1 =
    * disjoint vocabularies.
    *
    * Scale shape: two corpus explodes (one per snapshot) into
    * vocab-sized aggregates, one vocab-sized full-outer join, one
    * single-row agg. Output (one row): (n_tokens_v1, n_tokens_v2,
    * vocab_v1, vocab_v2, shared_vocab, tvd). */
  def corpusDrift(v1: DataFrame, v2: DataFrame, textCol: String): DataFrame = {
    val counts = driftCounts(v1, v2, textCol)
    val tot = counts.agg(
      coalesce(sum(col("c1")), lit(0L)).cast("long"),
      coalesce(sum(col("c2")), lit(0L)).cast("long")).collect()(0)
    val (n1, n2) = (tot.getLong(0), tot.getLong(1))
    require(n1 < 2000000000L && n2 < 2000000000L,
      s"corpusDrift long arithmetic bounds each snapshot at 2e9 tokens, got $n1/$n2")
    require(n1 > 0L && n2 > 0L,
      s"both snapshots need at least one token, got $n1/$n2")
    counts.agg(
      lit(n1).as("n_tokens_v1"), lit(n2).as("n_tokens_v2"),
      sum(when(col("c1") > 0L, 1L).otherwise(0L)).cast("long").as("vocab_v1"),
      sum(when(col("c2") > 0L, 1L).otherwise(0L)).cast("long").as("vocab_v2"),
      sum(when(col("c1") > 0L && col("c2") > 0L, 1L).otherwise(0L))
        .cast("long").as("shared_vocab"),
      (sum(abs(col("c1") * lit(n2) - col("c2") * lit(n1))).cast("double")
        / lit(2.0 * n1.toDouble * n2.toDouble)).as("tvd"))
  }

  /** The drift report's WHO: top-k terms by exact integer deviation
    * |c1·N2 − c2·N1| (the unnormalized TVD contribution — same
    * ranking as |p1−p2|, no FP until the reported share columns).
    * Ordering is (deviation desc, term asc): a total order on exact
    * longs, so the top-k is deterministic cross-engine. TakeOrdered
    * top-k, never a global sort.
    * Output: (term, c1, c2, deviation). */
  def corpusDriftTerms(v1: DataFrame, v2: DataFrame, textCol: String,
                       k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = driftCounts(v1, v2, textCol)
    val tot = counts.agg(
      coalesce(sum(col("c1")), lit(0L)).cast("long"),
      coalesce(sum(col("c2")), lit(0L)).cast("long")).collect()(0)
    val (n1, n2) = (tot.getLong(0), tot.getLong(1))
    require(n1 < 2000000000L && n2 < 2000000000L,
      s"corpusDriftTerms long arithmetic bounds each snapshot at 2e9 tokens, got $n1/$n2")
    counts
      .select(col("term"), col("c1"), col("c2"),
        abs(col("c1") * lit(n2) - col("c2") * lit(n1)).as("deviation"))
      .orderBy(col("deviation").desc, col("term").asc)
      .limit(k)
  }

  /** 2-D Pareto frontier (skyline): keep the rows no other row
    * dominates, where domination means xCol ≤ mine AND yCol ≥ mine
    * with at least one strict — i.e. minimize x (cost), maximize y
    * (value). Exact-equal twins dominate neither direction and are
    * BOTH kept (matches the NOT EXISTS reading). The curation use is
    * efficiency frontiers — "which sources / users / configs are not
    * strictly beaten on both quality and cost by some alternative".
    *
    * Both columns must be int/long: frontier membership is decided by
    * exact comparisons, and an FP y would make "ties the frontier
    * point" engine-dependent.
    *
    * Scale shape — deliberately NOT the textbook all-pairs NOT EXISTS
    * (O(n²)) and NOT a global unpartitioned window over every row:
    * (1) reduce to max(y) per distinct x — an ordinary hash aggregate,
    *     map-side combined; the only full-data shuffle, and the result
    *     is |distinct x| rows, not |rows|;
    * (2) on the reduced set, a point survives iff its y strictly
    *     exceeds every smaller-x point's y — an EXCLUSIVE prefix max
    *     in x order, computed with the globalRunningSum range-exchange
    *     pattern (repartitionByRange + per-partition max offsets), so
    *     no single-partition sort even if distinct-x is large;
    * (3) surviving (x, ymax) points broadcast-join back to the input,
    *     keeping every row that ties a frontier point exactly.
    * At 100 TB the frontier set is tiny (monotone chain over distinct
    * x), so step 3's broadcast is safe by construction. */
  def paretoFrontier(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val intLike = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType)
    require(intLike(df.schema(xCol).dataType) && intLike(df.schema(yCol).dataType),
      s"paretoFrontier needs int/long x and y — exact dominance tests only " +
        s"(got ${df.schema(xCol).dataType.simpleString}/${df.schema(yCol).dataType.simpleString})")
    val reduced = df.groupBy(col(xCol).cast("long").as("__x"))
      .agg(max(col(yCol).cast("long")).as("__y"))
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = reduced.repartitionByRange(np, col("__x"))
      .sortWithinPartitions(col("__x")).localCheckpoint()
    // per-partition y-max, then exclusive running max across
    // partitions (same pid-column discipline as globalRunningSum)
    val partMax = sorted.select(spark_partition_id().as("__pid"), col("__y"))
      .groupBy("__pid").agg(max(col("__y")).as("__m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until np).scanLeft(Long.MinValue)((acc, p) =>
      math.max(acc, partMax.getOrElse(p, Long.MinValue)))
    val withPid = sorted.withColumn("__pid", spark_partition_id())
    val xIdx = withPid.schema.fieldIndex("__x")
    val yIdx = withPid.schema.fieldIndex("__y")
    val pidIdx = withPid.schema.fieldIndex("__pid")
    val outSchema = withPid.schema
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val frontier = withPid.mapPartitions { it =>
      var cur = -1
      var acc = Long.MinValue
      it.flatMap { r =>
        val pid = r.getInt(pidIdx)
        if (pid != cur) { cur = pid; acc = offsets(pid) }
        val y = r.getLong(yIdx)
        val keep = y > acc // strictly beat every smaller-x point
        if (y > acc) acc = y
        if (keep) Some(org.apache.spark.sql.Row(r.getLong(xIdx), y, pid)) else None
      }
    }(enc).drop("__pid")
    df.join(broadcast(frontier),
      col(xCol).cast("long") === col("__x") && col(yCol).cast("long") === col("__y"))
      .drop("__x", "__y")
  }

  /** Exact heavy hitters with bounded-state candidate generation: all
    * keys whose frequency exceeds n/k, found WITHOUT a vocabulary-
    * sized shuffle. Pass 1 is one Misra-Gries aggregate (≤ k counters
    * per task, mergeable — functions/MisraGriesAgg) that yields a
    * guaranteed SUPERSET of the true > n/k keys plus the exact total
    * n; pass 2 re-scans with the ≤ k candidates as a plan-literal IN
    * filter and counts exactly, so MG's under-estimates and false
    * positives never reach the output — the result is the exact
    * `HAVING count(*)·k > n` set, deterministic under any
    * partitioning even though MG's intermediate state is not.
    *
    * The driver-side collect is ≤ k strings + one long (the
    * k-bounded-collect house rule). Two corpus scans, zero corpus
    * shuffles: pass 1 ships k counters per task, pass 2's groupBy
    * aggregates ≤ k distinct keys.
    * Output: (key, cnt, share) — share = cnt/n of exact longs. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 10000, s"k must be in [2, 10000], got $k")
    val keyed = df.select(col(keyCol).cast("string").as("key"))
    val row = keyed.agg(
      graft.functions.MisraGriesAgg.mgCandidates(k, col("key")).as("__cand"),
      count(col("key")).as("__n")).collect()(0)
    val cand = row.getSeq[String](0)
    val n = row.getLong(1)
    keyed.filter(col("key").isin(cand: _*))
      .groupBy("key").agg(count(lit(1)).cast("long").as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > lit(n))
      .withColumn("share", col("cnt").cast("double") / lit(n).cast("double"))
  }

  /** Gini coefficient of a non-negative integer measure — the
    * corpus-concentration audit in one number ("is the token budget
    * spread across documents or locked in a few giants"), 0 = uniform,
    * →1 = one row holds everything. Exact rank formula on the
    * ascending sort: G = 2·Σᵢ i·xᵢ / (n·Σxᵢ) − (n+1)/n, every sum an
    * exact long (ties: any rank assignment within an equal-x run
    * yields the same Σ i·xᵢ, so the (val, id) tie-break is for
    * engine-identical plans, not for the value).
    *
    * Scale shape: ONE range exchange (globalRank's contract — never a
    * single-partition window sort) + one 3-term hash aggregate to a
    * single row. Long-overflow headroom: Σ i·xᵢ ≤ n·max(x)·n — fine
    * to ~10⁹ rows of document-sized counts; beyond that, shard by a
    * coarse split and combine, like the prefix-sum note. Output: one
    * row (n_rows, total, gini). */
  def giniConcentration(df: DataFrame, idCol: String, valCol: String): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(valCol).cast("long").as("__x"))
    globalRank(base, "__r", 0, col("__x").asc, col("__id").asc)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("__x")).cast("long").as("total"),
        sum(col("__r") * col("__x")).cast("long").as("__s"))
      .select(col("n_rows"), col("total"),
        (lit(2.0) * col("__s").cast("double")
            / (col("n_rows") * col("total")).cast("double")
          - (col("n_rows") + lit(1L)).cast("double") / col("n_rows").cast("double"))
          .as("gini"))
  }

  /** Schema-evolution-tolerant union: positionally-different
    * generations of the same logical table united BY NAME, columns
    * missing from older generations null-filled — the ingest shape
    * when a corpus accretes fields over time (v1 crawls lack the
    * lang/quality columns v3 added) and a plain `union` would
    * silently pair mismatched columns by position (the classic
    * corruption: text under source). Plan-only wrapper over
    * unionByName(allowMissingColumns) so the policy has ONE audited
    * home; zero execution cost (no shuffle — union is a plan node).
    */
  def unionEvolved(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionEvolved needs at least one input")
    dfs.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Per-key winsorization: clip a value column to its key's
    * [pLo, pHi] exact type-7 quantiles — the outlier treatment that
    * KEEPS every row (robustScale rescales, filterByQuantile drops;
    * winsorizing caps: a whale purchase still counts, at the p95
    * ceiling) before any mean-based metric a heavy tail would own.
    *
    * Exactness: quantilesByKey's machinery (the identical IEEE
    * interpolation the oracle replays), then one least/greatest pair
    * per row — hash-exact. Scale shape: the quantile table is
    * #keys-sized and BROADCAST back over the scan; the corpus never
    * shuffles. Output: input columns + clipped. */
  def winsorizeByKey(df: DataFrame, idCol: String, keyCol: String,
                     valCol: String, pLo: Double = 0.05,
                     pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    val qs = quantilesByKey(df.select(col(keyCol), col(valCol)),
      keyCol, valCol, Seq(pLo, pHi))
    val stats = qs.groupBy(col(keyCol)).agg(
      max(when(col("p") === pLo, col("q"))).as("__lo"),
      max(when(col("p") === pHi, col("q"))).as("__hi"))
    df.select(col(idCol), col(keyCol), col(valCol))
      .join(broadcast(stats), Seq(keyCol))
      .select(col(idCol), col(keyCol), col(valCol),
        least(greatest(col(valCol), col("__lo")), col("__hi")).as("clipped"))
  }

  /** Per-key top-k rows WITHOUT a window sort: the k best (score
    * desc, id asc) ids per key via TopKAgg's bounded partial
    * aggregation — each map task ships at most k pairs per key, so
    * "top 5 documents per domain" on a 100 TB corpus shuffles
    * O(k·keys·tasks), where the `row_number() OVER (PARTITION BY
    * key ORDER BY score)` idiom shuffles EVERY row to its key's
    * partition and sorts there (the capPerKey window family is for
    * when the full per-key ordering is genuinely needed). keepBest-
    * PerKey is the k=1 special case via max_by; this is its general
    * form. Output: (keyCol, id, rank 1..k, score). */
  def topKPerKey(df: DataFrame, keyCol: String, idCol: String,
                 scoreCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    graft.functions.TopKAgg.requireLongCastableId(df, idCol, "Curation.topKPerKey")
    df.groupBy(col(keyCol))
      .agg(graft.functions.TopKAgg.topK(k, col(idCol).cast("long"),
        col(scoreCol).cast("double")).as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__r0", "__p")))
      .select(col(keyCol), col("__p._1").as("id"),
        (col("__r0") + 1).cast("long").as("rank"), col("__p._2").as("score"))
  }

  /** Cumulative distribution (cume_dist) per key WITHOUT the per-key
    * window over raw rows: a built-in `cume_dist() OVER (PARTITION BY
    * key ORDER BY val)` funnels every row of a key through one task —
    * the mega-key trap quantileNormalize documents. This decomposes
    * to the (key, value)-GRAIN table: one hash agg of counts, two
    * windows over that bounded relation (distinct values per key,
    * e.g. price points, not rows), and one compact-key hash join back
    * over the scan. cd = (rows ≤ this value) / (rows in key) — two
    * exact longs, one division, matching the engines' own cume_dist
    * definition bit-for-bit. NULL keys/values follow the engine
    * window default (ASC = NULLS FIRST): a NULL value group gets
    * cd = nulls_in_key / rows_in_key, and the join back is
    * null-safe (<=>) so no input row silently disappears (ADVICE
    * r10 — the previous plain equi-join dropped NULL-valued rows).
    *
    * Output: input columns + cd. */
  def cumeDistByKey(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).cast("long").as("__c"))
    val cum = Window.partitionBy(keyCol).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(keyCol)
    val cds = counts
      .withColumn("__cum", sum(col("__c")).over(cum))
      .withColumn("__n", sum(col("__c")).over(whole))
      .select(col(keyCol).as("__cd_k"), col(valCol).as("__cd_v"),
        (col("__cum").cast("double") / col("__n").cast("double")).as("cd"))
    df.join(cds, col(keyCol) <=> col("__cd_k") && col(valCol) <=> col("__cd_v"))
      .drop("__cd_k", "__cd_v")
  }

  /** Filter-funnel audit: how many rows survive each PREFIX of a
    * filter cascade — the one-pass report a curation pipeline prints
    * before committing to a recipe ("200k docs → 120k past length →
    * 90k past lang → 70k past quality"), where running each stage as
    * its own count would re-scan the corpus per stage.
    *
    * Stages compose by AND: survivors of stage i are rows passing
    * stages 1..i (a funnel, not independent marginals — the
    * marginal-vs-joint distinction that makes per-stage counts
    * non-additive). ONE aggregate pass: each stage is a conditional
    * long sum over the cumulative conjunction; null predicate values
    * count as fail (`<=> true`).
    *
    * Output: one row per stage (stage 1-based, label, n_in, n_out,
    * kept double) via a bounded literal-array explode. */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty && stages.size <= 32,
      s"stages must be 1..32, got ${stages.size}")
    val cum = stages.scanLeft(lit(true)) { case (acc, (_, p)) => acc && (p <=> true) }
      .drop(1)
    val row = df.agg(
      count(lit(1)).cast("long").as("__n0"),
      cum.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).cast("long").as(s"__n${i + 1}")
      }: _*)
    val pairs = array(stages.indices.map { i =>
      struct(lit(i + 1L).as("stage"), lit(stages(i)._1).as("label"),
        col(s"__n$i").as("n_in"), col(s"__n${i + 1}").as("n_out"))
    }: _*)
    row.select(explode(pairs).as("__p"))
      .select(col("__p.stage").as("stage"), col("__p.label").as("label"),
        col("__p.n_in").as("n_in"), col("__p.n_out").as("n_out"),
        (col("__p.n_out").cast("double") / col("__p.n_in").cast("double"))
          .as("kept"))
  }
}

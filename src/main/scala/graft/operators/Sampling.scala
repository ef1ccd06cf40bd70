package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Md5Unit

/** Deterministic, engine-portable sampling for dataset curation —
  * train/test splits and down-sampling that are (a) stable across
  * runs, cluster sizes, and partitionings (a row's fate depends only
  * on its id, never on rng state or task order — re-running the
  * pipeline or adding executors cannot reshuffle the split), and
  * (b) exactly reproducible by any engine with md5 (the DuckDB
  * oracle checks them bit-for-bit). Spark's own `sample`/`sampleBy`
  * are rng-per-partition: cheap but neither stable under
  * repartitioning nor cross-engine checkable.
  *
  * All rowwise, whole-stage codegen, no shuffle.
  */
object Sampling {

  /** Uniform [0, 1) from a string (UTF-8 bytes) or binary column: the
    * hash-to-unit-interval contract every sampler, split, race and
    * feature hash here shares (and the oracles replay as
    * `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) / 2^32`). Runs the
    * native kernel Md5UnitExpr (graft.functions.Md5Unit); its string
    * twin `conv(substring(md5(s), 1, 8), 16, 10) / 2^32` lives in
    * Md5UnitSpec, which pins the two bit for bit. */
  def unitFromMd5(s: Column): Column = Md5Unit.md5Unit(s)

  /** Uniform [0, 1) from an id (its decimal string form). */
  def hashUnit(id: Column): Column = unitFromMd5(id.cast("string"))

  /** Keep ≈ rate of rows, chosen by id hash. Deterministic: the same
    * id is kept at every rate ≥ its hash point (nested samples —
    * a 1% sample is a subset of the 10% sample). */
  def deterministicSample(df: DataFrame, idCol: String, rate: Double): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(hashUnit(col(idCol)) < rate)
  }

  /** Adds a split column: 'test' for ≈ testFrac of rows, else
    * 'train'. Contamination-safe: a row can never change sides
    * between runs, and duplicate ids land on the same side. */
  def trainTestSplit(df: DataFrame, idCol: String, testFrac: Double): DataFrame = {
    require(testFrac >= 0.0 && testFrac <= 1.0, s"testFrac must be in [0,1], got $testFrac")
    require(!df.columns.contains("split"),
      "input already has a 'split' column — silently replacing an existing " +
        "assignment would defeat the contamination-safety contract")
    df.withColumn("split",
      when(hashUnit(col(idCol)) < testFrac, "test").otherwise("train"))
  }

  /** Per-stratum deterministic sampling: each stratum value keeps its
    * own rate (defaultRate otherwise) — the curation knob for
    * rebalancing a corpus (e.g. down-sample the dominant language). */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (v, r)) =>
      when(col(stratumCol) === v, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(idCol)) < rateCol)
  }

  /** Weighted sampling WITHOUT replacement, k rows, inclusion odds ∝
    * weightCol — Efraimidis–Spirakis reservoir keys (public
    * algorithm, IPL 2006): each row draws key = u^(1/w) with u its
    * deterministic id-hash uniform; the k LARGEST keys are the
    * sample. Rerun- and repartition-stable like every sampler here
    * (the "randomness" is the md5 of the id). The quality-weighted
    * subset selector: sample 1M docs favoring high quality scores
    * without the hard cutoff of a top-k, which would take only one
    * content slice.
    *
    * Rows with weight ≤ 0 or NULL are EXCLUDED (zero odds; they can
    * never be drawn, matching the math rather than erroring a corpus
    * for one bad row — the count is the caller's audit if needed).
    * The global top-k rides globalRank (range exchange, np parallel
    * sorted runs — no single-task corpus sort); the key column is
    * dropped from the output because pow()'s last ulp is libm-
    * dependent (the RANK survives any-ulp differences unless two
    * keys collide to ~2⁻⁵²; the value itself would not hash-match
    * cross-engine).
    * Output: (input columns, sample_rank ∈ 1..k). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!df.columns.contains("sample_rank"),
      "input already has a 'sample_rank' column")
    val w = col(weightCol).cast("double")
    // !isnan as in weightedSampleKPerKey (review r15): NaN > 0.0 is
    // TRUE under Spark's ordering, and pow(u, 1/NaN) = NaN sorts
    // above every real key — NaN-weighted rows would hijack ranks
    // 1..m and silently displace legitimate rows from the sample
    val keyed = df.filter(w > 0.0 && !isnan(w))
      .withColumn("__key", pow(hashUnit(col(idCol)), lit(1.0) / w))
    Curation.globalRank(keyed, "sample_rank", 0, col("__key").desc, col(idCol))
      .filter(col("sample_rank") <= k)
      .drop("__key")
  }

  /** Weighted k-per-key sample WITHOUT a per-key window sort —
    * Efraimidis-Spirakis (IPL 2006, public paper) A-ES reservoir
    * sampling, the weighted twin of Curation.sampleKPerKey: each row
    * races with key −ln(u)/w and the k smallest race keys per group
    * win — inclusion odds ∝ weight, without replacement ("keep 100
    * docs per domain, favoring high quality" without a hard top-k
    * content slice). u = (md5(seed:id)+1)/2³² ∈ (0, 1], shifted off
    * zero because Spark's log returns NULL at 0 where DuckDB returns
    * −inf — the one cross-engine hazard; the +1 scaling is exact in
    * both engines (≤ 2³² fits a double).
    *
    * Scale shape: the race rides TopKAgg's bounded partial
    * aggregation — each map task ships ≤ k (id, priority) pairs per
    * key, so a mega-key never funnels its rows through one task (the
    * window-sort trap sampleKPerKey accepts; use this form when keys
    * can be corpus-sized). Rows with weight ≤ 0, NULL, or NaN are
    * excluded (zero odds — the weightedSample contract; NaN needs its
    * own guard because Spark's ordering ranks NaN ABOVE any number,
    * so `w > 0.0` alone would let it through). The priority itself
    * is ln()/w — libm-dependent in the last ulp — so the output
    * carries the RANK, not the priority (the weightedSample
    * convention: ranks survive any-ulp differences unless two md5
    * units collide to ~2⁻⁵²).
    * Output: (keyCol, id, rank ∈ 1..k). */
  def weightedSampleKPerKey(df: DataFrame, keyCol: String, idCol: String,
                            weightCol: String, k: Int,
                            seed: Long = 42L): DataFrame = {
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    graft.functions.TopKAgg.requireLongCastableId(df, idCol,
      "Sampling.weightedSampleKPerKey")
    val w = col(weightCol).cast("double")
    // (m+1)/2^32 ∈ (0, 1] via the shared unit contract — the +ulp
    // shift is exact (m+1 ≤ 2^32 fits a double) and keeps ln away
    // from 0, where Spark returns NULL and DuckDB -inf
    val uPos = unitFromMd5(concat(lit(s"$seed:"), col(idCol).cast("string"))) +
      lit(1.0 / 4294967296.0)
    // topKPerKey keeps the k LARGEST scores (ties → lowest id); the
    // A-ES winner MINIMIZES −ln(u)/w, so score = ln(u)/w (≤ 0)
    Curation.topKPerKey(
        df.filter(w > 0.0 && !isnan(w))
          .select(col(keyCol), col(idCol), (log(uPos) / w).as("__score")),
        keyCol, idCol, "__score", k)
      .drop("score")
  }

  /** Leakage-safe grouped split: the hash point comes from the GROUP
    * key (domain, source, url host, near-dup cluster id), so every
    * row sharing the key lands on the same side. Splitting by row id
    * puts one copy of a boilerplate page in train and its twin in
    * test — the classic eval-contamination bug; splitting by the key
    * that near-duplicates share cannot. Null keys hash as one group
    * (sentinel, not null-propagation, so their side is deterministic
    * too). Same contract as trainTestSplit otherwise: rowwise,
    * codegen, no shuffle, repartition-stable, nested across fracs. */
  def groupSplit(df: DataFrame, groupCol: String, testFrac: Double): DataFrame = {
    require(testFrac >= 0.0 && testFrac <= 1.0, s"testFrac must be in [0,1], got $testFrac")
    require(!df.columns.contains("split"),
      "input already has a 'split' column — silently replacing an existing " +
        "assignment would defeat the contamination-safety contract")
    val key = coalesce(col(groupCol).cast("string"), lit("\u0000" + "group-null"))
    df.withColumn("split",
      when(unitFromMd5(key) < testFrac, "test").otherwise("train"))
  }

  /** Split-leakage audit: which near-dup pairs STRADDLE a split —
    * one member in train, its twin in test. This is the measurement
    * behind groupSplit's existence: run it after any per-row split
    * over a deduplicated-but-not-perfectly corpus, and require zero
    * rows before trusting the eval. Generic over the pair source
    * (Dedup.nearDuplicates, simhashNearDup, semanticNearDup, …) and
    * the assignment relation (anything with an id + split column).
    *
    * Scale shape: two hash joins of the PAIR table (near-dup docs
    * only — tiny next to the corpus) against a 2-column projection
    * of the assignment. Output: (id1, id2, split1, split2) crossing
    * pairs only. */
  def splitLeakage(pairs: DataFrame, id1Col: String, id2Col: String,
                   assignment: DataFrame, idCol: String,
                   splitCol: String = "split"): DataFrame = {
    val a1 = assignment.select(col(idCol).as(id1Col), col(splitCol).as("split1"))
    val a2 = assignment.select(col(idCol).as(id2Col), col(splitCol).as("split2"))
    pairs.select(col(id1Col), col(id2Col))
      .join(a1, Seq(id1Col)).join(a2, Seq(id2Col))
      .filter(col("split1") =!= col("split2"))
      .select(col(id1Col), col(id2Col), col("split1"), col("split2"))
  }

  /** Repair a leaked split by REMOVAL: drop every test row that
    * near-dup-pairs with a row on the other side. Removal is the only
    * repair that cannot create new leaks — flipping a leaked test doc
    * to train would silently leak against any OTHER test doc it also
    * pairs with (near-dup relations are not one-to-one). The
    * train side is untouched, so training data never shrinks; the
    * eval set loses exactly the contaminated items. Run splitLeakage
    * afterwards and expect zero rows. Costs splitLeakage's two
    * pair-table joins plus one anti-join of the assignment.
    * Output: the assignment rows that survive, schema unchanged. */
  def dropLeakedTest(assignment: DataFrame, idCol: String,
                     pairs: DataFrame, id1Col: String, id2Col: String,
                     splitCol: String = "split",
                     testLabel: String = "test"): DataFrame = {
    val crossing = splitLeakage(pairs, id1Col, id2Col, assignment, idCol, splitCol)
    // each crossing pair dooms its testLabel-side member(s) — taken
    // from BOTH columns independently, so a multi-way split (e.g.
    // train/val/test) never dooms a non-test doc: a (val, train) pair
    // crosses but contributes nothing here
    val doomed = crossing.filter(col("split1") === testLabel).select(col(id1Col).as(idCol))
      .union(crossing.filter(col("split2") === testLabel).select(col(id2Col).as(idCol)))
      .distinct()
    assignment.join(doomed, Seq(idCol), "left_anti")
  }

  /** Group-safe k-fold cross-validation assignment: fold =
    * ⌊md5-unit(group) · k⌋ (clamped to k−1 at the unit-interval top
    * edge), so every row sharing the group key — and therefore every
    * near-duplicate, if the key is a dedup cluster or domain — lands
    * in the same fold, and holding out fold i is leakage-safe by the
    * same argument as groupSplit. Folds are the nested generalization
    * of a single split: equal hash measure each, deterministic,
    * repartition-stable, and STABLE UNDER k-refinement in the
    * md5-unit sense (the same group keeps the same unit point; only
    * the bucket edges move). Null keys hash as one sentinel group.
    *
    * Scale shape: rowwise codegen'd expression, zero shuffles, zero
    * driver state — identical posture to trainTestSplit.
    * Output: input columns + fold (long in [0, k)). */
  def kFoldGroups(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(!df.columns.contains("fold"),
      "input already has a 'fold' column — silently replacing an existing " +
        "assignment would defeat the contamination-safety contract")
    val key = coalesce(col(groupCol).cast("string"), lit("\u0000" + "group-null"))
    df.withColumn("fold",
      least(floor(unitFromMd5(key) * k), lit(k - 1L)).cast("long"))
  }

  /** Split-balance χ² audit: the Pearson chi-square statistic of the
    * group × split contingency table under the deterministic md5
    * split — the statistical QA that the hash assignment is not
    * accidentally correlated with a grouping column (a skewed id
    * scheme CAN correlate: ids handed out per source in ranges would
    * bias any id-hash split, and this is the query that catches it).
    * Compare chi2 against the χ²(dof) critical value offline; the
    * engine reports the exact statistic, not a p-value (no incomplete
    * gamma in either engine's portable surface).
    *
    * Exactness: observed counts and marginals are exact longs;
    * expected counts and terms are the pinned (ng·ns)/n and
    * (o−e)²/e IEEE sequences; the term sum folds sorted
    * (foldSum contract) over the groups×2-sized term table. ZERO
    * cells are materialized via the marginal grid (a group with no
    * test rows still contributes its expected mass — the textbook
    * statistic, not the present-cells-only shortcut).
    *
    * Scale shape: one (group, split) hash agg over the scan, then
    * everything is #groups-sized. Output: one row (n_rows, n_groups,
    * dof, chi2). */
  def splitBalanceChi2(df: DataFrame, idCol: String, groupCol: String,
                       testFrac: Double): DataFrame = {
    val a = trainTestSplit(df.select(col(idCol), col(groupCol)), idCol, testFrac)
    val cell = a.groupBy(col(groupCol).as("g"), col("split"))
      .agg(count(lit(1)).cast("long").as("o"))
    val gTot = cell.groupBy("g").agg(sum("o").cast("long").as("ng"))
    val sTot = cell.groupBy("split").agg(sum("o").cast("long").as("ns"))
    val nTot = cell.agg(sum("o").cast("long").as("n"))
    // null-SAFE grid join (review r15): groupBy keeps a NULL-group
    // row, but a plain equality join never matches it — the null
    // group's observed counts read 0 while its expected mass stays
    // positive, inflating chi2 with spurious terms
    val cellR = cell.select(col("g").as("__cg"), col("split").as("__cs"),
      col("o"))
    val grid = gTot.crossJoin(sTot)
      .join(cellR, col("g") <=> col("__cg") && col("split") <=> col("__cs"),
        "left")
      .drop("__cg", "__cs")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(nTot))
    val e = col("ng").cast("double") * col("ns").cast("double") / col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    // dof of a g×s table is (g−1)(s−1): when only one split level
    // materializes (extreme testFrac / tiny input) dof is 0, not
    // g−1 — the offline chi2-vs-critical-value comparison the
    // docstring prescribes needs the true dof (ADVICE r10).
    // struct() wrap so a NULL group counts as a level (countDistinct
    // skips bare NULLs — n_groups and dof would disagree with the
    // terms actually summed into chi2; review r15)
    grid.select(col("n"), col("g"), col("split"), term.as("__t"))
      .groupBy(col("n"))
      .agg(countDistinct(struct(col("g"))).cast("long").as("n_groups"),
        countDistinct(struct(col("split"))).cast("long").as("__n_splits"),
        graft.functions.VectorOps.sortedSum(col("__t")).as("chi2"))
      .select(col("n").as("n_rows"), col("n_groups"),
        ((col("n_groups") - 1L) * (col("__n_splits") - 1L)).as("dof"), col("chi2"))
  }

  /** Cumulative Poisson(1) CDF thresholds, computed once DRIVER-side
    * and shipped as plan literals — the engines never evaluate exp()
    * (the Spark-vs-DuckDB libm divergence the codebase bans); both
    * receive the identical double constants, the planeCoord contract.
    * P(X ≤ 7) ≈ 1 − 1e-5; the tail collapses onto weight 8. */
  private[graft] val poisson1Cum: IndexedSeq[Double] = {
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += math.exp(-1.0) / fact
      cum
    }
  }

  /** Poisson(1) draw from a md5 unit point via inverse CDF — the
    * deterministic multiplicity of one unit in one bootstrap
    * replicate (Poisson bootstrap, Chamandy et al. 2012: at large n
    * the multinomial resample factorizes into independent Poisson(1)
    * weights, which is what makes the bootstrap map-side at scale). */
  def poissonFromUnit(u: Column): Column =
    poisson1Cum.zipWithIndex.reverse.foldLeft(lit(8L): Column) {
      case (acc, (c, k)) => when(u < lit(c), lit(k.toLong)).otherwise(acc)
    }

  /** Percentile bootstrap CI for a per-arm conversion rate, fully
    * deterministic: a unit's weight in replicate r is
    * Poisson(1)(md5-unit of "id:r") — no rng state, repartition-
    * stable, reproduced by the oracle bit-for-bit. Point rate + the
    * discrete [2.5%, 97.5%]-style CI from the SURVIVING replicates
    * (rank ceil(0.025·b') and its mirror on the (rate, replicate)-
    * sorted replicate rates, where b' = replicates whose resampled
    * arm weight is non-zero — for a tiny arm a Poisson resample can
    * drop every unit, and ranking against the nominal b would leave
    * ci_hi silently NULL; ADVICE r10).
    *
    * Scale shape: ONE bounded ×b generator explode over the
    * unit-grain relation (b ≤ 200 — hoppingByType's bounded-explode
    * posture), an (arm, replicate) hash agg of exact longs, then
    * rank picks over the arms×b-row table. The input should already
    * be one row per unit (user).
    * Output: (arm, n_units, rate, ci_lo, ci_hi). */
  def bootstrapConversionCI(df: DataFrame, idCol: String, armCol: String,
                            convCol: String, b: Int = 100): DataFrame = {
    require(b >= 10 && b <= 200, s"b must be in [10, 200], got $b")
    val rep = df.select(col(armCol).as("arm"), col(convCol).cast("long").as("__c"),
        col(idCol).cast("string").as("__id"))
      .withColumn("__b", explode(sequence(lit(1), lit(b))))
      .withColumn("__w", poissonFromUnit(unitFromMd5(
        concat(col("__id"), lit(":"), col("__b").cast("string")))))
    val rates = rep.groupBy(col("arm"), col("__b"))
      .agg(sum(col("__w") * col("__c")).cast("long").as("__num"),
        sum(col("__w")).cast("long").as("__den"))
      .filter(col("__den") > 0L)
      .select(col("arm"), col("__b"),
        (col("__num").cast("double") / col("__den").cast("double")).as("__rate"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("arm").orderBy(col("__rate"), col("__b"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("arm")
    // rank cutoffs from the per-arm surviving count b' (exact long
    // arithmetic: ceil(b'/40) = (b'*25+999) div 1000)
    val loRank = greatest(
      ((col("__bn") * 25L + 999L) / lit(1000L)).cast("long"), lit(1L))
    val hiRank = col("__bn") + 1L - loRank
    val ci = rates
      .withColumn("__rn", row_number().over(w))
      .withColumn("__bn", count(lit(1)).over(wn).cast("long"))
      .groupBy(col("arm"))
      .agg(min(when(col("__rn") === loRank, col("__rate"))).as("ci_lo"),
        min(when(col("__rn") === hiRank, col("__rate"))).as("ci_hi"))
    val point = df.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).cast("long").as("n_units"),
        (sum(col(convCol).cast("long")).cast("double")
          / count(lit(1)).cast("double")).as("rate"))
    // LEFT join: if every replicate of an arm resampled to zero weight
    // (probability e^-(n·b) — real for a 1-unit arm at small b), the
    // arm must still surface with its point rate and NULL CI bounds,
    // not vanish from the report (the silent-drop class again)
    point.join(ci, Seq("arm"), "left")
  }
}

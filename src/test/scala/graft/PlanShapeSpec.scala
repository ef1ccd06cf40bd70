package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.operators.{Dedup, KMeans, Similarity}

/** Plan-shape pins for the scale claims that .explain would show a
  * human: the capstone pipeline must read the corpus parquet exactly
  * once, through the single pinned intermediate — not once per
  * consumer. (BucketedSpec and SimilaritySpec pin their exchange-free
  * and partition-pruning shapes the same way.) */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q_pipeline: every consumer reads the pinned intermediate; documents scanned once") {
    val df = SparkEntry.queries("q_pipeline")(spark, "/root/testdata/sf0.001")
    try {
      val opt = df.queryExecution.optimizedPlan
      // no consumer may reach the raw parquet around the cache
      val rawScans = opt.collect {
        case r: LogicalRelation if r.relation.toString.contains("documents") => r
      }
      assert(rawScans.isEmpty,
        s"documents parquet read outside the pinned intermediate: $rawScans")
      val imrs = opt.collect { case m: InMemoryRelation => m }
      assert(imrs.nonEmpty, "expected the pinned exact-dedup intermediate in the plan")
      // the plan stacks three caches by design (pinned exact-dedup +
      // nearDuplicates' signature and bucket tables, each reading the
      // previous); across ALL distinct cache builders the corpus
      // parquet must appear exactly once — every other access goes
      // through a cache
      val builders = imrs.map(_.cacheBuilder)
        .groupBy(System.identityHashCode(_)).values.map(_.head)
      // cachedPlan roots are AdaptiveSparkPlanExec whose inner plan is
      // a field, not a child — unwrap before collecting scans
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case other => other
      }
      val innerScans = builders.toSeq.flatMap(b => unwrap(b.cachedPlan).collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",").contains("documents") => s
      })
      assert(innerScans.size == 1,
        s"documents should be scanned exactly once across all caches, found ${innerScans.size}")
    } finally Dedup.releaseCaches()
  }

  test("topTerms plans TakeOrderedAndProject — the id==rank contract's plan guard") {
    // the rank column counts a monotonically_increasing_id down the
    // limit output; only TakeOrderedAndProject guarantees that output
    // is the true global top-n (a LocalLimit+GlobalLimit fallback
    // could pick the wrong SET, which no post-limit re-sort repairs)
    val df = SparkEntry.queries("q_top_terms")(spark, "/root/testdata/sf0.001")
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "topTerms must plan TakeOrderedAndProject; if this ever fails, the rank " +
        "assignment in TextAnalysis.topTerms is unsafe and must move to a Window")
  }

  test("curation windows are partitioned — no single-partition global sort") {
    for (q <- Seq("q_pack", "q_source_cap", "q_sessions", "q_top_events",
        "q_quantile_gate")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, s"$q should plan a Window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q plans an unpartitioned Window — all rows on one partition at scale"))
      Dedup.releaseCaches()
    }
  }

  test("PQ ADC scan: probe tables broadcast, exactly one corpus exchange (the top-k agg)") {
    // the 100 TB claim of pqTopK: the code table is scanned in place
    // (tables ride a BroadcastExchange), and the only thing that
    // shuffles is the partially-aggregated top-k per probe — so
    // exchanges of corpus-sized data = 1
    val df = SparkEntry.queries("q_pq_topk")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastHashJoin"),
      s"probe ADC tables must broadcast, got:\n$s")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 1,
      s"pqTopK should shuffle only the bounded top-k partials, found ${shuffles.length}:\n$s")
  }

  test("native kernels run inside whole-stage codegen (no HOF eval in the hot path)") {
    // review r15: the PQ/assignment kernels exist to keep the
    // innermost per-row loops inside codegen — pin that the physical
    // plan shows them under a codegen stage (operators inside
    // WholeStageCodegen print with a "*(n)" prefix) and that the HOF
    // chain they replaced is gone from these plans
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(8))
    val assignPlan = KMeans.assign(emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(assignPlan.matches("(?s).*\\*\\(\\d+\\) Project \\[.*nearest_centroid.*"),
      s"assignColumn must run as nearest_centroid inside codegen:\n$assignPlan")
    val model = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
      m = 4, k = 16, maxIter = 0)
    val encodePlan = Similarity.encodePQ(emb, "embedding", model)
      .queryExecution.executedPlan.toString
    assert(encodePlan.matches("(?s).*\\*\\(\\d+\\) Project \\[.*pq_encode.*"),
      s"encodePQ must run as pq_encode inside codegen:\n$encodePlan")
    val adcPlan = SparkEntry.queries("q_pq_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(adcPlan.contains("pq_adc_dist") && !adcPlan.contains("transform("),
      s"the ADC serve must score via pq_adc_dist with no HOF transform:\n$adcPlan")
  }

  test("semanticNearDup: no cartesian product — the pair join is keyed on the cluster id") {
    val df = SparkEntry.queries("q_semdedup")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct"),
      s"semanticNearDup must join on the cluster key, got:\n$s")
    assert(s.contains("hashpartitioning(cluster") || s.contains("BroadcastHashJoin"),
      s"expected a cluster-keyed join, got:\n$s")
    Dedup.releaseCaches()
  }

  test("token-budget cut: one range exchange, no Window, no single-partition sort") {
    // globalRunningSum's 100 TB claim: the ONLY corpus movement is the
    // Exchange(RangePartitioning) that establishes the total order —
    // the prefix sum itself is the per-partition sequential pass, and
    // no ranking Window (which would re-shuffle or single-partition)
    // exists anywhere in the plan
    // (the range exchange runs INSIDE globalRunningSum's
    // localCheckpoint, so the returned plan starts at the checkpointed
    // RDD — after it there must be NO exchange and NO window at all)
    val df = SparkEntry.queries("q_token_budget")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("Window"), s"unexpected Window in token-budget plan:\n$s")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"the prefix-sum pass must add zero exchanges after the range checkpoint:\n$s")
    Dedup.releaseCaches()
  }

  test("bm25Score: the corpus never shuffles — stats ride a broadcast single row") {
    // the 100 TB claim of bm25Score: tf per term is a rowwise array
    // scan against plan literals; df/avgdl is a 1-row aggregate
    // crossJoined back via broadcast. Corpus-sized exchanges = 0
    // (the single-row agg's own exchange moves k+2 numbers, and the
    // per-partition partial rows it gathers are bounded by the
    // partition count, not the corpus)
    import graft.operators.TextAnalysis
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextAnalysis.bm25Score(docs, "doc_id", "text", Seq("table", "spark"))
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
      s"the stats row must broadcast, got:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("hashpartitioning(doc_id"),
      s"bm25Score must not shuffle the corpus:\n$s")
  }

  test("applyBpe: rowwise — zero exchanges, scales as corpus/cores") {
    import graft.operators.Tokenizer
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Tokenizer.applyBpe(docs, "doc_id", "text", Seq(("e", "s"), ("t", "h")))
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange"),
      s"BPE segmentation must be a pure rowwise map pass:\n$s")
  }

  test("quantilesByKey: one range exchange for ranking, spec joins broadcast") {
    import graft.operators.Curation
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Curation.quantilesByKey(docs, "source", "n_chars", Seq(0.5, 0.9))
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    // the ranked relation is checkpointed inside globalRank, so the
    // returned plan must show only broadcast joins plucking lo/hi rows
    // — a SortMergeJoin here would mean the corpus re-shuffles per
    // quantile
    assert(!s.contains("SortMergeJoin"),
      s"quantile plucking must broadcast the tiny spec, not sort-merge:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast plucks, got:\n$s")
    Dedup.releaseCaches()
  }

  test("zscoreByKey: moment table broadcasts — the corpus never re-shuffles") {
    // the scale claim: one partial-agg shuffle builds the 3-longs-per-
    // key moment table; scoring joins it back as a BROADCAST, so a
    // SortMergeJoin (= a second corpus shuffle) must never appear
    import graft.operators.Events
    val ev = TestSpark.spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    val df = Events.zscoreByKey(ev, "event_id", "event_type", "value")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast moments, got:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"zscore must not re-shuffle the corpus for the join:\n$s")
  }

  test("matchDistribution: rates are plan literals — no join in the filter pass") {
    // the scale claim: per-bin rates return as a CASE literal chain,
    // so the data-sized work is ONE filter over src — zero joins
    import graft.operators.Curation
    import org.apache.spark.sql.functions.{col, expr}
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("bin", expr("n_chars DIV 200"))
    val df = Curation.matchDistribution(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "bin")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Join"), s"the acceptance pass must be join-free:\n$s")
  }

  test("chiSquareCollocations: top-k is TakeOrdered, never a global sort") {
    // the ranking claim: the only ordering in the plan is the bounded
    // TakeOrderedAndProject over the vocab-sized scored relation — a
    // Sort + GlobalLimit pair would mean the score table single-
    // partition sorts at 100× vocab
    import graft.operators.TextAnalysis
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextAnalysis.chiSquareCollocations(docs, "text", minCount = 2L, topK = 10)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"expected bounded top-k, got:\n$s")
    assert(!s.contains("Window"), s"unexpected Window in collocation plan:\n$s")
  }

  test("vocabCoverage: no Window — rank comes from the range-exchange globalRank") {
    // the coverage curve must never plan row_number() OVER (ORDER BY)
    // (a single-partition sort of the vocabulary); after globalRank's
    // checkpoint the plan is one aggregate + a constant-width explode
    import graft.operators.TextAnalysis
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextAnalysis.vocabCoverage(docs, "text", ks = Seq(10, 100))
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Window"), s"unexpected Window in coverage plan:\n$s")
  }

  test("corpusDrift: the contrast join is vocab-sized — no corpus-grain join keys") {
    // both sides aggregate to (term, count) BEFORE the full-outer
    // join: a join keyed on doc_id anywhere would mean row-grain
    // corpus movement
    import graft.operators.Curation
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Curation.corpusDrift(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 =!= 0), "text")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("hashpartitioning(doc_id"),
      s"drift must join aggregated term counts, never doc-grain rows:\n$s")
  }

  test("hoppingByType: one bounded explode + one hash agg — no range join, no Window") {
    // the naive phrasing (events × window table on a time-band
    // predicate) plans a range join that rescans the corpus per
    // window; the explode form is a single Generate feeding one
    // aggregate
    val df = SparkEntry.queries("q_hopping")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Window"), s"unexpected Window:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"hopping must not plan a range join:\n$s")
    assert(s.contains("Generate"), s"expected the bounded sequence explode:\n$s")
  }

  test("typeSequences: top-k is TakeOrdered, never a global sort") {
    val df = SparkEntry.queries("q_type_seqs")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"the k-row head must be TakeOrdered:\n$s")
    assert(!s.contains("rangepartitioning"),
      s"no global sort may precede the head:\n$s")
  }

  test("robustScale: quartile table broadcasts — the corpus never re-shuffles") {
    val df = SparkEntry.queries("q_robust_scale")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastExchange"),
      s"the pivoted quartile table must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"joining the corpus by sort-merge means it re-shuffled:\n$s")
    Dedup.releaseCaches()
  }

  test("sourceSimilarity: no cartesian; norms ride broadcasts") {
    import graft.operators.TextAnalysis
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextAnalysis.sourceSimilarity(docs, "source", "text")
    try {
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"the pair table must come from the term-keyed join:\n$s")
      assert(s.contains("BroadcastExchange"), s"norms must broadcast:\n$s")
    } finally Dedup.releaseCaches()
  }

  test("pearsonByKey: one aggregate over the scan — no second pass, no Window") {
    val df = SparkEntry.queries("q_corr")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Window"), s"unexpected Window:\n$s")
    // AdaptiveSparkPlanExec hides its input from collect — count scans
    // in the rendered plan instead
    assert("FileScan".r.findAllIn(s).size == 1,
      s"the six moments must come from ONE corpus pass:\n$s")
    assert(s.contains("partial_count"),
      s"map-side partial aggregation must precede the exchange:\n$s")
  }

  test("q6_revenue: all predicates push to the parquet scan, columns pruned to 4") {
    val df = SparkEntry.queries("q6_revenue")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    // shipdate/discount/quantity must appear in PushedFilters, and the
    // scan must not read the other 7 lineitem columns
    assert(s.contains("PushedFilters: [") && !s.contains("PushedFilters: []"),
      s"predicates must reach the scan:\n$s")
    assert(s.contains("l_shipdate") && s.contains("l_discount"),
      s"range predicates missing from the scan node:\n$s")
    assert(!s.contains("l_orderkey") && !s.contains("l_returnflag"),
      s"untouched columns must be pruned from ReadSchema:\n$s")
  }

  test("invertedIndex: posting heads are the bounded TopKAgg — no sort of exploded terms") {
    val df = SparkEntry.queries("q_inverted")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ObjectHashAggregate") || s.contains("SortAggregate"),
      s"expected the typed TopKAgg aggregate:\n$s")
    assert(!s.contains("rangepartitioning"),
      s"no global sort may appear — ordering is inside the bounded agg:\n$s")
  }

  test("q4_semi: the EXISTS compiles to a LeftSemi join, date filter pushed to the scan") {
    val df = SparkEntry.queries("q4_semi")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("LeftSemi"),
      s"EXISTS must become a semi join (no row duplication, no distinct):\n$s")
    assert(s.contains("PushedFilters: [") && s.contains("o_orderdate"),
      s"the order-date range must reach the orders scan:\n$s")
  }

  test("q10_returns: top-20 cut is TakeOrderedAndProject; the name join broadcasts the head") {
    val df = SparkEntry.queries("q10_returns")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"the 20-row head must be a bounded TakeOrdered, not a global sort + limit:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"customer names must join against the broadcast 20-row head:\n$s")
  }

  test("q22_noorders: NOT EXISTS is a LeftAnti join on date-filtered orders") {
    val df = SparkEntry.queries("q22_noorders")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("LeftAnti"),
      s"NOT EXISTS must become an anti join:\n$s")
    assert(s.contains("PushedFilters: [") && s.contains("o_orderdate"),
      s"the recency cutoff must reach the orders scan, not post-filter the join:\n$s")
  }

  test("q_curation_funnel: one corpus scan feeds every funnel stage") {
    val df = SparkEntry.queries("q_curation_funnel")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(s).size == 1,
      s"all survivor counts must come from ONE pass:\n$s")
  }

  test("q_feat_hash / q_rand_proj: rowwise passes — at most one exchange, none respectively") {
    val fh = SparkEntry.queries("q_feat_hash")(spark, "/root/testdata/sf0.001")
    val sFh = fh.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(sFh).size <= 1,
      s"featureHash is explode + ONE (doc, bucket) hash agg:\n$sFh")
    val rp = SparkEntry.queries("q_rand_proj")(spark, "/root/testdata/sf0.001")
    val sRp = rp.queryExecution.executedPlan.toString
    assert(!sRp.contains("Exchange"),
      s"randomProjection is a pure rowwise projection — no shuffle:\n$sRp")
  }

  test("saltedJoin: __salt is a shuffle key on BOTH sides — the hot key actually spreads") {
    // the COVERAGE.md skew-posture pin: AQE's runtime skew split
    // handles one side's oversized partitions; a both-sides-hot key
    // needs the salt IN the partitioning, which only holds if the
    // join keys are (key, __salt) end to end. Broadcast disabled for
    // the assertion — at test scale the dim side would broadcast and
    // no exchange would exist to inspect (at which point salting is
    // moot anyway: broadcast beats salting whenever it fits).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_skew_join")(spark, "/root/testdata/sf0.001")
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"salted join degenerated to an unkeyed join:\n$s")
      val saltedParts = "hashpartitioning\\([^)]*__salt".r.findAllIn(s).size
      assert(saltedParts >= 2,
        s"__salt must partition BOTH join sides, found $saltedParts exchange(s):\n$s")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Dedup.releaseCaches()
    }
  }

  test("q_nb_persist: serving reads the LOADED artifact; the weight join stays keyed") {
    val df = SparkEntry.queries("q_nb_persist")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"NB serving must stay a token equi-join:\n$s")
    assert(s.contains("graft_nb_model_"),
      s"scores must come from the persisted weight table, not the in-memory model:\n$s")
  }

  test("q_minhash_persist: the index side reads the PERSISTED artifact, batch-internal pairs never form") {
    // the r14 gate row's two structural claims: (a) the near-dup
    // decision joins the LOADED parquet index (not a re-derived
    // in-memory signature chain — the artifact path must appear in a
    // scan), and (b) the join is banded/keyed — no cartesian anywhere
    val df = SparkEntry.queries("q_minhash_persist")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    try {
      assert(s.contains("graft_minhash_idx_"),
        s"the near-dup decision must read the persisted index:\n$s")
      assert(!s.contains("CartesianProduct"),
        s"banded join must stay keyed:\n$s")
    } finally Dedup.releaseCaches()
  }

  test("q_ivfpq_rerank: shortlist from codes, exact math only on the shortlist join") {
    // the recipe's structural claims: no cartesian (candidates come
    // from the cell join, the re-rank joins on vec_id/probe_id), and
    // the float-side join is keyed — the corpus is never crossed with
    // the probe set at the exact stage
    val df = SparkEntry.queries("q_ivfpq_rerank")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    try assert(!s.contains("CartesianProduct"),
      s"IVF-PQ rerank must stay keyed end to end:\n$s")
    finally Dedup.releaseCaches()
  }

  test("q_nb_holdout: the only unkeyed fan-out is the deliberate class-list cross join") {
    // scoreMulticlass crossJoins the tiny class list by design (every
    // doc scores every class); everything else — the (token, cls)
    // model join, the actual-label join, the argmax window — must
    // stay keyed/partitioned. The training side's own dense cross
    // join is behind a localCheckpoint and cannot appear here.
    val df = SparkEntry.queries("q_nb_holdout")(spark, "/root/testdata/sf0.001")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct"),
      s"holdout plan contains a cartesian product:\n$s")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    assert(bnlj <= 1,
      s"only the class-list fan-out may be nested-loop, found $bnlj:\n$s")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the argmax window in the plan")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unpartitioned Window in the holdout — one task holds the corpus at scale"))
  }

  test("q_corpus_e2e: no cartesian, every window partitioned, landing scanned once") {
    // the capstone composition must inherit each stage's scale shape:
    // joins stay keyed (LSH buckets / component ids / doc ids — never
    // a cartesian), every ranking/prefix window is partitioned (hash
    // groups / components / sources — no single-partition corpus
    // sort), and the landing JSONL feeds the chain through the pinned
    // exact-dedup intermediate, not one re-parse per consumer
    val base = java.nio.file.Files
      .createTempDirectory("graft_e2e_planshape").toString
    val df = EntryCuration.corpusE2ePacked(spark, "/root/testdata/sf0.001", base)
    try {
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"capstone plan contains an unkeyed join:\n$s")
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, "expected the dedup/pack windows in the plan")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned Window in the capstone — one task holds the corpus at scale"))
      // every consumer reads the pinned exact-dedup intermediate: no
      // raw landing-JSONL relation outside a cache, and across ALL
      // distinct cache builders the landing files are parsed exactly
      // once (the q_pipeline counting — InMemoryRelation's toString
      // inlines its child, so string-counting FileScans overcounts)
      val opt = df.queryExecution.optimizedPlan
      val rawScans = opt.collect {
        case r: LogicalRelation if r.relation.toString.contains("landing") => r
      }
      assert(rawScans.isEmpty,
        s"landing JSONL parsed outside the pinned intermediate: $rawScans")
      val imrs = opt.collect { case m: InMemoryRelation => m }
      assert(imrs.nonEmpty, "expected the pinned intermediates")
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case other => other
      }
      // caches NEST here (the quality-gate pin reads the exact-dedup
      // pin, which holds the landing scan) — walk builders
      // TRANSITIVELY: each builder's cachedPlan may reference further
      // caches via InMemoryTableScanExec
      // (CachedRDDBuilder / InMemoryTableScanExec are private[sql], so
      // the walk stores the cached PLANS keyed by builder identity and
      // reaches nested relations via the public `relation` accessor)
      val seenPlans = scala.collection.mutable.Map.empty[
        Int, org.apache.spark.sql.execution.SparkPlan]
      def visit(rel: InMemoryRelation): Unit = {
        val b = rel.cacheBuilder
        val k = System.identityHashCode(b)
        if (!seenPlans.contains(k)) {
          seenPlans(k) = b.cachedPlan
          unwrap(b.cachedPlan).collect {
            case t if t.getClass.getSimpleName == "InMemoryTableScanExec" =>
              t.getClass.getMethod("relation").invoke(t).asInstanceOf[InMemoryRelation]
          }.foreach(visit)
        }
      }
      imrs.foreach(visit)
      val innerScans = seenPlans.values.toSeq.flatMap(p => unwrap(p).collect {
        case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.mkString(",").contains("landing") => sc
      })
      assert(innerScans.size == 1,
        s"landing JSONL should be parsed exactly once across all caches, found ${innerScans.size}")
    } finally {
      Dedup.releaseCaches()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("graph rounds: the vertex state rides a broadcast — no exchange on the edge side") {
    // connectedComponents, the SQL-round graph loop, pins its pair list
    // partitioned on the key its round folds on, so a round that brings
    // the (node-sized) labels to the pairs by broadcast folds them with
    // no exchange; the anchor join is co-partitioned. Every plan the
    // call executes is checked, its checkpointed rounds included. The
    // vertex programs build no SQL rounds (next test).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.operators.Graph
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(400)((1L + rnd.nextInt(100), 1L + rnd.nextInt(100))).toDF("src", "dst")
    val marker = "graph-round-plans-drained"
    def plansOf(op: => DataFrame): Seq[SparkPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        op.collect()
        spark.range(1).selectExpr(s"'$marker' AS m").collect()
        eventually(timeout(30.seconds), interval(20.millis)) {
          assert(plans.toArray.exists(_.toString.contains(marker)))
        }
      } finally { spark.listenerManager.unregister(l); Dedup.releaseCaches() }
      plans.toArray(Array.empty[SparkPlan]).toSeq.filterNot(_.toString.contains(marker))
    }
    def readsEdges(p: SparkPlan): Boolean = Plans.find(p) {
      case s: InMemoryTableScanExec => Set("src", "dst").subsetOf(s.output.map(_.name).toSet)
      case _ => false
    }.isDefined
    for ((name, op) <- Seq[(String, () => DataFrame)](
        "connectedComponents" -> (() => Dedup.connectedComponents(edges, "src", "dst")))) {
      val rounds = plansOf(op()).filter(readsEdges)
      assert(rounds.nonEmpty, s"$name: no executed plan reads the pinned edge list")
      for (p <- rounds) {
        val edgeSide = Plans.collect(p) { case x: ShuffleExchangeExec if readsEdges(x) => x }
        assert(edgeSide.isEmpty, s"$name: a round exchanges its edges:\n$p")
        assert(Plans.collect(p) { case b: BroadcastExchangeExec => b }.nonEmpty,
          s"$name: the vertex state must reach the edges by broadcast:\n$p")
      }
    }
  }

  test("graph rounds: vertex programs zip state and edge blocks — one shuffle a round") {
    // each vertex program pins its edge blocks hash-partitioned on the
    // node and keeps its state on the same partitioner, so a round's
    // map side zips state and blocks with no exchange, and its one
    // shuffle (two for hits: hubs out, auths back) lands on that
    // partitioner again. Read off the returned frame's lineage: the
    // last round, back to what it reads pinned — the edge blocks and
    // the round before, checkpointed.
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.operators.Graph
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(400)((1L + rnd.nextInt(100), 1L + rnd.nextInt(100))).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (2L, "b")).toDF("id", "label")
    for ((name, op, shuffles) <- Seq[(String, () => DataFrame, Int)](
        ("pageRank", () => Graph.pageRank(edges, sortedFold = true), 1),
        ("personalizedPageRank", () => Graph.personalizedPageRank(edges, seeds, "id"), 1),
        ("labelPropagation", () => Graph.labelPropagation(edges), 1),
        ("labelComplete", () => Graph.labelComplete(edges, "src", "dst", seeds, "id", "label"), 1),
        ("hits", () => Graph.hits(edges, "src", "dst", sortedFold = true), 2))) try {
      val out = op()
      out.collect()
      val last = out.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      assert(last.isDefined, s"$name: the frame is not read from its last round")
      val part = last.get.partitioner
      assert(part.isDefined, s"$name: the last round lost its partitioner")
      val exchanges = scala.collection.mutable.Set.empty[Int]
      val pinned = scala.collection.mutable.Set.empty[RDD[_]]
      def walk(r: RDD[_]): Unit = r.dependencies.foreach { d =>
        d match { case s: ShuffleDependency[_, _, _] => exchanges += s.shuffleId; case _ => }
        if (d.rdd.getStorageLevel.isValid) pinned += d.rdd else walk(d.rdd)
      }
      walk(last.get)
      assert(exchanges.size === shuffles, s"$name: shuffles in its last round")
      val blocks = pinned.filter(_.name == "graph edge blocks")
      assert(blocks.nonEmpty, s"$name: the last round does not read pinned edge blocks")
      val before = pinned.filter(_.isCheckpointed)
      assert(before.nonEmpty, s"$name: the round before the last is not checkpointed")
      (blocks ++ before).foreach(r =>
        assert(r.partitioner === part, s"$name: ${r.name} is not on the state's partitioner"))
    } finally Dedup.releaseCaches()
  }
}

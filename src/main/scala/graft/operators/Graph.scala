package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.functions.VectorOps

/** Graph analytics over edge lists — the companion surface to
  * Dedup's component operators (near-dup pair graphs, citation /
  * link graphs, user-interaction graphs). Everything here is
  * edge-list relational algebra: joins + grouped aggregations per
  * round, never a driver-side adjacency structure, so the operators
  * inherit Spark's shuffle-partitioned scaling directly.
  */
object Graph {

  /** Shared edge prologue: named endpoints, self-loops dropped,
    * optionally symmetrized, dedup'd, hash-partitioned on `key` (see
    * partitionedOn) — UNPINNED (callers that read the list more than
    * once pin it). The dedup runs on the partitioned rows, so the list
    * shuffles once. `castLong` aligns endpoint types with long-keyed
    * seed relations (the bfsDistance-family convention). One
    * implementation (review r15): six operators used to inline
    * drifting copies of this block, and the drift is exactly what
    * produced labelComplete's seed-cast-without-edge-cast silent
    * no-op. */
  private def edgeList(edges: DataFrame, srcCol: String, dstCol: String,
                       undirected: Boolean, key: String,
                       castLong: Boolean = false): DataFrame = {
    if (castLong) {
      // loud, not silent: a string/UUID endpoint would cast to NULL
      // and the self-loop filter would then drop every edge — an
      // EMPTY graph with no error (review r15); hash non-numeric ids
      // to longs upstream
      graft.functions.TopKAgg.requireLongCastableId(edges, srcCol, "Graph")
      graft.functions.TopKAgg.requireLongCastableId(edges, dstCol, "Graph")
    }
    val (s, d) =
      if (castLong) (col(srcCol).cast("long"), col(dstCol).cast("long"))
      else (col(srcCol), col(dstCol))
    val base = edges.select(s.as("src"), d.as("dst"))
      .filter(col("src") =!= col("dst"))
    val oriented =
      if (undirected) base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      else base
    partitionedOn(oriented, key).distinct()
  }

  /** `df` hash-partitioned on `key` into spark.sql.shuffle.partitions
    * partitions. The count is explicit, so adaptive execution never
    * coalesces it: a grouped fold on `key` over the pinned result, and
    * a shuffle-hash join of that fold with a pinned frame partitioned
    * the same way (a node table), run with no exchange. A checkpoint
    * keeps no partitioning, so a round joins its fold to a pinned
    * table, never to the checkpointed state it read. */
  private[operators] def partitionedOn(df: DataFrame, key: String): DataFrame =
    df.repartition(SQLConf.get.numShufflePartitions, col(key))

  /** (id, degree) for every endpoint of `e`: its out-degree, 0 for a
    * node with in-edges only. One grouped aggregate, repartitioned on
    * id so its frame co-partitions with a round's fold — UNPINNED. */
  private def degrees(e: DataFrame): DataFrame =
    partitionedOn(
      e.select(explode(array(
          struct(col("src").as("id"), lit(true).as("out")),
          struct(col("dst").as("id"), lit(false).as("out")))).as("__e"))
        .select(col("__e.id").as("id"), col("__e.out").as("out")),
      "id")
      .groupBy("id").agg(count(when(col("out"), true)).as("degree"))

  /** A vertex state on its way to a pinned edge list, `rows` rows at
    * most: hinted to broadcast when that many rows fit Spark's own
    * broadcast threshold (spark.sql.autoBroadcastJoinThreshold), so
    * the edge side keeps its partitioning and the round's fold runs
    * with no exchange. Spark cannot price this itself: a checkpointed
    * round estimates its size as the product of its join inputs. Past
    * the threshold Spark plans the join as it would unhinted, with the
    * same result. A round reads its state once, so that estimate
    * grows by one factor a round, not by its square. */
  private[operators] def broadcastState(state: DataFrame, rows: Long): DataFrame =
    if (rows * (8L + state.schema.defaultSize) <= SQLConf.get.autoBroadcastJoinThreshold)
      broadcast(state)
    else state

  /** Canonical undirected simple graph: long-cast (least, greatest)
    * pairs as (a, b), self-loops dropped, dedup'd — UNPINNED. */
  private def undirectedPairs(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Both orientations of an (a, b) pair set. */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))

  /** A group's double sum: the sorted fold, or a partial-agg sum. */
  private def foldedSum(c: Column, sortedFold: Boolean): Column =
    if (sortedFold) VectorOps.sortedSum(c) else sum(c)

  /** The one round driver of this file and Dedup's components
    * (`KMeans.java:220-282`'s loop): at most `rounds` steps from
    * `init`, `step(cur, r)` building round r (from 1) out of the round
    * before. A round that a later round reads ends in an eager
    * localCheckpoint, so round r's plan never nests r join trees.
    *  - Fixed rounds (no `stable`; the oracle unrolls the same count):
    *    the LAST round stays lazy — its one consumer is the returned
    *    plan — so every action on the result re-runs it: a partial-agg
    *    double sum (sortedFold=false) may differ in the last bit
    *    between two actions; cache the result to read it twice.
    *  - Convergent (`stable` given): every round is checkpointed, and
    *    the loop stops after the first round whose checkpointed output
    *    `stable(out, r)` calls stable — the reference's old-vs-new
    *    centroid test (`KMeans.java:291-310`), read off the round's own
    *    output rather than a second plan.
    * Returns the last round and whether the loop stopped on stability
    * (never, for fixed rounds). */
  private[operators] def iterate(init: DataFrame, rounds: Int,
                                 stable: Option[(DataFrame, Int) => Boolean] = None)
                                (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    @annotation.tailrec
    def go(cur: DataFrame, r: Int): (DataFrame, Boolean) =
      if (r > rounds) (cur, false)
      else if (r == rounds && stable.isEmpty) (step(cur, r), false)
      else {
        val out = step(cur, r).localCheckpoint(eager = true)
        if (stable.exists(_(out, r))) (out, true) else go(out, r + 1)
      }
    go(init, 1)
  }

  /** The row count of `df`: one job, no shuffle. */
  private[operators] def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Whether some row of `df` meets `cond` — a convergent round's stop
    * test. Over a checkpointed round this is one job with no shuffle,
    * each task stopping at its first matching row. */
  private[operators] def anyRow(df: DataFrame, cond: Column): Boolean =
    df.filter(cond).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.hasNext)).collect().contains(true)

  /** Shared rank-iteration prep: the dedup'd (optionally
    * symmetrized) edge list partitioned on dst, and every node's (id,
    * degree), both pinned — the opening moves of pageRank and
    * personalizedPageRank. */
  private def rankPrep(edges: DataFrame, srcCol: String, dstCol: String,
                       undirected: Boolean): (DataFrame, DataFrame) = {
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected, "dst"))
    (e, Dedup.pin(degrees(e)))
  }

  /** One pageRank/PPR round over (id, pr, degree): pr'(v) = teleport
    * + d·Σ_{u→v} pr(u)/outdeg(u). `anchor` holds every node's (id,
    * degree) and what `teleport` reads, partitioned as the fold on
    * dst is; degree rides in the frame, so a round is one join of the
    * `nodes` ranks onto the edges and one grouped sum, neither with an
    * exchange while the ranks broadcast. */
  private def powerStep(e: DataFrame, anchor: DataFrame, nodes: Long, teleport: Column,
                        damping: Double, sortedFold: Boolean)(ranks: DataFrame, r: Int): DataFrame = {
    val sums = e.join(
        broadcastState(ranks.filter(col("degree") > 0L)
          .select(col("id").as("src"), (col("pr") / col("degree")).as("c")), nodes),
        Seq("src"))
      .groupBy(col("dst").as("id")).agg(foldedSum(col("c"), sortedFold).as("s"))
    anchor.join(sums.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), (teleport + lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"),
        col("degree"))
  }

  /** PageRank with a FIXED number of power iterations (public
    * formula, Brin & Page 1998): pr'(v) = (1-d)/N + d · Σ_{u→v}
    * pr(u)/outdeg(u). Fixed-iteration (not convergence-tested)
    * because training-data curation uses the ranking, not the exact
    * stationary point — 3-5 rounds separate hubs from leaves, and a
    * fixed round count keeps the result a pure function of the
    * input (the oracle gate unrolls the same rounds in SQL).
    *
    * undirected=true symmetrizes the edge list first (each edge
    * counts in both directions — the natural reading for near-dup /
    * similarity graphs, where rank measures how centrally a document
    * sits in its duplicate neighborhood). Directed inputs keep their
    * orientation: dangling nodes (outdeg 0) contribute nothing and
    * their mass is NOT redistributed — the simplified public variant,
    * stated here so the choice is visible; nodes with no in-edges
    * settle at the teleport floor (1-d)/N.
    *
    * Scale shape: the prologue pins the dedup'd edge list
    * hash-partitioned on dst (one shuffle) and every node's (id,
    * degree) from ONE grouped aggregate partitioned on id (one more);
    * N is that frame's row count (one job, no shuffle). A round then
    * broadcasts the ranks (N rows) to the edges, folds them per dst
    * and joins the sums to the pinned degrees co-partitioned (a
    * shuffle-hash join): one broadcast and NO exchange per round.
    * When N rows pass Spark's broadcast threshold, the join is planned
    * as Spark would unhinted, with the same result (broadcastState).
    * Both pins are registered under Dedup's cache lifecycle.
    * sortedFold=true folds each node's contributions in
    * ascending order (collect_list + sorted sequential fold) —
    * bit-exact vs DuckDB, correctness gates only; false is the
    * distributed partial-agg scale path. The last round stays lazy
    * (see iterate): with sortedFold=false, two actions on the result
    * can differ in the last bit, so cache it to read it twice.
    *
    * Output: (id, pr, degree) for every node in the edge list. */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 3, damping: Double = 0.85,
               undirected: Boolean = true, sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0, 1), got $damping")
    val (e, degs) = rankPrep(edges, srcCol, dstCol, undirected)
    val n = rows(degs)
    require(n > 0, "pageRank on an empty edge list")
    val init = degs.select(col("id"), lit(1.0 / n.toDouble).as("pr"), col("degree"))
    iterate(init, iters)(
      powerStep(e, degs, n, lit((1.0 - damping) / n.toDouble), damping, sortedFold))._1
  }

  /** Personalized PageRank (Haveliwala 2002 / Jeh & Widom 2003's
    * topic-sensitive teleport): identical power iteration to
    * pageRank, but teleport mass lands ONLY on the seed set — so rank
    * measures proximity to the seeds rather than global centrality.
    * The curation read: "which documents sit near the known-gold (or
    * known-bad) set in the similarity graph", with multi-hop mass
    * where bfsDistance gives only hop counts.
    *
    * pr'(v) = (1−d)·s(v) + d·Σ_{u→v} pr(u)/outdeg(u), with
    * s(v) = 1/|S| for seeds and 0 elsewhere; pr₀ = s. Same simplified
    * public variant as pageRank (dangling mass not redistributed —
    * with the teleport restricted to seeds, non-seed sinks simply
    * absorb less), same fixed-iteration determinism contract.
    *
    * Scale shape: pageRank's prologue and rounds exactly (one
    * broadcast, no exchange per round), plus a ONE-TIME broadcast
    * left-join of the seed list (probe-sized) onto the pinned node
    * table, whose one aggregate counts N and the seeds present.
    * sortedFold as in pageRank: bit-exact oracle
    * twin vs distributed partial-agg scale path; the last round
    * stays lazy, so with sortedFold=false cache the result to read it
    * twice (see iterate).
    *
    * Output: (id, pr, degree) for every node of the edge list. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, seedCol: String,
                           srcCol: String = "src", dstCol: String = "dst",
                           iters: Int = 3, damping: Double = 0.85,
                           undirected: Boolean = true,
                           sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0, 1), got $damping")
    val (e, degs) = rankPrep(edges, srcCol, dstCol, undirected)
    // seeds restricted to nodes actually in the graph — teleporting to
    // an absent node would silently leak (1−d)/|S| of mass nowhere
    val marked = Dedup.pin(degs.join(
      broadcast(seeds.select(col(seedCol).as("id")).distinct().withColumn("__seed", lit(true))),
      Seq("id"), "left"))
    val sizes = marked.agg(count(lit(1)), count(col("__seed"))).head()
    val (n, nS) = (sizes.getLong(0), sizes.getLong(1))
    require(nS > 0, "personalizedPageRank needs at least one seed present in the graph")
    val sv = marked.select(col("id"), col("degree"),
      when(col("__seed"), lit(1.0 / nS.toDouble)).otherwise(lit(0.0)).as("__s"))
    val init = sv.select(col("id"), col("__s").as("pr"), col("degree"))
    iterate(init, iters)(
      powerStep(e, sv, n, lit(1.0 - damping) * col("__s"), damping, sortedFold))._1
  }

  /** Neighbour-mode vote: per dst, the most frequent label among its
    * in-neighbours' (src, label) rows, ties to the smaller label.
    * Output (id, __new) for every dst with a voting neighbour. */
  private def modeVote(e: DataFrame, labeled: DataFrame, nodes: Long): DataFrame =
    e.join(broadcastState(labeled, nodes), Seq("src"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__c"))
      .groupBy("dst")
      .agg(min(struct((-col("__c")).as("nc"), col("label").as("l"))).as("__b"))
      .select(col("dst").as("id"), col("__b.l").as("__new"))

  /** Label propagation communities (Raghavan et al. 2007, the
    * synchronous fixed-round variant): every node starts as its own
    * label; each round it adopts the most frequent label among its
    * NEIGHBORS, ties broken by the smaller label — both rules exact
    * integer/ordering decisions, so R rounds are a pure function of
    * the edge list (the oracle unrolls the same rounds). Communities
    * differ from connected components on bridge topologies: a thin
    * bridge between two dense blobs keeps one component but two
    * labels. Fixed rounds, not convergence: synchronous LPA can
    * oscillate on bipartite structures, and curation wants a
    * deterministic result, not a lucky fixed point.
    *
    * Scale shape: pageRank's — an edge list pinned partitioned on
    * dst, a pinned node table from one grouped aggregate, N its row
    * count — with the sum swapped for a mode: per round the labels
    * broadcast to the edges, one (dst, label) count and one
    * min_by-struct argmax fold them per dst, and the votes join the
    * node table co-partitioned; one broadcast and no exchange. Nodes
    * with no in-neighbors (directed case) keep their label via the
    * left join. Output: (id, label) after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                       rounds: Int = 2, undirected: Boolean = true): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected, "dst"))
    val nodes = Dedup.pin(degrees(e).select("id"))
    val n = rows(nodes)
    // a node that gets no vote has no in-neighbour, so it never got
    // one: its label is still its own id, and a round anchors on the
    // pinned node table rather than on the labels it reads
    iterate(nodes.select(col("id"), col("id").as("label")), rounds) { (labels, _) =>
      nodes.join(modeVote(e, labels.withColumnRenamed("id", "src"), n).hint("shuffle_hash"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("id")).as("label"))
    }._1
  }

  /** Semi-supervised label completion (clamped-seed label
    * propagation, Zhu & Ghahramani 2002's discrete cousin): known
    * labels stay FIXED, unlabeled nodes take the mode of their
    * neighbors' current labels each synchronous round — the curation
    * move that in-fills missing metadata (lang, source class,
    * quality tier) across a near-duplicate graph, on the premise
    * that near-dups share it. Differs from labelPropagation (the
    * unsupervised community detector) in both the seed clamp and the
    * null-start: only seed-derived labels ever propagate, so every
    * inferred label traces to ground truth ≤ rounds hops away.
    *
    * Determinism: mode tie-break = (count desc, label asc) via the
    * same min-struct fold as labelPropagation; integer counting
    * only, no FP. Nodes that never see a labeled neighbor keep NULL
    * (visibly un-inferred, not defaulted).
    *
    * Scale shape: labelPropagation's exactly — per round the labelled
    * nodes broadcast to the dst-partitioned pinned edges, one grouped
    * count and one mode pick with no exchange, and a co-partitioned
    * join with the pinned (id, seed label) table; the seeded init and
    * every round but the last (iterate) end in a localCheckpoint.
    * Output: (id, label, is_seed). */
  def labelComplete(edges: DataFrame, srcCol: String, dstCol: String,
                    seeds: DataFrame, idCol: String, labelCol: String,
                    rounds: Int = 2, undirected: Boolean = true): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    graft.functions.TopKAgg.requireLongCastableId(seeds, idCol,
      "Graph.labelComplete")
    // castLong on BOTH edges and seeds (review r15): seeds were cast
    // to long while edge endpoints kept their source type, so an
    // id-type mismatch could make every seed join miss and the
    // operator return all-NULL labels with no error — the
    // bfsDistance-family convention is one long id domain throughout
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected, "dst",
      castLong = true))
    val sd = seeds.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("string").as("__seed"))
    val nodes = Dedup.pin(degrees(e).select("id").join(sd, Seq("id"), "left")
      .select(col("id"), col("__seed"), col("__seed").isNotNull.cast("int").as("is_seed")))
    val n = rows(nodes)
    val init = nodes.select(col("id"), col("__seed").as("label"), col("is_seed"))
      .localCheckpoint(eager = true)
    // the labelled set only grows, so a non-seed without a labelled
    // in-neighbour this round had none before either and is still
    // NULL: a round's label is its vote, and it anchors on the pinned
    // node table rather than on the labels it reads
    iterate(init, rounds) { (labels, _) =>
      val winners = modeVote(e,
        labels.filter(col("label").isNotNull).select(col("id").as("src"), col("label")), n)
      nodes.join(winners.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed") === 1, col("__seed")).otherwise(col("__new")).as("label"),
          col("is_seed"))
    }._1
  }

  /** Degree distribution of an edge list: per-node degree plus the
    * node count at each degree — the one-pass profile that decides
    * whether a graph op needs a skew guard (a power-law head means
    * the top hub's adjacency dwarfs the mean; feed maxBucket /
    * salting decisions from this, don't guess). Scale shape: the edge
    * prologue's one shuffle, then the (id, degree) aggregate that
    * opens pageRank and a partial-agg count per degree.
    * Output: (degree, n_nodes) ascending. */
  def degreeHistogram(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst",
                      undirected: Boolean = true): DataFrame = {
    // every endpoint counts, so pure sinks sit at degree 0 (review
    // r15: grouping the out-endpoint alone silently dropped
    // zero-out-degree nodes in the directed case, under-reporting
    // node count to exactly the skew decisions this profile feeds;
    // in undirected mode symmetrization makes this a no-op)
    degrees(edgeList(edges, srcCol, dstCol, undirected, "src"))
      .groupBy("degree").agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy("degree")
  }

  /** Degree assortativity coefficient (Newman 2002, eq. 4): the
    * Pearson correlation of the degrees at either end of an edge —
    * positive for hub-to-hub graphs (social), negative for hub-to-
    * leaf (near-dup stars, infrastructure). One scalar that says
    * whether dense cores or star shapes dominate — the triage number
    * read before choosing between kCore and components.
    *
    * Exactness: every sum (Σd_u·d_v, Σd_u, Σd_u² over the symmetric
    * edge list) is an exact INTEGER — order-free distributed partial
    * aggs, no FP until the single final Pearson expression (fixed
    * operand order, engine-identical). The product sums run in
    * decimal(38,0), the repo's exact-integer convention (dailyTrend,
    * pearsonByKey): raw long arithmetic silently WRAPS at realistic
    * graph scale (review r15 — Σd_u·d_v passes Long.MaxValue near
    * 1e8 symmetric rows with a 1e5-degree hub, and Spark wraps where
    * the DuckDB oracle errors, a silent cross-engine divergence).
    * The normal-equation CROSS terms (m2·Σd², Σd·Σd) square once
    * more on top of the 38-digit sums, so they run in DOUBLE after
    * the exact sums — on both engines, identical operand order —
    * which moves the overflow bound from the sums' PRODUCTS (past 38
    * digits in the band where DuckDB's HUGEINT still computes but
    * Spark's decimal(38,0) errors/nulls — ADVICE r15) to the sums
    * themselves, with double's ±inf semantics engine-identical
    * beyond 1e308. NULL when the graph is degree-regular (zero
    * variance — the coefficient is undefined).
    *
    * Scale shape: one grouped degree count, one join of edges
    * against degrees per endpoint, ONE single-row aggregate. No
    * windows, no collects.
    * Output: one row (m_edges, r). */
  def assortativity(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val sym = symmetrize(undirectedPairs(edges, srcCol, dstCol))
    val deg = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).cast("long").as("d"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val agg = sym
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .agg(count(lit(1)).cast("long").as("m2"),
        sum(dec(col("da")) * dec(col("db"))).as("sxy"),
        sum(dec(col("da"))).as("sx"),
        sum(dec(col("db"))).as("sy"),
        sum(dec(col("da")) * dec(col("da"))).as("sxx"),
        sum(dec(col("db")) * dec(col("db"))).as("syy"))
    def dbl(c: Column) = c.cast("double")
    val varX = dbl(col("m2")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val varY = dbl(col("m2")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    agg.select(expr("m2 DIV 2").as("m_edges"),
      when(col("m2") > 0L && varX > 0.0 && varY > 0.0,
        (dbl(col("m2")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
          / sqrt(varX * varY)).as("r"))
  }

  /** k-core extraction by iterative peeling (Seidman 1983; the
    * Batagelj-Zaveršnik distributed formulation): repeatedly delete
    * every vertex whose CURRENT degree is < k until none remains —
    * the standard "dense sub-community" filter (a near-dup cluster's
    * 2-core is its genuinely interlinked middle; degree alone
    * over-keeps stars, components under-split).
    *
    * Bounded semantics for cross-engine replay: peel at most `rounds`
    * rounds (the oracle unrolls the same count); peeling is monotone
    * — each round only removes edges — so once a round removes none,
    * every later round is a no-op, and stopping there (iterate's
    * convergent mode: the round's checkpointed edge count equals the
    * round before's) changes nothing. With rounds ≥ the peel depth
    * the result IS the exact k-core.
    *
    * Scale shape: per round ONE grouped degree count + TWO semi-joins
    * of the edge list against the survivor set — the connected-
    * components shuffle pattern — with a localCheckpoint per round
    * (the components lesson: round r's plan otherwise nests r join
    * trees). No windows, no driver-side adjacency; the only collects
    * are one row count per round.
    * Output: (id, core_degree) for every vertex still standing after
    * `rounds` peels — degree measured within the surviving subgraph. */
  def kCore(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
            k: Int = 2, rounds: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    val init = symmetrize(undirectedPairs(edges, srcCol, dstCol)).localCheckpoint()
    var before = rows(init)
    val unchanged = (peeled: DataFrame, _: Int) => {
      val after = rows(peeled)
      val same = after == before
      before = after
      same
    }
    val (core, _) = iterate(init, rounds, Some(unchanged)) { (cur, _) =>
      val keep = cur.groupBy("a").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("a")
      cur.join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    }
    core.groupBy(col("a").as("id"))
      .agg(count(lit(1)).cast("long").as("core_degree"))
  }

  /** Per-vertex triangle counts + local clustering coefficient over
    * an undirected simple graph (self-loops dropped, edges
    * deduplicated ignoring direction). cc(v) = 2·t(v) / (d(v)·(d(v)−1))
    * — exact-integer inputs, ONE IEEE division, NULL for degree < 2.
    *
    * The n³ trap and its standard fix (Suri & Vassilvitskii, WWW'11
    * — "degree orientation"): counting wedges at every vertex costs
    * Σ d(v)², quadratic at a celebrity vertex. Orienting each edge
    * from its (degree, id)-SMALLER endpoint to the larger makes every
    * triangle countable exactly once at its lowest-degree corner, and
    * bounds out-degrees by O(√m) — wedge work falls to Σ d_out(v)² =
    * O(m^1.5) regardless of skew.
    *
    * Scale shape: degrees = one grouped count; orientation is a
    * rowwise flip after a broadcast-free degree join; wedges = one
    * self-join of the oriented adjacency on the pivot; closure = one
    * hash join of wedges against oriented edges; per-vertex counts =
    * one explode + grouped sum. No windows, no driver-side adjacency,
    * no cartesian products. The oriented edge list is cached under
    * Dedup's releaseCaches() lifecycle (it feeds the wedge self-join
    * twice and the closure probe).
    *
    * Output: (id, degree, triangles, clustering) for every vertex of
    * the simple graph. */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val undup = undirectedPairs(edges, srcCol, dstCol)
    val deg = symmetrize(undup).groupBy(col("a").as("id"))
      .agg(count(lit(1)).cast("long").as("degree"))
    // orient a→b iff (deg(a), a) < (deg(b), b)
    val withDeg = undup
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
    val oriented = Dedup.pin(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi")))
    // wedges at the pivot (lowest-(degree,id) corner of any triangle)
    val wedges = oriented.select(col("lo"), col("hi").as("x"))
      .join(oriented.select(col("lo"), col("hi").as("y")), Seq("lo"))
      .filter(col("x") < col("y"))
    // closure: the third side in EITHER orientation
    val closing = oriented.select(col("lo").as("x"), col("hi").as("y"))
      .union(oriented.select(col("hi").as("x"), col("lo").as("y")))
    val tris = wedges.join(closing, Seq("x", "y"))
      .select(col("lo"), col("x"), col("y"))
    val perVertex = tris
      .select(explode(array(col("lo"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).cast("long").as("triangles"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("triangles") * 2L).cast("double")
            / (col("degree") * (col("degree") - 1L)).cast("double")))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg,
    * CIKM'03): for every NON-adjacent vertex pair (a < b) with at
    * least `minCommon` shared neighbors, emit the shared-neighbor
    * count and the neighborhood-Jaccard score cn / (d(a)+d(b)−cn) —
    * the classic "these two documents aren't linked but sit in the
    * same duplicate neighborhood" candidate generator (the missing
    * edges a transitive-closure dedup would add, scored).
    *
    * Exactness: cn and both degrees are order-free integer counts;
    * Jaccard is ONE IEEE division of exact longs, so every row
    * hash-matches the SQL replay.
    *
    * Scale shape: wedges = one self-join of the symmetric adjacency
    * on the center vertex z (cost Σ d(z)² — the wedge bound shared
    * with triangleCounts; `maxDegree` drops celebrity centers, the
    * standard mitigation since a hub's co-membership carries no
    * signal); adjacency removal = one left-anti join against the
    * canonical edge set; degree decoration = two hash joins. No
    * windows, no collects, no cartesian products.
    *
    * Output: (id1, id2, cn, jaccard) with id1 < id2, non-adjacent,
    * cn ≥ minCommon. */
  def commonNeighbors(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst", minCommon: Long = 1L,
                      maxDegree: Long = Long.MaxValue): DataFrame = {
    val undup = Dedup.pin(undirectedPairs(edges, srcCol, dstCol))
    val sym = symmetrize(undup)
    val deg = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).cast("long").as("d"))
    val centers =
      if (maxDegree == Long.MaxValue) sym
      else sym.join(deg.filter(col("d") <= maxDegree).select(col("id").as("a")), "a")
    val wedges = centers.select(col("a").as("z"), col("b").as("u"))
      .join(centers.select(col("a").as("z"), col("b").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val cn = wedges.groupBy("u", "v")
      .agg(count(lit(1)).cast("long").as("cn"))
      .filter(col("cn") >= minCommon)
    val nonAdj = cn.join(undup,
      cn("u") === undup("a") && cn("v") === undup("b"), "left_anti")
    nonAdj
      .join(deg.select(col("id").as("u"), col("d").as("__du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("__dv")), "v")
      .select(col("u").as("id1"), col("v").as("id2"), col("cn"),
        (col("cn").cast("double")
          / (col("__du") + col("__dv") - col("cn")).cast("double")).as("jaccard"))
  }

  /** Multi-source BFS hop distance: for every node reachable from the
    * seed set within maxHops edges, the MINIMUM number of hops from
    * any seed (seeds themselves at 0). The curation read: "how far is
    * each document from a known-bad / known-gold set in the similarity
    * graph" — contamination blast-radius and label propagation by
    * distance both reduce to this.
    *
    * Classic frontier BFS (the Pregel formulation — Malewicz et al.
    * 2010), level-synchronous: visited nodes never re-enter the
    * frontier, so each round costs ONE hash join (frontier × edges on
    * src) + distinct + ONE left-anti against the visited set — all
    * key-partitioned shuffles of frontier-sized inputs, never the
    * whole graph. Every hop's (id, dist) state is eagerly
    * checkpointed (the pageRank lesson: otherwise lineage nests one
    * join tree per hop). maxHops bounds rounds; the loop also exits
    * after the first hop that reaches no new node (iterate's
    * convergent mode: one narrow scan of the hop's checkpointed
    * state for a row at the new distance).
    *
    * Output: (id, dist) — exact longs, a pure function of (edges,
    * seeds, maxHops); the oracle replays it as a bounded recursive
    * CTE with min(d) per node. */
  def bfsDistance(edges: DataFrame, seeds: DataFrame, seedCol: String,
                  srcCol: String = "src", dstCol: String = "dst",
                  maxHops: Int = 4, undirected: Boolean = true): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops must be in [1, 64], got $maxHops")
    graft.functions.TopKAgg.requireLongCastableId(seeds, seedCol,
      "Graph.bfsDistance")
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected, "src",
      castLong = true))
    frontierBfs(e, seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(eager = true), Seq("id"), maxHops)
  }

  /** Frontier BFS from the checkpointed `start` = (keys, dist 0) over
    * the pinned list `e`; keys = Seq("id") (one wavefront) or
    * Seq("id", "seed") (one per seed). One state frame: hop h expands
    * its rows at dist h − 1 (the frontier) and adds the keys not yet
    * in it at dist h; the loop stops after a hop that adds none.
    * Output (keys, dist), each key at its first hop. */
  private def frontierBfs(e: DataFrame, start: DataFrame, keys: Seq[String],
                          maxHops: Int): DataFrame = {
    val keyCols = keys.map(col)
    iterate(start, maxHops, Some((dist, h) => !anyRow(dist, col("dist") === h))) { (dist, h) =>
      val frontier = dist.filter(col("dist") === h - 1)
      dist.union(frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id") +: keyCols.tail: _*).distinct()
        .join(dist.select(keyCols: _*), keys, "left_anti")
        .withColumn("dist", lit(h.toLong)))
    }._1
  }

  /** Hop-bounded closeness centrality against a seed PANEL: for every
    * node, how many of the seeds it reaches within maxHops and the
    * total hop distance to them — closeness = n_reached / sum_dist,
    * the landmark-based centrality estimate (Cohen et al.'s landmark
    * idea: exact closeness needs all-pairs distances, O(n·m); a
    * fixed seed panel prices every node's "how central am I" at
    * |seeds| BFS sweeps, the standard approximation at graph scale).
    *
    * bfsDistance collapses the seed set to ONE wavefront (min over
    * seeds); this carries the (node, seed) pair through the frontier,
    * so each seed's distance survives separately — per-round state is
    * |nodes| × |seeds| rows, which is why the panel stays small and
    * is loudly bounded. Exactness: distances are exact hop longs;
    * closeness is ONE division of exact longs. A node reaching no
    * seed emits nothing; a seed's self-row (dist 0) counts in
    * n_reached but not sum_dist; nodes whose only reached seed is
    * themselves (sum_dist = 0) yield NULL closeness.
    *
    * Scale shape: bfsDistance's per-round join + distinct + anti-join
    * on (id, seed) keys, state checkpointed each round; one final
    * hash agg. Output: (id, n_reached, sum_dist, closeness). */
  def closenessBounded(edges: DataFrame, seeds: DataFrame, seedCol: String,
                       srcCol: String = "src", dstCol: String = "dst",
                       maxHops: Int = 4, undirected: Boolean = true,
                       maxSeeds: Int = 64): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops must be in [1, 64], got $maxHops")
    graft.functions.TopKAgg.requireLongCastableId(seeds, seedCol,
      "Graph.closenessBounded")
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected, "src",
      castLong = true))
    val seedIds = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .localCheckpoint(eager = true)
    val nSeeds = seedIds.count()
    require(nSeeds >= 1 && nSeeds <= maxSeeds,
      s"seed panel is $nSeeds — it multiplies frontier state; keep it in [1, $maxSeeds]")
    val dist = frontierBfs(e, seedIds.select(col("id"), col("id").as("seed"))
      .withColumn("dist", lit(0L)), Seq("id", "seed"), maxHops)
    dist.groupBy("id").agg(
        count(lit(1)).cast("long").as("n_reached"),
        sum(col("dist")).cast("long").as("sum_dist"))
      .select(col("id"), col("n_reached"), col("sum_dist"),
        when(col("sum_dist") > 0L,
          col("n_reached").cast("double") / col("sum_dist").cast("double")).as("closeness"))
  }

  /** Hop-bounded single/multi-source shortest paths over NON-NEGATIVE
    * integer edge weights — Bellman-Ford relaxation (the classic
    * distributed formulation: Lynch, Distributed Algorithms §4;
    * weights as longs so every cost is exact). After round h, dist(v)
    * is the minimum cost over paths of ≤ h edges — so maxHops is a
    * semantic parameter (bounded-horizon distance), not just a
    * safety cap, and the oracle's path-enumerating recursive CTE with
    * the same hop bound computes the identical function.
    *
    * Scale shape: per round ONE hash join (current dists × edges on
    * src) + ONE min-aggregate on dst — the pageRank shuffle pair with
    * sum→min — on a pinned edge list, dists checkpointed per round
    * but the last (iterate).
    * Unlike bfsDistance there is no frontier shrink (a cheaper path
    * can re-improve an already-reached node), so each round joins the
    * full reached set; maxHops bounds total work.
    *
    * Output: (id, dist) for every node reachable within maxHops. */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, seedCol: String,
                  srcCol: String = "src", dstCol: String = "dst",
                  wCol: String = "w", maxHops: Int = 4,
                  undirected: Boolean = true): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops must be in [1, 64], got $maxHops")
    // the long-id family's refusal (a string id casts to NULL and every
    // edge drops silently), and the same rule for the weight: a
    // fractional weight would truncate to a long without a word
    Seq(srcCol, dstCol).foreach(graft.functions.TopKAgg.requireLongCastableId(edges, _,
      "Graph.ssspBounded"))
    graft.functions.TopKAgg.requireLongCastableId(seeds, seedCol, "Graph.ssspBounded")
    val wType = edges.schema(wCol).dataType
    require(graft.functions.TopKAgg.longCastable(wType),
      s"ssspBounded: weight '$wCol' is ${wType.simpleString} — cast to long it would " +
        "truncate silently; round or scale it to an integral type first")
    val base = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
    val oriented =
      if (undirected) base.union(
        base.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      else base
    val e = Dedup.pin(oriented.distinct())
    // the NON-NEGATIVE weight contract is CHECKED, not just
    // documented (review r15): with a negative weight, dist(v) after
    // h rounds keeps decreasing as maxHops grows and stops meaning
    // "shortest path"; a NULL weight makes dist + w NULL and the
    // edge silently vanishes from min(). One aggregate over the
    // already-pinned edge list — the same loud-refusal posture as
    // every other data contract in this file.
    val wRow = e.agg(count(lit(1)).as("__n"), count(col("w")).as("__nw"),
      min(col("w")).as("__mn")).head()
    if (wRow.getLong(0) > 0L) {
      require(wRow.getLong(1) == wRow.getLong(0),
        s"ssspBounded: ${wRow.getLong(0) - wRow.getLong(1)} edges have NULL " +
          s"'$wCol' — they would silently drop from every path; filter or " +
          "default them explicitly")
      require(wRow.getLong(2) >= 0L,
        s"ssspBounded: negative edge weight ${wRow.getLong(2)} in '$wCol' — " +
          "bounded Bellman-Ford distances are only shortest paths under " +
          "non-negative weights")
    }
    val start = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(eager = true)
    iterate(start, maxHops) { (dist, _) =>
      val relaxed = dist.join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist.union(relaxed).groupBy("id").agg(min(col("dist")).as("dist"))
    }._1
  }

  /** HITS hubs & authorities (Kleinberg 1999) with a fixed number of
    * mutual-reinforcement rounds on a DIRECTED edge list: per round,
    * auth'(v) = Σ_{u→v} hub(u) then hub'(u) = Σ_{u→v} auth'(v) —
    * the bipartite-taste dual of pageRank (a good hub points at good
    * authorities; on a customer→product graph, hub = breadth of
    * taste, authority = breadth of appeal). Scores are UNNORMALIZED:
    * the per-round L1/L2 normalizer is a rank-invariant global
    * scalar, and computing it exactly would mean folding every node's
    * score into one row — the one shape this file never ships.
    * Magnitudes stay bounded (≈ degree^iters) for the fixed small
    * round counts this is for.
    *
    * Scale shape (r19 rewrite — VERDICT r18 item 2, the suite's worst
    * 8-vs-32-core scaler): scores iterate SPARSE. A node absent from
    * a round's sum frame holds exact 0.0, and adding 0.0 to any
    * non-negative partial sum is bit-exact identity (0.0+0.0 = 0.0,
    * 0.0+x = x; array_sort puts the zeros FIRST, so every later
    * partial sum is unchanged too) — the same IEEE-no-op argument the
    * old per-round re-anchor comment already made, now used to DELETE
    * the re-anchor: per half-round ONE join + grouped sum over a
    * pinned edge list (pageRank's shape), not join+sum+node-anchor
    * twice. The edge list is pinned twice, partitioned on dst for the
    * auth sums and on src for the hub sums, and each half broadcasts
    * the scores it reads (N rows at most, N the pinned node table's
    * row count) to its copy, so neither fold exchanges. The zeros
    * materialize once, in the final lazy plan (shuffle-hash left
    * joins of the pinned node table + coalesce 0; the checkpointed
    * auth frame there is the one side that exchanges, since a
    * checkpoint keeps no partitioning). Only frames a LATER round
    * consumes are checkpointed: the intermediate auth frame inlines
    * into its round's hub job (lineage depth stays ≤ 2 joins from the
    * last checkpoint), the last round's auth frame is checkpointed
    * because the output reads it too. Net per round: 2 joins + 1
    * eager barrier fewer at ANY scale — and at bench scale, fewer of
    * the tiny-task barriers that made 32 cores 3.7× slower than 8.
    * sortedFold as in pageRank: true = bit-exact oracle twin, false =
    * partial-agg scale path; both modes are bit-identical to the
    * dense iteration (GraphSpec pins it). The last hub frame stays
    * lazy, as in iterate: with sortedFold=false, two actions on the
    * result can differ in the last bit once scores pass 2^53 (below
    * it every sum is exact), so cache it to read it twice.
    *
    * Output: (id, auth, hub) for every node. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val e = Dedup.pin(edgeList(edges, srcCol, dstCol, undirected = false, "dst",
      castLong = true))
    val eOut = Dedup.pin(partitionedOn(e, "src"))
    val nodes = Dedup.pin(degrees(e).select("id"))
    val n = rows(nodes)
    // auths is DERIVED from hubs at the top of every round — HITS has
    // no meaningful initial auth vector, so none is seeded (review
    // r15: the old lit(0.0) auth init was dead, overwritten before
    // first read); the fold makes that structural
    val init = nodes.select(col("id"), lit(1.0).as("hub"))
    val (auths, hubs) = (1 to iters).foldLeft((init, init)) {
      case ((_, hubsPrev), round) =>
        val aSums = e.join(broadcastState(hubsPrev.withColumnRenamed("id", "src"), n), Seq("src"))
          .groupBy(col("dst").as("id")).agg(foldedSum(col("hub"), sortedFold).as("auth"))
        // checkpoint only what two consumers read: the final round's
        // auth frame feeds both this round's hub sums and the output
        val a = if (round == iters) aSums.localCheckpoint(eager = true)
                else aSums
        val hSums0 = eOut.join(broadcastState(a.withColumnRenamed("id", "dst"), n), Seq("dst"))
          .groupBy(col("src").as("id")).agg(foldedSum(col("auth"), sortedFold).as("hub"))
        // the final round's hub frame has one consumer (the returned
        // plan) — leave it lazy, like pageRank's final round (r19)
        val hSums = if (round == iters) hSums0
                    else hSums0.localCheckpoint(eager = true)
        (a, hSums)
    }
    nodes.join(auths.hint("shuffle_hash"), Seq("id"), "left")
      .join(hubs.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("auth"), lit(0.0)).as("auth"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
  }
}

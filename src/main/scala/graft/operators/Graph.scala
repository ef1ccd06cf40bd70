package graft.operators

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Graph analytics over edge lists — the companion surface to
  * Dedup's component operators (near-dup pair graphs, citation /
  * link graphs, user-interaction graphs). Never a driver-side
  * adjacency structure, so the operators inherit Spark's
  * shuffle-partitioned scaling directly. The fixed-round vertex
  * programs (pageRank, personalizedPageRank, labelPropagation,
  * labelComplete, hits) run as RDD rounds over edge blocks pinned
  * once, one Spark job and one shuffle per round (two for hits);
  * the rest is edge-list relational algebra, joins + grouped
  * aggregations per round.
  */
object Graph {

  /** Shared edge prologue's first half: the endpoints as (src, dst),
    * self-loops dropped. `castLong` aligns endpoint types with
    * long-keyed seed relations (the bfsDistance-family convention). */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String,
                        castLong: Boolean): DataFrame = {
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
    edges.select(s.as("src"), d.as("dst")).filter(col("src") =!= col("dst"))
  }

  /** Shared edge prologue: `endpoints`, optionally symmetrized,
    * dedup'd, hash-partitioned on `key` (see partitionedOn) — UNPINNED
    * (callers that read the list more than once pin it). The dedup
    * runs on the partitioned rows, so the list shuffles once. One
    * implementation (review r15): six operators used to inline
    * drifting copies of this block, and the drift is exactly what
    * produced labelComplete's seed-cast-without-edge-cast silent
    * no-op. */
  private def edgeList(edges: DataFrame, srcCol: String, dstCol: String,
                       undirected: Boolean, key: String,
                       castLong: Boolean = false): DataFrame = {
    val base = endpoints(edges, srcCol, dstCol, castLong)
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

  /** The Dataset round driver of kCore, BFS, sssp and Dedup's
    * components (`KMeans.java:220-282`'s loop): at most `rounds` steps
    * from `init`, `step(cur, r)` building round r (from 1) out of the
    * round before. A round that a later round reads ends in an eager
    * localCheckpoint, so round r's plan never nests r join trees.
    *  - Fixed rounds (no `stable`): the LAST round stays lazy.
    *  - Convergent (`stable` = (agg, test)): every round is
    *    checkpointed with the aggregate `agg` over it observed on the
    *    checkpoint's own job, and the loop stops after the first round
    *    r whose value v has `test(v, r)` — the reference's old-vs-new
    *    centroid test (`KMeans.java:291-310`), with no second job.
    * Returns the last round and whether the loop stopped on stability
    * (never, for fixed rounds). */
  private[operators] def iterate(init: DataFrame, rounds: Int,
                                 stable: Option[(Column, (Any, Int) => Boolean)] = None)
                                (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    @annotation.tailrec
    def go(cur: DataFrame, r: Int): (DataFrame, Boolean) =
      if (r > rounds) (cur, false)
      else if (r == rounds && stable.isEmpty) (step(cur, r), false)
      else stable match {
        case None => go(step(cur, r).localCheckpoint(eager = true), r + 1)
        case Some((agg, test)) =>
          val (out, v) = checkpointObserving(step(cur, r), agg)
          if (test(v, r)) (out, true) else go(out, r + 1)
      }
    go(init, 1)
  }

  /** `df` eagerly checkpointed, and the value of the aggregate `agg`
    * over its rows, observed on the checkpoint's own job and read from
    * that execution's plan (no wait on the listener bus). */
  private[operators] def checkpointObserving(df: DataFrame, agg: Column): (DataFrame, Any) = {
    val seen = df.observe("graft_observed", agg)
    val out = seen.localCheckpoint(eager = true)
    (out, seen.queryExecution.observedMetrics("graft_observed").get(0))
  }

  /** A convergent round's stop test for rounds that change something
    * iff one of their output rows meets `cond`: the observed flag is
    * NULL on an empty round, which changed nothing too. */
  private[operators] def noRowMeets(cond: Column): (Column, (Any, Int) => Boolean) =
    (max(cond), (v, _) => v != true)

  /** The row count of `df`: one job, no shuffle. */
  private[operators] def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  // ── Vertex programs: RDD rounds over edge blocks pinned once ────

  /** Field i of `r`, typed `t`, as an RDD key: its Catalyst value,
    * which hashes and compares by content for every groupable type
    * but binary (wrapped in an ArraySeq) and floating zeros (+0.0
    * stands for −0.0, as in a SQL grouping). `idValue` unwraps it. */
  private def idKey(r: InternalRow, i: Int, t: DataType): Any =
    InternalRow.copyValue(r.get(i, t)) match {
      case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
      case d: java.lang.Double if d == 0.0 => java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f == 0.0f => java.lang.Float.valueOf(0.0f)
      case x => x
    }

  private def idValue(k: Any): Any = k match {
    case b: ArraySeq.ofByte => b.unsafeArray
    case x => x
  }

  /** Catalyst's ordering for ids or labels of type `t`, over keys. */
  private def keyOrder(t: DataType): Ordering[Any] =
    TypeUtils.getInterpretedOrdering(t).on(idValue)

  /** The loop-free (src, dst) pairs of `edges` as keys, both
    * orientations when `undirected`, and the output's id field: the
    * endpoints' common type, nullable if either endpoint is (the id
    * column of a union of the two). */
  private def idPairs(edges: DataFrame, srcCol: String, dstCol: String,
                      undirected: Boolean, castLong: Boolean): (RDD[(Any, Any)], StructField) = {
    val ends = endpoints(edges, srcCol, dstCol, castLong)
    val t = ends.select(array(col("src"), col("dst"))).schema.head.dataType.asInstanceOf[ArrayType]
    val pairs = ends.select(col("src").cast(t.elementType), col("dst").cast(t.elementType))
      .queryExecution.toRdd.flatMap { r =>
        val (s, d) = (idKey(r, 0, t.elementType), idKey(r, 1, t.elementType))
        if (undirected) Iterator((s, d), (d, s)) else Iterator.single((s, d))
      }
    (pairs, StructField("id", t.elementType, t.containsNull))
  }

  /** The edge blocks of `pairs`: every node with its distinct
    * out-neighbours (empty for a node that only receives),
    * hash-partitioned on the node into spark.sql.shuffle.partitions
    * partitions and sorted by id within each, so a recomputed block
    * reads in the order the pinned one did. One shuffle; pinned under
    * Dedup's cache lifecycle. */
  private def blocks(pairs: RDD[(Any, Any)], t: DataType): RDD[(Any, Array[Any])] = {
    def add(out: mutable.HashSet[Any], v: Any) = { if (v != null) out += v; out }
    val ord = keyOrder(t)
    Dedup.pin(pairs.flatMap { case (s, d) => Iterator((s, d), (d, null)) }
      .combineByKeyWithClassTag[mutable.HashSet[Any]](add(mutable.HashSet.empty, _), add,
        _ ++= _, new HashPartitioner(SQLConf.get.numShufflePartitions))
      .mapPartitions(_.map { case (u, out) => (u, out.toArray) }.toArray.sortBy(_._1)(ord).iterator,
        preservesPartitioning = true)
      .setName("graph edge blocks"))
  }

  /** How a round folds what a node was sent: `local` makes one map
    * task's group of its messages (in edge-block order), `merge`
    * folds the groups in map-partition order. */
  private final case class Fold[M, G, R](local: collection.Seq[M] => G,
                                         merge: collection.Seq[G] => R)

  /** Σ of a node's doubles. sortedFold: all of them ascending, then a
    * left fold from 0.0 — VectorOps.sortedSum's contract, bit-exact
    * vs DuckDB. Otherwise each map task's partial sum, added in
    * map-partition order: no Spark combiner, so two reads of one
    * result add in the same order and agree bit for bit. */
  private def sumOf(sortedFold: Boolean): Fold[Double, Array[Double], Double] =
    if (sortedFold) Fold(_.toArray, { gs =>
      val all = gs.flatten.toArray
      java.util.Arrays.sort(all)
      all.foldLeft(0.0)(_ + _)
    })
    else Fold(ms => Array(ms.foldLeft(0.0)(_ + _)), _.foldLeft(0.0)(_ + _.head))

  /** A node's most frequent label, ties to the smaller in Catalyst's
    * order for `t` — what min(struct(-count, label)) picks. */
  private def mode(t: DataType): Fold[Any, Array[Any], Any] = {
    val ord = keyOrder(t)
    Fold(_.toArray, { gs =>
      val counts = mutable.HashMap.empty[Any, Long]
      gs.foreach(_.foreach(l => counts(l) = counts.getOrElse(l, 0L) + 1L))
      counts.reduce((a, b) => if (a._2 > b._2 || a._2 == b._2 && ord.lteq(a._1, b._1)) a else b)._1
    })
  }

  /** One message pass: each node of `state` with a `msg` sends it to
    * its out-neighbours in the co-partitioned `adj`, zipped
    * task-locally; one shuffle on adj's partitioner brings each
    * receiver its messages, which `fold` reduces. */
  private def pass[S, M, G, R](state: RDD[(Any, S)], adj: RDD[(Any, Array[Any])])(
      msg: S => Option[M], fold: Fold[M, G, R]): RDD[(Any, R)] = {
    val sent = state.zipPartitions(adj) { (st, out) =>
      val (of, to) = (st.toMap, mutable.HashMap.empty[Any, mutable.ArrayBuffer[M]])
      for ((u, vs) <- out if vs.nonEmpty; m <- msg(of(u)); v <- vs)
        to.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += m
      val at = TaskContext.getPartitionId()
      to.iterator.map { case (v, ms) => (v, (at, fold.local(ms))) }
    }
    new ShuffledRDD[Any, (Int, G), (Int, G)](sent, adj.partitioner.get).mapPartitions(
      _.toSeq.groupBy(_._1).iterator.map { case (v, gs) =>
        (v, fold.merge(gs.map(_._2).sortBy(_._1).map(_._2)))
      }, preservesPartitioning = true)
  }

  /** Each node of `state` with what the co-partitioned `got` holds
    * for it, if anything — a narrow join. */
  private def settle[S, R, T](state: RDD[(Any, S)], got: RDD[(Any, R)])(
      f: (Any, S, Option[R]) => T): RDD[(Any, T)] =
    state.zipPartitions(got, preservesPartitioning = true) { (st, g) =>
      val of = g.toMap
      st.map { case (v, s) => (v, f(v, s, of.get(v))) }
    }

  /** `n` rounds of `step` from `init`: each state but the last is
    * locally checkpointed (one job; the RDD keeps its partitioner),
    * the last stays lazy in the frame built on it, and every action
    * on that frame re-runs it in the same order (`sumOf`). Round r's
    * state is named "graph round r". */
  private def rounds[S](init: RDD[(Any, S)], n: Int)(
      step: RDD[(Any, S)] => RDD[(Any, S)]): RDD[(Any, S)] =
    (1 to n).foldLeft(init) { (cur, r) =>
      val next = step(cur).setName(s"graph round $r")
      if (r < n) { next.localCheckpoint(); next.count() }
      next
    }

  /** The output frame of a vertex program: one row per node of
    * `state`, its id then `row` of its state, typed by `fields`. */
  private def frame[S](edges: DataFrame, state: RDD[(Any, S)], fields: StructField*)(
      row: S => Seq[Any]): DataFrame =
    ColumnGlue.frame(edges.sparkSession, state.mapPartitions(_.map { case (v, s) =>
      new GenericInternalRow((idValue(v) +: row(s)).toArray): InternalRow
    }, preservesPartitioning = true), StructType(fields))

  /** A node's rank state: pr, out-degree and teleport term. */
  private final case class Rank(pr: Double, degree: Long, teleport: Double)

  /** `iters` power iterations from `init` over `adj`: pr'(v) =
    * teleport(v) + d·Σ_{u→v} pr(u)/outdeg(u). Output (id, pr, degree). */
  private def power(edges: DataFrame, adj: RDD[(Any, Array[Any])], id: StructField,
                    init: RDD[(Any, Rank)], iters: Int, damping: Double,
                    sortedFold: Boolean): DataFrame = {
    val folded = sumOf(sortedFold)
    val ranks = rounds(init, iters) { ranks =>
      settle(ranks, pass(ranks, adj)(r => Some(r.pr / r.degree.toDouble), folded)) { (_, r, s) =>
        r.copy(pr = r.teleport + damping * s.getOrElse(0.0))
      }
    }
    frame(edges, ranks, id, StructField("pr", DoubleType, nullable = false),
      StructField("degree", LongType, nullable = false))(r => Seq[Any](r.pr, r.degree))
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
    * Scale shape: one prologue job pins the dedup'd edge blocks (one
    * shuffle) and counts N. A round is one job and one shuffle (see
    * `pass`); all but the last are checkpointed (`rounds`).
    * sortedFold=true folds each node's contributions in ascending
    * order — bit-exact vs DuckDB, correctness gates only; false is the
    * partial-sum scale path (`sumOf`).
    *
    * Output: (id, pr, degree) for every node in the edge list, id in
    * its input type. */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 3, damping: Double = 0.85,
               undirected: Boolean = true, sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0, 1), got $damping")
    val (pairs, id) = idPairs(edges, srcCol, dstCol, undirected, castLong = false)
    val adj = blocks(pairs, id.dataType)
    val n = adj.count()
    require(n > 0, "pageRank on an empty edge list")
    power(edges, adj, id, adj.mapValues(out =>
      Rank(1.0 / n.toDouble, out.length.toLong, (1.0 - damping) / n.toDouble)),
      iters, damping, sortedFold)
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
    * Scale shape: pageRank's, plus one shuffle of the seed ids (cast
    * to the id type) onto the blocks' partitions; the prologue job
    * counts N and the seeds present.
    *
    * Output: (id, pr, degree) for every node of the edge list. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, seedCol: String,
                           srcCol: String = "src", dstCol: String = "dst",
                           iters: Int = 3, damping: Double = 0.85,
                           undirected: Boolean = true,
                           sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0, 1), got $damping")
    val (pairs, id) = idPairs(edges, srcCol, dstCol, undirected, castLong = false)
    val adj = blocks(pairs, id.dataType)
    // seeds restricted to nodes actually in the graph — teleporting to
    // an absent node would silently leak (1−d)/|S| of mass nowhere
    val seeded = seeds.select(col(seedCol).cast(id.dataType)).queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) None else Some((idKey(r, 0, id.dataType), ())))
      .partitionBy(adj.partitioner.get)
    val marked = settle(adj, seeded)((_, out, s) => (out.length.toLong, s.isDefined))
    val (n, nS) = marked.map { case (_, (_, s)) => (1L, if (s) 1L else 0L) }
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    require(nS > 0, "personalizedPageRank needs at least one seed present in the graph")
    power(edges, adj, id, marked.mapValues { case (degree, seed) =>
      val s = if (seed) 1.0 / nS.toDouble else 0.0
      Rank(s, degree, (1.0 - damping) * s)
    }, iters, damping, sortedFold)
  }

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
    * Scale shape: pageRank's rounds with the sum swapped for a mode
    * (`mode`), and no prologue job. Nodes with no in-neighbors
    * (directed case) keep their label. Output: (id, label). */
  def labelPropagation(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                       rounds: Int = 2, undirected: Boolean = true): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    val (pairs, id) = idPairs(edges, srcCol, dstCol, undirected, castLong = false)
    val adj = blocks(pairs, id.dataType)
    val vote = mode(id.dataType)
    val own = adj.mapPartitions(_.map { case (v, _) => (v, v: Any) }, preservesPartitioning = true)
    val labels = this.rounds(own, rounds) { labels =>
      settle(labels, pass(labels, adj)(Some(_), vote))((v, _, l) => l.getOrElse(v))
    }
    frame(edges, labels, id, id.copy(name = "label"))(l => Seq(idValue(l)))
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
    * Determinism: mode tie-break = (count desc, label asc), labels
    * compared as Spark orders strings (UTF-8 bytes); integer counting
    * only, no FP. Nodes that never see a labeled neighbor keep NULL
    * (visibly un-inferred, not defaulted). A seed id listed with
    * several labels keeps the smallest.
    *
    * Scale shape: labelPropagation's, only labelled nodes sending,
    * plus one shuffle of the seeds. Output: (id, label, is_seed). */
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
    val (pairs, id) = idPairs(edges, srcCol, dstCol, undirected, castLong = true)
    val adj = blocks(pairs, LongType)
    val ord = keyOrder(StringType)
    val known = seeds.select(col(idCol).cast("long").as("id"), col(labelCol).cast("string").as("l"))
      .filter(col("id").isNotNull && col("l").isNotNull).queryExecution.toRdd
      .map(r => (r.getLong(0): Any, r.getUTF8String(1).copy(): Any))
      .reduceByKey(adj.partitioner.get, (a, b) => ord.min(a, b))
    // a state is (label, seed label); only seeds are labelled at first
    val init = settle(adj, known)((_, _, s) => (s.orNull, s.orNull))
    val vote = mode(StringType)
    val labels = this.rounds(init, rounds) { labels =>
      settle(labels, pass(labels, adj)(s => Option(s._1), vote)) { (_, s, l) =>
        if (s._2 != null) s else (l.orNull, null)
      }
    }
    frame(edges, labels, id, StructField("label", StringType, nullable = true),
      StructField("is_seed", IntegerType, nullable = false))(s =>
      Seq(s._1, if (s._2 != null) 1 else 0))
  }

  /** Degree distribution of an edge list: per-node degree plus the
    * node count at each degree — the one-pass profile that decides
    * whether a graph op needs a skew guard (a power-law head means
    * the top hub's adjacency dwarfs the mean; feed maxBucket /
    * salting decisions from this, don't guess). Scale shape: the edge
    * prologue's one shuffle, then one (id, degree) aggregate over
    * every endpoint and a partial-agg count per degree.
    * Output: (degree, n_nodes) ascending. */
  def degreeHistogram(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst",
                      undirected: Boolean = true): DataFrame = {
    // every endpoint counts, so pure sinks sit at degree 0 (review
    // r15: grouping the out-endpoint alone silently dropped
    // zero-out-degree nodes in the directed case, under-reporting
    // node count to exactly the skew decisions this profile feeds;
    // in undirected mode symmetrization makes this a no-op)
    edgeList(edges, srcCol, dstCol, undirected, "src")
      .select(explode(array(
          struct(col("src").as("id"), lit(true).as("out")),
          struct(col("dst").as("id"), lit(false).as("out")))).as("__e"))
      .groupBy(col("__e.id")).agg(count(when(col("__e.out"), true)).as("degree"))
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
    * convergent mode: the edge count observed on the round's
    * checkpoint equals the round before's) changes nothing. With rounds ≥ the peel depth
    * the result IS the exact k-core.
    *
    * Scale shape: per round ONE grouped degree count + TWO semi-joins
    * of the edge list against the survivor set — the connected-
    * components shuffle pattern — with a localCheckpoint per round
    * (the components lesson: round r's plan otherwise nests r join
    * trees). No windows, no driver-side adjacency, no collects: each
    * edge count rides its checkpoint's job.
    * Output: (id, core_degree) for every vertex still standing after
    * `rounds` peels — degree measured within the surviving subgraph. */
  def kCore(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
            k: Int = 2, rounds: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1, 50], got $rounds")
    val (init, n0) = checkpointObserving(symmetrize(undirectedPairs(edges, srcCol, dstCol)),
      count(lit(1)))
    var before = n0
    val unchanged = (after: Any, _: Int) => {
      val same = after == before
      before = after
      same
    }
    val (core, _) = iterate(init, rounds, Some((count(lit(1)), unchanged))) { (cur, _) =>
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
    * convergent mode: the hop's largest distance, observed on its
    * checkpoint's job, is short of the hop).
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
    // a hop added a key iff one of its rows sits at its own distance
    iterate(start, maxHops, Some((max(col("dist")), (d, h) => d != h.toLong))) { (dist, h) =>
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
    * Scale shape: edge blocks on src and, built from them, on dst; no
    * prologue job. A round is one job with two shuffles: hubs travel
    * the out-edges, the new auths travel back along the in-edges. A
    * node nothing reaches scores exact 0.0, which a sum of
    * non-negative scores never notices (0.0 + x = x, and a sort puts
    * zeros first). sortedFold as in pageRank; both modes are
    * bit-identical while every score is an integer below 2^53
    * (GraphSpec pins it).
    *
    * Output: (id, auth, hub) for every node. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, sortedFold: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val (pairs, id) = idPairs(edges, srcCol, dstCol, undirected = false, castLong = true)
    val out = blocks(pairs, LongType)
    val in = blocks(out.flatMap { case (u, vs) => vs.iterator.map(v => (v, u)) }, LongType)
    val folded = sumOf(sortedFold)
    // a state is (auth, hub); auths derive from hubs each round, so
    // the initial auth is never read
    val scores = rounds(out.mapValues(_ => (0.0, 1.0)), iters) { st =>
      val auth = settle(out, pass(st, out)(s => Some(s._2), folded))((_, _, a) => a.getOrElse(0.0))
      settle(auth, pass(auth, in)(Some(_), folded))((_, a, h) => (a, h.getOrElse(0.0)))
    }
    frame(edges, scores, id, StructField("auth", DoubleType, nullable = false),
      StructField("hub", DoubleType, nullable = false))(s => Seq(s._1, s._2))
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: star center outranks leaves, ranks sum to 1") {
    // star: 1 connected to 2,3,4,5 (undirected)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(pr(1L)._2 === 4L)
    assert(pr(2L)._2 === 1L)
    val leaves = Seq(2L, 3L, 4L, 5L).map(pr(_)._1)
    assert(leaves.distinct.size === 1, "symmetric leaves must tie exactly")
    assert(pr(1L)._1 > leaves.head * 2)
    // undirected graph has no dangling mass: total rank stays 1
    assert(math.abs(pr.values.map(_._1).sum - 1.0) < 1e-12)
  }

  test("pageRank: sortedFold twin matches the distributed path") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)).toDF("src", "dst")
    val a = Graph.pageRank(edges, "src", "dst", iters = 3, sortedFold = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.pageRank(edges, "src", "dst", iters = 3, sortedFold = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-12, s"id $id") }
    Dedup.releaseCaches()
  }

  test("pageRank directed: node with no in-edges sits at the teleport floor") {
    // 1 -> 2 -> 3, directed; node 1 receives nothing
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rows = Graph.pageRank(edges, "src", "dst", iters = 3, undirected = false).collect()
    val pr = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.15 / 3.0) < 1e-12)
    assert(pr(2L) > pr(1L) && pr(3L) > pr(1L))
    // 3 has in-edges only: it is a node, at out-degree 0
    assert(rows.map(r => r.getLong(0) -> r.getLong(2)).toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
    Dedup.releaseCaches()
  }

  test("pageRank is repartition-stable (sortedFold)") {
    val edges = (1L to 60L).map(i => (i, (i * 7) % 20 + 1L)).toDF("src", "dst")
    val a = Graph.pageRank(edges, "src", "dst", iters = 2, sortedFold = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val b = Graph.pageRank(edges.repartition(7), "src", "dst", iters = 2, sortedFold = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(a === b)
    Dedup.releaseCaches()
  }

  test("degreeHistogram counts nodes per degree") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    // degrees: 1 -> 3, 2 -> 2, 3 -> 2, 4 -> 1
    val h = Graph.degreeHistogram(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("componentsStar matches connectedComponents on a long path (diameter test)") {
    // a 30-node path — diameter 29, the adversarial case for
    // min-label propagation — plus a separate triangle and an
    // isolated self-paired id
    val path = (1L until 30L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val selfPair = Seq((200L, 200L))
    val pairs = (path ++ tri ++ selfPair).toDF("id1", "id2")
    val star = Dedup.componentsStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val prop = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(star === prop)
    assert(star.filter(_._1 <= 30L).forall(_._2 === 1L))
    assert(star.filter(p => p._1 >= 100L && p._1 <= 102L).forall(_._2 === 100L))
    assert(star.find(_._1 === 200L).get._2 === 200L)
    Dedup.releaseCaches()
  }

  test("labelPropagation: dense blobs keep distinct labels across a bridge") {
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10:
    // one connected component, but LPA holds two communities
    val tri1 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val tri2 = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val edges = (tri1 ++ tri2 :+ (3L -> 10L)).toDF("src", "dst")
    // 4 rounds: synchronous LPA churns for the first couple of rounds
    // on a graph this small before the blob majorities lock in
    val labs = Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(labs(1L) === labs(2L) && labs(2L) === labs(3L))
    assert(labs(10L) === labs(11L) && labs(11L) === labs(12L))
    assert(labs(1L) !== labs(10L), "the bridge must not merge the blobs")
    // components DOES merge them — the two operators answer different questions
    val comp = Dedup.componentsStar(edges.select(col("src").as("id1"), col("dst").as("id2")))
      .select("component").distinct().count()
    assert(comp === 1L)
    Dedup.releaseCaches()
  }

  test("labelPropagation ties break to the smaller label, rounds are deterministic") {
    // node 5 hears labels {1, 2} once each in round 1 -> picks 1
    val edges = Seq((1L, 5L), (2L, 5L)).toDF("src", "dst")
    val labs = Graph.labelPropagation(edges, "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs(5L) === 1L)
    // leaves adopt the hub's label
    assert(labs(1L) === 5L && labs(2L) === 5L)
    val again = Graph.labelPropagation(edges.repartition(5), "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === labs)
    Dedup.releaseCaches()
  }

  test("componentsStar converges in far fewer rounds than the diameter") {
    // 64-node path: propagation needs ~63 rounds (maxIter would trip
    // at 50); the star alternation finishes inside the same cap
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.componentsStar(pairs, maxIter = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 64)
    assert(labels.forall(_._2 === 1L))
    Dedup.releaseCaches()
  }

  test("assortativity: -1 on a star, NULL on a regular graph, edge count halved") {
    // star K1,4: every edge joins degree 4 to degree 1 → r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val rs = Graph.assortativity(star).collect()(0)
    assert(rs.getLong(0) === 4L)
    assert(math.abs(rs.getDouble(1) - (-1.0)) < 1e-12)
    // triangle: degree-regular → zero variance → NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val rt = Graph.assortativity(tri).collect()(0)
    assert(rt.getLong(0) === 3L && rt.isNullAt(1))
  }

  test("kCore peels a tail off a triangle; deep chains need their rounds") {
    // triangle {1,2,3} + path 3-4-5: the 2-core is exactly the triangle,
    // but vertex 4 only drops AFTER 5 does — two rounds needed
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2, rounds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round is not enough: only 5 (degree 1) peels, 4 survives
    val oneRound = Graph.kCore(edges, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneRound === Set(1L, 2L, 3L, 4L))
    // k=3: no vertex has 3 neighbors → empty core
    assert(Graph.kCore(edges, k = 3, rounds = 10).count() === 0L)
  }

  test("kCore early-exits at the fixpoint with identical results") {
    // clique K4: already its own 2-core — huge round budget is free
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("src", "dst")
    val got = Graph.kCore(k4, k = 2, rounds = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: K4 minus an edge, duplicates and self-loops ignored") {
    // K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4).
    // Noise: a self-loop, a duplicate, and a reversed duplicate.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (2L, 1L), (1L, 2L), (3L, 3L)
    ).toDF("src", "dst")
    try {
      val got = Graph.triangleCounts(edges)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
      assert(got(1L) === ((3L, 2L, 2.0 * 2 / (3 * 2))))
      assert(got(2L) === ((3L, 2L, 2.0 * 2 / (3 * 2))))
      assert(got(3L) === ((2L, 1L, 1.0)))
      assert(got(4L) === ((2L, 1L, 1.0)))
    } finally Dedup.releaseCaches()
  }

  test("triangleCounts matches brute force on a 40-node random graph") {
    val rnd = new scala.util.Random(11L)
    val edgeSet = (for (a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.15)
      yield (a, b)).toSet
    val expected = {
      val adj = edgeSet.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val nodes = edgeSet.flatMap(e => Seq(e._1, e._2))
      nodes.map { v =>
        val nb = adj(v).toSeq
        val t = (for (i <- nb.indices; j <- (i + 1) until nb.length
          if edgeSet.contains((math.min(nb(i), nb(j)), math.max(nb(i), nb(j)))))
          yield 1).size.toLong
        v -> ((nb.length.toLong, t))
      }.toMap
    }
    try {
      val got = Graph.triangleCounts(edgeSet.toSeq.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(expected.values.map(_._2).sum > 0, "vacuous: no triangles in random graph")
      assert(got === expected)
    } finally Dedup.releaseCaches()
  }

  test("commonNeighbors: open wedge scores the missing edge (ADVICE r8 — non-vacuous)") {
    // path a-b-c: (a,c) are non-adjacent with common neighbor b;
    // cn=1, jaccard = 1 / (1 + 1 - 1) = 1.0 over degrees d(a)=d(c)=1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    try {
      val got = Graph.commonNeighbors(path, "src", "dst")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      assert(got.toSeq === Seq(((1L, 3L), (1L, 1.0))))
    } finally Dedup.releaseCaches()

    // square + diagonal: 1-2-3-4-1 plus chord 1-3. Non-adjacent pair
    // (2,4) shares neighbors {1,3}: cn=2, d(2)=d(4)=2 → j=2/(2+2-2)=1.
    // Pair (1,3) IS adjacent (the chord) — must be anti-joined away
    // even though it has 2 common neighbors.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    try {
      val got = Graph.commonNeighbors(sq, "src", "dst")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
      assert(got === Map((2L, 4L) -> ((2L, 1.0))))
    } finally Dedup.releaseCaches()
  }

  test("pageRank at iters=25 runs with bounded plan depth (per-round checkpoint)") {
    // VERDICT r8 item 5: without the per-round localCheckpoint this
    // builds a 25-deep join plan; with it, each round's plan hangs off
    // a materialized scan. Assert convergence-ish behavior too: on a
    // symmetric clique ranks are uniform at every iteration count.
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("src", "dst")
    try {
      val pr = Graph.pageRank(k4, "src", "dst", iters = 25)
      val rows = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows.size === 4)
      rows.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
      // bounded plan: the final plan must be ITERATION-INVARIANT (each
      // non-final round's lineage truncated to a LogicalRDD scan; the
      // FINAL round stays lazy by design since r19 — its single
      // consumer is the returned plan). So the invariant holds from
      // iters=2 up: one lazy round over a checkpointed frame. iters=1
      // legitimately prints differently (its one lazy round reads the
      // cached degree table, no checkpoint exists yet).
      def planLines(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.toString.linesIterator.size
      val deep = planLines(pr)
      Dedup.releaseCaches()
      val shallow = planLines(Graph.pageRank(k4, "src", "dst", iters = 2))
      assert(deep === shallow,
        s"plan grew with rounds ($shallow lines at iters=2, $deep at 25) — lineage not truncated?")
    } finally Dedup.releaseCaches()
  }

  test("bfsDistance: path graph, single seed, maxHops cap") {
    // path 1-2-3-4-5-6, seed {1}: dists 0..4; node 6 (5 hops) is
    // beyond maxHops=4 and must be absent
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    try {
      val seeds = Seq(1L).toDF("id")
      val d = Graph.bfsDistance(edges, seeds, "id", maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    } finally Dedup.releaseCaches()
  }

  test("bfsDistance: multi-source takes the MIN over seeds; early exit past the diameter") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    try {
      val seeds = Seq(1L, 6L).toDF("id")
      // maxHops far beyond the diameter: the empty-frontier exit fires
      val d = Graph.bfsDistance(edges, seeds, "id", maxHops = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
    } finally Dedup.releaseCaches()
  }

  test("bfsDistance: directed edges keep orientation; disconnected nodes never appear") {
    // 1→2→3 directed plus isolated pair 8-9: from seed {1} only 1,2,3
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    try {
      val d = Graph.bfsDistance(edges, Seq(1L).toDF("id"), "id",
        maxHops = 5, undirected = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
      // reversed direction: 3 reaches nothing
      val d2 = Graph.bfsDistance(edges, Seq(3L).toDF("id"), "id",
        maxHops = 5, undirected = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d2 === Map(3L -> 0L))
    } finally Dedup.releaseCaches()
  }

  test("ssspBounded: a cheap 2-hop path beats an expensive direct edge") {
    // 1-3 costs 10 direct, but 1-2-3 costs 2+3=5
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L)).toDF("src", "dst", "w")
    try {
      val d = Graph.ssspBounded(edges, Seq(1L).toDF("id"), "id", maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
    } finally Dedup.releaseCaches()
  }

  test("ssspBounded: maxHops is semantic — the horizon truncates cheaper long paths") {
    // chain of four 1-cost edges vs a direct 10-cost edge: with
    // maxHops=2 only the direct edge (and 2-hop prefix) is visible
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
      (1L, 5L, 10L)).toDF("src", "dst", "w")
    try {
      val h2 = Graph.ssspBounded(edges, Seq(1L).toDF("id"), "id", maxHops = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(h2(5L) === 10L && h2(3L) === 2L)
      val h4 = Graph.ssspBounded(edges, Seq(1L).toDF("id"), "id", maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(h4(5L) === 4L, "4 hops unlock the cheap chain")
    } finally Dedup.releaseCaches()
  }

  test("ssspBounded: multi-source min and directed orientation") {
    val edges = Seq((1L, 2L, 5L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    try {
      val d = Graph.ssspBounded(edges, Seq(1L, 3L).toDF("id"), "id",
        maxHops = 3, undirected = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 3L -> 0L, 2L -> 1L)) // 3's edge wins
    } finally Dedup.releaseCaches()
  }

  test("closenessBounded: per-seed distances survive separately; exact closeness") {
    // path 1—2—3—4 with seeds {1, 4}: node 2 reaches 1 at d=1 and 4
    // at d=2 → n=2, sum=3, closeness 2/3. bfsDistance would collapse
    // to min(d)=1 and lose the panel structure.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    try {
      val got = Graph.closenessBounded(edges, Seq(1L, 4L).toDF("id"), "id",
        maxHops = 4).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      assert(got(2L) === ((2L, 3L, Some(2.0 / 3.0))))
      assert(got(3L) === ((2L, 3L, Some(2.0 / 3.0))))
      assert(got(1L) === ((2L, 3L, Some(2.0 / 3.0)))) // self at 0 + far seed at 3
      assert(got(4L) === ((2L, 3L, Some(2.0 / 3.0))))
    } finally Dedup.releaseCaches()
  }

  test("closenessBounded: horizon truncates; unreachable nodes absent; seed-only NULL") {
    // two components: {1,2} with seed 1, isolated seed 9
    val edges = Seq((1L, 2L), (8L, 9L)).toDF("src", "dst")
    try {
      val got = Graph.closenessBounded(edges, Seq(1L, 9L).toDF("id"), "id",
        maxHops = 1).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      assert(got(1L) === ((1L, 0L, None)), "only its own seed row: NULL closeness")
      assert(got(2L) === ((1L, 1L, Some(1.0))))
      assert(got(8L) === ((1L, 1L, Some(1.0))))
      intercept[IllegalArgumentException] {
        Graph.closenessBounded(edges, (1L to 100L).toDF("id"), "id", maxSeeds = 10)
      }
    } finally Dedup.releaseCaches()
  }

  test("personalizedPageRank: mass concentrates near the seed, not the hub") {
    // barbell: seed-side triangle {1,2,3} — bridge — hub-side star at 10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L)).toDF("src", "dst")
    try {
      val pr = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"), "id",
        iters = 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr(1L) > pr(10L), "seed must outrank the distant hub")
      assert(pr(2L) > pr(11L), "seed neighbor must outrank a distant leaf")
      // global pageRank ranks the 5-degree hub first — the teleport
      // restriction is what flips the ordering
      val global = Graph.pageRank(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(global(10L) > global(1L))
    } finally Dedup.releaseCaches()
  }

  test("personalizedPageRank: sortedFold twin matches; seeds outside the graph rejected") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)).toDF("src", "dst")
    val seeds = Seq(100L, 101L).toDF("id")
    try {
      val a = Graph.personalizedPageRank(edges, seeds, "id", sortedFold = false)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val b = Graph.personalizedPageRank(edges, seeds, "id", sortedFold = true)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(a.keySet === b.keySet)
      a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-12, s"id $id") }
      intercept[IllegalArgumentException] {
        Graph.personalizedPageRank(edges, Seq(9999L).toDF("id"), "id")
      }
    } finally Dedup.releaseCaches()
  }

  test("personalizedPageRank: non-seed with no in-edges sits at 0 (no global teleport)") {
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    try {
      val pr = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"), "id",
        undirected = false, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr(3L) === 0.0, "teleport mass must not leak to non-seeds")
      assert(pr(1L) === (1.0 - 0.85) * 1.0, "(1-d)·s for the seed with no in-edges")
    } finally Dedup.releaseCaches()
  }

  test("labelComplete: seeds clamp, labels reach 2 hops, unreached stay NULL") {
    // chain 1—2—3 plus isolated pair 8—9; seed: 1=en, 8 stays unseeded
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val seeds = Seq((1L, "en"), (4L, "de")).toDF("id", "lang") // 4 not in graph
    try {
      val got = Graph.labelComplete(edges, "src", "dst", seeds, "id", "lang",
        rounds = 2).collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getInt(2)))).toMap
      assert(got(1L) === ((Some("en"), 1)))
      assert(got(2L) === ((Some("en"), 0)), "1 hop after round 1")
      assert(got(3L) === ((Some("en"), 0)), "2 hops after round 2")
      assert(got(8L) === ((None, 0)), "no labeled neighbor ever: visibly NULL")
      assert(got(9L) === ((None, 0)))
    } finally Dedup.releaseCaches()
  }

  test("labelComplete: mode vote with (count desc, label asc) tie-break; seed never flips") {
    // node 5 has two 'a' neighbors and one 'b' → a; node 6 ties a/b → a
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (1L, 6L), (3L, 6L),
      (1L, 4L)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "z")).toDF("id", "l")
    try {
      val got = Graph.labelComplete(edges, "src", "dst", seeds, "id", "l",
        rounds = 1).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got(5L) === Some("a"))
      assert(got(6L) === Some("a"), "tie must break to the smallest label")
      assert(got(4L) === Some("z"), "a seed keeps its label against any vote")
      // a tie between labels whose UTF-16 order (String.compareTo) and
      // UTF-8 order differ breaks as Spark orders strings, by UTF-8
      // bytes: "｡" (EF BD A1) before "😀" (F0 9F 98 80)
      val tie = Graph.labelComplete(Seq((1L, 3L), (2L, 3L)).toDF("src", "dst"), "src", "dst",
        Seq((1L, "😀"), (2L, "｡")).toDF("id", "l"), "id", "l", rounds = 1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(tie(3L) === "｡", "the tie must break to the smaller label in UTF-8 order")
    } finally Dedup.releaseCaches()
  }

  test("hits: 2-round mutual reinforcement on a bipartite graph, by hand") {
    // 1→a(=10), 1→b(=11), 2→b. a1: a=1, b=2. h1: u1=1+2=3, u2=2.
    // a2: a=3, b=3+2=5. h2: u1=3+5=8, u2=5.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 11L)).toDF("src", "dst")
    try {
      for (sorted <- Seq(true, false)) {
        val got = Graph.hits(edges, "src", "dst", iters = 2, sortedFold = sorted)
          .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        assert(got(10L) === ((3.0, 0.0)), s"sortedFold=$sorted")
        assert(got(11L) === ((5.0, 0.0)), s"sortedFold=$sorted")
        assert(got(1L) === ((0.0, 8.0)), s"sortedFold=$sorted")
        assert(got(2L) === ((0.0, 5.0)), s"sortedFold=$sorted")
      }
    } finally Dedup.releaseCaches()
  }

  test("hits: duplicate and self-loop edges are dropped before iterating") {
    val edges = Seq((1L, 2L), (1L, 2L), (3L, 3L), (3L, 2L)).toDF("src", "dst")
    try {
      val got = Graph.hits(edges, "src", "dst", iters = 1)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      // auth(2) = hub0(1) + hub0(3) = 2 (dup edge counted once)
      assert(got(2L) === ((2.0, 0.0)))
      assert(got(3L)._1 === 0.0, "self-loop must not make 3 an authority")
    } finally Dedup.releaseCaches()
  }

  test("hits: unnormalized scores are exact integers, so the fast mode is bit-equal to the sorted fold") {
    // the q_hits_fast hash-gate theorem (VERDICT r12 item 1), pinned
    // on a skewed many-partition bipartite: hub0 = 1.0 and every
    // round is a pure sum over a deduped integer-keyed edge set, so
    // by induction every score is an exact integer in a double —
    // IEEE addition of integers below 2^53 is exact and therefore
    // associative, and the partial-agg ORDER cannot move one bit.
    val edges = spark.range(0, 4000).toDF("i").repartition(13)
      .select((col("i") % 37 * 2).as("src"),
        (col("i") * 31 % 101 * 2 + 1).as("dst"))
    try {
      def scores(sorted: Boolean) =
        Graph.hits(edges, "src", "dst", iters = 2, sortedFold = sorted)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(_._1)
      val fast = scores(sorted = false)
      assert(fast.toSeq == scores(sorted = true).toSeq,
        "fast-mode scores must be bit-identical to the sorted-fold parity mode")
      fast.foreach { case (id, a, h) =>
        assert(a == math.rint(a) && h == math.rint(h),
          s"node $id: non-integer score ($a, $h) — the hash-gate premise broke")
        // the 2^53 half of the premise (ADVICE r13): exactness of the
        // integer additions needs every partial sum below 2^53, and
        // partial sums of non-negative terms are bounded by the final
        // score — so pin max|score| < 2^53 on the live relation rather
        // than trusting margin arithmetic in a comment
        assert(math.abs(a) < 9.007199254740992e15 &&
            math.abs(h) < 9.007199254740992e15,
          s"node $id: score ($a, $h) at or beyond 2^53 — integer addition " +
            "is no longer exact and the hash gate premise breaks")
      }
    } finally Dedup.releaseCaches()
  }

  test("q_hits_fast live relation: every score is an exact integer below 2^53") {
    // the premise check on the GATED query's own edge relation
    // (orders ⋈ lineitem at sf0.001) — the 2^53 bound is a property
    // of the graph's degree distribution, not of the operator
    // (EntryGraph's q_hits_fast comment derives why), so it is pinned
    // where it is relied on
    try {
      val got = SparkEntry.queries("q_hits_fast")(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(got.nonEmpty)
      got.foreach { case (id, a, h) =>
        assert(a == math.rint(a) && h == math.rint(h),
          s"node $id: non-integer score ($a, $h)")
        assert(math.abs(a) < 9.007199254740992e15 &&
            math.abs(h) < 9.007199254740992e15,
          s"node $id: score ($a, $h) at or beyond 2^53")
      }
    } finally Dedup.releaseCaches()
  }

  test("vertex programs: output schema and nullability as the SQL rounds built them") {
    // ids keep their input type (long for the long-id labelComplete
    // and hits) and are nullable if either endpoint column is; the
    // literals are what the SQL-round operators returned
    val inputs = Seq(
      "long" -> Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
      "nullable" -> Seq((Some(1L), Some(2L)), (Some(2L), Some(3L))).toDF("src", "dst"),
      "mixed" -> Seq((1, Some(2L)), (2, Some(3L))).toDF("src", "dst"),
      "string" -> Seq(("a", "b"), ("b", "c")).toDF("src", "dst"))
    val seeds = Seq((1L, "x")).toDF("id", "label")
    try for ((name, e) <- inputs) {
      val (id, nn) = name match {
        case "long" => ("BIGINT NOT NULL", " NOT NULL")
        case "string" => ("STRING", "")
        case _ => ("BIGINT", "")
      }
      val labelType = id.stripSuffix(" NOT NULL")
      def ddl(df: org.apache.spark.sql.DataFrame) = df.schema.toDDL
      for (u <- Seq(true, false)) {
        assert(ddl(Graph.pageRank(e, undirected = u))
          === s"id $id,pr DOUBLE NOT NULL,degree BIGINT NOT NULL", s"pageRank, $name")
        assert(ddl(Graph.labelPropagation(e, undirected = u)) === s"id $id,label $labelType$nn",
          s"labelPropagation, $name")
      }
      val firstId = e.select("src").limit(1)
      assert(ddl(Graph.personalizedPageRank(e, firstId, "src"))
        === s"id $id,pr DOUBLE NOT NULL,degree BIGINT NOT NULL", s"personalizedPageRank, $name")
      if (name != "string") {
        assert(ddl(Graph.labelComplete(e, "src", "dst", seeds, "id", "label"))
          === s"id $id,label STRING,is_seed INT NOT NULL", s"labelComplete, $name")
        assert(ddl(Graph.hits(e, "src", "dst")) === s"id $id,auth DOUBLE NOT NULL,hub DOUBLE NOT NULL",
          s"hits, $name")
      }
    } finally Dedup.releaseCaches()
  }

  test("assortativity survives a hub whose cross terms overflow long (review r15)") {
    // star with 100k leaves: hub degree 1e5, so m2·Σd² ≈ 2e20 —
    // past Long.MaxValue. The old raw-long arithmetic silently
    // WRAPPED here (garbage r, where the DuckDB oracle errors); the
    // decimal(38,0) path must return the star's exact r = −1.
    val n = 100000L
    val edges = spark.range(2L, n + 2L).select(lit(1L).as("src"), col("id").as("dst"))
    val row = Graph.assortativity(edges, "src", "dst").collect()(0)
    assert(row.getLong(0) == n, s"m_edges: ${row.getLong(0)}")
    val r = row.getDouble(1)
    assert(math.abs(r + 1.0) < 1e-12,
      s"a star graph is perfectly disassortative; got r = $r (long wrap?)")
  }

  test("degreeHistogram (directed) counts pure sinks at degree 0 (review r15)") {
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val got = Graph.degreeHistogram(edges, "src", "dst", undirected = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 2L),
      s"node 2 (only in-edges) must appear at degree 0; got $got")
    // undirected mode is unchanged: symmetrization leaves no sinks
    val und = Graph.degreeHistogram(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(und == Map(1L -> 2L, 2L -> 1L), s"undirected: $und")
  }

  test("long-id operators refuse non-castable ids loudly (review r15)") {
    // labelComplete used to cast seeds long but NOT edge endpoints —
    // a string-id graph joined nothing and returned all-NULL labels
    // with no error; now the whole long-id family refuses up front
    val sEdges = Seq(("a", "b")).toDF("src", "dst")
    val sSeeds = Seq(("a", "en")).toDF("doc_id", "lang")
    val lSeeds = Seq(Tuple1(1L)).toDF("id")
    val e1 = intercept[IllegalArgumentException] {
      Graph.labelComplete(sEdges, "src", "dst", sSeeds, "doc_id", "lang")
    }
    assert(e1.getMessage.contains("long-castable"))
    val e2 = intercept[IllegalArgumentException] {
      Graph.bfsDistance(sEdges, lSeeds, "id")
    }
    assert(e2.getMessage.contains("long-castable"))
    val e3 = intercept[IllegalArgumentException] {
      Graph.hits(sEdges, "src", "dst")
    }
    assert(e3.getMessage.contains("long-castable"))
    // ssspBounded casts its endpoints and seeds to long as well: with
    // ANSI off a string id used to come back [null, 0] with every edge
    // dropped, with ANSI on as a raw CAST_INVALID_INPUT
    val wEdges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      for ((what, e, seeds) <- Seq(
          ("string endpoints", sEdges.withColumn("w", lit(1L)), lSeeds),
          ("string seeds", wEdges, sSeeds))) {
        val e4 = intercept[IllegalArgumentException] {
          Graph.ssspBounded(e, seeds, seeds.columns.head)
        }
        assert(e4.getMessage.contains("long-castable"), s"ssspBounded, $what, ANSI $ansi")
      }
    }
  }

  test("ssspBounded refuses negative and NULL weights loudly (review r15)") {
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val neg = Seq((1L, 2L, 5L), (2L, 3L, -5L)).toDF("src", "dst", "w")
    val e1 = intercept[IllegalArgumentException] {
      Graph.ssspBounded(neg, seeds, "id", maxHops = 2)
    }
    assert(e1.getMessage.contains("negative"))
    val nul = Seq((1L, 2L, Some(5L)), (2L, 3L, None)).toDF("src", "dst", "w")
    val e2 = intercept[IllegalArgumentException] {
      Graph.ssspBounded(nul, seeds, "id", maxHops = 2)
    }
    assert(e2.getMessage.contains("NULL"))
    // a fractional weight would truncate in the long cast: refused by type
    val frac = Seq((1L, 2L, 0.5), (2L, 3L, 1.5)).toDF("src", "dst", "w")
    val e3 = intercept[IllegalArgumentException] {
      Graph.ssspBounded(frac, seeds, "id", maxHops = 2)
    }
    assert(e3.getMessage.contains("double"), e3.getMessage)
    // the valid case still computes bounded shortest paths
    val ok = Seq((1L, 2L, 5L), (2L, 3L, 7L)).toDF("src", "dst", "w")
    val d = Graph.ssspBounded(ok, seeds, "id", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 5L, 3L -> 12L), s"got $d")
  }

  /** Runs `body` with the session conf `kv` set, then restores it. */
  private def withConf[T](kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** What `body` ran in its job group: eager localCheckpoint calls
    * (root SQL executions described "localCheckpoint at <call site>",
    * the marker the e2ebench Checkpoints listener counts rounds by),
    * Spark jobs, and for each vertex-round state RDD a job read
    * ("graph round r") whether it was persisted — a local checkpoint
    * persists the RDD it cuts. */
  private final case class Work(checkpoints: Int, jobs: Int, rounds: Map[Int, Boolean])

  private def workDuring(body: => Unit): Work = {
    val sc = spark.sparkContext
    val group = s"graph-spec-checkpoints-${System.nanoTime()}"
    val marker = s"$group-drained"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val rounds = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]
    val Round = "graph round (\\d+)".r
    @volatile var drained = false
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) &&
            x.rootExecutionId.forall(_ == x.executionId) &&
            x.description.startsWith("localCheckpoint at ") => n.incrementAndGet(); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          for (st <- e.stageInfos; rdd <- st.rddInfos) rdd.name match {
            case Round(r) => rounds.merge(r.toInt, rdd.storageLevel.isValid, _ || _)
            case _ =>
          }
        }
        if (props.exists(_.getProperty("spark.job.description") == marker))
          drained = true
      }
    }
    sc.addSparkListener(l)
    try {
      // no job description, so each execution is described by its call site
      sc.setJobGroup(group, null)
      try body finally sc.clearJobGroup()
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis))(assert(drained))
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    Work(n.get, jobs.get, rounds.asScala.toMap)
  }

  /** Eager localCheckpoint calls made while `body` runs. */
  private def checkpointsDuring(body: => Unit): Int = workDuring(body).checkpoints

  test("barrier contract: an eager localCheckpoint after every round but the last") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq((1L, "a")).toDF("id", "label")
    def barriers(op: => org.apache.spark.sql.DataFrame): Int =
      checkpointsDuring { op.collect(); () }
    // the vertex programs checkpoint each round's state RDD instead:
    // every round but the last is persisted by its local checkpoint,
    // the last is read lazily by the collect
    def stateRounds(op: => org.apache.spark.sql.DataFrame): Map[Int, Boolean] =
      workDuring { op.collect(); () }.rounds
    for (n <- Seq(1, 3)) try {
      val want = (1 to n).map(r => r -> (r < n)).toMap
      assert(stateRounds(Graph.pageRank(edges, iters = n)) === want, s"pageRank, $n rounds")
      assert(stateRounds(Graph.personalizedPageRank(edges, seeds, "id", iters = n)) === want,
        s"personalizedPageRank, $n rounds")
      assert(stateRounds(Graph.labelPropagation(edges, rounds = n)) === want,
        s"labelPropagation, $n rounds")
      assert(stateRounds(Graph.labelComplete(edges, "src", "dst", seeds, "id", "label",
        rounds = n)) === want, s"labelComplete, $n rounds")
      assert(stateRounds(Graph.hits(edges, "src", "dst", iters = n)) === want, s"hits, $n rounds")
      assert(barriers(Graph.ssspBounded(edges.withColumn("w", lit(1L)), seeds, "id",
        maxHops = n)) === n, s"ssspBounded, $n rounds")
    } finally Dedup.releaseCaches()
    // convergent callers checkpoint every round, the stable one included
    try {
      // path 1–…–5: min-label propagation changes labels in rounds 1–4
      // and finds nothing to change in round 5 — the rounds e2ebench
      // counts by these barriers
      val path = (1L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
      assert(barriers(Dedup.connectedComponents(path)) === 5, "connectedComponents")
      assert(checkpointsDuring {
        intercept[IllegalArgumentException](Dedup.connectedComponents(path, maxIter = 4)); ()
      } === 4, "connectedComponents stopped by its cap")
      // path 1–2–3: the input edges, round 1 makes the star {1–2, 1–3},
      // round 2 finds it stable
      assert(barriers(Dedup.componentsStar(Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))) === 3,
        "componentsStar")
      // the input edges, then peels: 4–5 goes in round 1, 3–4 in round
      // 2, round 3 removes nothing
      assert(barriers(Graph.kCore(edges, k = 2, rounds = 10)) === 4, "kCore, fixpoint at round 3")
      assert(barriers(Graph.kCore(edges, k = 2, rounds = 3)) === 4, "kCore, fixpoint at its cap")
      assert(barriers(Graph.kCore(edges, k = 2, rounds = 2)) === 3, "kCore, fixpoint past its cap")
      // the start, then one per hop: from 1, hops 1–3 reach {2, 3}, {4},
      // {5} and hop 4 reaches nothing; from {1, 5} too
      assert(barriers(Graph.bfsDistance(edges, seeds, "id", maxHops = 50)) === 5,
        "bfsDistance, 4 hops")
      assert(barriers(Graph.bfsDistance(edges, seeds, "id", maxHops = 2)) === 3,
        "bfsDistance, capped at 2 hops")
      val panel = Seq(1L, 5L).toDF("id")
      assert(barriers(Graph.closenessBounded(edges, panel, "id", maxHops = 50)) === 5,
        "closenessBounded, 4 hops")
      assert(barriers(Graph.closenessBounded(edges, panel, "id", maxHops = 2)) === 3,
        "closenessBounded, capped at 2 hops")
    } finally Dedup.releaseCaches()
  }

  test("connectedComponents: its stop test reads the round's own checkpoint, no second plan") {
    // path 1–…–5: four rounds that change labels, one that finds none
    val path = (1L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    try {
      val Work(checkpoints, jobs, _) = workDuring { Dedup.connectedComponents(path).collect(); () }
      assert(checkpoints === 5)
      // measured at 27 on the test session (local[4], 4 shuffle
      // partitions); a stop test that runs its own plan costs more
      assert(jobs <= 27, s"$jobs jobs for 5 rounds")
    } finally Dedup.releaseCaches()
  }

  /** A seeded pair list over ids 1..n: random pairs plus self-pairs,
    * exact duplicates and reversed copies. */
  private def randomPairs(seed: Int, n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    def id() = 1L + rnd.nextInt(n)
    val base = Seq.fill(n + n / 10)((id(), id()))
    base ++ base.take(5) ++ base.slice(5, 10).map(_.swap) ++ Seq.fill(3) { val v = id(); (v, v) }
  }

  /** Component minimum of every id in `pairs`. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // the smaller root always wins, so a root is its set's minimum
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Simple undirected edges left after `rounds` k-core peels. */
  private def peel(pairs: Seq[(Long, Long)], k: Int, rounds: Int): Set[(Long, Long)] = {
    def degrees(es: Set[(Long, Long)]) =
      es.toSeq.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (v, vs) => v -> vs.size }
    (1 to rounds).foldLeft(pairs.filter(p => p._1 != p._2).map(p => (p._1 min p._2, p._1 max p._2)).toSet) {
      (es, _) => val d = degrees(es); es.filter { case (a, b) => d(a) >= k && d(b) >= k }
    }
  }

  /** Hop distance from `seeds` over undirected `pairs`, up to maxHops. */
  private def bfs(pairs: Seq[(Long, Long)], seeds: Set[Long], maxHops: Int): Map[Long, Long] = {
    val adj = pairs.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2) }
    (1 to maxHops).foldLeft((seeds.map(_ -> 0L).toMap, seeds)) { case ((dist, frontier), h) =>
      val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- dist.keySet
      (dist ++ next.map(_ -> h.toLong), next)
    }._1
  }

  /** Ascending sort, then a left fold from 0.0: the sorted-fold sum. */
  private def sortedSum(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)

  /** Loop-free, deduplicated directed edges of `pairs`, and the
    * symmetrized list (both orientations). */
  private def directed(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.filter(p => p._1 != p._2).distinct
  private def symmetric(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    directed(pairs).flatMap(p => Seq(p, p.swap)).distinct

  /** pageRank(sortedFold = true) over `und`: id -> (pr, out-degree). */
  private def pageRankModel(und: Seq[(Long, Long)], iters: Int,
                            damping: Double): Map[Long, (Double, Long)] = {
    val nodes = und.flatMap(p => Seq(p._1, p._2)).distinct
    val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val tele = (1.0 - damping) / nodes.size.toDouble
    val pr = (1 to iters).foldLeft(nodes.map(_ -> 1.0 / nodes.size.toDouble).toMap) { (pr, _) =>
      val in = und.groupBy(_._2).map { case (v, es) => v -> sortedSum(es.map(e => pr(e._1) / deg(e._1))) }
      nodes.map(v => v -> (tele + damping * in.getOrElse(v, 0.0))).toMap
    }
    pr.map { case (v, x) => v -> ((x, deg.getOrElse(v, 0L))) }
  }

  /** personalizedPageRank(sortedFold = true) over `und` from the
    * seeds in the graph: id -> (pr, out-degree). */
  private def pprModel(und: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                       damping: Double): Map[Long, (Double, Long)] = {
    val nodes = und.flatMap(p => Seq(p._1, p._2)).distinct
    val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val present = seeds.intersect(nodes.toSet)
    val s = nodes.map(v => v -> (if (present(v)) 1.0 / present.size.toDouble else 0.0)).toMap
    val pr = (1 to iters).foldLeft(s) { (pr, _) =>
      val in = und.groupBy(_._2).map { case (v, es) => v -> sortedSum(es.map(e => pr(e._1) / deg(e._1))) }
      nodes.map(v => v -> ((1.0 - damping) * s(v) + damping * in.getOrElse(v, 0.0))).toMap
    }
    pr.map { case (v, x) => v -> ((x, deg.getOrElse(v, 0L))) }
  }

  /** labelComplete over `und`: seeds keep their label, every other
    * node takes its labelled in-neighbours' most frequent label, ties
    * to the smaller in UTF-8 byte order, or stays unlabelled. */
  private def labelCompleteModel(und: Seq[(Long, Long)], seeds: Map[Long, String],
                                 rounds: Int): Map[Long, Option[String]] = {
    val utf8 = Ordering.by[String, Iterable[Int]](_.getBytes("UTF-8").toSeq.map(_ & 0xff))
    val nodes = und.flatMap(p => Seq(p._1, p._2)).distinct
    (1 to rounds).foldLeft(nodes.map(v => v -> seeds.get(v)).toMap) { (labels, _) =>
      val votes = und.groupBy(_._2).flatMap { case (v, in) =>
        val ls = in.flatMap(e => labels(e._1))
        if (ls.isEmpty) None
        else Some(v -> ls.groupBy(identity).toSeq.map { case (l, n) => (-n.size, l) }
          .min(Ordering.Tuple2(Ordering.Int, utf8))._2)
      }
      labels.map { case (v, l) => v -> (if (seeds.contains(v)) l else votes.get(v)) }
    }
  }

  /** Synchronous label propagation over `und`: each node takes its
    * in-neighbours' most frequent label, the lowest on ties. */
  private def labelPropagationModel(und: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    (1 to rounds).foldLeft(und.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> v).toMap) { (labels, _) =>
      val votes = und.groupBy(_._2).map { case (v, in) =>
        v -> in.groupBy(e => labels(e._1)).toSeq.map { case (l, es) => (-es.size, l) }.min._2
      }
      labels.map { case (v, l) => v -> votes.getOrElse(v, l) }
    }

  /** hits(sortedFold = true) over the directed `dir`: id -> (auth, hub). */
  private def hitsModel(dir: Seq[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
    val nodes = dir.flatMap(p => Seq(p._1, p._2)).distinct
    val (auth, hub) = (1 to iters).foldLeft((Map.empty[Long, Double], nodes.map(_ -> 1.0).toMap)) {
      case ((_, hub), _) =>
        val auth = dir.groupBy(_._2).map { case (v, in) => v -> sortedSum(in.flatMap(e => hub.get(e._1))) }
        (auth, dir.groupBy(_._1).map { case (v, out) => v -> sortedSum(out.flatMap(e => auth.get(e._2))) })
    }
    nodes.map(v => v -> ((auth.getOrElse(v, 0.0), hub.getOrElse(v, 0.0)))).toMap
  }

  test("components, kCore and bfsDistance ≡ local models on seeded random graphs, 1/4/7 partitions") {
    // the pinned edge lists take their partition count from the session,
    // so each layout runs at that many shuffle partitions too
    for (seed <- Seq(3, 8); parts <- Seq(1, 4, 7))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) { try {
      val pairs = randomPairs(seed, 40)
      val ctx = s"seed $seed, $parts partitions"
      val df = pairs.toDF("id1", "id2").repartition(parts)
      val want = unionFind(pairs)
      def labels(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(Dedup.connectedComponents(df)) === want, s"connectedComponents, $ctx")
      assert(labels(Dedup.componentsStar(df)) === want, s"componentsStar, $ctx")
      val edges = df.toDF("src", "dst")
      // the peel depth: the first round after which peeling changes nothing
      val depth = Iterator.from(1).find(r => peel(pairs, 2, r) == peel(pairs, 2, r + 1)).get
      for (rounds <- Seq(1, depth, 50)) {
        val core = peel(pairs, 2, rounds).toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
        assert(labels(Graph.kCore(edges, k = 2, rounds = rounds)) === core,
          s"kCore at $rounds rounds (depth $depth), $ctx")
      }
      val seeds = Set(pairs.head._1, pairs(7)._2)
      for (maxHops <- Seq(2, 50))
        assert(labels(Graph.bfsDistance(edges, seeds.toSeq.toDF("id"), "id", maxHops = maxHops))
          === bfs(pairs, seeds, maxHops), s"bfsDistance at $maxHops hops, $ctx")
      // the sorted fold is bit-equal to the local replay (doubles are
      // compared by their bits), whether the vertex state broadcasts
      // (10MB, Spark's default threshold) or joins as Spark plans it
      // unhinted (-1, no broadcast)
      def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
      for (threshold <- Seq("10MB", "-1"))
        withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
          val at = s"$ctx, broadcast threshold $threshold"
          assert(labels(Dedup.connectedComponents(df)) === want, s"connectedComponents, $at")
          val pr = Graph.pageRank(edges, iters = 3, sortedFold = true).collect()
            .map(r => r.getLong(0) -> ((bits(r.getDouble(1)), r.getLong(2)))).toMap
          assert(pr === pageRankModel(symmetric(pairs), 3, 0.85)
            .map { case (v, (x, d)) => v -> ((bits(x), d)) }, s"pageRank, $at")
          assert(labels(Graph.labelPropagation(edges, rounds = 3))
            === labelPropagationModel(symmetric(pairs), 3), s"labelPropagation, $at")
          val hits = Graph.hits(edges, "src", "dst", iters = 2, sortedFold = true).collect()
            .map(r => r.getLong(0) -> ((bits(r.getDouble(1)), bits(r.getDouble(2))))).toMap
          assert(hits === hitsModel(directed(pairs), 2)
            .map { case (v, (a, h)) => v -> ((bits(a), bits(h))) }, s"hits, $at")
          val ranks = (df: org.apache.spark.sql.DataFrame) => df.collect()
            .map(r => r.getLong(0) -> ((bits(r.getDouble(1)), r.getLong(2)))).toMap
          val modelRanks = (m: Map[Long, (Double, Long)]) =>
            m.map { case (v, (x, d)) => v -> ((bits(x), d)) }
          // directed: nodes with in-edges only sit at out-degree 0
          assert(ranks(Graph.pageRank(edges, iters = 3, undirected = false, sortedFold = true))
            === modelRanks(pageRankModel(directed(pairs), 3, 0.85)), s"directed pageRank, $at")
          assert(ranks(Graph.personalizedPageRank(edges, seeds.toSeq.toDF("id"), "id",
              iters = 3, sortedFold = true))
            === modelRanks(pprModel(symmetric(pairs), seeds, 3, 0.85)), s"personalizedPageRank, $at")
          // labels whose UTF-8 and UTF-16 orders differ ("｡" < "😀" in UTF-8)
          val tags = Seq("😀", "｡", "b")
          val known = pairs.flatMap(p => Seq(p._1, p._2)).distinct.filter(_ % 4 == 0)
            .map(v => v -> tags((v % 3).toInt)).toMap
          assert(Graph.labelComplete(edges, "src", "dst", known.toSeq.toDF("id", "l"), "id", "l",
              rounds = 2).collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
            === labelCompleteModel(symmetric(pairs), known, 2), s"labelComplete, $at")
          // the partial-sum scale path: two actions on one returned
          // frame fold in the same order, so they agree bit for bit
          for ((name, fast) <- Seq(
              "pageRank" -> Graph.pageRank(edges, iters = 3),
              "personalizedPageRank" -> Graph.personalizedPageRank(edges, seeds.toSeq.toDF("id"), "id"),
              "hits" -> Graph.hits(edges, "src", "dst", iters = 3))) {
            def read() = fast.collect().map(r => r.getLong(0) -> ((bits(r.getDouble(1)), r.get(2)))).toMap
            assert(read() === read(), s"$name read twice, $at")
          }
        }
    } finally Dedup.releaseCaches() }
  }

  test("graph rounds: jobs per call on a fixed fixture") {
    // seed 3's 40-node graph on the test session (local[4], 4 shuffle
    // partitions). As SQL rounds over pinned frames with the vertex
    // state broadcast, these calls ran up to 11 (pageRank), 9
    // (labelPropagation) and 15 (hits) jobs; as RDD rounds each round
    // is one job, plus at most a prologue job and the collect
    val edges = randomPairs(3, 40).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (2L, "b")).toDF("id", "label")
    def jobs(op: => org.apache.spark.sql.DataFrame): Int =
      try workDuring { op.collect(); () }.jobs finally Dedup.releaseCaches()
    val pr = jobs(Graph.pageRank(edges, iters = 3, sortedFold = true))
    val ppr = jobs(Graph.personalizedPageRank(edges, seeds, "id", iters = 3))
    val lpa = jobs(Graph.labelPropagation(edges, rounds = 2))
    val lc = jobs(Graph.labelComplete(edges, "src", "dst", seeds, "id", "label", rounds = 2))
    val hits = jobs(Graph.hits(edges, "src", "dst", iters = 2, sortedFold = true))
    assert(pr <= 3 + 2 && ppr <= 3 + 2 && lpa <= 2 + 2 && lc <= 2 + 2 && hits <= 2 + 2,
      s"pageRank $pr, personalizedPageRank $ppr, labelPropagation $lpa, " +
        s"labelComplete $lc, hits $hits jobs")
  }
}

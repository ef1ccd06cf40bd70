package bench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph}

/** A skewed edge list through sorted-fold pageRank, label propagation,
  * sorted-fold HITS and connected components: many small rounds of
  * joins with eager localCheckpoint barriers and sorted folds, almost
  * no per-row kernel work. */
final class GraphRounds(spark: SparkSession, tracer: Tracer, seed: Long, work: Path)
    extends Workload {
  import GraphRounds._

  private var input: Path = _
  private var edges: Array[(Long, Long)] = _
  private var expectedPr: Map[Long, (Double, Long)] = _
  private var expectedLabels: Map[Long, Long] = _
  private var expectedHits: Map[Long, (Double, Double)] = _
  private var expectedComponents: Map[Long, Long] = _
  private var componentRounds = 0
  private val checkpoints = new Checkpoints
  spark.sparkContext.addSparkListener(checkpoints)

  private var pr: Array[Row] = _
  private var labels: Array[Row] = _
  private var hits: Array[Row] = _
  private var components: Array[Row] = _

  /** Components are trees of depth at most Depth grown by preferential
    * attachment (the skew), plus extra edges that join nodes whose
    * depths differ by at most one, so no edge shortens a node's
    * distance to its root. Each root holds its component's lowest id
    * and the largest component reaches depth exactly Depth, so min-label
    * propagation needs Depth + 1 rounds on every seed and per-pass work
    * does not depend on the seed. Tree edges point parent to child;
    * extra edges get a random direction. */
  def generate(dir: Path): Unit = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((1L to Nodes.toLong).toVector)
    val sizes = {
      val giant = (Nodes * GiantShare).toInt
      val rest = Array.fill(SmallComponents)(2)
      (0 until (Nodes - giant - 2 * SmallComponents)).foreach(_ => rest(rnd.nextInt(SmallComponents)) += 1)
      giant +: rest.toSeq
    }
    val out = ArrayBuffer.empty[(Long, Long)]
    var offset = 0
    sizes.foreach { size =>
      val members = ids.slice(offset, offset + size).sorted
      offset += size
      val extra = (ExtraEdges.toLong * size / Nodes).toInt
      out ++= component(rnd, members, extra)
    }
    edges = rnd.shuffle(out).toArray
    input = dir.resolve("edges.parquet")
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(edges.map { case (s, d) => Row(s, d) }: _*), schema)
      .repartition(4).write.mode("overwrite").parquet(input.toString)
  }

  private def component(rnd: Random, members: IndexedSeq[Long], extra: Int): Seq[(Long, Long)] = {
    val n = members.length
    val depth = new Array[Int](n)
    val out = ArrayBuffer.empty[(Int, Int)]
    // a chain from the root (position 0, the lowest id) sets the depth
    val chain = math.min(Depth, n - 1)
    (1 to chain).foreach { i => depth(i) = i; out += ((i - 1, i)) }
    // attachment pool: a node appears once, plus once per child
    val pool = ArrayBuffer.empty[Int]
    (0 to chain).filter(depth(_) < Depth).foreach(pool += _)
    (chain + 1 until n).foreach { i =>
      val parent = pool(rnd.nextInt(pool.length))
      depth(i) = depth(parent) + 1
      out += ((parent, i))
      pool += parent
      if (depth(i) < Depth) pool += i
    }
    val byDepth = (0 to Depth).map(d => (0 until n).filter(depth(_) == d).toArray)
    // endpoint list: sampling it picks a node in proportion to its degree
    val ends = ArrayBuffer.from(out.flatMap { case (a, b) => Seq(a, b) })
    var added = 0
    while (added < extra && n > 2) {
      val u = ends(rnd.nextInt(ends.length))
      val d = depth(u) - 1 + rnd.nextInt(3)
      if (d >= 0 && d <= Depth && byDepth(d).length > 0) {
        val v = byDepth(d)(rnd.nextInt(byDepth(d).length))
        if (v != u) {
          out += (if (rnd.nextBoolean()) (u, v) else (v, u))
          ends += u; ends += v
          added += 1
        }
      }
    }
    out.toSeq.map { case (a, b) => (members(a), members(b)) }
  }

  def prepare(): Unit = {
    val und = edges.filter { case (s, d) => s != d }.flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
    expectedPr = pageRankLocal(und, PageRankIters, Damping)
    expectedLabels = labelPropagationLocal(und, LabelRounds)
    expectedHits = hitsLocal(edges.filter { case (s, d) => s != d }.distinct, HitsIters)
    expectedComponents = unionFind(und)
  }

  def pass(p: Int): Unit = {
    val e = spark.read.parquet(input.toString)
    pr = tracer.span("graph.pagerank") {
      Graph.pageRank(e, "src", "dst", iters = PageRankIters, damping = Damping,
        sortedFold = true).collect()
    }
    labels = tracer.span("graph.label_prop") {
      Graph.labelPropagation(e, "src", "dst", rounds = LabelRounds).collect()
    }
    hits = tracer.span("graph.hits") {
      Graph.hits(e, "src", "dst", iters = HitsIters, sortedFold = true).collect()
    }
    components = tracer.span("dedup.components") {
      Dedup.connectedComponents(e, "src", "dst").collect()
    }
  }

  def check(p: Int): Seq[(String, Boolean, String)] = {
    BenchBus.drain(spark.sparkContext)
    componentRounds = checkpoints.within(tracer.last("dedup.components"))
    require(componentRounds > 0, "no localCheckpoint call ran inside dedup.components, " +
      "so its rounds cannot be counted; Checkpoints must learn the loop's new round marker")
    val gotPr = pr.map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val gotLabels = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotHits = hits.map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val gotComponents = components.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def diff[V](got: Map[Long, V], want: Map[Long, V]): String = {
      val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      s"${got.size} nodes, $bad differ from the local replay"
    }
    Seq(
      ("sorted-fold pageRank is bit-equal to a local power iteration",
        gotPr == expectedPr, diff(gotPr, expectedPr)),
      ("label propagation equals a local replay", gotLabels == expectedLabels,
        diff(gotLabels, expectedLabels)),
      ("sorted-fold HITS is bit-equal to a local replay", gotHits == expectedHits,
        diff(gotHits, expectedHits)),
      ("components equal a local union-find", gotComponents == expectedComponents,
        diff(gotComponents, expectedComponents)))
  }

  /** pageRank, label propagation and HITS run the rounds they are asked
    * for, which the bit-equal replays confirm; components run until
    * nothing changes, so their rounds are counted from their checkpoint calls. */
  def counts: Map[String, Double] = Map(
    "graph.rounds" -> (PageRankIters + LabelRounds + HitsIters + componentRounds).toDouble)

  def cleanup(p: Int): Unit = Dedup.releaseCaches()
}

object GraphRounds {
  val Nodes = 2000
  val ExtraEdges = 6000
  val GiantShare = 0.8
  val SmallComponents = 20
  val Depth = 2
  val PageRankIters = 3
  val Damping = 0.85
  val LabelRounds = 2
  val HitsIters = 2

  /** Ascending sort, then a left fold from 0.0: the sorted-fold sum. */
  private def sortedSum(xs: ArrayBuffer[Double]): Double = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    var acc = 0.0
    a.foreach(x => acc = acc + x)
    acc
  }

  private def nodesOf(e: Array[(Long, Long)]): Array[Long] =
    e.flatMap { case (s, d) => Seq(s, d) }.distinct

  /** Graph.pageRank(sortedFold = true) over a symmetrized, deduplicated,
    * loop-free edge list: id -> (pr, out-degree). */
  def pageRankLocal(und: Array[(Long, Long)], iters: Int, damping: Double): Map[Long, (Double, Long)] = {
    val nodes = nodesOf(und)
    val n = nodes.length
    val deg = und.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val tele = (1.0 - damping) / n.toDouble
    var pr = nodes.map(_ -> 1.0 / n.toDouble).toMap
    (1 to iters).foreach { _ =>
      val contribs = mutable.HashMap.empty[Long, ArrayBuffer[Double]]
      und.foreach { case (s, d) =>
        val k = deg.getOrElse(s, 0L)
        if (k > 0L) contribs.getOrElseUpdate(d, ArrayBuffer.empty) += pr(s) / k.toDouble
      }
      pr = nodes.map { v =>
        v -> (tele + damping * contribs.get(v).map(sortedSum).getOrElse(0.0))
      }.toMap
    }
    pr.map { case (v, x) => v -> ((x, deg.getOrElse(v, 0L))) }
  }

  /** Synchronous label propagation: each node takes its in-neighbours'
    * most frequent label, the lowest label on ties. */
  def labelPropagationLocal(und: Array[(Long, Long)], rounds: Int): Map[Long, Long] = {
    var labels = nodesOf(und).map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      val votes = und.groupBy(_._2).view.mapValues { in =>
        in.groupBy(e => labels(e._1)).view.mapValues(_.length).toSeq
          .minBy { case (l, c) => (-c, l) }._1
      }.toMap
      labels = labels.map { case (v, l) => v -> votes.getOrElse(v, l) }
    }
    labels
  }

  /** Graph.hits(sortedFold = true) on the directed, deduplicated,
    * loop-free edge list: id -> (auth, hub), no normalization. */
  def hitsLocal(dir: Array[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
    val nodes = nodesOf(dir)
    var hub: Map[Long, Double] = nodes.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    (1 to iters).foreach { _ =>
      auth = dir.groupBy(_._2).view.mapValues { in =>
        sortedSum(ArrayBuffer.from(in.flatMap(e => hub.get(e._1))))
      }.toMap
      hub = dir.groupBy(_._1).view.mapValues { out =>
        sortedSum(ArrayBuffer.from(out.flatMap(e => auth.get(e._2))))
      }.toMap
    }
    nodes.map(v => v -> ((auth.getOrElse(v, 0.0), hub.getOrElse(v, 0.0)))).toMap
  }

  /** Union-find components, labelled by their lowest id. */
  def unionFind(und: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    und.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    nodesOf(und).map(v => v -> find(v)).toMap
  }
}

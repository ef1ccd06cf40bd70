package bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Runs one workload in one JVM with local[4] and one closed-loop
  * caller: set-up (session, seeded inputs, warm-up passes, local
  * expectations), then passes until the measuring window ends, each
  * followed by its correctness checks. Writes a result file
  * (and, traced, one span per line) for run.py to report.
  *
  * Usage: bench.Main --workload NAME --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE [--trace-out FILE] */
object Main {
  val Cores = 4

  final case class PassRecord(p: Int, span: Span, counts: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Fs.deleteTree(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer(spark, traced)
    val wl = Workload(workload, spark, tracer, seed, work)

    var failedOps = 0
    val failedChecks = ArrayBuffer.empty[String]
    var checksRun = 0
    val measured = ArrayBuffer.empty[PassRecord]
    val warmup = ArrayBuffer.empty[Double]

    var generateS = 0.0
    var prepared = false
    var prepareS = 0.0
    var warmupS = 0.0

    def runPass(p: Int, phase: String): PassRecord = {
      tracer.pass = p
      tracer.phase = phase
      val at = tracer.spans.size
      tracer.span("pass")(wl.pass(p))
      if (traced) { tracer.phase = "aside"; wl.aside(p) }
      if (!prepared) {
        // after the first pass, so the driver-local expectations are
        // not computed on a cold JVM
        val t = System.nanoTime()
        wl.prepare()
        prepareS = (System.nanoTime() - t) / 1e9
        prepared = true
      }
      val checks = wl.check(p)
      checksRun += checks.size
      checks.filterNot(_._2).foreach { case (name, _, detail) =>
        failedChecks += s"pass $p: $name ($detail)"
        System.err.println(s"CHECK FAILED pass $p: $name: $detail")
      }
      val rec = PassRecord(p, tracer.spans(at), wl.counts)
      System.err.println(f"[e2ebench] $phase pass $p: ${rec.span.wallS}%.3f s")
      wl.cleanup(p)
      Dedup.releaseCaches()
      rec
    }

    try {
      val t0 = System.nanoTime()
      wl.generate(work.resolve("input"))
      generateS = (System.nanoTime() - t0) / 1e9
      val t2 = System.nanoTime()
      (1 to Workload.WarmupPasses(workload)).foreach { i =>
        warmup += runPass(-i, "warmup").span.wallS
      }
      warmupS = (System.nanoTime() - t2) / 1e9 - prepareS

      val t3 = System.nanoTime()
      var p = 0
      while (p == 0 || (System.nanoTime() - t3) / 1e9 < seconds) {
        measured += runPass(p, "measure")
        p += 1
      }
    } catch {
      case t: Throwable =>
        failedOps += 1
        System.err.println(s"OPERATION FAILED in pass ${tracer.pass}:")
        t.printStackTrace()
    }

    // a span around a call that runs Spark work must see that work
    if (traced) tracer.spans.filter(s => s.name != "pass" && !s.failed &&
        tracer.total(s).jobs == 0).foreach { s =>
      failedChecks += s"span ${s.name} in pass ${s.pass} recorded 0 Spark jobs"
    }

    val setupS = sessionS + generateS + prepareS + warmupS
    val ops = measured.map(r => tracer.children(r.span).size).sum + failedOps
    val failed = failedOps + failedChecks.size
    val views = measured.map(r => new PassView(tracer, r))
    val metrics: Seq[(String, Double)] =
      if (measured.isEmpty) Nil
      else if (traced) Layers.metrics(tracer, views.toSeq)
      else Seq(
        "setup_s" -> setupS,
        "pass_s" -> median(views.map(_.wall("pass")).toSeq),
        "round_s" -> median(views.map(_.roundS).toSeq))

    val serves = views.flatMap(_.walls("similarity.serve")).toSeq
    val writes = views.flatMap(v => WriteOps.flatMap(v.walls)).toSeq
    val (tailP, tailS, beyond) = tail(serves)
    val extra = Seq(
      "setup.session_s" -> sessionS,
      "setup.generate_s" -> generateS,
      "setup.prepare_s" -> prepareS,
      "setup.warmup_s" -> warmupS,
      "setup.warmup_passes" -> warmup.toSeq,
      "passes" -> views.map(_.wall("pass")).toSeq,
      "lloyd_rows_per_s" -> median(views.flatMap(_.lloydRowsPerS).toSeq),
      "write_op_s" -> median(writes),
      "write_ops" -> writes.size,
      "serve_s" -> median(serves),
      "serve_tail_s" -> tailS,
      "serve_tail_percentile" -> tailP,
      "serve_tail_beyond" -> beyond,
      "serves" -> serves.size,
      "checks_run" -> checksRun,
      "run_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "error_rate" -> (if (ops > 0) failed.toDouble / ops else 1.0),
      "failed_checks" -> failedChecks.toSeq)

    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "correct" -> (failed == 0 && measured.nonEmpty), "attempted" -> math.max(ops, 1),
      "failed" -> failed, "metrics" -> Json.Obj(metrics), "extra" -> Json.Obj(extra)))
    Files.write(Paths.get(opt("out")), (result + "\n").getBytes(StandardCharsets.UTF_8))
    opts.get("trace-out").filter(_ => traced).foreach { f =>
      Files.write(Paths.get(f), tracer.toJsonLines(Cores).asJava, StandardCharsets.UTF_8)
    }
    spark.stop()
    Fs.deleteTree(work)
    sys.exit(if (failed == 0 && measured.nonEmpty) 0 else 1)
  }

  /** Persisting mutations: IVF-PQ and MinHash index writes, and the
    * finalOutput write of the gene pipeline. */
  val WriteOps: Seq[String] = Layers.IvfWrites ++ Layers.MinhashWrites :+ "gene_io.write"
  /** Iterative operators, whose seconds per round make round_s. */
  val IterativeSpans = Seq("kmeans.fit", "graph.pagerank", "graph.label_prop", "graph.hits",
    "dedup.components")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile of a fixed ladder with at least ten samples
    * beyond it: (percentile, value, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    def at(p: Double) = {
      val i = math.max(0, math.ceil(p / 100 * n).toInt - 1)
      (p, if (n == 0) 0.0 else s(i), n - (i + 1))
    }
    ladder.map(at).find(_._3 >= 10).getOrElse(at(50.0))
  }
}

/** The spans of one measured pass, including the calls a traced run
  * makes aside of it. */
final class PassView(tracer: Tracer, rec: Main.PassRecord) {
  val spans: Seq[Span] = tracer.spans.iterator.filter(_.pass == rec.p).toSeq
  val counts: Map[String, Double] = rec.counts
  def walls(name: String): Seq[Double] = spans.filter(_.name == name).map(_.wallS)
  def wall(name: String): Double = walls(name).sum
  def jobs(name: String): Double =
    spans.filter(_.name == name).map(s => tracer.total(s).jobs.toDouble).sum
  def passSpan: Span = spans.find(_.name == "pass").get

  def rounds: Double = counts.getOrElse("graph.rounds", 0.0) + counts.getOrElse("kmeans.iterations", 0.0)
  def roundS: Double = if (rounds > 0) Main.IterativeSpans.map(wall).sum / rounds else 0.0
  def lloydRowsPerS: Option[Double] =
    if (wall("kmeans.fit") > 0) Some(counts("kmeans.rows") * counts("kmeans.iterations") / wall("kmeans.fit"))
    else None
}

package bench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: for each measured pass a value
  * from its spans, then the median over passes. A layer the workload
  * does not call reads 0. */
object Layers {
  private val CmSpans = Seq("cluster_metrics.jaccard", "cluster_metrics.rand_index",
    "cluster_metrics.purity")
  private val GraphSpans = Seq("graph.pagerank", "graph.label_prop", "graph.hits",
    "dedup.components")
  val IvfWrites = Seq("similarity.build", "similarity.append", "similarity.delete",
    "similarity.compact")
  val MinhashWrites = Seq("dedup.minhash_write", "dedup.minhash_append",
    "dedup.minhash_delete", "dedup.minhash_compact")

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  private def perPass(v: PassView, tracer: Tracer): Seq[(String, Double)] = {
    val c = v.counts
    val iters = c.getOrElse("kmeans.iterations", 0.0)
    val rounds = c.getOrElse("graph.rounds", 0.0)
    val ivfOps = IvfWrites.map(v.walls(_).size).sum
    val mhOps = MinhashWrites.map(v.walls(_).size).sum
    val serves = v.walls("similarity.serve")
    val fits = v.spans.filter(_.name == "kmeans.fit").map(s => s -> tracer.total(s))
    val pass = v.passSpan
    val w = tracer.total(pass)
    Seq(
      "gene_io.read_s" -> v.wall("gene_io.read"),
      "gene_io.write_s" -> v.wall("gene_io.write"),
      "gene_io.write_bytes" -> c.getOrElse("gene_io.write_bytes", 0.0),
      "kmeans.init_s" -> v.wall("kmeans.init"),
      "kmeans.fit_s" -> v.wall("kmeans.fit"),
      "kmeans.assign_s" -> v.wall("kmeans.assign"),
      "kmeans.iterations" -> iters,
      "kmeans.jobs_per_iter" -> ratio(v.jobs("kmeans.fit") - v.jobs("kmeans.init"), iters),
      "kmeans.lloyd_rows_per_s" -> v.lloydRowsPerS.getOrElse(0.0),
      "kmeans.fit_task_busy_s" -> fits.map(_._2.taskBusyMs).sum / 1000.0,
      "kmeans.fit_driver_only_s" -> fits.map { case (s, w) => tracer.driverOnlyS(s, w) }.sum,
      "cluster_metrics.s" -> CmSpans.map(v.wall).sum,
      "cluster_metrics.jobs" -> CmSpans.map(v.jobs).sum,
      "pca.s" -> v.wall("pca.project2d"),
      "graph.pagerank_s" -> v.wall("graph.pagerank"),
      "graph.label_prop_s" -> v.wall("graph.label_prop"),
      "graph.hits_s" -> v.wall("graph.hits"),
      "dedup.components_s" -> v.wall("dedup.components"),
      "graph.rounds" -> rounds,
      "graph.jobs_per_round" -> ratio(GraphSpans.map(v.jobs).sum, rounds),
      "similarity.train_s" -> v.wall("similarity.train"),
      "similarity.build_s" -> v.wall("similarity.build"),
      "similarity.append_s" -> v.wall("similarity.append"),
      "similarity.delete_s" -> v.wall("similarity.delete"),
      "similarity.compact_s" -> v.wall("similarity.compact"),
      "dedup.minhash_write_op_s" -> Main.median(MinhashWrites.flatMap(v.walls)),
      "similarity.jobs_per_write_op" -> ratio(IvfWrites.map(v.jobs).sum, ivfOps),
      "dedup.jobs_per_write_op" -> ratio(MinhashWrites.map(v.jobs).sum, mhOps),
      "similarity.files_per_write_op" -> ratio(c.getOrElse("similarity.files_written", 0.0), ivfOps),
      "similarity.index_bytes_per_row" -> c.getOrElse("similarity.index_bytes_per_row", 0.0),
      "similarity.serve_s" -> Main.median(serves),
      "similarity.jobs_per_serve" -> ratio(v.jobs("similarity.serve"), serves.size),
      "dedup.minhash_read_s" -> v.wall("dedup.minhash_read"),
      "spark.jobs" -> w.jobs.toDouble,
      "spark.stages" -> w.stages.toDouble,
      "spark.tasks" -> w.tasks.toDouble,
      "spark.task_busy_s" -> w.taskBusyMs / 1000.0,
      "spark.gc_s" -> w.gcMs / 1000.0,
      "spark.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> w.spillBytes.toDouble,
      "spark.driver_only_s" -> tracer.driverOnlyS(pass, w),
      "spark.core_util" -> ratio(w.taskBusyMs / 1000.0, pass.wallS * Main.Cores),
      "trace.pass_s" -> pass.wallS)
  }

  /** Every per-layer metric, medians over the measured passes, plus the
    * run's peak heap. */
  def metrics(tracer: Tracer, views: Seq[PassView]): Seq[(String, Double)] = {
    val rows = views.map(perPass(_, tracer))
    val names = rows.head.map(_._1)
    names.map(n => n -> Main.median(rows.map(_.toMap.apply(n)))) :+
      ("jvm.peak_heap_mb" -> peakHeapMb)
  }

  private def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
}

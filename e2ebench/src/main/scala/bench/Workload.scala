package bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One named benchmark workload. Main drives it: `generate` writes the
  * seeded inputs, then warm-up and measured passes follow; after the
  * first pass `prepare` computes the driver-local expectations the
  * checks compare against. `pass` is the timed region; every layer call
  * in it sits in a span. */
trait Workload {
  def generate(dir: Path): Unit
  def prepare(): Unit
  def pass(p: Int): Unit
  /** Calls a traced run makes outside the timed pass (e.g. a standalone
    * init whose cost is otherwise hidden inside a fit). */
  def aside(p: Int): Unit = ()
  /** Checks on the last pass's outputs, as (name, passed, detail). */
  def check(p: Int): Seq[(String, Boolean, String)]
  /** Per-pass counts the spans cannot give (iterations, bytes, ...). */
  def counts: Map[String, Double]
  def cleanup(p: Int): Unit
}

object Workload {
  /** Warm-up passes per workload. A count, not a time, so that every run
    * measures the same pass indices; sized so that a run fits the
    * benchmark's time budget. */
  val WarmupPasses: Map[String, Int] = Map("gene_kmeans" -> 2, "graph_index" -> 1)

  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long,
            work: Path): Workload = name match {
    case "gene_kmeans" => new GeneKMeans(spark, tracer, seed, work)
    case "graph_index" => new Sequence(Seq(
      new GraphRounds(spark, tracer, seed, work.resolve("graph")),
      new IndexLifecycle(spark, tracer, seed, work.resolve("index"))))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (gene_kmeans, graph_index)")
  }
}

/** Workloads run one after another within each pass. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  def generate(dir: Path): Unit = parts.zipWithIndex.foreach { case (w, i) =>
    w.generate(dir.resolve(s"part-$i"))
  }
  def prepare(): Unit = parts.foreach(_.prepare())
  def pass(p: Int): Unit = parts.foreach(_.pass(p))
  override def aside(p: Int): Unit = parts.foreach(_.aside(p))
  def check(p: Int): Seq[(String, Boolean, String)] = parts.flatMap(_.check(p))
  def counts: Map[String, Double] = parts.map(_.counts).reduce(_ ++ _)
  def cleanup(p: Int): Unit = parts.foreach(_.cleanup(p))
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Regular files under `p`, as path -> (size, mtime). */
  def files(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }.toMap
      finally s.close()
    }

  /** Files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Int =
    after.count { case (k, v) => !before.get(k).contains(v) }

  /** Data files only: Spark's part files, not its checksums and markers. */
  def partFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")
    }.toSeq
    finally s.close()
  }
}

package bench

import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work attributed to one job group. Task intervals are epoch
  * milliseconds, so a span can tell when no task was running. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; taskIntervals ++= o.taskIntervals
  }
}

/** Counts jobs, stages and tasks per job group. Every span runs its
  * Spark work under a job group of its own; the bus is drained before
  * the span reads its counts. */
final class GroupListener extends SparkListener {
  private val work = scala.collection.mutable.HashMap.empty[String, SparkWork]
  private val stageGroup = scala.collection.mutable.HashMap.empty[(Int, Int), String]

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def of(g: String): SparkWork = work.getOrElseUpdate(g, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => of(g).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = g
      of(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get((e.stageId, e.stageAttemptId)).foreach { g =>
      val w = of(g)
      w.tasks += 1
      val info = e.taskInfo
      w.taskBusyMs += info.duration
      w.taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.gcMs += m.jvmGCTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    ()
  }

  /** Removes and returns what the group recorded. */
  def take(group: String): SparkWork = synchronized {
    work.remove(group).getOrElse(new SparkWork)
  }
}

/** Start times (epoch ms) of eager localCheckpoint calls, known by the
  * call site Spark gives each Dataset action's SQL execution. One call
  * can run several jobs (a cache it reads is filled by jobs under the
  * same call site) but is one execution. An iteration loop that
  * checkpoints once a round, as Dedup.connectedComponents does, ran as
  * many rounds as such calls started inside its span. */
final class Checkpoints extends SparkListener {
  private val starts = ArrayBuffer.empty[Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart
        if x.rootExecutionId.forall(_ == x.executionId) &&
          x.description.startsWith("localCheckpoint at ") =>
      synchronized { starts += x.time }
    case _ =>
  }

  /** Calls started inside the span; drain the listener bus first. */
  def within(s: Span): Int = synchronized {
    starts.count(t => t >= s.startMs && t <= s.endMs)
  }
}

/** One timed call into a layer. `pass` is the pass index (negative for
  * warm-up passes); `phase` is "warmup", "measure" or "aside" (calls a
  * traced run makes outside the timed pass). */
final class Span(val id: Int, val parent: Int, val name: String,
                 val pass: Int, val phase: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  val own = new SparkWork
  var failed = false
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records a span around each layer call. Untraced, a span is only a
  * timer. Traced, it also tags its Spark work with its own job group
  * and reads the group's counts once the listener bus is drained. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val listener = if (traced) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var pass = 0
  var phase = "warmup"

  /** No job description: SQL executions keep their call site as their
    * description, as in an untraced run, which Checkpoints reads. */
  private def group(s: Span): Unit = sc.setJobGroup(s"span-${s.id}", null, interruptOnCancel = false)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.fold(-1)(_.id), name, pass, phase)
    spans += s
    stack = s :: stack
    if (traced) group(s)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    catch { case t: Throwable => s.failed = true; throw t }
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      listener.foreach { l =>
        BenchBus.drain(sc)
        s.own.add(l.take(s"span-${s.id}"))
        parent match {
          case Some(p) => group(p)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** The most recent span of that name. */
  def last(name: String): Span = spans.reverseIterator.find(_.name == name).get

  def children(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq

  /** Own work plus the work of every descendant. */
  def total(s: Span): SparkWork = {
    val w = new SparkWork
    w.add(s.own)
    children(s).foreach(c => w.add(total(c)))
    w
  }

  /** Wall time minus the wall time of direct children. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Span time during which no task of its own work ran. */
  def driverOnlyS(s: Span, w: SparkWork): Double = {
    val iv = w.taskIntervals.iterator
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  def toJsonLines(cores: Int): Seq[String] = spans.toSeq.map { s =>
    val w = total(s)
    Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
      "phase" -> s.phase, "start_ms" -> s.startMs, "wall_s" -> s.wallS,
      "self_s" -> selfS(s), "failed" -> s.failed, "jobs" -> w.jobs,
      "stages" -> w.stages, "tasks" -> w.tasks, "task_busy_s" -> w.taskBusyMs / 1000.0,
      "gc_s" -> w.gcMs / 1000.0, "shuffle_read_bytes" -> w.shuffleReadBytes,
      "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes,
      "driver_only_s" -> driverOnlyS(s, w),
      "core_util" -> (if (s.wallS > 0) w.taskBusyMs / 1000.0 / (s.wallS * cores) else 0.0)))
  }
}

/** Minimal JSON rendering for flat values; doubles keep every digit. */
object Json {
  /** A nested object; keys keep their order. */
  final case class Obj(kv: Seq[(String, Any)])

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(kv) => obj(kv)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

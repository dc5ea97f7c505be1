package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are nanoseconds on
  * the [[Tracer]]'s clock; `parent` is the enclosing span's id (-1 for
  * an op's root span), `op` the op index (-1 for the set-up). */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are opened only while `active`, so
  * untraced ops pay one branch per boundary. Spark-side intervals
  * (planning phases, jobs) arrive in wall-clock milliseconds and are
  * mapped onto the same nanosecond clock with [[fromWallMs]]. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var active = false
  var op = -1
  private val wallOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def fromWallMs(ms: Long): Long = ms * 1000000L - wallOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      spans += Span(id, op, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(end = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record an interval measured elsewhere under `parent`. */
  def add(name: String, parent: Int, start: Long, end: Long): Unit =
    spans += Span(spans.size, op, parent, name, start, end)
}

/** What the Spark query path did during one op, read from listeners
  * (never by re-planning): jobs, task time, shuffle bytes, and the
  * QueryExecutions that ran, whose planning tracker holds phase and
  * per-rule timings and whose executed plan holds scan metrics. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Job(startMs: Long, endMs: Long)
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[Job]
  private var taskMs = 0L
  private var shuffleBytes = 0L
  private val qes = ArrayBuffer.empty[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Job(jobStarts.remove(e.jobId).getOrElse(e.time), e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  final case class Snapshot(jobs: Seq[Job], taskMs: Long, shuffleBytes: Long,
      qes: Seq[QueryExecution])

  /** Drain the listener bus, return everything seen since the last
    * call, and reset. */
  def take(spark: SparkSession): Snapshot = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val s = Snapshot(jobs.toSeq, taskMs, shuffleBytes, qes.toSeq)
      jobs.clear(); taskMs = 0L; shuffleBytes = 0L; qes.clear()
      s
    }
  }
}

object PlanScans extends AdaptiveSparkPlanHelper {
  /** (root paths, files read, bytes read) of every file scan the
    * executed plan ran, subqueries and adaptive stages included. */
  def of(qe: QueryExecution): Seq[(Seq[String], Long, Long)] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .map { s =>
        (s.relation.location.rootPaths.map(_.toUri.getPath).toSeq,
          s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      }
}

/** Minimal JSON rendering for the result files run.py reads. */
object Json {
  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.time.LocalDateTime => str(t.format(TsFormat))
    case t: java.sql.Timestamp => str(t.toLocalDateTime.format(TsFormat))
    case t: java.time.Instant =>
      str(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(TsFormat))
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

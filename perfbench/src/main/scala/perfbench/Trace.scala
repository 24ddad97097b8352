package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed call: `req` is the request it replays, `parent` the span it
  * ran inside (-1 for a request's root span).
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Calls are
  * replayed one at a time, so a plain stack gives each span its parent.
  */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def apply[T](name: String, req: Int)(f: => T): T = {
    val id = spans.size
    spans += null
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans(id) = Span(id, parent, req, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Mean duration of the spans called `name`, in ms. */
  def mean(name: String): Double = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size
  }

  /** Span duration minus the time its children cover, in ms. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "req": ${s.req}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ms": ${selfMs(s)}}""")
    } finally w.close()
  }
}

/** Spark-side counts: jobs, tasks, executor time, task busy intervals and
  * shuffle bytes from a SparkListener; files, bytes and rows scanned from
  * a QueryExecutionListener. Read as deltas around one replayed call.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  final case class Snap(jobs: Long, tasks: Long, execMs: Long, shuffleBytes: Long,
                        files: Long, bytes: Long, rows: Long, intervals: Int)
  private var jobs, tasks, execMs, shuffleBytes, files, bytes, rows = 0L
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      execMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = collectScans(qe.executedPlan)
    def sum(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    synchronized {
      files += sum("numFiles"); bytes += sum("filesSize"); rows += sum("numOutputRows")
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def collectScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  def snap: Snap = synchronized {
    Snap(jobs, tasks, execMs, shuffleBytes, files, bytes, rows, intervals.size)
  }

  /** Wall ms during which at least one task ran, over tasks since `from`. */
  def busyMs(from: Snap): Double = synchronized {
    val xs = intervals.drop(from.intervals).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    xs.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS).toDouble
  }
}

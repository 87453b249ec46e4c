package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counts attributed to one named span. */
final class SpanCounts {
  var seconds = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var runMs = 0L
  var schedMs = 0L
  /** File-source scan operators per table, over the span's SQL runs. */
  val scans = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(o: SpanCounts): Unit = {
    seconds += o.seconds; jobs += o.jobs; stages += o.stages
    tasks += o.tasks; failedTasks += o.failedTasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; runMs += o.runMs; schedMs += o.schedMs
    o.scans.foreach { case (t, n) => scans(t) += n }
  }
}

/** Attributes listener events to the span open on the driver.
  *
  * `span` drains the listener bus on entry and exit, so every event
  * the bus delivers while a span is open belongs to that span; spans
  * must not nest. Draining costs a little wall-clock, which is part of
  * the tracing overhead the traced run reports.
  */
final class Tracer(sc: SparkContext, val cores: Int) extends SparkListener
    with QueryExecutionListener {
  @volatile private var open: SpanCounts = null
  @volatile private var jobsSeen = 0L
  val spans = mutable.LinkedHashMap.empty[String, SpanCounts]

  /** Forget the spans recorded so far. */
  def reset(): Unit = spans.clear()

  def span[T](name: String)(body: => T): T = {
    org.apache.spark.ListenerBusDrain(sc)
    val acc = new SpanCounts
    open = acc
    val t0 = System.nanoTime()
    try body
    finally {
      acc.seconds = (System.nanoTime() - t0) / 1e9
      org.apache.spark.ListenerBusDrain(sc)
      open = null
      spans.getOrElseUpdate(name, new SpanCounts).add(acc)
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * started while it ran, whatever spans it opens.
    */
  def jobsDuring[T](body: => T): (T, Long) = {
    org.apache.spark.ListenerBusDrain(sc)
    val j0 = jobsSeen
    val r = body
    org.apache.spark.ListenerBusDrain(sc)
    (r, jobsSeen - j0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsSeen += 1
    Option(open).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(open).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(open).foreach { acc =>
      acc.tasks += 1
      if (e.reason != Success) acc.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.diskBytesSpilled
        acc.gcMs += m.jvmGCTime
        acc.runMs += m.executorRunTime
        // Scheduler delay as the Spark UI derives it.
        val info = e.taskInfo
        if (info != null && info.finished)
          acc.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime
             else 0L))
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    Option(open).foreach { acc =>
      ScanCounter.tables(qe).foreach(t => acc.scans(t) += 1)
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Source tables scanned by one executed plan, once per scan operator,
  * looking through adaptive query stages and subqueries. A reused
  * exchange is a leaf, so a scan it stands for counts once.
  */
object ScanCounter extends AdaptiveSparkPlanHelper {
  def tables(qe: QueryExecution): Seq[String] =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
    }
}

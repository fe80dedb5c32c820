package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds as doubles: the
  * harness's own spans come from a monotonic clock anchored to the epoch
  * at run start, so they line up with the epoch times Spark's listener
  * events carry.
  */
final class Span(val id: String, val parent: String, val kind: String,
    val name: String, val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def ms: Double = end - start
}

/** In-memory span store for one run. All spans share the run id; they are
  * written out once, when the run ends.
  */
final class Tracer(val runId: String) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var next = 0L

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def add(kind: String, name: String, parent: String, start: Double,
      end: Double = Double.NaN): Span = synchronized {
    next += 1
    val s = new Span(s"$runId-$next", parent, kind, name, start)
    s.end = end
    spans += s
    s
  }

  def open(kind: String, name: String, parent: Span): Span =
    add(kind, name, Option(parent).map(_.id).orNull, nowMs)

  def close(s: Span): Double = { s.end = nowMs; s.ms }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Records Spark jobs, stages and Catalyst phases as spans while attached.
  * Jobs are parented through the job group the harness sets before each
  * call into the program; stages through their job; a query's phase spans
  * under a query span that the report parents by time to the harness
  * span it ran in. Attached only for traced passes.
  */
final class SparkTrace(tr: Tracer) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val jobs = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull
    val s = tr.add("job", s"job-${e.jobId}", group, e.time.toDouble)
    jobs(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = s.id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { s =>
      s.end = e.time.toDouble
      s.attrs("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val start = i.submissionTime.getOrElse(0L).toDouble
      val s = tr.add("stage", s"stage-${i.stageId}",
        stageJob.getOrElse(i.stageId, null), start,
        i.completionTime.map(_.toDouble).getOrElse(start))
      val m = i.taskMetrics
      s.attrs ++= Seq(
        "tasks" -> i.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "shuffle_read_bytes" ->
          (m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_rows" -> m.inputMetrics.recordsRead)
    }

  override def onSuccess(func: String, qe: QueryExecution,
      durationNs: Long): Unit = query(func, qe)

  override def onFailure(func: String, qe: QueryExecution,
      error: Exception): Unit = query(func, qe)

  private def query(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val q = tr.add("query", func, null,
        phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(_.endTimeMs).max.toDouble)
      q.attrs("executed_nodes") = collect(qe.executedPlan) { case p => p }.size
      q.attrs("qe") = System.identityHashCode(qe)
      phases.foreach { case (name, p) =>
        tr.add("phase", name, q.id, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drains the listener bus first, so no event of the traced pass is lost. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

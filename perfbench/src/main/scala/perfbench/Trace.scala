package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run: spans recorded by the harness around
  * calls into the engine, plus the raw Spark job, stage, task, planning
  * and streaming-progress records the listeners below collect. Nothing
  * is aggregated here; the benchmark's Python side turns the dump into
  * per-layer metrics.
  *
  * All times are epoch milliseconds (doubles), the clock Spark's own
  * listener events use, so harness spans and Spark spans share one axis.
  */
final class Trace {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  val sparkJobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[String]()

  /** Record a span around `body`. `job` is the id shared by every span of
    * one job instance; `layer` names the module the call enters.
    */
  def span[T](name: String, layer: String, parent: Long, job: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try body(id)
    finally spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
      "layer" -> layer, "job" -> job, "start" -> t0, "end" -> nowMs))
  }

  def newId(): Long = ids.incrementAndGet()

  /** Scheduler listener: job/stage/task records and streaming progress.
    * Streaming progress arrives through `onOtherEvent`, which also sees
    * queries started on cloned sessions (the RocksDB variants).
    */
  val sparkListener: SparkListener = new SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobStart.put(e.jobId, Map(
        "job" -> e.jobId, "start" -> e.time.toDouble,
        "span" -> p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L),
        "stages" -> e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.remove(e.jobId)).getOrElse(Map("job" -> e.jobId))
      sparkJobs.add(s ++ Map("end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.map(_.toDouble), "end" -> i.completionTime.map(_.toDouble),
        "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val base = Map[String, Any]("stage" -> e.stageId, "start" -> i.launchTime.toDouble,
        "end" -> i.finishTime.toDouble, "ok" -> i.successful)
      tasks.add(if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
        "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_records" -> m.inputMetrics.recordsRead))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress.json)
      case _ =>
    }
  }

  /** Planning phases of every batch query, from its QueryPlanningTracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) =>
        k -> Map("start" -> v.startTimeMs.toDouble, "end" -> v.endTimeMs.toDouble)
      }
      phases.add(ph.toMap)
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  def dump: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq, "spark_jobs" -> sparkJobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "phases" -> phases.asScala.toSeq, "progress" -> progress.asScala.toSeq)
}

object Trace {
  /** Local property naming the harness span a Spark job runs under. */
  val SpanProp = "perfbench.span"
}

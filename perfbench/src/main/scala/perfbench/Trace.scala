package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span and event recorder for a traced run. Everything is kept in memory
  * and written once, when the run ends, as JSON lines.
  *
  *  - Spans come from the harness's own calls: an operation's span and its
  *    children (`build`, `action` for a query; `launch`, `queued`,
  *    `running`, `poll`, `fetch`, `cancel` for a gateway job). All spans of
  *    one operation carry its id.
  *  - Spark jobs, stages, SQL executions and streaming progress come from
  *    Spark's public listener interfaces, with the job group, the first
  *    engine call-site frame and wall-clock times, so the analysis can
  *    attribute each one to an operation and a layer.
  *
  * Times are epoch milliseconds (fractional for harness spans), the clock
  * the listener events use.
  */
final class Trace(val enabled: Boolean) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Epoch ms of a System.nanoTime reading. */
  def ms(nanos: Long): Double = epochBase + (nanos - nanoBase) / 1e6

  def span(op: Long, name: String, startNs: Long, endNs: Long,
      parent: String, attrs: (String, Any)*): Unit =
    if (enabled) lines.add(Json.obj(Seq("kind" -> "span", "op" -> op,
      "name" -> name, "parent" -> parent, "start" -> ms(startNs),
      "end" -> ms(endNs)) ++ attrs))

  def event(fields: (String, Any)*): Unit =
    if (enabled) lines.add(Json.obj(fields))

  // Per-stage task aggregates; emitted at the end so late task-end events
  // (killed or speculative attempts) still land.
  private final class StageAgg {
    var tasks, retries, failed = 0L
    var runMs, cpuNs, deserMs, gcMs, schedMs, fetchWaitMs = 0L
    var inB, shReadB, shWriteB, spillB = 0L
  }
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()

  /** The first engine frame of a job's call site: the user-code stack Spark
    * records for the job's stages, minus Spark, Scala and harness frames.
    */
  private def graftSite(details: String): String =
    details.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.")).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      event("kind" -> "job_start", "job" -> e.jobId, "time" -> e.time,
        "group" -> prop("spark.jobGroup.id"),
        "sql" -> prop("spark.sql.execution.id"),
        "site" -> e.stageInfos.headOption.map(s => graftSite(s.details)).getOrElse(""),
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      event("kind" -> "job_end", "job" -> e.jobId, "time" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      event("kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined,
        "start" -> s.submissionTime, "end" -> s.completionTime)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      agg.synchronized {
        agg.tasks += 1
        if (info != null && info.attemptNumber > 0) agg.retries += 1
        if (info != null && info.failed) agg.failed += 1
        m.foreach { m =>
          agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
          agg.deserMs += m.executorDeserializeTime
          agg.gcMs += m.jvmGCTime
          if (info != null) agg.schedMs += math.max(0L, info.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          agg.inB += m.inputMetrics.bytesRead
          agg.shReadB += m.shuffleReadMetrics.totalBytesRead
          agg.shWriteB += m.shuffleWriteMetrics.bytesWritten
          agg.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(p => Seq(p.startTimeMs, p.endTimeMs))
      event("kind" -> "sql", "id" -> qe.id, "ok" -> ok,
        "analysis" -> phase("analysis"), "optimization" -> phase("optimization"),
        "planning" -> phase("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      event("kind" -> "stream_start", "run" -> e.runId.toString,
        "time" -> java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      event(Seq("kind" -> "progress", "run" -> p.runId.toString, "batch" -> p.batchId,
        "time" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum) ++
        p.durationMs.asScala.toSeq.map { case (k, v) => s"d_$k" -> v.longValue }: _*)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      event("kind" -> "stream_end", "run" -> e.runId.toString,
        "time" -> System.currentTimeMillis())
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus, detach, and write every record. */
  def finish(spark: SparkSession, path: java.nio.file.Path): Unit = if (enabled) {
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
    stages.asScala.foreach { case ((stage, attempt), a) =>
      event("kind" -> "stage_tasks", "stage" -> stage, "attempt" -> attempt,
        "tasks" -> a.tasks, "retries" -> a.retries, "failed" -> a.failed,
        "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6, "deser_ms" -> a.deserMs,
        "gc_ms" -> a.gcMs, "sched_ms" -> a.schedMs, "fetch_wait_ms" -> a.fetchWaitMs,
        "input_b" -> a.inB, "shuffle_read_b" -> a.shReadB,
        "shuffle_write_b" -> a.shWriteB, "spill_b" -> a.spillB)
    }
    java.nio.file.Files.write(path, lines.asScala.toSeq.asJava)
  }
}

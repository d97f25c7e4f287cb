package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one operator call, by layer. Jobs are split into the
  * builder phase (eager jobs inside `SparkEntry.queries(name)(spark, sf)`)
  * and the action phase (the materializing write). */
final class CallStats {
  var jobs = 0
  var buildJobs = 0
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var taskRunMs = 0L
  var actionTaskRunMs = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var plans = 0
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var streamBatches = 0
  val batchMs = mutable.ArrayBuffer.empty[Long]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
    "single_task_stages" -> singleTaskStages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "action_task_run_ms" -> actionTaskRunMs,
    "task_cpu_ms" -> taskCpuNs / 1e6, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "plans" -> plans, "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
    "planning_ms" -> planningMs, "stream_batches" -> streamBatches,
    "stream_batch_ms" -> batchMs.toList)
}

/** Listeners on the scheduler, the SQL query executions and the streaming
  * engine. They are registered only for traced rounds, so untraced calls run
  * with no benchmark listener at all. Jobs carry the call phase in the
  * `perfbench.phase` local property; stages and tasks inherit it from their
  * job. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer.PhaseKey

  private var cur = new CallStats
  private val stagePhase = mutable.Map.empty[Int, String]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        cur.streamBatches += 1
        Option(e.progress.durationMs.get("triggerExecution")).foreach(cur.batchMs += _.longValue)
      }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    cur.jobs += 1
    if (phase == "build") cur.buildJobs += 1
    e.stageIds.foreach(stagePhase(_) = phase)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    if (e.stageInfo.numTasks == 1) cur.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      if (stagePhase.get(e.stageId).contains("action")) cur.actionTaskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing or serializing the result
      cur.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def addPlan(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.plans += 1
    cur.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
    cur.optimizerMs += ms(QueryPlanningTracker.OPTIMIZATION)
    cur.planningMs += ms(QueryPlanningTracker.PLANNING)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
    reset()
  }

  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Deliver every pending event, then hand over the counters gathered since
    * the previous call and start a fresh set. */
  def take(): CallStats = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val c = cur
      cur = new CallStats
      stagePhase.clear()
      c
    }
  }

  def reset(): Unit = { take(); () }

  /** Run `body` with the given phase on the jobs it submits. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, null)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}

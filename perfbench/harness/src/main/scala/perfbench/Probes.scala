package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side layer metrics, read only through Spark's public listener
  * interfaces. Each listener keeps raw records; `summary` aggregates the
  * ones that belong to the timed window after the listener bus drained.
  *
  * Jobs started by an op's thread carry the local properties `Probes.Phase`
  * and `Probes.Group` (threads a query starts, such as streaming
  * micro-batch threads, inherit them). Jobs without them, such as those the
  * HTTP server's own threads start, count when they start inside the timed
  * window. */
final class Probes(spark: SparkSession) {
  import Probes._

  // listener-bus thread only until drained, then the main thread
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageFirstLaunch = mutable.HashMap.empty[Int, Long]
  private val stagesDone = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val batches = new ConcurrentLinkedQueue[(Long, Long)]()

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.time,
        p.flatMap(x => Option(x.getProperty(Phase))),
        p.flatMap(x => Option(x.getProperty(Group))).getOrElse("untagged"))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val t = e.taskInfo.launchTime
      stageFirstLaunch(e.stageId) =
        stageFirstLaunch.get(e.stageId).fold(t)(math.min(_, t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone += e.stageInfo.stageId
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead)
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"),
        ms("planning"), qe.optimizedPlan.collect { case p => p }.size))
    }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      batches.add((at, e.progress.batchDuration))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(execListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Cached bytes across all persisted RDDs right now. */
  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Per-op layer metrics of the timed window [w0, w1] (epoch ms). */
  def summary(w0: Long, w1: Long, ops: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val n = math.max(ops, 1).toDouble
    def timed(j: JobRec) = j.phase match {
      case Some(p) => p == Timed
      case None => j.start >= w0 && j.start <= w1
    }
    val tjobs = jobs.values.filter(timed).toSeq
    val tjobIds = tjobs.map(_.id).toSet
    val tstages = stagesDone.filter(s => stageJob.get(s).exists(tjobIds)).toSet
    val ttasks = tasks.filter(t => tstages(t.stage))
    val waitMs = tstages.toSeq.map(s => (for {
      sub <- stageSubmit.get(s); first <- stageFirstLaunch.get(s)
    } yield math.max(0L, first - sub)).getOrElse(0L)).sum
    val tplans = plans.asScala.filter(p => p.start >= w0 && p.start <= w1).toSeq
    val tbatches = batches.asScala.filter(b => b._1 >= w0 && b._1 <= w1).toSeq
    val mb = 1024.0 * 1024.0
    val byGroup = tjobs.groupBy(_.group).map { case (g, js) => g -> js.size }
    Map(
      "exec.jobs" -> tjobs.size / n,
      "exec.stages" -> tstages.size / n,
      "exec.tasks" -> ttasks.size / n,
      "exec.task_run_s" -> ttasks.map(_.runMs).sum / 1e3 / n,
      "exec.task_cpu_s" -> ttasks.map(_.cpuNs).sum / 1e9 / n,
      "exec.task_wait_s" -> waitMs / 1e3 / n,
      "exec.gc_s" -> ttasks.map(_.gcMs).sum / 1e3 / n,
      "exec.shuffle_write_mb" -> ttasks.map(_.shWrite).sum / mb / n,
      "exec.shuffle_read_mb" -> ttasks.map(_.shRead).sum / mb / n,
      "exec.spill_mb" -> ttasks.map(_.spill).sum / mb / n,
      "exec.input_rows" -> ttasks.map(_.inRows).sum / n,
      "engine.job_ms" -> tjobs.map(j => j.end - j.start).sum / n,
      "catalyst.analysis_ms" -> tplans.map(_.analysisMs).sum / n,
      "catalyst.optimization_ms" -> tplans.map(_.optimizationMs).sum / n,
      "catalyst.planning_ms" -> tplans.map(_.planningMs).sum / n,
      "catalyst.plan_nodes" -> tplans.map(_.nodes).sum / n,
      "streaming.batches" -> tbatches.size / n,
      "streaming.batch_ms" -> tbatches.map(_._2).sum / n,
    ) ++ byGroup.map { case (g, c) => s"$g.jobs" -> c / n }
  }
}

object Probes {
  private final case class JobRec(id: Int, start: Long, var end: Long,
      phase: Option[String], group: String)
  private final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shWrite: Long, shRead: Long, spill: Long, inRows: Long)
  private final case class PlanRec(start: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, nodes: Int)

  /** Local property naming the phase (`timed` or `warm`) of an op's jobs. */
  val Phase = "perfbench.phase"
  /** Local property naming the layer group an op's jobs belong to. */
  val Group = "perfbench.group"
  val Timed = "timed"

  /** Tag the jobs this thread starts until the next call. */
  def tag(spark: SparkSession, phase: String, group: String): Unit = {
    spark.sparkContext.setLocalProperty(Phase, phase)
    spark.sparkContext.setLocalProperty(Group, group)
  }
}

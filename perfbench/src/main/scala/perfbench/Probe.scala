package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Everything the benchmark reads from Spark's public listener interfaces.
  *
  * RDD block storage (cached and checkpointed blocks) is always tracked,
  * since `peak_storage_mb` is an end-to-end metric. With `traced`, the
  * probe also keeps job and stage spans, task metrics and per-query
  * planning phases and plan-shape counts.
  *
  * Listener calls arrive on Spark's listener-bus thread; the harness reads
  * the probe only after [[drain]], which waits until every event posted so
  * far has been delivered, so the counts of a pass repeat exactly. */
final class Probe(traced: Boolean) extends SparkListener with QueryExecutionListener {
  import Probe._

  private val blockBytes = mutable.HashMap.empty[BlockId, Long]
  private var storageNow = 0L
  private var storagePeak = 0L
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val markerJobs = mutable.HashSet.empty[Int]
  private val markerStages = mutable.HashSet.empty[Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var markersSeen = 0L
  private var markersIssued = 0L

  val jobs: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty
  val stages: mutable.ArrayBuffer[StageSpan] = mutable.ArrayBuffer.empty
  private val openJobs = mutable.HashMap.empty[Int, JobSpan]

  private def add(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  /** Cumulative counters; a pass's counts are the difference of two. */
  def snapshot(): Map[String, Double] = synchronized {
    counts.toMap
  }

  def peakStorageMb: Double = synchronized(storagePeak / MB)

  def resetPeak(): Unit = synchronized { storagePeak = storageNow }

  /** Wait until the listener bus has delivered every event posted so far:
    * a one-task marker job is queued behind them, and its end event is the
    * last to arrive. The marker's own job, stage and task are not counted. */
  def drain(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(OpTag)
    sc.setLocalProperty(OpTag, null)
    sc.setLocalProperty(Marker, "1")
    val target = synchronized { markersIssued += 1; markersIssued }
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Marker, null)
      sc.setLocalProperty(OpTag, prev)
    }
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (markersSeen < target && System.currentTimeMillis() < deadline) wait(50)
      require(markersSeen >= target, "listener bus did not drain within 60 s")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Marker) == "1")) {
      markerJobs += e.jobId
      markerStages ++= e.stageIds
    } else if (traced) {
      add("sched.jobs", 1)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val tag = props.flatMap(p => Option(p.getProperty(OpTag))).getOrElse("")
      openJobs(e.jobId) = JobSpan(e.jobId, tag, e.time, Double.NaN)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time.toDouble))
    if (markerJobs.remove(e.jobId)) {
      // every event queued before the marker has now been delivered
      markersSeen += 1
      notifyAll()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (traced && !markerStages.contains(si.stageId)) {
      add("sched.stages", 1)
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (traced && !markerStages.contains(si.stageId)) {
      val start = stageSubmitted.getOrElse((si.stageId, si.attemptNumber()),
        si.submissionTime.getOrElse(0L))
      val end = si.completionTime.getOrElse(System.currentTimeMillis())
      stages += StageSpan(si.stageId, stageJob.getOrElse(si.stageId, -1), start, end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (traced && !markerStages.contains(e.stageId)) {
      add("sched.tasks", 1)
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        add("sched.task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
      }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.input_mb", m.inputMetrics.bytesRead / MB)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("exec.spill_mb", m.diskBytesSpilled / MB)
        add("exec.output_mb", m.outputMetrics.bytesWritten / MB)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = blockBytes.getOrElse(info.blockId, 0L)
      if (size > 0 && prev == 0) {
        add("memo.block_writes", 1)
        add("memo.block_write_mb", size / MB)
      }
      if (size == 0) blockBytes.remove(info.blockId) else blockBytes(info.blockId) = size
      storageNow += size - prev
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    query(qe)

  private def query(qe: QueryExecution): Unit = if (traced) {
    val phases = qe.tracker.phases
    val shape = try planShape(qe.executedPlan)
      catch { case _: Exception => Map.empty[String, Double] }
    synchronized {
      add("plan.queries", 1)
      add("plan.analysis_ms", phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      add("plan.optimizer_ms", phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
      add("plan.physical_ms", phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
      shape.foreach { case (k, v) => add(k, v) }
    }
  }
}

object Probe {
  val OpTag = "perfbench.op"
  val Marker = "perfbench.marker"
  val MB: Double = 1024.0 * 1024.0

  final case class JobSpan(id: Int, tag: String, start: Double, end: Double)
  final case class StageSpan(id: Int, job: Int, start: Double, end: Double)

  /** Shape counts of one executed plan, adaptive stages and subqueries
    * included. A codegen fallback is an operator that runs outside
    * whole-stage codegen, row at a time, other than exchanges, query-stage
    * wrappers and leaf scans. */
  def planShape(root: SparkPlan): Map[String, Double] = {
    val n = mutable.LinkedHashMap(
      "plan.exchanges" -> 0.0, "plan.global_windows" -> 0.0,
      "plan.nested_loop_joins" -> 0.0, "plan.codegen_fallbacks" -> 0.0)
    def bump(k: String): Unit = n(k) += 1
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => bump("plan.exchanges")
        case w: WindowExec if w.partitionSpec.isEmpty => bump("plan.global_windows")
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          bump("plan.nested_loop_joins")
        case _ =>
      }
      val wrapper = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
             _: QueryStageExec | _: AQEShuffleReadExec | _: ReusedExchangeExec |
             _: ShuffleExchangeLike | _: BroadcastExchangeLike | _: LeafExecNode => true
        case _ => false
      }
      if (!inCodegen && !wrapper) bump("plan.codegen_fallbacks")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
        case s: QueryStageExec => walk(s.plan, inCodegen = false)
        case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
        case i: InputAdapter => walk(i.child, inCodegen = false)
        case other => other.children.foreach(walk(_, inCodegen))
      }
      p.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(root, inCodegen = false)
    n.toMap
  }
}

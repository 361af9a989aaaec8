package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished SQL action, as the QueryExecutionListener reported it: its
  * name (`count`, `save`, `command`, ...), its duration, the Spark jobs
  * started since the previous action ended, and the planning phases of its
  * query execution. For a parquet table write, `table` is the written
  * directory's name and `rows`/`bytes` are the write command's own output
  * metrics.
  */
final case class Action(funcName: String, ms: Double, jobs: Long,
                        phasesMs: Map[String, Double], table: Option[String],
                        rows: Long, bytes: Long)

/** Counts what the scheduler, the executors and the block manager did, from
  * Spark's public listener hooks. Events arrive on the listener bus thread;
  * readers call [[drain]] first so the counts are complete.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStages = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val submittedAt = mutable.Map.empty[Int, Long]
  private val actionLog = mutable.ArrayBuffer.empty[Action]
  private var seq = 0L
  private var jobsAtLastAction = 0.0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = PerfbenchShim.drainListenerBus(spark.sparkContext)

  def jobs: Long = { drain(); synchronized(c("jobs").toLong) }

  /** Drains, then forgets every count and action seen so far. */
  def reset(): Unit = {
    drain()
    synchronized { c.clear(); stageSpans.clear(); actionLog.clear(); jobsAtLastAction = 0 }
  }

  /** Drains, then returns the counts since [[reset]] and the number of stage
    * spans seen so far, to take differences over one operation.
    */
  def snapshot(): (Map[String, Double], Int) = {
    drain()
    synchronized((c.toMap.withDefaultValue(0.0), stageSpans.size))
  }

  /** Wall time covered by at least one running stage, over the stage spans
    * from index `from` on.
    */
  def busyMs(from: Int = 0): Double = {
    drain()
    synchronized {
      var busy = 0L; var end = Long.MinValue
      stageSpans.drop(from).sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { busy += e - math.max(s, end); end = e }
      }
      busy.toDouble
    }
  }

  /** Drains, then returns and forgets the actions finished since the last call. */
  def takeActions(): Seq[Action] = {
    drain()
    synchronized { val a = actionLog.toList; actionLog.clear(); a }
  }

  /** The `exec.*` and `operators.materialized_*` metrics of everything since
    * [[reset]], given the wall time of the operations that ran meanwhile.
    */
  def execMetrics(wallMs: Double, cores: Int): Map[String, Double] = {
    val busy = busyMs()
    synchronized {
      Map(
        "exec.jobs" -> c("jobs"), "exec.stages" -> c("stages"),
        "exec.stages_skipped" -> c("stages_skipped"), "exec.tasks" -> c("tasks"),
        "exec.in_stage_ms" -> c("in_stage_ms"),
        "exec.outside_stage_ms" -> math.max(0.0, wallMs - busy),
        "exec.shuffle_write_bytes" -> c("shuffle_write_bytes"),
        "exec.shuffle_read_bytes" -> c("shuffle_read_bytes"),
        "exec.spill_bytes" -> c("spill_bytes"),
        "exec.peak_exec_mem_bytes" -> c("peak_exec_mem_bytes"),
        "exec.slot_util" -> (if (wallMs > 0) c("run_ms") / (wallMs * cores) else 0.0),
        "exec.task_cpu_ms" -> c("cpu_ns") / 1e6, "exec.gc_ms" -> c("gc_ms"),
        "exec.input_bytes" -> c("input_bytes"), "exec.input_rows" -> c("input_rows"),
        "exec.task_failed_ratio" ->
          (if (c("attempts") > 0) c("bad_attempts") / c("attempts") else 0.0),
        "operators.materialized_blocks" -> c("blocks"),
        "operators.materialized_bytes" -> c("block_bytes"))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seq += 1; c("jobs") += 1
    jobStages(e.jobId) = (seq, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    seq += 1; submittedAt(e.stageInfo.stageId) = seq
  }

  /** A stage of a job is skipped when the job ends without having run it:
    * its output already existed from an earlier job.
    */
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (startSeq, stageIds) =>
      c("stages_skipped") += stageIds.count(s => submittedAt.get(s).forall(_ < startSeq))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    c("stages") += 1
    for (s <- i.submissionTime; t <- i.completionTime) {
      c("in_stage_ms") += t - s; stageSpans += ((s, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1; c("attempts") += 1
    if (e.taskInfo.failed || e.taskInfo.killed || e.taskInfo.attemptNumber > 0)
      c("bad_attempts") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("run_ms") += m.executorRunTime; c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("peak_exec_mem_bytes") =
        math.max(c("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
      c("input_bytes") += m.inputMetrics.bytesRead
      c("input_rows") += m.inputMetrics.recordsRead
    }
  }

  /** RDD blocks stored by `persist` and `localCheckpoint`. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      c("blocks") += 1; c("block_bytes") += b.memSize + b.diskSize
    }
  }

  /** Both listeners sit on the listener bus's shared queue, which delivers
    * events in order, so every job of this action has started by now.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val write = collectFirst(qe.executedPlan) {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
    }
    val phases = qe.tracker.phases.map { case (p, s) => p -> s.durationMs.toDouble }
    val a = write match {
      case Some(w) =>
        val dir = w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.getName
        def metric(n: String) = w.metrics.get(n).map(_.value).getOrElse(0L)
        Action(funcName, durationNs / 1e6, 0L, phases, Some(dir.stripSuffix("__tmp")),
          metric("numOutputRows"), metric("numOutputBytes"))
      case None => Action(funcName, durationNs / 1e6, 0L, phases, None, 0L, 0L)
    }
    synchronized {
      actionLog += a.copy(jobs = (c("jobs") - jobsAtLastAction).toLong)
      jobsAtLastAction = c("jobs")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

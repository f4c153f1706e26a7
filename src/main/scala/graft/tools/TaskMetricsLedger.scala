package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's profiler: what a window of queries did, read from Spark's
  * listener buses rather than from wall time. Wall time on one box cannot
  * distinguish "scales" from "fits in page cache", so the 100-TB claims
  * (long-only shuffles, base-never-moves, one-shuffle-per-step) need BYTE
  * evidence per query, and "overhead-bound or compute-bound" needs job,
  * stage and task-time counts.
  *
  * A [[SparkListener]] accumulating every job, completed stage and
  * finished task between [[reset]] and [[snapshot]], plus a
  * [[QueryExecutionListener]] keeping the last successfully executed plan
  * (a noop write plans its own execution, so metrics read off the
  * original DataFrame's plan are zeros). Queries run sequentially, so a
  * window is exactly one query. The listener bus is async: [[reset]],
  * [[snapshot]] and [[executedPlan]] first wait until the bus has
  * delivered every event posted so far.
  *
  * Captured per window:
  *  - jobs started, stages completed, tasks finished;
  *  - the tasks' summed executor run time and CPU time (their ratio to
  *    wall time is the query's real parallelism);
  *  - shuffle WRITE bytes (what the query pushed into exchanges — the
  *    scale-claim currency: a "long-only shuffle" op must stay near
  *    bytes-per-input-row of its key width) and shuffle READ bytes;
  *  - disk + memory spill bytes (a nonzero disk spill at the sweep point
  *    means the partition sizing story fails at 1000× executors too);
  *  - input bytes / records read at the source (the ratio denominator).
  */
final class TaskMetricsLedger private (sc: SparkContext)
    extends SparkListener with QueryExecutionListener {

  private val jobs = new AtomicLong(0)
  private val stages = new AtomicLong(0)
  private val tasks = new AtomicLong(0)
  private val runTimeMs = new AtomicLong(0)
  private val cpuTimeNs = new AtomicLong(0)
  private val shuffleWrite = new AtomicLong(0)
  private val shuffleRead = new AtomicLong(0)
  private val diskSpill = new AtomicLong(0)
  private val memSpill = new AtomicLong(0)
  private val inputBytes = new AtomicLong(0)
  private val inputRecords = new AtomicLong(0)
  @volatile private var plan: Option[SparkPlan] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runTimeMs.addAndGet(m.executorRunTime)
      cpuTimeNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      diskSpill.addAndGet(m.diskBytesSpilled)
      memSpill.addAndGet(m.memoryBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      tasks.incrementAndGet()
      ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = plan = Some(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def reset(): Unit = {
    GraftBus.drain(sc)
    Seq(jobs, stages, tasks, runTimeMs, cpuTimeNs, shuffleWrite, shuffleRead,
      diskSpill, memSpill, inputBytes, inputRecords).foreach(_.set(0))
    plan = None
  }

  def snapshot(): TaskMetricsLedger.Snapshot = {
    GraftBus.drain(sc)
    TaskMetricsLedger.Snapshot(
      jobs = jobs.get,
      stages = stages.get,
      tasks = tasks.get,
      taskRunMs = runTimeMs.get,
      taskCpuNs = cpuTimeNs.get,
      shuffleWriteBytes = shuffleWrite.get,
      shuffleReadBytes = shuffleRead.get,
      diskSpillBytes = diskSpill.get,
      memSpillBytes = memSpill.get,
      inputBytes = inputBytes.get,
      inputRecords = inputRecords.get)
  }

  /** The executed plan of the last query that succeeded in this window. */
  def executedPlan: Option[SparkPlan] = {
    GraftBus.drain(sc)
    plan
  }
}

object TaskMetricsLedger {

  final case class Snapshot(
      jobs: Long,
      stages: Long,
      tasks: Long,
      taskRunMs: Long,
      taskCpuNs: Long,
      shuffleWriteBytes: Long,
      shuffleReadBytes: Long,
      diskSpillBytes: Long,
      memSpillBytes: Long,
      inputBytes: Long,
      inputRecords: Long) {

    /** The budget currency: shuffle-write bytes per source record read. */
    def writeBytesPerRecord: Double =
      shuffleWriteBytes.toDouble / math.max(inputRecords, 1L).toDouble

    def json: String =
      s"""{"jobs": $jobs, "stages": $stages, "tasks": $tasks, """ +
        f""""task_run_s": ${taskRunMs / 1e3}%.3f, """ +
        f""""task_cpu_s": ${taskCpuNs / 1e9}%.3f, """ +
        s""""shuffle_write_bytes": $shuffleWriteBytes, """ +
        s""""shuffle_read_bytes": $shuffleReadBytes, """ +
        s""""disk_spill_bytes": $diskSpillBytes, """ +
        s""""mem_spill_bytes": $memSpillBytes, """ +
        s""""input_bytes": $inputBytes, """ +
        s""""input_rows": $inputRecords, """ +
        f""""write_bytes_per_row": $writeBytesPerRecord%.2f}"""
  }

  /** Register on a session's SparkContext and listener manager; the
    * caller keeps the handle for reset/snapshot and removes it when done.
    */
  def install(spark: SparkSession): TaskMetricsLedger = {
    val l = new TaskMetricsLedger(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def uninstall(spark: SparkSession, l: TaskMetricsLedger): Unit = {
    spark.listenerManager.unregister(l)
    spark.sparkContext.removeSparkListener(l)
  }
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/**
 * Per-query resource metering — the Spark analog of the reference's
 * FinOps surface (resource monitor + QUERY_TAG, reference
 * README.md:128-133): run a block under a job-group tag and report what
 * it actually consumed. [[graft.models.Pipeline]] already tags its
 * stages ([[org.apache.spark.SparkContext.setJobGroup]]); this adds the
 * "how many credits did that cost" half as task-metric aggregates —
 * the numbers a capacity plan needs at 100 TB (shuffle volume tells you
 * network, spill tells you memory pressure, task time tells you the
 * bill).
 *
 * Implementation: a [[SparkListener]] keyed by job-group id. Listener
 * delivery is asynchronous, so [[Metrics.measure]] waits (bounded) for
 * every job it saw start in the group to finish before reading the
 * adders. Metrics are task-level sums over all jobs the block ran.
 */
object Metrics {

  final case class QueryMetrics(tag: String, jobs: Long, tasks: Long,
                                taskTimeMs: Long, cpuTimeMs: Long,
                                shuffleReadBytes: Long, shuffleWriteBytes: Long,
                                spillBytes: Long, inputBytes: Long,
                                outputRows: Long)

  /** A consumption budget for [[resourceMonitor]] — the Spark analog of
    * a Snowflake Resource Monitor's credit quota: axes default to
    * unlimited, set the ones the workload must stay under. */
  final case class ResourceBudget(maxTaskTimeMs: Long = Long.MaxValue,
                                  maxShuffleBytes: Long = Long.MaxValue,
                                  maxSpillBytes: Long = Long.MaxValue,
                                  maxInputBytes: Long = Long.MaxValue)

  /** What [[resourceMonitor]] observed: the consumption, which budget
    * axis (if any) was crossed, and whether the workload was actually
    * suspended mid-flight (a breach detected exactly as the last job
    * finished reports `exceeded` with `suspended = false` — consumed,
    * but nothing left to cancel; the caller still sees the breach). */
  final case class MonitorReport(metrics: QueryMetrics,
                                 exceeded: Option[String],
                                 suspended: Boolean)

  private final class Capture(group: String) extends SparkListener {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobsStarted = new LongAdder; val jobsEnded = new LongAdder
    val tasks = new LongAdder; val taskTime = new LongAdder
    val cpuTime = new LongAdder
    val shufRead = new LongAdder; val shufWrite = new LongAdder
    val spill = new LongAdder; val input = new LongAdder
    val outRows = new LongAdder
    // budget enforcement (resourceMonitor only): checked on the
    // single-threaded listener bus after each task lands, so the
    // first-crossing write is race-free
    @volatile var exceededAxis: Option[String] = None
    var budget: Option[ResourceBudget] = None
    var onExceed: () => Unit = () => ()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p =>
          group == p.getProperty("spark.jobGroup.id"))) {
        jobsStarted.increment()
        e.stageIds.foreach(stages.add(_))
        // sticky suspension: a breach detected BETWEEN jobs (the first
        // cancel found nothing active) re-issues the cancel as later
        // jobs in the group start — Resource Monitor semantics, where a
        // tripped quota refuses future statements too. Best-effort, not
        // a hard gate: onJobStart runs asynchronously on the listener
        // bus, so a very short job submitted after the breach can
        // complete before the cancel lands — the documented "checked at
        // intervals, may slightly overshoot" contract. Callers needing
        // hard enforcement check `exceededAxis` synchronously between
        // jobs.
        if (exceededAxis.isDefined) onExceed()
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.increment()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.increment()
        taskTime.add(e.taskInfo.duration)
        cpuTime.add(m.executorCpuTime / 1000000L)
        shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
        outRows.add(m.outputMetrics.recordsWritten)
        for (b <- budget) {
          if (exceededAxis.isEmpty) {
            val axis =
              if (taskTime.sum > b.maxTaskTimeMs) Some("task_time_ms")
              else if (shufRead.sum + shufWrite.sum > b.maxShuffleBytes)
                Some("shuffle_bytes")
              else if (spill.sum > b.maxSpillBytes) Some("spill_bytes")
              else if (input.sum > b.maxInputBytes) Some("input_bytes")
              else None
            exceededAxis = axis
          }
          // re-issue while breached (cancel is idempotent): closes the
          // window where the first cancel raced a job boundary
          if (exceededAxis.isDefined) onExceed()
        }
      }
  }

  /** Bounded wait for asynchronous listener delivery: job-end events
    * are not group-filtered, so stability of (tasks + job ends) over a
    * short window is the conservative settle signal. */
  private def settle(cap: Capture, settleMs: Long): Unit = {
    val deadline = System.nanoTime() + settleMs * 1000000L
    var last = -1L
    var stable = 0
    while (System.nanoTime() < deadline && stable < 3) {
      val now = cap.tasks.sum() + cap.jobsEnded.sum()
      if (now == last) stable += 1 else { stable = 0; last = now }
      Thread.sleep(50)
    }
  }

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupKeys = Seq(
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run `body` in job group `group` on this thread, then put back the
    * thread's own job group (or none), also when `body` throws: a caller
    * that wraps the call in its own group keeps it, and a throwing body
    * does not leave the thread tagged into a dead group. */
  private[graft] def inJobGroup[T](sc: SparkContext, group: String,
                                   description: String,
                                   interruptOnCancel: Boolean = false)
                                  (body: => T): T = {
    val saved = JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, description, interruptOnCancel)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private def snapshot(cap: Capture, tag: String): QueryMetrics =
    QueryMetrics(tag, cap.jobsStarted.sum(), cap.tasks.sum(),
      cap.taskTime.sum(), cap.cpuTime.sum(), cap.shufRead.sum(),
      cap.shufWrite.sum(), cap.spill.sum(), cap.input.sum(),
      cap.outRows.sum())

  /** Run `body` under job group `tag` and return (result, metrics).
    * `settleMs` bounds the wait for asynchronous listener delivery after
    * the block returns (every job observed started must end). */
  def measure[T](spark: SparkSession, tag: String, settleMs: Long = 10000L)
                (body: => T): (T, QueryMetrics) = {
    val sc = spark.sparkContext
    val cap = new Capture(tag)
    sc.addSparkListener(cap)
    try {
      val out = inJobGroup(sc, tag, s"graft:$tag")(body)
      settle(cap, settleMs)
      (out, snapshot(cap, tag))
    } finally sc.removeSparkListener(cap)
  }

  /** Does this failure chain contain Spark's job-cancellation signal?
    * Distinguishes "the monitor suspended the workload" from an
    * unrelated body failure that happens to race a breach flag.
    * Primary signal: the structured error condition on any
    * [[org.apache.spark.SparkThrowable]] in the chain (e.g.
    * `SPARK_JOB_CANCELLED`) — stable across message rewording. The
    * message-substring check stays as fallback for legacy
    * SparkExceptions raised without a condition. */
  private def isCancellation(t: Throwable): Boolean = {
    var cur = t
    while (cur != null) {
      val byCondition = cur match {
        case st: org.apache.spark.SparkThrowable =>
          Option(st.getCondition).exists(_.toUpperCase.contains("CANCEL"))
        case _ => false
      }
      val byMessage = cur.isInstanceOf[org.apache.spark.SparkException] &&
        Option(cur.getMessage).exists(_.toLowerCase.contains("cancel"))
      if (byCondition || byMessage) return true
      cur = cur.getCause
    }
    false
  }

  /** ACCOUNT_USAGE-style cost report (the reference's "reports by
    * warehouse/tag", README.md:133): fold the [[QueryMetrics]] of
    * measured blocks into a per-tag usage table — runs, jobs, tasks,
    * task/cpu time, shuffle/spill/input bytes, output rows — as a
    * DataFrame, so the report itself is queryable and publishable like
    * any mart. Driver-side input is one row per measured block;
    * aggregation is Spark's. */
  def usageReport(spark: SparkSession, runs: Seq[QueryMetrics])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    runs.toDF()
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("runs"),
        sum(col("jobs")).as("jobs"), sum(col("tasks")).as("tasks"),
        sum(col("taskTimeMs")).as("task_time_ms"),
        sum(col("cpuTimeMs")).as("cpu_time_ms"),
        sum(col("shuffleReadBytes")).as("shuffle_read_bytes"),
        sum(col("shuffleWriteBytes")).as("shuffle_write_bytes"),
        sum(col("spillBytes")).as("spill_bytes"),
        sum(col("inputBytes")).as("input_bytes"),
        sum(col("outputRows")).as("output_rows"))
  }

  /**
   * Budget-capped execution — the Spark analog of the reference's
   * Resource Monitor (README.md:63,128-133: suspend the warehouse when
   * the credit quota is hit): run `body` under a job group with a live
   * [[ResourceBudget]]; consumption is checked on the listener bus as
   * each task lands, and the FIRST crossing cancels the job group
   * (`interruptOnCancel = true`), killing the active jobs of exactly
   * this workload — nothing else on the session is touched.
   *
   * Returns `(Some(result), report)` when the workload finished under
   * budget, `(None, report(suspended = true))` when it was cancelled
   * mid-flight. Granularity is per task completion — the same "checked
   * at intervals, may slightly overshoot" contract the reference's
   * monitor documents; a breach landing exactly with the final job's
   * last task reports `exceeded` with `suspended = false` (consumed,
   * but nothing left to cancel — the caller still sees the breach).
   */
  def resourceMonitor[T](spark: SparkSession, tag: String,
                         budget: ResourceBudget, settleMs: Long = 10000L)
                        (body: => T): (Option[T], MonitorReport) = {
    val sc = spark.sparkContext
    val cap = new Capture(tag)
    cap.budget = Some(budget)
    cap.onExceed = () => sc.cancelJobGroup(tag)
    sc.addSparkListener(cap)
    try {
      val outcome =
        inJobGroup(sc, tag, s"graft:monitor:$tag", interruptOnCancel = true) {
          try Right(body)
          catch {
            // only swallow the failure this monitor itself caused: a
            // NON-fatal error whose chain carries Spark's cancellation
            // signal while the breach flag is set. An unrelated body
            // failure (or a fatal VM error) racing a breach rethrows —
            // losing a real defect behind "suspended" would be worse
            // than a spurious failure.
            case scala.util.control.NonFatal(e)
                if cap.exceededAxis.isDefined && isCancellation(e) =>
              Left(e)
          }
        }
      settle(cap, settleMs)
      val report = MonitorReport(snapshot(cap, tag), cap.exceededAxis,
        suspended = outcome.isLeft)
      (outcome.toOption, report)
    } finally sc.removeSparkListener(cap)
  }
}

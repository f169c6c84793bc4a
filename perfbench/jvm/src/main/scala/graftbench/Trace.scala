package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same epoch as Spark's listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Processor time of the JVM so far, in milliseconds: every thread's
  * user and system time, which leaves out the time a thread waited for
  * a core or the hypervisor ran another machine. `jitMs` is the part
  * the JIT compiler's threads used (from each thread's schedstat; run.py
  * keeps those threads alive for the whole run).
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nowMs: Double = os.getProcessCpuTime / 1e6

  def jitMs: Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), UTF_8)
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
          new String(Files.readAllBytes(t.toPath.resolve("schedstat")), UTF_8)
            .split(" ")(0).toDouble / 1e6
        else 0.0
      } catch { case _: java.io.IOException => 0.0 } // the thread just ended
    }.sum
  }
}

/** Spans at the boundaries the harness itself crosses (run, pass,
  * operation, graft call, action), as (id, parent, kind, name, start,
  * end). Kept in memory and written out when the run ends.
  */
final class Spans {
  private val rows = ArrayBuffer[Seq[Any]]()
  private var nextId = 0

  def apply[T](parent: Int, kind: String, name: String)(body: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val start = Clock.nowMs
    try body(id)
    finally synchronized { rows += Seq(id, parent, kind, name, start, Clock.nowMs) }
  }

  def toSeq: Seq[Seq[Any]] = synchronized(rows.toList)
}

/** Codegen compile count and time so far in this JVM, from Spark's
  * static CodegenMetrics histogram. The time is the sum of the
  * reservoir's samples, exact while the JVM has compiled fewer classes
  * than the reservoir holds (1028); past that it is count × mean.
  */
object Codegen {
  def snapshot(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    val sum = if (n <= s.size) s.getValues.sum.toDouble else s.getMean * n
    (n, sum)
  }
}

/** The traced run's collectors: Spark's public listeners, registered
  * from the benchmark's own code. Every record carries Spark's own
  * timestamps so the analysis can place it inside a pass or an
  * operation after the run.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  val jobs = ArrayBuffer[Seq[Any]]()     // id, start, end, succeeded
  val stages = ArrayBuffer[Seq[Any]]()   // stage, attempt, submit, complete, tasks, failed tasks, task sums…
  val plans = ArrayBuffer[Seq[Any]]()    // start, analysis, optimization, planning ms
  val caps = ArrayBuffer[Seq[Any]]()     // start, rows in capped buckets, bucket rows
  val aqe = ArrayBuffer[Double]()        // arrival time of each AQE re-plan
  private val jobStarts = collection.mutable.Map[Int, Double]()
  private var planEvents = 0L

  // per (stage, attempt): tasks, failed, duration, run, cpu ms, gc, in bytes, in rows,
  // shuffle write, shuffle read, fetch wait, disk spill, out bytes, out rows
  private val taskSums = collection.mutable.Map[(Int, Int), Array[Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobStarts(e.jobId) = e.time.toDouble }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { t =>
        jobs += Seq(e.jobId, t, e.time.toDouble, e.jobResult == JobSucceeded)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Double](14))
      a(0) += 1
      if (e.reason != org.apache.spark.Success) a(1) += 1
      val m = e.taskMetrics
      a(2) += e.taskInfo.duration
      if (m != null) {
        a(3) += m.executorRunTime
        a(4) += m.executorCpuTime / 1e6
        a(5) += m.jvmGCTime
        a(6) += m.inputMetrics.bytesRead
        a(7) += m.inputMetrics.recordsRead
        a(8) += m.shuffleWriteMetrics.bytesWritten
        a(9) += m.shuffleReadMetrics.totalBytesRead
        a(10) += m.shuffleReadMetrics.fetchWaitTime
        a(11) += m.diskBytesSpilled
        a(12) += m.outputMetrics.bytesWritten
        a(13) += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val sums = taskSums.remove((i.stageId, i.attemptNumber())).getOrElse(new Array[Double](14))
      stages += Seq(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, i.numTasks) ++ sums.toSeq
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
        lock.synchronized { aqe += Clock.nowMs }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      planEvents += 1
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.startTimeMs).min.toDouble
      plans += Seq(start, ms("analysis"), ms("optimization"), ms("planning"))
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_cap_")) {
          def at(f: String) = { val i = row.fieldIndex(f); if (row.isNullAt(i)) 0L else row.getLong(i) }
          caps += Seq(start, at("rows_in_capped_buckets"), at("bucket_rows"))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Waits for the listener bus to deliver the events of every job
    * started so far, then detaches the listeners.
    */
  def detach(): Unit = if (attached) {
    quiesce()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }

  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val (open, n) = lock.synchronized((jobStarts.size, planEvents + jobs.size))
      if (n != last) { last = n; stableSince = System.nanoTime() }
      if (open == 0 && System.nanoTime() - stableSince > 150000000L) return
      Thread.sleep(20)
    }
  }

  def dump: Map[String, Any] = lock.synchronized(Map(
    "jobs" -> jobs.toList, "stages" -> stages.toList, "plans" -> plans.toList,
    "caps" -> caps.toList, "aqe" -> aqe.toList))
}

/** Micro-batch progress of the stream, from Spark's public
  * StreamingQueryListener. The committed-row total is part of the
  * end-to-end measure (backlog), so this listener runs in both modes.
  */
final class Progress extends StreamingQueryListener {
  val committedRows = new java.util.concurrent.atomic.AtomicLong()
  val batches = ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    val st = p.stateOperators
    val row = Map[String, Any](
      "batch" -> p.batchId,
      "cpu_ms" -> Cpu.nowMs,
      "jit_ms" -> Cpu.jitMs,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "plan_ms" -> ms("queryPlanning"),
      "add_batch_ms" -> ms("addBatch"),
      "wal_ms" -> ms("walCommit"),
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).sum)
    synchronized { batches += row }
    committedRows.addAndGet(p.numInputRows)
  }
  def toSeq: Seq[Map[String, Any]] = synchronized(batches.toList)
}

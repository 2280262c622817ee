package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. `counters` holds the
  * listener totals at the span's start and end, so each span carries its
  * own job/stage/task/CPU deltas.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      startNs: Long, endNs: Long,
                      before: Map[String, Long], after: Map[String, Long]) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** A span's duration minus the part of it its children cover. Children
    * may overlap each other (parallel calls); their union is subtracted,
    * clipped to the parent's interval.
    */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val ivs = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }

  /** Self time per span id over a whole trace. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** Engine-side counters from Spark's own listener interfaces: the
  * scheduler/task/exchange/memory layers (SparkListener), the driver's
  * planning phases (QueryExecutionListener over QueryExecution.tracker)
  * and micro-batch timings (StreamingQueryListener).
  */
final class Counters extends SparkListener {
  private val c = mutable.LinkedHashMap[String, AtomicLong]()
  private val Keys = Seq(
    "jobs", "stages", "tasks", "scheduler_delay_ms", "executor_cpu_ns",
    "executor_run_ms", "gc_ms", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "peak_exec_bytes",
    "records_read", "analysis_ms", "optimization_ms", "planning_ms",
    "stream_batches", "stream_wal_ms", "stream_add_batch_ms", "stream_trigger_ms")
  Keys.foreach(k => c(k) = new AtomicLong(0))
  /** Per-batch trigger durations, for the per-batch percentile. */
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap

  /** Restart the running maximum of per-task peak execution memory. */
  def resetPeak(): Unit = c("peak_exec_bytes").set(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      add("scheduler_delay_ms", math.max(0L, delay))
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      c("peak_exec_bytes").accumulateAndGet(m.peakExecutionMemory, math.max)
      add("records_read", m.inputMetrics.recordsRead)
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq(("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
        ("planning", "planning_ms")).foreach { case (p, k) =>
        ph.get(p).foreach(s => add(k, s.durationMs))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      // an AvailableNow query reports a final no-data progress; count only
      // batches that carried input
      if (e.progress.numInputRows > 0) {
        add("stream_batches", 1)
        add("stream_wal_ms", get("walCommit"))
        add("stream_add_batch_ms", get("addBatch"))
        add("stream_trigger_ms", get("triggerExecution"))
        batchMs.add(get("triggerExecution"))
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

/** Span recorder. Callers only enter it while tracing is on: the untraced
  * runs that give the end-to-end numbers pay nothing for it.
  */
final class Tracer(counters: => Option[Counters]) {
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def span[T](name: String, op: Long = -1L)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    val before = snap()
    val t0 = System.nanoTime()
    stack.push(id)
    try body
    finally {
      stack.pop()
      val t1 = System.nanoTime()
      done += Span(id, name, parent, op, t0, t1, before, snap())
    }
  }

  /** Listener totals as of now: the listener bus is drained first, so
    * the snapshot includes every event the finished calls posted.
    */
  private def snap(): Map[String, Long] = counters match {
    case Some(c) =>
      SparkSession.getActiveSession.foreach(s => Bus.drain(s.sparkContext))
      c.snapshot()
    case None => Map.empty
  }

  def spans: Seq[Span] = done.toSeq

  /** All spans as JSON lines: name, start/end (ns, relative to the first
    * span), parent, op id, self time and listener deltas.
    */
  def write(path: java.nio.file.Path): Unit = {
    val self = Span.selfTimes(done.toSeq)
    val t0 = if (done.isEmpty) 0L else done.map(_.startNs).min
    val lines = done.sortBy(_.startNs).map { s =>
      val deltas = s.after.map { case (k, v) => s""""$k":${v - s.before.getOrElse(k, 0L)}""" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},""" +
        s""""self_ns":${self(s.id)},"counters":$deltas}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

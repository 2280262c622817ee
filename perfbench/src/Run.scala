package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cpus: Int, fingerprints: Path, record: Boolean)

/** One benchmark run: the session, the counters, the tracer and the
  * correctness tally shared by every workload.
  */
final class Run(val cfg: Config) {
  private var session: SparkSession = _
  val counters = new Counters
  private var tracing = false
  val tracer = new Tracer(if (tracing) Some(counters) else None)

  def spark: SparkSession = session

  /** Start a fresh session carrying only the settings `graft.cli.Main`
    * and `graft.Verify` use (cores, shuffle partitions, UTC, UI off) plus
    * the run's directories, so every byte the engine writes stays inside
    * the run's work directory.
    */
  def startSession(): SparkSession = {
    if (session != null) {
      if (tracing) counters.unregister(session)
      session.stop()
    }
    session = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.work.resolve("hadoop").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (tracing) counters.register(session)
    session
  }

  /** Switch span and listener recording on or off (trace runs measure the
    * same phase both ways to report the tracing overhead).
    */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    if (session != null) {
      if (on) counters.register(session) else counters.unregister(session)
    }
  }

  def isTracing: Boolean = tracing

  /** Listener totals (drained) while tracing; empty otherwise. */
  def snapshot(): Map[String, Long] =
    if (!tracing) Map.empty
    else {
      org.apache.spark.perfbench.Bus.drain(session.sparkContext)
      counters.snapshot() + ("result_rows" -> resultRows)
    }

  /** Id of the operation in flight; spans of one operation share it. */
  var op: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.span(name, op)(body) else body

  // ---- correctness tally ----------------------------------------------------

  /** Result rows the traced searches returned (rows examined per result). */
  var resultRows = 0L

  var attempted = 0L
  var failed = 0L

  /** Record `n` attempted operations; `error` marks `failedN` of them
    * failed or wrong.
    */
  def tally(n: Long, error: Option[String], failedN: Long = 1L): Unit = {
    attempted += n
    error.foreach { e =>
      failed += math.min(n, failedN)
      System.err.println(s"[perfbench] FAILED: $e")
    }
  }

  /** Run `body` as `n` operations; an exception fails all of them. */
  def attempt[T](what: String, n: Long = 1L)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        tally(n, Some(s"$what: $e"), n)
        None
    }

  // ---- process measurements -------------------------------------------------

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set size (VmHWM) of this process, in MB. */
  def peakRssMb(): Double = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status")) { src =>
    val line = src.getLines().find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** On-disk bytes of the given warehouse tables (data files only). */
  def tableBytes(tables: Seq[String]): Long =
    tables.map(t => dirBytes(cfg.work.resolve("warehouse").resolve(t.toLowerCase))).sum

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def stop(): Unit = if (session != null) {
    setTracing(false)
    session.stop()
    session = null
  }
}

package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

/** Benchmark entry point: one workload, one JVM, one client thread.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --spans <file> --fingerprints <file> [--record]
  *
  * Untraced runs print the end-to-end metrics; traced runs print the
  * per-layer metrics and write the spans. The last stdout line is the
  * result object.
  */
object Main {
  val Workloads = Seq("search_interactive", "search_bulk", "index_ingest", "pipeline_mix")
  /** Cores of the local session; the bounds were set with four. */
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): String = a.getOrElse(k, sys.error(s"missing $k"))
    if (args.contains("--self-test")) sys.exit(SelfTest.run())
    val cfg = Config(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Path.of(need("--work")).toAbsolutePath,
      Cpus, Path.of(need("--fingerprints")),
      args.contains("--record"))
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    val code =
      try { bench(cfg, a.get("--spans").map(Path.of(_))); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  private val t0 = System.nanoTime()

  /** Stage timestamps on stderr: where a run's wall time goes. */
  private def stage(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  def bench(cfg: Config, spansOut: Option[Path]): Unit = {
    val run = new Run(cfg)
    val w: Workload = cfg.workload match {
      case "search_interactive" => new SearchInteractive(run)
      case "search_bulk" => new SearchBulk(run)
      case "index_ingest" => new IndexIngest(run)
      case "pipeline_mix" => new PipelineMix(run)
    }
    run.startSession()
    stage("session")
    w.prepare()
    stage("inputs written")
    // set-up = session start + the stores the workload reads, several
    // times; traced runs record the store builds as spans
    run.setTracing(cfg.trace)
    val setups = (1 to w.setupRepeats).map { _ =>
      val t0 = System.nanoTime()
      run.startSession()
      w.buildStores()
      (System.nanoTime() - t0) / 1e9
    }
    run.setTracing(false)
    val setupEndNs = System.nanoTime()
    stage(s"set-up x${w.setupRepeats}: ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    w.warmup()
    stage("warm-up")
    // traced runs measure untraced / traced / untraced, so the overhead
    // compares the traced phase with untraced ones on both sides of it
    val half = math.max(1, cfg.seconds / 2)
    val base = w.phase(if (cfg.trace) half else cfg.seconds)
    stage(s"timed phase: ${base.ops} operations")
    val (phase, traced) =
      if (!cfg.trace) (base, None)
      else {
        // per-layer figures cover the traced phase: the running maximum of
        // execution memory restarts here, after the set-up builds
        run.counters.resetPeak()
        run.setTracing(true)
        val t = w.phase(cfg.seconds)
        run.setTracing(false)
        val after = w.phase(half)
        run.setTracing(true)
        w.probes()
        run.op += 1
        val tokens = run.span("tokenizer.tokenize") {
          w.corpus().select(sum(size(graft.functions.Tokenizer.tokenize(col("text")))))
            .head().getLong(0)
        }
        run.setTracing(false)
        (base, Some((t, Seq(base, after), tokens)))
      }
    if (cfg.trace) stage("traced phase and probes")
    w.verify()
    stage("outputs checked")
    val rss = run.peakRssMb()
    val (throughput, cpuPerUnit) = w.rates(phase)
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("latency_p50_ms", Stats.median(phase.latMs), "ms"),
      Metric("throughput_per_s", throughput, "1/s"),
      Metric("cpu_ms_per_op", cpuPerUnit, "ms"),
      Metric("index_bytes_per_input_byte", w.indexBytes().toDouble / w.inputTextBytes, "ratio"),
      Metric("peak_rss_mb", rss, "MB"))
    val metrics = traced match {
      case None => endToEnd
      case Some((t, untraced, tokens)) =>
        spansOut.foreach(run.tracer.write)
        Layers.metrics(run, w, untraced, t, tokens, setupEndNs)
    }
    val report = w.report(phase) ++ Seq(Metric("failed_ops_ratio",
      run.failed.toDouble / math.max(1L, run.attempted), "ratio"))
    run.stop()
    println("inputs " + obj(w.properties.map { case (k, v) => k -> json(v) }))
    println("report " + obj(report.map(m => m.name -> unitValue(m))))
    println(obj(Seq(
      "correct" -> (run.failed == 0 && run.attempted > 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> obj(metrics.map(m => m.name -> unitValue(m))))))
  }

  private def unitValue(m: Metric): String =
    obj(Seq("value" -> num(m.value), "unit" -> json(m.unit)))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric value $v") else v.toString

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => num(d)
    case other => other.toString
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}")
}

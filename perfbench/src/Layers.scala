package perfbench

/** Per-layer metrics of a traced run. Listener figures are per operation
  * of the traced phase (a query, a bulk call, an ingest round, a mix
  * pass), and `memory.peak_exec_bytes` is the largest task peak within
  * it; span figures are the mean duration of the named call. A layer a
  * workload does not exercise reports 0.
  */
object Layers {

  def metrics(run: Run, w: Workload, untraced: Seq[Phase], t: Phase,
              tokens: Long, setupEndNs: Long): Seq[Metric] = {
    val spans = run.tracer.spans
    def mean(name: String): Double = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size
    }
    // one defined build: the median set-up build (full corpus); a
    // workload whose set-up builds no index (index_ingest) reports its
    // rounds' builds instead
    val builds = spans.filter(_.name == "indexer.build")
    val setupBuilds = builds.filter(_.endNs <= setupEndNs)
    val buildMs = (if (setupBuilds.nonEmpty) setupBuilds else builds).map(_.durNs / 1e6)
    val ops = t.ops.toDouble
    def perOp(k: String, scale: Double = 1.0): Double = t.delta(k) * scale / ops
    // streams: every micro-batch recorded while tracing (the traced phase
    // and the probes), per streaming call and per batch
    val total = run.counters.snapshot()
    val batches = total("stream_batches").toDouble
    val streamCalls = spans.count(s => s.name == "streams.ingest" || s.name.startsWith("registry.stream_"))
    def perBatch(k: String): Double = if (batches == 0) 0.0 else total(k) / batches
    val batchMs = {
      import scala.jdk.CollectionConverters._
      run.counters.batchMs.asScala.toSeq.map(_.toDouble)
    }
    val constructs = spans.filter(s => s.name == "driver.construct" &&
      s.startNs >= t.startNs && s.endNs <= t.startNs + t.wallNs)
    // rows the engine's scans read per returned search row
    val returned = t.delta("result_rows")
    Seq(
      Metric("driver.construct_ms", constructs.map(_.durNs).sum / 1e6 / ops, "ms"),
      Metric("driver.analysis_ms", perOp("analysis_ms"), "ms"),
      Metric("driver.optimization_ms", perOp("optimization_ms"), "ms"),
      Metric("driver.planning_ms", perOp("planning_ms"), "ms"),
      Metric("scheduler.jobs", perOp("jobs"), "count"),
      Metric("scheduler.stages", perOp("stages"), "count"),
      Metric("scheduler.tasks", perOp("tasks"), "count"),
      Metric("scheduler.delay_ms", perOp("scheduler_delay_ms"), "ms"),
      Metric("tasks.executor_cpu_ms", perOp("executor_cpu_ns", 1e-6), "ms"),
      Metric("tasks.executor_run_ms", perOp("executor_run_ms"), "ms"),
      Metric("tasks.gc_ms", perOp("gc_ms"), "ms"),
      Metric("exchange.shuffle_write_bytes", perOp("shuffle_write_bytes"), "B"),
      Metric("exchange.shuffle_write_records", perOp("shuffle_write_records"), "count"),
      Metric("exchange.shuffle_read_bytes", perOp("shuffle_read_bytes"), "B"),
      Metric("exchange.fetch_wait_ms", perOp("fetch_wait_ms"), "ms"),
      Metric("memory.spill_bytes", perOp("spill_bytes"), "B"),
      Metric("memory.peak_exec_bytes", t.after.getOrElse("peak_exec_bytes", 0L).toDouble, "B"),
      Metric("tokenizer.tokenize_ms", mean("tokenizer.tokenize"), "ms"),
      Metric("tokenizer.tokens", tokens.toDouble, "count"),
      Metric("indexer.build_ms", if (buildMs.isEmpty) 0.0 else Stats.median(buildMs), "ms"),
      Metric("indexer.compact_ms", mean("indexer.compact"), "ms"),
      Metric("indexer.bytes_written", w.indexBytes().toDouble, "B"),
      Metric("indexer.files_per_bucket_max", w.filesPerBucketMax.toDouble, "count"),
      Metric("streams.batches", if (streamCalls == 0) 0.0 else batches / streamCalls, "count"),
      Metric("streams.batch_p50_ms", if (batchMs.isEmpty) 0.0 else Stats.median(batchMs), "ms"),
      Metric("streams.wal_commit_ms", perBatch("stream_wal_ms"), "ms"),
      Metric("streams.add_batch_ms", perBatch("stream_add_batch_ms"), "ms"),
      Metric("search.exact_ms", mean("search.exact"), "ms"),
      Metric("search.fuzzy_ms", mean("search.fuzzy"), "ms"),
      Metric("search.rows_examined_per_result",
        if (returned == 0) 0.0 else t.delta("records_read").toDouble / returned, "ratio"),
      Metric("search.bulk_text_ms", mean("search.bulk_text"), "ms"),
      Metric("search.bulk_hybrid_ms", mean("search.bulk_hybrid"), "ms"),
      Metric("vector.build_ms", mean("vector.build"), "ms"),
      Metric("vector.search_bulk_ms", mean("vector.search_bulk"), "ms")) ++
      PipelineMix.Queries.map(q => Metric(s"registry.${q}_ms", mean(s"registry.$q"), "ms")) ++
      Seq(Metric("trace.overhead_pct", 100.0 * ((t.wallNs.toDouble / t.ops) /
        (untraced.map(_.wallNs).sum.toDouble / untraced.map(_.ops).sum) - 1.0), "%"))
  }
}

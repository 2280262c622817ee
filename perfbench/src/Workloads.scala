package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Indexer, Search, VectorIndex}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one timed phase measured. `ops` are the workload's operations
  * (queries, bulk calls, ingest rounds, registry queries); `units` are what
  * throughput counts (queries, requests, documents, registry queries).
  */
final case class Phase(ops: Int, units: Long, latMs: Seq[Double], startNs: Long,
                       wallNs: Long, cpuNs: Long,
                       before: Map[String, Long], after: Map[String, Long]) {
  def delta(k: String): Long = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
}

/** One workload: how it prepares its inputs, builds its stores, runs its
  * timed phase, checks its outputs and names its numbers.
  */
abstract class Workload(val run: Run) {
  def spark: org.apache.spark.sql.SparkSession = run.spark
  def seed: Long = run.cfg.seed
  val K = 10

  def inputDir: Path = run.cfg.work.resolve("inputs")
  def path(name: String): String = inputDir.resolve(name).toString

  /** Set-ups per run; setup_s is their median. */
  def setupRepeats: Int = 3
  /** Generate and write the seeded inputs (not timed). */
  def prepare(): Unit
  /** Build the persisted stores the workload reads (part of setup_s). */
  def buildStores(): Unit = ()
  def warmup(): Unit
  /** Operations until `seconds` have passed; at least `minOps`. */
  def phase(seconds: Int): Phase
  /** Untimed output checks, tallied into attempted/failed. */
  def verify(): Unit
  /** Trace-only standalone calls into single layers. */
  def probes(): Unit = ()

  /** Table prefix of the term index the workload reads. */
  def indexPrefix: String
  def indexBytes(): Long = run.tableBytes(indexTables(indexPrefix))
  def filesPerBucketMax: Int = maxFilesPerBucket(indexPrefix)
  /** The documents the workload indexes. */
  def corpus(): DataFrame
  def inputTextBytes: Long
  /** Input properties that drive behaviour, printed with the result. */
  def properties: Seq[(String, Any)]
  /** The workload's named figures (search_p95_ms, mix_total_s, ...). */
  def report(p: Phase): Seq[Metric]

  /** Throughput (units per second) and process CPU ms per unit. */
  def rates(p: Phase): (Double, Double) =
    (p.units / (p.wallNs / 1e9), p.cpuNs / 1e6 / p.units)

  // ---- shared helpers ------------------------------------------------------

  /** Closed loop: call `op(i)` for i = 0, 1, ... until `seconds` elapse. */
  protected def loop(seconds: Int, minOps: Int)(op: Int => Unit): Phase = {
    val before = run.snapshot()
    val lat = mutable.ArrayBuffer[Double]()
    val c0 = run.cpuNs()
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < end || i < minOps) {
      val s = System.nanoTime()
      run.op += 1
      op(i)
      lat += (System.nanoTime() - s) / 1e6
      i += 1
    }
    val wall = System.nanoTime() - t0
    Phase(i, i.toLong, lat.toSeq, t0, wall, run.cpuNs() - c0, before, run.snapshot())
  }

  protected def hits(rows: Seq[Row]): Seq[Oracle.Hit] = {
    if (run.isTracing) run.resultRows += rows.size
    rows.map(r => Oracle.Hit(r.getAs[Any]("doc_id").toString.toLong,
      r.getAs[String]("title"), r.getAs[Double]("score")))
  }

  protected def writeDocs(docs: Seq[Doc], name: String): Unit =
    Inputs.docsFrame(spark, docs).repartition(run.cfg.cpus)
      .write.mode("overwrite").parquet(path(name))

  protected def utf8Bytes(docs: Seq[Doc]): Long =
    docs.map(_.text.getBytes("UTF-8").length.toLong).sum

  protected def indexTables(prefix: String): Seq[String] =
    Seq("postings", "term_df", "doc_info").map(t => s"${prefix}_$t")

  protected def maxFilesPerBucket(prefix: String): Int = {
    val c = Indexer.bucketFileCounts(spark, s"${prefix}_postings")
    if (c.isEmpty) 0 else c.values.max
  }
}

/** `search_interactive`: one client, closed loop, single queries against
  * the persisted term-bucketed index — exact, plus a share of typo'd
  * queries through the fuzzy path.
  */
final class SearchInteractive(r: Run) extends Workload(r) {
  private val Prefix = "pb"
  private val Warm = 5
  private lazy val docs = Inputs.corpus(seed)
  private lazy val oracle = new Oracle(docs.map(d => d.docId -> d.text))
  /** More than any run sends (a query takes 0.4 s or more on four cores). */
  private lazy val queries = Inputs.querySequence(seed, oracle, 2000)
  private var next = 0
  private val answers = mutable.ArrayBuffer[(Query, Seq[Oracle.Hit])]()

  def prepare(): Unit = { writeDocs(docs, "corpus"); queries }

  override def buildStores(): Unit = run.span("indexer.build") {
    Indexer.buildBucketedIndex(spark, spark.read.parquet(path("corpus")), Prefix)
  }

  private def one(q: Query): Seq[Oracle.Hit] =
    run.span(if (q.fuzzy) "search.fuzzy" else "search.exact") {
      val df = run.span("driver.construct") {
        if (q.fuzzy) Search.fuzzySearchPrebuilt(spark, q.text, Prefix, K)
        else Search.searchPrebuilt(spark, q.text, Prefix, K)
      }
      hits(df.collect().toSeq)
    }

  def warmup(): Unit = (0 until Warm).foreach { _ => one(queries(next)); next += 1 }

  def phase(seconds: Int): Phase = loop(seconds, minOps = 1) { _ =>
    val q = queries(next)
    next += 1
    run.attempt(s"query '${q.text}'")(one(q)).foreach(h => answers += q -> h)
  }

  def verify(): Unit = {
    answers.foreach { case (q, got) =>
      val toks = Oracle.tokenize(q.text).distinct
      val terms = if (q.fuzzy) oracle.expand(toks) else toks
      run.tally(1, oracle.check(terms, K, got).map(e => s"query '${q.text}': $e"))
    }
    bulkProbe.foreach(_.verify())
    ingestProbe.foreach(_.verify())
  }

  private var ingestFiles = 0
  private var bulkProbe: Option[SearchBulk] = None
  private var ingestProbe: Option[IndexIngest] = None

  /** The layers only the bulk and ingest paths reach (IVF-PQ index, bulk
    * BM25 and hybrid serving, streamed growth and compaction), probed once
    * each over this run's corpus so a traced run of this workload reports
    * every layer. Their outputs are checked in `verify` as the two
    * workloads check their own.
    */
  override def probes(): Unit = {
    run.op += 1
    val bulk = new SearchBulk(run, requestCount = 200)
    bulk.prepare()
    bulk.buildVectorIndex()
    bulk.warmup()
    bulk.probes()
    bulkProbe = Some(bulk)
    run.op += 1
    val ingest = new IndexIngest(run, nFiles = 3)
    ingest.prepare()
    ingest.round(searchAfter = false)
    ingestFiles = ingest.filesPerBucketMax
    ingest.probes()
    ingestProbe = Some(ingest)
  }

  /** Postings files per bucket after streamed growth (the ingest probe). */
  override def filesPerBucketMax: Int = ingestFiles

  def indexPrefix: String = Prefix
  def corpus(): DataFrame = spark.read.parquet(path("corpus"))
  def inputTextBytes: Long = utf8Bytes(docs)

  def properties: Seq[(String, Any)] = {
    val sent = queries.take(next)
    val strata = sent.flatMap(_.strata)
    val dfs = oracle.docFrequencies.values
    Seq("documents" -> docs.size, "vocabulary" -> dfs.size, "df_min" -> dfs.min,
      "df_max" -> dfs.max, "tokens_per_doc" -> oracle.avgLen,
      "near_duplicate_share" ->
        docs.count(d => d.text.endsWith(" " + Inputs.DupMarker)).toDouble / docs.size,
      "queries_sent" -> sent.size,
      "typo_share" -> sent.count(_.fuzzy).toDouble / sent.size) ++
      Seq(Inputs.Rare, Inputs.Mid, Inputs.Common, Inputs.Oov).map(s =>
        s"terms_$s" -> strata.count(_ == s).toDouble / strata.size)
  }

  def report(p: Phase): Seq[Metric] =
    Seq(Metric("search_queries", p.ops, "count"),
      Metric("search_p50_ms", Stats.median(p.latMs), "ms")) ++
      Stats.tailPercentile(p.latMs, 95).map(Metric("search_p95_ms", _, "ms")) ++
      Seq(Metric("search_cpu_ms_per_query", p.cpuNs / 1e6 / p.ops, "ms"))
}

/** `search_bulk`: one hybrid (BM25 + IVF-PQ, reciprocal-rank fused) bulk
  * call over a seeded request table, repeated.
  */
final class SearchBulk(r: Run, requestCount: Int = 500) extends Workload(r) {
  private val Prefix = "pb"
  private val VecPrefix = "pbv"
  private val Sample = 8
  private lazy val docs = Inputs.corpus(seed)
  private lazy val oracle = new Oracle(docs.map(d => d.docId -> d.text))
  private lazy val requests = Inputs.bulkRequests(seed, docs, requestCount)
  private val outputs = mutable.ArrayBuffer[Seq[Row]]()

  def prepare(): Unit = {
    val s = spark
    import s.implicits._
    writeDocs(docs, "corpus")
    Inputs.embeddings(seed).map { case (id, v, _) => (id, v.map(_.toDouble).toSeq) }
      .toDF("id", "v").repartition(run.cfg.cpus).write.mode("overwrite").parquet(path("emb"))
    requests.toDF("query_id", "query_text").repartition(run.cfg.cpus)
      .write.mode("overwrite").parquet(path("requests"))
  }

  override def buildStores(): Unit = {
    run.span("indexer.build") {
      Indexer.buildBucketedIndex(spark, spark.read.parquet(path("corpus")), Prefix)
    }
    buildVectorIndex()
  }

  def buildVectorIndex(): Unit = run.span("vector.build") {
    VectorIndex.trainAndBuild(spark, spark.read.parquet(path("emb")), VecPrefix)
  }

  private def call(): Seq[Row] = run.span("search.bulk_hybrid") {
    val df = run.span("driver.construct") {
      Search.hybridBulkSearchPrebuilt(spark, spark.read.parquet(path("requests")),
        Prefix, VecPrefix, K, nprobe = 8, shortlist = 40)
    }
    val rows = df.collect().toSeq
    if (run.isTracing) run.resultRows += rows.size
    rows
  }

  /** The warm-up call's rows are checked like the timed calls'. */
  def warmup(): Unit = outputs += call()

  def phase(seconds: Int): Phase = {
    val p = loop(seconds, minOps = 2) { _ =>
      run.attempt("bulk call", requestCount)(call()).foreach(outputs += _)
    }
    p.copy(units = p.ops.toLong * requestCount)
  }

  private def sample: Seq[Long] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5a3L))
      .shuffle(requests.map(_._1)).take(Sample).sorted

  private def fused(rs: Seq[Row]): Seq[(Long, String, Any, Any, Double)] = rs.map(r =>
    (r.getAs[Long]("doc_id"), r.getAs[String]("title"), r.getAs[Any]("text_rank"),
      r.getAs[Any]("vec_rank"), r.getAs[Double]("rrf")))

  def verify(): Unit = {
    val ids = requests.map(_._1).toSet
    outputs.zipWithIndex.foreach { case (out, i) =>
      val perQuery = out.groupBy(_.getAs[Long]("query_id"))
      val bad = perQuery.find { case (q, rs) => !ids(q) || rs.size > K }
      val drift = if (i > 0 && out != outputs.head) Some("differs from the first call") else None
      run.tally(requestCount, bad.map { case (q, rs) => s"bulk call $i: query $q has ${rs.size} rows" }
        .orElse(drift.map(d => s"bulk call $i $d")))
    }
    val texts = requests.toMap
    // text arm: the engine's bulk BM25 over the whole table (the probe's
    // rows when it ran), sample checked
    val text = textRows.getOrElse(bulkText()).groupBy(_.getAs[Long]("query_id"))
    // fused rows of the last bulk call vs the single-request hybrid form
    val last = outputs.lastOption.getOrElse(Nil).groupBy(_.getAs[Long]("query_id"))
    sample.foreach { q =>
      val got = hits(text.getOrElse(q, Nil)).sortBy(h => (-h.score, h.docId))
      run.tally(1, oracle.check(Oracle.tokenize(texts(q)).distinct, K, got)
        .map(e => s"bulk text arm, request $q '${texts(q)}': $e"))
      val single = run.attempt(s"hybrid single request $q") {
        val probe = spark.table(s"${VecPrefix}_forward")
          .filter(col("id") === q).select(col("id"), col("v"))
        fused(Search.hybridSearchPrebuilt(spark, texts(q), Prefix, VecPrefix, probe,
          K, nprobe = 8, shortlist = 40).collect().toSeq)
      }
      single.foreach { s =>
        val b = fused(last.getOrElse(q, Nil))
        run.tally(1, if (b == s) None
          else Some(s"request $q: bulk fused rows $b, single-request form $s"))
      }
    }
  }

  private var textRows: Option[Seq[Row]] = None

  private def bulkText(): Seq[Row] =
    Search.bulkSearch(spark.read.parquet(path("requests")),
      spark.table(s"${Prefix}_postings"), spark.table(s"${Prefix}_term_df"),
      spark.table(s"${Prefix}_doc_info"), K).collect().toSeq

  override def probes(): Unit = {
    textRows = Some(run.span("search.bulk_text")(bulkText()))
    run.span("vector.search_bulk") {
      val probes = spark.table(s"${VecPrefix}_forward")
        .join(spark.read.parquet(path("requests")).select(col("query_id").as("id")), "id")
        .select(col("id"), col("v"))
      VectorIndex.searchBulk(spark, VecPrefix, probes, K, 8, 40)
        .write.format("noop").mode("overwrite").save()
    }
  }

  def indexPrefix: String = Prefix
  def corpus(): DataFrame = spark.read.parquet(path("corpus"))
  def inputTextBytes: Long = utf8Bytes(docs)

  def properties: Seq[(String, Any)] = {
    val perTerm = requests.flatMap { case (_, t) => Oracle.tokenize(t).distinct }
      .groupBy(identity).values.map(_.size)
    Seq("documents" -> docs.size, "embeddings" -> Inputs.Embeddings,
      "requests" -> requestCount,
      "requests_with_vector" -> requests.count(_._1 < Inputs.Embeddings),
      "requests_per_shared_term" -> perTerm.filter(_ > 1).sum.toDouble / perTerm.count(_ > 1))
  }

  def report(p: Phase): Seq[Metric] = Seq(
    Metric("bulk_requests_per_s", p.units / (p.wallNs / 1e9), "1/s"),
    Metric("bulk_cpu_ms_per_request", p.cpuNs / 1e6 / p.units, "ms"))
}

/** `index_ingest`: build the term-bucketed index over half the corpus,
  * stream the other half in as staged files (one micro-batch per file,
  * in-stream compaction on), then search the grown index.
  */
final class IndexIngest(r: Run, nFiles: Int = 5) extends Workload(r) {
  val MaxFilesPerBucket = 3
  private val Searches = 10
  private lazy val docs = Inputs.corpus(seed)
  private lazy val oracle = new Oracle(docs.map(d => d.docId -> d.text))
  private lazy val split = Inputs.ingestSplit(seed, docs, nFiles)
  private lazy val searches = Inputs.querySequence(seed, oracle, 400)
    .filterNot(_.fuzzy).map(_.text).distinct.take(Searches)
  private var built = 0
  private val ingestNs = mutable.ArrayBuffer[Long]()
  private var ingestCpuNs = 0L
  private var okRounds = 0
  private val searchMs = mutable.ArrayBuffer[Double]()
  private val answers = mutable.ArrayBuffer[(String, Seq[Oracle.Hit])]()
  private var grownFiles = 0

  private def stream: String = path("stream")
  private def prefix(i: Int) = s"ing$i"

  def prepare(): Unit = {
    writeDocs(split._1, "build")
    Files.createDirectories(Path.of(stream))
    Files.list(Path.of(stream)).forEach(f => Files.delete(f))
    // one parquet file per micro-batch: documents.parquet, documents.parquet1, ...
    split._2.zipWithIndex.foreach { case (part, i) =>
      val tmp = path(s"stage$i")
      Inputs.docsFrame(spark, part).coalesce(1).write.parquet(tmp)
      val f = Files.list(Path.of(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(f, Path.of(stream, if (i == 0) "documents.parquet" else s"documents.parquet$i"))
    }
    searches
  }

  /** Build, grow, search: one ingest round into fresh tables. */
  def round(searchAfter: Boolean = true): Unit = {
    val p = prefix(built)
    if (built > 1) indexTables(prefix(built - 2)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val c0 = run.cpuNs()
    val t0 = System.nanoTime()
    run.span("indexer.build") {
      Indexer.buildBucketedIndex(spark, spark.read.parquet(path("build")), p)
    }
    run.span("streams.ingest") {
      graft.streaming.DocStreams.ingestAppend(spark, stream, p, Some(MaxFilesPerBucket))
    }
    ingestNs += System.nanoTime() - t0
    ingestCpuNs += run.cpuNs() - c0
    grownFiles = maxFilesPerBucket(p)
    if (searchAfter) searches.foreach { q =>
      val s = System.nanoTime()
      val got = run.span("search.exact") {
        hits(run.span("driver.construct")(Search.searchPrebuilt(spark, q, p, K)).collect().toSeq)
      }
      searchMs += (System.nanoTime() - s) / 1e6
      answers += q -> got
    }
    built += 1
  }

  def warmup(): Unit = round()

  def phase(seconds: Int): Phase = {
    ingestNs.clear(); searchMs.clear(); ingestCpuNs = 0L
    val ops = 1 + nFiles + Searches
    val p = loop(seconds, minOps = 1) { _ =>
      run.attempt("ingest round", ops)(round()).foreach(_ => okRounds += 1)
    }
    p.copy(units = ingestNs.size.toLong * docs.size, latMs = searchMs.toSeq)
  }

  override def rates(p: Phase): (Double, Double) =
    (p.units / (ingestNs.sum / 1e9), ingestCpuNs / 1e6 / p.units)

  def verify(): Unit = {
    answers.foreach { case (q, got) =>
      run.tally(1, oracle.check(Oracle.tokenize(q).distinct, K, got)
        .map(e => s"search after growth '$q': $e"))
    }
    // each round's build and streamed batches: checked through the grown
    // index below
    run.tally(okRounds.toLong * (1 + nFiles), None)
    val grown = prefix(built - 1)
    run.attempt("reference build") {
      Indexer.buildBucketedIndex(spark, corpus(), "ingref")
    }.foreach { _ =>
      indexTables(grown).zip(indexTables("ingref")).foreach { case (g, f) =>
        val (a, b) = (Fingerprint.of(spark.table(g)), Fingerprint.of(spark.table(f)))
        run.tally(1, if (a == b) None
          else Some(s"grown $g hashes $a, from-scratch build $b"))
      }
    }
  }

  override def probes(): Unit = run.span("indexer.compact") {
    // threshold 0: every bucket is rewritten, so this times a full compaction
    Indexer.compactBucketedIndex(spark, prefix(built - 1), maxFilesPerBucket = 0)
  }

  def indexPrefix: String = prefix(built - 1)
  def corpus(): DataFrame = spark.read.parquet(path("build"), s"$stream/documents.parquet*")
  def inputTextBytes: Long = utf8Bytes(docs)
  /** Measured right after growth, before any standalone compaction. */
  override def filesPerBucketMax: Int = grownFiles

  def properties: Seq[(String, Any)] = Seq(
    "documents" -> docs.size, "built_documents" -> split._1.size,
    "streamed_documents" -> split._2.map(_.size).sum, "ingest_files" -> nFiles,
    "max_files_per_bucket" -> MaxFilesPerBucket, "searches_per_round" -> searches.size,
    "index_bytes" -> indexBytes())

  def report(p: Phase): Seq[Metric] = Seq(
    Metric("ingest_docs_per_s", rates(p)._1, "1/s"),
    Metric("ingest_search_p50_ms", Stats.median(p.latMs), "ms"),
    Metric("index_bytes_per_input_byte", indexBytes().toDouble / inputTextBytes, "ratio"))
}

/** `pipeline_mix`: one pass over a fixed list of registry queries, each
  * written to the `noop` sink, repeated.
  */
final class PipelineMix(r: Run) extends Workload(r) {
  /** A fixed order: queries share cached subplans within a pass, so the
    * order is part of the workload. The fixture is fixed too; the seed
    * changes nothing here.
    */
  private val order = PipelineMix.Queries
  private val fingerprints = mutable.ArrayBuffer[(String, Fingerprint)]()
  private var passes = 0
  private def fixture: String = path("fixture")

  def prepare(): Unit = Inputs.writeFixture(spark, fixture)

  /** Set-up here is a session start alone (the registry builds its stores
    * inside the queries), ~0.1 s: more repeats keep its median steady.
    */
  override def setupRepeats: Int = 9

  /** One pass over the mix. Timed passes write each result to the `noop`
    * sink; the warm-up pass fingerprints each result instead.
    */
  /** Wall seconds of each query in the timed passes. */
  private val querySeconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  private def pass(timed: Boolean): Unit = {
    order.foreach { q =>
      val t0 = System.nanoTime()
      run.attempt(s"registry query $q") {
        run.span(s"registry.$q") {
          val df = run.span("driver.construct")(graft.Queries.all(q)(spark, fixture))
          if (timed) df.write.format("noop").mode("overwrite").save()
          else fingerprints += q -> Fingerprint.of(df)
        }
      }.foreach(_ => if (timed) run.tally(1, None))
      if (timed) querySeconds.getOrElseUpdate(q, mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e9
    }
    // shared subplans one query caches for the next are per-pass state
    graft.CacheRegistry.releaseAll()
    if (timed) passes += 1
  }

  def warmup(): Unit = pass(timed = false)

  /** Operations are passes (latency = pass time); throughput and CPU
    * count registry queries.
    */
  def phase(seconds: Int): Phase = {
    val p = loop(seconds, minOps = 1)(_ => pass(timed = true))
    p.copy(units = p.ops.toLong * order.size)
  }

  /** Each query's result, fingerprinted in the warm-up pass, against the
    * fingerprints recorded for this fixture.
    */
  def verify(): Unit = {
    val expected = Fingerprint.load(run.cfg.fingerprints)
    if (run.cfg.record) Fingerprint.save(run.cfg.fingerprints, fingerprints.toSeq)
    else fingerprints.foreach { case (q, f) =>
      run.tally(1, if (expected.get(q).contains(f)) None
        else Some(s"registry query $q fingerprint $f, recorded ${expected.get(q)}"))
    }
  }

  /** The persisted index the registry builds for bm25_search_prebuilt. */
  def indexPrefix: String = "graft_idx_" + fixture.replaceAll("[^A-Za-z0-9]", "_")
  def corpus(): DataFrame = spark.read.parquet(s"$fixture/documents.parquet")
  def inputTextBytes: Long = utf8Bytes(Inputs.fixtureCorpus)

  def properties: Seq[(String, Any)] = Seq("queries" -> order.mkString(","),
    "timed_passes" -> passes, "fixture_seed" -> Inputs.FixtureSeed,
    "fixture_scale" -> Inputs.FixtureScale,
    "fixture_documents" -> Inputs.fixtureRows(Inputs.CorpusDocs),
    "fixture_embeddings" -> Inputs.fixtureRows(Inputs.Embeddings),
    "fixture_events" -> Inputs.fixtureRows(Inputs.Events),
    "fixture_lineitems" -> Inputs.fixtureRows(Inputs.Lineitems))

  def report(p: Phase): Seq[Metric] = Seq(
    Metric("mix_total_s", p.wallNs / 1e9 / p.ops, "s"),
    Metric("mix_cpu_s", p.cpuNs / 1e9 / p.ops, "s")) ++
    querySeconds.map { case (q, ts) => Metric(s"mix_${q}_s", Stats.median(ts.toSeq), "s") }
}

object PipelineMix {
  /** The registry queries of the mix: the regression set of ROADMAP.md
    * plus the flagship search over the persisted index, whose index gives
    * the mix its space figure.
    */
  val Queries: Seq[String] = Seq("knn_graph", "stream_dedup_near",
    "stream_session_window", "index_postings", "events_rolling_1h",
    "events_session_window", "percentiles", "dedup_embedding_cosine",
    "graph_pagerank", "q1_agg", "bm25_search_prebuilt")
}

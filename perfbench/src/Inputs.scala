package perfbench

import java.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Doc(docId: Long, text: String, lang: String, source: String)

/** A query the interactive client sends: its text, whether it goes through
  * the typo-tolerant path, and the df stratum of each token.
  */
final case class Query(text: String, fuzzy: Boolean, strata: Seq[String])

/** Seeded input generator. Everything the engine receives — corpus,
  * embeddings, query stream, bulk request table, ingest split, registry
  * fixture tables — is a function of the seed alone.
  *
  * The tables follow the sf0.1 test data as measured (README.md,
  * "Inputs"): the same row counts, the same columns and value ranges, the
  * same document-length, term-frequency and near-duplicate figures. The
  * seed changes the draws, not those figures.
  */
object Inputs {
  val CorpusDocs = 5000
  val Embeddings = 2000
  val Dim = 64
  val Events = 100000
  val Lineitems = 600000

  /** The 30 words of sf0.1's documents, each drawn with equal odds (every
    * one of them has df 3 800-3 920 of 5 000 there).
    */
  val Vocabulary: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  /** sf0.1 marks its near-duplicates by appending this word to a copy of
    * another document's text.
    */
  val DupMarker = "dup"
  val DupShare = 0.05
  /** Words per original document: uniform over [10, 99] in sf0.1. */
  val MinWords = 10
  val MaxWords = 99

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** `n` consonant-vowel syllables: 2n letters. */
  private def syllables(rng: Random, n: Int): String =
    (0 until n).map(_ => s"${Consonants(rng.nextInt(Consonants.length))}" +
      Vowels(rng.nextInt(Vowels.length))).mkString

  /** Rank sampler with P(rank r) ∝ 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The corpus, as sf0.1 builds it: each document 10-99 words drawn
    * uniformly from the vocabulary and joined by single spaces; then 5 %
    * of the documents are replaced by another document's text plus
    * " dup" (two copies of one original are exact duplicates of each
    * other, and a copy of a copy carries the marker twice). Language is
    * "en" 40 %, else one of four others; source is `src<doc_id mod 20>`.
    */
  def corpus(seed: Long, n: Int = CorpusDocs): IndexedSeq[Doc] = {
    val rng = new Random(seed)
    val texts = Array.fill(n) {
      Seq.fill(MinWords + rng.nextInt(MaxWords - MinWords + 1))(
        Vocabulary(rng.nextInt(Vocabulary.size))).mkString(" ")
    }
    val dups = scala.util.Random.javaRandomToRandom(rng)
      .shuffle((0 until n).toVector).take(math.round(n * DupShare).toInt)
    dups.foreach { i =>
      val j = Iterator.continually(rng.nextInt(n)).find(_ != i).get
      texts(i) = texts(j) + " " + DupMarker
    }
    texts.indices.map { i =>
      val r = rng.nextDouble()
      val lang = if (r < 0.4) "en" else Seq("zh", "es", "fr", "de")(((r - 0.4) / 0.15).toInt min 3)
      Doc(i.toLong, texts(i), lang, s"src${i % 20}")
    }
  }

  /** (vec_id, embedding, label) as in sf0.1: unit-norm 64-d vectors with
    * independent Gaussian directions and a uniform label 0-9 that carries
    * no cluster structure (each label's mean vector has norm ≈ 1/√200).
    */
  def embeddings(seed: Long, n: Int = Embeddings): IndexedSeq[(Long, Array[Float], Int)] = {
    val rng = new Random(seed ^ 0x5eedL)
    (0 until n).map { i =>
      val v = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddingsFrame(spark: SparkSession,
                      emb: Seq[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    emb.map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
  }

  // ---- query stream ---------------------------------------------------------

  val Rare = "rare"; val Mid = "mid"; val Common = "common"; val Oov = "oov"
  private val QueryOrderSeed = 7L

  /** df strata relative to the corpus size: rare ≤ 0.1 % of the
    * documents, mid < 10 %, common the rest. On sf0.1's corpus the 30
    * vocabulary words are common (~77 %) and the marker `dup` is mid
    * (~5 %); no term is rare.
    */
  def stratum(df: Int, docs: Int): String =
    if (df <= docs / 1000) Rare else if (df * 10 < docs) Mid else Common

  /** A seeded pool of 1-5 token queries, then a closed-loop sequence drawn
    * Zipf-like from the pool in which every `typoEvery`-th query carries
    * one character substitution and goes to the fuzzy path — a fixed
    * share, so short runs see the same mix. A query's tokens are distinct
    * terms of the corpus, each with equal odds, except that two slots in
    * twenty (10 %) hold an out-of-vocabulary token.
    */
  def querySequence(seed: Long, oracle: Oracle, n: Int,
                    poolSize: Int = 300, typoEvery: Int = 10): IndexedSeq[Query] = {
    val rng = new Random(seed ^ 0x9e3779b97f4a7c15L)
    val dfs = oracle.docFrequencies
    val terms = dfs.keys.toIndexedSeq.sorted
    def oov(): String =
      Iterator.continually("qu" + syllables(rng, 2)).find(w => !dfs.contains(w)).get
    // OOV slots and query lengths follow fixed cycles, so every seed's
    // pool has the same shape — only the terms differ
    var slot = 0
    val pool = (0 until poolSize).map { j =>
      val picked = scala.util.Random.javaRandomToRandom(rng).shuffle(terms).iterator
      Seq.fill(1 + j % 5) {
        slot += 1
        if (slot % 10 == 7) (oov(), Oov)
        else { val t = picked.next(); (t, stratum(dfs(t), oracle.n)) }
      }
    }
    // the draw order over pool slots is the same for every seed: the seed
    // picks the terms, not how often a slot of a given shape repeats
    val zipf = new Zipf(poolSize, 1.0)
    val slots = new Random(QueryOrderSeed)
    (0 until n).map { j =>
      val typo = j % typoEvery == typoEvery - 1
      val q = Iterator.continually(pool(zipf.draw(slots)))
        .find(q => !typo || q.exists { case (w, s) => s != Oov && w.length >= 4 }).get
      if (typo) {
        val typoAt = q.indices.filter(i => q(i)._2 != Oov && q(i)._1.length >= 4)
        val i = typoAt(rng.nextInt(typoAt.size))
        val w = q(i)._1
        val p = rng.nextInt(w.length)
        val c = Iterator.continually(('a' + rng.nextInt(26)).toChar).find(_ != w(p)).get
        Query(q.updated(i, (w.updated(p, c), q(i)._2)).map(_._1).mkString(" "),
          fuzzy = true, q.map(_._2))
      } else Query(q.map(_._1).mkString(" "), fuzzy = false, q.map(_._2))
    }
  }

  /** `n` bulk requests (unique query_id, query_text). Each text is a run of
    * 2-5 consecutive tokens from a seeded document, so requests share
    * terms the way real traffic over one corpus does. Ids are drawn from
    * a range 20 % wider than the embedding ids, so some requests have no
    * stored vector and take the text arm only.
    */
  def bulkRequests(seed: Long, docs: IndexedSeq[Doc], n: Int): IndexedSeq[(Long, String)] = {
    val rng = new Random(seed ^ 0xb01cL)
    val ids = scala.util.Random.javaRandomToRandom(rng)
      .shuffle((0L until (Embeddings * 6 / 5).toLong).toVector).take(n)
    ids.map { id =>
      val toks = Iterator.continually(Oracle.tokenize(docs(rng.nextInt(docs.size)).text))
        .find(_.size >= 2).get
      val len = math.min(toks.size, 2 + rng.nextInt(4))
      val start = rng.nextInt(toks.size - len + 1)
      id -> toks.slice(start, start + len).mkString(" ")
    }
  }

  /** Seeded ingest split: half the corpus for the initial build, the other
    * half dealt into `files` staged files for the stream.
    */
  def ingestSplit(seed: Long, docs: IndexedSeq[Doc],
                  files: Int): (IndexedSeq[Doc], IndexedSeq[IndexedSeq[Doc]]) = {
    val rng = scala.util.Random.javaRandomToRandom(new Random(seed ^ 0x1a6e57L))
    val shuffled = rng.shuffle(docs)
    val (build, stream) = shuffled.splitAt(docs.size / 2)
    (build.sortBy(_.docId),
      (0 until files).map(f => stream.zipWithIndex.collect {
        case (d, i) if i % files == f => d
      }.sortBy(_.docId)))
  }

  // ---- registry fixture -----------------------------------------------------

  /** Fixed seed of the registry fixture: its query results are pinned by
    * the fingerprints, so the tables must not change with the run seed.
    */
  val FixtureSeed = 20240101L
  /** Share of sf0.1's row counts the fixture has; every table is scaled
    * alike (README.md, "Inputs", gives the measured reason).
    */
  val FixtureScale = 0.05

  def fixtureRows(rows: Int): Int = math.round(rows * FixtureScale).toInt

  def fixtureCorpus: IndexedSeq[Doc] = corpus(FixtureSeed, fixtureRows(CorpusDocs))

  /** Uniform [0, 1) per row and column, from a hash of (seed, column, id):
    * the same for any partitioning of the row range.
    */
  private def uniform(seed: Long, column: Int): Column =
    (xxhash64(lit(seed), lit(column), col("id")).bitwiseAND(lit((1L << 53) - 1))
      .cast("double") / math.pow(2, 53))

  private def below(seed: Long, column: Int, n: Int): Column =
    floor(uniform(seed, column) * n).cast("long")

  /** The registry queries' input tables (documents, embeddings, events,
    * lineitem) with sf0.1's columns and value ranges, each one parquet
    * file of one row group as in sf0.1, written under `dir`.
    */
  def writeFixture(spark: SparkSession, dir: String): Unit = {
    val s = FixtureSeed
    docsFrame(spark, fixtureCorpus).coalesce(1).write.parquet(s"$dir/documents.parquet")
    embeddingsFrame(spark, embeddings(s, fixtureRows(Embeddings)))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    // events: ts uniform over 2024-01-01 .. 2024-01-31 and ascending with
    // event_id, 1 500 users, five equally likely types, value exponential
    // with mean 50 on the cent grid, props {"k": 0..99}
    val nEv = fixtureRows(Events)
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val span = 30L * 86400L * 1000000L
    spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(start) + floor((col("id") + uniform(s, 0)) / nEv * span)
        .cast("long")).cast("timestamp_ntz").as("ts"),
      below(s, 1, 1500).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (below(s, 2, 5) + 1).cast("int")).as("event_type"),
      round(-log1p(-uniform(s, 3)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), below(s, 4, 100).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    // lineitem: every column independent and uniform over sf0.1's range
    val day = 86400L * 1000000L
    val d0 = 789004800000000L // 1995-01-02 in µs
    spark.range(fixtureRows(Lineitems)).select(
      below(s, 10, 150000).as("l_orderkey"),
      below(s, 11, 20000).as("l_partkey"),
      below(s, 12, 1000).as("l_suppkey"),
      (below(s, 13, 7) + 1).cast("int").as("l_linenumber"),
      (below(s, 14, 50) + 1).cast("double").as("l_quantity"),
      round(uniform(s, 15) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (below(s, 16, 11).cast("double") / 100.0).as("l_discount"),
      (below(s, 17, 9).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (below(s, 18, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (below(s, 19, 2) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_micros(lit(d0) + below(s, 20, 2499) * day).cast("timestamp_ntz")
        .as("l_shipdate"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }
}

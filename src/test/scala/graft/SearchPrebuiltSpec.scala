package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Indexer, Search, VectorIndex}

/** The persisted-index search paths must return exactly what the
  * in-memory plans return over the same documents: `searchPrebuilt` ==
  * `searchDocs`, `fuzzySearchPrebuilt` == `fuzzySearch`, across the edge
  * shapes of a query (no indexed term, no token at all, repeated tokens,
  * k past the candidate set, a score tie at the k-th cut).
  */
class SearchPrebuiltSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val prefix = "graft_search_equiv"

  private lazy val docs: DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  private lazy val index: String = {
    Indexer.buildBucketedIndex(spark, docs, prefix)
    prefix
  }

  private lazy val nDocs: Int = docs.count().toInt

  private def fuzzyInMemory(q: String, k: Int): Seq[Row] = {
    val p = Indexer.postings(docs)
    Search.fuzzySearch(spark, q, p, Indexer.termDf(p), Indexer.docInfo(docs), k)
      .collect().toSeq
  }

  private def assertExact(q: String, k: Int): Seq[Row] = {
    val got = Search.searchPrebuilt(spark, q, index, k).collect().toSeq
    val want = Search.searchDocs(spark, docs, q, k).collect().toSeq
    assert(got == want, s"searchPrebuilt('$q', k=$k) != searchDocs")
    got
  }

  test("searchPrebuilt equals searchDocs on the query edge shapes") {
    assert(assertExact("spark filter join stream data", 10).size == 10)
    // duplicate tokens score once, exactly as the de-duplicated query
    assert(assertExact("spark SPARK, data spark", 10) ==
      assertExact("spark data", 10))
    // no indexed term, and no token at all: empty, not an error
    assert(assertExact("qqqxyzzy zzzvvv", 10).isEmpty)
    assert(assertExact("", 10).isEmpty)
    assert(assertExact("  ,;  ", 5).isEmpty)
    // k past the candidate set returns every candidate
    val all = assertExact("spark", nDocs + 5)
    assert(all.nonEmpty && all.size < nDocs + 5)
  }

  test("searchPrebuilt equals searchDocs when the k-th cut splits a score tie") {
    // every (term, tf, length) repeat gives equal scores; find a one-term
    // query and a k whose k-th and (k+1)-th candidates tie
    val terms = spark.table(s"${index}_term_df").orderBy(col("df").desc)
      .select("term").collect().map(_.getString(0)).take(20)
    val cut = terms.iterator.flatMap { t =>
      val scores = Search.searchDocs(spark, docs, t, nDocs).collect()
        .map(_.getAs[Double]("score"))
      (1 until scores.length - 1).find(i => scores(i - 1) == scores(i))
        .map(i => (t, i))
    }.nextOption()
    assert(cut.isDefined, "no tied scores among the 20 commonest terms")
    val (t, k) = cut.get
    val rows = assertExact(t, k)
    assert(rows.size == k)
  }

  test("fuzzySearchPrebuilt equals the in-memory fuzzySearch") {
    val flagship = Search.fuzzySearchPrebuilt(spark,
      "spork filtr joib stream datq", index, 10).collect().toSeq
    assert(flagship.size == 10)
    assert(flagship == fuzzyInMemory("spork filtr joib stream datq", 10))
    for ((q, k) <- Seq(
        ("strem strem", 10),          // duplicate typo'd tokens
        ("qqqxyzzy", 10),             // nothing within one edit
        ("", 10),                     // no token
        ("sprk", nDocs + 5))) {       // k past the candidate set
      val got = Search.fuzzySearchPrebuilt(spark, q, index, k).collect().toSeq
      assert(got == fuzzyInMemory(q, k), s"fuzzySearchPrebuilt('$q', k=$k)")
    }
  }

  test("hybridSearchPrebuilt fuses the unchanged text arm with the vector arm") {
    val vPrefix = "graft_search_equiv_v"
    val emb = Tables.embeddings(spark, dir).select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
    VectorIndex.trainAndBuild(spark, emb, vPrefix)
    val probe = spark.table(s"${vPrefix}_vectors")
      .filter(col("id") === 0L).select(col("id"), col("v"))
    val q = "spark filter join stream data"
    val k = 10
    val got = Search.hybridSearchPrebuilt(spark, q, index, vPrefix, probe, k)
      .collect().toSeq
    // reference fusion on the driver over the two arms' own outputs
    val text = Search.searchDocs(spark, docs, q, k).collect()
      .map(_.getAs[Any]("doc_id").toString.toLong).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val vec = VectorIndex.searchPrebuilt(spark, vPrefix, probe, k, 8, 40)
      .collect().map(r => r.getAs[Long]("cand_id") -> r.getAs[Long]("rank")).toMap
    val titles = spark.table(s"${index}_doc_info").collect()
      .map(r => r.getAs[Any]("doc_id").toString.toLong -> r.getAs[String]("title"))
      .toMap
    def rr(r: Option[Long]): Double = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    val want = (text.keySet ++ vec.keySet).toSeq
      .map(d => (d, rr(text.get(d)) + rr(vec.get(d))))
      .sortBy { case (d, s) => (-s, d) }.take(k)
      .map { case (d, s) => Row(d, titles(d),
        text.get(d).map(Long.box).orNull, vec.get(d).map(Long.box).orNull, s) }
    assert(got == want)
  }
}

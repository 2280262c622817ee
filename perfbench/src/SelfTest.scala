package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: the percentile helper, span self-time
  * arithmetic, and the reference BM25 on the tokenizer corner cases —
  * the last also cross-checked against the engine's in-memory search.
  * Exit code 0 when every check holds.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  private def close(a: Double, b: Double, eps: Double = 1e-12) = math.abs(a - b) <= eps

  def run(): Int = {
    percentiles()
    spans()
    oracle()
    engineParity()
    println(s"self-test: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }

  private def percentiles(): Unit = {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    check("p50 of 1..5 is 3")(Stats.percentile(xs, 50) == 3.0)
    check("p0 / p100 are min / max")(
      Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 5.0)
    check("p50 of 1..4 interpolates to 2.5")(Stats.percentile(Seq(1.0, 2, 3, 4), 50) == 2.5)
    check("p95 of 0..100 is 95")(close(Stats.percentile((0 to 100).map(_.toDouble), 95), 95.0))
    check("a single sample is every percentile")(Stats.percentile(Seq(7.0), 95) == 7.0)
    val n200 = (1 to 200).map(_.toDouble)
    check("200 samples leave 10 beyond p95")(Stats.beyond(200, 95) == 10)
    check("p95 reported with 10 samples beyond it")(
      Stats.tailPercentile(n200, 95).exists(v => close(v, Stats.percentile(n200, 95))))
    check("p95 withheld with 9 samples beyond it")(
      Stats.beyond(180, 95) == 9 && Stats.tailPercentile((1 to 180).map(_.toDouble), 95).isEmpty)
    check("p95 withheld on an empty sample")(Stats.tailPercentile(Nil, 95).isEmpty)
  }

  private def span(id: Int, parent: Int, s: Long, e: Long) =
    Span(id, s"s$id", parent, -1L, s, e, Map.empty, Map.empty)

  private def spans(): Unit = {
    val root = span(1, 0, 0, 100)
    check("no children: self time is the duration")(Span.selfNs(root, Nil) == 100)
    check("disjoint children are subtracted")(
      Span.selfNs(root, Seq(span(2, 1, 10, 30), span(3, 1, 60, 70))) == 70)
    check("overlapping children count once")(
      Span.selfNs(root, Seq(span(2, 1, 10, 30), span(3, 1, 20, 50))) == 60)
    check("a child inside another counts once")(
      Span.selfNs(root, Seq(span(2, 1, 10, 60), span(3, 1, 20, 30))) == 50)
    check("children are clipped to the parent")(
      Span.selfNs(root, Seq(span(2, 1, -20, 10), span(3, 1, 90, 130))) == 80)
    // nested: 1 ⊃ 2 ⊃ 3; each level subtracts only its direct children
    val self = Span.selfTimes(Seq(root, span(2, 1, 10, 60), span(3, 2, 20, 30),
      span(4, 1, 55, 80)))
    check("nested self times")(self == Map(1 -> 30L, 2 -> 40L, 3 -> 10L, 4 -> 25L))
    // siblings 2 and 4 overlap by 5 ns, which both of them count as self time
    check("self times sum to the root's duration plus sibling overlap")(
      self.values.sum == 100L + 5L)
  }

  /** FIXTURES A1 corner cases: Unicode letters, underscores, em-dash
    * joined words, mixed case, tf > 1, df > 1, empty and blank text.
    */
  val Corpus: Seq[(Long, String)] = Seq(
    1L -> "Héllo naïve_word héllo",
    2L -> "foo—bar Foo",
    3L -> "",
    4L -> "   ",
    5L -> "héllo 42 bar!!!")

  private def oracle(): Unit = {
    check("tokens: Unicode letters and underscores stay in one token")(
      Oracle.tokenize("Héllo naïve_word") == Seq("héllo", "naïve_word"))
    check("tokens: em-dash splits foo—bar")(Oracle.tokenize("foo—bar") == Seq("foo", "bar"))
    check("tokens: punctuation runs and empty text")(
      Oracle.tokenize("bar!!!,,x") == Seq("bar", "x") && Oracle.tokenize("") == Nil &&
        Oracle.tokenize("   ") == Nil)
    val o = new Oracle(Corpus)
    check("df > 1 and tf counted once per document")(
      o.df("héllo") == 2 && o.df("bar") == 2 && o.df("foo") == 1 && o.df("missing") == 0)
    check("N counts empty documents; average length includes them")(
      o.n == 5 && close(o.avgLen, 9.0 / 5))
    val idf = math.log(5.0 / 2)
    def score(tf: Int, len: Int) = idf * tf * 2.0 / (tf + (0.25 + 0.75 * len / 1.8))
    val top = o.topK(Seq("héllo"), 10)
    check("tf > 1 outranks tf = 1 at equal length")(
      top.map(_.docId) == Seq(1L, 5L) &&
        top(0).score == math.round(score(2, 3) * 1e6) / 1e6 &&
        top(1).score == math.round(score(1, 3) * 1e6) / 1e6)
    check("idf floors at zero: a term in every document adds nothing")(
      close(new Oracle(Seq(1L -> "a b", 2L -> "a")).scores(Seq("a")).values.max, 0.0))
    check("ties order by doc_id ascending")(
      new Oracle(Seq(9L -> "x y", 3L -> "x z", 4L -> "q")).topK(Seq("x"), 10)
        .map(_.docId) == Seq(3L, 9L))
    check("check() accepts the reference result")(o.check(Seq("héllo"), 10, top).isEmpty)
    check("check() rejects a wrong score")(
      o.check(Seq("héllo"), 10, top.updated(0, top(0).copy(score = top(0).score + 1e-3))).nonEmpty)
    check("check() rejects a missing row")(o.check(Seq("héllo"), 10, top.take(1)).nonEmpty)
    check("check() rejects a swapped order")(o.check(Seq("héllo"), 10, top.reverse).nonEmpty)
    check("fuzzy expansion: one edit, code points")(
      o.expand(Seq("hello")) == Seq("héllo") && o.expand(Seq("fo")) == Seq("foo"))
  }

  /** The engine's in-memory search over the same corpus must pass the
    * reference check for every query.
    */
  private def engineParity(): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val docs = Corpus.toDF("doc_id", "text")
      val o = new Oracle(Corpus)
      Seq("HÉLLO", "foo bar", "naïve_word", "42", "héllo bar foo", "nothing").foreach { q =>
        val got = graft.operators.Search.searchDocs(spark, docs, q, 10).collect().toSeq
          .map(r => Oracle.Hit(r.getAs[Any]("doc_id").toString.toLong,
            r.getAs[String]("title"), r.getAs[Double]("score")))
        val err = o.check(Oracle.tokenize(q).distinct, 10, got)
        check(s"engine search '$q' matches the reference${err.map(": " + _).getOrElse("")}")(
          err.isEmpty)
      }
    } finally spark.stop()
  }
}

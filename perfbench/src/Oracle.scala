package perfbench

import scala.collection.mutable

/** Reference BM25 in plain Scala on the driver — the offline oracle every
  * search result is checked against. Same math as the reference engine:
  * k1 = 1.0, b = 0.75, idf = ln(max(1, N / max(1, df))), tokens from
  * `(?U)[^\w\s]` → space over the lower-cased text, top-k by score desc
  * then doc_id asc, scores compared on the 1e-6 grid.
  */
object Oracle {
  val K1 = 1.0
  val B = 0.75

  private val NonWord = java.util.regex.Pattern.compile("(?U)[^\\w\\s]")
  private val Ws = java.util.regex.Pattern.compile("(?U)\\s+")

  def tokenize(text: String): Seq[String] =
    if (text == null) Nil
    else Ws.split(NonWord.matcher(text.toLowerCase(java.util.Locale.ROOT))
      .replaceAll(" ")).toSeq.filter(_.nonEmpty)

  /** Titles are the first 50 characters (code points) of the text. */
  def title(text: String): String = {
    val n = text.codePointCount(0, text.length)
    text.substring(0, text.offsetByCodePoints(0, math.min(50, n)))
  }

  /** Levenshtein distance over code points, as Spark's `levenshtein`. */
  def levenshtein(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    var prev = Array.tabulate(y.length + 1)(identity)
    x.indices.foreach { i =>
      val cur = new Array[Int](y.length + 1)
      cur(0) = i + 1
      y.indices.foreach { j =>
        val sub = prev(j) + (if (x(i) == y(j)) 0 else 1)
        cur(j + 1) = math.min(sub, math.min(prev(j + 1) + 1, cur(j) + 1))
      }
      prev = cur
    }
    prev(y.length)
  }

  def micros(x: Double): Long = math.round(x * 1e6)

  /** One returned row: (doc_id, title, score on the 1e-6 grid). */
  final case class Hit(docId: Long, title: String, score: Double)
}

/** An in-memory inverted index over (doc_id, text) pairs. */
final class Oracle(docs: Seq[(Long, String)]) {
  import Oracle._

  private val ids: Array[Long] = docs.map(_._1).toArray
  private val texts: Array[String] = docs.map(_._2).toArray
  private val indexOf: Map[Long, Int] = ids.zipWithIndex.toMap
  private val lengths: Array[Int] = new Array[Int](ids.length)
  /** term → (doc index, tf) */
  private val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Int, Int)]]()

  docs.indices.foreach { i =>
    val toks = tokenize(texts(i))
    lengths(i) = toks.size
    toks.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += ((i, occ.size))
    }
  }

  val n: Int = ids.length
  val avgLen: Double = if (n == 0) 0.0 else lengths.map(_.toLong).sum.toDouble / n

  def df(term: String): Int = postings.get(term).map(_.size).getOrElse(0)
  def docFrequencies: Map[String, Int] = postings.map { case (t, p) => t -> p.size }.toMap
  def textOf(docId: Long): String = texts(indexOf(docId))

  def idf(df: Int): Double = math.log(math.max(1.0, n.toDouble / math.max(1.0, df.toDouble)))

  def termScore(tf: Int, idfV: Double, len: Int): Double =
    idfV * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * len / avgLen))

  /** Raw score of every document holding at least one of `terms`
    * (distinct terms; a document matching only zero-idf terms scores 0
    * and is still a candidate, as in the engine's join).
    */
  def scores(terms: Seq[String]): Map[Int, Double] = {
    val acc = mutable.HashMap[Int, Double]()
    terms.distinct.foreach { t =>
      postings.get(t).foreach { ps =>
        val w = idf(ps.size)
        ps.foreach { case (d, tf) =>
          acc(d) = acc.getOrElse(d, 0.0) + termScore(tf, w, lengths(d))
        }
      }
    }
    acc.toMap
  }

  /** Vocabulary terms within `maxDist` edits of each query token — the
    * typo-tolerant expansion.
    */
  def expand(tokens: Seq[String], maxDist: Int = 1): Seq[String] = {
    val q = tokens.distinct
    postings.keys.filter { t =>
      val lt = t.codePointCount(0, t.length)
      q.exists { s =>
        math.abs(lt - s.codePointCount(0, s.length)) <= maxDist &&
          levenshtein(t, s) <= maxDist
      }
    }.toSeq.sorted
  }

  /** Expected top-k rows, ordered (score desc, doc_id asc). */
  def topK(terms: Seq[String], k: Int): Seq[Hit] =
    scores(terms).toSeq
      .sortBy { case (d, s) => (-s, ids(d)) }.take(k)
      .map { case (d, s) => Hit(ids(d), title(texts(d)), micros(s) / 1e6) }

  /** Check an engine result against the reference. Near-ties can swap
    * places across engines by the last ulp of a float sum, so the check
    * accepts any valid top-k: every returned score must equal the
    * reference on the 1e-6 grid (±1 unit), no left-out candidate may
    * outscore the weakest returned row, the row count must match, and the
    * rows must come ordered by (score desc, doc_id asc).
    * @return None when the result is correct, else the first mismatch
    */
  def check(terms: Seq[String], k: Int, got: Seq[Hit]): Option[String] = {
    val sc = scores(terms)
    val byId = sc.map { case (d, s) => ids(d) -> s }
    val want = math.min(k, sc.size)
    if (got.size != want) return Some(s"${got.size} rows, expected $want")
    if (got.map(_.docId).distinct.size != got.size) return Some("duplicate doc_id")
    val ordered = got.zip(got.drop(1)).forall { case (a, b) =>
      a.score > b.score || (a.score == b.score && a.docId < b.docId)
    }
    if (!ordered) return Some("rows not ordered by (score desc, doc_id asc)")
    got.foreach { h =>
      byId.get(h.docId) match {
        case None => return Some(s"doc ${h.docId} matches no query term")
        case Some(s) =>
          if (math.abs(micros(s) - math.round(h.score * 1e6)) > 1)
            return Some(s"doc ${h.docId} score ${h.score}, expected ${micros(s) / 1e6}")
          if (h.title != title(textOf(h.docId)))
            return Some(s"doc ${h.docId} title mismatch")
      }
    }
    if (got.nonEmpty) {
      val weakest = got.map(h => byId(h.docId)).min
      val returned = got.map(_.docId).toSet
      byId.find { case (d, s) => !returned(d) && s > weakest + 1e-9 }
        .foreach { case (d, s) => return Some(s"doc $d (score $s) left out of the top $k") }
    }
    None
  }
}

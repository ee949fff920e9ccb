package graftbench

import graft.search.{RunLine, Topic}

/** Brute-force reference computed from corpus content alone — no index
  * table is read — for the query and sample terms `terms`. Analysis and
  * BM25 are written out here from their definitions ([[Brute.analyze]],
  * [[Brute.idf]], [[Brute.score]]) rather than called from the engine, so
  * a bug in the engine's analyzer or scorer fails the checks instead of
  * showing up in the reference too. Documents are held in docid order,
  * which for a single build (and for order-key-sliced deltas) is docno
  * order.
  */
final class Brute(docs: Seq[(String, String)], terms: Set[String]) {
  private val sorted: Array[(String, String)] = docs.sortBy(_._1).toArray
  val docnos: Array[String] = sorted.map(_._1)
  val dl = new Array[Int](sorted.length)

  /** (document index, tf) of every document containing each of `terms`, in
    * document order — built in the one analysis pass that also fills `dl`.
    */
  val postings: Map[String, Array[(Int, Int)]] = {
    val acc = terms.iterator.map(_ -> Array.newBuilder[(Int, Int)]).toMap
    var i = 0
    while (i < sorted.length) {
      val tokens = Brute.analyze(sorted(i)._2)
      dl(i) = tokens.length
      tokens.groupBy(identity).foreach { case (t, occ) => acc.get(t).foreach(_ += ((i, occ.length))) }
      i += 1
    }
    acc.map { case (t, b) => t -> b.result() }
  }
  private val n: Float = sorted.length.toFloat
  private val avgdl: Float = dl.iterator.map(_.toLong).sum / n

  /** Every matching document of `topic` with its BM25 score, best first
    * (score desc, document order asc). Partials sum in query-term order,
    * in Float, as the engine does.
    */
  def rank(topic: Topic): Seq[(String, Float)] = {
    val clauses = Brute.analyze(topic.text).toSeq
    val post = clauses.distinct.map(t => t -> postings.getOrElse(t,
      throw new IllegalArgumentException(s"term $t was not prepared"))).toMap
    val tfOf = post.map { case (t, ps) => t -> ps.toMap }
    val idf = post.map { case (t, ps) => t -> Brute.idf(ps.length, n) }
    val candidates = post.valuesIterator.flatMap(_.iterator.map(_._1)).toSet
    candidates.toSeq.map { d =>
      var s = 0.0f
      clauses.foreach { c =>
        tfOf(c).get(d).foreach(tf => s += Brute.score(tf, dl(d), avgdl, idf(c)))
      }
      (d, s)
    }.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .map { case (d, s) => (docnos(d), s) }
  }
}

object Brute {
  /** The benchmark indexes' analysis (graft.Engine.OracleAnalyzer): split at
    * whitespace, lowercase, drop the stop words "a" and "the". The
    * generated corpus is ASCII with short tokens, so neither Unicode case
    * mapping nor the tokenizer's 255-char chunking comes into play.
    */
  def analyze(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase(java.util.Locale.ROOT))
      .filterNot(t => t == "a" || t == "the")

  val K1 = 1.2f
  val B = 0.75f

  /** BM25 idf of a term in `df` of `n` documents, log base 2 as the
    * reference engine defines it: log2(1 + (n − df + 0.5) / (df + 0.5)).
    */
  def idf(df: Int, n: Float): Float =
    (math.log((1.0f + (n - df + 0.5f) / (df + 0.5f)).toDouble) / math.log(2.0)).toFloat

  /** BM25 partial: (k1 + 1)·tf / (k1·(1 − b + b·dl/avgdl) + tf) · idf, with
    * dl the exact analyzed token count.
    */
  def score(tf: Int, dl: Int, avgdl: Float, idf: Float): Float =
    ((K1 + 1.0f) * tf) / (K1 * (1.0f - B + B * (dl / avgdl)) + tf) * idf

  /** Float-sum tolerance: score sums may differ by a few ulps. */
  def close(a: Float, b: Float): Boolean =
    math.abs(a - b) <= 1e-5f * math.max(1.0f, math.max(math.abs(a), math.abs(b)))

  /** None when `got` is a valid top-`k` of `want` (a full best-first
    * ranking): same length, rank-wise equal scores, each returned document
    * scored as the reference scores it, and every document that beats the
    * k-th score by more than the tolerance present. Documents whose scores
    * differ only at ulp level may swap places.
    */
  def rankMismatch(got: Seq[(String, Float)], want: Seq[(String, Float)],
                   k: Int): Option[String] = {
    val n = math.min(k, want.size)
    val byDoc = want.toMap
    lazy val gotDocs = got.map(_._1).toSet
    if (got.size != n) Some(s"returned ${got.size} hits, reference has $n")
    else if (gotDocs.size != n) Some("duplicate docnos in the result")
    else got.indices.find(i => !close(got(i)._2, want(i)._2)).map { i =>
      s"rank ${i + 1}: score ${got(i)._2} vs reference ${want(i)._2}"
    }.orElse(got.collectFirst {
      case (d, s) if !byDoc.get(d).exists(close(_, s)) =>
        s"$d scored $s, reference ${byDoc.get(d)}"
    }).orElse(if (n == 0) None else {
      val floor = want(n - 1)._2
      want.collectFirst {
        case (d, s) if s > floor && !close(s, floor) && !gotDocs(d) =>
          s"$d (score $s) missing from the top $k"
      }
    })
  }

  /** Run lines of one topic as (docno, score), best first. */
  def hits(lines: Seq[RunLine], qid: String): Seq[(String, Float)] =
    lines.filter(_.qid == qid).sortBy(_.rank).map(l => (l.docno, l.score))

  /** SHA-256 of the run lines in (qid, rank) order. */
  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

package graft.search

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** The one bounded top-k typed aggregator behind every collector — search
  * (score desc, docid asc), sorted retrieval (key asc, docid asc), kNN
  * (cos desc, vec_id asc) and stratified sampling (skey asc, docno asc).
  * Each input row maps to an `entry`; a buffer appends entries and
  * compacts (sort, then take k) once it reaches 4k, and partial buffers
  * merge the same way, so the map side pre-aggregates and no reducer ever
  * holds — let alone sorts — a group's full row stream. `order` must be a
  * total order: the same input multiset then yields the same k entries
  * under any reduce/merge split.
  */
class BoundedTopK[IN, E](k: Int, entry: IN => E, order: Ordering[E],
                         bufEnc: Encoder[Seq[E]], outEnc: Encoder[Seq[E]])
    extends Aggregator[IN, Seq[E], Seq[E]] {
  private def compact(s: Seq[E]): Seq[E] = s.sorted(order).take(k)
  def zero: Seq[E] = Vector.empty
  def reduce(buf: Seq[E], in: IN): Seq[E] = {
    val b2 = buf :+ entry(in)
    if (b2.size >= 4 * k) compact(b2) else b2
  }
  def merge(a: Seq[E], b: Seq[E]): Seq[E] = compact(a ++ b)
  def finish(buf: Seq[E]): Seq[E] = compact(buf)
  def bufferEncoder: Encoder[Seq[E]] = bufEnc
  def outputEncoder: Encoder[Seq[E]] = outEnc
}

object BoundedTopK {
  /** (id, score) by score desc, then id asc. Scores compare the way Spark's
    * ORDER BY compares them (`SQLOrderingUtil.compareFloats`): equal values
    * tie, so −0.0 ties 0.0, and otherwise `Float.compare` decides, which
    * ranks NaN above every number. `>`/`==` alone is no total order once a
    * NaN arrives (a NaN factor or embedding element), and TimSort may then
    * return any order or throw.
    */
  val byFloatScore: Ordering[(Long, Float)] = new Ordering[(Long, Float)] {
    def compare(a: (Long, Float), b: (Long, Float)): Int = {
      val c = if (a._2 == b._2) 0 else java.lang.Float.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }

  /** [[byFloatScore]] over Double scores (`compareDoubles`). */
  val byDoubleScore: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = if (a._2 == b._2) 0 else java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }
}

/** The search collector: (qid, docid, score) rows → (docid, score) by
  * score desc, docid asc (the Lucene collector contract, SURVEY.md §2.5).
  */
final class TopKAgg(k: Int, bufEnc: Encoder[Seq[(Long, Float)]], outEnc: Encoder[Seq[(Long, Float)]])
    extends BoundedTopK[(String, Long, Float), (Long, Float)](
      k, r => (r._2, r._3), BoundedTopK.byFloatScore, bufEnc, outEnc)

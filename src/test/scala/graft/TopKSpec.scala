package graft

import graft.search.{BoundedTopK, TopKAgg}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{asc, desc}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The one bounded top-k: fed through ANY split of reduce and merge calls,
  * it returns exactly sort-then-take under Spark's ORDER BY score DESC,
  * id ASC — NaN above every number, −0.0 tied with 0.0 — on inputs full
  * of ties, NaN, ±Inf and ±0.0.
  */
class TopKSpec extends AnyFunSuite {

  /** Spark's descending float order as an explicit sort key: NaN first,
    * then larger scores (−0.0 + 0.0 = 0.0 folds the two zeros together).
    */
  private def ref[S](rows: Seq[(Long, S)], k: Int)(key: S => (Int, Double)): Seq[(Long, S)] =
    rows.sortBy(r => (key(r._2), r._1))(Ordering.Tuple2(
      Ordering.Tuple2(Ordering.Int, Ordering.Double.TotalOrdering), Ordering.Long)).take(k)
  private def floatKey(x: Float): (Int, Double) =
    if (x.isNaN) (0, 0.0) else (1, -(x + 0.0f).toDouble)
  private def doubleKey(x: Double): (Int, Double) =
    if (x.isNaN) (0, 0.0) else (1, -(x + 0.0))

  private def scores[S](special: Seq[S], pool: Seq[S], any: Gen[S]): Gen[S] =
    Gen.frequency(3 -> Gen.oneOf(special), 4 -> Gen.oneOf(pool), 2 -> any)
  private val floats = scores(
    Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, 0.0f, -0.0f),
    Seq(1.0f, 2.5f, -3.0f), Gen.choose(-10.0f, 10.0f))
  private val doubles = scores(
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0),
    Seq(1.0, 2.5, -3.0), Gen.choose(-10.0, 10.0))

  /** (k, rows with distinct ids in random order, partition cut points,
    * merge-order seed).
    */
  private def cases[S](score: Gen[S]): Gen[(Int, Seq[(Long, S)], Seq[Int], Long)] = for {
    k <- Gen.choose(1, 8)
    n <- Gen.choose(0, 80)
    ss <- Gen.listOfN(n, score)
    ids <- Gen.pick(n, 0L until 1000L)
    cuts <- Gen.listOf(Gen.choose(0, n))
    seed <- Gen.long
  } yield (k, ids.toSeq.zip(ss), cuts.distinct.sorted, seed)

  /** Reduce each partition from zero, merge the partials in a random
    * order, finish.
    */
  private def viaSplits[IN, E](agg: Aggregator[IN, Seq[E], Seq[E]], rows: Seq[IN],
                               cuts: Seq[Int], seed: Long): Seq[E] = {
    val bounds = (0 +: cuts :+ rows.size).sliding(2).map(b => (b.head, b.last)).toSeq
    val partials = bounds.map { case (a, b) => rows.slice(a, b).foldLeft(agg.zero)(agg.reduce) }
    val rnd = new scala.util.Random(seed)
    var pool = rnd.shuffle(partials)
    while (pool.size > 1) {
      val i = rnd.nextInt(pool.size - 1)
      pool = pool.take(i) ++ Seq(agg.merge(pool(i), pool(i + 1))) ++ pool.drop(i + 2)
    }
    agg.finish(pool.headOption.getOrElse(agg.zero))
  }

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  test("search collector (Float scores) ≡ sort-then-take under any reduce/merge split") {
    val enc = ExpressionEncoder[Seq[(Long, Float)]]()
    check(Prop.forAllNoShrink(cases(floats)) { case (k, rows, cuts, seed) =>
      val got = viaSplits(new TopKAgg(k, enc, enc), rows.map(r => ("q", r._1, r._2)), cuts, seed)
      val want = ref(rows, k)(floatKey)
      // bit patterns: −0.0 and 0.0 must come back exactly as they went in
      got.map(e => (e._1, java.lang.Float.floatToRawIntBits(e._2))) ==
        want.map(e => (e._1, java.lang.Float.floatToRawIntBits(e._2)))
    })
  }

  test("kNN ordering (Double scores) ≡ sort-then-take under any reduce/merge split") {
    val enc = ExpressionEncoder[Seq[(Long, Double)]]()
    check(Prop.forAllNoShrink(cases(doubles)) { case (k, rows, cuts, seed) =>
      val agg = new BoundedTopK[(Long, Long, Double), (Long, Double)](
        k, r => (r._2, r._3), BoundedTopK.byDoubleScore, enc, enc)
      val got = viaSplits(agg, rows.map(r => (0L, r._1, r._2)), cuts, seed)
      got.map(e => (e._1, java.lang.Double.doubleToRawLongBits(e._2))) ==
        ref(rows, k)(doubleKey).map(e => (e._1, java.lang.Double.doubleToRawLongBits(e._2)))
    })
  }

  test("the reference order is Spark's ORDER BY score DESC, id ASC") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(1.0f, Float.NaN, -0.0f, Float.PositiveInfinity, 0.0f, Float.NaN,
        Float.NegativeInfinity, 1.0f, -2.0f).zipWithIndex
      .map { case (s, i) => ((9 - i).toLong, s) }
    val bySpark = rows.toDF("id", "score").orderBy(desc("score"), asc("id"))
      .as[(Long, Float)].collect().toSeq
    assert(bySpark.map(_._1) == ref(rows, rows.size)(floatKey).map(_._1))
  }
}

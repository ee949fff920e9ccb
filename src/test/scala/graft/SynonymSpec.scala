package graft

import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Query, Searcher, SynonymClause, Topic, WeightedClause}
import org.scalatest.funsuite.AnyFunSuite

/** Synonym-group clauses ([[search.SynonymClause]] ≙ Lucene SynonymQuery):
  * the group is a single pseudo-term — member tfs SUM per doc and saturate
  * the TF function once against a blended (max-df, Σcf) weight. Locked by
  * identities a hand-built corpus makes exact: a singleton group must be
  * float-identical to a plain term clause, an unindexed member must not
  * perturb the blend, and summed-tf saturation must order docs differently
  * from the fuzzy-style sum-of-partials.
  */
class SynonymSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // df(aa)=3 > df(bb)=2; d3 has both members, d4 has bb twice
  private val docs = Seq(
    ("d1", "aa xx yy zz"),
    ("d2", "aa aa xx yy"),
    ("d3", "aa bb xx yy"),
    ("d4", "bb bb xx yy"),
    ("d5", "xx yy zz ww"))

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val idx = IndexBuilder.build(
      docs.toDF("docno", "content"), TestSpark.tmpDir("syn"), IndexConfig())
    new Searcher(idx)
  }

  private def run(wcs: Seq[WeightedClause], syn: Seq[SynonymClause]) =
    searcher.searchClauses(Query(wcs ++ syn), k = 10)
      .collect().sortBy(_.rank).map(l => (l.docno, l.score)).toSeq

  test("singleton group ≡ plain term clause, float-identical") {
    val plain = run(Seq(WeightedClause("1", 0, "aa", 1.0f)), Nil)
    val syn = run(Nil, Seq(SynonymClause("1", 0, Seq("aa"), 1.0f)))
    assert(plain == syn) // same docs, same float score bits, same order
  }

  test("unindexed member drops out of the blend") {
    val syn = run(Nil, Seq(SynonymClause("1", 0, Seq("aa", "bb"), 1.0f)))
    val synPlus = run(Nil,
      Seq(SynonymClause("1", 0, Seq("aa", "bb", "nosuchterm"), 1.0f)))
    assert(syn == synPlus)
  }

  test("all-unindexed group matches nothing") {
    assert(run(Nil, Seq(SynonymClause("1", 0, Seq("qq", "rr"), 1.0f))).isEmpty)
  }

  test("member tfs sum then saturate once; blend uses group max df") {
    val got = run(Nil, Seq(SynonymClause("1", 0, Seq("aa", "bb"), 1.0f)))
    assert(got.map(_._1) == Seq("d2", "d3", "d4", "d1"))
    // brute replay through the already-locked scorer (Bm25MathSpec): the
    // synonym-specific parts under test are tf = Σ member tfs, df blend =
    // max(df(aa)=3, df(bb)=2) = 3, cf blend = Σcf — one score call per doc
    val stats = graft.search.CollStats(docs.size.toLong,
      docs.map(_._2.split("\\s+").length.toLong).sum)
    val idf = graft.search.Bm25Scorer.termWeight(3L, 3L + 2L, stats)
    def bm25(tf: Int, dl: Int): Float =
      graft.search.Bm25Scorer.score(tf.toFloat, dl, idf, stats)
    val want = Map("d1" -> bm25(1, 4), "d2" -> bm25(2, 4),
      "d3" -> bm25(2, 4), "d4" -> bm25(2, 4))
    got.foreach { case (d, s) => assert(s == want(d), d) }
    // d2/d3/d4 tie exactly (same summed tf, same dl) → docno-ascending order
    assert(got.take(3).map(_._2).distinct.size == 1)
  }

  test("synonym group composes with plain clauses in one query") {
    val got = run(
      Seq(WeightedClause("1", 0, "zz", 1.0f)),
      Seq(SynonymClause("1", 1, Seq("aa", "bb"), 1.0f)))
    // d1 matches zz AND the group; d5 matches zz only; d2/d3/d4 group only
    assert(got.map(_._1).toSet == Set("d1", "d2", "d3", "d4", "d5"))
    assert(got.head._1 == "d1")
  }
}

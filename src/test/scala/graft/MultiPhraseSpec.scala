package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{PhraseClause, Query, Searcher}
import org.scalatest.funsuite.AnyFunSuite

/** MultiPhraseQuery union slots: several terms sharing one phrase offset
  * match the union of their position lists (≙ Lucene
  * MultiPhraseQuery.add(Term[], pos) / match_phrase_prefix's expanded
  * last slot). Freq is exact adjacency over the merged lists; weight
  * accumulates every slot term's idf; union + slop is rejected loudly.
  */
class MultiPhraseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "p-1" -> "quick fox runs", // quick+fox
    "p-2" -> "quick foo bars", // quick+foo
    "p-3" -> "quick dog naps quick fox", // quick+fox (second occurrence)
    "p-4" -> "fox quick reversed order", // wrong order: no match
    "p-5" -> "slow fox walks") // first-slot alternative

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("multiphrase")
    new Searcher(IndexBuilder.build(corpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true)))
  }

  test("last-slot union: quick (fox|foo) matches either continuation") {
    val pc = PhraseClause("q", 0, Seq(("quick", 0), ("fox", 1), ("foo", 1)), 1.0f)
    val got = searcher.searchClauses(Query(Seq(pc)), 10)
      .collect().sortBy(_.rank).map(_.docno).toSeq
    assert(got.toSet == Set("p-1", "p-2", "p-3"))
  }

  test("first-slot union: (quick|slow) fox") {
    val pc = PhraseClause("q", 0, Seq(("quick", 0), ("slow", 0), ("fox", 1)), 1.0f)
    val got = searcher.searchClauses(Query(Seq(pc)), 10)
      .collect().map(_.docno).toSet
    assert(got == Set("p-1", "p-3", "p-5"))
  }

  test("union freq counts every matching base position") {
    // p-3 has quick@0 (dog: no) and quick@3 + fox@4 → freq 1; p-1 freq 1:
    // equal freqs, but scores differ by dl norm — p-1 (dl 3) outranks p-3
    // (dl 5); both outrank nothing else under (fox|dog) since dog only
    // follows quick in p-3 (freq 2 there: quick dog AND quick fox)
    val pc = PhraseClause("q", 0, Seq(("quick", 0), ("fox", 1), ("dog", 1)), 1.0f)
    val got = searcher.searchClauses(Query(Seq(pc)), 10)
      .collect().sortBy(_.rank).map(_.docno).toSeq
    assert(got.head == "p-3", s"freq-2 doc must rank first, got $got")
    assert(got.toSet == Set("p-1", "p-3"))
  }

  test("plain phrases are unchanged by the union-slot layout") {
    val pc = PhraseClause("q", 0, Seq(("quick", 0), ("fox", 1)), 1.0f)
    val got = searcher.searchClauses(Query(Seq(pc)), 10)
      .collect().map(_.docno).toSet
    assert(got == Set("p-1", "p-3"))
  }

  test("union slots with slop are rejected loudly") {
    val pc = PhraseClause("q", 0, Seq(("quick", 0), ("fox", 1), ("foo", 1)),
      1.0f, slop = 1)
    intercept[IllegalArgumentException] {
      searcher.searchClauses(Query(Seq(pc)), 10)
    }
  }

  test("rescore: window docs score base + weight·phrase, others unchanged") {
    import graft.search.Topic
    val topic = Topic("r", "quick fox")
    val base = searcher.search(Seq(topic), 10).collect()
      .map(l => l.docno -> l.score).toMap
    val phr = searcher.searchClauses(Query(
        Seq(PhraseClause("r", 0, Seq(("quick", 0), ("fox", 1)), 1.0f))), 10)
      .collect().map(l => l.docno -> l.score).toMap
    val got = searcher.searchRescore(Seq(topic),
        Seq(PhraseClause("r", 0, Seq(("quick", 0), ("fox", 1)), 1.0f)),
        window = 10, weight = 2.0f, k = 10)
      .collect()
    assert(got.map(_.docno).toSet == base.keySet)
    got.foreach { l =>
      val expected = base(l.docno) + phr.get(l.docno).map(_ * 2.0f).getOrElse(0.0f)
      assert(l.score == expected, s"${l.docno}: ${l.score} vs $expected")
    }
    // the exact-phrase docs must outrank the phrase-free ones now
    val phraseDocs = Set("p-1", "p-3")
    val ranked = got.sortBy(_.rank).map(_.docno)
    assert(ranked.take(2).toSet == phraseDocs)
    // k > window is rejected
    intercept[IllegalArgumentException] {
      searcher.searchRescore(Seq(topic), Nil, window = 5, weight = 1.0f, k = 10)
    }
  }

  test("mergeSorted: deduplicating union of sorted arrays") {
    assert(Searcher.mergeSorted(Array(1, 3, 5), Array(2, 3, 6)).toSeq ==
      Seq(1, 2, 3, 5, 6))
    assert(Searcher.mergeSorted(Array.empty[Int], Array(1)).toSeq == Seq(1))
    assert(Searcher.mergeSorted(Array(1, 2), Array.empty[Int]).toSeq == Seq(1, 2))
  }
}

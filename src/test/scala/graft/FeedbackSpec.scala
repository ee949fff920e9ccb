package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._
import org.scalatest.funsuite.AnyFunSuite

class FeedbackSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import Feedback.FeedbackDoc

  private def corpusDF(docs: Seq[(String, String)]) = {
    import spark.implicits._
    docs.toDF("docno", "content")
  }

  test("relevance model weights match the published formula exactly (doubles)") {
    val corpus = corpusDF(Seq(
      "r1" -> "apple banana apple",
      "r2" -> "apple cherry",
      "n1" -> "banana banana date"))
    val docs = Seq(
      FeedbackDoc(true, Some("r1"), None),
      FeedbackDoc(true, Some("r2"), None),
      FeedbackDoc(false, Some("n1"), None))
    val model = Feedback.relevanceModel(docs, corpus, AnalyzerConfig(), -1).toMap

    val OOV = 0.001
    // relSums: apple 2/3 + 1/2; banana 1/3; cherry 1/2. nonrel: banana 2/3.
    // |R|+1 = 3, |NR|+1 = 2.
    assert(model("apple") == (2 * (2 / 3.0 + 1 / 2.0 + OOV)) / (3 * (0.0 + OOV)))
    assert(model("banana") == (2 * (1 / 3.0 + OOV)) / (3 * (2 / 3.0 + OOV)))
    assert(model("cherry") == (2 * (1 / 2.0 + OOV)) / (3 * (0.0 + OOV)))
    // "date" occurs only in the non-relevant doc → not in the model
    assert(model.keySet == Set("apple", "banana", "cherry"))
  }

  test("inline content docs and missing docnos behave like the reference") {
    val corpus = corpusDF(Seq("x" -> "whatever"))
    val model = Feedback.relevanceModel(
      Seq(FeedbackDoc(true, None, Some("gold gold silver")),
          FeedbackDoc(false, Some("no-such-docno"), None)), // silently empty
      corpus, AnalyzerConfig(), -1).toMap
    val OOV = 0.001
    assert(model("gold") == (2 * (2 / 3.0 + OOV)) / (2 * OOV))
    assert(model("silver") == (2 * (1 / 3.0 + OOV)) / (2 * OOV))
  }

  test("top-terms selection: weight desc, ties reverse-lexicographic") {
    val corpus = corpusDF(Seq("r" -> "alpha zeta mid mid"))
    val model = Feedback.relevanceModel(
      Seq(FeedbackDoc(true, Some("r"), None)), corpus, AnalyzerConfig(), 3)
    // mid has tf 2 (highest weight); alpha/zeta tie → zeta first (term desc)
    assert(model.map(_._1) == Seq("mid", "zeta", "alpha"))
    val top2 = Feedback.relevanceModel(
      Seq(FeedbackDoc(true, Some("r"), None)), corpus, AnalyzerConfig(), 2)
    assert(top2.map(_._1) == Seq("mid", "zeta"))
  }

  test("feedback search: expansion + pre-rank anti-filter of feedback docs") {
    val docs = Seq(
      "u1" -> "quantum physics paper about entanglement",
      "u2" -> "quantum entanglement experiment details",
      "u3" -> "classical mechanics notes",
      "u4" -> "quantum computing with entanglement hardware",
      "u5" -> "cooking recipes nothing relevant")
    val corpus = corpusDF(docs)
    val dir = TestSpark.tmpDir("fb")
    val idx = IndexBuilder.build(corpus, dir, IndexConfig(groupShift = 1, mergeShift = 1))
    val searcher = new Searcher(idx)
    val run = Feedback.searchWithFeedback(searcher, corpus, "q1",
      Seq(FeedbackDoc(true, Some("u1"), None), FeedbackDoc(false, Some("u5"), None)),
      topTermsToKeep = 3, k = 10).collect()

    // feedback docs are filtered out BEFORE ranks: ranks are contiguous 0..
    assert(!run.exists(r => r.docno == "u1" || r.docno == "u5"))
    assert(run.map(_.rank).sorted.toSeq == run.indices.toSeq)
    // expansion pulls in docs sharing u1's vocabulary
    assert(run.map(_.docno).toSet.contains("u2"))
    assert(run.map(_.docno).toSet.contains("u4"))
  }

  test("weighted clauses multiply scores like boosts") {
    val docs = Seq("a1" -> "foo bar", "a2" -> "foo baz")
    val dir = TestSpark.tmpDir("wc")
    val idx = IndexBuilder.build(corpusDF(docs), dir, IndexConfig(groupShift = 1, mergeShift = 1))
    val s = new Searcher(idx)
    val plain = s.searchClauses(Query(Seq(WeightedClause("q", 0, "foo", 1.0f)))).collect()
    val boosted = s.searchClauses(Query(Seq(WeightedClause("q", 0, "foo", 2.0f)))).collect()
    assert(plain.length == 2 && boosted.length == 2)
    plain.zip(boosted).foreach { case (p, b) =>
      assert(b.score == p.score * 2.0f)
    }
  }
}

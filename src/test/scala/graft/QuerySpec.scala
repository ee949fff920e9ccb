package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._
import graft.search.BoolQuery.{ELeaf, TreeSpec}
import org.scalatest.funsuite.AnyFunSuite

/** The validity rules of a [[Query]]: each misuse fails with its message
  * before a single Spark job is submitted.
  */
class QuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // positions-less, so the phrase rule has something to reject
  private lazy val searcher: Searcher = {
    import spark.implicits._
    new Searcher(IndexBuilder.build(
      Seq("d-1" -> "alpha beta", "d-2" -> "beta gamma").toDF("docno", "content"),
      TestSpark.tmpDir("query_rules"), IndexConfig(analyzer = AnalyzerConfig())))
  }
  private lazy val docids = {
    import spark.implicits._
    Seq(0L).toDF("docid")
  }
  private lazy val keys = {
    import spark.implicits._
    Seq(0L -> "k").toDF("docid", "ckey")
  }

  private val w = Seq(WeightedClause("1", 0, "alpha", 1.0f))
  private val tree = Map("1" -> TreeSpec(ELeaf(0), Set.empty, 0))

  private val rules: Seq[(String, () => Query, String)] = Seq(
    ("msm with pruning", () => Query(w, minShouldMatch = 1, prune = true),
      "minShouldMatch requires flat OR mode"),
    ("msm with trees", () => Query(w, trees = tree, minShouldMatch = 1),
      "minShouldMatch requires flat OR mode"),
    ("msm with AND", () => Query(w, Mode.And, minShouldMatch = 1),
      "minShouldMatch requires flat OR mode"),
    ("phrase clauses without positions",
      () => Query(Seq(PhraseClause("1", 0, Seq("alpha" -> 0, "beta" -> 1), 1.0f))),
      "phrase clauses need a positions-enabled index"),
    ("union slots with slop > 0",
      () => Query(Seq(PhraseClause("1", 0, Seq("alpha" -> 0, "beta" -> 1, "gamma" -> 1), 1.0f, 1))),
      "slot alternatives (MultiPhraseQuery union slots) require slop == 0"),
    ("trees with AND", () => Query(w, Mode.And, trees = tree),
      "tree evaluation carries its own boolean structure"),
    ("trees with negTerms", () => Query(w, trees = tree, negTerms = Seq("1" -> "beta")),
      "tree evaluation carries its own boolean structure"),
    ("collapse with prune", () => Query(w, collapse = Some(keys), prune = true),
      "field collapse cannot prune"),
    ("filter with prune", () => Query(w, filter = Some(docids), prune = true),
      "attribute filters cannot prune"),
    ("clause qids no tree covers",
      () => Query(w :+ WeightedClause("2", 0, "beta", 1.0f), trees = tree),
      "clauses reference qids without a TreeSpec: 2"))

  rules.foreach { case (rule, query, message) =>
    test(s"rejects $rule before any Spark job") {
      val s = searcher
      val (e, jobs) = SparkJobs.count(
        intercept[IllegalArgumentException](s.searchClauses(query(), 10)))
      assert(e.getMessage.contains(message), e.getMessage)
      assert(jobs == 0)
    }
  }

  test("a valid query runs") {
    assert(searcher.searchClauses(Query(w), 10).collect().map(_.docno).toSeq == Seq("d-1"))
  }
}

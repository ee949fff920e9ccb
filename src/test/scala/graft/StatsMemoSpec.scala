package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.scalatest.funsuite.AnyFunSuite

/** Term statistics come from the per-index memo on every scored path: a
  * repeated dis-max or span-near call skips the term_stats lookup job the
  * first call paid, and returns the same rows.
  */
class StatsMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the first searches on a fresh index also pay its one-time table
  // loads; warm them on a term the tests never ask for
  private lazy val searcher: Searcher = {
    import spark.implicits._
    val s = new Searcher(IndexBuilder.build(
      Seq("m-1" -> "alpha beta gamma delta", "m-2" -> "alpha gamma x delta",
        "m-3" -> "beta beta gamma").toDF("docno", "content"),
      TestSpark.tmpDir("stats_memo"),
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true)))
    s.search(Seq(Topic("w", "x")), 10).collect()
    s.searchSpanFirst(Seq(("w", "x", 5)), 10).collect()
    s
  }

  private def twice(run: Searcher => Array[graft.search.RunLine]): Unit = {
    val s = searcher
    val (first, firstJobs) = SparkJobs.count(run(s))
    val (second, secondJobs) = SparkJobs.count(run(s))
    assert(first.nonEmpty)
    assert(second.toSeq == first.toSeq)
    assert(secondJobs == firstJobs - 1, s"jobs: first $firstJobs, second $secondJobs")
  }

  test("searchDisMax reads term stats through the memo") {
    twice(_.searchDisMax(Seq(Topic("t", "alpha beta")), 10, tieBreaker = 0.5f).collect())
  }

  test("searchSpanNear reads term stats through the memo") {
    twice(_.searchSpanNear(Seq(("s", "gamma", "delta", 2)), 10).collect())
  }
}

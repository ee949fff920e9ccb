package graftbench

import graft.corpus.Corpus
import graft.index.IndexBuilder
import graft.search.{Searcher, Topic}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The benchmark's brute-force BM25 (computed from corpus content) agrees
  * with Searcher.search, so its rank checks test the engine and not the
  * reference.
  */
class BruteSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("graftbench-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmp(prefix: String): String = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), prefix).toString
  }

  /** Top-k of every topic from the engine equals the brute force. */
  private def agree(corpus: DataFrame, topics: Seq[Topic], k: Int): Unit = {
    val idx = IndexBuilder.build(corpus, tmp("idx"), Setup.IndexCfg)
    val lines = new Searcher(idx).search(topics, k).collect().toSeq
    val brute = new Brute(Setup.docs(corpus), Checks.terms(topics, Nil))
    topics.foreach { t =>
      assert(Checks.ranks(brute, t, Brute.hits(lines, t.qid), k).isEmpty)
    }
    // stronger than the rank check on this data: bit-identical scores
    val t = topics.head
    assert(Brute.hits(lines, t.qid) == brute.rank(t).take(k))
  }

  test("brute-force BM25 ≡ Searcher.search on the sf0.001 fixture") {
    // the repo's read-only test fixture: testdata/sf0.001 beside the
    // repository root (TESTDATA.md); the test runs from perfbench/
    val dir = Paths.get("..", "..", "testdata", "sf0.001").toAbsolutePath.normalize
    assert(Files.exists(dir.resolve("lineitem.parquet")), s"fixture not found at $dir")
    val corpus = Corpus.fromLineitem(spark, dir.toString).select("docno", "content")
    agree(corpus, Gen.topics(1, 1, "b", 24), 100)
  }

  test("brute-force BM25 ≡ Searcher.search on a seeded generated corpus") {
    val dir = Gen.writeLineitem(spark, 5, 1, 1501, tmp("li"), 2)
    val corpus = Corpus.fromLineitem(spark, dir).select("docno", "content")
    agree(corpus, Gen.topics(5, 1, "b", 24), 100)
  }

  test("rankMismatch accepts ulp-level swaps and rejects real differences") {
    val want = Seq("a" -> 3.0f, "b" -> 2.0f, "c" -> (2.0f + 1e-7f), "d" -> 1.0f)
      .sortBy(-_._2)
    assert(Brute.rankMismatch(want.take(3), want, 3).isEmpty)
    // b and c tie within float-sum tolerance: either order is a valid top-3
    assert(Brute.rankMismatch(Seq("a" -> 3.0f, "b" -> 2.0f, "c" -> 2.0f), want, 3).isEmpty)
    assert(Brute.rankMismatch(Seq("a" -> 3.0f, "d" -> 1.0f, "b" -> 2.0f), want, 3).nonEmpty)
    assert(Brute.rankMismatch(Seq("a" -> 3.0f, "b" -> 2.0f), want, 3).nonEmpty)
    assert(Brute.rankMismatch(Seq("a" -> 3.5f, "b" -> 2.0f, "c" -> 2.0f), want, 3).nonEmpty)
  }
}

package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._
import graft.search.BoolQuery.{EBool, EConst, ELeaf, TreeSpec}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Exchange counts of the scored stream ([[Searcher.scoredClauses]]) per
  * query shape — the plan a refactor of the planner must keep. Shuffle and
  * broadcast exchanges are counted in the physical plan before execution;
  * the two-tree batch holds a match-all complement, whose candidate stream
  * is local-checkpointed, so its plan starts at the checkpoint.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val docs = (0 until 40).map { i =>
    val words = Seq("alpha", "beta", "gamma", "delta", "alphas", "window", "hash")
      .zipWithIndex.collect { case (t, j) if (i + j) % (j + 2) == 0 => t }
    (f"d$i%03d", s"r${i % 3}", (words :+ s"w$i").mkString(" "))
  }

  private lazy val fixture = {
    import spark.implicits._
    val idx = IndexBuilder.build(docs.map(d => (d._1, d._3)).toDF("docno", "content"),
      TestSpark.tmpDir("plan_shape"),
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true))
    val s = new Searcher(idx)
    (s, s.collapseKeyTable(docs.map(d => (d._1, d._2)).toDF("docno", "repo"), "repo"))
  }

  private val w = Seq(WeightedClause("1", 0, "alpha", 1f), WeightedClause("1", 1, "beta", 1f),
    WeightedClause("1", 2, "gamma", 1f))
  // (alpha | beta) + gamma, and hash -window (SHOULD hash, SHOULD (* MUST_NOT window))
  private val groupTree = TreeSpec(
    EBool(Array((0, EBool(Array((1, ELeaf(0)), (1, ELeaf(1))))), (0, ELeaf(2)))), Set(), 0)
  private val negationTree = TreeSpec(
    EBool(Array((1, ELeaf(0)), (1, EBool(Array((0, EConst(1f)), (2, ELeaf(1))))))), Set(1), 1)
  private val treeClauses = w.map(_.copy(qid = "t1")) ++
    Seq(WeightedClause("t2", 0, "hash", 1f), WeightedClause("t2", 1, "window", 1f))

  /** shape → (query, k, expected shuffle exchanges, expected broadcasts). */
  private def shapes(s: Searcher, keys: org.apache.spark.sql.DataFrame)
      : Seq[(String, Query, Int, Int, Int)] = Seq(
    ("term", Query(w), 1000, 1, 0),
    ("AND", Query(w, Mode.And), 1000, 1, 0),
    ("msm", Query(w, minShouldMatch = 2), 1000, 1, 0),
    ("phrase", Query(Seq(PhraseClause("1", 0, Seq("alpha" -> 0, "beta" -> 1), 1f))), 1000, 2, 0),
    ("expansion", Query(w.take(1) :+ ExpansionClause("1", 1, s.expandPrefix("alph"), 1f)), 1000, 2, 0),
    ("blended", Query(Seq(BlendedClause("1", 0, Seq("alpha" -> 1f, "alphas" -> 0.8f), 1f))), 1000, 2, 0),
    ("synonym", Query(w.take(1) :+ SynonymClause("1", 1, Seq("beta", "delta"), 1f)), 1000, 2, 0),
    ("tree", Query(treeClauses.take(3), trees = Map("t1" -> groupTree)), 5, 1, 0),
    ("tree + complement", Query(treeClauses,
      trees = Map("t1" -> groupTree, "t2" -> negationTree)), 5, 0, 0),
    ("negTerms", Query(w, negTerms = Seq("1" -> "delta")), 1000, 1, 1),
    ("filter", Query(w, filter = Some(keys.where("ckey = 'r1'").select("docid"))), 1000, 1, 2),
    ("collapse", Query(w, collapse = Some(keys)), 1000, 2, 2),
    ("pruned", Query(w, prune = true), 2, 1, 0))

  test("scored-stream exchanges per query shape") {
    val (s, keys) = fixture
    val got = shapes(s, keys).map { case (name, q, k, shuffles, broadcasts) =>
      val ds: Dataset[(String, Long, Float)] = s.scoredClauses(q, k)
      val lines = ds.queryExecution.executedPlan.treeString.split("\n").toSeq
      val nShuffle = lines.count(_.matches(""".*(^|[-+:\s])Exchange .*"""))
      val nBroadcast = lines.count(_.contains("BroadcastExchange"))
      assert(ds.collect().nonEmpty, name)
      (name, nShuffle, nBroadcast) -> (name, shuffles, broadcasts)
    }
    got.foreach { case (actual, expected) => assert(actual == expected) }
  }
}

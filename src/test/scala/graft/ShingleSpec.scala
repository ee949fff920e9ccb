package graft

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Query, Searcher, Topic, WeightedClause}
import org.scalatest.funsuite.AnyFunSuite

/** Index-time word shingles (AnalyzerConfig.shingleSize ≙ ShingleFilter
  * with outputUnigrams / Elasticsearch index_phrases): emission order,
  * positions, the documented no-filler deviation, and the phrase-speed
  * equivalence the feature exists for — an exact phrase answered by ONE
  * shingle-term postings read ranks the same docs a positional phrase
  * query walks positions for.
  */
class ShingleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val an2 = new Analyzer(
    AnalyzerConfig(stopWords = Set("a", "the"), shingleSize = 2))

  test("interleaved emission: unigram then the shingle starting there") {
    assert(an2.analyze("x y z").toSeq ==
      Seq("x", "x y", "y", "y z", "z"))
    assert(an2.analyze("solo").toSeq == Seq("solo"))
    assert(an2.analyze("").toSeq == Seq.empty)
  }

  test("no filler tokens: shingles join consecutive surviving terms") {
    // "the" is stopped; the shingle spans it (documented deviation from
    // ShingleFilter's "_" fillers)
    assert(an2.analyze("x the y").toSeq == Seq("x", "x y", "y"))
  }

  test("a shingle sits at its first token's position") {
    // positions still count the stopped token (StopFilter gap semantics)
    assert(an2.analyzeWithPositions("x the y").toSeq ==
      Seq(("x", 0), ("x y", 0), ("y", 2)))
  }

  test("trigram shingles compose the same way") {
    val an3 = new Analyzer(AnalyzerConfig(shingleSize = 3))
    assert(an3.analyze("p q r s").toSeq ==
      Seq("p", "p q r", "q", "q r s", "r", "s"))
  }

  test("exact phrase via one shingle term ≡ the positional phrase query") {
    import spark.implicits._
    val docs = Seq(
      ("d-1", "hash join wins"), ("d-2", "join hash loses"),
      ("d-3", "hash hash join"), ("d-4", "hash and join"),
      ("d-5", "other words"))
    val corpus = docs.toDF("docno", "content")
    val shIdx = IndexBuilder.build(corpus, TestSpark.tmpDir("shingle_idx"),
      IndexConfig(analyzer = AnalyzerConfig(shingleSize = 2)))
    val posIdx = IndexBuilder.build(corpus, TestSpark.tmpDir("shingle_pos"),
      IndexConfig(indexPositions = true))
    // single-term read of the shingle "hash join"
    val viaShingle = new Searcher(shIdx)
      .searchClauses(Query(Seq(WeightedClause("1", 0, "hash join", 1.0f))), 10)
      .collect().map(_.docno).toSet
    // the positional phrase walk over the plain index
    val viaPhrase = new Searcher(posIdx)
      .searchQuery(Seq(Topic("1", "\"hash join\"")), 10)
      .collect().map(_.docno).toSet
    assert(viaShingle == Set("d-1", "d-3"))
    assert(viaShingle == viaPhrase)
  }

  test("searchPhraseShingle: the rewrite IS the single-term read") {
    import spark.implicits._
    val docs = Seq(
      ("d-1", "hash join wins"), ("d-2", "join hash loses"),
      ("d-3", "hash hash join hash join"), ("d-4", "other words"))
    val shIdx = IndexBuilder.build(docs.toDF("docno", "content"),
      TestSpark.tmpDir("shingle_rw"),
      IndexConfig(analyzer = AnalyzerConfig(shingleSize = 2)))
    val sr = new Searcher(shIdx)
    val viaApi = sr.searchPhraseShingle(Seq("1" -> "hash join"), 10).collect()
    val viaTerm = sr
      .searchClauses(Query(Seq(WeightedClause("1", 0, "hash join", 1.0f))), 10)
      .collect()
    // bit-identical RunLines: same docs, same ranks, same Float scores
    assert(viaApi.toSeq.map(r => (r.docno, r.rank, r.score)) ==
      viaTerm.toSeq.map(r => (r.docno, r.rank, r.score)))
    // d-3 has tf=2 of the bigram (overlapping "hash hash join hash join"
    // emits "hash join" at positions 1 and 3) and outranks d-1's tf=1...
    assert(viaApi.map(_.docno).toSeq == Seq("d-3", "d-1"))
    // ...and ineligible phrases fail loudly instead of degrading
    intercept[IllegalArgumentException] {
      sr.searchPhraseShingle(Seq("1" -> "hash join wins"), 10)
    }
    intercept[IllegalArgumentException] {
      sr.searchPhraseShingle(Seq("1" -> "solo"), 10)
    }
  }

  test("shingle rewrite reads no position columns") {
    import spark.implicits._
    val shIdx = IndexBuilder.build(
      Seq(("d-1", "hash join")).toDF("docno", "content"),
      TestSpark.tmpDir("shingle_prune"),
      IndexConfig(analyzer = AnalyzerConfig(shingleSize = 2)))
    // ReadSchema of every scan (the pruned views alias pos_blob to an
    // empty literal, so the plan STRING legitimately contains the name —
    // what must not contain it is what the parquet scan actually reads).
    // r6: searchPhraseShingle's result is collected (driver-side tail), so
    // the read contract is pinned on the scored stream of the rewritten
    // single-term clause — exactly what the rewrite emits.
    val sr = new Searcher(shIdx)
    val scans = sr
      .scoredClauses(Query(Seq(graft.search.WeightedClause("1", 0, "hash join", 1.0f))))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(f => assert(!f.contains("pos_blob"),
      "the whole point of the rewrite: no positional decode\n" + f))
    // end to end, the rewrite still returns the phrase hit
    assert(sr.searchPhraseShingle(Seq("1" -> "hash join"), 10)
      .collect().nonEmpty)
  }

  test("shingles count toward doc length like every emitted token") {
    import spark.implicits._
    val idx = IndexBuilder.build(
      Seq(("d-1", "x y z")).toDF("docno", "content"),
      TestSpark.tmpDir("shingle_dl"),
      IndexConfig(analyzer = AnalyzerConfig(shingleSize = 2)))
    val dl = idx.docs.select("dl").collect().map(_.getInt(0)).toSeq
    assert(dl == Seq(5)) // x, "x y", y, "y z", z
  }
}

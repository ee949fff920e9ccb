package graft.search

import graft.analysis.{Analyzer, AnalyzerConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Explicit relevance feedback — reimplementation of the reference's
  * `ExplicitFeedbackM1PreProcessor` + `FeedbackDocumentFilter` semantics.
  *
  * Relevance model (reference `ExplicitFeedbackM1PreProcessor.java:55,79-99,
  * 282-350`): for every term w occurring in a relevant doc,
  *
  *   weight(w) = ((|NR|+1) · (relSum + OOV)) / ((|R|+1) · (nonrelSum + OOV))
  *
  * where relSum = Σ_{D∈R} tf(w,D)/|D| and nonrelSum likewise over NR
  * (non-relevant sums accumulate only for terms already in the model),
  * OOV = 0.001, double arithmetic. Feedback docs are tokenized with the
  * ClassicTokenizer FORCED plus the configured stop/stem chain
  * (`:189-190`); the resulting terms are already analyzed, so the query
  * run against the index must NOT re-stem/re-stop them
  * (`modifiesSettings`/`getModifiedSettings` `:440-454`).
  *
  * Top-term selection keeps `topTermsToKeep` terms ordered by weight desc
  * then term desc — the reference's TreeSet comparator orders equal weights
  * reverse-lexicographically and never reports equality (`:141-150`).
  *
  * Note a reference quirk faithfully NOT reproduced: LTR feeds the
  * `term^weight` string to `SimpleQueryParser`, which has no boost syntax,
  * so the weights degrade into numeric noise tokens there. We apply the
  * weights as true clause boosts (the documented intent).
  */
object Feedback {
  val OOV = 0.001

  final case class FeedbackDoc(relevant: Boolean, docno: Option[String],
                               content: Option[String])

  /** Analyzer used for feedback-doc statistics: ClassicTokenizer forced,
    * stop/stem inherited from the index config.
    */
  def feedbackAnalyzer(base: AnalyzerConfig): Analyzer =
    new Analyzer(base.copy(tokenizer = "classic"))

  /** Fetch a feedback doc's content by docno from the corpus table — the
    * point-lookup analog of the reference's stored-field fetch
    * (`ExplicitFeedbackM1PreProcessor.java:364-399`). Missing docnos yield
    * empty stats, matching the reference's silent catch.
    */
  def contentByDocno(corpus: DataFrame, docnos: Seq[String]): Map[String, String] = {
    if (docnos.isEmpty) return Map.empty
    corpus.where(col("docno").isin(docnos: _*))
      .select(col("docno").cast("string"), col("content").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Build the weighted query terms from feedback docs. */
  def relevanceModel(docs: Seq[FeedbackDoc], corpus: DataFrame,
                     analyzerCfg: AnalyzerConfig,
                     topTermsToKeep: Int): Seq[(String, Double)] = {
    val an = feedbackAnalyzer(analyzerCfg)
    val lookup = contentByDocno(corpus,
      docs.flatMap(_.docno).distinct)

    def docStats(d: FeedbackDoc): Map[String, Int] = {
      val text = d.docno.flatMap(lookup.get).orElse(d.content).getOrElse("")
      val (tfs, _) = an.termFreqs(text)
      tfs.toMap
    }

    val rel = docs.filter(_.relevant)
    val nonrel = docs.filterNot(_.relevant)

    val relSums = scala.collection.mutable.HashMap.empty[String, Double]
    rel.foreach { d =>
      val tfs = docStats(d)
      val dl = tfs.values.sum.toDouble
      if (dl > 0) tfs.foreach { case (t, c) =>
        relSums(t) = relSums.getOrElse(t, 0.0) + c / dl
      }
    }
    val nonrelSums = scala.collection.mutable.HashMap.empty[String, Double]
    nonrel.foreach { d =>
      val tfs = docStats(d)
      val dl = tfs.values.sum.toDouble
      if (dl > 0) tfs.foreach { case (t, c) =>
        if (relSums.contains(t)) // only terms already in the model
          nonrelSums(t) = nonrelSums.getOrElse(t, 0.0) + c / dl
      }
    }

    val relCount = rel.size + 1
    val nonrelCount = nonrel.size + 1
    val weighted = relSums.toSeq.map { case (t, rs) =>
      t -> (nonrelCount * (rs + OOV)) / (relCount * (nonrelSums.getOrElse(t, 0.0) + OOV))
    }
    val ordered = weighted.sortWith { (a, b) =>
      if (a._2 != b._2) a._2 > b._2 else a._1 > b._1 // weight desc, term desc
    }
    if (topTermsToKeep < 0) ordered else ordered.take(topTermsToKeep)
  }

  /** The expanded weighted clauses for a feedback topic (exposed so callers
    * like the CLI's snippet path can see the final query terms, ≙ the
    * reference highlighting with the expanded `query`,
    * `BatchSearch.java:318`).
    */
  def expandedClauses(qid: String, docs: Seq[FeedbackDoc], corpus: DataFrame,
                      analyzerCfg: AnalyzerConfig,
                      topTermsToKeep: Int): Seq[WeightedClause] =
    relevanceModel(docs, corpus, analyzerCfg, topTermsToKeep)
      .zipWithIndex.map { case ((term, w), i) =>
        WeightedClause(qid, i, term, w.toFloat)
      }

  /** Run a feedback query end-to-end: expand, search with boosts (analyzer
    * terms are pre-analyzed, so clauses bypass re-analysis), anti-filter
    * the feedback docnos (≙ `FeedbackDocumentFilter.java:69-95` — filtering
    * happens BEFORE rank assignment).
    */
  def searchWithFeedback(searcher: Searcher, corpus: DataFrame, qid: String,
                         docs: Seq[FeedbackDoc], topTermsToKeep: Int,
                         k: Int = 1000, scorerName: String = "bm25"): org.apache.spark.sql.Dataset[RunLine] = {
    val clauses = expandedClauses(qid, docs, corpus,
      searcher.index.cfg.analyzer, topTermsToKeep)
    val excluded = docs.flatMap(_.docno).toSet
    searcher.searchClauses(Query(clauses, excludeDocnos = Map(qid -> excluded)),
      k, scorerName)
  }
}

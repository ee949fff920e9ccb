package graft.search

import graft.analysis.Analyzer
import graft.index.BuiltIndex
import org.apache.spark.sql.DataFrame

/** One scoring leaf of a [[Query]], addressed by (qid, qidx): the query it
  * belongs to and its clause index within that query. Clause indexes order
  * the per-(query, doc) Float sum and key the boolean-tree leaves, so they
  * are unique within a qid.
  */
sealed trait Clause {
  def qid: String
  def qidx: Int
  def boost: Float
}

/** One boosted term clause of a query (≙ a SHOULD TermQuery with boost). */
final case class WeightedClause(qid: String, qidx: Int, term: String, boost: Float)
    extends Clause

/** One phrase clause (≙ an analyzed Lucene PhraseQuery): `terms` are
  * the analyzed (term, offset) slots where offset is the token's position
  * within the phrase COUNTING stopped words (positionIncrement gaps), so
  * "quick the fox" with "the" stopped matches quick@p ∧ fox@p+2. Requires a
  * positions-enabled index (`IndexConfig.indexPositions`).
  *
  * `slop = 0` is exact adjacency (ExactPhraseScorer). `slop > 0` is sloppy
  * matching (`"…"~N`) via [[SloppyPhrase.freq]] — the faithful
  * SloppyPhraseScorer event walk: every match window within the slop
  * contributes the reference similarity's `computeSlopFactor`
  * `1/(matchLength+1)` (`BM25.java:110-114`) where matchLength is the
  * window width `end − min` over phase-adjusted positions, and slots
  * repeating a term are pinned to distinct document occurrences. For
  * 2-term phrases this coincides with the per-slot-nearest form the
  * q_phrase_slop_topk oracle replays as a SQL position self-join
  * (cross-checked on a random battery in PhraseSpec); the gate's sloppy
  * topics are 2-term, so the oracle stays exact.
  */
final case class PhraseClause(qid: String, qidx: Int,
                              terms: Seq[(String, Int)], boost: Float,
                              slop: Int = 0) extends Clause

/** One constant-score expansion clause (≙ PrefixQuery under Lucene's
  * CONSTANT_SCORE rewrite): every document containing ANY of the expanded
  * vocabulary terms scores the clause boost exactly once. Expansion happens
  * against the index's sorted vocabulary projection (a pruned range scan,
  * never a postings or full-vocabulary pass).
  */
final case class ExpansionClause(qid: String, qidx: Int,
                                 terms: Seq[String], boost: Float) extends Clause

/** One scored-expansion clause (≙ FuzzyQuery under Lucene 5.4's default
  * `TopTermsBlendedFreqScoringRewrite(50)`, the rewrite SimpleQueryParser's
  * `~N` produces for the reference at `BatchSearch.java:252`): each
  * expanded term scores like a boosted TermQuery whose docFreq is BLENDED —
  * the max df (and max cf) across the expansion set — and a document
  * matching several expanded terms sums their partials (BooleanQuery
  * SHOULD), in deterministic (distance asc, term asc) expansion order.
  * `terms` carries (term, fuzzyBoost) where fuzzyBoost is FuzzyTermsEnum's
  * `1 − editDistance / min(|query|, |term|)` (codepoints), 1.0 at
  * distance 0.
  */
final case class BlendedClause(qid: String, qidx: Int,
                               terms: Seq[(String, Float)], boost: Float)
    extends Clause

/** One synonym-group clause (≙ Lucene `SynonymQuery`, the query-time
  * synonym-expansion primitive): the group scores as a SINGLE pseudo-term —
  * a document's frequency is the SUM of the member terms' tfs, saturated by
  * the scorer's TF function ONCE against one blended weight built from the
  * group's max docFreq (and summed collectionFreq), exactly
  * `SynonymQuery.SynonymWeight`'s `docFreq = max, totalTermFreq = Σ` /
  * `SynonymScorer.freq = Σ`. This differs from [[BlendedClause]] (fuzzy),
  * which scores each member separately and sums the PARTIALS.
  */
final case class SynonymClause(qid: String, qidx: Int,
                               terms: Seq[String], boost: Float)
    extends Clause

/** How a flat (tree-less) query combines its clauses. */
sealed trait Mode
object Mode {
  /** Disjunctive bag-of-words — the reference topic behavior. */
  case object Or extends Mode
  /** Conjunctive: only docs matching EVERY clause survive (posting-list
    * intersection; available in the reference's SimpleQueryParser `+`
    * syntax but unused by its batch driver, SURVEY.md §2.6).
    */
  case object And extends Mode
}

/** A batch of queries for [[Searcher.searchClauses]]: the clauses of every
  * qid plus the modifiers that shape the scored stream.
  *
  *  - `mode`: flat OR sum or AND (see [[Mode]]).
  *  - `trees`: per-qid BooleanQuery trees ([[BoolQuery.eval]]) replacing the
  *    flat sum — nested groups, per-node coord, MUST_NOT subtrees and
  *    match-all constants. A tree that matches a leafless document (pure
  *    negation, explicit `*`) also ranks the k smallest surviving
  *    complement docids at the empty-document score.
  *  - `negTerms`: MUST_NOT (qid, analyzed-term) pairs, removed BEFORE
  *    ranking by a distributed anti-join against the negated terms'
  *    postings — never a driver-side doc set.
  *  - `excludeDocnos`: per-qid docnos removed before ranking (≙
  *    `FeedbackDocumentFilter` rewriting TopDocs before ranks are
  *    assigned, `BatchSearch.java:238-249,286-287`).
  *  - `filter`: a (docid) table; candidates outside it are dropped before
  *    collapse and the collector (≙ a BooleanQuery FILTER clause).
  *  - `collapse`: a (docid, ckey) table; each (qid, ckey) keeps its best
  *    document before the collector (≙ CollapsingTopDocsCollector).
  *  - `minShouldMatch`: docs must match at least this many distinct
  *    clauses (≙ BooleanQuery.setMinimumNumberShouldMatch).
  *  - `prune`: block-max WAND, per qid where it is sound (pure disjunctive
  *    term scoring, or a SHOULD-only term tree); other qids score
  *    exhaustively.
  *
  * The validity rules below are the whole contract. A query that breaks
  * one fails before any Spark job runs: at construction, or — for the one
  * rule that needs the index — when the planner first sees it.
  */
final case class Query(clauses: Seq[Clause],
                       mode: Mode = Mode.Or,
                       trees: Map[String, BoolQuery.TreeSpec] = Map.empty,
                       negTerms: Seq[(String, String)] = Nil,
                       excludeDocnos: Map[String, Set[String]] = Map.empty,
                       filter: Option[DataFrame] = None,
                       collapse: Option[DataFrame] = None,
                       minShouldMatch: Int = 0,
                       prune: Boolean = false) {
  // WAND's seed θ is computed over the UNfiltered stream, so a doc the msm
  // gate later removes could seed a θ that overshoots the true (post-gate)
  // kth score; a tree carries its own occurs and AND already requires all.
  require(minShouldMatch == 0 || (mode == Mode.Or && trees.isEmpty && !prune),
    "minShouldMatch requires flat OR mode without trees or pruning")
  // MultiPhraseQuery union slots (several terms sharing one offset): the
  // sloppy event walk pins repeats by TERM identity per slot, which a
  // union slot has no single answer for.
  require(clauses.forall {
      case p: PhraseClause => p.slop == 0 || p.terms.map(_._2).distinct.size == p.terms.size
      case _ => true
    }, "slot alternatives (MultiPhraseQuery union slots) require slop == 0")
  require(trees.isEmpty || (mode == Mode.Or && negTerms.isEmpty),
    "tree evaluation carries its own boolean structure: use Mode.Or and no negTerms")
  require(collapse.isEmpty || !prune,
    "field collapse cannot prune: WAND's seed θ bounds the global kth " +
      "score, but a collapse key's winner may rank anywhere")
  require(filter.isEmpty || !prune,
    "attribute filters cannot prune: the seed pass computes θ over the " +
      "UNfiltered stream, so the filtered kth score may sit in a " +
      "block the overshooting θ skipped")
  // fail at the driver, not as an executor-side lookup miss at job time
  require(trees.isEmpty || clauses.forall(c => trees.contains(c.qid)),
    "clauses reference qids without a TreeSpec: " +
      clauses.map(_.qid).distinct.filterNot(trees.contains).mkString(", "))

  /** The one rule that needs the index: phrase clauses read positions. */
  private[search] def requireRunnableOn(index: BuiltIndex): Unit =
    require(index.cfg.indexPositions || !clauses.exists(_.isInstanceOf[PhraseClause]),
      "phrase clauses need a positions-enabled index (IndexConfig.indexPositions)")
}

object Query {
  /** One SHOULD term clause per analyzed token, in token order (≙
    * SimpleQueryParser over analyzed text, `BatchSearch.java:189-190,252`).
    */
  def termClauses(topics: Seq[Topic], analyzer: Analyzer): Seq[WeightedClause] =
    topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
}

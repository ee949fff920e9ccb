package graft.tools

import graft.LtrSettings
import graft.analysis.Analyzer
import graft.corpus.Parsers
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import graft.search.{Feedback, Query, Searcher, Snippets, Topic}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line parity with the reference's two entry points:
  *
  *   IndexTrec:   corpus files → inverted index   (≙ `IndexTREC.main`)
  *   BatchSearch: topics file → TREC run lines    (≙ `BatchSearch.main`)
  *
  * Usage mirrors the reference's settings-file + `key=value` override
  * convention (`IndexTREC.java:53-76`):
  *
  *   sbt "runMain graft.tools.IndexTrec [settings.hjson] [key=value...]"
  *   sbt "runMain graft.tools.BatchSearch [settings.hjson] [key=value...]"
  */
object Cli {
  /** Session for the CLI mains. Under `spark-submit` the launcher's
    * `--master` (injected as the `spark.master` system property) wins —
    * the north rule's deployment mode is "spark-submit on a
    * multi-executor cluster" (`scripts/spark_submit_smoke` proves the
    * packaged jar end-to-end on `local-cluster`). Launched bare (sbt
    * runMain), fall back to `local[$SPARK_GRAFT_CPUS]`.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val externalMaster = sys.props.contains("spark.master")
    val b = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val s = (if (externalMaster) b
             else b.master(s"local[$cpus]")
                   .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    // On a submitted cluster size the shuffle width to the cluster, not
    // to the 200 default — unless the operator pinned it via --conf.
    // defaultParallelism read right after getOrCreate can see only the
    // driver (executors not yet registered → 2, which would cap shuffle
    // width for the whole session; AQE coalesces down, never up), so
    // prefer the REQUESTED resources and otherwise wait briefly for
    // executor registration before sampling.
    if (externalMaster &&
        !s.sparkContext.getConf.contains("spark.sql.shuffle.partitions")) {
      val conf = s.sparkContext.getConf
      val requested = for {
        inst <- conf.getOption("spark.executor.instances").flatMap(_.toIntOption)
        cores <- conf.getOption("spark.executor.cores").flatMap(_.toIntOption)
      } yield inst * cores
      val width = requested.getOrElse {
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        var dp = s.sparkContext.defaultParallelism
        while (dp <= 2 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          dp = s.sparkContext.defaultParallelism
        }
        dp
      }
      s.conf.set("spark.sql.shuffle.partitions",
        math.max(width * 2, 4).toString)
    }
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def splitArgs(args: Array[String]): (Option[String], Seq[String]) = {
    val (ovs, files) = args.toSeq.partition(_.contains("="))
    (files.headOption, ovs)
  }

  def stopWords(settings: LtrSettings): Set[String] =
    if (settings.stopFile == "None") Set.empty
    else Analyzer.parseStopWords(
      java.nio.file.Files.readString(java.nio.file.Paths.get(settings.stopFile)))

  def readCorpus(spark: SparkSession, settings: LtrSettings): DataFrame =
    settings.fileFormat match {
      case "warc"   => Parsers.readWarcCorpus(spark, settings.docsPath)
      case "simple" => Parsers.readSimpleCorpus(spark, settings.docsPath)
      case _        => Parsers.readTrecCorpus(spark, settings.docsPath, settings.trecFieldsToIndex)
    }

  def runBatchSearch(spark: SparkSession, settings: LtrSettings): Seq[String] =
    BatchSearchRunner.run(spark, settings)
}

object IndexTrec {
  def main(args: Array[String]): Unit = {
    val (file, ovs) = Cli.splitArgs(args)
    val settings = LtrSettings.load(file, ovs)
    val spark = Cli.session()
    val cfg = IndexConfig(analyzer = settings.analyzerConfig(Cli.stopWords(settings)),
      indexPositions = settings.indexPositions)
    val corpus = Cli.readCorpus(spark, settings)
    val idx = IndexBuilder.build(corpus, settings.indexPath, cfg, verifySha = true)
    println(s"indexed ${idx.stats.max_doc} docs, " +
      s"${idx.stats.sum_total_term_freq} tokens → ${settings.indexPath}")
    spark.stop()
  }
}

object BatchSearch {
  def main(args: Array[String]): Unit = {
    val (file, ovs) = Cli.splitArgs(args)
    val settings = LtrSettings.load(file, ovs)
    val spark = Cli.session()
    Cli.runBatchSearch(spark, settings).foreach(println)
    spark.stop()
  }
}

object BatchSearchRunner {
  import graft.analysis.Analyzer
  import graft.search.{RunLine, Snippets}
  import org.apache.spark.sql.Dataset

  /** The full BatchSearch flow, returned as output lines so CliSpec can
    * assert on it (≙ `doBatchSearch` loop, `BatchSearch.java:193-338`).
    *
    * All PLAIN topics run as ONE batched Spark job (`Searcher.searchQuery`
    * handles the SimpleQueryParser subset per topic) — the reference loops
    * one `searcher.search` per topic, but it's single-JVM Lucene where that
    * costs nothing; per-topic Spark jobs cost ~2 s each in job latency
    * (BENCH.md measures ~5× amortization from batching). Feedback topics
    * keep their per-topic pre/post-processor pipeline.
    *
    * With `includeSnippets`, each hit line is followed by a snippet line
    * with the reference's "..." wrapping quirk (`BatchSearch.java:311-338`:
    * trailing "...", leading "..." unless the fragment starts uppercase).
    */
  def run(spark: org.apache.spark.sql.SparkSession, settings: LtrSettings): Seq[String] = {
    val idx = BuiltIndex.open(spark, settings.indexPath)
    val searcher = new Searcher(idx)
    val scorer = settings.scorerName
    val k = settings.returnedResultCount
    val topics = Parsers.parseTopics(
      java.nio.file.Files.readString(java.nio.file.Paths.get(settings.queryFile)))

    val (fbTopics, plainTopics) =
      topics.partition(t => t.feedbackDocs.nonEmpty && t.preprocessor.nonEmpty)
    lazy val corpus = Cli.readCorpus(spark, settings)

    val plainDs: Option[Dataset[RunLine]] =
      if (plainTopics.isEmpty) None
      else Some(searcher.searchQuery(
        plainTopics.map(t => Topic(t.qid, t.text)), k, scorer))
    val fbClauses = fbTopics.map { t =>
      t.qid -> Feedback.expandedClauses(t.qid, t.feedbackDocs, corpus,
        idx.cfg.analyzer, t.topTermsToKeep)
    }.toMap
    val fbDs: Seq[Dataset[RunLine]] = fbTopics.map { t =>
      searcher.searchClauses(Query(fbClauses(t.qid),
        excludeDocnos = Map(t.qid -> t.feedbackDocs.flatMap(_.docno).toSet)), k, scorer)
    }
    val allDs = (plainDs.toSeq ++ fbDs).reduceOption(_ union _)

    val collected: Seq[(RunLine, Option[String])] = allDs match {
      case None => Nil
      case Some(ds) if !settings.includeSnippets =>
        ds.collect().toSeq.map(_ -> None)
      case Some(ds) =>
        val analyzer = new Analyzer(idx.cfg.analyzer)
        // Highlight with the FULL parsed query (≙ the reference highlighting
        // with the final `query`, BatchSearch.java:318): every scoring leaf
        // of the boolean tree — loose terms, phrase slots, and the expanded
        // prefix/fuzzy vocabulary (MUST_NOT leaves skipped, like Lucene's
        // QueryScorer term extraction).
        val termsByQid: Map[String, Set[String]] =
          plainTopics.map(t => t.qid -> searcher.highlightTerms(t.text)).toMap ++
          fbClauses.view.mapValues(_.map(_.term).toSet).toMap
        Snippets.attach(ds, corpus, analyzer, termsByQid,
            maxFragments = settings.maxSnippetFragments)
          .collect().toSeq.map { r =>
            (RunLine(r.getString(0), r.getString(1), r.getInt(2),
              r.getFloat(3), r.getString(4)), Some(r.getString(5)))
          }
    }

    // print in topic-file order, rank order within a topic
    val byQid = collected.groupBy(_._1.qid)
    topics.flatMap { t =>
      byQid.getOrElse(t.qid, Nil).sortBy(_._1.rank).flatMap { case (l, snip) =>
        val line = s"${l.qid} Q0 ${l.docno} ${l.rank} ${l.score} ${l.runtag}"
        snip match {
          case None => Seq(line)
          case Some(s) =>
            val f = s + "..."
            Seq(line, if (!Character.isUpperCase(f.charAt(0))) "..." + f else f)
        }
      }
    }
  }
}

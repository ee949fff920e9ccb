package graftbench

import graft.index.{BuiltIndex, Checkpoint, IndexLayout}
import graft.search.{Bm25Scorer, CollStats, Topic}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics, measured from outside the engine: stage manifests,
  * on-disk sizes, the listener's job metrics per op span, and kernel
  * replays. Every workload reports every metric; a layer the workload does
  * not exercise reads 0 (its streaming metrics on a plain index, where a
  * query opens one directory).
  */
object Layers {
  /** The searchable tables of an index (the tokenize checkpoint excluded). */
  val IndexTables: Seq[String] = Seq(IndexLayout.DocsDir, IndexLayout.StatsDir,
    IndexLayout.PostingsDir, IndexLayout.TermStatsDir, IndexLayout.VocabDir)

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toList
      finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).iterator.map(Files.size).sum

  def indexBytes(dir: String): Long = IndexTables.iterator.map(t => bytes(s"$dir/$t")).sum

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** max/median rows over a stage manifest's partitions (1 when empty). */
  def skew(rows: Seq[Long]): Double = {
    val r = rows.filter(_ > 0).map(_.toDouble)
    if (r.isEmpty) 1.0 else r.max / Stats.median(r)
  }

  /** Index-layer metrics over `builds` (op span, index dir). */
  def index(run: Run, builds: Seq[(Span, String)], searched: Seq[String]): Unit = {
    val conf = run.spark.sparkContext.hadoopConfiguration
    val stages = Seq("tokenized" -> IndexLayout.TokenizedDir, "docs" -> IndexLayout.DocsDir,
      "stats" -> IndexLayout.StatsDir, "postings" -> IndexLayout.PostingsDir,
      "term_stats" -> IndexLayout.TermStatsDir, "vocab" -> IndexLayout.VocabDir)
    stages.foreach { case (name, sub) =>
      run.perLayer(s"index.${name}_s") = (mean(builds.map { case (_, d) =>
        Checkpoint.readManifest(s"$d/$sub", conf).map(_.wallMs / 1000.0).getOrElse(0.0)
      }), "s")
    }
    val jobs = builds.map { case (s, _) => run.tracer.jobsOf(s) }
    run.perLayer("index.jobs") = (mean(jobs.map(_.size.toDouble)), "count")
    run.perLayer("index.task_cpu_s") = (mean(jobs.map(_.map(_.taskCpuNs).sum / 1e9)), "s")
    run.perLayer("index.shuffle_write_bytes") =
      (mean(jobs.map(_.map(_.shuffleWriteBytes).sum.toDouble)), "bytes")
    run.perLayer("index.spill_bytes") = (mean(jobs.map(_.map(_.spillBytes).sum.toDouble)), "bytes")
    run.perLayer("index.partition_skew") = (mean(builds.map { case (_, d) =>
      Seq(IndexLayout.TokenizedDir, IndexLayout.PostingsDir).map { sub =>
        skew(Checkpoint.readManifest(s"$d/$sub", conf).toSeq.flatMap(_.partitions.map(_.rows)))
      }.max
    }), "ratio")
    run.perLayer("index.write_amplification") = (mean(builds.zip(jobs).map { case ((_, d), js) =>
      js.map(j => j.outputBytes + j.shuffleWriteBytes).sum.toDouble / math.max(1L, indexBytes(d))
    }), "ratio")
    val postFiles = searched.flatMap(d => files(s"$d/${IndexLayout.PostingsDir}"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    run.perLayer("index.postings_files") = (postFiles.size.toDouble, "count")
    run.perLayer("index.postings_bytes") = (postFiles.iterator.map(Files.size).sum.toDouble, "bytes")
  }

  /** Search-layer metrics over the search call spans `calls`. */
  def search(run: Run, calls: Seq[Span]): Unit = {
    val jobs = calls.map(run.tracer.jobsOf)
    def perCall(f: JobMetrics => Double): Double = mean(jobs.map(_.map(f).sum))
    run.perLayer("search.jobs_per_call") = (mean(jobs.map(_.size.toDouble)), "count")
    run.perLayer("search.driver_s_per_call") =
      (mean(calls.map(c => Span.selfMs(c, run.tracer.jobSpans(c)) / 1000.0)), "s")
    run.perLayer("search.sched_wait_s_per_call") = (perCall(_.schedWaitMs / 1000.0), "s")
    run.perLayer("search.task_cpu_s_per_call") = (perCall(_.taskCpuNs / 1e9), "s")
    run.perLayer("search.input_bytes_per_call") = (perCall(_.inputBytes.toDouble), "bytes")
    run.perLayer("search.shuffle_bytes_per_call") = (perCall(_.shuffleWriteBytes.toDouble), "bytes")
  }

  /** Streaming-layer metrics (all 0 but `unionDirsPerQuery` when the
    * workload ingests nothing).
    */
  def streaming(run: Run, deltas: Seq[Span], compactions: Seq[Span],
                compactBytes: Seq[Long], unionDirsPerQuery: Double): Unit = {
    run.perLayer("streaming.delta_build_s") =
      (if (deltas.isEmpty) 0.0 else Stats.median(deltas.map(_.durMs / 1000.0)), "s")
    run.perLayer("streaming.jobs_per_delta") =
      (mean(deltas.map(d => run.tracer.jobsOf(d).size.toDouble)), "count")
    run.perLayer("streaming.compact_s") =
      (if (compactions.isEmpty) 0.0 else Stats.median(compactions.map(_.durMs / 1000.0)), "s")
    run.perLayer("streaming.compact_bytes_rewritten") = (mean(compactBytes.map(_.toDouble)), "bytes")
    run.perLayer("streaming.union_dirs_per_query") = (unionDirsPerQuery, "count")
  }

  /** Kernel replays on the postings of the workload's own query terms, and
    * the analyzer on a sample of its corpus.
    */
  def kernels(run: Run, index: BuiltIndex, topics: Seq[Topic], texts: Seq[String]): Unit = {
    val spark = run.spark
    import spark.implicits._
    val an = new graft.analysis.Analyzer(index.cfg.analyzer)
    val terms = topics.flatMap(t => an.analyze(t.text)).distinct
    val runs: Seq[(String, Kernels.Run)] = index.postings
      .where(col("term").isin(terms: _*))
      .select("term", "ndocs", "doc_blob", "tf_blob", "dl_blob")
      .as[(String, Int, Array[Byte], Array[Byte], Array[Byte])].collect().toSeq
      .map { case (t, n, d, f, l) => t -> Kernels.Run(n, d, f, l) }
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    val blobs = runs.map(_._2)
    run.perLayer("analysis.tokens_per_s") = (Kernels.tokensPerS(texts, index.cfg.analyzer), "tokens/s")
    run.perLayer("codec.encode_mb_per_s") = (Kernels.encodeMbPerS(blobs), "MB/s")
    run.perLayer("codec.decode_mb_per_s") = (Kernels.decodeMbPerS(blobs), "MB/s")
    val (blobBytes, postings) = index.postings
      .agg(sum(length(col("doc_blob")) + length(col("tf_blob")) + length(col("dl_blob"))).cast("long"),
        sum(col("ndocs")).cast("long"))
      .as[(Long, Long)].head()
    run.perLayer("codec.bytes_per_posting") = (blobBytes.toDouble / math.max(1L, postings), "bytes")
    run.perLayer("search.scorer.postings_per_s") = (Kernels.scorerPostingsPerS(blobs, stats), "postings/s")
    // top-k input: each topic's per-document BM25 sums, as the scoring
    // stage hands them to the collector
    val byTerm = runs.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2) }
    val rows = topics.flatMap { topic =>
      val acc = new java.util.HashMap[Long, Float]()
      an.analyze(topic.text).foreach { t =>
        val rs = byTerm.getOrElse(t, Nil)
        val w = Bm25Scorer.termWeight(rs.map(_.ndocs.toLong).sum, 0L, stats)
        rs.foreach(r => Kernels.decode(r).foreach { p =>
          acc.put(p.docid, acc.getOrDefault(p.docid, 0.0f) + Bm25Scorer.score(p.tf.toFloat, p.dl, w, stats))
        })
      }
      acc.asScala.iterator.map { case (d, s) => (topic.qid, d, s) }
    }
    run.perLayer("search.topk.rows_per_s") = (Kernels.topkRowsPerS(spark, rows, 1000), "rows/s")
  }

  def jvm(run: Run, before: GcTotals, after: GcTotals): Unit = {
    run.perLayer("jvm.gc_s") = (after.seconds - before.seconds, "s")
    run.perLayer("jvm.gc_count") = ((after.count - before.count).toDouble, "count")
  }
}

package graftbench

import graft.Engine
import graft.corpus.Corpus
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import graft.search.{RunLine, Searcher, Topic}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Input set-up shared by the workloads. */
object Setup {
  /** Set-ups per run; `setup_s` is their median. */
  val Reps = 3

  /** Write the seeded lineitem table of orders [1, 1 + orders), then derive
    * the persisted corpus from it [[Reps]] times the way graft.Bench does
    * (Corpus.fromLineitem, repartitioned). Returns the last corpus and its
    * row count; `setup_s` is the median time of the derivations.
    */
  def corpus(run: Run, orders: Long): (DataFrame, Long) = {
    val dir = Gen.writeLineitem(run.spark, run.seed, 1L, 1L + orders, s"${run.work}/input", run.cpus)
    var last: Option[DataFrame] = None
    var rows = 0L
    val secs = (1 to Setup.Reps).map { _ =>
      last.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val c = Corpus.fromLineitem(run.spark, dir)
        .select("docno", "content")
        .repartition(run.cpus * 4)
        .persist(StorageLevel.DISK_ONLY)
      rows = c.count()
      last = Some(c)
      (System.nanoTime() - t0) / 1e9
    }
    run.endToEnd("setup_s") = (Stats.median(secs), "s")
    run.say(f"set-up: $rows docs, ${secs.map(s => f"$s%.3f").mkString(" ")} s")
    (last.get, rows)
  }

  def contentBytes(corpus: DataFrame): Long =
    corpus.agg(sum(length(col("content"))).cast("long")).head().getLong(0)

  def docs(corpus: DataFrame): Seq[(String, String)] = {
    import corpus.sparkSession.implicits._
    corpus.select("docno", "content").as[(String, String)].collect().toSeq
  }

  /** The index config graft.Bench builds with. */
  val IndexCfg: IndexConfig = IndexConfig(analyzer = Engine.OracleAnalyzer, fingerprint = "none")

  def endCommon(run: Run, heapMb: Double, indexBytes: Long, contentBytes: Long): Unit = {
    run.endToEnd("index_bytes_per_content_byte") =
      (indexBytes.toDouble / math.max(1L, contentBytes), "ratio")
    run.endToEnd("retained_heap_mb") = (heapMb, "MB")
  }

  /** success_rate over every op and check so far (error rate = 1 − it). */
  def successRate(run: Run): Unit =
    run.endToEnd("success_rate") =
      (1.0 - run.failed.toDouble / math.max(1L, run.attempted), "ratio")
}

/** Checks shared by the workloads. */
object Checks {
  /** Decoded postings of `terms` equal the brute-force (docno, tf, dl) lists. */
  def postings(run: Run, index: BuiltIndex, brute: Brute, terms: Seq[String]): Option[String] = {
    val spark = run.spark
    import spark.implicits._
    val decoded = index.postings.where(col("term").isin(terms: _*))
      .select("term", "ndocs", "doc_blob", "tf_blob", "dl_blob")
      .as[(String, Int, Array[Byte], Array[Byte], Array[Byte])].collect().toSeq
      .flatMap { case (t, n, d, f, l) =>
        Kernels.decode(Kernels.Run(n, d, f, l)).map(p => (t, p.docid, p.tf, p.dl))
      }
    val docnoOf = index.docs.select("docid", "docno").as[(Long, String)].collect().toMap
    val want = brute.postings
    terms.iterator.map { t =>
      val got = decoded.filter(_._1 == t)
        .map(p => (docnoOf.getOrElse(p._2, s"<docid ${p._2}>"), p._3, p._4)).sorted
      val exp = want(t).toSeq.map { case (i, tf) => (brute.docnos(i), tf, brute.dl(i)) }.sorted
      if (got == exp) None
      else Some(s"term $t: ${got.size} postings decoded, reference has ${exp.size}" +
        got.zip(exp).find(p => p._1 != p._2).map(p => s", first difference ${p._1} vs ${p._2}").getOrElse(""))
    }.collectFirst { case Some(e) => e }
  }

  /** `topic`'s returned top hits are a valid top-k under brute force. */
  def ranks(brute: Brute, topic: Topic, got: Seq[(String, Float)], k: Int): Option[String] =
    Brute.rankMismatch(got.take(k), brute.rank(topic), k).map(e => s"topic ${topic.qid} '${topic.text}': $e")

  /** Analyzed terms of `topics` plus `extra`: what a [[Brute]] must prepare. */
  def terms(topics: Seq[Topic], extra: Seq[String]): Set[String] =
    (topics.flatMap(t => Brute.analyze(t.text)) ++ extra).toSet

  /** Seeded sample of index terms: 4 hot, 4 mid and 4 rare. */
  def sampleTerms(seed: Long): Seq[String] = {
    val r = Gen.rng(seed, 0L, 99L)
    Seq(Gen.Hot, Gen.Mid, Gen.Rare).flatMap(cls => Seq.fill(4)(cls(r.nextInt(cls.size))))
      .map(_.toLowerCase).distinct
  }
}

/** `BatchSearch` traffic: one seeded batch of topics, searched at k = 1000
  * over and over (closed loop, one client thread) on an index built fresh
  * in the run. topics × k exceeds the docno lookup's 4,096-id literal
  * threshold, so the lookup takes its semi-join path; the batch repeats, so
  * the term-stats memo is warm after the first call.
  */
object BatchSearch {
  val Orders = 20000L
  val Topics = 32
  val K = 1000
  val CheckedTopics = 8
  val TimedBuilds = 2
  val WarmupCalls = 2
  val MinCallsPerRound = 2

  def run(r: Run): Unit = {
    val (corpus, nDocs) = Setup.corpus(r, Orders)
    val contentBytes = Setup.contentBytes(corpus)
    // the searched index, built untimed first so that the timed builds run
    // on compiled code
    val dir = s"${r.work}/index"
    val (idx, _) = r.op("IndexBuilder.build warm-up", "warmup") {
      IndexBuilder.build(corpus, dir, Setup.IndexCfg)
    }.getOrElse(sys.error("index build failed"))
    val searcher = new Searcher(idx)
    val topics = Gen.topics(r.seed, 1L, "b", Topics)
    def call(): Seq[RunLine] = searcher.search(topics, K).collect().toSeq
    (1 to WarmupCalls).foreach(_ => r.op("Searcher.search warm-up", "warmup")(call()))

    // The timed search calls run in TimedBuilds + 1 rounds of --seconds /
    // (TimedBuilds + 1), with one timed build of the same corpus between
    // rounds, so the samples of both metrics spread over the whole loop
    // and a burst of host noise reaches only some of them.
    val rounds = TimedBuilds + 1
    val dirs = (1 to TimedBuilds).map(b => s"${r.work}/index_$b")
    val gc0 = GcTotals.now()
    val buildSecs = mutable.ArrayBuffer.empty[Double]
    val secs = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.LinkedHashSet.empty[String]
    var last: Seq[RunLine] = Nil
    (0 until rounds).foreach { round =>
      if (round > 0)
        r.op("IndexBuilder.build", "build")(IndexBuilder.build(corpus, dirs(round - 1), Setup.IndexCfg))
          .foreach { case (_, s) => buildSecs += s }
      val t0 = System.nanoTime()
      val n0 = secs.size
      while (((System.nanoTime() - t0) / 1e9 < r.seconds / rounds || secs.size - n0 < MinCallsPerRound) &&
        r.failed <= 3) {
        r.op("Searcher.search", "search")(call()).foreach { case (lines, s) =>
          secs += s
          last = lines
          digests += Brute.digest(searcher.formatRun(lines.sortBy(l => (l.qid, l.rank))))
        }
      }
    }
    require(buildSecs.nonEmpty, "every timed index build failed")
    r.endToEnd("docs_per_s") = (nDocs / Stats.median(buildSecs.toSeq), "docs/s")
    r.say(s"build: $nDocs docs in ${buildSecs.map(s => f"$s%.3f").mkString(" ")} s")
    require(secs.nonEmpty, "every search call failed")
    val gc1 = GcTotals.now()
    val p50 = Stats.median(secs.toSeq)
    r.endToEnd("topics_per_s") = (Topics / p50, "topics/s")
    r.endToEnd("query_p50_s") = (p50, "s")
    Setup.endCommon(r, r.retainedHeapMb(), Layers.indexBytes(dir), contentBytes)
    r.say(f"search: ${secs.size} calls of $Topics topics (${secs.map(s => f"$s%.3f").mkString(" ")} s), p50 $p50%.3f s" +
      Stats.tail(secs.toSeq).map { case (p, v) => f", p$p%.0f $v%.3f s" }.getOrElse("") +
      s", run digest ${digests.headOption.getOrElse("-")}")

    // ---- correctness, outside the timed loop ----
    val docs = Setup.docs(corpus)
    val sample = new scala.util.Random(r.seed).shuffle(topics).take(CheckedTopics)
    val sampleTerms = Checks.sampleTerms(r.seed)
    val brute = new Brute(docs, Checks.terms(sample, sampleTerms))
    r.check("run lines identical on every call")(
      if (digests.size == 1) None else Some(s"${digests.size} distinct run digests"))
    r.check("docs count equals corpus rows")(
      Some(idx.docs.count()).filter(_ != nDocs).map(n => s"$n docs indexed, corpus has $nDocs"))
    r.check("IndexBuilder.shaMismatches == 0")(
      Some(IndexBuilder.shaMismatches(corpus, idx)).filter(_ != 0L).map(n => s"$n rows differ"))
    r.check("sampled postings equal brute force")(
      Checks.postings(r, idx, brute, sampleTerms))
    r.check(s"top-10 of $CheckedTopics sampled topics equal brute-force BM25")(
      sample.iterator.map(t => Checks.ranks(brute, t, Brute.hits(last, t.qid), 10))
        .collectFirst { case Some(e) => e })
    Setup.successRate(r)

    if (r.tracer.enabled) {
      r.tracer.drain()
      Layers.index(r, r.tracer.opsOf("build").zip(dirs), Seq(dir))
      Layers.search(r, r.tracer.opsOf("search"))
      Layers.streaming(r, Nil, Nil, Nil, 1.0)
      Layers.kernels(r, idx, topics, docs.take(5000).map(_._2))
      Layers.jvm(r, gc0, gc1)
    }
    corpus.unpersist()
  }
}

/** Writes beside reads, in cycles of a fixed shape: into a fresh stream
  * root, [[DeltasPerCycle]] seeded deltas (disjoint order-key slices) go
  * through StreamingIngest.ingestBatch. After each delta the union is
  * reopened and refreshed by one query, then single-topic searchPaged
  * calls on fresh seeded topics run over it; the cycle ends with a
  * compaction. Cycles repeat while `--seconds` have not passed (at least
  * one, at most [[MaxCycles]]), so a faster engine runs more cycles of the
  * same shape rather than a different workload.
  */
object IngestMixed {
  val DeltaOrders = 1000L
  val DeltasPerCycle = 2
  val MaxCycles = 4
  val QueriesPerDelta = 5
  val CheckedTopics = 8

  def run(r: Run): Unit = {
    val (corpus, _) = Setup.corpus(r, DeltaOrders * DeltasPerCycle * MaxCycles)
    def docno(orderKey: Long) = f"o$orderKey%010d"
    def rows(d: Int) = {
      val (lo, hi) = Gen.deltaSlice(1L, DeltaOrders, d)
      corpus.where(col("docno") >= docno(lo) && col("docno") < docno(hi))
    }
    def root(c: Int) = s"${r.work}/stream_$c"

    val gc0 = GcTotals.now()
    val latencies = mutable.ArrayBuffer.empty[Double]
    val cycleDocsPerS = mutable.ArrayBuffer.empty[Double]
    val compactBytes = mutable.ArrayBuffer.empty[Long]
    val unionDirs = mutable.ArrayBuffer.empty[Int]
    // (topic, global index of the last delta in the union it ran on, top hits)
    val asked = mutable.ArrayBuffer.empty[(Topic, Int, Seq[(String, Float)])]
    var cycles = 0
    val t0 = System.nanoTime()
    while (cycles == 0 || (cycles < MaxCycles && (System.nanoTime() - t0) / 1e9 < r.seconds)) {
      val c = cycles
      var secs = 0.0
      var docs = 0L
      (0 until DeltasPerCycle).foreach { j =>
        val d = c * DeltasPerCycle + j
        r.op(s"StreamingIngest.ingestBatch $d", "delta") {
          StreamingIngest.ingestBatch(rows(d), j.toLong, root(c), Setup.IndexCfg)
        }.foreach { case (_, s) => secs += s; docs += DeltaOrders }
        // refresh: open the new union and run its first query, which loads
        // the new directories' listings and statistics; the docs are
        // searchable once it returns
        r.op("StreamingIngest.openUnion + first query", "refresh") {
          val u = StreamingIngest.openUnion(r.spark, root(c))
          val searcher = new Searcher(u)
          searcher.searchPaged(Gen.topic(r.seed, 3L, "r", d.toLong), 0)
          (u, searcher)
        }.foreach { case ((u, searcher), s) =>
          secs += s
          (0 until QueriesPerDelta).foreach { q =>
            val topic = Gen.topic(r.seed, 2L, "q", (d * QueriesPerDelta + q).toLong)
            r.op("Searcher.searchPaged", "search")(searcher.searchPaged(topic, 0)).foreach {
              case (lines, s) =>
                latencies += s
                unionDirs += u.dirs.size
                asked += ((topic, d, lines.map(l => (l.docno, l.score))))
            }
          }
        }
      }
      r.op(s"StreamingIngest.compact cycle $c", "compact")(StreamingIngest.compact(r.spark, root(c)))
        .foreach { case (built, s) =>
          secs += s
          built.foreach(b => compactBytes += Layers.bytes(b.dir))
        }
      cycleDocsPerS += docs / secs
      cycles += 1
    }
    val gc1 = GcTotals.now()
    require(latencies.nonEmpty && cycleDocsPerS.exists(_ > 0), "no delta or query succeeded")
    val p50 = Stats.median(latencies.toSeq)
    r.endToEnd("docs_per_s") = (Stats.median(cycleDocsPerS.toSeq), "docs/s")
    r.endToEnd("topics_per_s") = (1 / p50, "topics/s")
    r.endToEnd("query_p50_s") = (p50, "s")
    // the last cycle's union after its compaction
    val last = cycles - 1
    val finalUnion = StreamingIngest.openUnion(r.spark, root(last))
    val finalDirs = finalUnion.dirs
    def ingested(from: Int, to: Int) = corpus.where(
      col("docno") >= docno(Gen.deltaSlice(1L, DeltaOrders, from)._1) &&
        col("docno") < docno(Gen.deltaSlice(1L, DeltaOrders, to)._2))
    val lastRows = ingested(last * DeltasPerCycle, cycles * DeltasPerCycle - 1)
    Setup.endCommon(r, r.retainedHeapMb(), finalDirs.map(Layers.indexBytes).sum,
      Setup.contentBytes(lastRows))
    r.say(f"ingest: $cycles cycles of $DeltasPerCycle deltas of $DeltaOrders docs and a compaction, " +
      s"docs/s per cycle ${cycleDocsPerS.map(x => f"$x%.1f").mkString(" ")}; " +
      f"${latencies.size} queries (${latencies.map(s => f"$s%.2f").mkString(" ")} s), p50 $p50%.3f s" +
      Stats.tail(latencies.toSeq).map { case (p, v) => f", p$p%.0f $v%.3f s" }.getOrElse(""))

    // ---- correctness, outside the timed loop ----
    val docs = Setup.docs(ingested(0, cycles * DeltasPerCycle - 1))
    val byDelta = (0 until cycles * DeltasPerCycle).map { d =>
      val (lo, hi) = Gen.deltaSlice(1L, DeltaOrders, d)
      docs.filter { case (n, _) => n >= docno(lo) && n < docno(hi) }
    }
    r.check("union answers equal brute force over the rows ingested so far") {
      asked.groupBy(_._2).toSeq.sortBy(_._1).iterator.flatMap { case (d, qs) =>
        val inUnion = byDelta.slice(d - d % DeltasPerCycle, d + 1).flatten
        val brute = new Brute(inUnion, Checks.terms(qs.map(_._1).toSeq, Nil))
        qs.iterator.map { case (t, _, got) => Checks.ranks(brute, t, got, 10) }
      }.collectFirst { case Some(e) => e }
    }
    val lastDocs = byDelta.drop(last * DeltasPerCycle).flatten
    val sampleTerms = Checks.sampleTerms(r.seed)
    r.check("compacted union postings of sampled terms equal brute force")(
      Checks.postings(r, finalUnion, new Brute(lastDocs, sampleTerms.toSet), sampleTerms))
    r.check("compacted union answers equal brute force") {
      val topics = asked.map(_._1).distinct.take(CheckedTopics).toSeq
      val brute = new Brute(lastDocs, Checks.terms(topics, Nil))
      val lines = new Searcher(finalUnion).search(topics, 10).collect().toSeq
      topics.iterator.map(t => Checks.ranks(brute, t, Brute.hits(lines, t.qid), 10))
        .collectFirst { case Some(e) => e }
    }
    Setup.successRate(r)

    if (r.tracer.enabled) {
      r.tracer.drain()
      val deltas = r.tracer.opsOf("delta")
      val deltaDirs = (0 until cycles).flatMap(c =>
        (0 until DeltasPerCycle).map(j => s"${root(c)}/batches/batch_$j"))
      Layers.index(r, deltas.zip(deltaDirs), finalDirs)
      Layers.search(r, r.tracer.opsOf("search"))
      Layers.streaming(r, deltas, r.tracer.opsOf("compact"), compactBytes.toSeq,
        unionDirs.sum.toDouble / unionDirs.size)
      Layers.kernels(r, finalUnion, asked.map(_._1).toSeq, lastDocs.take(5000).map(_._2))
      Layers.jvm(r, gc0, gc1)
    }
    corpus.unpersist()
  }
}

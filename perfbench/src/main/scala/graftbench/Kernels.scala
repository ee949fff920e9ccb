package graftbench

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.codec.{DecodedPosting, PostingCodec}
import graft.search.{Bm25Scorer, CollStats, TopKAgg}
import org.apache.spark.sql.{Encoder, SparkSession}

/** Single-threaded replays of the pure-JVM kernels on the workload's own
  * data: each is timed by calling the layer's public entry point in a loop
  * for at least [[Kernels.MinSeconds]].
  */
object Kernels {
  val MinSeconds = 0.3

  /** One encoded posting run as stored: (ndocs, doc, tf, dl blobs). */
  final case class Run(ndocs: Int, doc: Array[Byte], tf: Array[Byte], dl: Array[Byte]) {
    def bytes: Long = doc.length.toLong + tf.length + dl.length
  }

  /** Units of work per second of `f`, which returns the units one pass did. */
  def rate(f: () => Long): Double = {
    f() // warm-up pass
    var units = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < MinSeconds) {
      units += f()
      el = (System.nanoTime() - t0) / 1e9
    }
    units / el
  }

  def tokensPerS(texts: Seq[String], cfg: AnalyzerConfig): Double = {
    val an = new Analyzer(cfg)
    rate(() => texts.iterator.map(t => an.termFreqs(t)._2.toLong).sum)
  }

  def decode(r: Run): Iterator[DecodedPosting] =
    PostingCodec.decodeBlobs(r.ndocs, r.doc, r.tf, r.dl)

  /** Encoded megabytes decoded per second. */
  def decodeMbPerS(runs: Seq[Run]): Double = {
    val bytes = runs.iterator.map(_.bytes).sum
    rate { () =>
      runs.foreach { r => val it = decode(r); while (it.hasNext) it.next() }
      bytes
    } / 1e6
  }

  /** Encoded megabytes produced per second. */
  def encodeMbPerS(runs: Seq[Run]): Double = {
    val lists = runs.map(r => decode(r).toArray)
    rate { () =>
      lists.iterator.map { l =>
        val e = PostingCodec.encode(l.iterator)
        e.docBlob.length.toLong + e.tfBlob.length + e.dlBlob.length
      }.sum
    } / 1e6
  }

  /** BM25 scores per second over the decoded (tf, dl) of each run. */
  def scorerPostingsPerS(runs: Seq[Run], stats: CollStats): Double = {
    val lists = runs.map(r => decode(r).map(p => (p.tf.toFloat, p.dl)).toArray)
    val weight = Bm25Scorer.termWeight(stats.maxDoc / 10, 0L, stats)
    var sink = 0.0f // consumed below, so the JIT cannot drop the scoring
    val r = rate { () =>
      lists.foreach(_.foreach { case (tf, dl) => sink += Bm25Scorer.score(tf, dl, weight, stats) })
      lists.iterator.map(_.length.toLong).sum
    }
    if (sink.isNaN) 0.0 else r
  }

  /** (qid, docid, score) rows collected per second by the bounded top-k. */
  def topkRowsPerS(spark: SparkSession, rows: Seq[(String, Long, Float)], k: Int): Double = {
    import spark.implicits._
    val enc = implicitly[Encoder[Seq[(Long, Float)]]]
    val agg = new TopKAgg(k, enc, enc)
    val byQid = rows.groupBy(_._1).values.toSeq
    rate { () =>
      byQid.foreach { qs =>
        var buf = agg.zero
        qs.foreach(r => buf = agg.reduce(buf, r))
        agg.finish(buf)
      }
      rows.size.toLong
    }
  }
}

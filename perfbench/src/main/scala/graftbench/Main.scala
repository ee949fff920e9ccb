package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared state of one benchmark run: the session, the tracer, op and
  * check accounting, and the metrics to report.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val work: String, val tracer: Tracer) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  private var checkFailures = 0
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

  private val born = System.nanoTime()
  def say(msg: String): Unit =
    println(f"[$workload ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  /** One engine call, counted in attempted/failed; None when it threw. */
  def op[A](name: String, kind: String)(f: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(tracer.op(name, kind)(f))
    catch {
      case NonFatal(e) =>
        failed += 1
        say(s"op $name FAILED: $e")
        None
    }
  }

  /** A correctness check, outside any timed region: `f` returns None when
    * the output is correct, or what is wrong.
    */
  def check(name: String)(f: => Option[String]): Unit = {
    attempted += 1
    val verdict = try f catch { case NonFatal(e) => Some(s"threw $e") }
    verdict match {
      case None => say(s"check $name: ok")
      case Some(why) =>
        failed += 1; checkFailures += 1
        say(s"check $name: FAILED: $why")
    }
  }

  def correct: Boolean = checkFailures == 0 && failed == 0

  /** Heap in use after a forced full GC, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** JVM-wide GC totals, for deltas over a phase. */
final case class GcTotals(seconds: Double, count: Long)
object GcTotals {
  def now(): GcTotals = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    GcTotals(beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-dir <dir>]`.
  * Prints progress, the check verdicts and (traced) the per-layer table,
  * then the result as the last line of standard output. Exit code 1 when
  * any op or check failed.
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "batch_search" -> BatchSearch.run,
    "ingest_mixed" -> IngestMixed.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (have ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val traced = need("trace") == "1"
    val work = need("work")
    val cpus = Runtime.getRuntime.availableProcessors

    // the same session config as graft.Bench, with per-run scratch dirs
    val spark = SparkSession.builder()
      .appName(s"graftbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.local.dir", s"$work/shuffle")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val run = new Run(spark, workload, need("seed").toLong, need("seconds").toDouble,
      work, new Tracer(spark.sparkContext, traced))
    try body(run)
    catch {
      case NonFatal(e) =>
        run.failed += 1
        run.attempted = math.max(run.attempted, 1L)
        run.say(s"workload aborted: $e")
        e.printStackTrace()
    }
    if (traced) {
      opts.get("trace-dir").foreach(writeTrace(run, _))
      printTable(run)
    }
    spark.stop()

    val metrics = if (traced) run.perLayer else run.endToEnd
    val line = Json.obj(Seq(
      "correct" -> run.correct.toString,
      "attempted" -> Json.num(math.max(run.attempted, 1L)),
      "failed" -> Json.num(run.failed),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
    System.out.flush()
    sys.exit(if (run.correct) 0 else 1)
  }

  private def printTable(run: Run): Unit = {
    run.say("end-to-end figures of this traced run (compare with an untraced run of the same seed for the tracing overhead):")
    run.endToEnd.foreach { case (k, (v, u)) => run.say(f"  $k%-32s $v%14.4f $u") }
    run.say("per-layer:")
    run.perLayer.foreach { case (k, (v, u)) => run.say(f"  $k%-32s $v%14.4f $u") }
  }

  private def writeTrace(run: Run, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val base = s"$dir/${run.workload}-seed${run.seed}"
    Files.write(Paths.get(s"$base.spans.jsonl"),
      run.tracer.spanLines(run.workload).asJava)
    def table(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Files.writeString(Paths.get(s"$base.layers.json"), Json.obj(Seq(
      "workload" -> Json.str(run.workload), "seed" -> Json.num(run.seed),
      "end_to_end" -> table(run.endToEnd), "per_layer" -> table(run.perLayer))) + "\n")
    run.say(s"trace written to $base.spans.jsonl and $base.layers.json")
  }
}

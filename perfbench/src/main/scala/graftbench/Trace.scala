package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events carry. `parent` is the id of the enclosing span (0 for
  * the workload root).
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

object Span {
  /** Milliseconds of [start, end) covered by the union of `children`
    * (clipped to the parent; overlapping children count once).
    */
  def coveredMs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfMs(parent: Span, children: Seq[Span]): Long =
    parent.durMs - coveredMs(parent.startMs, parent.endMs,
      children.map(c => (c.startMs, c.endMs)))
}

/** Task metrics summed over one Spark job's stages. */
final class JobMetrics(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Σ over stages of (first task launch − stage submission). */
  var schedWaitMs = 0L
}

/** The benchmark's own listener: per-job task metrics, keyed by the job
  * group the benchmark sets around each traced op on its client thread.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobMetrics]
  private val stageJob = mutable.HashMap.empty[Int, JobMetrics]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageWaitSeen = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new JobMetrics(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stageWaitSeen.add(e.stageId))
      for (sub <- stageSubmit.get(e.stageId); j <- stageJob.get(e.stageId))
        j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.taskCpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsOf(group: String): Seq[JobMetrics] = synchronized {
    jobs.valuesIterator.filter(_.group == group).toSeq
  }
}

/** Records op spans around calls into the engine. Disabled, it only times
  * the calls; enabled, it also tags each op's Spark jobs with a job group
  * and collects them through a [[JobListener]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  val rootId = 0L
  private val rootStart = System.currentTimeMillis()
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  def groupOf(spanId: Long): String = s"graftbench-op-$spanId"

  /** Run `f` as one op span; returns its result and wall seconds. */
  def op[A](name: String, kind: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    if (enabled) sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1Ms = System.currentTimeMillis()
      if (enabled) sc.clearJobGroup()
      spans += Span(id, rootId, name, kind, t0Ms, t1Ms)
    }
  }

  def opsOf(kind: String): Seq[Span] = spans.filter(_.kind == kind).toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def jobsOf(op: Span): Seq[JobMetrics] =
    listener.map(_.jobsOf(groupOf(op.id))).getOrElse(Nil)

  /** Job spans of `op`, as children of it. */
  def jobSpans(op: Span): Seq[Span] =
    jobsOf(op).map(j => Span(-j.jobId.toLong - 1, op.id, s"job ${j.jobId}", "job",
      j.startMs, if (j.endMs >= 0) j.endMs else op.endMs))

  /** All spans (workload root, ops, jobs) as JSON lines. */
  def spanLines(workload: String): Seq[String] = {
    val end = (spans.map(_.endMs) :+ rootStart).max
    val root = Span(rootId, -1L, workload, "workload", rootStart, end)
    (root +: spans.toSeq.flatMap(o => o +: jobSpans(o))).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }
  }
}

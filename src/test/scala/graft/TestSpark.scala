package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session; sbt forks tests). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), prefix)
    d.toString
  }
}

/** Spark job counting for specs. The listener bus delivers events
  * asynchronously, so marker jobs fence the count: once the closing
  * marker's start event arrives, every job `body` submitted has been seen,
  * and events still queued from earlier work arrive before the opening
  * marker.
  */
object SparkJobs {
  def count[T](body: => T): (T, Int) = {
    val sc = TestSpark.spark.sparkContext
    val tag = s"job-count-marker-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
    @volatile var counting = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == tag)) {
          counting = !counting
          markers.put(tag)
        } else if (counting) jobs.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markers.poll(60, java.util.concurrent.TimeUnit.SECONDS) != null,
        "job-count marker never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      marker()
      val out = body
      marker()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

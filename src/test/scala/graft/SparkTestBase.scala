package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt test forks one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Number of Spark jobs `f` launches. Counts ONLY jobs carrying job
    * group `group`, set on the calling thread (job groups are
    * thread-local): suites share one SparkContext, so a bare job
    * counter would also see other threads' jobs. */
  def jobsIn(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, s"$group job-count probe")
      f
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    jobs.get
  }
}

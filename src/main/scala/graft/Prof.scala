package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** Per-query profile for optimization work. Each rep of each named query
  * reports:
  *  - `build`: the query function's call, which returns the frame;
  *  - `plan`: physical planning of that frame (`executedPlan`; under AQE
  *    it submits no job);
  *  - `action`: the full result through a `noop` sink;
  *  - `wall` = build + action;
  *  - the jobs each phase starts, with their task time, shuffle and
  *    spill. Builder jobs are eager: checkpoints, collects and
  *    fixed-point loops run before the frame returns, so a build time
  *    with builder jobs scales with data, not only with planning. A
  *    parquet read runs none: `graft.sources.Parquet.read` takes its
  *    schema from a footer on the driver;
  *  - `gap`: wall time no job covers (planning, codegen, driver logic).
  *
  * Usage: `sbt "runMain graft.Prof <sfDir> <reps> <name> [name...]"`.
  * Measurement only, never on a query path. */
object Prof {
  /** One job: its phase, its description or else its call site, and
    * what its tasks did. */
  final class Job(val id: Int, val phase: String, val start: Long, val desc: String) {
    var end = 0L; var nTasks = 0; var taskTimeMs = 0L
    var inputB = 0L; var shufReadB = 0L; var shufWriteB = 0L; var spillB = 0L
    def ms: Long = (end - start).max(0L)
  }

  /** One rep's phase times (ms) and jobs. */
  final case class Rep(buildMs: Double, planMs: Double, actionMs: Double, jobs: Seq[Job]) {
    def wallMs: Double = buildMs + actionMs
    def builderJobs: Int = jobs.count(_.phase == "build")
    def actionJobs: Int = jobs.count(_.phase == "action")
    def jobMs: Long = jobs.map(_.ms).sum
    def gapMs: Double = wallMs - jobMs
  }

  /** Local property naming the phase; jobs without it are not ours. */
  private val PhaseKey = "graft.prof.phase"

  /** Builds, plans and runs `fn` once, recording its jobs by phase. */
  def measure(spark: SparkSession, sfDir: String, fn: Launch.Query): Rep = {
    val sc = spark.sparkContext
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); phase <- Option(p.getProperty(PhaseKey))) {
          // a described job (a catalog publish step, see LayerStore)
          // by its description; any other by its result stage's name,
          // the job's call site
          val j = new Job(e.jobId, phase, e.time,
            Option(p.getProperty("spark.job.description"))
              .getOrElse(e.stageInfos.maxBy(_.stageId).name))
          jobs(e.jobId) = j
          e.stageIds.foreach(stageToJob(_) = j)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
          j.nTasks += 1
          j.taskTimeMs += m.executorRunTime
          j.inputB += m.inputMetrics.bytesRead
          j.shufReadB += m.shuffleReadMetrics.totalBytesRead
          j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.diskBytesSpilled
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "action")
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, null)
      // the listener is fed asynchronously: count once every event is in
      GraftSqlShim.drainListenerBus(sc)
      Rep((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, jobs.values.toSeq)
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val queries = Launch.queries(args.drop(2).toSeq)
    val spark = Launch.session("Prof")
    Launch.warmUp("prof", spark, sfDir)
    Launch.forEach("prof", queries) { (name, fn) =>
      for (rep <- 1 to reps) {
        val r = measure(spark, sfDir, fn)
        val eager = if (r.builderJobs > 0) "  EAGER: build time includes jobs" else ""
        println(f"PROF $name rep=$rep wall=${r.wallMs}%.0fms build=${r.buildMs}%.0fms " +
          f"plan=${r.planMs}%.0fms action=${r.actionMs}%.0fms builderJobs=${r.builderJobs} " +
          f"actionJobs=${r.actionJobs} jobTime=${r.jobMs}ms gap=${r.gapMs}%.0fms$eager")
        if (rep == reps) r.jobs.foreach { j => // detail only on the last (warmest) rep
          println(f"  job ${j.id}%4d ${j.phase}%-6s ${j.ms}%6dms tasks=${j.nTasks}%4d " +
            f"taskTime=${j.taskTimeMs}%6dms in=${j.inputB / 1024}%7dK " +
            f"sr=${j.shufReadB / 1024}%7dK sw=${j.shufWriteB / 1024}%7dK " +
            f"spill=${j.spillB / 1024}%6dK ${j.desc.take(60)}")
        }
      }
    }
    spark.stop()
  }
}

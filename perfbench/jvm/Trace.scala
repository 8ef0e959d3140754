package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds so benchmark
  * spans and Spark's listener events (epoch milliseconds) share a clock. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, run: String)

/** Span recorder and per-layer counters for a traced run.
  *
  * Benchmark-side spans wrap each call into a layer; Spark job spans hang
  * off the op whose job group launched them, task spans off their job.
  * Everything stays in memory until [[writeSpans]]. When tracing is off
  * every method is a cheap no-op and no listener is attached. */
final class Trace(val enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val clockBase = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = clockBase + System.nanoTime() / 1000L

  /** Span that jobs of a job group attach to (the op's current phase). */
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Per running job: start (ms), job group, parent span id. */
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Long)]()

  /** Counters keyed by metric name; summed over the whole traced run. */
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Job intervals (start ms, end ms) per job group, for driver gaps. */
  val jobIntervals: mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]] = mutable.Map.empty

  private def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }

  def record(name: String, start: Long, end: Long, parent: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, name, start, end, parent, run))
    id
  }

  /** Time `f` as a span; returns (result, seconds, span id). The span id
    * is allocated up front so children recorded inside can point to it. */
  def span[T](name: String, parent: Long = 0L)(f: Long => T): (T, Double, Long) = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime(); val s0 = nowUs
    val r = try f(id) finally {
      if (enabled) spans.add(Span(id, name, s0, nowUs, parent, run))
    }
    (r, (System.nanoTime() - t0) / 1e9, id)
  }

  def bindGroup(group: String, spanId: Long): Unit = groupSpan.put(group, spanId)

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until the listener bus (which also carries the SQL
    * execution listeners) has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val phase = Option(e.properties).map(_.getProperty(Trace.PhaseKey)).orNull
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      // the parent is resolved now: the op may rebind its group to its
      // next phase before this job's end event is delivered
      val parent = Option(group).flatMap(g => Option(groupSpan.get(g))).map(_.longValue).getOrElse(0L)
      jobStart.put(e.jobId, (e.time, group, parent))
      add("exec.jobs", 1)
      if (phase == "build") add("queries.eager_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, group, parent) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, null, 0L))
      val id = record("spark.job", t0 * 1000L, e.time * 1000L, parent)
      jobSpan.put(e.jobId, id)
      if (group != null) jobIntervals.synchronized {
        jobIntervals.getOrElseUpdate(group, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val job = Option(stageJob.get(e.stageId)).getOrElse(-1)
      // the task span points at its job's span when that job already
      // ended is not guaranteed; keep the job id as the parent key
      record("spark.task", info.launchTime * 1000L, info.finishTime * 1000L, -job.toLong - 1)
      add("exec.tasks", 1)
      if (info.failed) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime.toDouble)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      p.get("analysis").foreach(s => add("catalyst.analysis_ms", s.durationMs.toDouble))
      p.get("optimization").foreach(s => add("catalyst.optimization_ms", s.durationMs.toDouble))
      p.get("planning").foreach(s => add("catalyst.planning_ms", s.durationMs.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  /** Task spans were recorded with `-(jobId+1)` as a placeholder parent;
    * resolve them to the job span ids now that every job has ended. */
  def writeSpans(path: String): Int = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    var n = 0
    try spans.asScala.foreach { s =>
      val parent = if (s.parent < 0) Option(jobSpan.get((-s.parent - 1).toInt)).map(_.longValue).getOrElse(0L)
                   else s.parent
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"parent":$parent,"run":${Json.str(s.run)}}""")
      n += 1
    } finally w.close()
    n
  }
}

object Trace {
  /** Local property naming the phase of a query op (build / action) so
    * job events can be attributed without timing guesses. */
  val PhaseKey = "perfbench.phase"

  /** Wall time inside [t0, t1] (ms) not covered by any job interval. */
  def gapMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L; var cur = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(j => j._2 > j._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    (t1 - t0 - covered).toDouble
  }
}

/** Minimal JSON writer for the report (no JSON library on the classpath
  * is a public API). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}

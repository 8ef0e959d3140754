package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. `perfbench/run.py` builds the inputs,
  * launches this main on the compiled classpath, then checks every output
  * it wrote and turns `report.json` into the benchmark's metrics.
  *
  * Modes:
  *   --workload sql-cold|dedup-10x    run the query ops named in --ops
  *   --workload landuse               reference pipeline + tile serving
  * Common: --data DIR --out DIR --seed N --cpus N --trace 0|1
  *         [--inject-wrong NAME] (corrupt one output: the self-test's negative case)
  */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { m(k) = argv(i + 1); i += 2 }
      else { m(k) = "1"; i += 1 }
    }
    Args(m.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try { run(a); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    // explicit exit: TileServer.stop() leaves its request pool's
    // non-daemon threads alive, which would keep the JVM up forever
    System.exit(code)
  }

  def session(a: Args): SparkSession = {
    val cpus = a("cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("out")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("out")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The first session start in this JVM plus one warm-up op: the fixed
    * cost a batch user pays. Returns the session and its set-up seconds. */
  def setup(a: Args): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(a)
    noop(spark.read.parquet(s"${a("data")}/tables/region.parquet")
      .crossJoin(spark.range(1000)).groupBy(col("r_name")).agg(sum(col("id"))))
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def rssMb(): Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    st.linesIterator.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def run(a: Args): Unit = {
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val tr = new Trace(a.flag("trace"), s"${a("workload")}-${a("seed")}")
    val (spark, setupS) = setup(a)
    tr.attach(spark)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "setup_s" -> setupS)
    val rt = new Runner(spark, tr, a)
    a("workload") match {
      case "sql-cold" | "dedup-10x" => rt.queryWorkload(report)
      case "landuse" => rt.landuseWorkload(report, a.int("loads", 48))
      case w => sys.error(s"unknown workload $w")
    }
    report("rss_mb") = rssMb()
    if (tr.enabled) {
      report("layer") = new Probes(spark, tr, a, rt).all(report)
      report("spans") = tr.writeSpans(s"$out/spans.jsonl")
    }
    Files.write(Paths.get(s"$out/report.json"), Json.render(report).getBytes("UTF-8"))
    spark.stop()
  }
}

/** One timed op and what its check needs. */
final case class OpResult(name: String, seconds: Double, buildS: Double,
                          error: Option[String], outDir: String, oracle: Option[String]) {
  def toMap: Map[String, Any] = Map("name" -> name, "s" -> seconds,
    "build_s" -> buildS, "error" -> error, "out" -> outDir, "oracle" -> oracle)
}

final class Runner(spark: SparkSession, tr: Trace, a: Harness.Args) {
  private val sc = spark.sparkContext
  private val out = a("out")
  private val data = a("data")
  val opsRun = mutable.ArrayBuffer.empty[OpResult]
  /** Per-op layer counters collected while tracing. */
  val perOp = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var opSeq = 0

  /** Run one registered query as an op: build the DataFrame (the query
    * fn, including any eager jobs it launches), then write the full
    * result to parquet — every row and column, never a count. */
  def queryOp(name: String, corrupt: Boolean = false): OpResult = {
    opSeq += 1
    val group = f"op-$opSeq%04d"
    val dir = s"$out/results/$group-$name"
    val fn = graft.SparkEntry.queries(name)
    var buildS = 0.0; var err: Option[String] = None
    val wall0 = System.currentTimeMillis()
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val (_, seconds, _) = tr.span(s"queries.op/$name") { id =>
      try {
        sc.setLocalProperty(Trace.PhaseKey, "build")
        val (df0, b, _) = tr.span("queries.build", id) { bid =>
          tr.bindGroup(group, bid)
          fn(spark, s"$data/tables")
        }
        buildS = b
        // the self-test's deliberately wrong output: one row duplicated
        val df = if (corrupt) df0.union(df0.limit(1)) else df0
        sc.setLocalProperty(Trace.PhaseKey, "action")
        tr.span("queries.action", id) { aid =>
          tr.bindGroup(group, aid)
          df.write.mode("overwrite").parquet(dir)
        }
      } catch { case t: Throwable => err = Some(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(400)) }
    }
    sc.setLocalProperty(Trace.PhaseKey, null)
    sc.clearJobGroup()
    afterOp(group, wall0)
    val r = OpResult(name, seconds, buildS, err, dir, graft.SparkEntry.oracleSql.get(name))
    opsRun += r
    r
  }

  /** Per-op trace bookkeeping: driver gaps and persisted RDDs left. */
  def afterOp(group: String, wall0: Long): Unit = if (tr.enabled) {
    tr.drain(spark)
    val jobs = tr.jobIntervals.synchronized(tr.jobIntervals.getOrElse(group, Nil).toSeq)
    perOp("driver.gap_ms") += Trace.gapMs(wall0, System.currentTimeMillis(), jobs)
    perOp("ops.resident_blocks") = math.max(perOp("ops.resident_blocks"), sc.getPersistentRDDs.size.toDouble)
  }

  private def codegenNow: (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Time `body` as the workload's timed phase, with codegen deltas. */
  def timed(report: mutable.Map[String, Any])(body: => Unit): Unit = {
    val (c0, k0) = codegenNow
    val t0 = System.nanoTime()
    body
    report("wall_s") = (System.nanoTime() - t0) / 1e9
    val (c1, k1) = codegenNow
    perOp("codegen.compile_ms") += (c1 - c0) / 1e6
    perOp("codegen.classes") += (k1 - k0).toDouble
  }

  def queryWorkload(report: mutable.Map[String, Any]): Unit = {
    val names = new String(Files.readAllBytes(Paths.get(a("ops"))), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val wrong = a.get("inject-wrong")
    timed(report) { names.foreach(n => queryOp(n, corrupt = wrong.contains(n))) }
    report("ops") = opsRun.map(_.toMap)
  }

  // ---------------------------------------------------------------- landuse

  /** The reference pipeline over `data/scene`, then the serving phase on
    * the layer it published. */
  def landuseWorkload(report: mutable.Map[String, Any], loads: Int): Unit = {
    val ts = a.int("tile-size", 256)
    val catalog = s"$out/catalog"
    val scene = s"$data/scene"
    val zoom = a.int("zoom", 1).toString
    val radius = a.int("radius", 3).toString
    val stages = mutable.LinkedHashMap.empty[String, Double]
    // each stage consumes the previous one's layer: after a failure the
    // rest of the chain is recorded as failed, not run
    val errors = mutable.ArrayBuffer.empty[String]
    def stage(metric: String, name: String)(f: => Unit): Unit =
      if (errors.nonEmpty) errors += s"$name: skipped after an earlier failure"
      else {
        opSeq += 1
        val group = f"op-$opSeq%04d"
        val wall0 = System.currentTimeMillis()
        sc.setJobGroup(group, name, interruptOnCancel = false)
        val (_, s, _) = tr.span(s"apps.$name") { id =>
          tr.bindGroup(group, id)
          try f catch { case t: Throwable => errors += s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}".take(400) }
        }
        sc.clearJobGroup()
        afterOp(group, wall0)
        stages(metric) = stages.getOrElse(metric, 0.0) + s
      }
    timed(report) {
      stage("apps.ingest_s", "IngestLayer")(graft.apps.IngestLayer.run(spark, Array(s"$scene/nir.parquet", catalog, "nir", zoom)))
      stage("apps.ingest_s", "IngestLayer")(graft.apps.IngestLayer.run(spark, Array(s"$scene/red.parquet", catalog, "red", zoom)))
      stage("apps.ndvi_s", "NdviLayer")(graft.apps.NdviLayer.run(spark, Array(catalog, "nir", "red", "ndvi", zoom)))
      stage("apps.convolve_s", "ConvolveLayer")(graft.apps.ConvolveLayer.run(spark, Array(catalog, "ndvi", "focal", zoom, radius)))
      stage("apps.pyramid_s", "PyramidLayer")(graft.apps.PyramidLayer.run(spark, Array(catalog, "focal", zoom)))
      // the merge check compares against the version the update replaced
      if (errors.isEmpty) Files.writeString(Paths.get(s"$out/focal_pre_version.txt"),
        new graft.catalog.LayerStore(spark, catalog).currentVersion("focal", zoom.toInt).getOrElse(""))
      stage("apps.update_s", "UpdateLayer")(graft.apps.UpdateLayer.run(spark, Array(catalog, s"$scene/patch.parquet", "focal", zoom)))
    }
    report("stages") = stages
    report("stage_errors") = errors
    report("catalog") = catalog
    report("serve") =
      if (errors.nonEmpty) Map("loads" -> loads, "failed_loads" -> loads, "page_s" -> Nil, "png_mismatch" -> 0)
      else new Serving(spark, tr, catalog, "focal", ts)
        .run(loads, a.int("viewers", 4), a("seed").toLong, corrupt = a.get("inject-wrong").isDefined)
  }
}

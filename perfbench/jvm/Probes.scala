package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.LayerStore
import graft.core.TileMath
import graft.ops.{Export, Raster}
import graft.sim.Similarity
import graft.text.TextOps

/** Per-layer numbers of a traced run. Each layer is timed from outside,
  * through its public functions, with the workload's own inputs:
  * query/SQL/exec counters come from the workload's ops; the raster,
  * catalog, serving, kernel, text and similarity layers are called in
  * isolation. Every traced run reports every per-layer metric: a query
  * workload runs the reference pipeline on its small probe scene, and
  * `landuse` runs two probe queries, so no metric is missing anywhere. */
final class Probes(spark: SparkSession, tr: Trace, a: Harness.Args, rt: Runner) {
  import Harness.noop
  private val out = a("out")
  private val data = a("data")
  private val ts = a.int("tile-size", 256)
  private val radius = a.int("radius", 3)
  private val zoom = a.int("zoom", 1)

  /** Wall seconds of `f`, recorded as a span named `name`. */
  private def time(name: String)(f: => Unit): Double = tr.span(name)(_ => f)._2

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def all(report: mutable.Map[String, Any]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("trace.wall_s") = report("wall_s").asInstanceOf[Double]
    val landuse = a("workload") == "landuse"
    if (landuse) Probes.Queries.foreach(rt.queryOp(_))
    tr.drain(spark)

    // query, SQL and exec layers: counters of the workload's (or probe) ops
    m("queries.build_ms") = rt.opsRun.map(_.buildS).sum * 1000
    val c = tr.counters.synchronized(tr.counters.toMap).withDefaultValue(0.0)
    m("queries.eager_jobs") = c("queries.eager_jobs")
    Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms").foreach(k => m(k) = c(k))
    Seq("codegen.compile_ms", "codegen.classes").foreach(k => m(k) = rt.perOp(k))
    Seq("exec.jobs", "exec.tasks", "exec.task_ms", "exec.gc_ms", "exec.shuffle_read_mb",
      "exec.shuffle_write_mb", "exec.spill_mb", "exec.failed_tasks").foreach(k => m(k) = c(k))
    m("driver.gap_ms") = rt.perOp("driver.gap_ms")
    m("ops.resident_blocks") = rt.perOp("ops.resident_blocks")

    // apps + serving: the landuse workload itself, or its probe scene
    val lu: mutable.Map[String, Any] = if (landuse) report else {
      val sub = mutable.LinkedHashMap.empty[String, Any]
      rt.landuseWorkload(sub, loads = 8)
      sub
    }
    lu("stages").asInstanceOf[scala.collection.Map[String, Double]].foreach { case (k, v) => m(k) = v }
    val sv = lu("serve").asInstanceOf[Map[String, Any]]
    val tiles = sv("tile_ms").asInstanceOf[Seq[Double]]
    // tile latency p50/tail are computed by run.py from these samples
    report("serve_tile_ms") = tiles
    m("serve.tiles_per_s") = sv("tiles_per_s").asInstanceOf[Double]

    catalogAndRaster(m)
    // cache misses as the program shows them: the serving phase's Spark
    // jobs over the jobs of one point read (unknown if a read runs none)
    val reads = sv("jobs").asInstanceOf[Double] / m("serve.point_read_jobs")
    m("serve.hit_ratio") = if (reads.isInfinite) Double.NaN else 1.0 - reads / math.max(1, tiles.length)
    kernels(m)
    textAndSim(m)
    m.toMap
  }

  private def catalogAndRaster(m: mutable.Map[String, Double]): Unit = {
    val catalog = s"$out/catalog"
    val store = new LayerStore(spark, catalog)
    val layer = store.read("ndvi", zoom).persist()
    noop(layer)
    m("catalog.write_s") = time("catalog.write")(store.write(layer, "probe", zoom, ts))
    val vdir = new java.io.File(s"$catalog/tiles/layer_name=probe/zoom=$zoom/${store.currentVersion("probe", zoom).get}")
    val files = vdir.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    m("catalog.files_written") = files.length.toDouble
    val cells = layer.select(sum(size(col("cells")))).head().getLong(0).toDouble
    m("catalog.bytes_per_cell_byte") = files.map(_.length).sum / (cells * 8)
    val patch = Raster.assemble(graft.apps.Apps.readPixels(spark, s"$data/scene/patch.parquet"), ts, ts)
    m("catalog.merge_s") = time("catalog.merge")(store.merge(patch, "probe", zoom, ts))
    val k = layer.select(col("tile_col"), col("tile_row")).head()
    // one point read of the served layer, as TileServer issues it on a
    // cache miss; also counts the Spark jobs each read launches
    tr.drain(spark)
    val jobs0 = tr.counters.synchronized(tr.counters("exec.jobs"))
    m("catalog.read_tile_ms") = median((0 until 5).map(_ => time("catalog.read_tile")(
      store.readTile("focal", zoom, k.getInt(0), k.getInt(1)).select("cells").collect()) * 1000))
    tr.drain(spark)
    m("serve.point_read_jobs") = (tr.counters.synchronized(tr.counters("exec.jobs")) - jobs0) / 5
    val tile = store.readTile("probe", zoom, k.getInt(0), k.getInt(1)).select("cells").head().getSeq[Double](0)
    val breaks = store.readAttributes("probe", zoom).map(_.quantileBreaks(10)).getOrElse(Seq(0.0))
    val png = Files.createTempFile("perfbench_probe", ".png")
    m("serve.render_ms") = median((0 until 5).map(_ =>
      time("serve.render")(Export.renderPng(tile, ts, ts, breaks, png.toString)) * 1000))
    Files.deleteIfExists(png)

    val pixels = graft.apps.Apps.readPixels(spark, s"$data/scene/nir.parquet").persist()
    noop(pixels)
    m("raster.assemble_s") = time("raster.assemble")(noop(Raster.assemble(pixels, ts, ts)))
    m("raster.halo_s") = time("raster.halo")(noop(Raster.withHalo(layer, ts, ts, radius)))
    m("raster.focal_s") = time("raster.focal")(noop(Raster.focalMean(layer, ts, ts, radius)))
    m("raster.pyramid_up_s") = time("raster.pyramid_up")(noop(Raster.pyramidUp(layer, ts, ts)))
    pixels.unpersist(); layer.unpersist()
  }

  /** Pure-JVM kernels on one tile, repeated for at least 0.3 s; the
    * median repetition is reported per cell. */
  private def kernels(m: mutable.Map[String, Double]): Unit = {
    val rnd = new scala.util.Random(a("seed").toLong)
    val pc = ts + 2 * radius
    val padded = Array.fill(pc * pc)(rnd.nextDouble())
    val nir = Array.fill(ts * ts)(rnd.nextDouble() + 0.1)
    val red = Array.fill(ts * ts)(rnd.nextDouble() + 0.1)
    def perCell(name: String)(f: => Unit): Double = {
      val reps = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (reps.length < 5 || System.nanoTime() - t0 < 300000000L)
        reps += time(name)(f) * 1e9 / (ts * ts)
      median(reps.toSeq)
    }
    var sink = 0.0
    m("core.focal_ns_per_cell") = perCell("core.focal")(
      sink += TileMath.focalMean(padded, ts, ts, radius, radius, true)(0))
    m("core.ndvi_ns_per_cell") = perCell("core.ndvi") {
      var i = 0
      while (i < nir.length) { sink += TileMath.ndvi(nir(i), red(i)); i += 1 }
    }
    if (sink == 42.0) println("") // keeps the kernels' results live
  }

  private def textAndSim(m: mutable.Map[String, Double]): Unit = {
    val docs = spark.read.parquet(s"$data/tables/documents.parquet").persist()
    noop(docs)
    m("text.tokens_s") = time("text.tokens")(
      noop(docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))))
    val sh = docs.select(col("doc_id"), TextOps.shingles3(TextOps.tokens(col("text"))).as("sh")).persist()
    noop(sh)
    m("text.minhash_s") = time("text.minhash")(
      noop(sh.select(col("doc_id"), TextOps.minhashSignature(col("sh"), 64).as("sig"))))
    // clusters of ~10 documents, like a 10x near-duplicate replica
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("a"), (col("doc_id") % math.max(1L, n / 10)).as("b")).persist()
    noop(edges)
    m("text.cc_s") = time("text.cc")(noop(TextOps.connectedComponents(edges)))
    Seq(edges, sh, docs).foreach(_.unpersist())

    val vecs = spark.read.parquet(s"$data/tables/embeddings.parquet").persist()
    noop(vecs)
    val idx = s"$out/ivf"
    Files.createDirectories(Paths.get(idx))
    Similarity.buildIvfIndexDet(vecs, idx, 16)
    val queries = vecs.orderBy(col("vec_id")).limit(64).persist()
    noop(queries)
    m("sim.ivf_probe_s") = time("sim.ivf_probe")(noop(Similarity.ivfProbe(queries, idx, 10, 4)))
    Seq(queries, vecs).foreach(_.unpersist())
  }
}

object Probes {
  /** One relational and one text query: the query-layer probe of `landuse`. */
  val Queries = Seq("q_pricing_summary", "t_minhash_lsh")
}

package graft.apps

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Drives the reference-parity job surface through its CLI arg shapes
  * (§7.1 step 7): ingest → ndvi → convolve → pyramid → update →
  * pixelize → export → render, all against one catalog. Tile size 256
  * (the apps' default, matching the reference). */
class AppsSpec extends AnyFunSuite {
  import spark.implicits._
  val ts = 256

  def writePixels(path: String, offset: Double): Unit =
    (for (tc <- 0 to 1; tr <- 0 to 0; px <- 0 until ts by 2; py <- 0 until ts by 2)
      yield (tc, tr, px, py, offset + tc + (px + py) % 7))
      .toDF("tile_col", "tile_row", "px", "py", "v")
      .write.mode("overwrite").parquet(path)

  test("full app pipeline over one catalog") {
    val dir = java.nio.file.Files.createTempDirectory("graft_apps").toString
    writePixels(s"$dir/nir.parquet", 10)
    writePixels(s"$dir/red.parquet", 2)
    val catalog = s"$dir/catalog"

    IngestLayer.run(spark, Array(s"$dir/nir.parquet", catalog, "nir", "5"))
    IngestLayer.run(spark, Array(s"$dir/red.parquet", catalog, "red", "5"))
    NdviLayer.run(spark, Array(catalog, "nir", "red", "ndvi", "5"))
    val store = new graft.catalog.LayerStore(spark, catalog)
    assert(store.exists("ndvi", 5))
    val ndviPx = graft.ops.Raster.pixelize(store.read("ndvi", 5), ts)
    assert(ndviPx.count() > 0)
    assert(ndviPx.agg(max(abs(col("v")))).head().getDouble(0) <= 1.0)

    ConvolveLayer.run(spark, Array(catalog, "ndvi", "ndvi_smooth", "5", "1"))
    assert(store.exists("ndvi_smooth", 5))

    PyramidLayer.run(spark, Array(catalog, "ndvi", "5"))
    assert(store.zoomsOf("ndvi") == Seq(0, 1, 2, 3, 4, 5))

    UpdateLayer.run(spark, Array(catalog, s"$dir/red.parquet", "ndvi", "5"))
    assert(store.exists("ndvi", 5))

    PixelizeLayer.run(spark, Array(catalog, "nir", "5", s"$dir/pixels_csv"))
    val wire = spark.read.text(s"$dir/pixels_csv")
    assert(wire.count() > 0)
    assert(wire.head().getString(0).contains("SpatialKey("))

    ExportLayer.run(spark, Array(catalog, "nir", "5", s"$dir/export"))
    val tileFiles = new java.io.File(s"$dir/export").listFiles()
    assert(tileFiles != null && tileFiles.length == 2) // one file per tile

    ExportLayer.run(spark, Array(catalog, "nir", "5", s"$dir/stitch", "stitched"))
    // the stitched branch writes a REAL decodable GeoTiff
    val stitchedTif = graft.sources.GeoTiff.read(s"$dir/stitch/stitched.tif")
    assert(stitchedTif.meta.width == 2 * ts && stitchedTif.meta.height == ts)
    assert(stitchedTif.cells.exists(v => !java.lang.Double.isNaN(v)))

    StackLayers.run(spark, Array(catalog, "stack", "5", "nir", "red"))
    val stacked = store.read("stack", 5)
    assert(stacked.select(col("band")).distinct().count() == 2)

    ZoomResampleApp.run(spark, Array(catalog, "nir", "5", "6"))
    assert(store.exists("nir", 6))
    assert(store.read("nir", 6).count() == 4 * store.read("nir", 5).count())

    val gj =
      """{"type":"FeatureCollection","features":[
        | {"type":"Feature","properties":{"cls":5},
        |  "geometry":{"type":"MultiPolygon","coordinates":[[[[0,0],[64,0],[64,64],[0,64]]]]}}
        |]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/shapes.json"), gj)
    RasterizeShapes.run(spark, Array(s"$dir/shapes.json", "cls", catalog, "zones", "5"))
    assert(store.exists("zones", 5))
    assert(graft.ops.Raster.pixelize(store.read("zones", 5), ts)
      .agg(min(col("v")), max(col("v"))).head().toSeq == Seq(5.0, 5.0))

    DeleteLayerApp.run(spark, Array(catalog, "zones", "5"))
    assert(!store.exists("zones", 5))
    DeleteLayerApp.run(spark, Array(catalog, "stack"))
    assert(store.zoomsOf("stack").isEmpty)

    // RenderTile must take its color breaks from the _attributes sidecar:
    // the only Spark job allowed is the single-tile point read.
    val jobs = graft.SparkTestBase.jobsIn("rendertile-probe") {
      RenderTile.run(spark, Array(catalog, "nir", "5", "0", "0", s"$dir/tile.png"))
    }
    assert(jobs <= 1, s"RenderTile ran $jobs jobs; breaks must come from the _attributes sidecar")
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/tile.png"))
    assert(img.getWidth == ts && img.getHeight == ts)
  }

  test("wordcount app parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wc").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.txt"),
      "a b a\nc b a\n")
    WordCountApp.run(spark, Array(s"$dir/in.txt", s"$dir/out"))
    val counts = spark.read.text(s"$dir/out").as[String].collect()
      .map(_.split(",")).map(a => a(0) -> a(1).toLong).toMap
    assert(counts == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }
}

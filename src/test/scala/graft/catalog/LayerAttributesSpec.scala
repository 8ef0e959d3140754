package graft.catalog

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark
import graft.ops.Raster

/** The `_attributes.json` sidecar built from a write's checkpoint blocks
  * is byte-identical to the one the SQL read-back of the written parquet
  * computes ([[SidecarReference]]) — for every publish path and for the
  * edge cases of the histogram. The benchmark cannot catch a wrong
  * sidecar (its render check reads the same sidecar on both sides), so
  * this spec is the guard. */
class LayerAttributesSpec extends AnyFunSuite {
  import spark.implicits._
  val TS = 4

  def freshStore() = new LayerStore(spark, Files.createTempDirectory("graft_attrs").toString)

  def tiles(vOff: Double) = Raster.assemble(
    (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS)
      yield (tc, tr, px, py, vOff + px + py)).toDF("tile_col", "tile_row", "px", "py", "v"),
    TS, TS)

  /** The live version's sidecar bytes equal the read-back reference. */
  def assertMatchesReference(store: LayerStore, name: String, zoom: Int,
                             tileSize: Int = TS, crs: String = "EPSG:4326",
                             binWidth: Double = 1.0): LayerAttributes = {
    val dir = s"${store.zoomDir(name, zoom)}/${store.currentVersion(name, zoom).get}"
    val got = new String(Files.readAllBytes(Paths.get(s"$dir/_attributes.json")), "UTF-8")
    assert(got == SidecarReference.json(spark, dir, tileSize, crs, binWidth))
    LayerAttributes.fromJson(got)
  }

  test("write, merge, a space-time write and a txn commit match the read-back sidecar") {
    val store = freshStore()
    store.write(tiles(0), "a", 3, tileSize = TS, binWidth = 2.0)
    assert(assertMatchesReference(store, "a", 3, binWidth = 2.0).nCells == 64)
    store.merge(tiles(100).where($"tile_col" === 1), "a", 3, tileSize = TS, binWidth = 2.0)
    assert(assertMatchesReference(store, "a", 3, binWidth = 2.0).minV == 0.0)
    val st = tiles(1).withColumn("time", lit("2024-01"))
      .unionByName(tiles(2).withColumn("time", lit("2024-02")))
    store.write(st, "st", 4, tileSize = TS, crs = "EPSG:3857")
    assert(assertMatchesReference(store, "st", 4, crs = "EPSG:3857").nTiles == 8)
    new CatalogTxn(store).commit(Seq(
      TxnWrite("t1", 1, tiles(5), tileSize = TS, binWidth = 0.5),
      TxnWrite("t2", 2, tiles(-7), tileSize = TS, binWidth = 3.0)))
    assertMatchesReference(store, "t1", 1, binWidth = 0.5)
    assert(assertMatchesReference(store, "t2", 2, binWidth = 3.0).bins.head == -3L)
  }

  test("toJson writes json4s's writePretty bytes; fromJson reads them and an older sidecar") {
    // the sidecar format was json4s's case-class serialization; toJson
    // must keep its bytes (field order, number forms, escapes, spacing)
    implicit val fmt: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    val base = LayerAttributes(
      cellType = "float64", crs = "EPSG:4326", tileCols = 4, tileRows = 4,
      minCol = 0, maxCol = 1, minRow = -2, maxRow = 1, nTiles = 4, nCells = 64,
      minV = -3.5, maxV = 6.0, binWidth = 2.0, bins = Seq(-2L, 0L, 3L), counts = Seq(5L, 1L, 58L),
      extent = Seq(0.0, -8.0, 8.0, 8.0))
    val cases = Seq(
      base,
      base.copy(nTiles = 0, nCells = 0, bins = Seq.empty, counts = Seq.empty, extent = Seq.empty),
      base.copy(minV = 1.0e-7, maxV = -0.0, binWidth = 1.0e-7, nCells = Long.MaxValue,
        counts = Seq(Long.MaxValue, 0L, Long.MinValue), extent = Seq(-0.0, 1.0e-7, 1.0e300, 5e-324)),
      base.copy(crs = "EPSG:4326 \"Zürich\" \\ tab\t naïve"))
    for (a <- cases) {
      val json = LayerAttributes.toJson(a)
      assert(json == org.json4s.jackson.Serialization.writePretty(a))
      val back = LayerAttributes.fromJson(json)
      assert(back == a)
      assert((back.maxV +: back.extent).map(_.toString) == (a.maxV +: a.extent).map(_.toString),
        "-0.0 must read back with its sign")
    }
    // a sidecar written before the recorded schema was dropped
    val old = LayerAttributes.toJson(base).stripSuffix("\n}") +
      ",\n  \"schemaJson\" : \"{\\\"type\\\":\\\"struct\\\",\\\"fields\\\":[]}\"\n}"
    assert(old.contains("schemaJson") && LayerAttributes.fromJson(old) == base)
    // a missing or mistyped field throws naming it
    val noBins = intercept[IllegalArgumentException](
      LayerAttributes.fromJson(LayerAttributes.toJson(base).replace("\"bins\"", "\"binz\"")))
    assert(noBins.getMessage.contains("bins"))
    val textTiles = intercept[IllegalArgumentException](
      LayerAttributes.fromJson(LayerAttributes.toJson(base).replace("\"nTiles\" : 4", "\"nTiles\" : \"4\"")))
    assert(textTiles.getMessage.contains("nTiles"))
  }

  test("a zipped multiband layer without cells gets bounds only") {
    val store = freshStore()
    val zipped = Raster.zipBands(Raster.stackBands(Seq(tiles(0), tiles(50))), 2)
    store.write(zipped, "mb", 2, tileSize = TS)
    val a = assertMatchesReference(store, "mb", 2)
    assert(a.nTiles == 4 && a.bins.isEmpty)
  }

  test("empty layer, all-NaN tile and NaN-holed tiles") {
    val store = freshStore()
    store.write(tiles(0).where(lit(false)), "e", 1, tileSize = TS)
    val e = assertMatchesReference(store, "e", 1)
    assert(e.nTiles == 0 && e.extent.isEmpty)
    val holed = Raster.assemble(
      (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS
            if (px + py) % 3 != 0) // absent pixels assemble to NaN
        yield (tc, tr, px, py,
          if (tc == 1 && tr == 1) Double.NaN // the all-NaN tile
          else if (px == py) Double.NaN else tc * 10.0 - px * 1.5 + py))
        .toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    store.write(holed, "h", 1, tileSize = TS, binWidth = 2.5)
    val h = assertMatchesReference(store, "h", 1, binWidth = 2.5)
    assert(h.nTiles == 4 && h.nCells > 0 && h.nCells < 3L * TS * TS)
    store.write(holed.where($"tile_col" === 1 && $"tile_row" === 1), "n", 1, tileSize = TS)
    val n = assertMatchesReference(store, "n", 1)
    assert(n.nTiles == 1 && n.nCells == 0 && n.bins.isEmpty)
  }

  test("the adversarial 4e9 range widens the bins in a second pass") {
    val store = freshStore()
    val wide = Raster.assemble(
      (for (px <- 0 until TS; py <- 0 until TS)
        yield (0, 0, px, py, (px + py * TS) * 2.6e8)).toDF("tile_col", "tile_row", "px", "py", "v"),
      TS, TS)
    store.write(wide, "w", 1, tileSize = TS)
    assert(assertMatchesReference(store, "w", 1).binWidth > 1.0)
  }

  test("a range landing on exactly MaxBins + 1 bins keeps the requested width") {
    val store = freshStore()
    val half = LayerAttributes.MaxBins / 2
    // values -half .. half at width 1: MaxBins + 1 distinct bins spread
    // over 4 tiles (4 partitions), one past the range that widens
    def layer(top: Int) = (0 until 4).map { t =>
      (t, 0, (-half + t to top by 4).map(_.toDouble).toArray)
    }.toDF("tile_col", "tile_row", "cells")
    store.write(layer(half), "x", 1, tileSize = TS)
    val x = assertMatchesReference(store, "x", 1)
    assert(x.binWidth == 1.0 && x.bins.length == LayerAttributes.MaxBins + 1)
    store.write(layer(half + 1), "y", 1, tileSize = TS)
    assert(assertMatchesReference(store, "y", 1).binWidth > 1.0)
  }
}

/** The sidecar as computed before it was built from checkpoint blocks:
  * SQL aggregations over the written parquet, read back. */
object SidecarReference {
  private val MaxBins = 65536

  def json(spark: SparkSession, path: String, tileSize: Int, crs: String, binWidth: Double): String = {
    val tiles = spark.read.parquet(path)
    def extent(b: org.apache.spark.sql.Row): Seq[Double] =
      if (b.isNullAt(0)) Seq.empty
      else Seq(b.getInt(0).toDouble * tileSize, b.getInt(2).toDouble * tileSize,
               (b.getInt(1) + 1).toDouble * tileSize, (b.getInt(3) + 1).toDouble * tileSize)
    if (!tiles.columns.contains("cells")) {
      val b = tiles.agg(
        min(col("tile_col")).as("c0"), max(col("tile_col")).as("c1"),
        min(col("tile_row")).as("r0"), max(col("tile_row")).as("r1"),
        count(lit(1)).as("n")).head()
      return LayerAttributes.toJson(LayerAttributes(
        cellType = "float64", crs = crs, tileCols = tileSize, tileRows = tileSize,
        minCol = if (b.isNullAt(0)) 0 else b.getInt(0),
        maxCol = if (b.isNullAt(1)) -1 else b.getInt(1),
        minRow = if (b.isNullAt(2)) 0 else b.getInt(2),
        maxRow = if (b.isNullAt(3)) -1 else b.getInt(3),
        nTiles = b.getLong(4), nCells = 0L,
        minV = 0.0, maxV = 0.0, binWidth = binWidth,
        bins = Seq.empty, counts = Seq.empty,
        extent = extent(b)))
    }
    val dataCells = filter(col("cells"), x => not(isnan(x)))
    val b = tiles.agg(
      min(col("tile_col")).as("c0"), max(col("tile_col")).as("c1"),
      min(col("tile_row")).as("r0"), max(col("tile_row")).as("r1"),
      count(lit(1)).as("n"),
      min(array_min(dataCells)).as("vmin"), max(array_max(dataCells)).as("vmax")).head()
    val effWidth =
      if (b.isNullAt(5) || b.isNullAt(6)) binWidth
      else math.max(binWidth, (b.getDouble(6) - b.getDouble(5)) / MaxBins)
    val hist = Raster.pixelize(tiles, tileSize)
      .groupBy(floor(col("v") / effWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
    LayerAttributes.toJson(LayerAttributes(
      cellType = "float64", crs = crs, tileCols = tileSize, tileRows = tileSize,
      minCol = if (b.isNullAt(0)) 0 else b.getInt(0),
      maxCol = if (b.isNullAt(1)) -1 else b.getInt(1),
      minRow = if (b.isNullAt(2)) 0 else b.getInt(2),
      maxRow = if (b.isNullAt(3)) -1 else b.getInt(3),
      nTiles = b.getLong(4),
      nCells = hist.map(_.getLong(1)).sum,
      minV = if (hist.isEmpty) 0.0 else hist.map(_.getDouble(2)).min,
      maxV = if (hist.isEmpty) 0.0 else hist.map(_.getDouble(3)).max,
      binWidth = effWidth,
      bins = hist.map(_.getLong(0)).toSeq.sorted,
      counts = hist.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq,
      extent = extent(b)))
  }
}

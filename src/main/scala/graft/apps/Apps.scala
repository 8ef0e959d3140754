package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Launch
import graft.catalog.LayerStore
import graft.ops.{Export, Raster}

/** The reference's job surface as thin drivers (SURVEY §7.1 step 7) —
  * same CLI arg shapes as the originals. Each reference `main(args)`
  * example job maps to one object here; the heavy lifting lives in
  * graft.ops / graft.catalog so these stay ~10 lines. Each `main`
  * (session, run, stop) is inherited from [[graft.Launch.Job]].
  *
  * Tile size follows the reference default 256 (Utils.scala:21) unless
  * overridden by GRAFT_TILE_SIZE (test fixtures use small grids).
  */
object Apps {
  def tileSize: Int = sys.env.getOrElse("GRAFT_TILE_SIZE", "256").toInt

  def readPixels(spark: SparkSession, path: String): DataFrame =
    graft.sources.Parquet.read(spark, path)
      .select(col("tile_col").cast("int"), col("tile_row").cast("int"),
        col("px").cast("int"), col("py").cast("int"), col("v").cast("double"))
}

/** Ingest (GeotiffTilingExample.scala:30-64 analog): raster pixels →
  * tiled layer in the catalog. args: pixelParquet catalogDir layerName zoom */
object IngestLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(input, catalog, layer, zoom) = args.take(4)
    val ts = Apps.tileSize
    val tiles = Raster.assemble(Apps.readPixels(spark, input), ts, ts)
    new LayerStore(spark, catalog).write(tiles, layer, zoom.toInt)
  }
}

/** NDVI (NDVILayerExample.scala:28-104 analog): join NIR+Red layers,
  * cell-wise NDVI, write, print the cell count and range from the
  * sidecar the write built (no second pass over the layer).
  * args: catalogDir nirLayer redLayer outLayer zoom */
object NdviLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, nir, red, out, zoom) = args.take(5)
    val store = new LayerStore(spark, catalog)
    val ndvi = store.read(nir, zoom.toInt).withColumnRenamed("cells", "nir")
      .join(store.read(red, zoom.toInt).withColumnRenamed("cells", "red"),
        Seq("tile_col", "tile_row"))
      .select(col("tile_col"), col("tile_row"),
        Raster.ndviCells(col("nir"), col("red")).as("cells"))
    store.delete(out, Some(zoom.toInt))
    store.write(ndvi, out, zoom.toInt)
    store.readAttributes(out, zoom.toInt).foreach(a =>
      println(s"n_cells=${a.nCells} min_v=${a.minV} max_v=${a.maxV}"))
  }
}

/** Convolve (ConvolveLayerExample.scala:28-80 analog): focal mean with
  * circular kernel. args: catalogDir layer outLayer zoom radius */
object ConvolveLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, out, zoom, radius) = args.take(5)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    store.write(Raster.focalMean(store.read(layer, zoom.toInt), ts, ts, radius.toInt),
      out, zoom.toInt)
  }
}

/** Pyramid (LayerToPyramid.scala:28-68 analog): build all zoom levels
  * down to 0. args: catalogDir layer maxZoom */
object PyramidLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, maxZoom) = args.take(3)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    var z = maxZoom.toInt
    while (z > 0) {
      store.write(Raster.pyramidUp(store.read(layer, z), ts, ts), layer, z - 1)
      z -= 1
    }
  }
}

/** Update/upsert (LayerUpdaterExample.scala:28-60 analog).
  * args: catalogDir sourcePixels layer zoom */
object UpdateLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, input, layer, zoom) = args.take(4)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    store.merge(Raster.assemble(Apps.readPixels(spark, input), ts, ts), layer, zoom.toInt)
  }
}

/** Pixelize + keyed CSV handoff (TilePixelingToCSVExample analog, K8).
  * args: catalogDir layer zoom outCsvPath */
object PixelizeLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, zoom, out) = args.take(4)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    val px = Raster.pixelize(store.read(layer, zoom.toInt), ts)
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        col("v").as("label"), array(col("v")).as("features"))
    Export.exportKeyedCsv(px, out,
      s"""{"layer":"$layer","zoom":$zoom,"tileSize":$ts,"cellType":"float64"}""")
  }
}

/** Export (LayerToGeotiff.scala:28-130 analog): tiled or stitched.
  * args: catalogDir layer zoom outDir [stitched] */
object ExportLayer extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, zoom, out) = args.take(4)
    val stitched = args.length > 4 && args(4) == "stitched"
    val ts = Apps.tileSize
    val tiles = new LayerStore(spark, catalog).read(layer, zoom.toInt)
    if (stitched) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      Export.stitchGeoTiff(tiles, ts, ts, s"$out/stitched.tif")
    } else Export.exportTiled(tiles, out, ts, ts)
  }
}

/** Serve-layer point render (ServeLayerAsMap.scala analog, minus the
  * HTTP actor): render one tile to PNG with histogram quantile breaks.
  * args: catalogDir layer zoom tileCol tileRow outPng */
object RenderTile extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, zoom, tc, tr, out) = args.take(6)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    // breaks come from the persisted _attributes histogram (zero jobs,
    // ServeLayerAsMap.scala:90-92 parity); only the point read runs a job
    val breaks = store.readAttributes(layer, zoom.toInt).getOrElse(throw new IllegalStateException(
      s"layer ($layer, $zoom) version ${store.currentVersion(layer, zoom.toInt).getOrElse("-")} has no _attributes sidecar"))
      .quantileBreaks(10)
    val tile = store.readTile(layer, zoom.toInt, tc.toInt, tr.toInt)
      .select(col("cells")).head().getSeq[Double](0)
    Export.renderPng(tile, ts, ts, breaks, out)
  }
}

/** WordCount (WordCount.scala:17-27 parity). args: inTextFile outDir */
object WordCountApp extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    spark.read.text(in)
      .select(explode(split(col("value"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).count()
      .select(concat_ws(",", col("word"), col("count")))
      .write.mode("overwrite").text(out)
  }
}

/** Delete a layer or one zoom of it (DeleteLayer.scala:16-41 analog).
  * args: catalogDir layerName [zoom] */
object DeleteLayerApp extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val store = new LayerStore(spark, args(0))
    store.delete(args(1), args.lift(2).map(_.toInt))
  }
}

/** Stack N single-band layers into one multiband layer
  * (ManyLayersToMultibandLayer.scala:48-260 analog — the cross-CRS
  * reproject leg lives in grid.Reproject/Crs; here layers already share
  * the grid, as in ManySingleBandLayersToMultibandLayer).
  * args: catalogDir outLayer zoom inLayer1 inLayer2 [...] */
object StackLayers extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, out, zoom) = args.take(3)
    val store = new LayerStore(spark, catalog)
    val stacked = Raster.stackBands(args.drop(3).toIndexedSeq.map(store.read(_, zoom.toInt)))
    store.write(stacked, out, zoom.toInt)
  }
}

/** Rasterize vector features into a layer
  * (ShapefilePolygonRasterizer.scala:40-74 analog): GeoJSON (or
  * converted shapefile) polygons → scanline burn → catalog layer.
  * args: featureGeojson burnAttribute catalogDir layerName zoom */
object RasterizeShapes extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(input, attribute, catalog, layer, zoom) = args.take(5)
    val ts = Apps.tileSize
    val feats = graft.sources.GeoJson.readFeatures(spark, input, attribute)
    val burned = Raster.rasterizePolygons(feats, ts, ts)
    new LayerStore(spark, catalog).write(burned, layer, zoom.toInt)
  }
}

/** Resample a layer to a deeper zoom (ZoomResampleLayer.scala:42-60
  * analog). args: catalogDir layerName fromZoom toZoom */
object ZoomResampleApp extends Launch.Job {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer, fromZoom, toZoom) = args.take(4)
    val ts = Apps.tileSize
    val store = new LayerStore(spark, catalog)
    val dz = toZoom.toInt - fromZoom.toInt
    require(dz > 0, s"toZoom must exceed fromZoom, got $fromZoom -> $toZoom")
    store.write(Raster.zoomResampleUp(store.read(layer, fromZoom.toInt), ts, ts, dz),
      layer, toZoom.toInt)
  }
}

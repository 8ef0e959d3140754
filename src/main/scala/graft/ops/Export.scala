package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.TileMath

/** Sink surface (SURVEY §2.2): tiled export (K4), driver-side stitch
  * (K5/R9), LibSVM export (K6), flat + keyed CSV with metadata sidecar
  * (K7/K8), PNG tile render (K11).
  */
object Export {

  /** K4: one file per tile, written executor-side from foreachPartition
    * (the reference ships a SerializableConfiguration and writes from
    * executors, LayerToGeotiff.scala:96-127 — same shape; this variant
    * writes a portable text raster instead of GeoTiff).
    *
    * SHARED-FILESYSTEM CONTRACT (all tiled exports here): `dir` must be
    * on a filesystem every executor can reach (NFS/HDFS-fuse/local in
    * local mode). Each task creates the directory chain itself before
    * writing — the driver pre-creates nothing, so a fresh worker node
    * never hits a missing parent. */
  def exportTiled(tiles: DataFrame, dir: String, cols: Int, rows: Int): Unit = {
    tiles.select(col("tile_col"), col("tile_row"), col("cells")).foreachPartition {
      (rows_it: Iterator[Row]) =>
        new java.io.File(dir).mkdirs()
        rows_it.foreach { r =>
          val tc = r.getInt(0); val tr = r.getInt(1)
          val cells = r.getSeq[Double](2)
          val f = new java.io.PrintWriter(s"$dir/tile_${tc}_$tr.pgm.txt")
          try {
            f.println(s"P2-ish $cols $rows")
            f.println(cells.map(v => if (TileMath.isData(v)) f"$v%.6f" else "NaN").mkString(" "))
          } finally f.close()
        }
    }
  }

  /** K4 proper: one GeoTiff per tile, encoded and written executor-side
    * (LayerToGeotiff.scala:96-127 writes from executors the same way).
    * Each tile is georeferenced from its key on the layer grid:
    * top-left = (originX + tc*cols*cellW, originY - tr*rows*cellH).
    * Parent dirs are created inside `GeoTiff.write` (executor-side) —
    * see the shared-filesystem contract on [[exportTiled]]. */
  def exportTiledGeoTiff(tiles: DataFrame, dir: String, cols: Int, rows: Int,
                         originX: Double = 0.0, originY: Double = 0.0,
                         cellW: Double = 1.0, cellH: Double = 1.0,
                         epsg: Int = 4326): Unit = {
    tiles.select(col("tile_col"), col("tile_row"), col("cells")).foreachPartition {
      (it: Iterator[Row]) =>
        it.foreach { r =>
          val tc = r.getInt(0); val tr = r.getInt(1)
          graft.sources.GeoTiff.write(s"$dir/tile_${tc}_$tr.tif", cols, rows,
            r.getSeq[Double](2).toArray,
            originX + tc.toDouble * cols * cellW, originY - tr.toDouble * rows * cellH,
            cellW, cellH, epsg)
        }
    }
  }

  /** K4 multiband: one N-band GeoTiff per tile from the zipped
    * representation (`bands ARRAY<ARRAY<DOUBLE>>`, [[graft.ops.Raster.zipBands]]),
    * pixel-interleaved in one file — parity with the reference's
    * MultibandLayerToGeotiff.scala:150-187 tiled path. Band slots absent
    * for a tile export as all-NaN. */
  def exportTiledGeoTiffMultiband(zipped: DataFrame, dir: String, cols: Int, rows: Int,
                                  originX: Double = 0.0, originY: Double = 0.0,
                                  cellW: Double = 1.0, cellH: Double = 1.0,
                                  epsg: Int = 4326): Unit = {
    zipped.select(col("tile_col"), col("tile_row"), col("bands")).foreachPartition {
      (it: Iterator[Row]) =>
        it.foreach { r =>
          val tc = r.getInt(0); val tr = r.getInt(1)
          val bands = r.getSeq[scala.collection.Seq[Double]](2).map { b =>
            if (b == null) Array.fill(cols * rows)(Double.NaN) else b.toArray
          }
          graft.sources.GeoTiff.writeMultiband(s"$dir/tile_${tc}_$tr.tif", cols, rows, bands,
            originX + tc.toDouble * cols * cellW, originY - tr.toDouble * rows * cellH,
            cellW, cellH, epsg)
        }
    }
  }

  /** K5 proper: driver-side stitch to ONE GeoTiff (bounded use — the
    * reference warns of OOM here too, LayerToGeotiff.scala:74). */
  def stitchGeoTiff(tiles: DataFrame, cols: Int, rows: Int, path: String,
                    originX: Double = 0.0, originY: Double = 0.0,
                    cellW: Double = 1.0, cellH: Double = 1.0,
                    epsg: Int = 4326, overviews: Int = 0): Unit = {
    val (w, h, cells) = stitch(tiles, cols, rows)
    if (overviews <= 0)
      graft.sources.GeoTiff.write(path, w, h, cells, originX, originY, cellW, cellH, epsg)
    else {
      // COG-style: chained reduced-resolution IFDs, so zoomed-out
      // serving reads an overview instead of resampling the full raster
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, graft.sources.GeoTiff.encodePyramid(
        w, h, cells, overviews, originX, originY, cellW, cellH, epsg)): Unit
    }
  }

  /** K5 multiband: stitch the zipped representation into ONE N-band
    * GeoTiff on the driver (MultibandLayerToGeotiff.scala:150-187
    * stitched path; same bounded-use warning as [[stitch]]). */
  def stitchGeoTiffMultiband(zipped: DataFrame, cols: Int, rows: Int, path: String,
                             originX: Double = 0.0, originY: Double = 0.0,
                             cellW: Double = 1.0, cellH: Double = 1.0,
                             epsg: Int = 4326): Unit = {
    val (w, h, out) = stitchBands(zipped, cols, rows)
    graft.sources.GeoTiff.writeMultiband(path, w, h, out.toSeq,
      originX, originY, cellW, cellH, epsg)
  }

  /** The ONE driver-side stitch core (bounded use only — the reference
    * itself warns of OOM, LayerToGeotiff.scala:74): zipped rows
    * (tile_col, tile_row, bands) -> (width, height, per-band row-major
    * arrays). Null band slots leave NaN. Single- and multiband stitched
    * exports both go through here so dedup/bounds policy cannot
    * diverge. */
  def stitchBands(zipped: DataFrame, cols: Int, rows: Int): (Int, Int, Array[Array[Double]]) = {
    val collected = zipped.select(col("tile_col"), col("tile_row"), col("bands"))
      .dropDuplicates("tile_col", "tile_row").collect()
    require(collected.nonEmpty, "stitch of empty layer")
    val nBands = collected.map(_.getSeq[scala.collection.Seq[Double]](2).length).max
    val minC = collected.map(_.getInt(0)).min; val maxC = collected.map(_.getInt(0)).max
    val minR = collected.map(_.getInt(1)).min; val maxR = collected.map(_.getInt(1)).max
    val w = (maxC - minC + 1) * cols; val h = (maxR - minR + 1) * rows
    val out = Array.fill(nBands)(TileMath.empty(w, h))
    collected.foreach { r =>
      val ox = (r.getInt(0) - minC) * cols; val oy = (r.getInt(1) - minR) * rows
      val bands = r.getSeq[scala.collection.Seq[Double]](2)
      var b = 0
      while (b < bands.length) {
        val cells = bands(b)
        if (cells != null) {
          var y = 0
          while (y < rows) {
            var x = 0
            while (x < cols) { out(b)((ox + x) + (oy + y) * w) = cells(x + y * cols); x += 1 }
            y += 1
          }
        }
        b += 1
      }
    }
    (w, h, out)
  }

  /** K5/R9: single-band stitch — the `cells` layer wrapped as one band
    * through [[stitchBands]]. Returns (width, height, row-major cells). */
  def stitch(tiles: DataFrame, cols: Int, rows: Int): (Int, Int, Array[Double]) = {
    val (w, h, bands) = stitchBands(
      tiles.select(col("tile_col"), col("tile_row"), array(col("cells")).as("bands")),
      cols, rows)
    (w, h, bands(0))
  }

  /** K6: LibSVM text export with the reference's optional zero-label
    * filter (UtilsML.scala:79-112); single-file via coalesce(1). */
  def exportLibsvm(pixels: DataFrame, path: String, filterZeroLabel: Boolean = true,
                   singleFile: Boolean = true): Unit = {
    val base = if (filterZeroLabel) pixels.where(col("label") > 0) else pixels
    val lines = base.select(
      concat_ws(" ", col("label").cast("string"),
        concat_ws(" ", transform(col("features"),
          (f, i) => concat((i + 1).cast("string"), lit(":"), f.cast("string"))))).as("value"))
    (if (singleFile) lines.coalesce(1) else lines).write.mode("overwrite").text(path)
  }

  /** K7/K8: keyed-CSV export in the reference wire format plus the JSON
    * metadata sidecar {extent, layout, bounds, cellType, crs}
    * (UtilsSVM.scala:196-256). */
  def exportKeyedCsv(pixels: DataFrame, path: String, metaJson: String): Unit = {
    pixels.select(graft.streaming.PixelStream.encodeWire(
        col("label"), col("features"), col("tile_col"), col("tile_row"),
        col("px"), col("py")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path + ".meta.json"), metaJson)
  }

  /** K11: render one tile to a PNG file; see [[renderPngTo]]. */
  def renderPng(cells: Seq[Double], cols: Int, rows: Int, breaks: Seq[Double],
                outFile: String): Unit = {
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(outFile))
    try renderPngTo(cells, cols, rows, breaks, out) finally out.close()
  }

  /** K11: render one tile as PNG into `out` with a heat-map color ramp
    * over the given quantile breaks (ServeLayerAsMap.scala:88-94:
    * colorMap from the stored histogram's quantileBreaks(10)). Pure JDK
    * ImageIO, encoded in memory: `ImageIO.write` to a bare stream would
    * cache through a temp file. The file form writes the same bytes. */
  def renderPngTo(cells: Seq[Double], cols: Int, rows: Int, breaks: Seq[Double],
                  out: java.io.OutputStream): Unit = {
    val img = new java.awt.image.BufferedImage(cols, rows, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val nb = breaks.length
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) {
        val v = cells(x + y * cols)
        val argb =
          if (!TileMath.isData(v)) 0x00000000 // NoData transparent
          else {
            val bin = breaks.indexWhere(v <= _) match { case -1 => nb - 1; case i => i }
            val t = if (nb <= 1) 0f else bin.toFloat / (nb - 1)
            val r = (255 * t).toInt; val b = (255 * (1 - t)).toInt
            0xFF000000 | (r << 16) | (64 << 8) | b
          }
        img.setRGB(x, y, argb)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally {
      writer.dispose()
      ios.close()
    }
  }
}

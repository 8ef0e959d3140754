package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark
import graft.core.TileMath

/** The fixtures use small tiles; this drives the engine's default
  * 256x256 tiles (Utils.scala:21) through the hot operators so the
  * 65k-cell buffer paths (assemble, halo, pyramid, histogram) are
  * exercised at reference geometry. */
class DefaultTileSizeSpec extends AnyFunSuite {
  import spark.implicits._
  val TS = TileMath.DefaultTileSize // 256

  lazy val tiles = {
    // 2x2 tiles of 256x256 = 262k cells, value = f(global coords)
    val pixels = spark.range(0, 4L * TS * TS).select(
      (col("id") / (TS.toLong * TS)).cast("int").as("t"),
      (col("id") % (TS.toLong * TS)).cast("int").as("i"))
      .select(
        (col("t") % 2).as("tile_col"), (col("t") / 2).cast("int").as("tile_row"),
        (col("i") % TS).cast("int").as("px"), (col("i") / TS).cast("int").as("py"),
        ((col("t") * 7 + col("i") % 97) % 13).cast("double").as("v"))
    Raster.assemble(pixels, TS, TS).cache()
  }

  test("assemble produces full 65536-cell tiles") {
    val sizes = tiles.select(size(col("cells"))).as[Int].collect()
    assert(sizes.length == 4 && sizes.forall(_ == TS * TS))
  }

  test("histogram stats over 262k cells") {
    val st = Histograms.statistics(tiles, TS).head()
    assert(st.getAs[Long]("n_cells") == 4L * TS * TS)
    assert(st.getAs[Double]("max_v") <= 12.0)
  }

  test("halo + focal mean at 256x256 stays correct at tile seams") {
    val focal = Raster.focalMean(tiles, TS, TS, radius = 1, circle = false)
    val px = Raster.globalCoords(Raster.pixelize(focal, TS), TS, TS)
    // seam cell (gx=256, gy=10): neighbors span tiles (0,0) and (1,0)
    val got = px.where(col("gx") === TS && col("gy") === 10).select(col("v")).head().getDouble(0)
    def v(t: Long, i: Long): Double = ((t * 7 + i % 97) % 13).toDouble
    def cell(gx: Long, gy: Long): Double = {
      val tc = gx / TS; val tr = gy / TS
      v(tr * 2 + tc, (gx % TS) + (gy % TS) * TS)
    }
    val n = for (dx <- -1 to 1; dy <- -1 to 1) yield cell(TS + dx, 10 + dy)
    assert(math.abs(got - n.sum / n.size) < 1e-12)
  }

  test("pyramid downsamples 2x2 tiles into one 256x256 parent") {
    val up = Raster.pyramidUp(tiles, TS, TS)
    assert(up.count() == 1)
    assert(up.select(size(col("cells"))).as[Int].head() == TS * TS)
  }

  // 2x2 tiles whose every cell holds a distinct value (global x + 1e4 *
  // global y; every 101st cell NoData), kept driver-side as the reference
  lazy val distinct: Map[(Int, Int), Array[Double]] =
    (for (tc <- 0 to 1; tr <- 0 to 1) yield (tc, tr) -> Array.tabulate(TS * TS) { i =>
      if (i % 101 == 0) Double.NaN else (tc * TS + i % TS) + 1e4 * (tr * TS + i / TS)
    }).toMap
  lazy val distinctDf =
    distinct.toSeq.map { case ((tc, tr), c) => (tc, tr, c) }.toDF("tile_col", "tile_row", "cells")

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i)))

  test("withHalo at 256x256 matches a driver-side haloBounds/sliceRect reference bit for bit") {
    val pad = 3
    val pc = TS + 2 * pad
    val got = Raster.withHalo(distinctDf, TS, TS, pad)
      .select(col("tile_col"), col("tile_row"), col("padded")).as[(Int, Int, Array[Double])]
      .collect()
    assert(got.length == 4)
    got.foreach { case (tc, tr, padded) =>
      val ref = TileMath.empty(pc, pc)
      for (dc <- -1 to 1; dr <- -1 to 1; src <- distinct.get((tc + dc, tr + dr))) {
        val (xlo, xhi, ylo, yhi) = TileMath.haloBounds(dc, dr, TS, TS, pad)
        val sl = TileMath.sliceRect(src, TS, xlo, xhi, ylo, yhi)
        for (y <- ylo until yhi; x <- xlo until xhi)
          ref((dc * TS + x + pad) + (dr * TS + y + pad) * pc) = sl((x - xlo) + (y - ylo) * (xhi - xlo))
      }
      assert(sameBits(padded, ref), s"padded tile ($tc,$tr) differs from the reference")
    }
  }

  test("pyramidUp at 256x256 equals downsample2 of the four quadrants bit for bit") {
    val hc = TS / 2
    val ref = TileMath.empty(TS, TS)
    for (qx <- 0 to 1; qy <- 0 to 1) {
      val half = TileMath.downsample2(distinct((qx, qy)), TS, TS)
      for (y <- 0 until hc; x <- 0 until hc)
        ref((qx * hc + x) + (qy * hc + y) * TS) = half(x + y * hc)
    }
    val up = Raster.pyramidUp(distinctDf, TS, TS)
      .select(col("tile_col"), col("tile_row"), col("cells")).as[(Int, Int, Array[Double])]
      .collect()
    assert(up.length == 1 && up.head._1 == 0 && up.head._2 == 0)
    assert(sameBits(up.head._3, ref))
  }

  test("tile-buffer inputs decode cells as Array[Double], not a linear-access List") {
    def decodedClass[T: scala.reflect.runtime.universe.TypeTag](v: T)(cells: T => AnyRef): Class[_] = {
      val enc = ExpressionEncoder[T]()
      cells(enc.resolveAndBind().createDeserializer()(enc.createSerializer()(v))).getClass
    }
    val c = Array(1.0, Double.NaN, 3.0)
    assert(decodedClass(TileAggregators.NeighborIn(0, 1, c))(_.cells) == classOf[Array[Double]])
    assert(decodedClass(TileAggregators.QuadIn(1, 0, c))(_.cells) == classOf[Array[Double]])
    assert(decodedClass(graft.grid.Reproject.SrcTileIn(0, 0, 1, 1, c))(_.cells) == classOf[Array[Double]])
  }

  test("quantile breaks are monotone and span the value range") {
    val breaks = Histograms.quantileBreaks(tiles, TS, 10)
    assert(breaks.length == 10)
    assert(breaks == breaks.sorted)
    assert(breaks.last <= 12.0 && breaks.head >= 0.0)
  }
}

package graft.grid

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.core.TileMath

/** R4/R2: reproject + regrid a tile layer onto a new layout, as one
  * shuffle (the reference's `reproject` under ZoomedLayoutScheme,
  * GeotiffTilingExample.scala:56-60, and `tileToLayout`,
  * :52-54 — both are "cells move to new tile keys" shapes).
  *
  * Dataflow: each source tile projects its extent forward, explodes to
  * the covered target keys, then one aggregation per target tile
  * NN-samples every target cell center through the inverse transform —
  * partials merge cell-wise, so the shuffle carries tiles, not pixels,
  * and the kernel is embarrassingly parallel (SURVEY §7.4 hard part 1:
  * seams are exact because every cell samples through the same global
  * math regardless of which source tile contributed it).
  */
object Reproject {

  case class SrcTileIn(dstCol: Int, dstRow: Int, srcCol: Int, srcRow: Int, cells: Array[Double])

  sealed trait Kernel extends Serializable
  case object NearestNeighbor extends Kernel
  case object Bilinear extends Kernel
  case object CubicConvolution extends Kernel

  class ResampleAgg(src: LayoutDefinition, dst: LayoutDefinition, t: CrsTransform,
                    kernel: Kernel = NearestNeighbor)
      extends Aggregator[SrcTileIn, Array[Double], Seq[Double]] {
    def zero: Array[Double] = TileMath.empty(dst.tileCols, dst.tileRows)
    def reduce(b: Array[Double], in: SrcTileIn): Array[Double] = {
      val cells = in.cells
      var py = 0
      while (py < dst.tileRows) {
        var px = 0
        while (px < dst.tileCols) {
          if (!TileMath.isData(b(px + py * dst.tileCols))) {
            val (dx, dy) = dst.cellCenter(in.dstCol, in.dstRow, px, py)
            val (sx, sy) = t.inverse(dx, dy)
            val (gx, gy) = src.mapToCell(sx, sy)
            val sc = in.srcCol.toLong; val sr = in.srcRow.toLong
            val lx = gx - sc * src.tileCols
            val ly = gy - sr * src.tileRows
            if (lx >= 0 && lx < src.tileCols && ly >= 0 && ly < src.tileRows) {
              b(px + py * dst.tileCols) = kernel match {
                case NearestNeighbor => cells((lx + ly * src.tileCols).toInt)
                case Bilinear =>
                  // fractional source-cell coords of the target center
                  val fcx = (sx - src.extent.xmin) / src.cellWidth - sc * src.tileCols
                  val fcy = (src.extent.ymax - sy) / src.cellHeight - sr * src.tileRows
                  TileMath.sampleBilinear(cells, src.tileCols, src.tileRows, fcx, fcy)
                case CubicConvolution =>
                  val fcx = (sx - src.extent.xmin) / src.cellWidth - sc * src.tileCols
                  val fcy = (src.extent.ymax - sy) / src.cellHeight - sr * src.tileRows
                  TileMath.sampleCubic(cells, src.tileCols, src.tileRows, fcx, fcy)
              }
            }
          }
          px += 1
        }
        py += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (!TileMath.isData(a(i)) && TileMath.isData(b(i))) a(i) = b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  /** Source key -> covered destination keys. The projected image of a
    * rectangle has CURVED edges under a general CRS (UTM easting/
    * northing both bend with lon/lat), so a corner-only bbox can
    * under-cover by a tile near zone boundaries / high latitudes —
    * the extremum of a curved edge lies strictly between corners.
    * Sample every edge at [[EdgeSamples]] intervals and take the bbox
    * of the sampled boundary: 4*(EdgeSamples+1) cheap map-side
    * projections per SOURCE TILE (not per pixel), noise next to the
    * per-pixel resampling that follows. */
  private val EdgeSamples = 8

  private[grid] def coveredKeysFn(src: LayoutDefinition, dst: LayoutDefinition,
                                  transform: CrsTransform): (Int, Int) => Seq[(Int, Int)] =
    (tc: Int, tr: Int) => {
      val e = src.keyToExtent(tc, tr)
      val boundary = for {
        t <- 0 to EdgeSamples
        f = t.toDouble / EdgeSamples
        p <- Seq(
          (e.xmin + f * (e.xmax - e.xmin), e.ymin),
          (e.xmin + f * (e.xmax - e.xmin), e.ymax),
          (e.xmin, e.ymin + f * (e.ymax - e.ymin)),
          (e.xmax, e.ymin + f * (e.ymax - e.ymin)))
      } yield p
      val pts = boundary.map { case (x, y) => transform.forward(x, y) }
      val xs = pts.map(_._1); val ys = pts.map(_._2)
      val (c0, r1) = dst.mapToKey(xs.min, ys.min)
      val (c1, r0) = dst.mapToKey(xs.max, ys.max)
      for {
        c <- math.max(0, c0) to math.min(dst.layoutCols - 1, c1)
        r <- math.max(0, r0) to math.min(dst.layoutRows - 1, r1)
      } yield (c, r)
    }

  /** Reproject tiles (tile_col, tile_row, cells) from src layout/CRS to
    * dst layout/CRS with NearestNeighbor sampling (reference default,
    * Utils.scala:23). */
  def apply(tiles: DataFrame, src: LayoutDefinition, dst: LayoutDefinition,
            transform: CrsTransform, kernel: Kernel = NearestNeighbor): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val agg = udaf(new ResampleAgg(src, dst, transform, kernel), ExpressionEncoder[SrcTileIn]())

    val coveredKeys = udf(coveredKeysFn(src, dst, transform))

    tiles
      .select(col("tile_col").as("srcCol"), col("tile_row").as("srcRow"), col("cells"),
        explode(coveredKeys(col("tile_col"), col("tile_row"))).as("dk"))
      .select(col("dk._1").as("tile_col"), col("dk._2").as("tile_row"),
        col("srcCol"), col("srcRow"), col("cells"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(agg(col("tile_col"), col("tile_row"), col("srcCol"), col("srcRow"), col("cells")).as("cells"))
  }
}

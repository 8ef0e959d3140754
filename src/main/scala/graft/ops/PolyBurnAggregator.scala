package graft.ops

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder
import graft.core.{PolyRaster, TileMath}

object PolyBurnAggregator {

  /** Flattened polygon input row for one (feature x tile) pair: vertex
    * arrays + ring offsets (start index of each ring), last-wins seq.
    * Arrays, not Seq: the encoder decodes a Seq field into a List, and
    * [[toRings]] indexes every vertex. */
  case class PolyIn(tileCol: Int, tileRow: Int, xs: Array[Double], ys: Array[Double],
                    ringOffsets: Array[Int], value: Double, seq: Long)

  private def toRings(p: PolyIn): Seq[PolyRaster.Ring] = {
    val offs = p.ringOffsets :+ p.xs.length
    (0 until p.ringOffsets.length).map { r =>
      (offs(r) until offs(r + 1)).map(i => (p.xs(i), p.ys(i))).toArray
    }
  }

  /** Rasterize-combine for arbitrary polygons: like RectBurn but the
    * burn step is the scanline fill (reference combineByKey create/burn/
    * merge, RasterizeFeaturesRDD.scala:66-71). Buffer = value plane +
    * seq plane so parallel merges resolve last-burn-wins by feature id. */
  class PolyBurn(cols: Int, rows: Int) extends Aggregator[PolyIn, Array[Double], Seq[Double]] {
    private val n = cols * rows
    def zero: Array[Double] = {
      val a = new Array[Double](2 * n)
      java.util.Arrays.fill(a, 0, n, Double.NaN)
      java.util.Arrays.fill(a, n, 2 * n, -1.0)
      a
    }
    def reduce(b: Array[Double], p: PolyIn): Array[Double] = {
      val tmp = TileMath.empty(cols, rows)
      PolyRaster.burnPolygon(tmp, cols, rows, p.tileCol, p.tileRow, toRings(p), p.value)
      var i = 0
      while (i < n) {
        if (TileMath.isData(tmp(i)) && p.seq.toDouble >= b(n + i)) {
          b(i) = tmp(i); b(n + i) = p.seq.toDouble
        }
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < n) { if (b(n + i) > a(n + i)) { a(i) = b(i); a(n + i) = b(n + i) }; i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.slice(0, n).toSeq
    def bufferEncoder: Encoder[Array[Double]] = TileAggregators.bufEnc
    def outputEncoder: Encoder[Seq[Double]] = TileAggregators.outEnc
  }
}

package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Per-(layer, zoom) attribute record — the engine's analog of the
  * reference's JSON attribute store (api/package.scala:62-65): layer
  * metadata (`UtilsSVM.scala:205-232` keeps cellType/extent/crs/bounds
  * in a sidecar) plus the persisted histogram the tile server renders
  * through (`Utils.scala:85-89` writes `histogramData`;
  * `ServeLayerAsMap.scala:90-92` reads it back for quantile breaks
  * instead of re-aggregating the layer).
  *
  * The histogram is exact fixed-width bins (parallel `bins`/`counts`
  * arrays, bin = floor(v / binWidth)) — hash-verifiable against a
  * relational oracle, and enough to derive quantile breaks driver-side
  * with zero Spark jobs.
  */
case class LayerAttributes(
    cellType: String,
    crs: String,
    tileCols: Int,
    tileRows: Int,
    minCol: Int,
    maxCol: Int,
    minRow: Int,
    maxRow: Int,
    nTiles: Long,
    nCells: Long,
    minV: Double,
    maxV: Double,
    binWidth: Double,
    bins: Seq[Long],
    counts: Seq[Long],
    extent: Seq[Double]) {

  /** GeoTrellis-style quantileBreaks(n) from the stored histogram: the
    * upper edge of the bin where the cumulative count crosses each
    * quantile — no layer scan (the reference reads `histogramData` and
    * calls `hist.quantileBreaks(10)`, ServeLayerAsMap.scala:92). */
  def quantileBreaks(n: Int): Seq[Double] = {
    val total = counts.sum
    if (total == 0L || bins.isEmpty) return Seq.empty
    val sorted = bins.zip(counts).sortBy(_._1)
    (1 to n).map { i =>
      val target = math.ceil(total.toDouble * i / n).toLong
      var cum = 0L
      var edge = (sorted.head._1 + 1) * binWidth
      val it = sorted.iterator
      var done = false
      while (it.hasNext && !done) {
        val (b, c) = it.next()
        cum += c
        edge = (b + 1) * binWidth
        if (cum >= target) done = true
      }
      edge
    }
  }
}

object LayerAttributes {
  private val mapper = new ObjectMapper()

  /** The sidecar's bytes: the fields in declaration order through
    * Jackson's default pretty printer — the bytes json4s's `writePretty`
    * gives, without its reflective case-class derivation, which costs
    * 0.3-0.6 s on its first call in a JVM, i.e. on the first publish. */
  def toJson(a: LayerAttributes): String = {
    val out = new java.io.StringWriter
    val g = mapper.getFactory.createGenerator(out).useDefaultPrettyPrinter()
    def array[A](name: String, xs: Seq[A])(write: A => Unit): Unit = {
      g.writeArrayFieldStart(name); xs.foreach(write); g.writeEndArray()
    }
    g.writeStartObject()
    g.writeStringField("cellType", a.cellType)
    g.writeStringField("crs", a.crs)
    g.writeNumberField("tileCols", a.tileCols)
    g.writeNumberField("tileRows", a.tileRows)
    g.writeNumberField("minCol", a.minCol)
    g.writeNumberField("maxCol", a.maxCol)
    g.writeNumberField("minRow", a.minRow)
    g.writeNumberField("maxRow", a.maxRow)
    g.writeNumberField("nTiles", a.nTiles)
    g.writeNumberField("nCells", a.nCells)
    g.writeNumberField("minV", a.minV)
    g.writeNumberField("maxV", a.maxV)
    g.writeNumberField("binWidth", a.binWidth)
    array("bins", a.bins)(g.writeNumber(_))
    array("counts", a.counts)(g.writeNumber(_))
    array("extent", a.extent)(g.writeNumber(_))
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** Reads what [[toJson]] writes; fields it does not know (such as an
    * older sidecar's recorded schema) are ignored, a missing or mistyped
    * one throws naming it. */
  def fromJson(s: String): LayerAttributes = {
    val o = mapper.readTree(s)
    def field(name: String, ok: JsonNode => Boolean): JsonNode =
      Option(o.get(name)).filter(ok).getOrElse(
        throw new IllegalArgumentException(s"sidecar field $name is missing or mistyped"))
    def isInt(n: JsonNode) = n.isIntegralNumber && n.canConvertToInt
    def isLong(n: JsonNode) = n.isIntegralNumber && n.canConvertToLong
    def str(name: String) = field(name, _.isTextual).textValue
    def int(name: String) = field(name, isInt).intValue
    def long(name: String) = field(name, isLong).longValue
    def dbl(name: String) = field(name, _.isNumber).doubleValue
    def arr(name: String, ok: JsonNode => Boolean) = {
      import scala.jdk.CollectionConverters._
      field(name, n => n.isArray && n.elements.asScala.forall(ok)).elements.asScala.toSeq
    }
    LayerAttributes(
      cellType = str("cellType"), crs = str("crs"),
      tileCols = int("tileCols"), tileRows = int("tileRows"),
      minCol = int("minCol"), maxCol = int("maxCol"),
      minRow = int("minRow"), maxRow = int("maxRow"),
      nTiles = long("nTiles"), nCells = long("nCells"),
      minV = dbl("minV"), maxV = dbl("maxV"), binWidth = dbl("binWidth"),
      bins = arr("bins", isLong).map(_.longValue), counts = arr("counts", isLong).map(_.longValue),
      extent = arr("extent", _.isNumber).map(_.doubleValue))
  }

  /** Driver-side histogram rows are bounded by value-range / binWidth,
    * not layer size — but an adversarial range (e.g. raw timestamps at
    * binWidth 1) would still blow the driver. Cap the bin count; the
    * effective width widens to keep the sidecar O(MaxBins). */
  val MaxBins = 65536

  /** The sidecar of a layer, built from the rows it was written from
    * (the cached rows of the write's checkpoint frame `ck`, see
    * [[graft.ops.Materialize]]) instead of re-reading the parquet.
    *
    * One job: every partition returns its tile count, key bounds,
    * non-NaN value range and bin counts at `binWidth`. Per partition
    * the bins are capped at MaxBins + 2 keys: the bins of [vmin, vmax]
    * number at most range / width + 2, so the cap only trips when the
    * layer's range widens the bins anyway. A second pass at the widened
    * width runs only then — the adversarial-range case.
    *
    * Cells are the non-null, non-NaN elements of `cells` (ARRAY<DOUBLE>);
    * a layer without a `cells` column (e.g. a zipped multiband `bands`
    * layer) gets bounds and an empty histogram. */
  def fromRows(ck: DataFrame, tileSize: Int, crs: String, binWidth: Double): LayerAttributes = {
    val rows = graft.ops.Materialize.blocks(ck)
    val schema = ck.schema
    def field(name: String, ok: org.apache.spark.sql.types.DataType => Boolean): Int = {
      val i = schema.fieldIndex(name)
      require(ok(schema(i).dataType),
        s"layer column $name has type ${schema(i).dataType.simpleString}, unsupported by the sidecar")
      i
    }
    val ci = field("tile_col", _ == IntegerType)
    val ri = field("tile_row", _ == IntegerType)
    val vi =
      if (!schema.fieldNames.contains("cells")) -1
      else field("cells", { case ArrayType(DoubleType, _) => true; case _ => false })
    val first = scan(rows, ci, ri, vi, binWidth, MaxBins + 2)
    val nCells = first.map(_.nCells).sum
    val vmin = first.foldLeft(Double.PositiveInfinity)((m, p) => math.min(m, p.vmin))
    val vmax = first.foldLeft(Double.NegativeInfinity)((m, p) => math.max(m, p.vmax))
    val effWidth =
      if (nCells == 0L) binWidth else math.max(binWidth, (vmax - vmin) / MaxBins)
    val parts =
      if (effWidth > binWidth || first.exists(_.bins == null))
        scan(rows, ci, ri, vi, effWidth, Int.MaxValue)
      else first
    val hist = new BinCounts(Int.MaxValue)
    parts.foreach(p => p.bins.indices.foreach(i => hist.add(p.bins(i), p.counts(i))))
    val bins = hist.keys
    java.util.Arrays.sort(bins)
    val c0 = first.foldLeft(Int.MaxValue)((m, p) => math.min(m, p.c0))
    val c1 = first.foldLeft(Int.MinValue)((m, p) => math.max(m, p.c1))
    val r0 = first.foldLeft(Int.MaxValue)((m, p) => math.min(m, p.r0))
    val r1 = first.foldLeft(Int.MinValue)((m, p) => math.max(m, p.r1))
    val keyed = c0 <= c1 && r0 <= r1
    LayerAttributes(
      cellType = "float64", crs = crs, tileCols = tileSize, tileRows = tileSize,
      minCol = if (c0 <= c1) c0 else 0, maxCol = if (c0 <= c1) c1 else -1,
      minRow = if (r0 <= r1) r0 else 0, maxRow = if (r0 <= r1) r1 else -1,
      nTiles = first.map(_.n).sum, nCells = nCells,
      minV = if (nCells == 0L) 0.0 else vmin, // 0.0: a NaN would not read back as a number
      maxV = if (nCells == 0L) 0.0 else vmax,
      binWidth = effWidth,
      bins = bins.toSeq, counts = bins.map(hist.get).toSeq,
      extent =
        if (!keyed) Seq.empty
        else Seq(c0.toDouble * tileSize, r0.toDouble * tileSize,
                 (c1 + 1).toDouble * tileSize, (r1 + 1).toDouble * tileSize))
  }

  /** One partition's share of the sidecar; `bins == null` when its bins
    * at the scanned width exceeded the cap. Empty bounds are
    * (MaxValue, MinValue), an empty value range (+Inf, -Inf). */
  private final case class Part(n: Long, c0: Int, c1: Int, r0: Int, r1: Int,
                                nCells: Long, vmin: Double, vmax: Double,
                                bins: Array[Long], counts: Array[Long])

  private def scan(rows: RDD[InternalRow], ci: Int, ri: Int, vi: Int,
                   width: Double, cap: Int): Array[Part] =
    rows.mapPartitions { it =>
      var n = 0L
      var c0 = Int.MaxValue; var c1 = Int.MinValue
      var r0 = Int.MaxValue; var r1 = Int.MinValue
      var nCells = 0L
      var vmin = Double.PositiveInfinity; var vmax = Double.NegativeInfinity
      val hist = new BinCounts(cap)
      var capped = false
      while (it.hasNext) {
        val row = it.next()
        n += 1
        if (!row.isNullAt(ci)) { val c = row.getInt(ci); c0 = math.min(c0, c); c1 = math.max(c1, c) }
        if (!row.isNullAt(ri)) { val r = row.getInt(ri); r0 = math.min(r0, r); r1 = math.max(r1, r) }
        if (vi >= 0 && !row.isNullAt(vi)) {
          val cells = row.getArray(vi) // read in place: no copy per tile
          val len = cells.numElements()
          var i = 0
          while (i < len) {
            if (!cells.isNullAt(i)) {
              val v = cells.getDouble(i)
              if (!v.isNaN) {
                nCells += 1
                vmin = math.min(vmin, v); vmax = math.max(vmax, v)
                // the bin expression Spark evaluates for floor(v / width)
                if (!capped) capped = !hist.add(math.floor(v / width).toLong, 1L)
              }
            }
            i += 1
          }
        }
      }
      val bins = if (capped) null else hist.keys
      Iterator(Part(n, c0, c1, r0, r1, nCells, vmin, vmax,
        bins, if (capped) null else bins.map(hist.get)))
    }.collect()

  /** Bin -> count map over primitive arrays (open addressing, no boxing
    * per cell). `add` refuses a new key once `cap` keys are held. */
  private final class BinCounts(cap: Int) {
    private var ks = new Array[Long](64)
    private var cs = new Array[Long](64) // count 0 marks a free slot
    private var size = 0

    private def slot(k: Long): Int = {
      val mask = ks.length - 1
      var i = ((k * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (cs(i) != 0L && ks(i) != k) i = (i + 1) & mask
      i
    }

    def add(k: Long, c: Long): Boolean = {
      val i = slot(k)
      if (cs(i) != 0L) { cs(i) += c; true }
      else if (size >= cap) false
      else {
        ks(i) = k; cs(i) = c; size += 1
        if (2 * size > ks.length) {
          val (oks, ocs) = (ks, cs)
          ks = new Array[Long](2 * oks.length); cs = new Array[Long](2 * oks.length)
          var j = 0
          while (j < oks.length) {
            if (ocs(j) != 0L) { val s = slot(oks(j)); ks(s) = oks(j); cs(s) = ocs(j) }
            j += 1
          }
        }
        true
      }
    }

    def get(k: Long): Long = cs(slot(k))

    def keys: Array[Long] = {
      val out = new Array[Long](size)
      var i = 0; var j = 0
      while (i < ks.length) { if (cs(i) != 0L) { out(j) = ks(i); j += 1 }; i += 1 }
      out
    }
  }
}

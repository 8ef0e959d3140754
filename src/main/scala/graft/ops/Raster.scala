package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.core.TileMath

/** DataFrame-level raster operators over the engine's tile schema:
  *
  *   tiles(tile_col INT, tile_row INT, cells ARRAY<DOUBLE>)      -- NaN = NoData
  *   pixels(tile_col INT, tile_row INT, px INT, py INT, v DOUBLE)
  *
  * Declarative wherever Spark's built-ins can express the semantics
  * (zip_with / transform / posexplode / joins — SURVEY §7.3); typed
  * Aggregators (TileAggregators) where a mutable tile buffer is the right
  * physical shape; per-tile Scala kernels only for 2-D convolution, which
  * has no Catalyst equivalent.
  */
object Raster {

  /** Pixel explode (P9, UtilsML.scala:17-36): tile rows → one row per
    * data cell. posexplode gives the flat index; x = i % cols,
    * y = i / cols (row-major, TilePixelingExample.scala:100-105). */
  def pixelize(tiles: DataFrame, cols: Int): DataFrame =
    tiles.select(col("tile_col"), col("tile_row"), posexplode(col("cells")).as(Seq("i", "v")))
      .where(not(isnan(col("v"))))
      .select(col("tile_col"), col("tile_row"),
        (col("i") % cols).cast("int").as("px"),
        (col("i") / cols).cast("int").as("py"),
        col("v"))

  /** Pixel→tile reassembly (A3, TilePixelingExample.scala:97-107) as a
    * partial-aggregating UDAF — never materializes a 65k-row group. */
  def assemble(pixels: DataFrame, cols: Int, rows: Int): DataFrame = {
    val asm = udaf(new TileAggregators.TileAssemble(cols, rows),
      ExpressionEncoder[TileAggregators.PixelIn]())
    pixels.groupBy(col("tile_col"), col("tile_row"))
      .agg(asm(col("px"), col("py"), col("v")).as("cells"))
  }

  /** NDVI cell algebra (P1, NDVILayerExample.scala:70-75) on two joined
    * band columns, as a codegen'd higher-order function. */
  def ndviCells(nir: Column, red: Column): Column =
    zip_with(nir, red, (n, r) =>
      when(isnan(n) || isnan(r) || (n + r) === 0d, lit(Double.NaN))
        .otherwise((n - r) / (n + r)))

  /** Cloud/cirrus QA mask (P2, NDVILayerWithCloudMaskExample.scala:54-60):
    * NoData where (qa & mask) != 0. */
  def maskCells(v: Column, qa: Column, mask: Long): Column =
    zip_with(v, qa, (x, q) =>
      when(isnan(q) || (q.cast("long").bitwiseAND(lit(mask)) =!= 0L), lit(Double.NaN))
        .otherwise(x))

  /** Pairwise tile merge (P8): incoming (b) wins where defined. */
  def mergeCells(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => when(isnan(y), x).otherwise(y))

  /** Layer merge/upsert (K2/J6, api/package.scala:328-385): full-outer
    * join on the tile key, cell-wise incoming-wins where both exist. */
  def mergeLayers(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val e = existing.withColumnRenamed("cells", "cells_old")
    val i = incoming.withColumnRenamed("cells", "cells_new")
    e.join(i, Seq("tile_col", "tile_row"), "full_outer")
      .select(col("tile_col"), col("tile_row"),
        when(col("cells_old").isNull, col("cells_new"))
          .when(col("cells_new").isNull, col("cells_old"))
          .otherwise(mergeCells(col("cells_old"), col("cells_new"))).as("cells"))
  }

  /** Margin slicer (ship side of the halo exchange): a tile contributes
    * its whole self to (0,0) and only a pad-wide strip / pad x pad corner
    * to each of its 8 neighbors — GeoTrellis `bufferTiles` ships exactly
    * these margins. Built from codegen'd `slice`/`transform` expressions
    * (full-width strips are a contiguous `slice`; strided strips index
    * through a `sequence` — no UDF ser/de round-trip on the hot path). */
  private def marginSliceCol(cells: Column, cols: Int, rows: Int, pad: Int,
                             dcol: Int, drow: Int): Column = {
    val (xlo, xhi, ylo, yhi) = TileMath.haloBounds(dcol, drow, cols, rows, pad)
    val w = xhi - xlo
    val h = yhi - ylo
    if (w == cols) slice(cells, ylo * cols + 1, h * cols) // contiguous rows
    else transform(sequence(lit(0), lit(w * h - 1)), i =>
      element_at(cells,
        ((i - pmod(i, lit(w))) / w).cast("int") * cols + pmod(i, lit(w)) + lit(ylo * cols + xlo + 1)))
  }

  private def contributions(cells: Column, cols: Int, rows: Int, pad: Int): Column =
    array((for (dr <- -1 to 1; dc <- -1 to 1) yield {
      // contribution to target (tc+dc, tr+dr): contributor offset
      // relative to that target is (-dc, -dr)
      val sl = if (dc == 0 && dr == 0) cells
               else marginSliceCol(cells, cols, rows, pad, -dc, -dr)
      struct(lit(dc).as("dc"), lit(dr).as("dr"), sl.as("cells"))
    }): _*)

  /** Halo exchange (R8, bufferTiles ConvolveLayerExample.scala:69): each
    * tile ships itself plus 8 *margin slices* (one shuffle carrying
    * ~(1 + 2*pad*(cols+rows)/(cols*rows))x the layer — ~1.1x at 256/7,
    * not 9x), then a padded array is assembled per target key. Returns
    * (tile_col, tile_row, padded ARRAY<DOUBLE> of (cols+2p)x(rows+2p)). */
  def withHalo(tiles: DataFrame, cols: Int, rows: Int, pad: Int): DataFrame = {
    require(pad <= cols && pad <= rows, s"pad $pad exceeds tile size ${cols}x$rows")
    val pa = udaf(new TileAggregators.PadAssemble(cols, rows, pad),
      ExpressionEncoder[TileAggregators.NeighborIn]())
    tiles
      .select(col("tile_col"), col("tile_row"),
        explode(contributions(col("cells"), cols, rows, pad)).as("m"))
      .select(
        (col("tile_col") + col("m.dc")).as("tile_col"),
        (col("tile_row") + col("m.dr")).as("tile_row"),
        (-col("m.dc")).as("dcol"), (-col("m.dr")).as("drow"), col("m.cells").as("cells"))
      // target must itself exist: inner-join back onto the layer's keys
      .join(tiles.select(col("tile_col"), col("tile_row")).distinct(), Seq("tile_col", "tile_row"))
      // shuffle the *raw margin rows*, not partial-agg buffers: PadAssemble's
      // buffer is the dense padded array, so letting the aggregation's own
      // exchange run partial-first would ship up to 9 dense buffers per
      // target key — pre-partitioning on the group key satisfies the agg's
      // distribution requirement and keeps the wire volume at ~1.1x.
      .repartition(col("tile_col"), col("tile_row"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(pa(col("dcol"), col("drow"), col("cells")).as("padded"))
  }

  private val focalMeanUdf = udf((padded: Array[Double], cols: Int, rows: Int, pad: Int, r: Int, circle: Boolean) =>
    TileMath.focalMean(padded, cols, rows, pad, r, circle))

  /** Focal mean convolution (F1, ConvolveLayerExample.scala:62-73): halo
    * join then an embarrassingly-parallel per-tile kernel. */
  def focalMean(tiles: DataFrame, cols: Int, rows: Int, radius: Int, circle: Boolean = true): DataFrame =
    withHalo(tiles, cols, rows, radius)
      .select(col("tile_col"), col("tile_row"),
        focalMeanUdf(col("padded"), lit(cols), lit(rows), lit(radius), lit(radius), lit(circle)).as("cells"))

  private val convolveUdf = udf((padded: Array[Double], cols: Int, rows: Int, pad: Int, kernel: Array[Double]) =>
    TileMath.convolve(padded, cols, rows, pad, kernel))

  /** Generic focal convolution with a caller-supplied square kernel
    * (odd side; row index downward) — the user-defined-kernel member of
    * the focal family: sharpen/emboss/Gaussian/edge kernels all ride
    * the SAME pad=(side-1)/2 halo exchange as [[slope]], so a custom
    * kernel costs exactly what the built-ins cost. Cells without a
    * full data window become NoData (TileMath.convolve). */
  def convolve(tiles: DataFrame, cols: Int, rows: Int, kernel: Array[Array[Double]]): DataFrame = {
    require(kernel.length % 2 == 1 && kernel.forall(_.length == kernel.length),
      "kernel must be square with odd side")
    val pad = (kernel.length - 1) / 2
    withHalo(tiles, cols, rows, pad)
      .select(col("tile_col"), col("tile_row"),
        convolveUdf(col("padded"), lit(cols), lit(rows), lit(pad),
          typedLit(kernel.flatten)).as("cells"))
  }

  private val hornSlopeUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.hornSlope(padded, cols, rows, pad = 1))

  /** Horn slope (gradient magnitude) — the terrain member of the focal
    * family (F1/F2): halo exchange at pad=1 (~1.1x wire), then the
    * per-tile 3x3 kernel. Cells missing any of their 8 neighbors become
    * NoData (see TileMath.hornSlope). */
  def slope(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        hornSlopeUdf(col("padded"), lit(cols), lit(rows)).as("cells"))

  private val hornHillshadeUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.hornHillshade(padded, cols, rows, pad = 1))

  /** Lambertian hillshade (azimuth 315°, altitude 45°) — the rendering
    * member of the terrain family: same pad=1 halo as [[slope]], then
    * the per-tile gradient+illumination kernel (TileMath.hornHillshade;
    * trig collapses to one compile-time literal, so the gate
    * hash-matches bitwise). */
  def hillshade(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        hornHillshadeUdf(col("padded"), lit(cols), lit(rows)).as("cells"))

  private val d8FlowDirUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.d8FlowDir(padded, cols, rows, pad = 1))

  /** D8 flow direction — hydrology member of the terrain family: pad=1
    * halo then the per-tile steepest-descent kernel (TileMath.d8FlowDir;
    * codes 0-7 clockwise from E, -1 for pits). */
  def flowDir(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        d8FlowDirUdf(col("padded"), lit(cols), lit(rows)).as("cells"))

  private val hornGxUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.hornGradient(padded, cols, rows, 1, 0))
  private val hornGyUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.hornGradient(padded, cols, rows, 1, 1))

  /** Per-pixel Horn gradient components (gx, gy) off ONE pad=1 halo
    * exchange — both kernels run in the same projection, so the wire
    * cost is identical to [[slope]]; feeds aspect/curvature-style
    * derivatives that need the vector, not just the magnitude. */
  def gradientComponents(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        hornGxUdf(col("padded"), lit(cols), lit(rows)).as("gxs"),
        hornGyUdf(col("padded"), lit(cols), lit(rows)).as("gys"))
      .select(col("tile_col"), col("tile_row"),
        posexplode(arrays_zip(col("gxs"), col("gys"))).as(Seq("pos", "g")))
      .select(col("tile_col"), col("tile_row"),
        (col("pos") % cols).as("px"), (col("pos") / cols).cast("int").as("py"),
        col("g.gxs").as("gx"), col("g.gys").as("gy"))

  /** Fused terrain derivatives — gradient components AND the D8 code
    * off ONE pad=1 halo exchange, all kernels in a single projection:
    * at DEM scale the halo shuffle dominates, so slope / hillshade /
    * aspect / flow direction should cost ONE exchange, not four.
    * Returns per-pixel (gx, gy, d8); callers derive the scalar
    * products (they are pure functions of the gradient). */
  def terrainComponents(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        hornGxUdf(col("padded"), lit(cols), lit(rows)).as("gxs"),
        hornGyUdf(col("padded"), lit(cols), lit(rows)).as("gys"),
        d8FlowDirUdf(col("padded"), lit(cols), lit(rows)).as("ds"))
      .select(col("tile_col"), col("tile_row"),
        posexplode(arrays_zip(col("gxs"), col("gys"), col("ds"))).as(Seq("pos", "g")))
      .select(col("tile_col"), col("tile_row"),
        (col("pos") % cols).as("px"), (col("pos") / cols).cast("int").as("py"),
        col("g.gxs").as("gx"), col("g.gys").as("gy"), col("g.ds").as("d8"))

  /** D8 flow ACCUMULATION over a flow-direction field: for every cell,
    * the number of cells (itself included) whose flow path drains
    * through it — the catchment-size raster hydrology builds on top of
    * [[flowDir]]. Input: (gx, gy, dir) in global pixel coords, dir as
    * emitted by the D8 kernel (0-7, -1 for pits); edges whose parent
    * fell outside the emitted region drain off-layer and are dropped.
    *
    * Algorithm: distributed leaf peeling — each round, cells with no
    * remaining upstream edge finalize (acc = 1 + delivered upstream
    * sums), deliver their total downstream, and their edges leave the
    * graph. Rounds = longest flow path, and since D8 descends STRICTLY
    * in value the graph is acyclic and termination is structural.
    * Same plan discipline as TextOps.connectedComponents:
    * Materialize.checkpointFresh every round (the two self-referencing
    * joins would otherwise double the analyzed plan per round, and a
    * raw localCheckpoint would let the inherited size estimate's
    * bit-length multiply per round — see the Materialize scaladoc)
    * with superseded checkpoint blocks freed explicitly. */
  def flowAccumulation(flow: DataFrame, maxIter: Int = 64): DataFrame = {
    import graft.ops.Materialize.{checkpointFresh, collectLongs}
    val spark = flow.sparkSession
    // r12 (guide §1.2/§2, the connectedComponents treatment extended):
    // the leaf-peeling loop ran ~5 serialized 1-2-task jobs per round x
    // rounds = longest flow path (Prof: 93 jobs at sf0.1) — pure
    // orchestration at raster sizes below the gate. Under
    // `spark.graft.iter.localEdgeLimit` the SAME round-based peeling
    // (identical maxIter bail semantics: a cell's acc on bail = 1 +
    // deliveries received so far) runs driver-side over primitive
    // arrays; above the gate the distributed loop is unchanged.
    val localLimit = spark.conf
      .get("spark.graft.iter.localEdgeLimit", (1L << 21).toString).toLong
    val coordsLong = Seq("gx", "gy").forall(c =>
      flow.schema(c).dataType == org.apache.spark.sql.types.LongType)
    // a null dir behaves exactly like a pit on both paths: the
    // distributed branch's `dir >= 0` predicate already rejects null,
    // and the coalesce keeps the primitive collect NPE-free
    val (flowCk, flowRdds) = checkpointFresh(
      flow.select(col("gx"), col("gy"),
        coalesce(col("dir").cast("long"), lit(-1L)).as("dir")))
    if (coordsLong && flowCk.count() <= localLimit) {
      val chunks = collectLongs(flowCk, 3)
      flowRdds.foreach(_.unpersist(blocking = false))
      val n = chunks.iterator.map(_.length / 3).sum
      val gxA = new Array[Long](n); val gyA = new Array[Long](n)
      val dirA = new Array[Int](n)
      val idx = new scala.collection.mutable.HashMap[(Long, Long), Int]()
      var i = 0
      chunks.foreach { arr =>
        var r = 0
        while (r < arr.length) {
          gxA(i) = arr(r); gyA(i) = arr(r + 1); dirA(i) = arr(r + 2).toInt
          idx((gxA(i), gyA(i))) = i
          i += 1; r += 3
        }
      }
      // parent edge per cell (D8: at most one), only if the parent cell
      // is in the emitted region (the distributed left_semi)
      val parentA = Array.fill(n)(-1)
      val pending = new Array[Int](n) // children not yet delivered
      i = 0
      while (i < n) {
        val d = dirA(i)
        if (d >= 0) {
          val px = gxA(i) + (if (d == 0 || d == 1 || d == 7) 1L else if (d >= 3 && d <= 5) -1L else 0L)
          val py = gyA(i) + (if (d >= 1 && d <= 3) 1L else if (d >= 5 && d <= 7) -1L else 0L)
          idx.get((px, py)).foreach { p => parentA(i) = p; pending(p) += 1 }
        }
        i += 1
      }
      // round-based peeling, wave k == the distributed loop's round k:
      // a frontier cell finalizes (done) and delivers its acc to its
      // parent; a parent whose LAST child just delivered joins the next
      // wave. On a maxIter bail, undone cells keep acc = 1 + deliveries
      // received so far — exactly the distributed partial-union output.
      val acc = Array.fill(n)(1L)
      val done = new Array[Boolean](n)
      var frontier = new scala.collection.mutable.ArrayBuffer[Int]()
      i = 0
      while (i < n) { if (pending(i) == 0) frontier += i; i += 1 }
      var it = 0
      while (frontier.nonEmpty && it < maxIter) {
        val next = new scala.collection.mutable.ArrayBuffer[Int]()
        frontier.foreach { c =>
          done(c) = true
          val p = parentA(c)
          if (p >= 0) {
            acc(p) += acc(c)
            pending(p) -= 1
            if (pending(p) == 0) next += p
          }
        }
        frontier = next
        it += 1
      }
      i = 0
      var undelivered = 0
      while (i < n) { if (!done(i) && parentA(i) >= 0) undelivered += 1; i += 1 }
      if (undelivered > 0)
        org.slf4j.LoggerFactory.getLogger("graft.ops.Raster").warn(
          s"flowAccumulation exited at maxIter=$maxIter with $undelivered edges undelivered — " +
            "accumulations downstream of them are partial; raise maxIter")
      val out = new Array[org.apache.spark.sql.Row](n)
      i = 0
      while (i < n) { out(i) = org.apache.spark.sql.Row(gxA(i), gyA(i), acc(i)); i += 1 }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("gx",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("gy",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("acc",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark.createDataFrame(spark.sparkContext.parallelize(
        out.toIndexedSeq, math.max(1, math.min(spark.sparkContext.defaultParallelism,
          n / 65536 + 1))), schema)
    }
    val dx = when(col("dir").isin(0, 1, 7), 1).when(col("dir").isin(3, 4, 5), -1).otherwise(0)
    val dy = when(col("dir").isin(1, 2, 3), 1).when(col("dir").isin(5, 6, 7), -1).otherwise(0)
    val nodes = flowCk.select(col("gx"), col("gy"))
    val edges = flowCk.where(col("dir") >= 0)
      .select(col("gx").as("cgx"), col("gy").as("cgy"),
        (col("gx") + dx).as("pgx"), (col("gy") + dy).as("pgy"))
      .join(nodes.select(col("gx").as("pgx"), col("gy").as("pgy")), Seq("pgx", "pgy"), "left_semi")
    var (partial, partialRdds) = checkpointFresh(nodes.withColumn("acc", lit(1L)))
    var (rem, remRdds) = checkpointFresh(edges)
    // partial/rem supersede the input checkpoint — free it (r12 review)
    flowRdds.foreach(_.unpersist(blocking = false))
    var prevRdds = partialRdds ++ remRdds
    var finals = List.empty[DataFrame]
    var remCount = rem.count()
    var it = 0
    while (remCount > 0 && it < maxIter) {
      val hasIncoming = rem.select(col("pgx").as("gx"), col("pgy").as("gy")).distinct()
      val (frontier, _) = checkpointFresh(
        partial.join(hasIncoming, Seq("gx", "gy"), "left_anti"))
      finals ::= frontier
      val delivered = frontier
        .join(rem, frontier("gx") === rem("cgx") && frontier("gy") === rem("cgy"))
        .groupBy(col("pgx").as("gx"), col("pgy").as("gy"))
        .agg(sum(col("acc")).as("delta"))
      val (np, npRdds) = checkpointFresh(partial.join(hasIncoming, Seq("gx", "gy"), "left_semi")
        .join(delivered, Seq("gx", "gy"), "left")
        .select(col("gx"), col("gy"), (col("acc") + coalesce(col("delta"), lit(0L))).as("acc")))
      partial = np
      val (nr, nrRdds) = checkpointFresh(
        rem.join(frontier.select(col("gx").as("cgx"), col("gy").as("cgy")),
          Seq("cgx", "cgy"), "left_anti"))
      rem = nr
      remCount = rem.count()
      // free ONLY the superseded partial/rem blocks; every frontier
      // stays alive — it is part of the final result union
      prevRdds.foreach(_.unpersist(blocking = false))
      prevRdds = npRdds ++ nrRdds
      it += 1
    }
    if (remCount > 0)
      org.slf4j.LoggerFactory.getLogger("graft.ops.Raster").warn(
        s"flowAccumulation exited at maxIter=$maxIter with $remCount edges undelivered — " +
          "accumulations downstream of them are partial; raise maxIter")
    finals ::= partial // empty on clean exit; partial sums under maxIter bail
    finals.reduce(_ unionByName _)
  }

  /** Watershed BASIN labeling over a D8 flow field: every cell is
    * labeled with the terminal cell (pit, flat, or edge-draining cell)
    * its flow path reaches — drainage-basin delineation, the
    * partitioning hydrology runs after [[flowDir]]. Input/edge
    * conventions are identical to [[flowAccumulation]] (cells draining
    * off the emitted region are their own roots).
    *
    * Algorithm: POINTER DOUBLING on the drainage forest — parent(cell)
    * = downstream neighbor (self for roots), then `rounds` squarings
    * p := p∘p, so path length 2^rounds is covered in `rounds`
    * self-joins (the a_hierarchy shape; contrast leaf peeling, whose
    * round count is the LONGEST PATH — doubling is the right tool here
    * because basin labels need only the root, not per-step sums).
    * D8 descends strictly, so the forest is acyclic and the fixed
    * point is stable. Plan discipline: checkpointFresh per round. */
  def basinLabel(flow: DataFrame, rounds: Int = 6): DataFrame = {
    import graft.ops.Materialize.{checkpointFresh, collectLongs}
    val spark = flow.sparkSession
    // r12 scale-adaptive local path (same gate family as
    // flowAccumulation): after k doubling rounds the distributed
    // pointer table holds each cell's ancestor at exactly min(2^k,
    // distance-to-root) steps — the local path walks each cell's
    // parent chain for at most 2^rounds steps, stopping at the root,
    // which is the identical function of the input.
    val localLimit = spark.conf
      .get("spark.graft.iter.localEdgeLimit", (1L << 21).toString).toLong
    val coordsLong = Seq("gx", "gy").forall(c =>
      flow.schema(c).dataType == org.apache.spark.sql.types.LongType)
    // a null dir behaves exactly like a pit on both paths: the
    // distributed branch's `dir >= 0` predicate already rejects null,
    // and the coalesce keeps the primitive collect NPE-free
    val (flowCk, flowRdds) = checkpointFresh(
      flow.select(col("gx"), col("gy"),
        coalesce(col("dir").cast("long"), lit(-1L)).as("dir")))
    if (coordsLong && flowCk.count() <= localLimit) {
      val chunks = collectLongs(flowCk, 3)
      flowRdds.foreach(_.unpersist(blocking = false))
      val n = chunks.iterator.map(_.length / 3).sum
      val gxA = new Array[Long](n); val gyA = new Array[Long](n)
      val dirA = new Array[Int](n)
      val idx = new scala.collection.mutable.HashMap[(Long, Long), Int]()
      var i = 0
      chunks.foreach { arr =>
        var r = 0
        while (r < arr.length) {
          gxA(i) = arr(r); gyA(i) = arr(r + 1); dirA(i) = arr(r + 2).toInt
          idx((gxA(i), gyA(i))) = i
          i += 1; r += 3
        }
      }
      val parentA = Array.tabulate(n) { c =>
        val d = dirA(c)
        if (d < 0) c
        else {
          val px = gxA(c) + (if (d == 0 || d == 1 || d == 7) 1L else if (d >= 3 && d <= 5) -1L else 0L)
          val py = gyA(c) + (if (d >= 1 && d <= 3) 1L else if (d >= 5 && d <= 7) -1L else 0L)
          idx.getOrElse((px, py), c) // off-layer parent: own root
        }
      }
      val maxSteps = 1L << rounds
      val out = new Array[org.apache.spark.sql.Row](n)
      i = 0
      while (i < n) {
        var c = i
        var s = 0L
        while (s < maxSteps && parentA(c) != c) { c = parentA(c); s += 1 }
        out(i) = org.apache.spark.sql.Row(gxA(i), gyA(i), gxA(c), gyA(c))
        i += 1
      }
      val lt = org.apache.spark.sql.types.LongType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("gx", lt, nullable = true),
        org.apache.spark.sql.types.StructField("gy", lt, nullable = true),
        org.apache.spark.sql.types.StructField("bx", lt, nullable = true),
        org.apache.spark.sql.types.StructField("by", lt, nullable = true)))
      return spark.createDataFrame(spark.sparkContext.parallelize(
        out.toIndexedSeq, math.max(1, math.min(spark.sparkContext.defaultParallelism,
          n / 65536 + 1))), schema)
    }
    val dx = when(col("dir").isin(0, 1, 7), 1).when(col("dir").isin(3, 4, 5), -1).otherwise(0)
    val dy = when(col("dir").isin(1, 2, 3), 1).when(col("dir").isin(5, 6, 7), -1).otherwise(0)
    val nodes = flowCk.select(col("gx"), col("gy"))
    val parent = flowCk.where(col("dir") >= 0)
      .select(col("gx"), col("gy"), (col("gx") + dx).as("px"), (col("gy") + dy).as("py"))
      .join(nodes.select(col("gx").as("px"), col("gy").as("py")), Seq("px", "py"), "left_semi")
    var (p, prevRdds) = checkpointFresh(
      nodes.join(parent, Seq("gx", "gy"), "left")
        .select(col("gx"), col("gy"),
          coalesce(col("px"), col("gx")).as("px"),
          coalesce(col("py"), col("gy")).as("py")))
    flowRdds.foreach(_.unpersist(blocking = false)) // p supersedes the input
    for (_ <- 1 to rounds) {
      val (np, npRdds) = checkpointFresh(
        p.join(
          p.select(col("gx").as("px"), col("gy").as("py"),
            col("px").as("ppx"), col("py").as("ppy")),
          Seq("px", "py"))
          .select(col("gx"), col("gy"), col("ppx").as("px"), col("ppy").as("py")))
      prevRdds.foreach(_.unpersist(blocking = false))
      prevRdds = npRdds
      p = np
    }
    p.select(col("gx"), col("gy"), col("px").as("bx"), col("py").as("by"))
  }

  case class FocalSC(wsum: Double, wn: Double)

  private val idwFillUdf = udf((padded: Array[Double], cols: Int, rows: Int) => {
    val (v, n) = TileMath.idwFill(padded, cols, rows, pad = 2)
    (0 until cols * rows).map(i => FocalSC(v(i), n(i)))
  })

  /** Integer-exact IDW gap fill ([[TileMath.idwFill]]) via a pad=2 halo
    * exchange: one row per NoData cell that has a data neighbor in its
    * 5×5 window — (tile_col, tile_row, px, py, v, n_src). The classic
    * hole-filling interpolation, riding the same halo machinery as the
    * focal family (wire cost ~1.25× at pad=2). */
  def idwFill(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 2)
      .select(col("tile_col"), col("tile_row"),
        posexplode(idwFillUdf(col("padded"), lit(cols), lit(rows))).as(Seq("i", "sc")))
      .where(!isnan(col("sc.wsum")))
      .select(col("tile_col"), col("tile_row"),
        (col("i") % cols).cast("int").as("px"),
        (col("i") / cols).cast("int").as("py"),
        col("sc.wsum").as("v"), col("sc.wn").cast("int").as("n_src"))

  private val focalSumCountUdf = udf((padded: Array[Double], cols: Int, rows: Int, pad: Int, r: Int) => {
    val (s, c) = TileMath.focalSumCount(padded, cols, rows, pad, r)
    (0 until cols * rows).map(i => FocalSC(s(i), c(i)))
  })

  /** Weighted focal sum + neighbor count, circular kernel (the Getis-Ord
    * numerator, SpatialGetisOrd.scala:69-79), via halo exchange. Returns
    * one row per cell with >= 1 data neighbor:
    * (tile_col, tile_row, px, py, wsum, wn). */
  def focalSumCount(tiles: DataFrame, cols: Int, rows: Int, radius: Int): DataFrame =
    withHalo(tiles, cols, rows, radius)
      .select(col("tile_col"), col("tile_row"),
        posexplode(focalSumCountUdf(col("padded"), lit(cols), lit(rows), lit(radius), lit(radius))).as(Seq("i", "sc")))
      .where(col("sc.wn") > 0d)
      .select(col("tile_col"), col("tile_row"),
        (col("i") % cols).cast("int").as("px"),
        (col("i") / cols).cast("int").as("py"),
        col("sc.wsum").as("wsum"), col("sc.wn").as("wn"))

  private val rookMomentsUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.rookMoments(padded, cols, rows, pad = 1))

  /** Per-tile rook-adjacency pair moments (Σ xi·xj, Σ xi, ordered-pair
    * count) off the standard pad=1 halo exchange — the distributed leg
    * of global Moran's I: each tile reduces its own pairs to three
    * longs, so the driver-side combine is O(tiles), never O(pairs). */
  def rookPairStats(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        rookMomentsUdf(col("padded"), lit(cols), lit(rows)).as("m"))
      .select(col("tile_col"), col("tile_row"),
        element_at(col("m"), 1).as("pxy"),
        element_at(col("m"), 2).as("xw"),
        element_at(col("m"), 3).as("w"))

  private val tpiUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.terrainIndex(padded, cols, rows, 1, 0))
  private val triUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.terrainIndex(padded, cols, rows, 1, 1))
  private val lapUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.terrainIndex(padded, cols, rows, 1, 2))

  /** Fused local-relief indices — TPI, TRI and the 4-neighbor Laplacian
    * (TileMath.terrainIndex) off ONE pad=1 halo exchange, same fusion
    * argument as [[terrainComponents]]: at DEM scale the halo shuffle
    * dominates, so the three indices cost one exchange. Per-pixel
    * output (tile_col, tile_row, px, py, tpi, tri, lap), NoData cells
    * dropped. */
  def terrainIndices(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        tpiUdf(col("padded"), lit(cols), lit(rows)).as("tpis"),
        triUdf(col("padded"), lit(cols), lit(rows)).as("tris"),
        lapUdf(col("padded"), lit(cols), lit(rows)).as("laps"))
      .select(col("tile_col"), col("tile_row"),
        posexplode(arrays_zip(col("tpis"), col("tris"), col("laps"))).as(Seq("pos", "t")))
      .where(!isnan(col("t.tpis")))
      .select(col("tile_col"), col("tile_row"),
        (col("pos") % cols).as("px"), (col("pos") / cols).cast("int").as("py"),
        col("t.tpis").as("tpi"), col("t.tris").as("tri"), col("t.laps").as("lap"))

  private val focalModeUdf = udf((padded: Array[Double], cols: Int, rows: Int) =>
    TileMath.focalMode(padded, cols, rows, 1))

  /** Majority (focal-mode) filter over a CLASS raster — the standard
    * post-classification smoothing pass land-use maps run after the
    * per-pixel classifier (the reference's SVM emits exactly such a
    * class raster, TestClassifierSVM.scala:61-69): each cell takes the
    * most frequent class in its 3x3 window, smallest class on ties
    * (TileMath.focalMode). One pad=1 halo exchange then the per-tile
    * kernel. */
  def majorityFilter(tiles: DataFrame, cols: Int, rows: Int): DataFrame =
    withHalo(tiles, cols, rows, pad = 1)
      .select(col("tile_col"), col("tile_row"),
        focalModeUdf(col("padded"), lit(cols), lit(rows)).as("cells"))

  private val downsampleUdf = udf((cells: Array[Double], cols: Int, rows: Int) =>
    TileMath.downsample2(cells, cols, rows))

  /** One pyramid level up (R6/A9, GeotiffToPyramid.scala:58-69): each
    * tile downsamples 2x locally, then 4 quadrants assemble into the
    * parent tile — map-side work + one small shuffle per level. */
  def pyramidUp(tiles: DataFrame, cols: Int, rows: Int): DataFrame = {
    val qa = udaf(new TileAggregators.QuadAssemble(cols, rows),
      ExpressionEncoder[TileAggregators.QuadIn]())
    tiles
      .select(
        floor(col("tile_col") / 2).cast("int").as("tile_col"),
        floor(col("tile_row") / 2).cast("int").as("tile_row"),
        pmod(col("tile_col"), lit(2)).cast("int").as("qx"),
        pmod(col("tile_row"), lit(2)).cast("int").as("qy"),
        downsampleUdf(col("cells"), lit(cols), lit(rows)).as("half"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(qa(col("qx"), col("qy"), col("half")).as("cells"))
  }

  /** Zoom resample up (R7, LayerRDDZoomResampleMethods.scala:28-85 +
    * ZoomResampleTEST.scala:65-152): each tile explodes to its
    * 2^dz x 2^dz children, resampled with a selectable kernel
    * (NearestNeighbor / Bilinear / CubicConvolution — the reference
    * takes the resample method as a parameter).
    *
    * `targetBounds` (c0, r0, c1, r1), inclusive CHILD-zoom keys, is the
    * reference's target-GridBounds pruning: parents that contribute no
    * child in range are filtered BEFORE the explode (the floorDiv'd
    * parent range), and stray children of boundary parents are filtered
    * before any resampling work runs — both plain Catalyst WHEREs, so
    * the parent filter pushes down to the layer scan. */
  def zoomResampleUp(tiles: DataFrame, cols: Int, rows: Int, dz: Int,
                     kernel: graft.grid.Reproject.Kernel = graft.grid.Reproject.NearestNeighbor,
                     targetBounds: Option[(Int, Int, Int, Int)] = None): DataFrame = {
    import graft.grid.Reproject.{NearestNeighbor, CubicConvolution}
    val f = 1 << dz
    val cubic = kernel == CubicConvolution
    val nn = kernel == NearestNeighbor
    val upUdf = udf((cells: Array[Double], cols: Int, rows: Int, cx: Int, cy: Int, dz: Int) =>
      if (nn) TileMath.upsampleChildNN(cells, cols, rows, cx, cy, dz)
      else TileMath.upsampleChildInterp(cells, cols, rows, cx, cy, dz, cubic))
    val offsets = array((for (cy <- 0 until f; cx <- 0 until f)
      yield struct(lit(cx).as("cx"), lit(cy).as("cy"))): _*)
    val parents = targetBounds.fold(tiles) { case (c0, r0, c1, r1) =>
      tiles.where(
        col("tile_col") >= Math.floorDiv(c0, f) && col("tile_col") <= Math.floorDiv(c1, f) &&
          col("tile_row") >= Math.floorDiv(r0, f) && col("tile_row") <= Math.floorDiv(r1, f))
    }
    val children = parents
      .select(col("tile_col"), col("tile_row"), col("cells"), explode(offsets).as("o"))
      .select(
        (col("tile_col") * f + col("o.cx")).as("tile_col"),
        (col("tile_row") * f + col("o.cy")).as("tile_row"),
        col("cells"), col("o.cx").as("cx"), col("o.cy").as("cy"))
    val pruned = targetBounds.fold(children) { case (c0, r0, c1, r1) =>
      children.where(
        col("tile_col") >= c0 && col("tile_col") <= c1 &&
          col("tile_row") >= r0 && col("tile_row") <= r1)
    }
    pruned.select(col("tile_col"), col("tile_row"),
      upUdf(col("cells"), lit(cols), lit(rows), col("cx"), col("cy"), lit(dz)).as("cells"))
  }

  /** Rasterize rectangles (R5 restricted to axis-aligned boxes — the
    * general scanline burn shares this shape): features explode to the
    * tile keys they intersect, then RectBurn aggregates with map-side
    * combine like the reference's combineByKey
    * (RasterizeFeaturesRDD.scala:24-74).
    * features: (fid LONG, x0 LONG, y0 LONG, x1 LONG, y1 LONG, value DOUBLE),
    * half-open global pixel coords. */
  def rasterizeRects(features: DataFrame, cols: Int, rows: Int): DataFrame = {
    val rb = udaf(new TileAggregators.RectBurn(cols, rows),
      ExpressionEncoder[TileAggregators.RectIn]())
    features
      .withColumn("tc0", floor(col("x0") / cols).cast("int"))
      .withColumn("tc1", floor((col("x1") - 1) / cols).cast("int"))
      .withColumn("tr0", floor(col("y0") / rows).cast("int"))
      .withColumn("tr1", floor((col("y1") - 1) / rows).cast("int"))
      .where(col("x1") > col("x0") && col("y1") > col("y0"))
      .select(col("*"), explode(sequence(col("tc0"), col("tc1"))).as("tile_col"))
      .select(col("*"), explode(sequence(col("tr0"), col("tr1"))).as("tile_row"))
      .repartition(col("tile_col"), col("tile_row"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(rb(col("tile_col"), col("tile_row"), col("x0"), col("y0"),
        col("x1"), col("y1"), col("value"), col("fid")).as("cells"))
  }

  /** Band stack (J3/J4/R11, ManyLayersToMultibandLayer.scala:193-260):
    * multiband = a `band` column (SURVEY §1.2: uniform row size, band
    * selection becomes projection/partition pruning). Stacking N layers
    * is a union, not a join — no shuffle at all until a consumer needs
    * co-located bands. */
  def stackBands(layers: Seq[DataFrame]): DataFrame =
    layers.zipWithIndex.map { case (df, b) =>
      df.select(lit(b).as("band"), col("tile_col"), col("tile_row"), col("cells"))
    }.reduce(_ unionByName _)

  /** P3: band selection is a plain filter+projection (the reference
    * reads all bands then selects in a map, api/package.scala:210-216 —
    * Catalyst instead pushes this to the scan). */
  def selectBand(multiband: DataFrame, band: Int): DataFrame =
    multiband.where(col("band") === band).drop("band")

  /** Multiband as ONE nested-array column per tile —
    * `bands ARRAY<ARRAY<DOUBLE>>` indexed by band, the columnar analog
    * of a GeoTrellis MultibandTile (ManyLayersToMultibandLayer.scala:
    * 244-260). Zipping the band-row representation costs one tile-keyed
    * shuffle; every band-algebra consumer after that (NDVI, QA masking,
    * per-pixel features) is a single column expression over co-located
    * arrays — no join, no pivot, no per-pixel rows on any wire. For
    * wide stacks this replaces N-1 joins (or an N-way pivot) with one
    * aggregation. Bands absent for a tile are null slots. */
  def zipBands(multiband: DataFrame, nBands: Int): DataFrame =
    multiband
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(map_from_entries(collect_list(struct(col("band").cast("int"), col("cells")))).as("bm"))
      .select(col("tile_col"), col("tile_row"),
        transform(sequence(lit(0), lit(nBands - 1)), b => col("bm")(b)).as("bands"))

  /** Inverse of [[zipBands]]: back to band-row form, dropping the null
    * slots of absent bands. */
  def unzipBands(stacked: DataFrame): DataFrame =
    stacked
      .select(col("tile_col"), col("tile_row"),
        posexplode(col("bands")).as(Seq("band", "cells")))
      .where(col("cells").isNotNull)

  /** NDVI straight off the multiband column: same cell algebra as the
    * two-layer join path, zero joins. */
  def ndviFromBands(bands: Column, nir: Int, red: Int): Column =
    ndviCells(bands(nir), bands(red))

  /** The ONE pixel-feature assembly core (the pivot contract: missing
    * band => None slot, all-NoData pixels dropped) — shared by both the
    * band-row and zipped representations so the policy cannot diverge. */
  private def assembleFeatures(byBand: IndexedSeq[Array[Double]],
                               cols: Int): Seq[(Int, Int, Seq[Option[Double]])] = {
    val nBands = byBand.length
    val n = byBand.iterator.filter(_ != null).map(_.length).nextOption().getOrElse(0)
    (0 until n).flatMap { i =>
      var any = false
      val feats = (0 until nBands).map { b =>
        val arr = byBand(b)
        val v = if (arr == null || i >= arr.length) Double.NaN else arr(i)
        if (java.lang.Double.isNaN(v)) None else { any = true; Some(v) }
      }
      if (any) Some((i % cols, i / cols, feats)) else None
    }
  }

  private def featFromBandsKernel =
    udf((bands: Seq[Array[Double]], cols: Int) => assembleFeatures(bands.toIndexedSeq, cols))

  /** [[pixelFeatures]] off an already-zipped multiband layer: when the
    * stack is STORED zipped (one catalog write of the bands column),
    * feature assembly is a pure map-side explode — zero shuffles, vs
    * one tile-keyed shuffle per materialization for the band-row form.
    * Same output contract as [[pixelFeatures]] (missing band => None
    * slot, all-NoData pixels dropped). */
  def pixelFeaturesFromBands(zipped: DataFrame, cols: Int): DataFrame =
    zipped
      .select(col("tile_col"), col("tile_row"),
        explode(featFromBandsKernel(col("bands"), lit(cols))).as("pf"))
      .select(col("tile_col"), col("tile_row"),
        col("pf._1").as("px"), col("pf._2").as("py"), col("pf._3").as("features"))

  /** Per-tile feature-zip kernel: band arrays in, one (px, py, features)
    * row per cell with >= 1 data band out; missing bands are null (the
    * pivot contract). */
  private def featKernel(nBands: Int) =
    udf((bands: Seq[(Int, Array[Double])], cols: Int) => {
      val byBand = new Array[Array[Double]](nBands)
      bands.foreach { case (b, cells) => if (b >= 0 && b < nBands) byBand(b) = cells }
      assembleFeatures(scala.collection.immutable.ArraySeq.unsafeWrapArray(byBand), cols)
    })

  /** Per-pixel feature assembly from a band stack (the SVM feature shape
    * P9/UtilsML.scala:17-36): one shuffle of TILE rows (N band arrays per
    * key), then a per-tile zip kernel explodes pixel features. The
    * obvious pivot formulation explodes pixels BEFORE its shuffle — one
    * ~30-byte row per pixel per band on the wire vs ~8 bytes per cell
    * here, plus per-pixel-group aggregation machinery. */
  def pixelFeatures(multiband: DataFrame, cols: Int, nBands: Int): DataFrame =
    multiband
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(collect_list(struct(col("band").cast("int"), col("cells"))).as("bands"))
      .select(col("tile_col"), col("tile_row"),
        explode(featKernel(nBands)(col("bands"), lit(cols))).as("pf"))
      .select(col("tile_col"), col("tile_row"),
        col("pf._1").as("px"), col("pf._2").as("py"), col("pf._3").as("features"))

  /** Rasterize polygons (R5 general form): explode each feature to the
    * tile keys its bbox intersects, then scanline-burn per tile with the
    * PolyBurn aggregator (map-side combine preserved).
    * features: (fid LONG, xs ARRAY<DOUBLE>, ys ARRAY<DOUBLE>,
    *            ring_offsets ARRAY<INT>, value DOUBLE) in global pixel
    * coordinates. */
  def rasterizePolygons(features: DataFrame, cols: Int, rows: Int): DataFrame = {
    val pb = udaf(new PolyBurnAggregator.PolyBurn(cols, rows),
      ExpressionEncoder[PolyBurnAggregator.PolyIn]())
    features
      .withColumn("tc0", floor(array_min(col("xs")) / cols).cast("int"))
      .withColumn("tc1", floor(array_max(col("xs")) / cols).cast("int"))
      .withColumn("tr0", floor(array_min(col("ys")) / rows).cast("int"))
      .withColumn("tr1", floor(array_max(col("ys")) / rows).cast("int"))
      .select(col("*"), explode(sequence(col("tc0"), col("tc1"))).as("tile_col"))
      .select(col("*"), explode(sequence(col("tr0"), col("tr1"))).as("tile_row"))
      .repartition(col("tile_col"), col("tile_row"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(pb(col("tile_col"), col("tile_row"), col("xs"), col("ys"),
        col("ring_offsets"), col("value"), col("fid")).as("cells"))
  }

  /** Global-pixel view: adds gx, gy columns (col*cols + px). */
  def globalCoords(pixels: DataFrame, cols: Int, rows: Int): DataFrame =
    pixels
      .withColumn("gx", col("tile_col") * cols + col("px"))
      .withColumn("gy", col("tile_row") * rows + col("py"))
}

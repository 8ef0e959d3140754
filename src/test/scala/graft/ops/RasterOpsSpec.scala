package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark
import graft.core.TileMath

/** Golden-fixture tests of the DataFrame-level tile machinery (SURVEY
  * §5: tiny deterministic rasters, hand-computable). */
class RasterOpsSpec extends AnyFunSuite {
  import spark.implicits._
  val TS = 4

  /** 2x2 tile grid of 4x4 tiles; value = 100*tc + 10*tr + (px + py). */
  def pixels = (for {
    tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS
    if (px + py) % 3 != 0 // holes => NoData paths exercised
  } yield (tc, tr, px, py, (100.0 * tc + 10 * tr + px + py)))
    .toDF("tile_col", "tile_row", "px", "py", "v")

  test("assemble -> pixelize is the identity on data cells") {
    val back = Raster.pixelize(Raster.assemble(pixels, TS, TS), TS)
    val want = pixels.collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == want)
  }

  test("assemble places values row-major") {
    val t = Raster.assemble(pixels, TS, TS)
      .where($"tile_col" === 0 && $"tile_row" === 0)
      .select($"cells").as[Seq[Double]].head()
    assert(t(1 + 0 * TS) == 1.0) // (px=1, py=0) -> index 1
    assert(t(0 + 1 * TS) == 1.0)
    assert(t(0).isNaN) // hole: px+py divisible by 3
  }

  test("mergeLayers: incoming wins per cell, outer tiles kept") {
    val a = Raster.assemble(pixels, TS, TS)
    val b = Raster.assemble(
      Seq((0, 0, 1, 0, 999.0), (5, 5, 2, 2, 7.0)).toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    val m = Raster.pixelize(Raster.mergeLayers(a, b), TS).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    assert(m((0, 0, 1, 0)) == 999.0) // overwritten
    assert(m((0, 0, 2, 0)) == 2.0) // kept from existing
    assert(m((5, 5, 2, 2)) == 7.0) // tile only in incoming
  }

  test("withHalo pads neighbor margins correctly") {
    val tiles = Raster.assemble(pixels, TS, TS)
    val padded = Raster.withHalo(tiles, TS, TS, 1)
      .where($"tile_col" === 1 && $"tile_row" === 0)
      .select($"padded").as[Seq[Double]].head()
    val pc = TS + 2
    // left margin of tile (1,0) = rightmost column of tile (0,0):
    // (px=3, py=1) of tile (0,0) => value 4.0 at padded (0, 2)
    // ((px=3, py=0) is a hole: 3+0 divisible by 3)
    assert(padded(0 + 2 * pc) == 4.0)
    assert(padded(0 + 1 * pc).isNaN)
    // core cell (px=1,py=0) of tile (1,0) => 100+1 at padded (2,1)
    assert(padded(2 + 1 * pc) == 101.0)
    // top margin: tile (1,-1) doesn't exist => NaN
    assert(padded(1 + 0 * pc).isNaN)
  }

  test("pyramidUp groups 4 children into parent with 2x2 mean") {
    val tiles = Raster.assemble(pixels, TS, TS)
    val up = Raster.pixelize(Raster.pyramidUp(tiles, TS, TS), TS).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    // parent (0,0) cell (0,0) <- tile(0,0) cells (0..1,0..1): data at
    // (1,0)=1,(0,1)=1,(1,1)=2; (0,0) is a hole -> mean = 4/3
    assert(up((0, 0, 0, 0)) == 4.0 / 3)
    assert(up.keys.forall { case (tc, tr, _, _) => tc == 0 && tr == 0 })
  }

  test("zoomResampleUp NN: children replicate parent cells") {
    val tiles = Raster.assemble(pixels, TS, TS)
    val down = Raster.pixelize(Raster.zoomResampleUp(tiles, TS, TS, 1), TS)
    // child global (gx,gy) reads parent (gx/2, gy/2); parent (1,0)=1.0
    val m = Raster.globalCoords(down, TS, TS).collect()
      .map(r => (r.getAs[Int]("gx"), r.getAs[Int]("gy")) -> r.getAs[Double]("v")).toMap
    assert(m((2, 0)) == 1.0 && m((3, 0)) == 1.0 && m((2, 1)) == 1.0 && m((3, 1)) == 1.0)
    assert(!m.contains((0, 0))) // parent hole stays hole
  }

  test("zoomResampleUp: selectable kernel + target-bounds pruning before the resample") {
    val tiles = Raster.assemble(pixels, TS, TS)
    // bilinear kernel: constant tiles stay constant, and the child set
    // restricts to the target GridBounds (child keys, inclusive)
    val bounded = Raster.zoomResampleUp(tiles, TS, TS, 1,
      kernel = graft.grid.Reproject.Bilinear, targetBounds = Some((1, 0, 1, 1)))
    val keys = bounded.select($"tile_col", $"tile_row").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(keys.subsetOf(Set((1, 0), (1, 1))), s"bounds leak: $keys")
    // the parent-level prune is a plain Catalyst Filter on the parent
    // keys (pushable to a layer scan); assert it exists ahead of the UDF
    val plan = bounded.queryExecution.optimizedPlan.toString
    assert(plan.contains("Filter"), s"expected a pruning filter:\n$plan")
    // kernel actually interpolates: a linear-ramp parent produces
    // half-step child values under bilinear (NN would replicate)
    val ramp = Raster.assemble(
      (for (px <- 0 until TS; py <- 0 until TS)
        yield (0, 0, px, py, px.toDouble)).toDF("tile_col", "tile_row", "px", "py", "v"),
      TS, TS)
    val bl = Raster.pixelize(
      Raster.zoomResampleUp(ramp, TS, TS, 1, kernel = graft.grid.Reproject.Bilinear), TS)
      .where($"tile_col" === 0 && $"tile_row" === 0 && $"py" === 1)
      .orderBy($"px").select($"v").collect().map(_.getDouble(0))
    // centers 0.25,0.75,1.25,... -> renormalized edge then 0.25-steps
    assert(bl(1) == 0.25 && bl(2) == 0.75 && bl(3) == 1.25, bl.toSeq)
  }

  test("rasterizeRects burns last-wins by fid deterministically") {
    val feats = Seq(
      (1L, 0L, 0L, 4L, 4L, 10.0), // covers tile(0,0) fully
      (2L, 2L, 2L, 6L, 6L, 20.0)) // overlaps lower-right + 3 neighbors
      .toDF("fid", "x0", "y0", "x1", "y1", "value")
    val burned = Raster.pixelize(Raster.rasterizeRects(feats, TS, TS), TS)
    val m = Raster.globalCoords(burned, TS, TS).collect()
      .map(r => (r.getAs[Int]("gx"), r.getAs[Int]("gy")) -> r.getAs[Double]("v")).toMap
    assert(m((0, 0)) == 10.0)
    assert(m((2, 2)) == 20.0) // overlap: higher fid wins
    assert(m((5, 5)) == 20.0)
    assert(m.size == 16 + 16 - 4) // union of both rects
  }

  test("halo exchange ships margins, not 9x whole tiles") {
    val ts = 32
    val grid = 6
    val full = (for (tc <- 0 until grid; tr <- 0 until grid) yield (tc, tr))
      .toDF("tile_col", "tile_row")
      .withColumn("cells", expr(s"transform(sequence(0, ${ts * ts - 1}), i -> cast(i as double))"))
      .cache()
    full.count() // materialize so the measured job is only the halo exchange
    val layerBytes = grid.toLong * grid * ts * ts * 8
    var shuffleWrite = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Raster.withHalo(full, ts, ts, 2).count() == grid * grid)
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    full.unpersist()
    // margins at pad=2/ts=32 are ~1.26x the layer; whole-tile 9-way explode
    // (or partial-agg buffers on the wire) would be ~9x. Allow 3x for
    // serialization overhead and the broadcast-join side.
    assert(shuffleWrite < 3 * layerBytes,
      s"halo shuffled $shuffleWrite bytes for a $layerBytes-byte layer (>3x)")
  }

  test("pixelFeatures equals the pivot formulation, including band holes") {
    val a = Raster.assemble(pixels, TS, TS) // holes where (px+py)%3==0
    val b = Raster.assemble(pixels.where($"px" =!= 1), TS, TS) // extra holes
    val stacked = Raster.stackBands(Seq(a, b))
    val got = Raster.pixelFeatures(stacked, TS, 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getSeq[Any](4)).toMap
    // reference: the pixel-exploded pivot shape
    val px = stacked
      .select($"band", $"tile_col", $"tile_row", posexplode($"cells").as(Seq("i", "v")))
      .where(not(isnan($"v")))
    val want = px.groupBy($"tile_col", $"tile_row", $"i").pivot("band", 0 until 2)
      .agg(first($"v"))
      .select($"tile_col", $"tile_row",
        ($"i" % TS).cast("int").as("px"), ($"i" / TS).cast("int").as("py"),
        array($"0", $"1").as("features"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getSeq[Any](4)).toMap
    assert(got == want)
    // a cell present only in band 0 carries a null for band 1
    val hole = got.collect { case (_, f) if f(0) != null && f(1) == null => 1 }
    assert(hole.nonEmpty)
  }

  test("zipBands: round-trips band rows, computes NDVI without a join, holes become null slots") {
    val a = Raster.assemble(pixels, TS, TS)
    val b = Raster.assemble(pixels.withColumn("v", $"v" * 2 + 1), TS, TS)
    // drop one tile from band 1 -> that tile must get a null slot
    val stacked = Raster.stackBands(Seq(a, b.where(!($"tile_col" === 1 && $"tile_row" === 1))))
    val zipped = Raster.zipBands(stacked, 2).cache()
    // round-trip: unzip reproduces exactly the input band rows
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).map(java.lang.Double.doubleToLongBits).toList)
    val back = Raster.unzipBands(zipped)
      .select($"band", $"tile_col", $"tile_row", $"cells").collect().map(key).toSet
    val want = stacked.select($"band", $"tile_col", $"tile_row", $"cells")
      .collect().map(key).toSet
    assert(back == want)
    val holeSlot = zipped.where($"tile_col" === 1 && $"tile_row" === 1)
      .select(element_at($"bands", 2)).head()
    assert(holeSlot.isNullAt(0))
    // NDVI off the struct column equals the two-layer join path
    val structNdvi = Raster.pixelize(
      zipped.where(element_at($"bands", 2).isNotNull)
        .select($"tile_col", $"tile_row", Raster.ndviFromBands($"bands", 0, 1).as("cells")), TS)
    val joinNdvi = Raster.pixelize(
      a.withColumnRenamed("cells", "nir")
        .join(b.where(!($"tile_col" === 1 && $"tile_row" === 1))
          .withColumnRenamed("cells", "red"), Seq("tile_col", "tile_row"))
        .select($"tile_col", $"tile_row", Raster.ndviCells($"nir", $"red").as("cells")), TS)
    assert(structNdvi.collect().map(_.toSeq).toSet == joinNdvi.collect().map(_.toSeq).toSet)
    // and the struct path's physical plan has NO join operator
    val plan = structNdvi.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"struct-column NDVI must not join:\n$plan")
    zipped.unpersist(): Unit
  }

  test("pixelFeaturesFromBands: map-side features off a zipped (even persisted) stack match pixelFeatures") {
    val a = Raster.assemble(pixels, TS, TS)
    val b = Raster.assemble(pixels.withColumn("v", $"v" + 0.5), TS, TS)
    val stacked = Raster.stackBands(Seq(a, b))
    val zipped = Raster.zipBands(stacked, 2)
    // a zipped stack persists like any layer (bands instead of cells)
    val root = java.nio.file.Files.createTempDirectory("graft_mb").toString
    val store = new graft.catalog.LayerStore(spark, root)
    store.write(zipped, "mb", 3)
    val fromStore = Raster.pixelFeaturesFromBands(store.read("mb", 3), TS)
    val viaRows = Raster.pixelFeatures(stacked, TS, 2)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Option[Double]](4).toList)
    }.toSet
    assert(key(fromStore) == key(viaRows))
    // map-side: the persisted-zipped feature plan has no exchange at all
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"zipped features must be shuffle-free:\n$plan")
  }

  test("slope: exact 5.0 on a cross-tile linear ramp, plane edges NoData") {
    // full 2x2 tile grid of v = 3*gx + 4*gy: Horn is exact on linear
    // surfaces, so every interior cell (incl. cells whose window spans a
    // tile boundary via the halo) is exactly 5; plane-edge cells lack
    // neighbors and drop
    val ramp = (for {
      tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS
    } yield (tc, tr, px, py, 3.0 * (tc * TS + px) + 4.0 * (tr * TS + py)))
      .toDF("tile_col", "tile_row", "px", "py", "v")
    val got = Raster.pixelize(Raster.slope(Raster.assemble(ramp, TS, TS), TS, TS), TS)
      .collect()
      .map(r => (r.getInt(0) * TS + r.getInt(2), r.getInt(1) * TS + r.getInt(3)) -> r.getDouble(4))
      .toMap
    val n = 2 * TS // 8x8 plane -> 6x6 interior
    assert(got.size == (n - 2) * (n - 2))
    assert(got.values.forall(_ == 5.0))
    assert(got.contains((TS - 1, TS)) && got.contains((TS, TS - 1))) // windows across both tile seams
    assert(!got.contains((0, 3)) && !got.contains((n - 1, 4))) // plane edge dropped
  }

  test("hillshade: constant shade on a cross-tile linear ramp, matches the kernel formula") {
    val ramp = (for {
      tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS
    } yield (tc, tr, px, py, 3.0 * (tc * TS + px) + 4.0 * (tr * TS + py)))
      .toDF("tile_col", "tile_row", "px", "py", "v")
    val got = Raster.pixelize(Raster.hillshade(Raster.assemble(ramp, TS, TS), TS, TS), TS)
      .collect()
      .map(r => (r.getInt(0) * TS + r.getInt(2), r.getInt(1) * TS + r.getInt(3)) -> r.getDouble(4))
      .toMap
    val n = 2 * TS
    assert(got.size == (n - 2) * (n - 2)) // plane edges lack neighbors
    val want = (graft.core.TileMath.Sin45 + 0.5 * 3 + 0.5 * 4) / math.sqrt(1 + 9.0 + 16.0)
    assert(got.values.forall(_ == want))
    assert(got.contains((TS, TS))) // a window spanning both tile seams
  }

  test("flowAccumulation: chain, junction, pit and off-layer drain") {
    // chain (0..4,0) draining E into a pit at (4,0): accs 1,2,3,4,5
    // junction: (5,5)->E and (6,4)->S both into pit (6,5): acc 3
    // off-layer: (10,0) drains E to (11,0) which is absent: acc 1
    val field = Seq(
      (0L, 0L, 0), (1L, 0L, 0), (2L, 0L, 0), (3L, 0L, 0), (4L, 0L, -1),
      (5L, 5L, 0), (6L, 4L, 2), (6L, 5L, -1),
      (10L, 0L, 0))
      .toDF("gx", "gy", "dir")
    val got = graft.ops.Raster.flowAccumulation(field)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 9)
    assert(got((0L, 0L)) == 1 && got((1L, 0L)) == 2 && got((2L, 0L)) == 3)
    assert(got((3L, 0L)) == 4 && got((4L, 0L)) == 5)
    assert(got((5L, 5L)) == 1 && got((6L, 4L)) == 1 && got((6L, 5L)) == 3)
    assert(got((10L, 0L)) == 1)
  }

  test("basinLabel: chain, junction, pit and off-layer drain roots") {
    // same field as the flowAccumulation test: chain basin = pit (4,0),
    // junction basin = pit (6,5), off-layer drainer is its OWN root
    val field = Seq(
      (0L, 0L, 0), (1L, 0L, 0), (2L, 0L, 0), (3L, 0L, 0), (4L, 0L, -1),
      (5L, 5L, 0), (6L, 4L, 2), (6L, 5L, -1),
      (10L, 0L, 0))
      .toDF("gx", "gy", "dir")
    val got = graft.ops.Raster.basinLabel(field)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 9)
    for (x <- 0L to 4L) assert(got((x, 0L)) == ((4L, 0L)))
    assert(got((5L, 5L)) == ((6L, 5L)) && got((6L, 4L)) == ((6L, 5L)))
    assert(got((6L, 5L)) == ((6L, 5L)))
    assert(got((10L, 0L)) == ((10L, 0L))) // drains off-layer -> own root
  }

  test("basinLabel: pointer doubling covers a path longer than the round count") {
    // a 50-cell east-draining chain: rounds=6 covers 2^6=64 > 50
    val field = ((0L until 49L).map(x => (x, 0L, 0)) :+ (49L, 0L, -1)).toDF("gx", "gy", "dir")
    val got = graft.ops.Raster.basinLabel(field)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 50 && got.values.forall(_ == ((49L, 0L))))
  }

  test("focalMean radius1 equals TileMath kernel on assembled layer") {
    val tiles = Raster.assemble(pixels, TS, TS)
    val got = Raster.pixelize(Raster.focalMean(tiles, TS, TS, 1), TS).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    // cross at (1,1): center (1,1)=2, left (0,1)=1, up (1,0)=1;
    // right (2,1) and down (1,2) are holes (px+py divisible by 3)
    assert(got((0, 0, 1, 1)) == (2.0 + 1 + 1) / 3)
  }
}

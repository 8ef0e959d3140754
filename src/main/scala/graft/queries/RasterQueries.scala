package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Raster
import Fixtures._

/** Raster operator suite: every query runs the real tile machinery
  * (assemble → tile-level op → pixelize) and the oracle computes the
  * equivalent per-pixel result relationally in DuckDB. SURVEY §2 ids in
  * each entry.
  */
object RasterQueries {
  type Q = (SparkSession, String) => DataFrame

  /** A3 + P9: pixels → tiles → pixels must be the identity on data cells
    * (TilePixelingExample.scala:67-107). */
  val pixelizeRoundtrip: Q = (s, dir) =>
    Raster.pixelize(tilesA(s, dir), TS)

  val pixelizeRoundtripSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v FROM pxa""".stripMargin

  /** J1 + P1: NDVI = (a-b)/(a+b) over two joined band layers
    * (NDVILayerExample.scala:64-75). Inner-join semantics: output only
    * where both bands have tiles — and NaN-propagation drops cells where
    * either band is NoData. */
  val ndvi: Q = (s, dir) => {
    val joined = tilesA(s, dir).withColumnRenamed("cells", "nir")
      .join(tilesB(s, dir).withColumnRenamed("cells", "red"), Seq("tile_col", "tile_row"))
      .select(col("tile_col"), col("tile_row"), Raster.ndviCells(col("nir"), col("red")).as("cells"))
    Raster.pixelize(joined, TS)
  }

  val ndviSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py,
       |       (va - vb) / (va + vb) AS v
       |FROM pxk WHERE va + vb <> 0""".stripMargin

  /** P2: QA bitmask (NDVILayerWithCloudMaskExample.scala:54-60) — band A
    * masked where (cast(vb) & 3) != 0, then pixelized. */
  val cloudMask: Q = (s, dir) => {
    val joined = tilesA(s, dir).withColumnRenamed("cells", "v")
      .join(tilesB(s, dir).withColumnRenamed("cells", "qa"), Seq("tile_col", "tile_row"))
      .select(col("tile_col"), col("tile_row"), Raster.maskCells(col("v"), col("qa"), 3L).as("cells"))
    Raster.pixelize(joined, TS)
  }

  val cloudMaskSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, va AS v
       |FROM pxk WHERE (CAST(vb AS BIGINT) & 3) = 0""".stripMargin

  /** A1/A2: layer histogram statistics (rdd.histogram →
    * mean/stdev/totalCount, SpatialGetisOrd.scala:47-54) from exact
    * integral sums. */
  val histogramStats: Q = (s, dir) =>
    Raster.pixelize(tilesA(s, dir), TS).agg(
      count(lit(1)).as("n_cells"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"),
      (sum(col("v")) / count(lit(1))).as("mean_v"),
      sqrt(sum(col("v") * col("v")) / count(lit(1))
        - (sum(col("v")) / count(lit(1))) * (sum(col("v")) / count(lit(1)))).as("stddev_v"))

  val histogramStatsSql: String =
    s"""WITH $pxCte
       |SELECT COUNT(*) AS n_cells, MIN(v) AS min_v, MAX(v) AS max_v,
       |       SUM(v) / COUNT(*) AS mean_v,
       |       SQRT(SUM(v * v) / COUNT(*) - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*))) AS stddev_v
       |FROM pxa""".stripMargin

  /** A1: histogram bins + quantile-style breaks input: per-bin counts
    * (ServeLayerAsMap.scala:90-92 heat-map breaks read a binned
    * histogram). Bin = floor(v / 8). */
  val histogramBins: Q = (s, dir) =>
    Raster.pixelize(tilesA(s, dir), TS)
      .groupBy(floor(col("v") / 8).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  val histogramBinsSql: String =
    s"""WITH $pxCte
       |SELECT CAST(FLOOR(v / 8) AS BIGINT) AS bin, COUNT(*) AS n
       |FROM pxa GROUP BY 1""".stripMargin

  /** R8 + F1: halo exchange then focal mean, circular kernel radius 1
    * (ConvolveLayerExample.scala:62-73). Output exists for every cell of
    * every existing tile that has >= 1 data neighbor. */
  val focalMean: Q = (s, dir) =>
    Raster.pixelize(Raster.focalMean(tilesA(s, dir), TS, TS, radius = 1), TS)

  val focalMeanSql: String =
    s"""WITH $pxCte,
       |tiles AS (SELECT DISTINCT tile_col, tile_row FROM pxa),
       |cells AS (
       |  SELECT t.tile_col, t.tile_row, CAST(cx.x AS INT) AS px, CAST(cy.y AS INT) AS py,
       |         t.tile_col * $TS + cx.x AS gx, t.tile_row * $TS + cy.y AS gy
       |  FROM tiles t, range(0, $TS) cx(x), range(0, $TS) cy(y))
       |SELECT c.tile_col, c.tile_row, c.px, c.py, SUM(p.v) / COUNT(*) AS v
       |FROM cells c JOIN pga p
       |  ON (p.gx - c.gx) * (p.gx - c.gx) + (p.gy - c.gy) * (p.gy - c.gy) <= 1
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** F2: Getis-Ord G* hotspot (SpatialGetisOrd.scala:66-83): global
    * mean/stdev aggregated once and broadcast, then halo-based circular
    * focal sum with the reference's kernel (circle radius 7,
    * SpatialGetisOrd.scala:27), standardized per cell. */
  val getisOrd: Q = (s, dir) => {
    val tiles = tilesA(s, dir)
    val px = Raster.pixelize(tiles, TS)
    val stats = px.agg(
      (sum(col("v")) / count(lit(1))).as("mean_v"),
      sqrt(sum(col("v") * col("v")) / count(lit(1))
        - (sum(col("v")) / count(lit(1))) * (sum(col("v")) / count(lit(1)))).as("stddev_v"),
      count(lit(1)).cast("double").as("n_tot"))
    Raster.focalSumCount(tiles, TS, TS, radius = 7)
      .crossJoin(broadcast(stats))
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        ((col("wsum") - col("mean_v") * col("wn"))
          / (col("stddev_v") * sqrt((col("n_tot") * col("wn") - col("wn") * col("wn")) / (col("n_tot") - 1)))).as("gstar"))
  }

  val getisOrdSql: String =
    s"""WITH $pxCte,
       |stats AS (
       |  SELECT SUM(v) / COUNT(*) AS mean_v,
       |         SQRT(SUM(v * v) / COUNT(*) - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*))) AS stddev_v,
       |         CAST(COUNT(*) AS DOUBLE) AS n_tot
       |  FROM pxa),
       |tiles AS (SELECT DISTINCT tile_col, tile_row FROM pxa),
       |cells AS (
       |  SELECT t.tile_col * $TS + cx.x AS gx, t.tile_row * $TS + cy.y AS gy
       |  FROM tiles t, range(0, $TS) cx(x), range(0, $TS) cy(y)),
       |focal AS (
       |  SELECT c.gx, c.gy, SUM(p.v) AS wsum, CAST(COUNT(*) AS DOUBLE) AS wn
       |  FROM cells c JOIN pga p
       |    ON (p.gx - c.gx) * (p.gx - c.gx) + (p.gy - c.gy) * (p.gy - c.gy) <= 49
       |  GROUP BY 1, 2)
       |SELECT CAST(f.gx // $TS AS INT) AS tile_col, CAST(f.gy // $TS AS INT) AS tile_row,
       |       CAST(f.gx % $TS AS INT) AS px, CAST(f.gy % $TS AS INT) AS py,
       |       (f.wsum - s.mean_v * f.wn)
       |         / (s.stddev_v * SQRT((s.n_tot * f.wn - f.wn * f.wn) / (s.n_tot - 1))) AS gstar
       |FROM focal f CROSS JOIN stats s""".stripMargin

  /** F1 family, terrain member: Horn slope (gradient magnitude) via the
    * same halo exchange as focal mean, pad=1. Defined only where a cell
    * has all 8 data neighbors (a partial-window gradient is biased), so
    * the oracle keeps exactly the HAVING COUNT(*)=8 cells. Integral cell
    * values make every weighted sum IEEE-exact in both engines. */
  val slope: Q = (s, dir) =>
    Raster.pixelize(Raster.slope(tilesA(s, dir), TS, TS), TS)

  val slopeSql: String =
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         SUM((p.gx - c.gx) * (2 - ABS(p.gy - c.gy)) * p.v) / 8 AS sx,
       |         SUM((p.gy - c.gy) * (2 - ABS(p.gx - c.gx)) * p.v) / 8 AS sy,
       |         COUNT(*) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       SQRT(sx * sx + sy * sy) AS v
       |FROM nb WHERE n = 8""".stripMargin

  /** User-defined focal kernel ([[Raster.convolve]]): a deliberately
    * ASYMMETRIC integer 3x3 kernel (east weight 2, south weight 3), so
    * the hash match also pins kernel ORIENTATION — a transposed or
    * mirrored window would produce different rows. One kernel literal
    * feeds both the Spark expression and the generated CASE weights in
    * the oracle, so the two sides cannot drift. Integer weights over
    * integral cells keep the orderless SQL SUM bitwise equal to the
    * kernel's row-major fold. */
  private val convKernel: Array[Array[Double]] =
    Array(Array(0, 1, 0), Array(1, 4, 2), Array(0, 3, 0))

  val convolve: Q = (s, dir) =>
    Raster.pixelize(Raster.convolve(tilesA(s, dir), TS, TS, convKernel), TS)

  val convolveSql: String = {
    val cases = (for { r <- 0 until 3; c <- 0 until 3 } yield
      s"WHEN p.gx - c.gx = ${c - 1} AND p.gy - c.gy = ${r - 1} THEN ${convKernel(r)(c).toInt}")
      .mkString("\n       |                  ")
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         SUM((CASE $cases
       |                  ELSE 0 END) * p.v) AS wv,
       |         COUNT(*) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       CAST(wv AS DOUBLE) AS v
       |FROM nb WHERE n = 9""".stripMargin
  }

  /** Terrain family, rendering member: Lambertian hillshade. Light
    * vector (-0.5, -0.5, sin45°) — the 315°/45° choice makes both
    * horizontal components exactly ±0.5, so the shade expression is
    * literal + exact-halving + sqrt + divide, identically ordered in
    * both engines (TileMath.hornHillshade scaladoc). Same
    * all-8-neighbors rule as r_slope. */
  val hillshade: Q = (s, dir) =>
    Raster.pixelize(Raster.hillshade(tilesA(s, dir), TS, TS), TS)

  val hillshadeSql: String =
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         SUM((p.gx - c.gx) * (2 - ABS(p.gy - c.gy)) * p.v) / 8 AS sx,
       |         SUM((p.gy - c.gy) * (2 - ABS(p.gx - c.gx)) * p.v) / 8 AS sy,
       |         COUNT(*) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       GREATEST(0, (${graft.core.TileMath.Sin45} + 0.5 * sx + 0.5 * sy)
       |                     / SQRT(1 + sx * sx + sy * sy)) AS v
       |FROM nb WHERE n = 8""".stripMargin

  /** Terrain family, hydrology member: D8 flow direction. Codes 0-7
    * clockwise from E (pixel y down), -1 for pits/flats; ties take the
    * lowest code. Every drop is an exact integral difference times one
    * literal weight (1 or Sin45), so argmax and ties are bit-identical
    * in both engines. */
  val flowDir: Q = (s, dir) =>
    Raster.pixelize(Raster.flowDir(tilesA(s, dir), TS, TS), TS)

  /** Terrain family: aspect as the DOWNSLOPE UNIT VECTOR (ax, ay) =
    * (-gx/|g|, -gy/|g|) — the trig-free formulation (atan2 differs by
    * ulps across libms; the vector is sqrt+divide and hash-matches).
    * ONE halo exchange feeds both gradient kernels in a single
    * projection; flat cells drop (aspect undefined on flats — the
    * NoData contract GIS aspect rasters use). */
  val aspect: Q = (s, dir) => {
    val g = Raster.gradientComponents(tilesA(s, dir), TS, TS)
    val gmag = sqrt(col("gx") * col("gx") + col("gy") * col("gy"))
    g.where(!isnan(col("gx")) && !(col("gx") === 0.0 && col("gy") === 0.0))
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        (-col("gx") / gmag).as("ax"), (-col("gy") / gmag).as("ay"))
  }

  val aspectSql: String =
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         SUM((p.gx - c.gx) * (2 - ABS(p.gy - c.gy)) * p.v) / 8 AS sx,
       |         SUM((p.gy - c.gy) * (2 - ABS(p.gx - c.gx)) * p.v) / 8 AS sy,
       |         COUNT(*) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       -sx / SQRT(sx * sx + sy * sy) AS ax,
       |       -sy / SQRT(sx * sx + sy * sy) AS ay
       |FROM nb WHERE n = 8 AND NOT (sx = 0 AND sy = 0)""".stripMargin

  /** Terrain capstone — ALL single-pass terrain derivatives (slope,
    * hillshade, downslope aspect vector, D8 code) from ONE halo
    * exchange: at DEM scale the halo shuffle dominates, so the fused
    * query costs the same wire as any single member. Scalars derive
    * from the gradient with the same fixed-order formulas as their
    * standalone gates; the oracle recomposes all four relationally, so
    * the gate proves fusion == composition. Aspect is NULL on flats
    * (undefined), matching r_aspect's drop rule. */
  val terrain: Q = (s, dir) => {
    val g = Raster.terrainComponents(tilesA(s, dir), TS, TS)
    val gmag = sqrt(col("gx") * col("gx") + col("gy") * col("gy"))
    val flat = col("gx") === 0.0 && col("gy") === 0.0
    g.where(!isnan(col("gx")))
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        gmag.as("slope"),
        greatest(lit(0.0), (lit(graft.core.TileMath.Sin45) + lit(0.5) * col("gx") + lit(0.5) * col("gy"))
          / sqrt(lit(1.0) + col("gx") * col("gx") + col("gy") * col("gy"))).as("shade"),
        when(!flat, -col("gx") / gmag).as("ax"),
        when(!flat, -col("gy") / gmag).as("ay"),
        col("d8").cast("int").as("d8"))
  }

  val terrainSql: String =
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         p.gx - c.gx AS dx, p.gy - c.gy AS dy, p.v AS pv,
       |         (c.v - p.v) * (CASE WHEN p.gx = c.gx OR p.gy = c.gy
       |                             THEN 1.0 ELSE ${graft.core.TileMath.Sin45} END) AS dr,
       |         COUNT(*) OVER (PARTITION BY c.gx, c.gy) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)),
       |grad AS (
       |  SELECT gx, gy,
       |         SUM(dx * (2 - ABS(dy)) * pv) / 8 AS sx,
       |         SUM(dy * (2 - ABS(dx)) * pv) / 8 AS sy
       |  FROM nb WHERE n = 8 GROUP BY 1, 2),
       |dircode AS (
       |  SELECT gx, gy, dr,
       |         CASE WHEN dx = 1 AND dy = 0 THEN 0 WHEN dx = 1 AND dy = 1 THEN 1
       |              WHEN dx = 0 AND dy = 1 THEN 2 WHEN dx = -1 AND dy = 1 THEN 3
       |              WHEN dx = -1 AND dy = 0 THEN 4 WHEN dx = -1 AND dy = -1 THEN 5
       |              WHEN dx = 0 AND dy = -1 THEN 6 ELSE 7 END AS dir
       |  FROM nb WHERE n = 8),
       |best AS (
       |  SELECT gx, gy, dr, dir,
       |         ROW_NUMBER() OVER (PARTITION BY gx, gy ORDER BY dr DESC, dir) AS rn
       |  FROM dircode),
       |fdx AS (SELECT gx, gy, CASE WHEN dr > 0 THEN dir ELSE -1 END AS d8
       |        FROM best WHERE rn = 1)
       |SELECT CAST(g.gx // $TS AS INT) AS tile_col, CAST(g.gy // $TS AS INT) AS tile_row,
       |       CAST(g.gx % $TS AS INT) AS px, CAST(g.gy % $TS AS INT) AS py,
       |       SQRT(sx * sx + sy * sy) AS slope,
       |       GREATEST(0.0, (${graft.core.TileMath.Sin45} + 0.5 * sx + 0.5 * sy)
       |                       / SQRT(1.0 + sx * sx + sy * sy)) AS shade,
       |       CASE WHEN NOT (sx = 0 AND sy = 0)
       |            THEN -sx / SQRT(sx * sx + sy * sy) END AS ax,
       |       CASE WHEN NOT (sx = 0 AND sy = 0)
       |            THEN -sy / SQRT(sx * sx + sy * sy) END AS ay,
       |       CAST(f.d8 AS INT) AS d8
       |FROM grad g JOIN fdx f ON g.gx = f.gx AND g.gy = f.gy""".stripMargin

  /** CTE chain ending in `fd(gx, gy, dir)` — the D8 field in global
    * coords; shared by the r_flow_dir and r_flow_accum oracles. */
  private val flowDirCtes: String =
    s"""$pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy,
       |         p.gx - c.gx AS dx, p.gy - c.gy AS dy,
       |         (c.v - p.v) * (CASE WHEN p.gx = c.gx OR p.gy = c.gy
       |                             THEN 1.0 ELSE ${graft.core.TileMath.Sin45} END) AS dr,
       |         COUNT(*) OVER (PARTITION BY c.gx, c.gy) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)),
       |dircode AS (
       |  SELECT gx, gy, n, dr,
       |         CASE WHEN dx = 1 AND dy = 0 THEN 0 WHEN dx = 1 AND dy = 1 THEN 1
       |              WHEN dx = 0 AND dy = 1 THEN 2 WHEN dx = -1 AND dy = 1 THEN 3
       |              WHEN dx = -1 AND dy = 0 THEN 4 WHEN dx = -1 AND dy = -1 THEN 5
       |              WHEN dx = 0 AND dy = -1 THEN 6 ELSE 7 END AS dir
       |  FROM nb),
       |best AS (
       |  SELECT gx, gy, n, dr, dir,
       |         ROW_NUMBER() OVER (PARTITION BY gx, gy ORDER BY dr DESC, dir) AS rn
       |  FROM dircode),
       |fd AS (
       |  SELECT gx, gy, CASE WHEN dr > 0 THEN dir ELSE -1 END AS dir
       |  FROM best WHERE rn = 1 AND n = 8)""".stripMargin

  val flowDirSql: String =
    s"""WITH $flowDirCtes
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       CAST(dir AS DOUBLE) AS v
       |FROM fd""".stripMargin

  /** Flow accumulation (catchment size) on top of the D8 field: Spark
    * side runs the distributed leaf-peeling loop
    * (Raster.flowAccumulation — rounds = longest flow path, eager
    * per-round checkpoints); the oracle replays it as a recursive
    * path walk and counts visits per cell. Edges draining to cells
    * outside the emitted (interior) region leave the layer. */
  val flowAccum: Q = (s, dir) => {
    val fd = Raster.pixelize(Raster.flowDir(tilesA(s, dir), TS, TS), TS)
      .select((col("tile_col") * TS + col("px")).cast("long").as("gx"),
        (col("tile_row") * TS + col("py")).cast("long").as("gy"),
        col("v").cast("int").as("dir"))
    Raster.flowAccumulation(fd)
      .select(expr(s"gx div $TS").cast("int").as("tile_col"),
        expr(s"gy div $TS").cast("int").as("tile_row"),
        (col("gx") % TS).cast("int").as("px"),
        (col("gy") % TS).cast("int").as("py"),
        col("acc").cast("double").as("v"))
  }

  val flowAccumSql: String =
    s"""WITH RECURSIVE $flowDirCtes,
       |e0 AS (
       |  SELECT gx AS cgx, gy AS cgy,
       |         gx + (CASE WHEN dir IN (0, 1, 7) THEN 1 WHEN dir IN (3, 4, 5) THEN -1 ELSE 0 END) AS pgx,
       |         gy + (CASE WHEN dir IN (1, 2, 3) THEN 1 WHEN dir IN (5, 6, 7) THEN -1 ELSE 0 END) AS pgy
       |  FROM fd WHERE dir >= 0),
       |e AS (SELECT e0.* FROM e0 JOIN fd p ON e0.pgx = p.gx AND e0.pgy = p.gy),
       |walk(sgx, sgy, cx, cy) AS (
       |  SELECT cgx, cgy, pgx, pgy FROM e
       |  UNION ALL
       |  SELECT w.sgx, w.sgy, e.pgx, e.pgy FROM walk w JOIN e ON w.cx = e.cgx AND w.cy = e.cgy),
       |vis AS (SELECT cx, cy, COUNT(*) AS c FROM walk GROUP BY 1, 2)
       |SELECT CAST(f.gx // $TS AS INT) AS tile_col, CAST(f.gy // $TS AS INT) AS tile_row,
       |       CAST(f.gx % $TS AS INT) AS px, CAST(f.gy % $TS AS INT) AS py,
       |       CAST(1 + COALESCE(v.c, 0) AS DOUBLE) AS v
       |FROM fd f LEFT JOIN vis v ON f.gx = v.cx AND f.gy = v.cy""".stripMargin

  /** Hydrology capstone: watershed BASIN labeling — every cell labeled
    * with the terminal cell its D8 flow path drains to
    * (Raster.basinLabel — pointer doubling, ⌈log₂ path⌉ self-joins,
    * per-round checkpointFresh). The oracle walks each cell's path
    * with a recursive CTE and keeps the step that landed on a root, so
    * the hash-match proves the doubled pointers reach EXACTLY the
    * recursive closure's terminals. */
  val basinLabel: Q = (s, dir) => {
    val fd = Raster.pixelize(Raster.flowDir(tilesA(s, dir), TS, TS), TS)
      .select((col("tile_col") * TS + col("px")).cast("long").as("gx"),
        (col("tile_row") * TS + col("py")).cast("long").as("gy"),
        col("v").cast("int").as("dir"))
    Raster.basinLabel(fd)
      .select(expr(s"gx div $TS").cast("int").as("tile_col"),
        expr(s"gy div $TS").cast("int").as("tile_row"),
        (col("gx") % TS).cast("int").as("px"),
        (col("gy") % TS).cast("int").as("py"),
        col("bx").cast("int").as("basin_gx"),
        col("by").cast("int").as("basin_gy"))
  }

  val basinLabelSql: String =
    s"""WITH RECURSIVE $flowDirCtes,
       |e0 AS (
       |  SELECT gx AS cgx, gy AS cgy,
       |         gx + (CASE WHEN dir IN (0, 1, 7) THEN 1 WHEN dir IN (3, 4, 5) THEN -1 ELSE 0 END) AS pgx,
       |         gy + (CASE WHEN dir IN (1, 2, 3) THEN 1 WHEN dir IN (5, 6, 7) THEN -1 ELSE 0 END) AS pgy
       |  FROM fd WHERE dir >= 0),
       |e AS (SELECT e0.* FROM e0 JOIN fd p ON e0.pgx = p.gx AND e0.pgy = p.gy),
       |walk(sgx, sgy, cx, cy) AS (
       |  SELECT gx, gy, gx, gy FROM fd
       |  UNION ALL
       |  SELECT w.sgx, w.sgy, e.pgx, e.pgy FROM walk w JOIN e ON w.cx = e.cgx AND w.cy = e.cgy),
       |roots AS (
       |  SELECT f.gx, f.gy FROM fd f
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.cgx = f.gx AND e.cgy = f.gy)),
       |b AS (
       |  SELECT w.sgx, w.sgy, w.cx, w.cy FROM walk w
       |  JOIN roots r ON w.cx = r.gx AND w.cy = r.gy)
       |SELECT CAST(sgx // $TS AS INT) AS tile_col, CAST(sgy // $TS AS INT) AS tile_row,
       |       CAST(sgx % $TS AS INT) AS px, CAST(sgy % $TS AS INT) AS py,
       |       CAST(cx AS INT) AS basin_gx, CAST(cy AS INT) AS basin_gy
       |FROM b""".stripMargin

  /** GLCM texture features (Haralick 1973) — per-tile gray-level
    * co-occurrence CONTRAST and ENERGY over horizontal neighbor pairs,
    * the classic remote-sensing texture inputs to a land-use
    * classifier (the reference's SVM consumes per-pixel features;
    * texture is the standard per-tile companion). Values quantize to 8
    * levels (integral fixture values, so the cast is exact in both
    * engines), neighbor pairs come from the CELLS ARRAY with pure
    * Column HOFs — no halo, no self-join, ZERO shuffle until the
    * (tile, li, lj) census groupBy (≤64 rows per tile) — and both
    * statistics are rationals of exact integer counts. NaN holes drop
    * pairs on either side, matching the oracle's inner join over
    * present pixels. */
  val glcmTexture: Q = (s, dir) => {
    val lastCol = TS - 1
    val pairIdx = filter(sequence(lit(0), lit(TS * TS - 2)), i => i % TS =!= lastCol)
    val lvl = (c: org.apache.spark.sql.Column) => c.cast("long").bitwiseAND(lit(7L))
    val pairs = tilesA(s, dir).select(col("tile_col"), col("tile_row"),
      explode(filter(
        transform(pairIdx, i => struct(
          element_at(col("cells"), i + 1).as("a"),
          element_at(col("cells"), i + 2).as("b"))),
        p => !isnan(p.getField("a")) && !isnan(p.getField("b")))).as("p"))
      .select(col("tile_col"), col("tile_row"),
        lvl(col("p.a")).as("li"), lvl(col("p.b")).as("lj"))
    pairs.groupBy(col("tile_col"), col("tile_row"), col("li"), col("lj"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("tile_col"), col("tile_row"))
      .agg(sum(col("n")).as("n_pairs"),
        (sum(col("n") * (col("li") - col("lj")) * (col("li") - col("lj"))).cast("double")
          / sum(col("n")).cast("double")).as("contrast"),
        (sum(col("n") * col("n")).cast("double")
          / (sum(col("n")).cast("double") * sum(col("n")).cast("double"))).as("energy"))
  }

  val glcmTextureSql: String =
    s"""WITH $pxCte,
       |pr AS (
       |  SELECT a.tile_col, a.tile_row,
       |         CAST(a.v AS BIGINT) & 7 AS li, CAST(b.v AS BIGINT) & 7 AS lj
       |  FROM pxa a JOIN pxa b
       |    ON a.tile_col = b.tile_col AND a.tile_row = b.tile_row
       |   AND b.px = a.px + 1 AND b.py = a.py),
       |c AS (SELECT tile_col, tile_row, li, lj, COUNT(*) AS n
       |      FROM pr GROUP BY 1, 2, 3, 4)
       |SELECT tile_col, tile_row,
       |       CAST(SUM(n) AS BIGINT) AS n_pairs,
       |       CAST(SUM(n * (li - lj) * (li - lj)) AS DOUBLE)
       |         / CAST(SUM(n) AS DOUBLE) AS contrast,
       |       CAST(SUM(n * n) AS DOUBLE)
       |         / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS energy
       |FROM c GROUP BY 1, 2""".stripMargin

  /** Line-of-sight visibility along the 8 principal rays from a fixed
    * observer — the ray-cast core of a viewshed (r_line_profile samples
    * ONE segment; this classifies every on-ray cell): a cell is visible
    * iff its elevation angle from the observer clears the RUNNING MAX
    * of all nearer cells on its ray — a pure window formulation, so
    * both engines state it identically (slope = (v−v0)/d is one fixed
    * double op; the running max compares identical doubles). First
    * cell on each ray is unconditionally visible. Scale shape: the
    * observer row broadcasts, the ray filter is map-side, and the
    * window partitions by ray — 8 tiny ordered partitions regardless
    * of raster size (a full viewshed runs this per azimuth bucket). */
  val losVisibility: Q = (s, dir) => {
    val (ox, oy) = (8, 4)
    val g = pixelsA(s, dir).select(
      (col("tile_col") * TS + col("px")).cast("long").as("gx"),
      (col("tile_row") * TS + col("py")).cast("long").as("gy"),
      col("v"))
    val obs = g.where(col("gx") === ox && col("gy") === oy)
      .select(col("v").as("v0"))
    val dx = col("gx") - ox
    val dy = col("gy") - oy
    val onRay = (dx === 0 && dy =!= 0) || (dy === 0 && dx =!= 0) || (abs(dx) === abs(dy) && dx =!= 0)
    val rays = g.crossJoin(broadcast(obs)).where(onRay)
      .select(col("gx"), col("gy"),
        concat_ws(",", signum(dx).cast("int"), signum(dy).cast("int")).as("ray"),
        greatest(abs(dx), abs(dy)).as("d"),
        ((col("v") - col("v0")) / greatest(abs(dx), abs(dy))).as("slope"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ray")).orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    rays.select(col("gx"), col("gy"), col("ray"), col("d").cast("int").as("d"),
      coalesce(col("slope") >= max(col("slope")).over(w), lit(true)).as("visible"))
  }

  val losVisibilitySql: String =
    s"""WITH $pxCte,
       |o AS (SELECT v AS v0 FROM pga WHERE gx = 8 AND gy = 4),
       |r AS (
       |  SELECT gx, gy,
       |         CAST(CAST(sign(gx - 8) AS INT) AS VARCHAR) || ',' ||
       |         CAST(CAST(sign(gy - 4) AS INT) AS VARCHAR) AS ray,
       |         GREATEST(ABS(gx - 8), ABS(gy - 4)) AS d,
       |         (v - v0) / GREATEST(ABS(gx - 8), ABS(gy - 4)) AS slope
       |  FROM pga, o
       |  WHERE (gx = 8 AND gy <> 4) OR (gy = 4 AND gx <> 8)
       |     OR (ABS(gx - 8) = ABS(gy - 4) AND gx <> 8))
       |SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy, ray,
       |       CAST(d AS INT) AS d,
       |       COALESCE(slope >= MAX(slope) OVER (PARTITION BY ray ORDER BY d
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE) AS visible
       |FROM r""".stripMargin

  /** R6/A9: one pyramid level up — 2x2 block mean over data cells
    * (GeotiffToPyramid.scala:58-69). */
  val pyramid: Q = (s, dir) =>
    Raster.pixelize(Raster.pyramidUp(tilesA(s, dir), TS, TS), TS)

  val pyramidSql: String =
    s"""WITH $pxCte
       |SELECT CAST((gx // 2) // $TS AS INT) AS tile_col,
       |       CAST((gy // 2) // $TS AS INT) AS tile_row,
       |       CAST((gx // 2) % $TS AS INT) AS px,
       |       CAST((gy // 2) % $TS AS INT) AS py,
       |       SUM(v) / COUNT(*) AS v
       |FROM pga GROUP BY 1, 2, 3, 4""".stripMargin

  /** R7: zoom resample up by one level, NearestNeighbor — every parent
    * data cell becomes a 2x2 block of children
    * (ZoomResampleTEST.scala:65-152). */
  val zoomUp: Q = (s, dir) =>
    Raster.pixelize(Raster.zoomResampleUp(tilesA(s, dir), TS, TS, dz = 1), TS)

  val zoomUpSql: String =
    s"""WITH $pxCte
       |SELECT CAST((2 * gx + dx.i) // $TS AS INT) AS tile_col,
       |       CAST((2 * gy + dy.j) // $TS AS INT) AS tile_row,
       |       CAST((2 * gx + dx.i) % $TS AS INT) AS px,
       |       CAST((2 * gy + dy.j) % $TS AS INT) AS py,
       |       v
       |FROM pga, range(0, 2) dx(i), range(0, 2) dy(j)""".stripMargin

  /** K2/J6/P8: layer merge/upsert — full-outer tile join, cell-wise
    * incoming-wins (api/package.scala:328-385). Incoming = band B
    * restricted to tile_col < 2 and masked where (band A & 1) != 0, so
    * the merge exercises tiles-only-in-existing, cells-kept-from-existing
    * and cells-overwritten-by-incoming. Pixel-level: COALESCE(b, a). */
  val mergeUpsert: Q = (s, dir) => {
    val existing = tilesA(s, dir)
    val incoming = tilesA(s, dir).withColumnRenamed("cells", "qa")
      .join(tilesB(s, dir), Seq("tile_col", "tile_row"))
      .where(col("tile_col") < 2)
      .select(col("tile_col"), col("tile_row"), Raster.maskCells(col("cells"), col("qa"), 1L).as("cells"))
    Raster.pixelize(Raster.mergeLayers(existing, incoming), TS)
  }

  val mergeUpsertSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py,
       |       CASE WHEN tile_col < 2 AND (CAST(va AS BIGINT) & 1) = 0 THEN vb ELSE va END AS v
       |FROM pxk""".stripMargin

  /** R5/A5: rasterize rectangles with deterministic last-burn-wins
    * (RasterizeFeaturesRDD.scala:24-74). */
  /** Kernel-density splat: each point deposits a 5x5 separable tent
    * kernel with INTEGER weights (3−|dx|)(3−|dy|) ∈ {1..9} scaled by
    * the point's DECIMAL weight, summed per cell — the heat-map /
    * density-surface primitive (a discrete KDE; a Gaussian differs
    * only in the stamp constants). Scale shape: a constant 25x
    * map-side expansion (explode over the fixed kernel footprint)
    * into ONE cell-keyed aggregation with map-side partial combine —
    * the same burn shape as r_rasterize, no window, no driver state;
    * at 100 TB only kernel-footprint cell partials cross the wire.
    * Integer kernel x decimal weight keeps every sum exact, so the
    * gate hash-matches bitwise. */
  val kde: Q = (s, dir) =>
    table(s, dir, "part")
      .select(
        (col("p_partkey") % 40).cast("long").as("x0"),
        (col("p_size") % 30).cast("long").as("y0"),
        dec2(col("p_retailprice")).as("w"))
      .select(col("x0"), col("y0"), col("w"),
        explode(sequence(lit(-2L), lit(2L))).as("dx"))
      .select(col("x0"), col("y0"), col("w"), col("dx"),
        explode(sequence(lit(-2L), lit(2L))).as("dy"))
      .select((col("x0") + col("dx")).as("gx"), (col("y0") + col("dy")).as("gy"),
        (col("w") * ((lit(3L) - abs(col("dx"))) * (lit(3L) - abs(col("dy"))))).as("wc"))
      .groupBy(col("gx"), col("gy"))
      .agg(dsum(col("wc")).as("density"), count(lit(1)).as("n_pts"))

  val kdeSql: String =
    s"""WITH pts AS (
       |  SELECT CAST(p_partkey % 40 AS BIGINT) AS x0,
       |         CAST(p_size % 30 AS BIGINT) AS y0,
       |         ${dec2Sql("p_retailprice")} AS w
       |  FROM part)
       |SELECT x0 + dx.i AS gx, y0 + dy.i AS gy,
       |       ${dsumSql("w * ((3 - abs(dx.i)) * (3 - abs(dy.i)))")} AS density,
       |       COUNT(*) AS n_pts
       |FROM pts, range(-2, 3) dx(i), range(-2, 3) dy(i)
       |GROUP BY 1, 2""".stripMargin

  val rasterize: Q = (s, dir) =>
    Raster.pixelize(Raster.rasterizeRects(rectFeatures(s, dir), TS, TS), TS)

  val rasterizeSql: String =
    s"""WITH $rectCte,
       |burn AS (
       |  SELECT rx.gx, ry.gy, ARG_MAX(r.value, r.fid) AS v
       |  FROM rects r
       |  JOIN range(0, 64) rx(gx) ON rx.gx >= r.x0 AND rx.gx < r.x1
       |  JOIN range(0, 64) ry(gy) ON ry.gy >= r.y0 AND ry.gy < r.y1
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py, v
       |FROM burn""".stripMargin

  /** R5 general form: scanline polygon rasterization. Diamond polygons
    * (centers offset by 0.25/0.125 so no pixel-center taxicab distance
    * can ever equal r) make
    * even-odd containment exactly |dx|+|dy| < r — which the oracle
    * states directly, while Spark runs the real scanline burn. */
  val rasterizePoly: Q = (s, dir) => {
    val feats = table(s, dir, "part").select(
      col("p_partkey").as("fid"),
      ((col("p_partkey") % 40) + 8.25).as("cx"),
      ((col("p_size") % 30) + 8.125).as("cy"),
      ((col("p_partkey") % 5) + 1.5).as("r"),
      col("p_retailprice").as("value"))
      .select(col("fid"), col("value"),
        array(col("cx") - col("r"), col("cx"), col("cx") + col("r"), col("cx")).as("xs"),
        array(col("cy"), col("cy") - col("r"), col("cy"), col("cy") + col("r")).as("ys"),
        array(lit(0)).as("ring_offsets"))
    Raster.pixelize(Raster.rasterizePolygons(feats, TS, TS), TS)
  }

  /** Vector point-in-polygon spatial join (grid-binned, never
    * all-pairs): customers become points on a plane of diamond
    * polygons (r_rasterize_poly's shapes, spread out); `Spatial.gridJoin` bins
    * polygons to the cells their bbox covers and equi-joins points by
    * their single cell, with the REAL even-odd ray cast as the exact
    * test. For diamonds, even-odd containment is exactly taxicab
    * |dx|+|dy| < r — which the oracle states directly — and the
    * coordinate lattices keep every point strictly off every boundary
    * (fractional parts: point .5, |dx|+|dy| .625 or .125, r .5), so
    * the two formulations cannot disagree at float precision. */
  val pointInPoly: Q = (s, dir) => {
    // co-prime moduli spread the lattice over a ~150x140 plane: spatial
    // workloads grow in EXTENT, and a fixed tiny plane would make every
    // point hit hundreds of polygons at sf0.1 — a density no grid (or
    // real-world dataset) has, degenerating the cell join to all-pairs
    val polys = table(s, dir, "part").select(
      col("p_partkey").as("fid"),
      ((col("p_partkey") % 149) + 8.25).as("cx"),
      ((col("p_partkey") % 139) + 8.125).as("cy"),
      ((col("p_partkey") % 5) + 1.5).as("r"))
      .select(col("fid"),
        array(col("cx") - col("r"), col("cx"), col("cx") + col("r"), col("cx")).as("xs"),
        array(col("cy"), col("cy") - col("r"), col("cy"), col("cy") + col("r")).as("ys"))
    val points = table(s, dir, "customer").select(
      col("c_custkey").as("pid"),
      ((col("c_custkey") % 163) + 0.5).as("px"),
      ((col("c_custkey") % 157) + 0.5).as("py"))
    graft.ops.Spatial.gridJoin(points, polys, cell = 4.0)
      .groupBy(col("fid"))
      .agg(count(lit(1)).as("n_points"), sum(col("pid")).as("pid_sum"))
  }

  val pointInPolySql: String =
    s"""WITH pts AS (
       |  SELECT c_custkey AS pid,
       |         (c_custkey % 163) + 0.5 AS px,
       |         (c_custkey % 157) + 0.5 AS py
       |  FROM customer),
       |pol AS (
       |  SELECT p_partkey AS fid,
       |         (p_partkey % 149) + 8.25 AS cx,
       |         (p_partkey % 139) + 8.125 AS cy,
       |         (p_partkey % 5) + 1.5 AS r
       |  FROM part)
       |SELECT fid, COUNT(*) AS n_points, CAST(SUM(pid) AS BIGINT) AS pid_sum
       |FROM pol JOIN pts ON ABS(px - cx) + ABS(py - cy) < r
       |GROUP BY 1""".stripMargin

  val rasterizePolySql: String =
    s"""WITH polys AS (
       |  SELECT p_partkey AS fid,
       |         (p_partkey % 40) + 8.25 AS cx,
       |         (p_size % 30) + 8.125 AS cy,
       |         (p_partkey % 5) + 1.5 AS r,
       |         p_retailprice AS value
       |  FROM part),
       |burn AS (
       |  SELECT rx.gx, ry.gy, ARG_MAX(p.value, p.fid) AS v
       |  FROM polys p
       |  JOIN range(0, 64) rx(gx) ON ABS(rx.gx + 0.5 - p.cx) < p.r
       |  JOIN range(0, 64) ry(gy) ON ABS(rx.gx + 0.5 - p.cx) + ABS(ry.gy + 0.5 - p.cy) < p.r
       |  GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py, v
       |FROM burn""".stripMargin

  /** P4: per-band min-max normalize to [0,1] (UtilsSVM.scala:316-359):
    * global min/max aggregated then broadcast into a transform. */
  val normalize: Q = (s, dir) => {
    val tiles = tilesA(s, dir)
    val mm = Raster.pixelize(tiles, TS).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val norm = tiles.crossJoin(broadcast(mm))
      .select(col("tile_col"), col("tile_row"),
        transform(col("cells"), c => (c - col("mn")) / (col("mx") - col("mn"))).as("cells"))
    Raster.pixelize(norm, TS)
  }

  val normalizeSql: String =
    s"""WITH $pxCte,
       |mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM pxa)
       |SELECT p.tile_col, p.tile_row, p.px, p.py, (p.v - m.mn) / (m.mx - m.mn) AS v
       |FROM pxa p CROSS JOIN mm m""".stripMargin

  /** J3/J4/P3/R11: stack bands A+B into a multiband layer (union, no
    * shuffle), then per-pixel feature assembly — the
    * ManyLayersToMultibandLayer → TilePixeling chain
    * (WorkflowExample.scala:131-158). Oracle: pxk holds both band values
    * per pixel already. */
  val bandStack: Q = (s, dir) => {
    val stacked = Raster.stackBands(Seq(tilesA(s, dir), tilesB(s, dir)))
    Raster.pixelFeatures(stacked, TS, 2)
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        element_at(col("features"), 1).as("f0"),
        element_at(col("features"), 2).as("f1"))
  }

  val bandStackSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, va AS f0, vb AS f1 FROM pxk""".stripMargin

  /** R11 struct-column variant: bands zipped into ONE nested-array
    * column (`bands ARRAY<ARRAY<DOUBLE>>`), NDVI computed directly off
    * it — one tile-keyed aggregation replaces the two-layer join; for an
    * N-band stack it replaces N-1 joins. Same algebra, same oracle family
    * as r_ndvi_join. */
  val multibandNdvi: Q = (s, dir) => {
    val z = Raster.zipBands(Raster.stackBands(Seq(tilesA(s, dir), tilesB(s, dir))), 2)
    Raster.pixelize(
      z.select(col("tile_col"), col("tile_row"),
        Raster.ndviFromBands(col("bands"), 0, 1).as("cells")), TS)
  }

  val multibandNdviSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py,
       |       (va - vb) / (va + vb) AS v
       |FROM pxk WHERE va + vb <> 0""".stripMargin

  /** P3 alone: band selection from the stack is a filter+projection. */
  val bandSelect: Q = (s, dir) =>
    Raster.pixelize(
      Raster.selectBand(Raster.stackBands(Seq(tilesA(s, dir), tilesB(s, dir))), 1), TS)

  val bandSelectSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, vb AS v FROM pxk""".stripMargin

  /** Zonal statistics (the land-use mission's core question — "what are
    * the values inside each zone"): rasterize zone ids from features
    * (last-wins by fid = MAX over covering rects), join the zone raster
    * with band A per pixel, aggregate per zone. Both rasters share the
    * tile grid, so the join key is (tile, px, py) — co-partitioned by
    * the same hash, no skew. */
  val zonalStats: Q = (s, dir) => {
    val zones = Raster.rasterizeRects(
      rectFeatures(s, dir).withColumn("value", col("fid").cast("double")), TS, TS)
    val zpix = Raster.pixelize(zones, TS)
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        col("v").cast("long").as("zone"))
    val vpix = Raster.pixelize(tilesA(s, dir), TS)
    zpix.join(vpix, Seq("tile_col", "tile_row", "px", "py"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("v")).cast("double").as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  val zonalStatsSql: String =
    s"""WITH $pxCte,
       |$rectCte,
       |zones AS (
       |  SELECT g.gx, g.gy, MAX(r.fid) AS zone
       |  FROM pga g JOIN rects r
       |    ON g.gx >= r.x0 AND g.gx < r.x1 AND g.gy >= r.y0 AND g.gy < r.y1
       |  GROUP BY 1, 2)
       |SELECT z.zone, COUNT(*) AS n_cells,
       |       CAST(SUM(g.v) AS DOUBLE) AS sum_v,
       |       MIN(g.v) AS min_v, MAX(g.v) AS max_v
       |FROM zones z JOIN pga g ON g.gx = z.gx AND g.gy = z.gy
       |GROUP BY 1""".stripMargin

  /** Rect-overlap SPATIAL JOIN via grid binning — the workhorse join of
    * vector GIS (which parcels intersect which zones): each box
    * registers in the 8x8 grid cells it covers (bounded replication —
    * a box covers O(area/64) cells), candidates share a cell, the
    * exact half-open interval test filters, and pair-dedup collapses
    * multi-cell hits. The ORACLE is the brute-force all-pairs scan, so
    * the hash-match PROVES the binning lost no pair (the r_nn_within /
    * t_simhash_pairs completeness argument). Fixture subsamples fids
    * (% 17) to keep the quadratic oracle bounded at probe scales; the
    * binned plan is the corpus-scale path regardless. */
  val rectJoin: Q = (s, dir) => {
    val r = rectFeatures(s, dir).where(col("fid") % 17 === 0)
      .select(col("fid"), col("x0"), col("y0"), col("x1"), col("y1"))
    def binned(p: String) = r.select(
        col("fid").as(s"fid_$p"), col("x0").as(s"x0_$p"), col("y0").as(s"y0_$p"),
        col("x1").as(s"x1_$p"), col("y1").as(s"y1_$p"))
      .withColumn("cx", explode(sequence(expr(s"x0_$p div 8"), expr(s"(x1_$p - 1) div 8"))))
      .withColumn("cy", explode(sequence(expr(s"y0_$p div 8"), expr(s"(y1_$p - 1) div 8"))))
    binned("a").join(binned("b"), Seq("cx", "cy"))
      .where(col("fid_a") < col("fid_b") &&
        col("x0_a") < col("x1_b") && col("x0_b") < col("x1_a") &&
        col("y0_a") < col("y1_b") && col("y0_b") < col("y1_a"))
      .select(col("fid_a"), col("fid_b"))
      .distinct()
  }

  val rectJoinSql: String =
    s"""WITH $rectCte
       |SELECT a.fid AS fid_a, b.fid AS fid_b
       |FROM rects a, rects b
       |WHERE a.fid % 17 = 0 AND b.fid % 17 = 0 AND a.fid < b.fid
       |  AND a.x0 < b.x1 AND b.x0 < a.x1
       |  AND a.y0 < b.y1 AND b.y0 < a.y1""".stripMargin

  /** Zonal HISTOGRAM — the distribution upgrade of r_zonal_stats: per
    * zone, the binned value histogram (bin width 8), the per-zone
    * tail a zonal MEAN hides (bimodal zones, outlier slivers). Scale
    * shape: ONE (zone, bin) groupBy with map-side partials — output
    * is zones x occupied-bins rows regardless of raster size; the
    * zone overlay reuses r_zonal_stats' last-wins rasterize rule. */
  val zonalHistogram: Q = (s, dir) => {
    val zones = Raster.rasterizeRects(
      rectFeatures(s, dir).withColumn("value", col("fid").cast("double")), TS, TS)
    val zpix = Raster.pixelize(zones, TS)
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        col("v").cast("long").as("zone"))
    val vpix = Raster.pixelize(tilesA(s, dir), TS)
    zpix.join(vpix, Seq("tile_col", "tile_row", "px", "py"))
      .groupBy(col("zone"), floor(col("v") / 8).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("v")).cast("double").as("sum_v"))
  }

  val zonalHistogramSql: String =
    s"""WITH $pxCte,
       |$rectCte,
       |zones AS (
       |  SELECT g.gx, g.gy, MAX(r.fid) AS zone
       |  FROM pga g JOIN rects r
       |    ON g.gx >= r.x0 AND g.gx < r.x1 AND g.gy >= r.y0 AND g.gy < r.y1
       |  GROUP BY 1, 2)
       |SELECT z.zone, CAST(FLOOR(g.v / 8) AS BIGINT) AS bin,
       |       COUNT(*) AS n_cells,
       |       CAST(SUM(g.v) AS DOUBLE) AS sum_v
       |FROM zones z JOIN pga g ON g.gx = z.gx AND g.gy = z.gy
       |GROUP BY 1, 2""".stripMargin

  /** Multi-source cost distance over band A (CostDistance.scala): entry
    * cost 1 + (v % 4), sources where v % 17 = 0, 8-connectivity, cap 95.
    * Spark runs the distributed per-tile Dijkstra + halo exchange; the
    * oracle replays it as a recursive walk enumerating every path with
    * partial sums ≤ cap and taking the per-cell minimum — prefix sums
    * along a minimal path never exceed its total, so both engines emit
    * exactly the cells with d ≤ cap. Integer costs keep it bitwise. */
  val costDistance: Q = (s, dir) => {
    val cells = Raster.pixelize(tilesA(s, dir), TS)
      .select((col("tile_col") * TS + col("px")).cast("long").as("gx"),
        (col("tile_row") * TS + col("py")).cast("long").as("gy"),
        (lit(1) + col("v").cast("long") % 4).as("cost"),
        (col("v").cast("long") % 17 === 0).as("src"))
    graft.ops.CostDistance.costDistance(cells, TS, cap = 95L)
      .select(expr(s"gx div $TS").cast("int").as("tile_col"),
        expr(s"gy div $TS").cast("int").as("tile_row"),
        (col("gx") % TS).cast("int").as("px"),
        (col("gy") % TS).cast("int").as("py"),
        col("dist").cast("double").as("v"))
  }

  val costDistanceSql: String =
    s"""WITH RECURSIVE $pxCte,
       |cellz AS (
       |  SELECT gx, gy, 1 + (CAST(v AS BIGINT) % 4) AS cost,
       |         (CAST(v AS BIGINT) % 17 = 0) AS src
       |  FROM pga),
       |walk(gx, gy, d) AS (
       |  SELECT gx, gy, CAST(0 AS BIGINT) FROM cellz WHERE src
       |  UNION
       |  SELECT c.gx, c.gy, w.d + c.cost
       |  FROM walk w JOIN cellz c
       |    ON c.gx BETWEEN w.gx - 1 AND w.gx + 1
       |   AND c.gy BETWEEN w.gy - 1 AND w.gy + 1
       |   AND NOT (c.gx = w.gx AND c.gy = w.gy)
       |  WHERE w.d + c.cost <= 95),
       |best AS (SELECT gx, gy, MIN(d) AS d FROM walk GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       CAST(d AS DOUBLE) AS v
       |FROM best""".stripMargin

  /** Region labeling (the GIS "region group" op): connected components
    * of a mask raster under 4-connectivity, label = minimum global cell
    * id of the region. The mask adjacency becomes an edge list (two
    * shifted self-equi-joins, no neighborhood explode) and the labels
    * come from the SAME pointer-jumping CC loop the dedup pipeline uses
    * (TextOps.connectedComponents: O(log diameter) rounds, eager
    * per-round checkpoints) — one engine primitive, two domains.
    * Isolated mask cells keep their own id. The oracle replays min-
    * label propagation as a recursive CTE, pruned to labels smaller
    * than the receiving cell's id (the component minimum always
    * survives the pruning, every other label is dominated). */
  val regionLabel: Q = (s, dir) => {
    val W = 4L * TS // global grid width
    val m = Raster.pixelize(tilesA(s, dir), TS)
      .where(col("v").cast("long") % 3 === 0)
      .select((col("tile_col") * TS + col("px")).cast("long").as("gx"),
        (col("tile_row") * TS + col("py")).cast("long").as("gy"))
    // shared with the append-only IVM twin (RegionIncrement.appendTiles,
    // maintained front proven append==rebuild in IncrementalRegionFrontSpec)
    graft.ops.RegionIncrement.labelCells(m, W)
      .select(expr(s"gx div $TS").cast("int").as("tile_col"),
        expr(s"gy div $TS").cast("int").as("tile_row"),
        (col("gx") % TS).cast("int").as("px"),
        (col("gy") % TS).cast("int").as("py"),
        col("label"))
  }

  /** MATERIALIZED region-label front: regionLabel's output written
    * once per process per data dir and read back by its consumers
    * (r_region_stats, r_sieve_filter) — the raster twin of the text
    * family's MinHash sigFront: at scale the labeled raster is a
    * persisted product that zonal statistics and sieve filtering READ,
    * not a CC loop each re-runs. r_region_label itself stays fully
    * in-plan (it oracles the derivation); values are exact integers
    * through the parquet round-trip, so consumer hashes are unchanged. */
  def regionLabelFront(s: SparkSession, dir: String): DataFrame =
    graft.sources.Parquet.read(s, front(dir, "regionfront")(regionLabel(s, dir).write.mode("overwrite").parquet(_)))

  val regionLabelSql: String = {
    val w = 4 * TS
    s"""WITH RECURSIVE $pxCte,
       |m AS (SELECT gx, gy, gx * $w + gy AS id FROM pga
       |      WHERE CAST(v AS BIGINT) % 3 = 0),
       |lab(gx, gy, lbl) AS (
       |  SELECT gx, gy, id FROM m
       |  UNION
       |  SELECT c.gx, c.gy, l.lbl
       |  FROM lab l JOIN m c
       |    ON (ABS(c.gx - l.gx) + ABS(c.gy - l.gy)) = 1
       |  WHERE l.lbl < c.gx * $w + c.gy),
       |best AS (SELECT gx, gy, MIN(lbl) AS label FROM lab GROUP BY 1, 2)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       CAST(label AS BIGINT) AS label
       |FROM best""".stripMargin
  }

  /** Per-region statistics over the labeled regions: region_label's
    * output keyed back to band B — the analytics consumer of region
    * grouping (object size/intensity censusing, e.g. field parcels in
    * the land-use domain). One tile-key equi-join + one label-keyed
    * aggregation on top of the CC loop; sums are exact (vb is an
    * integral count and n_cells an integer), mean is one division of
    * exact operands. */
  val regionStats: Q = (s, dir) => {
    val labeled = regionLabelFront(s, dir)
    val b = Raster.pixelize(tilesB(s, dir), TS)
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"), col("v").as("vb"))
    labeled.join(b, Seq("tile_col", "tile_row", "px", "py"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("vb")).cast("long").as("sum_b"),
        (sum(col("vb")) / count(lit(1))).as("mean_b"))
  }

  val regionStatsSql: String = {
    val w = 4 * TS
    s"""WITH RECURSIVE $pxCte,
       |m AS (SELECT gx, gy, gx * $w + gy AS id FROM pga
       |      WHERE CAST(v AS BIGINT) % 3 = 0),
       |lab(gx, gy, lbl) AS (
       |  SELECT gx, gy, id FROM m
       |  UNION
       |  SELECT c.gx, c.gy, l.lbl
       |  FROM lab l JOIN m c
       |    ON (ABS(c.gx - l.gx) + ABS(c.gy - l.gy)) = 1
       |  WHERE l.lbl < c.gx * $w + c.gy),
       |best AS (SELECT gx, gy, MIN(lbl) AS label FROM lab GROUP BY 1, 2)
       |SELECT CAST(b.label AS BIGINT) AS label, COUNT(*) AS n_cells,
       |       CAST(SUM(p.v) AS BIGINT) AS sum_b,
       |       SUM(p.v) / COUNT(*) AS mean_b
       |FROM best b JOIN pgb p ON p.gx = b.gx AND p.gy = b.gy
       |GROUP BY 1""".stripMargin
  }

  /** Terrain family, local-relief members: TPI (Weiss 2001), TRI
    * (Riley et al. 1999) and the discrete 4-neighbor Laplacian, all
    * fused off ONE pad=1 halo exchange (Raster.terrainIndices — the
    * same fusion argument as r_terrain). Integral cells make TPI's
    * /8 a power-of-two scale, TRI's squares exact and the Laplacian
    * pure integer arithmetic, so all three hash-match bitwise. */
  val terrainIdx: Q = (s, dir) =>
    Raster.terrainIndices(tilesA(s, dir), TS, TS)

  val terrainIdxSql: String =
    s"""WITH $pxCte,
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy, c.v AS cv,
       |         SUM(p.v) AS s8,
       |         SUM((c.v - p.v) * (c.v - p.v)) AS sq,
       |         SUM(CASE WHEN ABS(p.gx - c.gx) + ABS(p.gy - c.gy) = 1
       |                  THEN p.v ELSE 0 END) AS s4,
       |         COUNT(*) AS n
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1
       |       AND NOT (p.gx = c.gx AND p.gy = c.gy)
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       cv - s8 / 8 AS tpi, SQRT(sq) AS tri, s4 - 4 * cv AS lap
       |FROM nb WHERE n = 8""".stripMargin

  /** Majority (focal-mode) filter over a class raster — the
    * post-classification smoothing step of a land-use map (the
    * reference's per-pixel SVM output is exactly such a raster,
    * TestClassifierSVM.scala:61-69). Classes = value mod 8; the
    * window includes the center, ties take the smallest class. Pure
    * integer count/compare — bit-portable by construction. */
  val majority: Q = (s, dir) => {
    val classed = tilesA(s, dir).select(col("tile_col"), col("tile_row"),
      transform(col("cells"), v =>
        when(isnan(v), v).otherwise((v.cast("long") % 8).cast("double"))).as("cells"))
    Raster.pixelize(Raster.majorityFilter(classed, TS, TS), TS)
  }

  val majoritySql: String =
    s"""WITH $pxCte,
       |cls AS (SELECT gx, gy, CAST(v AS BIGINT) % 8 AS c FROM pga),
       |nb AS (
       |  SELECT c.gx AS gx, c.gy AS gy, p.c AS pc
       |  FROM cls c JOIN cls p
       |    ON ABS(p.gx - c.gx) <= 1 AND ABS(p.gy - c.gy) <= 1),
       |cnt AS (
       |  SELECT gx, gy, pc, COUNT(*) AS n,
       |         SUM(COUNT(*)) OVER (PARTITION BY gx, gy) AS tot
       |  FROM nb GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT gx, gy, pc,
       |         ROW_NUMBER() OVER (PARTITION BY gx, gy ORDER BY n DESC, pc) AS rn
       |  FROM cnt WHERE tot = 9)
       |SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |       CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py,
       |       CAST(pc AS DOUBLE) AS v
       |FROM best WHERE rn = 1""".stripMargin

  /** Vector polygon measures — shoelace area, squared-perimeter census
    * and centroid over integer-lattice quadrilaterals (the vector-side
    * geometry a land-use system reports per feature: field areas,
    * compactness). All measures are integer sums (Spatial.ringMeasures
    * Column HOFs, no UDF, no shuffle); the only float op is the final
    * centroid division, identically ordered in the oracle. */
  val polyMeasures: Q = (s, dir) => {
    val base = table(s, dir, "part").select(
      col("p_partkey").as("fid"),
      (col("p_partkey") % 149 + 10).cast("long").as("cx"),
      (col("p_partkey") % 139 + 10).cast("long").as("cy"),
      (col("p_partkey") % 7 + 1).cast("long").as("a"),
      (col("p_partkey") % 5 + 1).cast("long").as("b"),
      (col("p_partkey") % 9 + 1).cast("long").as("c"),
      (col("p_partkey") % 4 + 1).cast("long").as("d"))
    // irregular diamond E→N→W→S: counter-clockwise in y-up coords
    val m = base.select(col("fid"),
      graft.ops.Spatial.ringMeasures(
        array(col("cx") + col("a"), col("cx"), col("cx") - col("c"), col("cx")),
        array(col("cy"), col("cy") + col("b"), col("cy"), col("cy") - col("d"))).as("m"))
    m.select(col("fid"), col("m.area2").as("area2"), col("m.perim_sq").as("perim_sq"),
      (col("m.cx6").cast("double") / (lit(3.0) * col("m.area2").cast("double"))).as("cxc"),
      (col("m.cy6").cast("double") / (lit(3.0) * col("m.area2").cast("double"))).as("cyc"))
  }

  val polyMeasuresSql: String =
    """WITH base AS (
      |  SELECT p_partkey AS fid,
      |         CAST(p_partkey % 149 + 10 AS BIGINT) AS cx,
      |         CAST(p_partkey % 139 + 10 AS BIGINT) AS cy,
      |         CAST(p_partkey % 7 + 1 AS BIGINT) AS a,
      |         CAST(p_partkey % 5 + 1 AS BIGINT) AS b,
      |         CAST(p_partkey % 9 + 1 AS BIGINT) AS c,
      |         CAST(p_partkey % 4 + 1 AS BIGINT) AS d
      |  FROM part),
      |pol AS (SELECT fid, [cx + a, cx, cx - c, cx] AS xs,
      |               [cy, cy + b, cy, cy - d] AS ys FROM base),
      |v AS (
      |  SELECT fid, xs[CAST(r.i AS INT)] AS x0, ys[CAST(r.i AS INT)] AS y0,
      |         xs[CAST(r.i % 4 AS INT) + 1] AS x1, ys[CAST(r.i % 4 AS INT) + 1] AS y1
      |  FROM pol, range(1, 5) r(i)),
      |g AS (
      |  SELECT fid,
      |         CAST(SUM(x0 * y1 - x1 * y0) AS BIGINT) AS area2,
      |         CAST(SUM((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) AS BIGINT) AS perim_sq,
      |         CAST(SUM((x0 + x1) * (x0 * y1 - x1 * y0)) AS BIGINT) AS cx6,
      |         CAST(SUM((y0 + y1) * (x0 * y1 - x1 * y0)) AS BIGINT) AS cy6
      |  FROM v GROUP BY 1)
      |SELECT fid, area2, perim_sq,
      |       CAST(cx6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cxc,
      |       CAST(cy6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cyc
      |FROM g""".stripMargin

  /** Bounded nearest-neighbor spatial join (Spatial.nnWithin): each
    * customer point finds its nearest supplier site within radius 8,
    * ties to the smallest site id. The engine runs the grid-binned 3x3
    * candidate join; the oracle brute-forces all pairs — completeness
    * of the binning is exactly what the hash match proves. Integer
    * lattice coords make every squared distance exact. */
  val nnWithin: Q = (s, dir) => {
    val points = table(s, dir, "customer").select(
      col("c_custkey").as("pid"),
      (col("c_custkey") % 163).cast("long").as("px"),
      (col("c_custkey") % 157).cast("long").as("py"))
    val sites = table(s, dir, "supplier").select(
      col("s_suppkey").as("sid"),
      (col("s_suppkey") % 151).cast("long").as("sx"),
      (col("s_suppkey") % 149).cast("long").as("sy"))
    graft.ops.Spatial.nnWithin(points, sites, r = 8.0)
  }

  val nnWithinSql: String =
    """WITH pts AS (
      |  SELECT c_custkey AS pid,
      |         CAST(c_custkey % 163 AS BIGINT) AS px,
      |         CAST(c_custkey % 157 AS BIGINT) AS py
      |  FROM customer),
      |st AS (
      |  SELECT s_suppkey AS sid,
      |         CAST(s_suppkey % 151 AS BIGINT) AS sx,
      |         CAST(s_suppkey % 149 AS BIGINT) AS sy
      |  FROM supplier),
      |cand AS (
      |  SELECT pid, px, py, sid,
      |         (px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2
      |  FROM pts, st
      |  WHERE (px - sx) * (px - sx) + (py - sy) * (py - sy) <= 64),
      |best AS (
      |  SELECT pid, px, py, sid, d2,
      |         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, sid) AS rn
      |  FROM cand)
      |SELECT pid, px, py, sid, d2 FROM best WHERE rn = 1""".stripMargin

  /** Hexagonal-bin point census ([[graft.ops.Spatial.hexCenter]]) —
    * the density-map aggregation dashboards draw over point clouds.
    * Customer points on the integer lattice bin to the nearer of their
    * two candidate hex centers (two-offset-lattice rule, W=4 / H=7 ≈
    * W·√3), and each cell reports its population and exact
    * account-balance sum in cents. The oracle replays the identical
    * integer candidate/metric arithmetic — the hash match proves the
    * border assignment, where float hexbins go wrong, is bit-exact.
    * One map pass + one cell-keyed groupBy (cell cardinality bounds
    * the shuffle however many points stream through it). */
  val hexbin: Q = (s, dir) => {
    val pts = table(s, dir, "customer").select(
      (col("c_custkey") % 163).cast("long").as("px"),
      (col("c_custkey") % 157).cast("long").as("py"),
      (dec2(col("c_acctbal")) * 100).cast("long").as("cents"))
    pts.withColumn("c", graft.ops.Spatial.hexCenter(col("px"), col("py"), 4, 7))
      .groupBy(col("c.cx").as("cx"), col("c.cy").as("cy"))
      .agg(count(lit(1)).as("n_pts"), sum(col("cents")).as("sum_cents"))
  }

  val hexbinSql: String =
    s"""WITH pts AS (
       |  SELECT CAST(c_custkey % 163 AS BIGINT) AS px,
       |         CAST(c_custkey % 157 AS BIGINT) AS py,
       |         CAST(${dec2Sql("c_acctbal")} * 100 AS BIGINT) AS cents
       |  FROM customer),
       |cand AS (
       |  SELECT px, py, cents,
       |         (px + 4) - ((px + 4) % 8) AS ax, (py + 7) - ((py + 7) % 14) AS ay,
       |         px - (px % 8) + 4 AS bx, py - (py % 14) + 7 AS by
       |  FROM pts),
       |assigned AS (
       |  SELECT cents,
       |         CASE WHEN 49 * (px - ax) * (px - ax) + 16 * (py - ay) * (py - ay)
       |                <= 49 * (px - bx) * (px - bx) + 16 * (py - by) * (py - by)
       |              THEN ax ELSE bx END AS cx,
       |         CASE WHEN 49 * (px - ax) * (px - ax) + 16 * (py - ay) * (py - ay)
       |                <= 49 * (px - bx) * (px - bx) + 16 * (py - by) * (py - by)
       |              THEN ay ELSE by END AS cy
       |  FROM cand)
       |SELECT cx, cy, COUNT(*) AS n_pts, CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM assigned GROUP BY 1, 2""".stripMargin

  /** Class-boundary edge census — landscape-ecology fragmentation
    * metrics (FRAGSTATS-style edge density) over the class raster: for
    * every 4-adjacent cell pair with differing classes, count edges per
    * unordered class pair. The analysis a land-use map feeds into
    * habitat-fragmentation reporting. Two coordinate-shifted
    * equi-joins (right + down neighbor — each adjacency counted once),
    * exact integer classes. Scale shape: hash joins on pixel coords
    * (co-partitioned by AQE), output bounded by classes². */
  val edgeCensus: Q = (s, dir) => {
    val c = Raster.globalCoords(Fixtures.pixelsA(s, dir), TS, TS)
      .select(col("gx"), col("gy"), (col("v").cast("long") % 8).as("cls"))
    val right = c.select((col("gx") + 1).as("gx"), col("gy"), col("cls").as("cls2"))
    val down = c.select(col("gx"), (col("gy") + 1).as("gy"), col("cls").as("cls2"))
    c.join(right, Seq("gx", "gy"))
      .unionByName(c.join(down, Seq("gx", "gy")))
      .where(col("cls") =!= col("cls2"))
      .select(least(col("cls"), col("cls2")).as("cls_a"),
        greatest(col("cls"), col("cls2")).as("cls_b"))
      .groupBy(col("cls_a"), col("cls_b"))
      .agg(count(lit(1)).as("n_edges"))
  }

  val edgeCensusSql: String =
    s"""WITH $pxCte,
       |cl AS (SELECT gx, gy, CAST(v AS BIGINT) % 8 AS cls FROM pga),
       |e AS (
       |  SELECT a.cls AS c1, b.cls AS c2
       |  FROM cl a JOIN cl b ON b.gx = a.gx + 1 AND b.gy = a.gy
       |  UNION ALL
       |  SELECT a.cls, b.cls
       |  FROM cl a JOIN cl b ON b.gx = a.gx AND b.gy = a.gy + 1)
       |SELECT LEAST(c1, c2) AS cls_a, GREATEST(c1, c2) AS cls_b, COUNT(*) AS n_edges
       |FROM e WHERE c1 <> c2 GROUP BY 1, 2""".stripMargin

  /** Line profile extraction — sample the raster along feature lines
    * (the elevation-profile / transect tool): each line from `part`
    * gets 17 evenly-spaced sample stations computed with pure INTEGER
    * interpolation (gx = x0 + (t·dx) div N — floor division, no float
    * rounding), joined to the pixel field; stations off data cells
    * drop, like any transect over a partial raster. Scale shape: lines
    * explode to a fixed station count, the value lookup is one
    * hash equi-join on pixel coords. */
  val lineProfile: Q = (s, dir) => {
    val N = 16
    val lines = table(s, dir, "part").select(
      col("p_partkey").as("line_id"),
      // deltas kept non-negative: Spark's `div` truncates toward zero
      // while DuckDB's `//` floors, so a negative numerator would skew
      // stations by one cell between the engines
      (col("p_partkey") % 23).cast("long").as("x0"),
      (col("p_partkey") % 19).cast("long").as("y0"),
      (col("p_partkey") % 23 + col("p_partkey") % 41 + 1).cast("long").as("x1"),
      (col("p_partkey") % 19 + col("p_partkey") % 37 + 1).cast("long").as("y1"))
    val st = lines
      .select(col("line_id"), col("x0"), col("y0"), col("x1"), col("y1"),
        explode(sequence(lit(0), lit(N))).as("t"))
      .select(col("line_id"), col("t"),
        (col("x0") + expr(s"(t * (x1 - x0)) div $N")).as("gx"),
        (col("y0") + expr(s"(t * (y1 - y0)) div $N")).as("gy"))
    val px = Raster.globalCoords(Fixtures.pixelsA(s, dir), TS, TS)
      .select(col("gx"), col("gy"), col("v"))
    st.join(px, Seq("gx", "gy"))
      .select(col("line_id"), col("t"), col("gx"), col("gy"), col("v"))
  }

  val lineProfileSql: String =
    s"""WITH $pxCte,
       |lines AS (
       |  SELECT p_partkey AS line_id,
       |         CAST(p_partkey % 23 AS BIGINT) AS x0,
       |         CAST(p_partkey % 19 AS BIGINT) AS y0,
       |         CAST(p_partkey % 23 + p_partkey % 41 + 1 AS BIGINT) AS x1,
       |         CAST(p_partkey % 19 + p_partkey % 37 + 1 AS BIGINT) AS y1
       |  FROM part),
       |st AS (
       |  SELECT line_id, CAST(r.t AS INT) AS t,
       |         x0 + (r.t * (x1 - x0)) // 16 AS gx,
       |         y0 + (r.t * (y1 - y0)) // 16 AS gy
       |  FROM lines, range(0, 17) r(t))
       |SELECT line_id, t, gx, gy, v
       |FROM st JOIN pga USING (gx, gy)""".stripMargin

  /** DBSCAN core-point clustering (Ester et al. 1996), grid-binned:
    * density cores (≥ 3 neighbors within eps² = 8) cluster by
    * connectivity over the core-core ε-graph — the density analog of
    * the dedup pipeline's near-dup clustering, and the third user of
    * the shared pointer-jumping CC primitive (dedup clusters, region
    * label, now spatial density). Candidate pairs come from cell = 3
    * binning (3x3 ring replication — covers eps = √8 < 3 — never
    * point×point); the brute-force oracle re-derives cores and closes
    * the min-label recursion, so the hash match proves BOTH binning
    * completeness and the cluster labeling. Border points are out of
    * scope by declaration (core clustering). */
  /** The DBSCAN lattice points (pid, px, py) from the customer table. */
  private def dbscanPts(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(
      col("c_custkey").as("pid"),
      (col("c_custkey") % 163).cast("long").as("px"),
      (col("c_custkey") % 157).cast("long").as("py"))

  /** Contracted position table and eps-disk position pairs — the shared
    * geometry front of both DBSCAN gates. */
  private def dbscanPosPairs(pos: DataFrame): DataFrame = {
    val a = pos.select(col("posid").as("qid"), col("px").as("qx"), col("py").as("qy"),
      expr("px div 3").as("cx"), expr("py div 3").as("cy"))
    val b = pos
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("posid").as("cid"), col("px").as("sx"), col("py").as("sy"),
        col("cnt").as("ccnt"),
        (expr("px div 3") + col("dx")).as("cx"), (expr("py div 3") + col("dy")).as("cy"))
    a.join(b, Seq("cx", "cy"))
      .withColumn("d2", (col("qx") - col("sx")) * (col("qx") - col("sx"))
        + (col("qy") - col("sy")) * (col("qy") - col("sy")))
      .where(col("d2") <= 8)
  }

  /** Core-position labels (posid, cluster) — the expensive CC stage of
    * DBSCAN, shared by both gates. Returns the label frame plus the
    * checkpoint frames it reads, so the (sole) caller — the front
    * writer, which fully materializes the frame into parquet — can
    * free them afterwards (r12 unpersist discipline). */
  private def dbscanCoreLab(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    import graft.ops.Materialize.checkpointFresh
    val pos = dbscanPts(s, dir).groupBy(col("px"), col("py"))
      .agg(count(lit(1)).as("cnt"), min(col("pid")).as("posid"))
    // r11: the eps-disk pair table is the expensive stage and is
    // consumed 4x (neighbor census, the edge build, the CC stage's two
    // passes); eagerly materialize it once — it is position-bounded
    // (|positions| x |eps-disk| rows at ANY data scale, the
    // coincident-point contraction's invariant), so the checkpoint is
    // small forever. Same for the core-position set (3 consumers).
    val pairs = checkpointFresh(dbscanPosPairs(pos))
    val nn = pairs.groupBy(col("qid")).agg((sum(col("ccnt")) - 1).as("nn"))
    val corePos = checkpointFresh(nn.where(col("nn") >= 3).select(col("qid")))
    val edges = pairs.select(col("qid").as("a"), col("cid").as("b"))
      .where(col("a") < col("b"))
      .join(corePos.select(col("qid").as("a")), Seq("a"))
      .join(corePos.select(col("qid").as("b")), Seq("b"))
    val cc = graft.text.TextOps.connectedComponents(edges)
    val lab = corePos
      .join(cc.select(col("node").as("qid"), col("cluster")), Seq("qid"), "left")
      .select(col("qid").as("posid"), coalesce(col("cluster"), col("qid")).as("cluster"))
    (lab, Seq(pairs, corePos))
  }

  /** MATERIALIZED core-label front: the cluster assignment (posid,
    * cluster) written once per process per data dir — the published
    * product of a density-clustering run, which the role-labeling gate
    * READS instead of re-running the CC loop (same pattern as
    * sigFront / regionLabelFront). r_dbscan_core stays fully in-plan
    * (it oracles the CC derivation). */
  def dbscanCoreLabFront(s: SparkSession, dir: String): DataFrame =
    graft.sources.Parquet.read(s, front(dir, "dbscanfront") { path =>
      val (lab, checkpoints) = dbscanCoreLab(s, dir)
      lab.write.mode("overwrite").parquet(path)
      // the parquet front now holds the result; nothing references the
      // checkpoint blocks — free them instead of pinning storage for
      // the session lifetime
      graft.ops.Materialize.free(checkpoints: _*)
    })

  // COINCIDENT-POINT CONTRACTION (round-8 100x-probe fix): coreness
  // and cluster membership are functions of the POSITION, not the
  // point — every point at (px,py) has the same eps-disk, the same
  // neighbor count nn = Σ counts(disk) − 1 and therefore the same
  // label. Replicated/heaped data (100x probe: ~59 points per lattice
  // cell) made point-level pairing a ~2e9-row blowup; the contracted
  // graph is |distinct positions| nodes (25.6k at 100x — pairing drops
  // seven orders of magnitude) and the result is VALUE-IDENTICAL: the
  // position node id is its min pid, so CC's min-label component ids
  // are exactly the point-level min core pid. Output still one row per
  // core POINT (the multiplicity rejoins map-side at the end). The
  // disk INCLUDES the own position (coincident neighbors). The CC
  // stage lives in dbscanCoreLab and BOTH gates read its materialized
  // front (unlike the sigFront family there is no derivation-only
  // gate here — each gate hashes its full output against a fully
  // relational oracle, so the derivation stays oracle-gated end to
  // end; the first consumer in a process pays it).
  val dbscanCore: Q = (s, dir) => {
    val pts = dbscanPts(s, dir)
    val pos = pts.groupBy(col("px"), col("py"))
      .agg(count(lit(1)).as("cnt"), min(col("pid")).as("posid"))
    pts.join(pos, Seq("px", "py"))
      .join(dbscanCoreLabFront(s, dir), Seq("posid"))
      .select(col("pid"), col("cluster"))
  }

  val dbscanCoreSql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT c_custkey AS pid,
      |         CAST(c_custkey % 163 AS BIGINT) AS px,
      |         CAST(c_custkey % 157 AS BIGINT) AS py
      |  FROM customer),
      |nb AS (
      |  SELECT p.pid AS qid, q.pid AS cid
      |  FROM pts p JOIN pts q ON p.pid <> q.pid
      |  WHERE (p.px - q.px) * (p.px - q.px) + (p.py - q.py) * (p.py - q.py) <= 8),
      |cores AS (SELECT qid FROM nb GROUP BY 1 HAVING COUNT(*) >= 3),
      |e AS (
      |  SELECT qid AS a, cid AS b FROM nb
      |  WHERE qid < cid
      |    AND qid IN (SELECT qid FROM cores) AND cid IN (SELECT qid FROM cores)),
      |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |lab(v, lbl) AS (
      |  SELECT qid, qid FROM cores
      |  UNION
      |  SELECT s.b, l.lbl FROM lab l JOIN sym s ON s.a = l.v WHERE l.lbl < s.b)
      |SELECT v AS pid, MIN(lbl) AS cluster FROM lab GROUP BY 1""".stripMargin

  /** FULL DBSCAN over the same synthetic point set as r_dbscan_core:
    * core points take their connected-component cluster, border points
    * (non-core with ≥1 core eps-neighbor) attach to the MIN cluster of
    * their core neighbors (deterministic tie-break), everything else
    * is noise (cluster −1). Completes the classic algorithm the core
    * gate only censuses. Scale shape unchanged: grid-binned candidate
    * pairs (never point×point), star-contraction CC on the core graph,
    * border assignment is one groupBy over the already-bounded pair
    * set. */
  val dbscanLabels: Q = (s, dir) => {
    val pts = dbscanPts(s, dir)
    // same coincident-point contraction as r_dbscan_core (see its
    // scaladoc): coreness, cluster AND role are position-level
    // invariants — border-ness of a non-core point means "a core
    // POSITION inside my eps-disk", identical for coincident points.
    // The expensive CC stage comes from the MATERIALIZED front; this
    // gate derives only the cheap position geometry (for borders).
    val pos = pts.groupBy(col("px"), col("py"))
      .agg(count(lit(1)).as("cnt"), min(col("pid")).as("posid"))
    val pairs = dbscanPosPairs(pos)
    val coreLab = dbscanCoreLabFront(s, dir)
    val borders = pairs.select(col("qid").as("posid"), col("cid"))
      .join(coreLab.select(col("posid").as("cid"), col("cluster")), Seq("cid"))
      .join(coreLab.select(col("posid")), Seq("posid"), "left_anti")
      .groupBy(col("posid")).agg(min(col("cluster")).as("cluster"))
    val labeled = coreLab.select(col("posid"), col("cluster"), lit("core").as("role"))
      .unionByName(borders.select(col("posid"), col("cluster"), lit("border").as("role")))
    pts.join(pos.select(col("px"), col("py"), col("posid")), Seq("px", "py"))
      .join(labeled, Seq("posid"), "left")
      .select(col("pid"), coalesce(col("cluster"), lit(-1L)).as("cluster"),
        coalesce(col("role"), lit("noise")).as("role"))
  }

  val dbscanLabelsSql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT c_custkey AS pid,
      |         CAST(c_custkey % 163 AS BIGINT) AS px,
      |         CAST(c_custkey % 157 AS BIGINT) AS py
      |  FROM customer),
      |nb AS (
      |  SELECT p.pid AS qid, q.pid AS cid
      |  FROM pts p JOIN pts q ON p.pid <> q.pid
      |  WHERE (p.px - q.px) * (p.px - q.px) + (p.py - q.py) * (p.py - q.py) <= 8),
      |cores AS (SELECT qid FROM nb GROUP BY 1 HAVING COUNT(*) >= 3),
      |e AS (
      |  SELECT qid AS a, cid AS b FROM nb
      |  WHERE qid < cid
      |    AND qid IN (SELECT qid FROM cores) AND cid IN (SELECT qid FROM cores)),
      |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |lab(v, lbl) AS (
      |  SELECT qid, qid FROM cores
      |  UNION
      |  SELECT s.b, l.lbl FROM lab l JOIN sym s ON s.a = l.v WHERE l.lbl < s.b),
      |corelab AS (
      |  SELECT c.qid AS pid, COALESCE(m.cluster, c.qid) AS cluster
      |  FROM cores c
      |  LEFT JOIN (SELECT v, MIN(lbl) AS cluster FROM lab GROUP BY 1) m ON m.v = c.qid),
      |border AS (
      |  SELECT n.qid AS pid, MIN(cl.cluster) AS cluster
      |  FROM nb n JOIN corelab cl ON cl.pid = n.cid
      |  WHERE n.qid NOT IN (SELECT pid FROM corelab)
      |  GROUP BY 1),
      |labeled AS (
      |  SELECT pid, cluster, 'core' AS role FROM corelab
      |  UNION ALL
      |  SELECT pid, cluster, 'border' AS role FROM border)
      |SELECT p.pid, COALESCE(l.cluster, -1) AS cluster,
      |       COALESCE(l.role, 'noise') AS role
      |FROM pts p LEFT JOIN labeled l ON l.pid = p.pid""".stripMargin

  /** GDAL-style sieve filter on the labeled regions: regions smaller
    * than 4 cells relabel to −1 (speckle removal after classification
    * — the post-processing step every land-use map runs). One
    * label-keyed size aggregation + one label-keyed join on top of
    * r_region_label; no broadcast (region count scales with the
    * raster, AQE picks the join side), no new CC work. */
  val sieveFilter: Q = (s, dir) => {
    val labeled = regionLabelFront(s, dir)
    val sizes = labeled.groupBy(col("label")).agg(count(lit(1)).as("n_cells"))
    labeled.join(sizes, Seq("label"))
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"), col("n_cells"),
        when(col("n_cells") < 4, lit(-1L)).otherwise(col("label")).as("label"))
  }

  val sieveFilterSql: String = {
    val w = 4 * TS
    s"""WITH RECURSIVE $pxCte,
       |m AS (SELECT gx, gy, gx * $w + gy AS id FROM pga
       |      WHERE CAST(v AS BIGINT) % 3 = 0),
       |lab(gx, gy, lbl) AS (
       |  SELECT gx, gy, id FROM m
       |  UNION
       |  SELECT c.gx, c.gy, l.lbl
       |  FROM lab l JOIN m c
       |    ON (ABS(c.gx - l.gx) + ABS(c.gy - l.gy)) = 1
       |  WHERE l.lbl < c.gx * $w + c.gy),
       |best AS (SELECT gx, gy, MIN(lbl) AS label FROM lab GROUP BY 1, 2),
       |px AS (
       |  SELECT CAST(gx // $TS AS INT) AS tile_col, CAST(gy // $TS AS INT) AS tile_row,
       |         CAST(gx % $TS AS INT) AS px, CAST(gy % $TS AS INT) AS py, label
       |  FROM best),
       |sz AS (SELECT label, COUNT(*) AS n_cells FROM px GROUP BY 1)
       |SELECT p.tile_col, p.tile_row, p.px, p.py, s.n_cells,
       |       CAST(CASE WHEN s.n_cells < 4 THEN -1 ELSE p.label END AS BIGINT) AS label
       |FROM px p JOIN sz s ON s.label = p.label""".stripMargin
  }

  /** Marching-squares cell census at threshold 100: every interior 2×2
    * pixel quad classifies into one of 16 contour-topology classes
    * (bit per above-threshold corner); classes 1–14 are the cells a
    * contour line crosses — the extraction step before vectorizing
    * isolines. Same zero-shuffle shape as r_glcm_texture: quads come
    * from the cells ARRAY via Column HOFs (no halo, no self-join),
    * the only Exchange is the ≤16-rows-per-tile census groupBy. Quads
    * with any NoData corner are excluded on both sides. */
  val contourCensus: Q = (s, dir) => {
    val T = 100.0
    val last = TS - 1
    val corner = filter(sequence(lit(0), lit(TS * (TS - 1) - 1)), i => i % TS =!= last)
    val quads = tilesA(s, dir).select(col("tile_col"), col("tile_row"),
      explode(filter(
        transform(corner, i => struct(
          element_at(col("cells"), i + 1).as("v00"),
          element_at(col("cells"), i + 2).as("v01"),
          element_at(col("cells"), i + TS + 1).as("v10"),
          element_at(col("cells"), i + TS + 2).as("v11"))),
        q => !isnan(q.getField("v00")) && !isnan(q.getField("v01"))
          && !isnan(q.getField("v10")) && !isnan(q.getField("v11")))).as("q"))
    val cls = (col("q.v00") > T).cast("int") +
      (col("q.v01") > T).cast("int") * 2 +
      (col("q.v10") > T).cast("int") * 4 +
      (col("q.v11") > T).cast("int") * 8
    quads.select(col("tile_col"), col("tile_row"), cls.as("cls"))
      .groupBy(col("tile_col"), col("tile_row"), col("cls"))
      .agg(count(lit(1)).as("n"))
  }

  val contourCensusSql: String =
    s"""WITH $pxCte,
       |q AS (
       |  SELECT a.tile_col, a.tile_row,
       |         CAST(a.v > 100.0 AS INT) + CAST(b.v > 100.0 AS INT) * 2
       |       + CAST(c.v > 100.0 AS INT) * 4 + CAST(d.v > 100.0 AS INT) * 8 AS cls
       |  FROM pxa a
       |  JOIN pxa b ON b.tile_col = a.tile_col AND b.tile_row = a.tile_row
       |             AND b.py = a.py AND b.px = a.px + 1
       |  JOIN pxa c ON c.tile_col = a.tile_col AND c.tile_row = a.tile_row
       |             AND c.py = a.py + 1 AND c.px = a.px
       |  JOIN pxa d ON d.tile_col = a.tile_col AND d.tile_row = a.tile_row
       |             AND d.py = a.py + 1 AND d.px = a.px + 1
       |  WHERE a.px < ${TS - 1} AND a.py < ${TS - 1})
       |SELECT tile_col, tile_row, cls, COUNT(*) AS n
       |FROM q GROUP BY 1, 2, 3""".stripMargin

  /** IDW gap fill (r_idw_fill): every NoData cell of an existing tile
    * is interpolated from the data cells in its 5×5 Chebyshev window by
    * inverse-squared-distance weights — the classic hole-filling
    * resample. Exactness trick: the window's only d² values are
    * {1,2,4,5,8}, so multiplying the IDW ratio through by lcm=40 turns
    * both accumulators into exact integer sums ([[graft.core.TileMath
    * .idwFill]]) and the fill is one double division — hash-safe with
    * no fold-order exposure. Scale shape: the same pad=2 halo exchange
    * as the focal family; the oracle rebuilds it as a bounded-window
    * non-equi join over the global pixel grid. */
  val idwFillQ: Q = (s, dir) =>
    Raster.idwFill(tilesA(s, dir), TS, TS)

  val idwFillSql: String =
    s"""WITH $pxCte,
       |tiles AS (SELECT DISTINCT tile_col, tile_row FROM pxa),
       |cells AS (
       |  SELECT t.tile_col, t.tile_row, CAST(cx.x AS INT) AS px, CAST(cy.y AS INT) AS py,
       |         t.tile_col * $TS + cx.x AS gx, t.tile_row * $TS + cy.y AS gy
       |  FROM tiles t, range(0, $TS) cx(x), range(0, $TS) cy(y)),
       |holes AS (
       |  SELECT c.* FROM cells c
       |  LEFT JOIN pga p ON p.gx = c.gx AND p.gy = c.gy
       |  WHERE p.v IS NULL),
       |agg AS (
       |  SELECT h.tile_col, h.tile_row, h.px, h.py,
       |         SUM((40 // ((p.gx - h.gx) * (p.gx - h.gx) + (p.gy - h.gy) * (p.gy - h.gy)))
       |             * CAST(p.v AS BIGINT)) AS num,
       |         SUM(40 // ((p.gx - h.gx) * (p.gx - h.gx) + (p.gy - h.gy) * (p.gy - h.gy))) AS den,
       |         COUNT(*) AS n
       |  FROM holes h JOIN pga p
       |    ON ABS(p.gx - h.gx) <= 2 AND ABS(p.gy - h.gy) <= 2
       |       AND NOT (p.gx = h.gx AND p.gy = h.gy)
       |  GROUP BY 1, 2, 3, 4)
       |SELECT tile_col, tile_row, px, py,
       |       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS v,
       |       CAST(n AS INT) AS n_src
       |FROM agg""".stripMargin

  /** Global Moran's I (rook adjacency, binary weights) — the
    * spatial-autocorrelation companion to r_getis_ord's per-cell
    * hotspot score: ONE number for "is this raster clustered,
    * dispersed, or random", plus its null expectation E[I] = -1/(N-1).
    * Distributed shape: the pair sums ride the standard pad=1 halo
    * exchange ([[graft.ops.Raster.rookPairStats]] — each tile reduces
    * its pairs to three exact longs), the value moments are one scan,
    * and the final statistic is a fixed-order double expression over
    * exact dsum aggregates, so the gate hash-matches bitwise. Uses the
    * cross-product expansion Σwij(xi-x̄)(xj-x̄) =
    * Σxixj - x̄·Σ(xi+xj) + x̄²·W to keep every aggregate integral. */
  val moransI: Q = (s, dir) => {
    val pa = Raster.rookPairStats(tilesA(s, dir), TS, TS)
      .agg(dsum(col("pxy")).as("pxy"), dsum(col("xw")).as("xw"),
        sum(col("w")).cast("double").as("w"))
    val st = pixelsA(s, dir).agg(
      count(lit(1)).cast("double").as("n"),
      dsum(col("v").cast("long")).as("sx"),
      dsum(col("v").cast("long") * col("v").cast("long")).as("qx"))
    val mean = col("sx") / col("n")
    st.crossJoin(broadcast(pa)).select(
      col("n").cast("long").as("n_cells"),
      col("w").cast("long").as("w_pairs"),
      mean.as("mean_v"),
      ((col("n") / col("w"))
        * ((col("pxy") - mean * (lit(2.0) * col("xw")) + mean * mean * col("w"))
          / (col("qx") - col("sx") * col("sx") / col("n")))).as("morans_i"),
      (lit(-1.0) / (col("n") - 1.0)).as("e_i"))
  }

  val moransISql: String =
    s"""WITH $pxCte,
       |adj AS (
       |  SELECT CAST(c.v AS BIGINT) AS xi, CAST(p.v AS BIGINT) AS xj
       |  FROM pga c JOIN pga p
       |    ON ABS(p.gx - c.gx) + ABS(p.gy - c.gy) = 1),
       |pa AS (SELECT ${dsumSql("xi * xj")} AS pxy, ${dsumSql("xi")} AS xw,
       |              CAST(COUNT(*) AS DOUBLE) AS w FROM adj),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |              ${dsumSql("CAST(v AS BIGINT)")} AS sx,
       |              ${dsumSql("CAST(v AS BIGINT) * CAST(v AS BIGINT)")} AS qx
       |       FROM pga)
       |SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
       |       sx / n AS mean_v,
       |       (n / w) * ((pxy - (sx / n) * (2.0 * xw) + (sx / n) * (sx / n) * w)
       |         / (qx - sx * sx / n)) AS morans_i,
       |       -1.0 / (n - 1.0) AS e_i
       |FROM st CROSS JOIN pa""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "r_morans_i" -> (moransI, Some(moransISql)),
    "r_idw_fill" -> (idwFillQ, Some(idwFillSql)),
    "r_contour_census" -> (contourCensus, Some(contourCensusSql)),
    "r_sieve_filter" -> (sieveFilter, Some(sieveFilterSql)),
    "r_dbscan_labels" -> (dbscanLabels, Some(dbscanLabelsSql)),
    "r_dbscan_core" -> (dbscanCore, Some(dbscanCoreSql)),
    "r_line_profile" -> (lineProfile, Some(lineProfileSql)),
    "r_edge_census" -> (edgeCensus, Some(edgeCensusSql)),
    "r_nn_within" -> (nnWithin, Some(nnWithinSql)),
    "r_hexbin" -> (hexbin, Some(hexbinSql)),
    "r_poly_measures" -> (polyMeasures, Some(polyMeasuresSql)),
    "r_terrain_indices" -> (terrainIdx, Some(terrainIdxSql)),
    "r_majority_filter" -> (majority, Some(majoritySql)),
    "r_region_label" -> (regionLabel, Some(regionLabelSql)),
    "r_region_stats" -> (regionStats, Some(regionStatsSql)),
    "r_cost_distance" -> (costDistance, Some(costDistanceSql)),
    "r_zonal_stats" -> (zonalStats, Some(zonalStatsSql)),
    "r_band_stack" -> (bandStack, Some(bandStackSql)),
    "r_multiband_ndvi" -> (multibandNdvi, Some(multibandNdviSql)),
    "r_band_select" -> (bandSelect, Some(bandSelectSql)),
    "r_pixelize_roundtrip" -> (pixelizeRoundtrip, Some(pixelizeRoundtripSql)),
    "r_ndvi_join" -> (ndvi, Some(ndviSql)),
    "r_cloud_mask" -> (cloudMask, Some(cloudMaskSql)),
    "r_histogram_stats" -> (histogramStats, Some(histogramStatsSql)),
    "r_histogram_bins" -> (histogramBins, Some(histogramBinsSql)),
    "r_focal_mean" -> (focalMean, Some(focalMeanSql)),
    "r_slope" -> (slope, Some(slopeSql)),
    "r_convolve" -> (convolve, Some(convolveSql)),
    "r_hillshade" -> (hillshade, Some(hillshadeSql)),
    "r_flow_dir" -> (flowDir, Some(flowDirSql)),
    "r_flow_accum" -> (flowAccum, Some(flowAccumSql)),
    "r_basin_label" -> (basinLabel, Some(basinLabelSql)),
    "r_glcm_texture" -> (glcmTexture, Some(glcmTextureSql)),
    "r_los_visibility" -> (losVisibility, Some(losVisibilitySql)),
    "r_zonal_histogram" -> (zonalHistogram, Some(zonalHistogramSql)),
    "r_rect_join" -> (rectJoin, Some(rectJoinSql)),
    "r_aspect" -> (aspect, Some(aspectSql)),
    "r_terrain" -> (terrain, Some(terrainSql)),
    "r_getis_ord" -> (getisOrd, Some(getisOrdSql)),
    "r_pyramid_up" -> (pyramid, Some(pyramidSql)),
    "r_zoom_resample_up" -> (zoomUp, Some(zoomUpSql)),
    "r_merge_upsert" -> (mergeUpsert, Some(mergeUpsertSql)),
    "r_rasterize" -> (rasterize, Some(rasterizeSql)),
    "r_kde" -> (kde, Some(kdeSql)),
    "r_rasterize_poly" -> (rasterizePoly, Some(rasterizePolySql)),
    "r_point_in_poly" -> (pointInPoly, Some(pointInPolySql)),
    "r_normalize" -> (normalize, Some(normalizeSql)),
  )
}

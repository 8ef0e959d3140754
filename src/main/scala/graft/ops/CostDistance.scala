package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source cost distance (weighted distance to the nearest source
  * cell) over a pixel grid — the proximity/suitability primitive of the
  * raster toolbox the reference builds on (its GeoTrellis stack ships
  * `costdistance` beside the focal ops used by
  * `SpatialGetisOrd.scala:69-79`; land-use suitability buffering is the
  * canonical consumer).
  *
  * Semantics (integer-exact so the DuckDB oracle can replay them
  * bitwise): every cell carries an integer entry cost ≥ 1; sources have
  * distance 0; stepping INTO cell c from any 8-neighbor costs cost(c);
  * d(c) = min over neighbors n of d(n) + cost(c). Cells whose minimal
  * accumulated cost exceeds `cap` — or with no reachable source — are
  * dropped (the oracle's recursive walk prunes partial sums > cap, and
  * prefix sums along a minimal path never exceed its total, so both
  * engines keep exactly the cells with d ≤ cap).
  *
  * Scale design — distributed per-tile Dijkstra + halo exchange, the
  * standard cluster decomposition for cost surfaces: each round solves
  * every tile EXACTLY with a local priority-queue Dijkstra seeded by the
  * tile's current distances plus a 1-cell halo of neighbor-tile border
  * distances, then re-exchanges borders; the fixpoint is reached when a
  * round changes nothing. Rounds ≈ tile-graph diameter (relaxation
  * crosses a whole tile per round, NOT one pixel per round — a 1000×
  * wider grid at the same tile size only grows rounds linearly in tile
  * count across the path), each round shuffles one row per cell plus a
  * ~(4/ts)× halo fringe, and the plan discipline matches
  * [[Raster.flowAccumulation]]: eager localCheckpoint every round with
  * superseded blocks freed explicitly, so the analyzed plan stays O(1)
  * per round.
  */
object CostDistance {

  /** One grid cell in flight. dist = -1 encodes "unreached". */
  case class Cell(gx: Long, gy: Long, cost: Long, dist: Long, halo: Boolean)

  /** Round output: updated own cells + change flag. */
  case class Relaxed(gx: Long, gy: Long, cost: Long, dist: Long, changed: Long)

  private val Inf = Long.MaxValue

  /** Exact local Dijkstra over one tile's cells. Halo rows are immutable
    * seeds (their distances belong to the neighbor tile); only own cells
    * relax. Distances above `cap` stay unreached. */
  private def tileDijkstra(cells: Iterator[Cell], cap: Long): Iterator[Relaxed] = {
    val all = cells.toArray
    val own = all.filter(!_.halo)
    if (own.isEmpty) return Iterator.empty
    val ownIdx = new mutable.HashMap[(Long, Long), Int]
    own.zipWithIndex.foreach { case (c, i) => ownIdx((c.gx, c.gy)) = i }
    val dist = own.map(c => if (c.dist < 0) Inf else c.dist)
    // seeds: every finite distance in scope, own or halo
    val pq = new mutable.PriorityQueue[(Long, Long, Long)]()(Ordering.by(t => -t._1))
    own.foreach(c => if (c.dist >= 0) pq.enqueue((c.dist, c.gx, c.gy)))
    all.foreach(c => if (c.halo && c.dist >= 0) pq.enqueue((c.dist, c.gx, c.gy)))
    while (pq.nonEmpty) {
      val (d, x, y) = pq.dequeue()
      val stale = ownIdx.get((x, y)).exists(i => dist(i) != d)
      if (!stale) {
        var dx = -1
        while (dx <= 1) {
          var dy = -1
          while (dy <= 1) {
            if (dx != 0 || dy != 0) ownIdx.get((x + dx, y + dy)).foreach { i =>
              val nd = d + own(i).cost
              if (nd <= cap && nd < dist(i)) {
                dist(i) = nd
                pq.enqueue((nd, own(i).gx, own(i).gy))
              }
            }
            dy += 1
          }
          dx += 1
        }
      }
    }
    own.iterator.zipWithIndex.map { case (c, i) =>
      val nd = if (dist(i) == Inf) -1L else dist(i)
      Relaxed(c.gx, c.gy, c.cost, nd, if (nd != c.dist) 1L else 0L)
    }
  }

  /** @param cells (gx: long, gy: long, cost: long ≥ 1, src: boolean)
    * @return (gx, gy, dist) for every cell whose minimal accumulated
    *         cost from a source is ≤ cap */
  def costDistance(cells: DataFrame, tileSize: Int, cap: Long, maxIter: Int = 64): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._

    var ck = Materialize.checkpointFresh(cells
      .select(col("gx").cast("long").as("gx"), col("gy").cast("long").as("gy"),
        col("cost").cast("long").as("cost"),
        when(col("src"), 0L).otherwise(-1L).as("dist")))
    // scale-adaptive tiling ([[LocalGraph]] size gate): the converged
    // fixpoint is TILING-INDEPENDENT (the unique solution of the capped
    // Bellman equations over positive entry costs), so at or under the
    // gate the whole grid becomes ONE tile — round 1's per-tile Dijkstra
    // is then globally exact and the loop exits after the round-2
    // no-change check, through the IDENTICAL code path. Past the gate
    // the tiling is unchanged.
    val limit = LocalGraph.limit(spark)
    val n = ck.count()
    val oneTile = n <= limit
    LocalGraph.record("costDistance", if (oneTile) "one-tile" else "tiled", n, limit)
    val ts = if (oneTile) 1L << 40 else tileSize.toLong
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val state = ck.select(col("gx"), col("gy"), col("cost"), col("dist"))
      val own = state
        .withColumn("tx", expr(s"gx div $ts")).withColumn("ty", expr(s"gy div $ts"))
        .withColumn("halo", lit(false))
      // border cells also appear, immutable, in each adjacent tile's group
      val fringe = state
        .where(pmod(col("gx"), lit(ts)).isin(0, ts - 1) || pmod(col("gy"), lit(ts)).isin(0, ts - 1))
        .withColumn("o", explode(array((for (ox <- -1 to 1; oy <- -1 to 1 if ox != 0 || oy != 0)
          yield struct(lit(ox).as("ox"), lit(oy).as("oy"))): _*)))
        .select(col("gx"), col("gy"), col("cost"), col("dist"),
          expr(s"(gx + o.ox) div $ts").as("tx"), expr(s"(gy + o.oy) div $ts").as("ty"))
        .where(col("tx") =!= expr(s"gx div $ts") || col("ty") =!= expr(s"gy div $ts"))
        .distinct()
        .withColumn("halo", lit(true))
      val relaxed = own.unionByName(fringe)
        .select(col("tx"), col("ty"), col("gx"), col("gy"), col("cost"), col("dist"), col("halo"))
        .as[(Long, Long, Long, Long, Long, Long, Boolean)]
        .groupByKey { case (tx, ty, _, _, _, _, _) => (tx, ty) }
        .flatMapGroups((_: (Long, Long), rows: Iterator[(Long, Long, Long, Long, Long, Long, Boolean)]) =>
          tileDijkstra(rows.map { case (_, _, gx, gy, cost, dist, halo) =>
            Cell(gx, gy, cost, dist, halo)
          }, cap))
        .toDF()
      val next = Materialize.checkpointFresh(relaxed)
      changed = next.agg(sum(col("changed"))).first().getLong(0)
      Materialize.free(ck)
      ck = next
      it += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger("graft.ops.CostDistance").warn(
        s"costDistance exited at maxIter=$maxIter still relaxing — distances may be partial")
    ck.where(col("dist") >= 0).select(col("gx"), col("gy"), col("dist"))
  }
}

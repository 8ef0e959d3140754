package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector point-in-polygon joins, Spark-first.
  *
  * The containment predicate is the classic even-odd ray cast
  * expressed entirely in Column HOFs (filter + size over the edge
  * index sequence) — no UDF, no geometry library — so it runs inside
  * the JVM expression evaluator and ships nothing but doubles.
  *
  * The join itself is grid-binned, NOT a cross join: polygons explode
  * to the grid cells their bbox covers (a handful of rows each for a
  * sane cell size), points key to the single cell they fall in, and
  * the equi-join on the cell key + exact predicate replaces the
  * all-pairs test. Because a point lives in exactly one cell, a
  * candidate (point, polygon) pair appears at most once — no
  * post-join dedup. At 100 TB this is the shape that survives: the
  * shuffle is on cell keys (bounded by the grid, salt-able if a cell
  * is hot), polygon replication is bbox-area / cell-area, and the
  * exact test runs only on co-located candidates. */
object Spatial {

  /** Even-odd containment of (px, py) in the single-ring polygon whose
    * vertices are the parallel arrays xs/ys (closing edge implied).
    * Boundary behavior is the ray cast's usual half-open rule; callers
    * wanting deterministic results keep points off edges/vertices.
    * Kept as the declarative reference formulation — [[gridJoin]] uses
    * [[pointInRingKernel]], the bit-identical JVM kernel, after the
    * measured trade (HOF lambdas evaluate interpreted: 3.03 s vs
    * 1.16 s warm on r_point_in_poly at sf0.1 — same class of result
    * as the shingles3 measurement). */
  def pointInRing(px: Column, py: Column, xs: Column, ys: Column): Column = {
    val n = size(xs)
    val crossings = filter(sequence(lit(0), n - 1), i => {
      val j = pmod(i + 1, n)
      val xi = element_at(xs, i + 1); val yi = element_at(ys, i + 1)
      val xj = element_at(xs, j + 1); val yj = element_at(ys, j + 1)
      ((yi > py) =!= (yj > py)) &&
        (px < (xj - xi) * (py - yi) / (yj - yi) + xi)
    })
    size(crossings) % 2 === 1
  }

  /** JVM kernel twin of [[pointInRing]] — identical arithmetic (same
    * comparisons, same division order, so identical float behavior);
    * 2.6x faster than the interpreted HOF on the gate (BASELINE.md). */
  val pointInRingKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((px: Double, py: Double, xs: Array[Double], ys: Array[Double]) => {
      val n = xs.length
      var crossings = 0
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val xi = xs(i); val yi = ys(i)
        val xj = xs(j); val yj = ys(j)
        if (((yi > py) != (yj > py)) && px < (xj - xi) * (py - yi) / (yj - yi) + xi)
          crossings += 1
        i += 1
      }
      crossings % 2 == 1
    })

  /** Grid-binned point-in-polygon join. `points` needs (px, py),
    * `polys` needs (xs, ys); all other columns of both sides ride
    * through. `cell` is the grid pitch — size it near the typical
    * polygon diameter so replication stays a small constant. */
  def gridJoin(points: DataFrame, polys: DataFrame, cell: Double): DataFrame = {
    val binned = polys
      .withColumn("_gx", explode(sequence(
        floor(array_min(col("xs")) / cell).cast("long"),
        floor(array_max(col("xs")) / cell).cast("long"))))
      .withColumn("_gy", explode(sequence(
        floor(array_min(col("ys")) / cell).cast("long"),
        floor(array_max(col("ys")) / cell).cast("long"))))
    points
      .withColumn("_gx", floor(col("px") / cell).cast("long"))
      .withColumn("_gy", floor(col("py") / cell).cast("long"))
      .join(binned, Seq("_gx", "_gy"))
      .where(pointInRingKernel(col("px"), col("py"), col("xs"), col("ys")))
      .drop("_gx", "_gy")
  }

  /** Bounded nearest-neighbor join: for each point the nearest site
    * within Euclidean radius `r` (ties → smallest site id) — the form
    * of NN join that SCALES: both sides bin at cell = r, sites
    * replicate to their 3x3 cell ring (constant 9x), points key to one
    * cell, and the candidate equi-join provably contains every site
    * within r of the point. Unbounded "nearest anywhere" needs
    * data-dependent ring expansion — real engines (and this one) ship
    * the radius-bounded form and let callers widen r. `points` needs
    * (pid, px, py); `sites` needs (sid, sx, sy). Output: one row per
    * matched point — (pid, px, py, sid, d2). Distances on
    * integer-valued coordinates are exact. */
  def nnWithin(points: DataFrame, sites: DataFrame, r: Double): DataFrame = {
    val ring = explode(sequence(lit(-1L), lit(1L)))
    val binned = sites
      .withColumn("_dx", ring).withColumn("_dy", ring)
      .withColumn("_gx", floor(col("sx") / r).cast("long") + col("_dx"))
      .withColumn("_gy", floor(col("sy") / r).cast("long") + col("_dy"))
      .drop("_dx", "_dy")
    val cand = points
      .withColumn("_gx", floor(col("px") / r).cast("long"))
      .withColumn("_gy", floor(col("py") / r).cast("long"))
      .join(binned, Seq("_gx", "_gy"))
      .withColumn("d2", (col("px") - col("sx")) * (col("px") - col("sx"))
        + (col("py") - col("sy")) * (col("py") - col("sy")))
      .where(col("d2") <= lit(r * r))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("d2"), col("sid"))
    cand.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("pid"), col("px"), col("py"), col("sid"), col("d2"))
  }

  /** Hexagonal-bin center assignment by the two-offset-lattice
    * nearest-center rule (the hexbin algorithm matplotlib popularized):
    * hex centers form lattice A = (2W·i, 2H·j) and the half-offset
    * lattice B = ((2i+1)·W, (2j+1)·H); a point belongs to the nearer
    * of its two candidate centers under the anisotropic squared metric
    * (H·dx)² + (W·dy)² (Euclidean in lattice-normalized coordinates),
    * ties to lattice A. With H/W ≈ √3 the cells are regular hexagons.
    * INTEGER-EXACT throughout: candidate centers come from floor
    * division on long coordinates and the metric is integer products,
    * so the assignment is bit-portable across engines — no float
    * rounding at cell borders, the failure mode of float hexbins.
    * Per-row map work, no shuffle; the caller's groupBy on the center
    * is the only exchange, keyed on cell (bounded cardinality), which
    * is exactly the aggregation shape that survives 100 TB. */
  def hexCenter(px: Column, py: Column, w: Int, h: Int): Column = {
    // nearest lattice multiple via pure integer arithmetic:
    // round-to-multiple(c, m) = (c + m/2) - pmod(c + m/2, m); the B
    // lattice shifts by half a period. pmod keeps it exact for any
    // sign (coords here are nonneg longs).
    def near(c: Column, s: Int, off: Boolean): Column = {
      val m = lit(2L * s)
      if (off) { val t = c.cast("long"); t - pmod(t, m) + s }
      else { val t = c.cast("long") + s; t - pmod(t, m) }
    }
    val (ax, ay) = (near(px, w, off = false), near(py, h, off = false))
    val (bx, by) = (near(px, w, off = true), near(py, h, off = true))
    def d2(cx: Column, cy: Column): Column = {
      val (dx, dy) = (px - cx, py - cy)
      lit(h.toLong * h) * dx * dx + lit(w.toLong * w) * dy * dy
    }
    val useA = d2(ax, ay) <= d2(bx, by)
    struct(when(useA, ax).otherwise(bx).as("cx"),
      when(useA, ay).otherwise(by).as("cy"))
  }

  /** One-left rotation of a ring's vertex array: (v1..vn) → (v2..vn, v1)
    * — pairs each vertex with its successor (closing edge included). */
  private def rotLeft(a: Column): Column =
    concat(slice(a, lit(2), size(a) - 1), slice(a, 1, 1))

  /** Simple-polygon measures as pure Column HOFs over INTEGER-valued
    * vertex arrays (xs, ys as longs, counter-clockwise ring):
    *
    *   area2    = Σ (x_i·y_{i+1} − x_{i+1}·y_i)      (twice the signed
    *              shoelace area — kept doubled so it stays a BIGINT)
    *   perim_sq = Σ ((x_{i+1}−x_i)² + (y_{i+1}−y_i)²)  (squared edge
    *              lengths — the exact-integer length census; callers
    *              wanting metric perimeter pay per-edge sqrts)
    *   cx6/cy6  = Σ (v_i + v_{i+1})·cross_i          (centroid
    *              numerators; centroid = num / (3·area2))
    *
    * All four are integer sums — order-free exact — so the measures are
    * bit-portable; the only float op is the caller's final centroid
    * division. Per-row map work, no shuffle. */
  def ringMeasures(xs: Column, ys: Column): Column = {
    val e = arrays_zip(xs.as("x0"), ys.as("y0"),
      rotLeft(xs).as("x1"), rotLeft(ys).as("y1"))
    def cross(s: Column) =
      s.getField("x0") * s.getField("y1") - s.getField("x1") * s.getField("y0")
    def sumL(arr: Column): Column = aggregate(arr, lit(0L), (acc, v) => acc + v)
    struct(
      sumL(transform(e, cross(_))).as("area2"),
      sumL(transform(e, s =>
        (s.getField("x1") - s.getField("x0")) * (s.getField("x1") - s.getField("x0"))
          + (s.getField("y1") - s.getField("y0")) * (s.getField("y1") - s.getField("y0"))))
        .as("perim_sq"),
      sumL(transform(e, s => (s.getField("x0") + s.getField("x1")) * cross(s))).as("cx6"),
      sumL(transform(e, s => (s.getField("y0") + s.getField("y1")) * cross(s))).as("cy6"))
  }
}

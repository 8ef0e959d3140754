package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance for the region-label front (connected
  * components of a mask raster under 4-connectivity, label = minimum
  * global cell id of the region — the GIS "region group" op,
  * reference `SpatialGetisOrd.scala`-family zonal semantics).
  *
  * The batch-rebuild path ([[labelCells]], used by the r_region_label
  * gate) re-runs the pointer-jumping CC loop over the whole raster.
  * At 100 TB the labeled raster is a persisted product (the
  * regionLabelFront) and new tiles arrive through the K2 upsert
  * (`LayerStore.merge`); relabeling the world per batch is the wrong
  * cost. [[appendTiles]] is the IVM twin: CC labels are stable under
  * local relabel + boundary merge, so an APPEND-ONLY tile batch needs
  *
  *   1. edges among the batch cells themselves (tile-local work),
  *   2. boundary edges from batch cells to existing front cells —
  *      only the 4 orthogonally adjacent tiles of each batch tile can
  *      hold one (partition-prunable by tile key at scale),
  *   3. a CC run over the CONTRACTED graph: batch cells + the touched
  *      OLD LABELS as single nodes (an existing region is internally
  *      connected, so one edge into any of its cells connects all of
  *      it; its label is its min cell id, so component minima over
  *      {batch ids} ∪ {old labels} equal the rebuilt labels exactly),
  *   4. a broadcast remap of the touched old labels over the existing
  *      front (map-side — the front is never re-shuffled) plus the
  *      freshly labeled batch cells.
  *
  * The CC graph is |batch cells| + |touched regions| nodes regardless
  * of front size — the whole point. Labels are exact integers, so
  * append == rebuild is bit-for-bit (IncrementalRegionFrontSpec).
  *
  * DELETION (a replaced tile dropping mask cells) can split a region
  * and is NOT expressible as a monotone merge; callers detecting a
  * replaced tile key must rebuild (the require below makes the
  * contract loud instead of silently wrong).
  */
object RegionIncrement {

  /** Batch path: label mask cells (gx BIGINT, gy BIGINT) by connected
    * component under 4-connectivity; label = min global cell id
    * (id = gx * gridWidth + gy). Returns (gx, gy, label). The mask
    * adjacency becomes an edge list via two shifted self-equi-joins
    * (no neighborhood explode); labels come from the shared
    * pointer-jumping CC primitive (TextOps.connectedComponents). */
  def labelCells(cells: DataFrame, gridWidth: Long): DataFrame = {
    // r11: the cell table is consumed 4+ times (both shifted self-joins,
    // the CC stage's two passes, the final label join); un-checkpointed,
    // each consumer re-executed the full pixelize lineage. One eager
    // materialization of the operator's working set (the mask cells)
    // turns every consumer into a cached-block scan (guide §5).
    // Not checkpointFresh: the inherited estimate broadcasts the self-joins
    // (a fresh leaf shuffles them: 11 → 13-14 builder jobs at sf0.1, Prof).
    val m = cells.select(col("gx"), col("gy"))
      .withColumn("id", col("gx") * gridWidth + col("gy"))
      .localCheckpoint(true)
    def shifted(dx: Int, dy: Int) = m.select(
      (col("gx") + dx).as("gx"), (col("gy") + dy).as("gy"), col("id").as("b"))
    val edges = m.join(shifted(1, 0), Seq("gx", "gy")).select(col("id").as("a"), col("b"))
      .unionByName(m.join(shifted(0, 1), Seq("gx", "gy")).select(col("id").as("a"), col("b")))
    val cc = graft.text.TextOps.connectedComponents(edges)
    m.join(cc, m("id") === cc("node"), "left")
      .select(col("gx"), col("gy"), coalesce(col("cluster"), col("id")).as("label"))
  }

  /** IVM path: fold an append-only tile batch into an existing labeled
    * front.
    *
    * @param oldFront  (tile_col INT, tile_row INT, px INT, py INT,
    *                  label BIGINT) — the persisted region-label front.
    * @param newCells  (tile_col, tile_row, px, py) — mask cells of the
    *                  appended tiles; their tile keys must be DISJOINT
    *                  from the front's (append-only contract, checked).
    * @return the updated front, bit-for-bit equal to a full rebuild
    *         over old ∪ new.
    */
  def appendTiles(oldFront: DataFrame, newCells: DataFrame,
                  tileSize: Int, gridWidth: Long): DataFrame = {
    val ts = tileSize
    val newKeys = newCells.select(col("tile_col"), col("tile_row")).distinct()

    // append-only contract: a batch key already present means REPLACE
    // semantics (possible cell deletion -> possible region split) and
    // must take the rebuild path instead. One tiny job over the
    // contracted tile-key domain.
    val replaced = newKeys
      .join(oldFront.select(col("tile_col"), col("tile_row")).distinct(),
        Seq("tile_col", "tile_row"), "left_semi")
      .limit(1).collect()
    require(replaced.isEmpty,
      s"appendTiles is append-only; tile ${replaced.headOption.mkString} already exists in the front " +
        "(a replaced tile can delete cells and split regions — rebuild instead)")

    val nc = newCells.select(
      (col("tile_col").cast("long") * ts + col("px")).as("gx"),
      (col("tile_row").cast("long") * ts + col("py")).as("gy"))
      .withColumn("id", col("gx") * gridWidth + col("gy"))

    // 1. batch-internal adjacency (two shifted self-equi-joins)
    def shifted(dx: Int, dy: Int) = nc.select(
      (col("gx") + dx).as("gx"), (col("gy") + dy).as("gy"), col("id").as("b"))
    val nnEdges = nc.join(shifted(1, 0), Seq("gx", "gy")).select(col("id").as("a"), col("b"))
      .unionByName(nc.join(shifted(0, 1), Seq("gx", "gy")).select(col("id").as("a"), col("b")))

    // 2. boundary edges into the existing front: a batch cell's
    // orthogonal neighbor lies either in the batch or in one of the 4
    // orthogonally adjacent tiles (gx±1 keeps tile_row, gy±1 keeps
    // tile_col), so the front scan prunes to that key set — at scale
    // this is a partition-pruned point read, never a front scan.
    val nbrKeys = newKeys.select(
      explode(array(
        struct((col("tile_col") + 1).as("tile_col"), col("tile_row").as("tile_row")),
        struct((col("tile_col") - 1).as("tile_col"), col("tile_row").as("tile_row")),
        struct(col("tile_col").as("tile_col"), (col("tile_row") + 1).as("tile_row")),
        struct(col("tile_col").as("tile_col"), (col("tile_row") - 1).as("tile_row")))).as("k"))
      .select(col("k.tile_col"), col("k.tile_row")).distinct()
    val oldNear = oldFront
      .join(broadcast(nbrKeys), Seq("tile_col", "tile_row"), "left_semi")
      .select(
        (col("tile_col").cast("long") * ts + col("px")).as("gx"),
        (col("tile_row").cast("long") * ts + col("py")).as("gy"),
        col("label"))
    // contract the touched old region to its LABEL node: one edge into
    // any of its cells connects the whole (internally connected) region
    val nbrCells = nc.select((col("gx") + 1).as("gx"), col("gy"), col("id"))
      .unionByName(nc.select((col("gx") - 1).as("gx"), col("gy"), col("id")))
      .unionByName(nc.select(col("gx"), (col("gy") + 1).as("gy"), col("id")))
      .unionByName(nc.select(col("gx"), (col("gy") - 1).as("gy"), col("id")))
    val bEdges = nbrCells.join(oldNear, Seq("gx", "gy"))
      .select(col("id").as("a"), col("label").as("b"))

    // 3. CC over the contracted graph. Component min over
    // {batch cell ids} ∪ {old labels} = min cell id of the merged
    // region (an old label IS its region's min id) — rebuild-exact.
    val cc = graft.text.TextOps.connectedComponents(nnEdges.unionByName(bEdges))

    val newLabeled = nc.join(cc, nc("id") === cc("node"), "left")
      .select(
        expr(s"gx div $ts").cast("int").as("tile_col"),
        expr(s"gy div $ts").cast("int").as("tile_row"),
        (col("gx") % ts).cast("int").as("px"),
        (col("gy") % ts).cast("int").as("py"),
        coalesce(col("cluster"), col("id")).as("label"))

    // 4. touched-label remap, broadcast over the unmoved front (labels
    // only ever DECREASE on merge: min over a superset)
    val touched = bEdges.select(col("b").as("label")).distinct()
    val remap = cc.join(touched, cc("node") === touched("label"))
      .select(col("label"), col("cluster").as("new_label"))
    val updatedOld = oldFront.join(broadcast(remap), Seq("label"), "left")
      .select(col("tile_col"), col("tile_row"), col("px"), col("py"),
        coalesce(col("new_label"), col("label")).as("label"))

    updatedOld.unionByName(newLabeled)
  }
}

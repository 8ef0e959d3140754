package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance for the DBSCAN core-label front (the
  * density twin of [[RegionIncrement]]): points arrive in append-only
  * batches and the persisted (position, cluster) assignment is folded
  * forward instead of re-running the clustering over all points.
  *
  * Works on the COINCIDENT-POINT CONTRACTION the batch gates use
  * (r_dbscan_core scaladoc): coreness and cluster membership are
  * functions of the POSITION — every point at (px,py) shares the
  * eps-disk, the neighbor count nn = Σ counts(disk) − 1, and the
  * label. Under APPEND-ONLY batches the maintenance is monotone:
  *
  *   - position counts only GROW, so nn only grows, so a core
  *     position never loses coreness (no retraction path — unlike
  *     deletion, which would need a rebuild, and is refused the way
  *     RegionIncrement refuses replaced tiles: there is nothing to
  *     refuse here because points carry no identity to delete);
  *   - nn changes ONLY inside the eps-disks of positions the batch
  *     touched — one grid-binned join of the delta against the
  *     position front (3×3 cells cover eps), never position×position;
  *   - NEWLY-core positions bring the only new edges: newly-core ↔
  *     any core within eps (an old-core↔old-core pair was already an
  *     edge). Old clusters enter the CC contracted to their LABEL
  *     node; labels are min core posids, new posids may be SMALLER
  *     than an old label (an old position crossing the core threshold
  *     keeps its original small id), and component minima over
  *     {newly-core posids} ∪ {touched labels} equal the rebuilt
  *     labels exactly — same algebra as RegionIncrement/
  *     CorpusPrepStream, third domain.
  *
  * The CC graph is (newly-core + touched clusters)-sized regardless
  * of front size; the front update is a broadcast label remap.
  * IncrementalDbscanFrontSpec proves append == rebuild bit-for-bit
  * against the r_dbscan_core gate at every batch boundary.
  *
  * State layout under `root/` (versioned parquet dirs, latest wins —
  * readers of v<N> are never overwritten in place):
  *   - `positions/v<N>`: (px, py, cnt, posid)  posid = min pid here
  *   - `nn/v<N>`:        (posid, nn)           eps-disk point count − 1
  *   - `corelab/v<N>`:   (posid, cluster)      core positions only
  */
object DbscanIncrement {

  final case class State(root: String) {
    val positionsRoot: String = s"$root/positions"
    val nnRoot: String = s"$root/nn"
    val coreLabRoot: String = s"$root/corelab"
  }

  private def latestVersion(root: String): Int = {
    val d = new java.io.File(root)
    if (!d.exists()) 0
    else d.listFiles().filter(_.getName.startsWith("v"))
      .map(_.getName.drop(1).toInt).foldLeft(0)(math.max)
  }

  private def readFront(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    val v = latestVersion(root)
    if (v == 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(s"$root/v$v")
  }

  private def writeFront(df: DataFrame, root: String): Unit =
    df.write.mode("overwrite").parquet(s"$root/v${latestVersion(root) + 1}")

  private val posSchema = StructType(Seq(
    StructField("px", LongType), StructField("py", LongType),
    StructField("cnt", LongType), StructField("posid", LongType)))
  private val nnSchema = StructType(Seq(
    StructField("posid", LongType), StructField("nn", LongType)))
  private val labSchema = StructType(Seq(
    StructField("posid", LongType), StructField("cluster", LongType)))

  /** 3×3 grid-cell ring of a position frame — candidate generation for
    * eps = √eps2 < cell (the batch gates' binning). `x`/`y` name the
    * frame's coordinate columns. */
  private def ringed(pos: DataFrame, cell: Int, x: String, y: String): DataFrame =
    pos
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("cx", expr(s"$x div $cell") + col("dx"))
      .withColumn("cy", expr(s"$y div $cell") + col("dy"))
      .drop("dx", "dy")

  private def inDisk(ax: String, ay: String, bx: String, by: String, eps2: Long) =
    (col(ax) - col(bx)) * (col(ax) - col(bx)) +
      (col(ay) - col(by)) * (col(ay) - col(by)) <= eps2

  /** Fold one append-only batch of points (pid BIGINT, px BIGINT,
    * py BIGINT) into the fronts. Points must arrive in ascending pid
    * order across batches (in-batch disorder is fine — minima are
    * taken in-batch), so a position's posid = min pid is decided by
    * its first batch, the same ordering contract as the streaming
    * corpus-prep stages. */
  def appendPoints(batch: DataFrame, st: State,
                   eps2: Long = 8L, minNn: Long = 3L, cell: Int = 3): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession

    // r12 unpersist discipline: every eager checkpoint in this method
    // is fully consumed by the front writes below — free them before
    // returning instead of pinning storage for the session lifetime.
    import graft.ops.Materialize.checkpointFresh
    val delta = checkpointFresh(batch.groupBy(col("px"), col("py"))
      .agg(count(lit(1)).as("cnt_d"), min(col("pid")).as("minpid")))

    // 1. position front: counts grow, posid keeps its first-batch min
    val positions = readFront(spark, st.positionsRoot, posSchema)
    val mergedPos = checkpointFresh(
      positions.join(delta, Seq("px", "py"), "full_outer")
        .select(col("px"), col("py"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_d"), lit(0L))).as("cnt"),
          coalesce(col("posid"), col("minpid")).as("posid")))
    writeFront(mergedPos, st.positionsRoot)

    // 2. nn deltas, only inside the disks the batch touched: candidate
    // (q ∈ merged front) × (p ∈ delta) pairs via grid cells — the
    // delta side explodes the 3×3 ring, the front side keys one cell,
    // so the join is |delta|-bounded, never front×front
    val deltaRing = ringed(delta.select(col("px").as("dpx"), col("py").as("dpy"),
      col("cnt_d"), col("minpid")), cell, "dpx", "dpy")
    val qSide = mergedPos.select(col("px"), col("py"), col("posid"),
      expr(s"px div $cell").as("cx"), expr(s"py div $cell").as("cy"))
    val touched = qSide.join(deltaRing, Seq("cx", "cy"))
      .where(inDisk("px", "py", "dpx", "dpy", eps2))
      .groupBy(col("posid")).agg(sum(col("cnt_d")).as("dnn"))

    val nnOld = readFront(spark, st.nnRoot, nnSchema)
    // existing positions: += the delta contribution landing in their
    // disk. Brand-new positions need the FULL disk sum over the merged
    // front (their disk holds old neighbors the delta never mentions):
    // one more grid join, bounded by the batch's new-position count.
    val nnExisting = nnOld.join(touched, Seq("posid"), "left")
      .select(col("posid"), (col("nn") + coalesce(col("dnn"), lit(0L))).as("nn"))
    val newPosRing = ringed(
      delta.join(positions.select(col("px"), col("py")), Seq("px", "py"), "left_anti")
        .select(col("minpid").as("qid"), col("px").as("qx"), col("py").as("qy")),
      cell, "qx", "qy")
    val mergedKeyed = mergedPos.select(col("px"), col("py"), col("cnt"),
      expr(s"px div $cell").as("cx"), expr(s"py div $cell").as("cy"))
    val nnNew = newPosRing.join(mergedKeyed, Seq("cx", "cy"))
      .where(inDisk("qx", "qy", "px", "py", eps2))
      .groupBy(col("qid")).agg((sum(col("cnt")) - 1).as("nn"))
      .select(col("qid").as("posid"), col("nn"))
    val nnNext = checkpointFresh(nnExisting.unionByName(nnNew))
    writeFront(nnNext, st.nnRoot)

    // 3. coreness transitions (monotone: only off→on)
    val coreLab = readFront(spark, st.coreLabRoot, labSchema)
    val newlyCore = checkpointFresh(nnNext.where(col("nn") >= minNn)
      .join(coreLab.select(col("posid")), Seq("posid"), "left_anti")
      .join(mergedPos, Seq("posid"))
      .select(col("posid"), col("px"), col("py")))

    // 4. new edges: newly-core ↔ any core within eps. Old cores enter
    // contracted to their cluster label; newly-core partners as
    // themselves. Grid-binned off the newly-core side.
    val allCore = nnNext.where(col("nn") >= minNn)
      .join(mergedPos, Seq("posid"))
      .join(coreLab, Seq("posid"), "left")
      .select(col("posid"), col("px"), col("py"),
        coalesce(col("cluster"), col("posid")).as("node"),
        expr(s"px div $cell").as("cx"), expr(s"py div $cell").as("cy"))
    val ncRing = ringed(newlyCore.select(col("posid").as("qid"),
      col("px").as("qx"), col("py").as("qy")), cell, "qx", "qy")
    val edges = ncRing.join(allCore, Seq("cx", "cy"))
      .where(inDisk("qx", "qy", "px", "py", eps2) && col("qid") =!= col("posid"))
      .select(col("qid").as("a"), col("node").as("b"))
      .distinct()

    val cc = graft.text.TextOps.connectedComponents(edges)
    val newLab = newlyCore.select(col("posid"))
      .join(cc, col("posid") === col("node"), "left")
      .select(col("posid"), coalesce(col("cluster"), col("posid")).as("cluster"))
    // edge endpoints that were OLD cluster labels → their merge target
    // (cc is (node, cluster); only nodes that are existing labels remap)
    val oldLabels = coreLab.select(col("cluster")).distinct()
    val remap = cc.select(col("node").as("cluster"), col("cluster").as("new_cluster"))
      .join(oldLabels, Seq("cluster"), "left_semi")
    val updated = coreLab.join(broadcast(remap), Seq("cluster"), "left")
      .select(col("posid"), coalesce(col("new_cluster"), col("cluster")).as("cluster"))
      .unionByName(newLab)
    writeFront(updated, st.coreLabRoot)
    graft.ops.Materialize.free(delta, mergedPos, nnNext, newlyCore)
  }

  /** The maintained core assignment at POINT granularity: join the
    * caller's point set back through the position front (the gates'
    * output contract — one row per core point). */
  def corePoints(points: DataFrame, spark: SparkSession, st: State): DataFrame = {
    val pos = readFront(spark, st.positionsRoot, posSchema)
    val lab = readFront(spark, st.coreLabRoot, labSchema)
    points.join(pos.select(col("px"), col("py"), col("posid")), Seq("px", "py"))
      .join(lab, Seq("posid"))
      .select(col("pid"), col("cluster"))
  }
}

package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.SparkTestBase.spark

/** r12 unpersist discipline (r11 verdict what's-wrong #3): eager
  * localCheckpoint blocks used to accumulate for the session lifetime —
  * in a 296-query bench session the pinned MEMORY_AND_DISK blocks crowd
  * the storage fraction and starve execution memory for the late
  * alphabet. These tests bound the RESIDENT set: after a checkpointing
  * query materializes, only the blocks its returned plan still
  * references may remain (node-sized rank tables, the collapse/group
  * tables) — every superseded intermediate must have been freed at the
  * seam where its last eager consumer ran.
  *
  * The assertions are DELTAS between two runs of the same query: the
  * second run's residual is the steady-state leak per invocation, which
  * is what accumulates over a bench sweep. */
class PersistedBlocksSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Residual persistent-RDD growth of one extra query invocation on
    * session `s`. The result frame is held until the count is read:
    * the context cleaner frees the blocks of an unreachable plan, so a
    * GC in between would otherwise hide part of the residual. */
  private def residual(name: String, s: SparkSession = spark): Int = {
    val fn = graft.SparkEntry.queries(name)
    fn(s, sf).count() // warm: fronts built, first-run residue paid
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = fn(s, sf)
    df.count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    java.lang.ref.Reference.reachabilityFence(df)
    (after -- before).size
  }

  test("a_hits frees every superseded round's checkpoint (edge set + rounds 1)") {
    // resident: the last round's araw/hraw node-sized tables (the
    // returned plan reads them); the edge set and round-1 tables must
    // be gone. Pre-r12 this leaked 5 blocks per run, one edge-sized.
    assert(residual("a_hits") <= 2)
  }

  test("t_prefix_join frees the shingle table (resident: groups + repSh)") {
    assert(residual("t_prefix_join") <= 2)
  }

  test("the local-path iterative gates leave zero persistent blocks") {
    for (name <- Seq("t_sssp", "t_bfs_dist", "t_kcore", "r_flow_accum", "r_basin_label"))
      assert(residual(name) == 0, s"$name leaked persistent RDDs")
  }

  test("the catalog gates free their overlay checkpoint: zero persistent blocks") {
    for (name <- Seq("c_time_travel", "c_rollback", "c_compact", "c_version_diff", "c_txn_snapshot"))
      assert(residual(name) == 0, s"$name leaked persistent RDDs")
  }

  test("catalog publishes free their checkpoint blocks, also when the parquet write throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.catalog.{CatalogTxn, LayerStore, TxnWrite}
    val store = new LayerStore(spark,
      java.nio.file.Files.createTempDirectory("graft_blocks").toString)
    def tiles(v: Double) = graft.ops.Raster.assemble(
      (for (tc <- 0 to 1; px <- 0 until 4; py <- 0 until 4)
        yield (tc, 0, px, py, v + px)).toDF("tile_col", "tile_row", "px", "py", "v"), 4, 4)
    // compare ids, not counts: the context cleaner may free an earlier
    // test's leftover block during a publish, and a lower count would
    // both fail with no leak and hide a block the publish did leak
    def noResidue(what: String)(f: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      f
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$what left persistent RDDs $left")
    }
    noResidue("write")(store.write(tiles(0), "p", 1, tileSize = 4))
    noResidue("merge")(store.merge(tiles(5), "p", 1, tileSize = 4))
    noResidue("space-time write")(
      store.write(tiles(0).withColumn("time", lit("2024-01")), "st", 1, tileSize = 4))
    noResidue("txn commit")(new CatalogTxn(store).commit(
      Seq(TxnWrite("a", 1, tiles(1), tileSize = 4), TxnWrite("b", 1, tiles(2), tileSize = 4))))
    // parquet cannot store a CalendarInterval column: the write throws
    // after the checkpoint, and neither blocks nor a sidecar may survive
    noResidue("failed write")(intercept[Exception](store.write(
      tiles(0).withColumn("bad", org.apache.spark.sql.functions.expr("make_interval(0, 0, 0, 1)")),
      "x", 1, tileSize = 4)))
    assert(!store.exists("x", 1))
    val zoomDir = java.nio.file.Paths.get(s"${store.root}/tiles/layer_name=x/zoom=1")
    val sidecars =
      if (!java.nio.file.Files.exists(zoomDir)) 0L
      else java.nio.file.Files.walk(zoomDir)
        .filter(_.getFileName.toString == "_attributes.json").count()
    assert(sidecars == 0L, "a failed write left an _attributes.json behind")
  }

  test("connectedComponents (local path) leaves zero persistent blocks") {
    import spark.implicits._
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    graft.text.TextOps.connectedComponents(edges).count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.text.TextOps.connectedComponents(edges).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty)
  }

  test("the distributed-path iterative gates keep their pinned residual") {
    // exactly the blocks each returned plan reads: CC its normalized
    // edge set and last round, k-core its edge set and last survivor
    // round (both plans read the edge set lazily, so no point inside
    // them can free it), BFS/SSSP the distance table, flow
    // accumulation its four rounds' frontiers and partial sums, basin
    // and cost distance their last round. A block no plan reads must
    // be freed before the gate returns: left to the context cleaner, it
    // would make this count depend on GC timing.
    val s2 = spark.newSession() // conf isolation — see IterativeLocalPathsSpec
    s2.conf.set(graft.ops.LocalGraph.LimitKey, "0")
    val want = Map("t_dedup_clusters" -> 2, "t_kcore" -> 2, "t_bfs_dist" -> 1,
      "t_sssp" -> 1, "r_flow_accum" -> 5, "r_basin_label" -> 1, "r_cost_distance" -> 1)
    val sc = spark.sparkContext
    val start = sc.getPersistentRDDs.keySet
    // free what the runs left, now: a later size check must not see the
    // context cleaner collect it
    try assert(want.map { case (name, _) => name -> residual(name, s2) } == want)
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!start(id)) rdd.unpersist(blocking = true)
    }
  }
}

package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** The scale-adaptive local execution of every iterative gate
  * ([[graft.ops.LocalGraph]]). Each test runs the SAME query through
  * the driver-local path (default size gate) and the distributed loop
  * (limit = 0) and asserts bit-for-bit equal result sets, so the two
  * executions can never drift. The oracle gate then pins the shared
  * semantics against DuckDB. */
class IterativeLocalPathsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def runBoth(name: String): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val fn = graft.SparkEntry.queries(name)
    // a CHILD session isolates the conf flip: suites share one
    // SparkContext and may run in parallel, so mutating the shared
    // session's conf would force OTHER suites' concurrently-running
    // gates onto the distributed path mid-test (the AppsSpec
    // job-group lesson applied to confs)
    val s2 = spark.newSession()
    def rows() = fn(s2, sf).collect().map(_.toSeq).toSet
    val local = rows() // default limit: small graphs take the local path
    s2.conf.set(graft.ops.LocalGraph.LimitKey, "0")
    val dist = rows()
    (local, dist)
  }

  test("t_dedup_clusters: local union-find == distributed star contraction") {
    val (local, dist) = runBoth("t_dedup_clusters")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("t_sssp: local capped Dijkstra == distributed capped Bellman-Ford") {
    val (local, dist) = runBoth("t_sssp")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("t_bfs_dist: local BFS == distributed frontier loop") {
    val (local, dist) = runBoth("t_bfs_dist")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("t_kcore: local 4-round peel == distributed peel") {
    val (local, dist) = runBoth("t_kcore")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("flowAccumulation: local peel == distributed peel on a real D8 field") {
    val (local, dist) = runBoth("r_flow_accum")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("basinLabel: local pointer chase == distributed pointer doubling") {
    val (local, dist) = runBoth("r_basin_label")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("costDistance: single-tile Dijkstra == tiled relaxation fixpoint") {
    val (local, dist) = runBoth("r_cost_distance")
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("flowAccumulation: maxIter bail yields identical PARTIAL sums both ways") {
    import spark.implicits._
    // a 7-cell drain chain: full accumulation needs 6 delivery rounds;
    // maxIter = 3 must leave identical partial sums on both paths
    val s2 = spark.newSession() // conf isolation — see runBoth
    val chain = s2.createDataFrame(
      (0L until 7L).map(i => (i, 0L, if (i < 6) 0 else -1)))
      .toDF("gx", "gy", "dir")
    def run(): Map[(Long, Long), Long] =
      graft.ops.Raster.flowAccumulation(chain, maxIter = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val local = run()
    s2.conf.set(graft.ops.LocalGraph.LimitKey, "0")
    val dist = run()
    assert(local == dist)
    // the full run (default maxIter) finishes the chain: sink holds 7
    def runFull(): Map[(Long, Long), Long] =
      graft.ops.Raster.flowAccumulation(chain)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(runFull()((6L, 0L)) == 7L)
    assert(local((6L, 0L)) < 7L) // the bail really truncated delivery
  }
}

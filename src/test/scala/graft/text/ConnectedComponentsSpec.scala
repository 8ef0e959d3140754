package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

class ConnectedComponentsSpec extends AnyFunSuite {
  import spark.implicits._

  test("min-label propagation: chains, separate components, determinism") {
    // components: {1,2,3,4} (a chain — forces >1 round), {10,11}, {20,21,22} (triangle)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("a", "b")
    val got = TextOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(got == want)
    // deterministic across runs (min labels, not iteration order)
    val again = TextOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(again == want)
  }

  test("agrees with a driver-side union-find on the real LSH candidate graph") {
    val pairs = graft.queries.TextQueries
      .minhashLsh(spark, "/root/testdata/sf0.001").select($"a", $"b")
    val edges = pairs.as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    // classic union-find with path compression — an engine-independent
    // third opinion next to the recursive-CTE oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val got = TextOps.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("long chain converges within the iteration budget (pointer jumping, not one hop per round)") {
    // a 200-path has diameter 199: plain neighbor-min needs ~199 rounds;
    // the pointer-jump step makes it O(log n) — well inside maxIter 25
    val n = 200L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = TextOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got.size == n.toInt && got.values.forall(_ == 1L))
  }

  test("local union-find path and distributed star loop agree bit-for-bit") {
    // chains, a triangle, duplicate + reversed edges, and a node that
    // appears ONLY in a self-loop (owes an output row labeled by itself).
    // The conf flip goes to a CHILD session (see IterativeLocalPathsSpec)
    // and the edges are built in it: the gate reads edges.sparkSession.
    val s2 = spark.newSession()
    val edges = s2.createDataFrame(Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 30L)) ++
      (100L until 160L).map(i => (i + 1, i))).toDF("a", "b")
    def run(): Map[Long, Long] =
      TextOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val local = run() // default limit: takes the driver union-find path
    s2.conf.set(graft.ops.LocalGraph.LimitKey, "0")
    val dist = run()
    assert(local == dist)
    assert(local(30L) == 30L && local(4L) == 1L && local(160L) == 100L)
  }

  test("pageRank: star center outranks leaves; symmetric nodes tie bit-for-bit") {
    // star: center "c" <-> leaves l1..l6
    val edges = (1 to 6).map(i => ("c", s"l$i")).toDF("a", "b")
    val r = TextOps.pageRank(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(r.size == 7)
    val leaves = (1 to 6).map(i => r(s"l$i"))
    assert(leaves.distinct.size == 1) // exact symmetry, not approximate
    assert(r("c") > leaves.head * 3)  // the hub dominates
    // conservation: with every node reachable, total rank stays ~1
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank is deterministic across repartitionings") {
    val base = (1 to 40).map(i => (s"w${i % 7}", s"w${(i * 3) % 11}"))
      .filter { case (a, b) => a != b }
    val r1 = TextOps.pageRank(base.toDF("a", "b"), 3)
      .as[(String, Double)].collect().toMap
    val r2 = TextOps.pageRank(base.toDF("a", "b").repartition(13), 3)
      .as[(String, Double)].collect().toMap
    assert(r1 == r2) // DECIMAL-landed contributions: partition order can't leak in
  }
}

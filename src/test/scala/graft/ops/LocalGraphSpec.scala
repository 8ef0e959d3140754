package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.{jobsIn, spark}

/** The boundary of the driver-local seam every iterative gate goes
  * through: the size-gate decision, which blocks it frees, the dense
  * node index, the adjacency build and the local result frame. Conf
  * flips go to child sessions (see IterativeLocalPathsSpec). */
class LocalGraphSpec extends AnyFunSuite {

  private def resident(ck: org.apache.spark.sql.DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(Materialize.blocks(ck).id)

  test("row count == limit takes the local path and frees the blocks; limit - 1 does not") {
    val s2 = spark.newSession()
    val rows = (1L to 10L).map(i => (i, i + 100L, i.toInt))
    val df = s2.createDataFrame(rows).toDF("a", "b", "c").repartition(3)

    s2.conf.set(LocalGraph.LimitKey, "10")
    val ck = Materialize.checkpointFresh(df)
    assert(resident(ck))
    val chunks = LocalGraph.gate("spec", ck, 2)
    assert(chunks.map(_.flatten.grouped(2).map(p => (p(0), p(1))).toSet) ==
      Some(rows.map(r => (r._1, r._2)).toSet))
    assert(!resident(ck), "the local path must free the checkpoint blocks")

    s2.conf.set(LocalGraph.LimitKey, "9")
    val ck9 = Materialize.checkpointFresh(df)
    assert(LocalGraph.gate("spec", ck9, 2).isEmpty)
    assert(resident(ck9), "the distributed path owns the blocks")
    Materialize.free(ck9)
  }

  test("a non-LONG leading column goes distributed without counting") {
    val s2 = spark.newSession()
    val df = s2.createDataFrame((1 to 5).map(i => (i, i.toLong))).toDF("a", "b")
    val ck = Materialize.checkpointFresh(df)
    var got: Option[Array[Array[Long]]] = Some(Array.empty)
    assert(jobsIn("local-graph-non-long") { got = LocalGraph.gate("spec", ck, 2) } == 0)
    assert(got.isEmpty)
    assert(resident(ck))
    Materialize.free(ck)
  }

  test("node ids are dense and in first-seen order; the adjacency lists both directions") {
    // two partition chunks: (5,3) (3,9) | (9,5) (7,7)
    val g = LocalGraph.graph(Array(Array(5L, 3L, 3L, 9L), Array(9L, 5L, 7L, 7L)), 2)
    assert(g.ids.toSeq == Seq(5L, 3L, 9L, 7L))
    assert(g.src.toSeq == Seq(0, 1, 2, 3) && g.dst.toSeq == Seq(1, 2, 0, 3))
    assert(g.weight.isEmpty)
    val adj = LocalGraph.undirected(g)
    def nbrs(v: Int) = (adj.off(v) until adj.off(v + 1)).map(adj.nbr(_))
    assert((0 until g.nodes).map(nbrs) == Seq(Seq(1, 2), Seq(0, 2), Seq(1, 0), Seq(3, 3)))

    val w = LocalGraph.graph(Array(Array(4L, 8L, 2L, 8L, 6L, 5L)), 3, weighted = true)
    assert(w.ids.toSeq == Seq(4L, 8L, 6L) && w.weight.toSeq == Seq(2L, 5L))
    val wAdj = LocalGraph.undirected(w)
    assert(wAdj.nbr.toSeq == Seq(1, 0, 2, 1) && wAdj.weight.toSeq == Seq(2L, 2L, 5L, 5L))
  }

  test("frame keeps every field nullable and slices one partition per 65536 rows") {
    val schema = Seq("node" -> LongType, "n" -> IntegerType)
    def frame(n: Int) = LocalGraph.frame(spark, Array.tabulate(n)(i => Row(i.toLong, i)), schema)
    val f = frame(3)
    assert(f.schema.map(x => (x.name, x.dataType, x.nullable)) ==
      Seq(("node", LongType, true), ("n", IntegerType, true)))
    assert(f.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((0L, 0), (1L, 1), (2L, 2)))
    val dp = spark.sparkContext.defaultParallelism
    for (n <- Seq(0, 65535, 65536, 4 * 65536))
      assert(frame(n).rdd.getNumPartitions == math.max(1, math.min(dp, n / 65536 + 1)), s"n=$n")
    assert(frame(65536).rdd.getNumPartitions == math.min(dp, 2))
  }
}

package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Differential test: the distributed two-phase ranking must equal the
  * single-partition Window on the same data — including ties (rank vs
  * dense_rank divergence) and tie runs the range partitioner may split
  * across partition boundaries. */
class RankingSpec extends AnyFunSuite {
  import spark.implicits._

  test("unique ordering: full agreement with Window (rank, dense, ntile, lag, lead)") {
    for (df <- Seq(
      (1L to 100L).map(i => (i, (i * 37 % 91) * 1.5)).toDF("id", "score").repartition(5),
      Seq((1L, 1.0), (2L, 1.0), (3L, 0.5)).toDF("id", "score"))) {
      val dist = Ranking.withGlobalRanks(df, Seq($"score".desc, $"id".asc),
          Seq("score", "id"), neighborCol = "id", ntileN = 4)
        .select($"id", $"rnk", $"drnk", $"ntile", $"prev_nb", $"next_nb")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getInt(3), Option(r.get(4)), Option(r.get(5)))).toMap
      val w = Window.orderBy($"score".desc, $"id".asc)
      val ref = df.select($"id",
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("ntile"),
          lag($"id", 1).over(w).as("p"), lead($"id", 1).over(w).as("n"))
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1).toLong, r.getInt(2).toLong, r.getInt(3), Option(r.get(4)), Option(r.get(5)))).toMap
      assert(dist == ref)
    }
  }

  test("tie groups: per-score rank/dense_rank equal Window ranking over the tie key") {
    // few distinct scores over many rows -> tie runs straddle range bounds
    val df = (1L to 500L).map(i => (i, (i % 7).toDouble)).toDF("id", "score")
      .repartition(8)
    val dist = Ranking.withGlobalRanks(df, Seq($"score".desc, $"id".asc),
        Seq("score"), neighborCol = "id", ntileN = 4)
      .select($"score", $"rnk", $"drnk").distinct()
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.orderBy($"score".desc)
    val ref = df.select($"score",
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
      .distinct().collect().map(r => (r.getDouble(0), r.getInt(1).toLong, r.getInt(2).toLong)).toSet
    assert(dist == ref)
    // every score group collapses to exactly one (rnk, drnk) pair
    assert(dist.size == 7)
  }

  test("rank ties straddling partitions stitch to the group start") {
    // one giant tie group: every row must get rank 1, dense 1
    val df = (1L to 200L).map(i => (i, 42.0)).toDF("id", "score").repartition(6)
    val out = Ranking.withGlobalRanks(df, Seq($"score".desc, $"id".asc),
        Seq("score"), "id", 4)
    val rnks = out.select($"rnk", $"drnk").distinct().collect()
    assert(rnks.length == 1 && rnks(0).getLong(0) == 1L && rnks(0).getLong(1) == 1L)
    // ntile still splits 200 rows into 4 tiles of 50
    val tiles = out.groupBy($"ntile").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(tiles == Map(1 -> 50L, 2 -> 50L, 3 -> 50L, 4 -> 50L))
  }

  test("withGlobalRunningSums equals the single-partition ordered Window") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 1000L).map(i => (i, if (rnd.nextBoolean()) 1L else -1L))
    val df = rows.toDF("id", "delta").repartition(9)
    val (sums, Seq(total)) = Ranking.withGlobalRunningSums(df, Seq($"id".asc), Seq("delta"))
    val dist = sums.select($"id", $"rsum_delta").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy($"id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.select($"id", sum($"delta").over(w).as("rsum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == ref && total == dist(1000L))
    // non-vacuity: the walk actually wanders
    assert(dist.values.toSet.size > 10)
  }

  test("kthValues: equals sorted indexing, duplicates and extremes included") {
    val rnd = new scala.util.Random(5)
    // heavy duplication: only ~60 distinct values across 5000 rows
    val vals = Seq.fill(5000)((rnd.nextInt(60) - 30).toDouble / 7.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").repartition(11)
    val sorted = vals.sorted
    val ks = Seq(1L, 2L, 1250L, 2500L, 2501L, 4999L, 5000L)
    val got = Ranking.kthValues(df, $"v", ks)
    assert(got == ks.map(k => sorted((k - 1).toInt)))
    // repeated ranks allowed
    assert(Ranking.kthValues(df, $"v", Seq(7L, 7L)) == Seq(sorted(6), sorted(6)))
  }
}

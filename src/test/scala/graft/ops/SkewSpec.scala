package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

class SkewSpec extends AnyFunSuite {
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("salted two-phase aggregation equals plain groupBy") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("q"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), buckets = 8)(
      partial = Seq(sum($"l_quantity").as("pq"), count(lit(1)).as("pn")),
      final_ = Seq(sum($"pq").as("q"), sum($"pn").as("n")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    val plain = li.join(o, "l_orderkey")
    val salted = Skew.saltedJoin(li, o, "l_orderkey", buckets = 4)
    assert(salted.count() == plain.count())
    val ps = plain.agg(sum($"l_quantity"), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    val ss = salted.agg(sum($"l_quantity"), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    assert(ps == ss)
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_totalprice")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_bucketed", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed").join(spark.table("o_bucketed"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

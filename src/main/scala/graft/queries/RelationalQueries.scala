package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Fixtures._

/** Relational operator suite over the TPC-H-ish tables: join shapes
  * (SURVEY §2.5), aggregations (§2.6), sorts/limits and set ops (§2.7),
  * SQL windows and the batch-equivalents of the streaming surface (§2.8).
  * Money aggregates go through DECIMAL so Spark and DuckDB agree
  * bit-for-bit (see Fixtures scaladoc).
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** A6-style grouped aggregation: TPC-H Q1 pricing summary. */
  val pricingSummary: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        dsum(dec2(col("l_extendedprice"))).as("sum_base_price"),
        dsum(revenue).as("sum_disc_price"),
        dsum(revenue * (lit(1) + dec2(col("l_tax")))).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_base_price,
       |       ${dsumSql(revenueSql)} AS sum_disc_price,
       |       ${dsumSql(s"($revenueSql) * (1 + ${dec2Sql("l_tax")})")} AS sum_charge,
       |       SUM(l_quantity) / COUNT(*) AS avg_qty,
       |       COUNT(*) AS count_order
       |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** J2-analog 3-way equi-join: revenue by market segment. Dimension
    * sides are broadcast (SURVEY §4: broadcast small dims). */
  val revenueBySegment: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(revenue).as("revenue"),
        count(lit(1)).as("n_items"))

  val revenueBySegmentSql: String =
    s"""SELECT c_mktsegment,
       |       ${dsumSql(revenueSql)} AS revenue,
       |       COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1""".stripMargin

  /** J4-analog star join fold: revenue rolled up through
    * supplier → nation → region, all dims broadcast. */
  val revenueByRegion: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(dsum(revenue).as("revenue"))

  val revenueByRegionSql: String =
    s"""SELECT r_name, ${dsumSql(revenueSql)} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY 1""".stripMargin

  /** TPC-H Q7 shape (volume shipping): revenue flowing between two
    * nations in either direction, by the SUPPLIER and CUSTOMER nation
    * roles and ship year — the one query where the same dimension
    * (nation) joins twice under different roles, so alias hygiene is
    * what the gate pins. Both nation sides and the customer/supplier
    * dims broadcast; the fact scans once. */
  val volumeShipping: Q = (s, dir) => {
    val n1 = broadcast(table(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(table(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
        || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(revenue).as("revenue"))
  }

  val volumeShippingSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       |       ${dsumSql(revenueSql)} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (market share): of all revenue shipped to ASIA
    * customers, the fraction supplied from one nation, per ship year —
    * a conditional-fraction aggregate over a star join. Numerator and
    * denominator are both exact DECIMAL sums; the share is ONE IEEE
    * division per year row. */
  val marketShare: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
        col("c_nationkey") === col("c_nk"))
      .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(dsum(when(col("s_nationkey") === 7, revenue).otherwise(lit(0))).as("nation_rev"),
        dsum(revenue).as("total_rev"))
      .select(col("o_year"), col("nation_rev"), col("total_rev"),
        (col("nation_rev") / col("total_rev")).as("mkt_share"))

  val marketShareSql: String =
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |       ${dsumSql(s"CASE WHEN s_nationkey = 7 THEN $revenueSql ELSE 0 END")} AS nation_rev,
       |       ${dsumSql(revenueSql)} AS total_rev,
       |       ${dsumSql(s"CASE WHEN s_nationkey = 7 THEN $revenueSql ELSE 0 END")}
       |         / ${dsumSql(revenueSql)} AS mkt_share
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY 1""".stripMargin

  /** Semi/anti join pair: every customer flagged by order existence. */
  val semiAntiJoin: Q = (s, dir) => {
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(1L).as("has_orders"))
    val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(0L).as("has_orders"))
    withO.unionByName(noO)
  }

  val semiAntiJoinSql: String =
    s"""SELECT c_custkey, CAST(1 AS BIGINT) AS has_orders FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       |UNION ALL
       |SELECT c_custkey, CAST(0 AS BIGINT) AS has_orders FROM customer c
       |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin

  /** Left-outer join + null handling: order counts per customer incl.
    * customers without orders (J6 relational shape). */
  val outerOrderCounts: Q = (s, dir) =>
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(dec2(col("o_totalprice"))), lit(0d)).as("total_spend"))

  val outerOrderCountsSql: String =
    s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       |       COALESCE(${dsumSql(dec2Sql("o_totalprice"))}, 0.0) AS total_spend
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY 1""".stripMargin

  /** Sorts/limits (§2.7): top-10 suppliers by revenue, deterministic
    * tie-break on the key. */
  val topSuppliers: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(dsum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("l_suppkey"))
      .limit(10)

  val topSuppliersSql: String =
    s"""SELECT l_suppkey, ${dsumSql(revenueSql)} AS revenue
       |FROM lineitem GROUP BY 1
       |ORDER BY revenue DESC, l_suppkey LIMIT 10""".stripMargin

  /** Weekly cohort retention over the event stream: users active in
    * week w who are also active in w+1. Self-join on the (user, week)
    * activity set — a plain hash join, no window, no single-partition
    * stage at any scale. */
  val userRetention: Q = (s, dir) => {
    val weeks = events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
    weeks.as("a")
      .join(weeks.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.wk") === col("a.wk") + expr("INTERVAL 7 DAYS"), "left")
      .groupBy(col("a.wk"))
      .agg(count(lit(1)).as("n_active"), count(col("b.user_id")).as("n_retained"))
      .select(unix_timestamp(col("a.wk")).as("wk"), col("n_active"), col("n_retained"))
  }

  val userRetentionSql: String =
    s"""WITH $eventsCte,
       |w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM evts)
       |SELECT CAST(epoch(a.wk) AS BIGINT) AS wk, COUNT(*) AS n_active,
       |       COUNT(b.user_id) AS n_retained
       |FROM w a LEFT JOIN w b
       |  ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
       |GROUP BY 1""".stripMargin

  /** CDC-style latest-record-per-key: each user's most recent event
    * (the upsert/compaction read every changelog consumer runs).
    * Window partitioned by the key — no global ordering anywhere;
    * deterministic tie-break on event_id. */
  /** Time-series resample to OHLC bars: per (user, hour) the opening /
    * highest / lowest / closing value — the downsampling shape every
    * metrics store runs. Open and close are min/max over
    * (ts, event_id, cents) STRUCTS, so ties inside a bar break on the
    * unique event id and the whole aggregation is order-free integer
    * arithmetic (values as exact cents; one cast back per row). One
    * Exchange on the bar key, full map-side combine. */
  /** The OHLC aggregate expressions over (ts, event_id, c) rows —
    * shared by the batch gate and the streaming twin (OhlcStreamSpec),
    * so the two modes cannot drift. */
  def ohlcAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    min(struct(col("ts"), col("event_id"), col("c"))).getField("c").as("open_c"),
    max(col("c")).as("high_c"), min(col("c")).as("low_c"),
    max(struct(col("ts"), col("event_id"), col("c"))).getField("c").as("close_c"))

  val ohlc: Q = (s, dir) => {
    val cents = (dec2(col("value")) * 100).cast("long")
    events(s, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bar"),
        col("ts"), col("event_id"), cents.as("c"))
      .groupBy(col("user_id"), col("bar"))
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
      .select(col("user_id"), unix_timestamp(col("bar")).as("bar_sec"), col("n"),
        (col("open_c").cast("double") / 100).as("open"),
        (col("high_c").cast("double") / 100).as("high"),
        (col("low_c").cast("double") / 100).as("low"),
        (col("close_c").cast("double") / 100).as("close"))
  }

  // windowed first/last, NOT MIN/MAX(struct_pack(...)): DuckDB's grouped
  // struct min/max materialized ~98 GB for 1M rows / 956k groups at the
  // sf10 probe (ignores memory_limit) and OOM-killed the compare; the
  // row_number form computes the same open/close (event_id is unique,
  // so (ts, event_id) lexicographic min/max == the struct ordering)
  val ohlcSql: String =
    s"""WITH $eventsCte,
       |c AS (SELECT user_id, date_trunc('hour', ts) AS bar, ts, event_id,
       |             CAST(${dec2Sql("value")} * 100 AS BIGINT) AS c
       |      FROM evts),
       |r AS (SELECT user_id, bar, c,
       |             ROW_NUMBER() OVER (PARTITION BY user_id, bar
       |                                ORDER BY ts, event_id) AS rn_a,
       |             ROW_NUMBER() OVER (PARTITION BY user_id, bar
       |                                ORDER BY ts DESC, event_id DESC) AS rn_z
       |      FROM c)
       |SELECT user_id, CAST(epoch(bar) AS BIGINT) AS bar_sec, COUNT(*) AS n,
       |       CAST(MIN(CASE WHEN rn_a = 1 THEN c END) AS DOUBLE) / 100 AS "open",
       |       CAST(MAX(c) AS DOUBLE) / 100 AS high,
       |       CAST(MIN(c) AS DOUBLE) / 100 AS low,
       |       CAST(MIN(CASE WHEN rn_z = 1 THEN c END) AS DOUBLE) / 100 AS "close"
       |FROM r GROUP BY 1, 2""".stripMargin

  val latestPerKey: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_type"), dec2(col("value")).cast("double").as("value"))
  }

  val latestPerKeySql: String =
    s"""WITH $eventsCte,
       |r AS (SELECT user_id, event_id, ts, event_type, value,
       |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM evts)
       |SELECT user_id, event_id,
       |       -- FLOOR: Spark's unix_timestamp truncates sub-second parts;
       |       -- a bare BIGINT cast in DuckDB would round-to-nearest
       |       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec, event_type,
       |       CAST(${dec2Sql("value")} AS DOUBLE) AS value
       |FROM r WHERE rn = 1""".stripMargin

  /** Ordered conversion funnel over the event stream — per user: the
    * earliest view, the earliest click AFTER that view, the earliest
    * purchase AFTER that click (strict event-order attribution, not
    * mere presence). Plan shape: ONE user-keyed shuffle carries three
    * SEQUENTIAL window aggregates (each conditional minimum references
    * the previous stage's column) plus the closing per-user rollup —
    * no self-joins, no per-stage scans, so at 100 TB the funnel costs
    * one pass over events however many stages it has. */
  val funnel: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
    events(s, dir)
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .select(col("user_id"),
        unix_micros(col("t1")).as("view_us"),
        unix_micros(col("t2")).as("click_us"),
        unix_micros(col("t3")).as("purchase_us"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).as("stage"))
  }

  val funnelSql: String =
    s"""WITH $eventsCte,
       |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
       |                   OVER (PARTITION BY user_id) AS t1 FROM evts),
       |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
       |                   OVER (PARTITION BY user_id) AS t2 FROM s1),
       |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
       |                   OVER (PARTITION BY user_id) AS t3 FROM s2),
       |g AS (SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3 FROM s3 GROUP BY 1)
       |SELECT user_id, epoch_us(t1) AS view_us, epoch_us(t2) AS click_us,
       |       epoch_us(t3) AS purchase_us,
       |       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
       |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
       |FROM g""".stripMargin

  /** Event-transition (Markov) matrix — the user-journey summary
    * funnel analysis generalizes to: for every CONSECUTIVE event pair
    * in a user's stream ((ts, event_id) total order), count
    * (from_type → to_type) transitions and the distinct users making
    * each. One user-keyed window (lead) + one tiny groupBy; output
    * bounded by event-type². */
  val eventTransitions: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
  }

  val eventTransitionsSql: String =
    s"""WITH $eventsCte,
       |p AS (SELECT user_id, event_type AS from_type,
       |             LEAD(event_type, 1) OVER (PARTITION BY user_id
       |               ORDER BY ts, event_id) AS to_type
       |      FROM evts)
       |SELECT from_type, to_type, COUNT(*) AS n,
       |       COUNT(DISTINCT user_id) AS n_users
       |FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Multi-touch attribution — the marketing-analytics closer of the
    * funnel/transition family: every purchase distributes conversion
    * credit across the user's view/click touches in the 7 days before
    * it. Three models per channel in one pass: first-touch and
    * last-touch (integer counts via per-conversion row_number) and
    * LINEAR credit in exact parts-per-million (1000000 div n_touches —
    * integer floor division, so the credit sum is order-free and
    * hash-stable; a double 1/n sum would be fold-order-dependent).
    * Scale shape: the conversion×touch join keys on user_id (per-user
    * fan-out is bounded by activity, never user×user), the credit
    * windows partition by conversion id (finer than user), and the
    * closing rollup is channel-wide — at 100 TB this is one user-keyed
    * shuffle plus a tiny channel aggregate. */
  val attribution: Q = (s, dir) => {
    val ev = events(s, dir)
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("cts"))
    val touch = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts").as("tts"), col("event_type").as("channel"))
    val pairs = conv.join(touch, Seq("user_id"))
      .where(col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy(col("conv_id"))
    val first = Window.partitionBy(col("conv_id")).orderBy(col("tts"), col("touch_id"))
    val last = Window.partitionBy(col("conv_id")).orderBy(col("tts").desc, col("touch_id").desc)
    pairs
      .withColumn("n_t", count(lit(1)).over(w))
      .withColumn("rn_f", row_number().over(first))
      .withColumn("rn_l", row_number().over(last))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("touches"),
        sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("rn_l") === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(expr("1000000L div n_t")).as("linear_ppm"))
  }

  val attributionSql: String =
    s"""WITH $eventsCte,
       |conv AS (SELECT user_id, event_id AS conv_id, ts AS cts FROM evts
       |         WHERE event_type = 'purchase'),
       |touch AS (SELECT user_id, event_id AS touch_id, ts AS tts,
       |                 event_type AS channel FROM evts
       |          WHERE event_type IN ('view', 'click')),
       |p AS (SELECT c.conv_id, t.touch_id, t.tts, t.channel
       |      FROM conv c JOIN touch t ON t.user_id = c.user_id
       |      WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
       |r AS (SELECT channel,
       |             COUNT(*) OVER (PARTITION BY conv_id) AS n_t,
       |             ROW_NUMBER() OVER (PARTITION BY conv_id
       |               ORDER BY tts, touch_id) AS rn_f,
       |             ROW_NUMBER() OVER (PARTITION BY conv_id
       |               ORDER BY tts DESC, touch_id DESC) AS rn_l
       |      FROM p)
       |SELECT channel, COUNT(*) AS touches,
       |       CAST(SUM(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
       |       CAST(SUM(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
       |       CAST(SUM(1000000 // n_t) AS BIGINT) AS linear_ppm
       |FROM r GROUP BY 1""".stripMargin

  /** Market-basket co-occurrence (association rules): for every part
    * pair bought in the same order, support / confidence / lift from
    * exact counts. The pair join keys on the ORDER (bounded basket
    * size → bounded fan-out per key, never item×item); per-item counts
    * and the order total broadcast; ratios are the fixed-order rational
    * chain (the collocations shape). */
  val marketBasket: Q = (s, dir) => {
    val items = table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p_a"), col("b.l_partkey").as("p_b"))
      .agg(count(lit(1)).as("n_ab"))
    val cnt = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val tot = broadcast(items.agg(count_distinct(col("l_orderkey")).as("n_orders")))
    pairs.where(col("n_ab") >= 3)
      .join(cnt.select(col("l_partkey").as("p_a"), col("n").as("n_a")), Seq("p_a"))
      .join(cnt.select(col("l_partkey").as("p_b"), col("n").as("n_b")), Seq("p_b"))
      .crossJoin(tot)
      .select(col("p_a"), col("p_b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_ab"),
        (col("n_ab").cast("double") * col("n_orders").cast("double")
          / col("n_a").cast("double") / col("n_b").cast("double")).as("lift"))
  }

  val marketBasketSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, COUNT(*) AS n_ab
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |cnt AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items)
      |SELECT p_a, p_b, n_ab, ca.n AS n_a, cb.n AS n_b,
      |       CAST(n_ab AS DOUBLE) / CAST(ca.n AS DOUBLE) AS conf_ab,
      |       CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
      |         / CAST(ca.n AS DOUBLE) / CAST(cb.n AS DOUBLE) AS lift
      |FROM pairs JOIN cnt ca ON ca.l_partkey = p_a
      |           JOIN cnt cb ON cb.l_partkey = p_b
      |           CROSS JOIN tot
      |WHERE n_ab >= 3""".stripMargin

  /** Cohort retention matrix — the classic retention triangle: users
    * grouped by first-activity month, counted in every later month
    * they return. Distinct (user, month) pairs → per-user min month →
    * one (cohort, months-since) groupBy. All date/integer arithmetic. */
  val cohortMatrix: Q = (s, dir) => {
    val m = events(s, dir)
      .select(col("user_id"),
        ((year(col("ts")) - 2020) * 12 + month(col("ts")) - 1).as("m"))
      .distinct()
    val first = m.groupBy(col("user_id")).agg(min(col("m")).as("m0"))
    m.join(first, Seq("user_id"))
      .groupBy(col("m0").as("cohort_month"), (col("m") - col("m0")).as("months_since"))
      .agg(count(lit(1)).as("n_users"))
  }

  val cohortMatrixSql: String =
    s"""WITH $eventsCte,
       |m AS (SELECT DISTINCT user_id,
       |        (year(ts) - 2020) * 12 + month(ts) - 1 AS m FROM evts),
       |f AS (SELECT user_id, MIN(m) AS m0 FROM m GROUP BY 1)
       |SELECT CAST(m0 AS INT) AS cohort_month, CAST(m - m0 AS INT) AS months_since,
       |       COUNT(*) AS n_users
       |FROM m JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** RFM segmentation — recency/frequency/monetary quartiles per
    * customer, the warehouse segmentation classic: exact R (days since
    * last order vs the global max date), F (order count), M (decimal
    * spend); the customer key completes each sort (total order → both
    * engines bucket identically, same n/k+remainder ntile rule). The
    * per-customer table is unbounded (one row per customer — 10^8+ at
    * warehouse scale), so a bare `ntile(4).over(Window.orderBy(...))`
    * would funnel it through ONE task three times; instead each
    * quartile rides [[graft.ops.Ranking.withGlobalRanks]] — the
    * range-partitioned two-phase rank (one range shuffle + two local
    * passes per sort key, no single-partition stage). */
  val rfm: Q = (s, dir) => {
    val o = table(s, dir, "orders")
    val per = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_d"), count(lit(1)).as("f"),
        sum(dec2(col("o_totalprice"))).as("m"))
    val mx = broadcast(o.agg(max(col("o_orderdate")).as("gmax")))
    val base = per.crossJoin(mx)
      .select(col("o_custkey"), datediff(col("gmax"), col("last_d")).as("r"),
        col("f"), col("m"))
    def quart(df: DataFrame, sort: Seq[Column],
              keys: Seq[String], as: String) =
      graft.ops.Ranking.withGlobalRanks(df, sort, keys,
          neighborCol = "o_custkey", ntileN = 4)
        .withColumnRenamed("ntile", as)
        .drop("rnk", "drnk", "prev_nb", "next_nb")
    val ranked = quart(quart(quart(base,
        Seq(col("r"), col("o_custkey")), Seq("r", "o_custkey"), "r_q"),
        Seq(col("f").desc, col("o_custkey")), Seq("f", "o_custkey"), "f_q"),
        Seq(col("m").desc, col("o_custkey")), Seq("m", "o_custkey"), "m_q")
    ranked
      .select(col("o_custkey"), col("r"), col("f"), col("m").cast("double").as("m"),
        col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
  }

  val rfmSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, MAX(o_orderdate) AS last_d, COUNT(*) AS f,
       |         SUM(${dec2Sql("o_totalprice")}) AS m
       |  FROM orders GROUP BY 1),
       |mx AS (SELECT MAX(o_orderdate) AS gmax FROM orders),
       |base AS (
       |  SELECT o_custkey, date_diff('day', last_d, gmax) AS r, f, m
       |  FROM per, mx),
       |q AS (
       |  SELECT o_custkey, r, f, m,
       |         NTILE(4) OVER (ORDER BY r, o_custkey) AS r_q,
       |         NTILE(4) OVER (ORDER BY f DESC, o_custkey) AS f_q,
       |         NTILE(4) OVER (ORDER BY m DESC, o_custkey) AS m_q
       |  FROM base)
       |SELECT o_custkey, CAST(r AS INT) AS r, f, CAST(m AS DOUBLE) AS m,
       |       CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
       |       CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS segment
       |FROM q""".stripMargin

  /** Rolling active users (DAU/WAU) — the product-analytics staple:
    * per calendar day, users active that day and within the trailing 7
    * days. The engine EXPLODES each (user, day) into the 7 window days
    * it contributes to, distincts, and counts — shuffle carries
    * (user, day) pairs scaled by the window constant, no sliding
    * count-distinct window (Spark has none, and a per-day self-join
    * would rescan). The oracle states it as the trailing-range join —
    * two formulations, exact integers. */
  val activeUsers: Q = (s, dir) => {
    val days = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val dau = days.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"), explode(sequence(col("d"),
        date_add(col("d"), 6), expr("interval 1 day"))).as("wd"))
      .distinct()
      .groupBy(col("wd").as("d")).agg(count(lit(1)).as("wau"))
    // report only days with actual activity (the calendar tail an
    // exploded window adds past the last active day is noise)
    dau.join(wau, Seq("d")).select(col("d"), col("dau"), col("wau"))
  }

  val activeUsersSql: String =
    s"""WITH $eventsCte,
       |days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM evts),
       |dau AS (SELECT d, COUNT(*) AS dau FROM days GROUP BY 1),
       |wau AS (
       |  SELECT a.d, COUNT(DISTINCT b.user_id) AS wau
       |  FROM (SELECT DISTINCT d FROM days) a
       |  JOIN days b ON b.d <= a.d AND b.d >= a.d - INTERVAL 6 DAY
       |  GROUP BY 1)
       |SELECT d, dau, wau FROM dau JOIN wau USING (d)""".stripMargin

  /** CDC MERGE apply — the Delta/Iceberg MERGE semantics as a gate:
    * a deterministic change stream (inserts, updates, deletes with
    * sequence numbers, keyed off order keys) applies onto a base
    * snapshot; latest-sequence-wins per key, deletes drop the row,
    * inserts add unseen keys. The engine resolves the winning change
    * with one max(struct(seq, op, price)) partial agg per key (never a
    * window sort) and full-outer-joins the base; the oracle states the
    * same semantics with a ROW_NUMBER formulation. */
  val applyCdc: Q = (s, dir) => {
    val base = table(s, dir, "orders").where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), dec2(col("o_totalprice")).as("price"))
    // change stream: two generations — every key mod 3 gets a seq-1
    // update; keys mod 6 ALSO get a seq-2 change (delete when mod 12)
    // that must win over their seq-1 row
    val o = table(s, dir, "orders")
    val g1 = o.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        (dec2(col("o_totalprice")) * 2).cast("decimal(12,2)").as("price"),
        lit(1).as("seq"))
    val g2 = o.where(col("o_orderkey") % 6 === 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 12 === 0, lit("D")).otherwise(lit("U")).as("op"),
        (dec2(col("o_totalprice")) * 3).cast("decimal(12,2)").as("price"),
        lit(2).as("seq"))
    val ch = g1.unionByName(g2)
    val winner = ch.groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("price"))).as("w"))
      .select(col("k"), col("w.op").as("op"), col("w.price").as("cprice"))
    base.join(winner, Seq("k"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("k"),
        coalesce(col("cprice"), col("price")).cast("double").as("price"),
        when(col("op").isNull, lit("kept"))
          .when(col("price").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("action"))
  }

  val applyCdcSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS k, ${dec2Sql("o_totalprice")} AS price
       |  FROM orders WHERE o_orderkey % 2 = 0),
       |ch AS (
       |  SELECT o_orderkey AS k, 'U' AS op,
       |         CAST(2 * ${dec2Sql("o_totalprice")} AS DECIMAL(12,2)) AS price,
       |         1 AS seq
       |  FROM orders WHERE o_orderkey % 3 = 0
       |  UNION ALL
       |  SELECT o_orderkey AS k,
       |         CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END AS op,
       |         CAST(3 * ${dec2Sql("o_totalprice")} AS DECIMAL(12,2)) AS price,
       |         2 AS seq
       |  FROM orders WHERE o_orderkey % 6 = 0),
       |w AS (
       |  SELECT k, op, price FROM (
       |    SELECT k, op, price,
       |           ROW_NUMBER() OVER (PARTITION BY k
       |             ORDER BY seq DESC, op DESC, price DESC) AS rn
       |    FROM ch) WHERE rn = 1)
       |SELECT COALESCE(base.k, w.k) AS k,
       |       CAST(COALESCE(w.price, base.price) AS DOUBLE) AS price,
       |       CASE WHEN w.op IS NULL THEN 'kept'
       |            WHEN base.price IS NULL THEN 'inserted'
       |            ELSE 'updated' END AS action
       |FROM base FULL OUTER JOIN w ON base.k = w.k
       |WHERE w.op IS NULL OR w.op <> 'D'""".stripMargin

  /** SCD type-2 build — each event becomes a validity interval
    * [valid_from, valid_to) per user, closed by the next event's
    * timestamp (lead window), open (NULL) for the current row: the
    * dimension-history layout every warehouse keeps. One user-keyed
    * shuffle; deterministic interval edges via the event_id tiebreak. */
  val scd2: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        dec2(col("value")).cast("double").as("value"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("next_ts")).as("valid_to_us"),
        col("next_ts").isNull.as("is_current"))
  }

  val scd2Sql: String =
    s"""WITH $eventsCte,
       |iv AS (SELECT user_id, event_id, event_type, value, ts,
       |         LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
       |       FROM evts)
       |SELECT user_id, event_id, event_type,
       |       CAST(${dec2Sql("value")} AS DOUBLE) AS value,
       |       epoch_us(ts) AS valid_from_us,
       |       epoch_us(next_ts) AS valid_to_us,
       |       next_ts IS NULL AS is_current
       |FROM iv""".stripMargin

  /** P6 distinct + set ops: parts that ship but were never ordered above
    * qty 45 (EXCEPT), via dropDuplicates. */
  val setOps: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    li.select(col("l_partkey")).distinct()
      .except(li.where(col("l_quantity") > 45).select(col("l_partkey")).distinct())
  }

  val setOpsSql: String =
    """SELECT DISTINCT l_partkey FROM lineitem
      |EXCEPT
      |SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 45""".stripMargin

  /** SQL window functions (free from Catalyst, SURVEY §2.7): per-user
    * event sequence number and running decimal-exact value sum. */
  val eventWindows: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        row_number().over(w).as("seq"),
        sum(col("value").cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"))
  }

  val eventWindowsSql: String =
    s"""WITH $eventsCte
      |SELECT event_id, user_id,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM evts""".stripMargin

  /** §2.8 batch-equivalent of the tumbling event-time window:
    * 5-minute windows per event_type (same grouping a Structured
    * Streaming job would run; see graft.streaming). */
  val tumblingWindow: Q = (s, dir) =>
    events(s, dir)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec2(col("value"))).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("event_type"), col("n"), col("sum_value"))

  val tumblingWindowSql: String =
    s"""WITH $eventsCte
       |SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS win_start, event_type,
       |       COUNT(*) AS n, ${dsumSql(dec2Sql("value"))} AS sum_value
       |FROM evts GROUP BY 1, 2""".stripMargin

  /** §2.8 sliding event-time windows (10 min length, 5 min slide): each
    * event lands in two windows — the streaming `window(ts, len, slide)`
    * shape run batch; oracle unnests the two candidate starts. */
  val slidingWindow: Q = (s, dir) =>
    events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec2(col("value"))).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("event_type"), col("n"), col("sum_value"))

  val slidingWindowSql: String =
    s"""WITH $eventsCte,
       |cand AS (
       |  SELECT CAST(FLOOR(epoch(ts) / 300) * 300 - g.k * 300 AS BIGINT) AS win_start,
       |         event_type, value, epoch(ts) AS es
       |  FROM evts, unnest([0, 1]) g(k)),
       |hits AS (SELECT * FROM cand WHERE es >= win_start AND es < win_start + 600)
       |SELECT win_start, event_type, COUNT(*) AS n, ${dsumSql(dec2Sql("value"))} AS sum_value
       |FROM hits GROUP BY 1, 2""".stripMargin

  /** §2.8 batch twin of the stream-stream interval join: the SAME
    * function (graft.streaming.PixelStream.intervalJoin — watermarks
    * are a no-op in batch) over events split into even/odd event_id
    * "streams", joined on user_id within a ±5 minute event-time
    * interval. Plan shape: an equi-join on the key with the interval
    * as a residual range predicate — shuffles only on user_id, and in
    * streaming mode the watermark bounds state to the interval. */
  val intervalJoinTwin: Q = (s, dir) => {
    val ev = events(s, dir)
    val l = ev.where(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val r = ev.where(col("event_id") % 2 === 1)
      .select(col("user_id"), col("ts"), col("value"))
    graft.streaming.PixelStream.intervalJoin(l, r, "user_id")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), unix_micros(col("r_ts")).as("r_ts_us"), col("r_value"))
  }

  val intervalJoinTwinSql: String =
    s"""WITH $eventsCte,
       |l AS (SELECT user_id, ts, event_id, value FROM evts WHERE event_id % 2 = 0),
       |r AS (SELECT user_id, ts AS r_ts, value AS r_value FROM evts WHERE event_id % 2 = 1)
       |SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us, l.value,
       |       epoch_us(r.r_ts) AS r_ts_us, r.r_value
       |FROM l JOIN r ON r.user_id = l.user_id
       | AND r.r_ts >= l.ts - INTERVAL 5 MINUTE
       | AND r.r_ts <= l.ts + INTERVAL 5 MINUTE""".stripMargin

  /** Left-OUTER batch twin of the stream-stream interval join: the
    * same shared function with joinType=leftOuter — in streaming the
    * null row for an unmatched left event is emitted when the right
    * watermark passes ts + interval; in batch it falls out of the same
    * plan directly, so one gate pins the outer semantics both modes
    * share. Sparse left side (event_id % 10 == 0) keeps genuine
    * unmatched rows in play at every sf. */
  val intervalJoinOuterTwin: Q = (s, dir) => {
    val ev = events(s, dir)
    val l = ev.where(col("event_id") % 10 === 0 && col("value") > 200)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val r = ev.where(col("event_id") % 10 === 5 && col("value") > 200)
      .select(col("user_id"), col("ts"), col("value"))
    graft.streaming.PixelStream.intervalJoin(l, r, "user_id", joinType = "leftOuter")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), unix_micros(col("r_ts")).as("r_ts_us"), col("r_value"))
  }

  val intervalJoinOuterTwinSql: String =
    s"""WITH $eventsCte,
       |l AS (SELECT user_id, ts, event_id, value FROM evts
       |      WHERE event_id % 10 = 0 AND value > 200),
       |r AS (SELECT user_id, ts AS r_ts, value AS r_value FROM evts
       |      WHERE event_id % 10 = 5 AND value > 200)
       |SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us, l.value,
       |       epoch_us(r.r_ts) AS r_ts_us, r.r_value
       |FROM l LEFT JOIN r ON r.user_id = l.user_id
       | AND r.r_ts >= l.ts - INTERVAL 5 MINUTE
       | AND r.r_ts <= l.ts + INTERVAL 5 MINUTE""".stripMargin

  /** §2.8 session windows (gap 10 min) per user — batch equivalent of
    * session_window; oracle is the classic gaps-and-islands rewrite. */
  val sessionWindows: Q = (s, dir) =>
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(dec2(col("value"))).as("sum_value"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"), col("n_events"), col("sum_value"))

  val sessionWindowsSql: String =
    s"""WITH $eventsCte,
       |flagged AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                   >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_sess
       |  FROM evts),
       |islands AS (
       |  SELECT user_id, ts, value,
       |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |  FROM flagged)
       |SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS sess_start,
       |       COUNT(*) AS n_events, ${dsumSql(dec2Sql("value"))} AS sum_value
       |FROM islands GROUP BY user_id, sess_id""".stripMargin

  /** Peak concurrency per hour — the capacity-planning sweep: how many
    * user sessions (10-min-gap islands, as q_session_windows) are open
    * at once? The classic +1/−1 boundary sweep needs a GLOBAL running
    * sum, which naive SQL plans as a single-partition Window; the
    * engine side instead rides
    * [[graft.ops.Ranking.withGlobalRunningSums]] — range shuffle +
    * driver-side P-row prefix + map pass, so no task ever sees more
    * than one partition of boundaries at 100 TB. Sessions are
    * half-open [start, end+1µs) (a zero-length session still counts as
    * open at its instant), boundaries sort by the TOTAL key
    * (t, delta, user_id) with ends first so back-to-back sessions
    * don't double-count. All integers; the oracle replays the sweep
    * with the ordered-Window form. */
  val peakConcurrency: Q = (s, dir) => {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(wu) >= 600000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    val sweep = sess.select(col("s_us").as("t"), lit(1L).as("delta"), col("user_id"))
      .unionByName(sess.select((col("e_us") + 1L).as("t"), lit(-1L).as("delta"), col("user_id")))
    graft.ops.Ranking.withGlobalRunningSums(
      sweep, Seq(col("t"), col("delta"), col("user_id")), Seq("delta"))._1
      .groupBy((col("t") - (col("t") % 3600000000L)).as("hour_us"))
      .agg(max(col("rsum_delta")).as("peak_concurrency"), count(lit(1)).as("n_changes"))
  }

  val peakConcurrencySql: String =
    s"""WITH $eventsCte,
       |e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM evts),
       |flagged AS (
       |  SELECT user_id, us, event_id,
       |         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |                   >= 600000000 THEN 1 ELSE 0 END AS new_sess
       |  FROM e),
       |sess AS (
       |  SELECT user_id, MIN(us) AS s_us, MAX(us) AS e_us
       |  FROM (SELECT user_id, us,
       |          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |        FROM flagged)
       |  GROUP BY user_id, sess_id),
       |sweep AS (SELECT s_us AS t, CAST(1 AS BIGINT) AS delta, user_id FROM sess
       |          UNION ALL
       |          SELECT e_us + 1, CAST(-1 AS BIGINT), user_id FROM sess),
       |run AS (SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta, user_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum
       |        FROM sweep)
       |SELECT t - (t % 3600000000) AS hour_us,
       |       MAX(rsum) AS peak_concurrency, COUNT(*) AS n_changes
       |FROM run GROUP BY 1""".stripMargin

  /** JSON path extraction (P11-adjacent utility surface): pull props.k. */
  val jsonExtract: Q = (s, dir) =>
    events(s, dir)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k"))

  val jsonExtractSql: String =
    s"""WITH $eventsCte
      |SELECT event_id, CAST(json_extract_string(props, '$$.k') AS INT) AS k
      |FROM evts""".stripMargin

  /** P12/A6: word count over documents (WordCount.scala:22-26). */
  val wordCount: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  val wordCountSql: String =
    """SELECT w.word, COUNT(*) AS n
      |FROM documents, unnest(string_split(text, ' ')) AS w(word)
      |WHERE w.word <> '' GROUP BY 1""".stripMargin

  /** A8: extent union — envelope fold over the rect features
    * (UtilsShape.scala:108-118). */
  val extentUnion: Q = (s, dir) =>
    rectFeatures(s, dir).agg(
      min(col("x0")).as("xmin"), min(col("y0")).as("ymin"),
      max(col("x1")).as("xmax"), max(col("y1")).as("ymax"))

  val extentUnionSql: String =
    s"""WITH $rectCte
       |SELECT MIN(x0) AS xmin, MIN(y0) AS ymin, MAX(x1) AS xmax, MAX(y1) AS ymax
       |FROM rects""".stripMargin

  /** A7: numClasses = max(label) (SVMMultiClass.scala:95). */
  val numClasses: Q = (s, dir) =>
    table(s, dir, "embeddings").agg((max(col("label")) + 1).as("num_classes"))

  val numClassesSql: String =
    "SELECT MAX(label) + 1 AS num_classes FROM embeddings"

  /** K1's storage index: the zorder key of each fixture tile, computed by
    * the native ZOrderKey expression; oracle re-derives the interleave
    * with bit arithmetic. */
  val zorderKeys: Q = (s, dir) =>
    tilesA(s, dir).select(col("tile_col"), col("tile_row"),
      graft.functions.ZOrderKey.zorder(col("tile_col"), col("tile_row")).as("zkey"))

  val zorderKeysSql: String = {
    val terms = (0 until 16).flatMap(b => Seq(
      s"(((CAST(tile_col AS BIGINT) >> $b) & 1) << ${2 * b})",
      s"(((CAST(tile_row AS BIGINT) >> $b) & 1) << ${2 * b + 1})"))
    s"""WITH $pxCte
       |SELECT tile_col, tile_row,
       |       ${terms.mkString(" + ")} AS zkey
       |FROM (SELECT DISTINCT tile_col, tile_row FROM pxa)""".stripMargin
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total quantity
    * clears a threshold, rejoined to customer detail. The interesting
    * engine move is the HAVING-filtered aggregate as a join input:
    * Spark aggregates lineitem ONCE (partial map-side sums — quantity
    * is integral-valued so the double sum is exact), the tiny surviving
    * key set then drives the orders/customer joins, and AQE broadcasts
    * it — the oracle runs the textbook IN-subquery formulation, so the
    * hash-match proves the rewrite. No ORDER/LIMIT: the result is the
    * full qualifying set (deterministic without a tie policy). */
  val largeOrders: Q = (s, dir) => {
    val qty = table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 250)
    table(s, dir, "orders")
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        dec2(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
  }

  val largeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(o_orderdate AS DATE) AS o_date,
      |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
      |       CAST(total_qty AS DOUBLE) AS total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      |      FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250) q
      |  ON o_orderkey = q.l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** TPC-H Q21 shape (suppliers solely to blame): suppliers whose
    * lineitem is the ONLY returned line ('R') on a multi-supplier
    * finished order — the correlated EXISTS (another supplier was on
    * the order) + NOT EXISTS (no other supplier's line was returned)
    * pair. Spark runs the DECORRELATED plan: ONE per-order aggregate
    * replaces both correlated subqueries, so lineitem is scanned twice
    * instead of three self-join shuffles. It counts suppliers, and
    * suppliers with a returned line, over the distinct (order,
    * supplier) pairs with plain counts: two COUNT(DISTINCT)s would plan
    * an Expand whose group order varies between JVMs. The oracle keeps
    * the textbook EXISTS/NOT EXISTS formulation, so the hash-match
    * PROVES the decorrelation. Counts stay exact integers. */
  val blameSupplier: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val perOrder = li.groupBy(col("l_orderkey").as("ok"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", col("l_suppkey"))).as("r_sup"))
      .groupBy(col("ok"))
      .agg(count(col("l_suppkey")).as("n_sup"), count(col("r_sup")).as("n_r_sup"))
    li.where(col("l_returnflag") === "R")
      .join(table(s, dir, "orders").where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(perOrder, col("l_orderkey") === col("ok"))
      .where(col("n_sup") > 1 && col("n_r_sup") === 1)
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  val blameSupplierSql: String =
    """SELECT s_suppkey, s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q2 shape (min-cost supplier): for each part in the size
    * class, every supplier whose line price equals the part's MINIMUM
    * line price — the classic correlated-scalar-subquery-on-MIN.
    * Spark runs the decorrelated plan (one per-part MIN aggregate
    * joined back on the part key — both sides shuffle-partitioned by
    * l_partkey, so the join adds no third Exchange); the oracle keeps
    * the textbook correlated form, so the hash-match proves the
    * rewrite. Ties keep every minimum-price supplier (Q2 semantics);
    * DISTINCT collapses repeat lines from the same supplier. */
  val cheapestSupplier: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val minPrice = li.groupBy(col("l_partkey").as("pk"))
      .agg(min(dec2(col("l_extendedprice"))).as("min_price"))
    li.join(minPrice,
        col("l_partkey") === col("pk") && dec2(col("l_extendedprice")) === col("min_price"))
      .join(broadcast(table(s, dir, "part").where(col("p_size") % 5 === 0)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_suppkey"), col("s_name"),
        col("min_price").cast("double").as("min_price"))
      .distinct()
  }

  val cheapestSupplierSql: String =
    """SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name,
      |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS min_price
      |FROM lineitem l, part, supplier
      |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |  AND p_size % 5 = 0
      |  AND CAST(l_extendedprice AS DECIMAL(12,2)) =
      |      (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2)))
      |       FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** TPC-H Q17 shape (small-lot revenue): revenue of lines whose
    * quantity is under 20% of their part's average quantity — the
    * correlated AVG subquery. The average is stated as SUM/COUNT
    * (one exact integral sum, one IEEE division) rather than AVG so
    * both engines compute the identical two-operand chain; the 0.2
    * multiplier is the same single IEEE multiply on each side. */
  val smallLots: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val avgQ = li.groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(avgQ, col("l_partkey") === col("pk"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(broadcast(table(s, dir, "part").where(col("p_size") % 7 === 0)),
        col("l_partkey") === col("p_partkey"))
      .agg((dsum(dec2(col("l_extendedprice"))) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_lots"))
  }

  val smallLotsSql: String =
    s"""SELECT ${dsumSql(dec2Sql("l_extendedprice"))} / 7.0 AS avg_yearly,
       |       COUNT(*) AS n_lots
       |FROM lineitem l, part
       |WHERE p_partkey = l_partkey AND p_size % 7 = 0
       |  AND l_quantity < 0.2 * (SELECT SUM(l2.l_quantity) / COUNT(*)
       |                          FROM lineitem l2
       |                          WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** TPC-H Q20 shape (dominant suppliers): suppliers who shipped more
    * than half of some part's total quantity. The per-part total is a
    * SECOND-LEVEL aggregate over the (part, supplier) rollup — not a
    * rescan of lineitem — so lineitem shuffles once; the oracle keeps
    * the correlated total-per-part subquery over the base table. */
  val excessStock: Q = (s, dir) => {
    val ps = table(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sup_qty"))
    val tot = ps.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("sup_qty")).as("tot_qty"))
    ps.join(tot, col("l_partkey") === col("pk"))
      .where(col("sup_qty") > col("tot_qty") * lit(0.5))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts"), sum(col("sup_qty")).cast("double").as("qty"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts"), col("qty"))
  }

  val excessStockSql: String =
    """SELECT s_suppkey, s_name, COUNT(*) AS n_parts,
      |       CAST(SUM(sup_qty) AS DOUBLE) AS qty
      |FROM supplier
      |JOIN (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sup_qty
      |      FROM lineitem GROUP BY 1, 2) ps ON s_suppkey = l_suppkey
      |WHERE sup_qty > 0.5 * (SELECT SUM(l_quantity) FROM lineitem l2
      |                       WHERE l2.l_partkey = ps.l_partkey)
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q22 shape (idle wealthy customers): customers above the
    * global positive-balance average who never placed an order,
    * rolled up by nation — a global scalar subquery (broadcast as a
    * declared 1-row cross join) plus an anti join. The threshold is
    * dsum/count so the comparison constant is bit-identical in both
    * engines at any table size. */
  val idleCustomers: Q = (s, dir) => {
    val cust = table(s, dir, "customer")
    val thr = cust.where(col("c_acctbal") > 0)
      .agg((dsum(dec2(col("c_acctbal"))) / count(lit(1))).as("thr"))
    cust.crossJoin(broadcast(thr))
      .where(dec2(col("c_acctbal")).cast("double") > col("thr"))
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), dsum(dec2(col("c_acctbal"))).as("totacctbal"))
  }

  val idleCustomersSql: String =
    s"""SELECT n_name, COUNT(*) AS numcust,
       |       ${dsumSql(dec2Sql("c_acctbal"))} AS totacctbal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) >
       |      (SELECT ${dsumSql(dec2Sql("c_acctbal"))} / COUNT(*)
       |       FROM customer WHERE c_acctbal > 0)
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |GROUP BY 1""".stripMargin

  /** TPC-H Q11 shape (important parts): parts whose shipped value
    * exceeds a FRACTION of the global total — the
    * aggregate-vs-aggregate-of-aggregates scalar subquery. The global
    * total is a second-level reduce over the per-part rollup (not a
    * lineitem rescan) broadcast as a 1-row cross join; both sides of
    * the comparison are the exact-DECIMAL split conversion, the
    * fraction is one IEEE multiply. */
  val importantParts: Q = (s, dir) => {
    // decimals stay DECIMAL through both aggregation levels; the split
    // conversion fires only at the comparison/output (casting the dsum
    // DOUBLE back to decimal would re-round a binary expansion — the
    // exact trap the Fixtures scaladoc warns about)
    def d2d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val ip = floor(c).cast("long")
      ip.cast("double") + (c - ip).cast("double")
    }
    val perPart = table(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice")).cast("decimal(24,6)")).as("pdec"))
    val tot = broadcast(perPart.agg(sum(col("pdec")).as("tvdec")))
    perPart.crossJoin(tot)
      .where(d2d(col("pdec")) > d2d(col("tvdec")) * lit(0.0005))
      .select(col("l_partkey"), d2d(col("pdec")).as("pvalue"))
  }

  val importantPartsSql: String = {
    def d2d(x: String): String =
      s"(CAST(CAST(FLOOR($x) AS BIGINT) AS DOUBLE) + CAST($x - CAST(FLOOR($x) AS BIGINT) AS DOUBLE))"
    s"""WITH pp AS (SELECT l_partkey,
       |              SUM(CAST(${dec2Sql("l_extendedprice")} AS DECIMAL(24,6))) AS pdec
       |            FROM lineitem GROUP BY 1),
       |t AS (SELECT SUM(pdec) AS tvdec FROM pp)
       |SELECT l_partkey, ${d2d("pdec")} AS pvalue FROM pp, t
       |WHERE ${d2d("pdec")} > ${d2d("tvdec")} * 0.0005""".stripMargin
  }

  /** TPC-H Q16 shape (supplier census with exclusion): distinct
    * suppliers per brand/size class, EXCLUDING a blacklist stated as
    * NOT IN in the oracle and planned as a broadcast anti join in
    * Spark — the NOT-IN-to-anti-join rewrite (safe here: the key is
    * non-null on both sides). The distinct count partial-aggregates
    * per (brand, size, suppkey) before the final count — one fact
    * shuffle. */
  val supplierCensus: Q = (s, dir) => {
    val banned = table(s, dir, "supplier")
      .where(col("s_acctbal") < 0).select(col("s_suppkey"))
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")).where(col("p_size") % 3 === 0),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(banned), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val supplierCensusSql: String =
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size % 3 = 0
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2""".stripMargin

  /** FIFO allocation matching — the inventory/cost-basis classic: per
    * part, "sells" (odd orderkeys) consume "buys" (even orderkeys) in
    * ship-date order, and each (buy, sell) match quantity is the
    * OVERLAP of their cumulative-quantity intervals: max(0,
    * min(bhi, shi) − max(blo, slo)). The matching never iterates —
    * two per-(part, side) running sums turn FIFO into ONE part-keyed
    * equi-join with a range residual (the a_band_join lesson: the
    * hash join carries the partition key, the interval predicate
    * rides as a residual filter, and within-part overlap is
    * structurally ≤ 2 matches per row side on average). Quantities
    * are exact integral longs throughout. */
  val fifoMatch: Q = (s, dir) => {
    val li = table(s, dir, "lineitem").select(col("l_partkey").as("pk"),
      (col("l_orderkey") % 2 === 0).as("is_buy"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"),
      col("l_shipdate").as("sd"), col("l_quantity").cast("long").as("qty"))
    def cums(isBuy: Boolean, pfx: String) = {
      val w = Window.partitionBy(col("pk")).orderBy(col("sd"), col("lid"))
      li.where(col("is_buy") === isBuy)
        .withColumn("hi", sum(col("qty")).over(w))
        .select(col("pk"), col("lid").as(s"${pfx}_id"),
          (col("hi") - col("qty")).as(s"${pfx}_lo"), col("hi").as(s"${pfx}_hi"))
    }
    cums(isBuy = true, "buy").join(cums(isBuy = false, "sell"), Seq("pk"))
      .where(col("buy_hi") > col("sell_lo") && col("sell_hi") > col("buy_lo"))
      .select(col("pk").as("l_partkey"), col("buy_id"), col("sell_id"),
        (least(col("buy_hi"), col("sell_hi"))
          - greatest(col("buy_lo"), col("sell_lo"))).as("qty_matched"))
  }

  val fifoMatchSql: String =
    """WITH li AS (SELECT l_partkey AS pk,
      |                   l_orderkey % 2 = 0 AS is_buy,
      |                   l_orderkey * 10 + l_linenumber AS lid,
      |                   l_shipdate AS sd, CAST(l_quantity AS BIGINT) AS qty
      |            FROM lineitem),
      |b AS (SELECT pk, lid AS buy_id,
      |             CAST(SUM(qty) OVER w - qty AS BIGINT) AS buy_lo,
      |             CAST(SUM(qty) OVER w AS BIGINT) AS buy_hi
      |      FROM li WHERE is_buy
      |      WINDOW w AS (PARTITION BY pk ORDER BY sd, lid
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT pk, lid AS sell_id,
      |             CAST(SUM(qty) OVER w - qty AS BIGINT) AS sell_lo,
      |             CAST(SUM(qty) OVER w AS BIGINT) AS sell_hi
      |      FROM li WHERE NOT is_buy
      |      WINDOW w AS (PARTITION BY pk ORDER BY sd, lid
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (SELECT b.pk, buy_id, sell_id,
      |             LEAST(buy_hi, sell_hi) - GREATEST(buy_lo, sell_lo) AS qty_matched
      |      FROM b JOIN s ON b.pk = s.pk
      |      WHERE buy_hi > sell_lo AND sell_hi > buy_lo)
      |SELECT pk AS l_partkey, buy_id, sell_id, qty_matched FROM m""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "q_fifo_match" -> (fifoMatch, Some(fifoMatchSql)),
    "q_important_parts" -> (importantParts, Some(importantPartsSql)),
    "q_supplier_census" -> (supplierCensus, Some(supplierCensusSql)),
    "q_cheapest_supplier" -> (cheapestSupplier, Some(cheapestSupplierSql)),
    "q_small_lots" -> (smallLots, Some(smallLotsSql)),
    "q_excess_stock" -> (excessStock, Some(excessStockSql)),
    "q_idle_customers" -> (idleCustomers, Some(idleCustomersSql)),
    "q_large_orders" -> (largeOrders, Some(largeOrdersSql)),
    "q_blame_supplier" -> (blameSupplier, Some(blameSupplierSql)),
    "q_pricing_summary" -> (pricingSummary, Some(pricingSummarySql)),
    "q_revenue_by_segment" -> (revenueBySegment, Some(revenueBySegmentSql)),
    "q_revenue_by_region" -> (revenueByRegion, Some(revenueByRegionSql)),
    "q_volume_shipping" -> (volumeShipping, Some(volumeShippingSql)),
    "q_market_share" -> (marketShare, Some(marketShareSql)),
    "q_semi_anti_join" -> (semiAntiJoin, Some(semiAntiJoinSql)),
    "q_outer_order_counts" -> (outerOrderCounts, Some(outerOrderCountsSql)),
    "q_top_suppliers" -> (topSuppliers, Some(topSuppliersSql)),
    "q_user_retention" -> (userRetention, Some(userRetentionSql)),
    "q_latest_per_key" -> (latestPerKey, Some(latestPerKeySql)),
    "q_ohlc" -> (ohlc, Some(ohlcSql)),
    "q_funnel" -> (funnel, Some(funnelSql)),
    "q_event_transitions" -> (eventTransitions, Some(eventTransitionsSql)),
    "q_attribution" -> (attribution, Some(attributionSql)),
    "q_market_basket" -> (marketBasket, Some(marketBasketSql)),
    "q_cohort_matrix" -> (cohortMatrix, Some(cohortMatrixSql)),
    "q_rfm" -> (rfm, Some(rfmSql)),
    "q_active_users" -> (activeUsers, Some(activeUsersSql)),
    "c_apply_cdc" -> (applyCdc, Some(applyCdcSql)),
    "q_scd2" -> (scd2, Some(scd2Sql)),
    "q_set_ops" -> (setOps, Some(setOpsSql)),
    "q_event_windows" -> (eventWindows, Some(eventWindowsSql)),
    "q_tumbling_window" -> (tumblingWindow, Some(tumblingWindowSql)),
    "q_sliding_window" -> (slidingWindow, Some(slidingWindowSql)),
    "q_session_windows" -> (sessionWindows, Some(sessionWindowsSql)),
    "q_peak_concurrency" -> (peakConcurrency, Some(peakConcurrencySql)),
    "q_interval_join" -> (intervalJoinTwin, Some(intervalJoinTwinSql)),
    "q_interval_join_outer" -> (intervalJoinOuterTwin, Some(intervalJoinOuterTwinSql)),
    "q_json_extract" -> (jsonExtract, Some(jsonExtractSql)),
    "q_word_count" -> (wordCount, Some(wordCountSql)),
    "q_extent_union" -> (extentUnion, Some(extentUnionSql)),
    "q_num_classes" -> (numClasses, Some(numClassesSql)),
    "q_zorder_keys" -> (zorderKeys, Some(zorderKeysSql)),
  )
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Fixtures._

/** SQL breadth the reference never had but Catalyst gives free
  * (SURVEY §2.6 "no grouping sets / cube / rollup ... Catalyst provides
  * them"): rollup/cube, correlated + scalar subqueries, ranking window
  * family. All oracle-checked. */
object AdvancedQueries {
  type Q = (SparkSession, String) => DataFrame

  /** ROLLUP over (returnflag, linestatus) with grouping ids. */
  val rollup: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))

  val rollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n,
      |       GROUPING(l_returnflag, l_linestatus) AS gid
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over (orderstatus, orderpriority). */
  val cube: Q = (s, dir) =>
    table(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(dec2(col("o_totalprice"))).as("total"))

  val cubeSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |       ${dsumSql(dec2Sql("o_totalprice"))} AS total
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Correlated EXISTS (TPC-H Q4 shape): orders with at least one
    * late lineitem. */
  val correlatedExists: Q = (s, dir) => {
    val o = table(s, dir, "orders")
    val li = table(s, dir, "lineitem")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val correlatedExistsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
      |GROUP BY 1""".stripMargin

  /** Scalar subquery (TPC-H Q17 shape): lineitems below 50% of their
    * part's average quantity. Avg computed as exact sum/count. */
  val scalarSubquery: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val avgQ = li.groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(avgQ, col("l_partkey") === col("pk"))
      .where(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(count(lit(1)).as("n_below"),
        sum(col("l_quantity")).cast("double").as("qty_below"))
  }

  val scalarSubquerySql: String =
    """SELECT COUNT(*) AS n_below, CAST(SUM(l_quantity) AS DOUBLE) AS qty_below
      |FROM lineitem l
      |WHERE l_quantity < (SELECT 0.5 * SUM(l2.l_quantity) / COUNT(*)
      |                    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** Ranking window family: rank / dense_rank / lag / lead / ntile over
    * suppliers' revenue. Exact decimal revenue keeps ordering
    * deterministic; unique key tie-break. */
  val rankingWindows: Q = (s, dir) => {
    val rev = table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(dsum(revenue).as("revenue"))
    // a bare Window.orderBy would single-partition the whole input;
    // Ranking.withGlobalRanks is the range-partitioned two-phase shape
    graft.ops.Ranking.withGlobalRanks(rev,
        Seq(col("revenue").desc, col("l_suppkey")), Seq("revenue", "l_suppkey"),
        neighborCol = "l_suppkey", ntileN = 4)
      .select(col("l_suppkey"), col("revenue"), col("rnk"), col("drnk"),
        col("ntile").as("quartile"),
        coalesce(col("prev_nb"), lit(-1L)).as("prev_supp"),
        coalesce(col("next_nb"), lit(-1L)).as("next_supp"))
  }

  val rankingWindowsSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, ${dsumSql(revenueSql)} AS revenue
       |  FROM lineitem GROUP BY 1)
       |SELECT l_suppkey, revenue,
       |       RANK() OVER w AS rnk,
       |       DENSE_RANK() OVER w AS drnk,
       |       CAST(NTILE(4) OVER w AS INT) AS quartile,
       |       COALESCE(LAG(l_suppkey, 1) OVER w, -1) AS prev_supp,
       |       COALESCE(LEAD(l_suppkey, 1) OVER w, -1) AS next_supp
       |FROM rev
       |WINDOW w AS (ORDER BY revenue DESC, l_suppkey)""".stripMargin

  /** Conditional aggregation / pivot shape: revenue per returnflag
    * spread to columns. */
  val pivot: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(revenue))
      .na.fill(0.0)

  val pivotSql: String =
    s"""SELECT l_linestatus,
       |  COALESCE(${dsumSql(s"CASE WHEN l_returnflag = 'A' THEN $revenueSql END")}, 0.0) AS A,
       |  COALESCE(${dsumSql(s"CASE WHEN l_returnflag = 'N' THEN $revenueSql END")}, 0.0) AS N,
       |  COALESCE(${dsumSql(s"CASE WHEN l_returnflag = 'R' THEN $revenueSql END")}, 0.0) AS R
       |FROM lineitem GROUP BY 1""".stripMargin

  /** As-of join (an operator Spark lacks natively; graft.ops.AsOfJoin
    * is union + last-over-window — one shuffle, no range blowup): every
    * click event picks up the latest view at-or-before it per user.
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  val asofJoin: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value").as("click_value"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"))
    graft.ops.AsOfJoin.asof(clicks, views, "user_id", "ts")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("click_value"), col("view_value"))
  }

  val asofJoinSql: String =
    s"""WITH $eventsCte,
       |clicks AS (SELECT user_id, ts, event_id, value AS click_value
       |           FROM evts WHERE event_type = 'click'),
       |views AS (SELECT user_id, ts, value AS view_value
       |          FROM evts WHERE event_type = 'view')
       |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       |       c.click_value, v.view_value
       |FROM clicks c ASOF LEFT JOIN views v
       |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin

  /** TPC-H Q3 shape: selective join + group + deterministic top-10. */
  val shippingPriority: Q = (s, dir) =>
    table(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("l_orderkey"))
      .agg(dsum(revenue).as("revenue"), min(col("o_orderdate")).cast("date").as("o_date"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  val shippingPrioritySql: String =
    s"""SELECT l_orderkey, ${dsumSql(revenueSql)} AS revenue,
       |       CAST(MIN(o_orderdate) AS DATE) AS o_date
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
       |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Dimension self-join (TPC-H Q7 shape): supplier-nation x
    * customer-nation trade pairs. */
  val nationPairs: Q = (s, dir) => {
    val n1 = table(s, dir, "nation").select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = table(s, dir, "nation").select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    table(s, dir, "lineitem")
      .join(table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .where(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n"))
  }

  val nationPairsSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       ${dsumSql(revenueSql)} AS revenue, COUNT(*) AS n
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name < n2.n_name
       |GROUP BY 1, 2""".stripMargin

  /** HAVING + exact distinct count: parts ordered in >= 8 distinct
    * orders. */
  val havingDistinct: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity")).cast("double").as("total_qty"))
      .where(col("n_orders") >= 8)

  val havingDistinctSql: String =
    """SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_orders,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY 1 HAVING COUNT(DISTINCT l_orderkey) >= 8""".stripMargin

  /** GROUPING SETS through the SQL interface (the one §2.6 shape not yet
    * covered by rollup/cube): two explicit sets + the grand total. */
  val groupingSets: Q = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n
         |FROM lineitem_gs
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Frame-based running totals per customer (ROWS UNBOUNDED PRECEDING)
    * — partitioned by the grouping key, so every window task is
    * customer-bounded (no single-partition hazard). */
  val runningTotal: Q = (s, dir) =>
    table(s, dir, "orders")
      .where(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        dec2(col("o_totalprice")).as("price"))
      .withColumn("running_total",
        sum(col("price")).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        col("price").cast("double").as("price"), col("running_total"))

  val runningTotalSql: String =
    s"""SELECT o_custkey, o_orderkey,
       |       CAST(${dec2Sql("o_totalprice")} AS DOUBLE) AS price,
       |       CAST(SUM(${dec2Sql("o_totalprice")}) OVER (
       |         PARTITION BY o_custkey ORDER BY o_orderkey
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
       |FROM orders WHERE o_custkey < 100""".stripMargin

  /** Running DISTINCT count over a window — per customer, the number of
    * distinct parts seen up to each line of their order stream. Spark
    * has no DISTINCT window aggregate, so the engine uses the classic
    * rewrite (first-occurrence flag via row_number over (customer,
    * part), then a running sum); the DuckDB oracle uses its NATIVE
    * `COUNT(DISTINCT ...) OVER` — two genuinely different algorithms
    * agreeing row-for-row. The window order MUST be total for the
    * frame to be well-defined: (orderkey, linenumber) is not unique in
    * the synthetic lineitem, so partkey completes the key (equal-part
    * duplicates then emit equal counts on the adjacent tied rows, so
    * the output multiset is deterministic). Both windows partition on
    * the customer key (high cardinality), never a single global sort. */
  val runningDistinct: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .where(col("o_custkey") < 100)
    // (orderkey, linenumber) is NOT unique in the synthetic lineitem, so
    // partkey completes the total order; for equal-part duplicates the
    // flag pair is (1, 0) on adjacent rows, so both rows emit the same
    // running count and the output multiset stays deterministic
    val ord = Seq(col("o_orderdate"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val firstSeen = Window.partitionBy(col("o_custkey"), col("l_partkey")).orderBy(ord: _*)
    val running = Window.partitionBy(col("o_custkey")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("o_custkey"), col("o_orderdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"),
      when(row_number().over(firstSeen) === 1, 1L).otherwise(0L).as("f"))
      .select(col("o_custkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("f")).over(running).as("uniq_parts"))
  }

  val runningDistinctSql: String =
    """SELECT o_custkey, l_orderkey, l_linenumber,
      |       COUNT(DISTINCT l_partkey) OVER (
      |         PARTITION BY o_custkey
      |         ORDER BY o_orderdate, l_orderkey, l_linenumber, l_partkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS uniq_parts
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey < 100""".stripMargin

  /** Exact quantiles with a scale-correct shape: instead of a per-group
    * global sort + row_number (one task per group at 100x), aggregate a
    * value histogram first — the shuffle carries only (group, distinct
    * value) pairs, and the cumulative window runs over that tiny
    * aggregated set. Discrete quantile (first value whose cumulative
    * count reaches ceil(p*n)) avoids interpolation arithmetic entirely,
    * so results are exact in both engines. */
  /** CONTINUOUS (interpolated) percentiles — the PERCENTILE_CONT twin
    * of a_quartiles' discrete cut, same scale-correct shape: collapse
    * to a value histogram first, window over DISTINCT values only,
    * then read the two bracketing ranks per percentile and interpolate.
    * Exactness: position p·(n−1) is a dyadic×integer product, its
    * floor/frac are exact, bracketing values are integral, and
    * lo + (hi−lo)·frac is an exact chain both engines state in the
    * same order — so even interpolated quantiles hash-match. */
  val percentileCont: Q = (s, dir) => {
    val h = table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val cum = h.select(col("l_returnflag"), col("l_quantity"), col("cnt"),
      sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))).as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))).as("n"))
    def vAt(rank: org.apache.spark.sql.Column) =
      min(when(col("cum") >= rank, col("l_quantity"))).cast("double")
    def loRank(p: Double) = floor(lit(p) * (col("n") - 1)) + 1
    val agged = cum.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        vAt(loRank(0.25)).as("lo25"), vAt(loRank(0.25) + 1).as("hi25"),
        vAt(loRank(0.5)).as("lo50"), vAt(loRank(0.5) + 1).as("hi50"),
        vAt(loRank(0.75)).as("lo75"), vAt(loRank(0.75) + 1).as("hi75"))
    def interp(p: Double, lo: String, hi: String) = {
      val pos = lit(p) * (col("n") - 1).cast("double")
      val frac = pos - floor(pos)
      (col(lo) + (coalesce(col(hi), col(lo)) - col(lo)) * frac)
    }
    agged.select(col("l_returnflag"), col("n"),
      interp(0.25, "lo25", "hi25").as("p25"),
      interp(0.5, "lo50", "hi50").as("p50"),
      interp(0.75, "lo75", "hi75").as("p75"))
  }

  val percentileContSql: String = {
    def v(rank: String) = s"CAST(MIN(CASE WHEN cum >= $rank THEN l_quantity END) AS DOUBLE)"
    def lo(p: String) = s"floor($p * (n - 1)) + 1"
    def interp(p: String, lo: String, hi: String) =
      s"$lo + (COALESCE($hi, $lo) - $lo) * ($p * CAST(n - 1 AS DOUBLE) - floor($p * CAST(n - 1 AS DOUBLE)))"
    s"""WITH h AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
       |           FROM lineitem GROUP BY 1, 2),
       |c AS (SELECT l_returnflag, l_quantity, cnt,
       |        SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
       |        SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
       |      FROM h),
       |a AS (SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       |        ${v(lo("0.25"))} AS lo25, ${v(s"${lo("0.25")} + 1")} AS hi25,
       |        ${v(lo("0.5"))} AS lo50, ${v(s"${lo("0.5")} + 1")} AS hi50,
       |        ${v(lo("0.75"))} AS lo75, ${v(s"${lo("0.75")} + 1")} AS hi75
       |      FROM c GROUP BY 1)
       |SELECT l_returnflag, n,
       |       ${interp("0.25", "lo25", "hi25")} AS p25,
       |       ${interp("0.5", "lo50", "hi50")} AS p50,
       |       ${interp("0.75", "lo75", "hi75")} AS p75
       |FROM a""".stripMargin
  }

  val quartiles: Q = (s, dir) => {
    val h = table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val cum = h.select(col("l_returnflag"), col("l_quantity"), col("cnt"),
      sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))).as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))).as("n"))
    def q(p: Double, nm: String) =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("l_quantity"))).cast("double").as(nm)
    cum.groupBy(col("l_returnflag"))
      .agg(q(0.25, "q1"), q(0.5, "q2"), q(0.75, "q3"), max(col("n")).as("n"))
  }

  val quartilesSql: String =
    """WITH h AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, l_quantity, cnt,
      |        SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
      |        SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      |      FROM h)
      |SELECT l_returnflag,
      |       CAST(MIN(CASE WHEN cum >= ceil(0.25 * n) THEN l_quantity END) AS DOUBLE) AS q1,
      |       CAST(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN l_quantity END) AS DOUBLE) AS q2,
      |       CAST(MIN(CASE WHEN cum >= ceil(0.75 * n) THEN l_quantity END) AS DOUBLE) AS q3,
      |       CAST(MAX(n) AS BIGINT) AS n
      |FROM c GROUP BY 1""".stripMargin

  /** Pearson correlation per group, bit-deterministic: the five moment
    * sums accumulate as exact decimals (magnitudes chosen so every
    * decimal→double cast is exact, see [[Fixtures.dsum]] scaladoc), then
    * one fixed-order double formula per group. Spark's built-in `corr`
    * folds doubles in partition order — unusable under a bitwise oracle;
    * this shape is the determinism-contract way to do second moments. */
  val corrMoments: Q = (s, dir) => {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_discount"))
    val ag = table(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum(x * y).cast("double").as("sxy"),
      sum(x * x).cast("double").as("sxx"),
      sum(y * y).cast("double").as("syy"))
    ag.select(col("l_returnflag"), col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy"))
        / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
          * sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qd"))
  }

  val corrMomentsSql: String =
    s"""WITH ag AS (SELECT l_returnflag,
       |  CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(${dec2Sql("l_quantity")}) AS DOUBLE) AS sx,
       |  CAST(SUM(${dec2Sql("l_discount")}) AS DOUBLE) AS sy,
       |  CAST(SUM(${dec2Sql("l_quantity")} * ${dec2Sql("l_discount")}) AS DOUBLE) AS sxy,
       |  CAST(SUM(${dec2Sql("l_quantity")} * ${dec2Sql("l_quantity")}) AS DOUBLE) AS sxx,
       |  CAST(SUM(${dec2Sql("l_discount")} * ${dec2Sql("l_discount")}) AS DOUBLE) AS syy
       |FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |       (n * sxy - sx * sy)
       |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qd
       |FROM ag""".stripMargin

  /** Top-k per group: the 3 highest-revenue suppliers of each nation.
    * Ranking window PARTITIONED by nation — every group is its own
    * task, nothing single-partitions; the nation dim joins broadcast.
    * (Per-group rows scale with SF; a group outgrowing a task is the
    * [[graft.ops.Ranking]] regime.) */
  val topkPerGroup: Q = (s, dir) => {
    val rev = table(s, dir, "lineitem")
      .groupBy(col("l_suppkey")).agg(dsum(revenue).as("revenue"))
    val sup = broadcast(table(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey")))
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("revenue").desc, col("l_suppkey"))
    rev.join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey"), col("l_suppkey"), col("revenue"),
        rank().over(w).as("rnk"))
      .where(col("rnk") <= 3)
  }

  val topkPerGroupSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, ${dsumSql(revenueSql)} AS revenue
       |  FROM lineitem GROUP BY 1)
       |SELECT s_nationkey, l_suppkey, revenue,
       |       CAST(RANK() OVER (PARTITION BY s_nationkey
       |                         ORDER BY revenue DESC, l_suppkey) AS INT) AS rnk
       |FROM rev JOIN supplier ON s_suppkey = l_suppkey
       |QUALIFY rnk <= 3""".stripMargin

  /** RANGE window frames (vs the ROWS frames of a_running_total): per
    * returnflag, the exact decimal revenue of all line items within
    * quantity-distance 2 of the current row — value-based frame bounds,
    * peers included, partitioned window (nothing global). */
  val rangeFrames: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").cast("long"))
      .rangeBetween(-2, 2)
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
        col("l_orderkey"), col("l_linenumber"),
        sum(dec2(col("l_extendedprice"))).over(w).cast("double").as("near_revenue"))
  }

  val rangeFramesSql: String =
    s"""SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, l_orderkey, l_linenumber,
       |       CAST(SUM(${dec2Sql("l_extendedprice")}) OVER (
       |         PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)
       |         RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE) AS near_revenue
       |FROM lineitem""".stripMargin

  /** Salted two-phase aggregation through `ops.Skew.saltedAgg`, putting
    * the skew tool into the oracle-checked surface: l_returnflag has 3
    * distinct values over the whole of lineitem — exactly the
    * one-hot-key-per-reducer shape salting exists for. Partial
    * aggregates run on (key, salt) spreading each flag over 16
    * reducers, the final phase merges per key; sums stay in DECIMAL
    * through both phases so the re-aggregation is exact and
    * order-free, and the result is bitwise identical to a plain
    * GROUP BY (which is what the oracle runs). */
  val saltedFlagAgg: Q = (s, dir) =>
    graft.ops.Skew.saltedAgg(table(s, dir, "lineitem"), Seq("l_returnflag"), 16)(
      Seq(sum(col("l_quantity").cast("decimal(24,6)")).as("pq"),
        sum(dec2(col("l_extendedprice")).cast("decimal(24,6)")).as("pp"),
        count(lit(1)).as("pc")),
      // dsplit, not a naive decimal→double cast: at 60M rows the
      // unscaled 6-decimal price sum passes 2^53 and the two engines'
      // single-cast roundings diverge by 1 ulp (found AT sf10, round 9)
      Seq(dsplit(sum(col("pq"))).as("sum_qty"),
        dsplit(sum(col("pp"))).as("sum_price"),
        sum(col("pc")).as("n_items")))

  val saltedFlagAggSql: String =
    s"""SELECT l_returnflag,
       |       ${dsumSql("l_quantity")} AS sum_qty,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price,
       |       COUNT(*) AS n_items
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Salted-replicated join gate (`Skew.saltedJoin`): the skewed-fact
    * vs mid-size-dim shape where the dim is too big to broadcast whole
    * and one hot key would pin a sort-merge reducer. The fact side is
    * lineitem keyed on 3-hot-key l_returnflag; each fact row takes a
    * pseudo-random salt, the dim explodes across all 8 salts, and the
    * equi-join runs on (key, salt). The result must be row-identical
    * to the plain inner join — stated by the oracle — and the output
    * re-aggregates with DECIMAL sums so salt-dependent row order can
    * never perturb a float fold. */
  val saltedJoinAgg: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val dim = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("flag_n"))
    graft.ops.Skew
      .saltedJoin(li.select(col("l_returnflag"), col("l_linestatus"), col("l_quantity")),
        dim, "l_returnflag", 8)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(24,6)")).cast("double").as("sum_qty"),
        max(col("flag_n")).as("flag_n"))
  }

  val saltedJoinAggSql: String =
    s"""WITH dim AS (SELECT l_returnflag, COUNT(*) AS flag_n FROM lineitem GROUP BY 1)
       |SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n,
       |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
       |       MAX(d.flag_n) AS flag_n
       |FROM lineitem l JOIN dim d USING (l_returnflag)
       |GROUP BY 1, 2""".stripMargin

  /** lag/lead window family over the event stream: inter-event gaps —
    * the sessionization primitive (q_session_windows groups by the same
    * 30-minute break this query exposes per row). All integer epoch-us
    * math, exact in both engines; per-user windows partition cleanly at
    * any scale (no global ordering anywhere). */
  val lagDelta: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val gap = us - lag(us, 1).over(w)
    events(s, dir).select(col("event_id"), col("user_id"),
      gap.as("gap_us"),
      (lead(us, 1).over(w) - us).as("next_us"),
      when(coalesce(gap, lit(Long.MaxValue)) > 30L * 60 * 1000000L, 1)
        .otherwise(0).as("new_session"))
  }

  val lagDeltaSql: String =
    s"""WITH $eventsCte,
       |g AS (
       |  SELECT event_id, user_id,
       |         epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us,
       |         LEAD(epoch_us(ts), 1) OVER w - epoch_us(ts) AS next_us
       |  FROM evts
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT event_id, user_id, gap_us, next_us,
       |       CASE WHEN COALESCE(gap_us, 9223372036854775807) > 1800000000
       |            THEN 1 ELSE 0 END AS new_session
       |FROM g""".stripMargin

  /** KMV distinct-count sketch beside the exact answer: per returnflag,
    * distinct parts and suppliers both exactly (the shuffle-heavy way)
    * and through `ops.Sketches.KmvDistinct` (k=64 — per-group state is
    * 64 longs REGARDLESS of cardinality; at 100 TB the exact columns
    * are the ones you delete). Built on the portable h60 hash, so the
    * oracle reproduces the estimate bit-for-bit with a window query —
    * the sketch is gated, not just the plumbing. Parts (~200+ distinct)
    * exercise the estimation branch, suppliers (10 at small SF) the
    * exact-below-k branch. */
  val kmvDistinct: Q = (s, dir) => flagCensus(s, dir, "kmv")(graft.ops.Sketches.kmvDistinct(_, 64))

  /** Per flag, the exact distinct count and `sketch` of the h60 hash of
    * l_partkey (`exact_parts`, `<name>_parts`) and of l_suppkey (`…_supps`).
    * Each key gets its own aggregation, joined null-safely on the flag (a
    * null flag stays its own row): two distinct counts in one `agg` plan
    * an Expand whose group order varies between JVMs. */
  private def flagCensus(s: SparkSession, dir: String, name: String)(sketch: Column => Column): DataFrame = {
    val li = table(s, dir, "lineitem")
    def census(key: String, suffix: String) = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col(key)).as(s"exact_$suffix"),
        sketch(graft.text.TextOps.h60(col(key).cast("string"))).as(s"${name}_$suffix")).as(suffix)
    census("l_partkey", "parts").join(census("l_suppkey", "supps"),
        col("parts.l_returnflag") <=> col("supps.l_returnflag"))
      .select(col("parts.l_returnflag"), col("exact_parts"), col(s"${name}_parts"),
        col("exact_supps"), col(s"${name}_supps"))
  }

  private def kmvEstSql(src: String, gExpr: String, keyExpr: String, alias: String): String =
    s"""SELECT g, CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
       |            ELSE 63 * power(2.0, 60) /
       |                 CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE) END AS $alias
       |FROM (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
       |             count(*) OVER (PARTITION BY g) AS nd
       |      FROM (SELECT DISTINCT $gExpr AS g,
       |                   ${graft.text.TextOps.h60Sql(s"CAST($keyExpr AS VARCHAR)")} AS h
       |            FROM $src))
       |GROUP BY g""".stripMargin

  val kmvDistinctSql: String =
    s"""WITH sp AS (${kmvEstSql("lineitem", "l_returnflag", "l_partkey", "kmv_parts")}),
       |ss AS (${kmvEstSql("lineitem", "l_returnflag", "l_suppkey", "kmv_supps")}),
       |e AS (SELECT l_returnflag AS g,
       |             COUNT(DISTINCT l_partkey) AS exact_parts,
       |             COUNT(DISTINCT l_suppkey) AS exact_supps
       |      FROM lineitem GROUP BY 1)
       |SELECT e.g AS l_returnflag, e.exact_parts, sp.kmv_parts,
       |       e.exact_supps, ss.kmv_supps
       |FROM e JOIN sp ON e.g = sp.g JOIN ss ON e.g = ss.g""".stripMargin

  /** Data-quality constraint census — the validation stage every
    * ingest pipeline runs before training data is trusted: per rule,
    * rows checked and rows violating. One conditional-aggregation scan
    * per table covers the row-local rules (domain, range, outlier); the
    * key rules are a duplicate census on one groupBy and FK orphan
    * checks as broadcastable left-anti joins — no rule costs a second
    * scan of its table. The synthetic lineitem "PK" actually carries
    * duplicates, so the censed counts are non-trivial in both engines. */
  val dqRules: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val ords = table(s, dir, "orders")
    val cust = table(s, dir, "customer")
    def one(rule: String, n: Column, v: Column)(src: DataFrame): DataFrame =
      src.agg(n.cast("long").as("n_checked"), v.cast("long").as("n_violations"))
        .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"))
    val rowRules = Seq(
      one("discount_warn_gt_5pct", count(lit(1)),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)))(li),
      one("quantity_outlier_gt_45", count(lit(1)),
        sum(when(col("l_quantity") > 45, 1L).otherwise(0L)))(li),
      one("linestatus_domain", count(lit(1)),
        sum(when(!col("l_linestatus").isin("O", "F"), 1L).otherwise(0L)))(li),
      one("lineitem_pk_unique", sum(col("c")), coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)))(
        li.groupBy(col("l_orderkey"), col("l_linenumber")).agg(count(lit(1)).as("c"))))
    def fk(rule: String, fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String): DataFrame =
      fact.join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_violations"))
        .crossJoin(fact.agg(count(lit(1)).cast("long").as("n_checked")))
        .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"))
    val fkOrders = fk("orders_custkey_fk", ords, "o_custkey", cust, "c_custkey")
    val fkLineitem = fk("lineitem_orderkey_fk", li, "l_orderkey", ords, "o_orderkey")
    (rowRules :+ fkOrders :+ fkLineitem).reduce(_ unionByName _)
  }

  val dqRulesSql: String =
    """SELECT 'discount_warn_gt_5pct' AS rule, COUNT(*) AS n_checked,
      |       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |FROM lineitem
      |UNION ALL
      |SELECT 'quantity_outlier_gt_45', COUNT(*),
      |       CAST(SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'linestatus_domain', COUNT(*),
      |       CAST(SUM(CASE WHEN l_linestatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_pk_unique', CAST(SUM(c) AS BIGINT),
      |       CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
      |FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) t
      |UNION ALL
      |SELECT 'orders_custkey_fk', (SELECT COUNT(*) FROM orders),
      |       (SELECT COUNT(*) FROM orders o
      |        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |UNION ALL
      |SELECT 'lineitem_orderkey_fk', (SELECT COUNT(*) FROM lineitem),
      |       (SELECT COUNT(*) FROM lineitem l
      |        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))""".stripMargin

  /** KMV synopsis ALGEBRA gate (Beyer et al., SIGMOD'07): for every
    * pair of returnflag groups, the sketch-estimated union cardinality,
    * Jaccard and intersection of their part-key sets — beside the exact
    * values. The k-min set of a union is the k-min of the merged k-min
    * sets, so two per-group sketches answer set questions no matter how
    * the groups were partitioned — the reason a 100 TB profile keeps
    * sketches, not keys. Sketch arithmetic is engine-portable: the
    * oracle rebuilds each k-min set with a window, merges them with the
    * same window, and repeats the count/len and (k-1)·2^60/h_k
    * divisions in the same IEEE order. */
  val kmvSetOps: Q = (s, dir) => {
    val k = 128
    val dk = table(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_partkey").as("pk"),
        graft.text.TextOps.h60(col("l_partkey").cast("string")).as("h"))
      .distinct()
    val sketches = dk.groupBy(col("flag"))
      .agg(graft.ops.Sketches.kmvSketch(col("h"), k).as("sk"),
        countDistinct(col("pk")).as("nd"))
    val inter = dk.as("x").join(dk.as("y"),
        col("x.pk") === col("y.pk") && col("x.flag") < col("y.flag"))
      .groupBy(col("x.flag").as("fa"), col("y.flag").as("fb"))
      .agg(countDistinct(col("x.pk")).as("n_inter"))
    val est = udf((a: Seq[Long], b: Seq[Long]) => {
      val (aa, bb) = (a.toArray, b.toArray)
      val u = graft.ops.Sketches.KmvSketch.union(aa, bb, k)
      (graft.ops.Sketches.estimate(u, k),
        graft.ops.Sketches.KmvSketch.jaccard(aa, bb, k),
        graft.ops.Sketches.KmvSketch.intersectionEstimate(aa, bb, k))
    })
    val sa = sketches.select(col("flag").as("fa"), col("sk").as("ska"), col("nd").as("nda"))
    val sb = sketches.select(col("flag").as("fb"), col("sk").as("skb"), col("nd").as("ndb"))
    inter.join(sa, Seq("fa")).join(sb, Seq("fb"))
      .withColumn("e", est(col("ska"), col("skb")))
      .select(col("fa"), col("fb"),
        (col("nda") + col("ndb") - col("n_inter")).as("exact_union"),
        col("n_inter").as("exact_inter"),
        (col("n_inter").cast("double") / (col("nda") + col("ndb") - col("n_inter")).cast("double")).as("exact_jaccard"),
        col("e._1").as("kmv_union"), col("e._2").as("kmv_jaccard"), col("e._3").as("kmv_inter"))
  }

  val kmvSetOpsSql: String = {
    val k = 128
    s"""WITH dk AS (
       |  SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk,
       |         ${graft.text.TextOps.h60Sql("CAST(l_partkey AS VARCHAR)")} AS h
       |  FROM lineitem),
       |km AS (SELECT flag, h FROM (
       |         SELECT flag, h, row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
       |         FROM (SELECT DISTINCT flag, h FROM dk))
       |       WHERE rn <= $k),
       |nd AS (SELECT flag, COUNT(DISTINCT pk) AS nd FROM dk GROUP BY 1),
       |prs AS (SELECT a.flag AS fa, b.flag AS fb, COUNT(DISTINCT a.pk) AS n_inter
       |        FROM dk a JOIN dk b ON a.pk = b.pk AND a.flag < b.flag
       |        GROUP BY 1, 2),
       |-- merged k-min of each pair's two k-min sets
       |u AS (SELECT fa, fb, h, row_number() OVER (PARTITION BY fa, fb ORDER BY h) AS rn,
       |             COUNT(*) OVER (PARTITION BY fa, fb) AS un
       |      FROM (SELECT DISTINCT p.fa, p.fb, km.h
       |            FROM prs p JOIN km ON km.flag = p.fa OR km.flag = p.fb)),
       |uk AS (SELECT fa, fb, h, rn FROM u WHERE rn <= $k),
       |ucard AS (SELECT fa, fb, COUNT(*) AS ulen,
       |                 MAX(CASE WHEN rn = $k THEN h END) AS hk,
       |                 SUM(CASE WHEN EXISTS (SELECT 1 FROM km a WHERE a.flag = uk.fa AND a.h = uk.h)
       |                           AND EXISTS (SELECT 1 FROM km b WHERE b.flag = uk.fb AND b.h = uk.h)
       |                          THEN 1 ELSE 0 END) AS nboth
       |          FROM uk GROUP BY 1, 2)
       |SELECT p.fa, p.fb,
       |       na.nd + nb.nd - p.n_inter AS exact_union,
       |       p.n_inter AS exact_inter,
       |       CAST(p.n_inter AS DOUBLE) / CAST(na.nd + nb.nd - p.n_inter AS DOUBLE) AS exact_jaccard,
       |       CASE WHEN u.ulen < $k THEN CAST(u.ulen AS DOUBLE)
       |            ELSE ${k - 1} * power(2.0, 60) / CAST(u.hk AS DOUBLE) END AS kmv_union,
       |       CAST(u.nboth AS DOUBLE) / CAST(u.ulen AS DOUBLE) AS kmv_jaccard,
       |       (CAST(u.nboth AS DOUBLE) / CAST(u.ulen AS DOUBLE)) *
       |       (CASE WHEN u.ulen < $k THEN CAST(u.ulen AS DOUBLE)
       |             ELSE ${k - 1} * power(2.0, 60) / CAST(u.hk AS DOUBLE) END) AS kmv_inter
       |FROM prs p
       |JOIN nd na ON na.flag = p.fa JOIN nd nb ON nb.flag = p.fb
       |JOIN ucard u ON u.fa = p.fa AND u.fb = p.fb""".stripMargin
  }

  /** HyperLogLog distinct census beside the exact counts
    * (Sketches.HllSketchAgg, p=8 → 256 one-byte registers): the
    * constant-memory cardinality path when even KMV's k longs per group
    * is too much state (per-token document frequencies at corpus
    * scale). The oracle rebuilds the registers relationally — register
    * = top-8 hash bits, rho = leading-zero count of the low 52-bit
    * field + 1 via an integer bit-position join (no floating log) —
    * and both engines emit the exact BIGINT harmonic denominator
    * Σ 2^(53-M_j) and the empty-register count. The raw estimate
    * α·m²·2^53/denom is a pure function of denom but crosses each
    * engine's double-literal folding (round 6 proved the folded α
    * chain is NOT bit-portable across DuckDB builds), so the hashed
    * projection carries only the exact integers; consumers derive the
    * estimate from denom. */
  val hllDistinct: Q = (s, dir) => {
    def pieces(regs: String, suffix: String) = Seq(
      expr(s"aggregate($regs, CAST(0 AS BIGINT), (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 53 - r))")
        .as(s"denom_$suffix"),
      expr(s"aggregate($regs, CAST(0 AS BIGINT), (acc, r) -> acc + IF(r = 0, 1, 0))")
        .as(s"zeros_$suffix"))
    flagCensus(s, dir, "r")(graft.ops.Sketches.hllSketch(_, 8))
      .select(Seq(col("l_returnflag"), col("exact_parts"), col("exact_supps")) ++
        pieces("r_parts", "parts") ++ pieces("r_supps", "supps"): _*)
  }

  /** Register rebuild for one (source, group, key): CTE chain ending in
    * a per-group (denom, zeros) table named `agg_<suffix>`. */
  private def hllRegSql(src: String, gExpr: String, keyExpr: String, suffix: String): String =
    s"""raw_$suffix AS (
       |  SELECT $gExpr AS g,
       |         ${graft.text.TextOps.h60Sql(s"CAST($keyExpr AS VARCHAR)")} AS h
       |  FROM $src),
       |wd_$suffix AS (
       |  SELECT DISTINCT g, h >> 52 AS idx,
       |         h & ((CAST(1 AS BIGINT) << 52) - 1) AS w
       |  FROM raw_$suffix),
       |bl_$suffix AS (
       |  SELECT g, idx, w, MAX(b.range) AS topbit
       |  FROM wd_$suffix JOIN range(0, 52) b ON (w >> b.range) > 0
       |  GROUP BY 1, 2, 3),
       |regs_$suffix AS (
       |  SELECT wd.g, wd.idx,
       |         MAX(CASE WHEN wd.w = 0 THEN 53 ELSE 52 - bl.topbit END) AS mr
       |  FROM wd_$suffix wd LEFT JOIN bl_$suffix bl
       |    ON wd.g = bl.g AND wd.idx = bl.idx AND wd.w = bl.w
       |  GROUP BY 1, 2),
       |full_$suffix AS (
       |  SELECT gs.g, r.range AS idx, COALESCE(rg.mr, 0) AS mr
       |  FROM (SELECT DISTINCT g FROM raw_$suffix) gs
       |  CROSS JOIN range(0, 256) r
       |  LEFT JOIN regs_$suffix rg ON rg.g = gs.g AND rg.idx = r.range),
       |agg_$suffix AS (
       |  SELECT g,
       |         CAST(SUM(CAST(1 AS BIGINT) << (53 - CAST(mr AS INT))) AS BIGINT) AS denom,
       |         CAST(SUM(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
       |  FROM full_$suffix GROUP BY g)""".stripMargin

  val hllDistinctSql: String =
    s"""WITH ${hllRegSql("lineitem", "l_returnflag", "l_partkey", "p")},
       |${hllRegSql("lineitem", "l_returnflag", "l_suppkey", "s")},
       |e AS (SELECT l_returnflag AS g,
       |             COUNT(DISTINCT l_partkey) AS exact_parts,
       |             COUNT(DISTINCT l_suppkey) AS exact_supps
       |      FROM lineitem GROUP BY 1)
       |SELECT e.g AS l_returnflag, e.exact_parts, e.exact_supps,
       |       p.denom AS denom_parts, p.zeros AS zeros_parts,
       |       s.denom AS denom_supps, s.zeros AS zeros_supps
       |FROM e JOIN agg_p p ON e.g = p.g JOIN agg_s s ON e.g = s.g""".stripMargin

  /** KMV composed with event-time windows: distinct users per 5-minute
    * tumbling window, exact beside the sketch. The streaming shape of
    * "unique visitors per window" — the same Aggregator runs unchanged
    * under a `groupBy(window(...))` in Structured Streaming (the
    * SketchesSpec streaming test), and per-window state is k longs
    * instead of a user set, which is what makes a 100 TB-a-day stream
    * aggregation hold. */
  val kmvWindow: Q = (s, dir) =>
    events(s, dir)
      .select(window(col("ts"), "5 minutes").as("w"),
        col("user_id"),
        graft.text.TextOps.h60(col("user_id").cast("string")).as("h"))
      .groupBy(col("w"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        graft.ops.Sketches.kmvDistinct(col("h"), 64).as("kmv_users"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("exact_users"), col("kmv_users"))

  val kmvWindowSql: String =
    s"""WITH $eventsCte,
       |wi AS (SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
       |              user_id FROM evts),
       |sk AS (${kmvEstSql("wi", "win_start", "user_id", "kmv_users")}),
       |e AS (SELECT win_start AS g, COUNT(DISTINCT user_id) AS exact_users
       |      FROM wi GROUP BY 1)
       |SELECT e.g AS win_start, e.exact_users, sk.kmv_users
       |FROM e JOIN sk ON e.g = sk.g""".stripMargin

  /** HLL composed with event-time windows: constant-memory unique
    * visitors per 5-minute window — 256 bytes of state per window no
    * matter the cardinality, vs KMV's k longs (a_kmv_window) and exact
    * countDistinct's full key shuffle. The same aggregator runs
    * unchanged under Structured Streaming (SketchesSpec proves the
    * streaming answer bitwise equal); the oracle rebuilds every
    * window's registers relationally like a_hll_distinct. */
  val hllWindow: Q = (s, dir) =>
    events(s, dir)
      .select(window(col("ts"), "5 minutes").as("w"),
        col("user_id"),
        graft.text.TextOps.h60(col("user_id").cast("string")).as("h"))
      .groupBy(col("w"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        graft.ops.Sketches.hllSketch(col("h"), 8).as("r"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("exact_users"),
        expr("aggregate(r, CAST(0 AS BIGINT), (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), 53 - x))").as("denom_users"),
        expr("aggregate(r, CAST(0 AS BIGINT), (acc, x) -> acc + IF(x = 0, 1, 0))").as("zeros_users"))

  val hllWindowSql: String =
    s"""WITH $eventsCte,
       |wi AS (SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
       |              user_id FROM evts),
       |${hllRegSql("wi", "win_start", "user_id", "u")},
       |e AS (SELECT win_start AS g, COUNT(DISTINCT user_id) AS exact_users
       |      FROM wi GROUP BY 1)
       |SELECT e.g AS win_start, e.exact_users,
       |       u.denom AS denom_users, u.zeros AS zeros_users
       |FROM e JOIN agg_u u ON e.g = u.g""".stripMargin

  /** percent_rank / cume_dist per returnflag over the quantity order —
    * WITHOUT the per-group single-task window sort the naive SQL form
    * (the oracle) pays. Because the ORDER BY key is a value column,
    * both functions are pure functions of (group, value): rank =
    * cumulative count below + 1 and cume_dist = cumulative count
    * through. So the plan is a_quartiles' shape: one groupBy to the
    * tiny (group, value) CDF table, a window over THAT (≤ distinct
    * values rows), and a broadcast join back to the rows — at 100 TB
    * the big table is touched by exactly one scan and one broadcast
    * probe, vs the oracle's full sort of every group in one task. */
  val distributionWindows: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity").as("qty"))
    val cdf = li.groupBy(col("flag"), col("qty")).agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("flag")).orderBy(col("qty"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("flag"))))
    li.join(broadcast(cdf), Seq("flag", "qty"))
      .select(col("flag"), col("qty"),
        ((col("cum") - col("c")).cast("double") / (col("n") - 1).cast("double")).as("pr"),
        (col("cum").cast("double") / col("n").cast("double")).as("cd"))
  }

  val distributionWindowsSql: String =
    """SELECT l_returnflag AS flag, l_quantity AS qty,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)""".stripMargin

  /** Exact global quartiles of a CONTINUOUS key (l_extendedprice —
    * ~every value distinct, so a_quartiles' binned-CDF trick doesn't
    * apply) via Ranking.kthValues: range-repartition + local sort, a
    * P-row count summary to the driver, then a streamed pick of the
    * owning partitions at the right offsets — no global single-task
    * sort anywhere. The oracle pays the full sort (row_number window)
    * and must agree on the selected values bitwise. */
  val exactMedian: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val n = li.count()
    def k(p: Double) = math.ceil(p * n).toLong
    val sel = graft.ops.Ranking.kthValues(li, col("l_extendedprice"),
      Seq(k(0.25), k(0.5), k(0.75)))
    import s.implicits._
    Seq((n, sel(0), sel(1), sel(2))).toDF("n", "p25", "median", "p75")
  }

  val exactMedianSql: String =
    """WITH o AS (SELECT l_extendedprice AS v,
      |                  row_number() OVER (ORDER BY l_extendedprice) AS rn
      |           FROM lineitem),
      |nn AS (SELECT COUNT(*) AS n FROM lineitem)
      |SELECT nn.n AS n,
      |       MAX(CASE WHEN rn = CAST(ceil(0.25 * nn.n) AS BIGINT) THEN v END) AS p25,
      |       MAX(CASE WHEN rn = CAST(ceil(0.5 * nn.n) AS BIGINT) THEN v END) AS median,
      |       MAX(CASE WHEN rn = CAST(ceil(0.75 * nn.n) AS BIGINT) THEN v END) AS p75
      |FROM o, nn GROUP BY nn.n""".stripMargin

  /** Bloom-pruned semi-join: lineitem rows whose part is size-1 (a
    * ~2% dim selection), aggregated per returnflag. The Bloom pass
    * drops non-matching fact rows at the scan — before any exchange —
    * and the exact broadcast semi-join removes false positives, so the
    * result is bitwise the plain `WHERE l_partkey IN (...)` the oracle
    * runs. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling ~2% of it. */
  val bloomJoin: Q = (s, dir) => {
    val dim = table(s, dir, "part").where(col("p_size") === 1)
    graft.ops.BloomJoin.prunedLeftSemi(
        table(s, dir, "lineitem"), col("l_partkey"), dim, col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
  }

  val bloomJoinSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |       ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
       |GROUP BY 1""".stripMargin

  /** Calendar gap-fill + last-observation-carried-forward interpolation:
    * daily revenue per order priority, with every missing day
    * materialized from a per-group date `sequence` and filled by an
    * ignore-nulls `last` window (the time-series densify every
    * monitoring/feature pipeline needs). The calendar builds
    * distributed (sequence+explode — no driver range); the LOCF window
    * partitions by group, so parallelism is group-bounded and no
    * SinglePartition appears; output is calendar-bounded (~groups x
    * days), independent of sf. Revenue lands in DECIMAL before the sum
    * and LOCF only copies values, so both engines agree bitwise. */
  val gapFill: Q = (s, dir) => {
    val daily = table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").cast("date").as("d"))
      .agg(dsum(dec2(col("o_totalprice"))).as("rev"))
    val cal = daily.groupBy(col("prio"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("prio"), explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    cal.join(daily, Seq("prio", "d"), "left")
      .select(col("prio"), col("d"),
        last(col("rev"), ignoreNulls = true)
          .over(Window.partitionBy(col("prio")).orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rev"),
        col("rev").isNull.as("is_gap"))
  }

  // DuckDB's generate_series only takes constants (no lateral column
  // args), so the twin offsets a constant 20000-day range from each
  // group's min — the calendar is time-bounded, not sf-bounded.
  val gapFillSql: String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
       |         ${dsumSql(dec2Sql("o_totalprice"))} AS rev
       |  FROM orders GROUP BY 1, 2),
       |spans AS (SELECT prio, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
       |cal AS (
       |  SELECT s.prio, CAST(s.d0 + r.i * (INTERVAL 1 DAY) AS DATE) AS d
       |  FROM spans s JOIN range(0, 20000) r(i)
       |    ON s.d0 + r.i * (INTERVAL 1 DAY) <= s.d1)
       |SELECT c.prio, c.d,
       |       LAST_VALUE(dy.rev IGNORE NULLS) OVER (PARTITION BY c.prio ORDER BY c.d
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev,
       |       dy.rev IS NULL AS is_gap
       |FROM cal c LEFT JOIN daily dy ON c.prio = dy.prio AND c.d = dy.d""".stripMargin

  /** Gaps-and-islands: longest consecutive-day activity streak per
    * user (retention analysis's classic hard query). Island id =
    * date − row_number in days — consecutive days share it — then two
    * tiny aggregations. Pure date/integer arithmetic, and the windows
    * partition on user_id (high cardinality): scale-safe. */
  val streaks: Q = (s, dir) => {
    val d = Fixtures.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("d")))
    d.withColumn("g", date_sub(col("d"), rn))
      .groupBy(col("user_id"), col("g"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_days"))
  }

  val streaksSql: String =
    s"""WITH ${Fixtures.eventsCte},
       |d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM evts),
       |i AS (SELECT user_id, d,
       |        d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS g
       |      FROM d),
       |st AS (SELECT user_id, g, COUNT(*) AS len FROM i GROUP BY 1, 2)
       |SELECT user_id, MAX(len) AS max_streak, COUNT(*) AS n_streaks,
       |       CAST(SUM(len) AS BIGINT) AS n_days
       |FROM st GROUP BY 1""".stripMargin

  /** Linear-interpolation gap fill — the numeric upgrade of
    * [[gapFill]]'s LOCF: missing calendar days get the straight line
    * between their known neighbors instead of the last value. The
    * neighbor scan is the ignore-nulls window pair (last-preceding /
    * first-following); the interpolation is one fixed-order double
    * chain over exact integer counts and day distances, so even the
    * interpolated values hash-match bitwise. Calendar endpoints are
    * known days by construction, so the neighbor pair always exists at
    * a gap. */
  val interpolate: Q = (s, dir) => {
    val daily = table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).cast("long").as("n"))
    val cal = daily.groupBy(col("prio"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("prio"), explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val wPrev = Window.partitionBy(col("prio")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("prio")).orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cal.join(daily, Seq("prio", "d"), "left")
      .select(col("prio"), col("d"), col("n"),
        last(when(col("n").isNotNull, col("d")), ignoreNulls = true).over(wPrev).as("pd"),
        last(col("n"), ignoreNulls = true).over(wPrev).as("pn"),
        first(when(col("n").isNotNull, col("d")), ignoreNulls = true).over(wNext).as("nd"),
        first(col("n"), ignoreNulls = true).over(wNext).as("nn"))
      .select(col("prio"), col("d"),
        when(col("n").isNotNull, col("n").cast("double"))
          .otherwise(col("pn").cast("double")
            + (col("nn") - col("pn")).cast("double")
              * datediff(col("d"), col("pd")).cast("double")
              / datediff(col("nd"), col("pd")).cast("double")).as("v"),
        col("n").isNull.as("is_gap"))
  }

  val interpolateSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |spans AS (SELECT prio, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT s.prio, CAST(s.d0 + r.i * (INTERVAL 1 DAY) AS DATE) AS d
      |  FROM spans s JOIN range(0, 20000) r(i)
      |    ON s.d0 + r.i * (INTERVAL 1 DAY) <= s.d1),
      |j AS (SELECT c.prio, c.d, dy.n
      |      FROM cal c LEFT JOIN daily dy ON c.prio = dy.prio AND c.d = dy.d),
      |f AS (SELECT prio, d, n,
      |        LAST_VALUE(CASE WHEN n IS NOT NULL THEN d END IGNORE NULLS) OVER (
      |          PARTITION BY prio ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |        LAST_VALUE(n IGNORE NULLS) OVER (
      |          PARTITION BY prio ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn,
      |        FIRST_VALUE(CASE WHEN n IS NOT NULL THEN d END IGNORE NULLS) OVER (
      |          PARTITION BY prio ORDER BY d
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
      |        FIRST_VALUE(n IGNORE NULLS) OVER (
      |          PARTITION BY prio ORDER BY d
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nn
      |      FROM j)
      |SELECT prio, d,
      |       CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
      |            ELSE CAST(pn AS DOUBLE)
      |                 + CAST(nn - pn AS DOUBLE)
      |                   * CAST(date_diff('day', pd, d) AS DOUBLE)
      |                   / CAST(date_diff('day', pd, nd) AS DOUBLE) END AS v,
      |       n IS NULL AS is_gap
      |FROM f""".stripMargin

  /** 2-D skyline (Pareto frontier) — the multi-criteria selection shape
    * a data-curation pass uses ("no other part is at least as good on
    * BOTH axes and better on one"): per part, maximize total quantity
    * and order count. The engine runs the classic SWEEP — sort by
    * (x desc, y desc), a point survives iff its y strictly exceeds the
    * running max of y over points with LARGER x (and it is the best y
    * within its own x) — one window over the distinct-pair set, no
    * pairwise join. The oracle brute-forces dominance with NOT EXISTS:
    * two different algorithms, exact integers. The sweep runs over the
    * DISTINCT (x, y) pair set — that makes its order total (the frame
    * is well-defined), and keeps every key sharing a frontier pair
    * (a duplicate point does not strictly dominate its twin). Scale
    * shape: the global-order window runs on the aggregated distinct
    * pairs, not raw lineitem; the frontier join back is
    * broadcast-sized. */
  val skyline: Q = (s, dir) => {
    val pts = table(s, dir, "lineitem").groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("x"),
        count_distinct(col("l_orderkey")).as("y"))
    val w = Window.orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = pts.select(col("x"), col("y")).distinct()
      .withColumn("prevmax", max(col("y")).over(w))
      // survives iff no pair with larger x (or equal x, larger y —
      // earlier in the sweep either way) reaches its y
      .where(col("prevmax").isNull || col("prevmax") < col("y"))
      .select(col("x"), col("y"))
    pts.join(frontier, Seq("x", "y")).select(col("l_partkey"), col("x"), col("y"))
  }

  val skylineSql: String =
    """WITH pts AS (
      |  SELECT l_partkey, CAST(SUM(l_quantity) AS BIGINT) AS x,
      |         COUNT(DISTINCT l_orderkey) AS y
      |  FROM lineitem GROUP BY 1)
      |SELECT l_partkey, x, y FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))""".stripMargin

  /** Histogram-sketch quantile estimation — the third member of the
    * approximate layer (KMV = distinct, CMS = frequency, this =
    * quantiles): one fixed-width 100-bin histogram pass, then p50/p90/
    * p99 by linear interpolation inside the covering bin. At 100 TB the
    * full sort behind an exact percentile is unpayable; the histogram
    * is one map-side-combined groupBy whose state is <= 100 rows
    * regardless of input size. The interpolation is the same
    * fixed-order double chain in both engines (exact integer counts,
    * one division each), so even this ESTIMATE hash-matches bitwise.
    * The cumulative window runs over <= 100 bin rows — bounded, like
    * the histogram-bin collects the serving layer does. */
  val histQuantile: Q = (s, dir) => {
    val li = table(s, dir, "lineitem").select(col("l_extendedprice").cast("double").as("v"))
    val stats = li.agg(min(col("v")).as("mn"), max(col("v")).as("mx"), count(lit(1)).as("n"))
    val width = (col("mx") - col("mn")) / lit(100.0)
    val hist = li.crossJoin(broadcast(stats))
      .select(least(floor((col("v") - col("mn")) / width).cast("long"), lit(99L)).as("bin"),
        col("mn"), col("mx"), col("n"))
      .groupBy(col("bin"), col("mn"), col("mx"), col("n")).agg(count(lit(1)).as("nb"))
    val cum = hist
      .withColumn("cum", sum(col("nb")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum0", col("cum") - col("nb"))
    val ps = s.range(1).select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
    val target = col("p") * col("n").cast("double")
    cum.crossJoin(broadcast(ps))
      .where(col("cum0").cast("double") < target && target <= col("cum").cast("double"))
      .select(col("p"), col("bin"),
        (col("mn") + width * col("bin").cast("double")
          + width * ((target - col("cum0").cast("double")) / col("nb").cast("double"))).as("est"))
  }

  val histQuantileSql: String =
    """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
      |st AS (SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM v),
      |b AS (SELECT LEAST(CAST(FLOOR((v.v - st.mn) / ((st.mx - st.mn) / 100.0)) AS BIGINT), 99) AS bin,
      |             st.mn, st.mx, st.n
      |      FROM v, st),
      |h AS (SELECT bin, mn, mx, n, COUNT(*) AS nb FROM b GROUP BY 1, 2, 3, 4),
      |c AS (SELECT *, SUM(nb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM h),
      |c2 AS (SELECT *, cum - nb AS cum0 FROM c),
      |p AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
      |SELECT CAST(p.p AS DOUBLE) AS p, c2.bin,
      |       mn + ((mx - mn) / 100.0) * CAST(bin AS DOUBLE)
      |          + ((mx - mn) / 100.0)
      |            * ((p.p * CAST(n AS DOUBLE) - CAST(cum0 AS DOUBLE)) / CAST(nb AS DOUBLE)) AS est
      |FROM c2, p
      |WHERE CAST(cum0 AS DOUBLE) < p.p * CAST(n AS DOUBLE)
      |  AND p.p * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)""".stripMargin

  /** Rolling z-score anomaly detection over each user's event stream —
    * the monitoring primitive: mean/stddev of the PRECEDING 20 values
    * (never the current one — no self-leakage), z = (v - mean)/std,
    * flag |z| > 3. Sums run in DECIMAL so the rolling moments are
    * order-exact; the z formula is one fixed-order double chain, so
    * even the floating flags hash-match. Windows partition by user —
    * the per-entity shape that scales (a global ordered stream would
    * serialize); warm-up rows (< 5 prior values) and zero-variance
    * windows are excluded deterministically in both engines. */
  val anomaly: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    events(s, dir)
      .withColumn("n_prev", count(col("value")).over(w))
      .withColumn("s1", sum(dec2(col("value"))).over(w))
      .withColumn("s2", sum(dec2(col("value")) * dec2(col("value"))).over(w))
      .where(col("n_prev") >= 5)
      .withColumn("mean_prev", col("s1").cast("double") / col("n_prev").cast("double"))
      .withColumn("var_prev",
        col("s2").cast("double") / col("n_prev").cast("double")
          - col("mean_prev") * col("mean_prev"))
      .where(col("var_prev") > 0)
      .withColumn("z", (col("value") - col("mean_prev")) / sqrt(col("var_prev")))
      .select(col("event_id"), col("user_id"), col("value"),
        col("mean_prev"), col("z"), (abs(col("z")) > 3).as("is_anomaly"))
  }

  val anomalySql: String =
    s"""WITH $eventsCte,
       |roll AS (
       |  SELECT event_id, user_id, value,
       |         COUNT(value) OVER w AS n_prev,
       |         SUM(${dec2Sql("value")}) OVER w AS s1,
       |         SUM(${dec2Sql("value")} * ${dec2Sql("value")}) OVER w AS s2
       |  FROM evts
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
       |m AS (
       |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n_prev AS DOUBLE) AS mean_prev
       |  FROM roll WHERE n_prev >= 5),
       |v AS (
       |  SELECT *, CAST(s2 AS DOUBLE) / CAST(n_prev AS DOUBLE) - mean_prev * mean_prev AS var_prev
       |  FROM m)
       |SELECT event_id, user_id, value, mean_prev,
       |       (value - mean_prev) / SQRT(var_prev) AS z,
       |       ABS((value - mean_prev) / SQRT(var_prev)) > 3 AS is_anomaly
       |FROM v WHERE var_prev > 0""".stripMargin

  /** Band (inequality-range) join rewritten as a binned EQUI-join — the
    * pattern that keeps range joins scalable: Spark has no range-join
    * optimization, so `fact JOIN dim ON lo <= v AND v < hi` plans a
    * nested-loop scan of the fact per band. Instead each band explodes
    * into the fixed-width bins it overlaps (bin = floor(v / W)), the
    * join runs on the bin key (hash-partitionable, AQE-skew-handled),
    * and the exact lo/hi predicate filters the few in-bin stragglers.
    * Works when BOTH sides are huge — the same trick r_point_in_poly
    * uses for spatial containment. Bin boundaries are exact integer
    * floors of decimal-scaled prices, so band assignment is
    * bit-deterministic. */
  val bandJoin: Q = (s, dir) => {
    val W = 10000L // bin width in whole currency units
    val bandRows = Seq(
      (0L, 0L, 20000L), (1L, 20000L, 40000L), (2L, 40000L, 60000L),
      (3L, 60000L, 80000L), (4L, 80000L, 200000L))
    val bands = s.range(1).select(explode(array(bandRows.map { case (id, lo, hi) =>
      struct(lit(id).as("band_id"), lit(lo).as("lo"), lit(hi).as("hi"))
    }: _*)).as("b")).select(col("b.band_id"), col("b.lo"), col("b.hi"))
    val binned = bands.select(col("band_id"), col("lo"), col("hi"),
      explode(sequence(expr("lo div " + W), expr("(hi - 1) div " + W))).as("bin"))
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), dec2(col("l_extendedprice")).as("p"))
      .withColumn("bin", expr(s"CAST(p AS BIGINT) div $W"))
    li.join(binned, Seq("bin"))
      .where(col("p") >= col("lo") && col("p") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"), dsum(col("p")).as("sum_price"))
  }

  val bandJoinSql: String =
    s"""WITH bands(band_id, lo, hi) AS (VALUES
       |  (0, 0, 20000), (1, 20000, 40000), (2, 40000, 60000),
       |  (3, 60000, 80000), (4, 80000, 200000))
       |SELECT CAST(b.band_id AS BIGINT) AS band_id, COUNT(*) AS n,
       |       ${dsumSql(dec2Sql("l.l_extendedprice"))} AS sum_price
       |FROM lineitem l JOIN bands b
       |  ON ${dec2Sql("l.l_extendedprice")} >= b.lo
       | AND ${dec2Sql("l.l_extendedprice")} < b.hi
       |GROUP BY 1""".stripMargin

  /** The RANGE-JOIN RULE under the correctness gate: the same band
    * aggregation as [[bandJoin]], but written as the NAIVE inequality
    * join — the rewrite to the binned equi-join is done by
    * `plans.RangeJoinRule` (injected via `extraOptimizations`, width
    * conf set only around materialization). The query asserts the
    * rewrite actually fired (plan carries `_graft_bin`) and caches the
    * materialized result so the conf never leaks into other gates; the
    * oracle is the naive join — so the gate proves the declarative
    * rewrite preserves exact semantics on real data. */
  val rangeJoinRule: Q = (s, dir) => {
    val bandRows = Seq(
      (0L, 0L, 20000L), (1L, 20000L, 40000L), (2L, 40000L, 60000L),
      (3L, 60000L, 80000L), (4L, 80000L, 200000L))
    val bands = s.range(1).select(explode(array(bandRows.map { case (id, lo, hi) =>
      struct(lit(id).as("band_id"), lit(lo).as("lo"), lit(hi).as("hi"))
    }: _*)).as("b")).select(col("b.band_id"), col("b.lo"), col("b.hi"))
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey"), dec2(col("l_extendedprice")).as("p"))
    val rule = graft.plans.RangeJoinRule
    if (!s.experimental.extraOptimizations.contains(rule))
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
    s.conf.set(rule.WidthConf, "10000")
    try {
      val joined = li.join(bands, col("p") >= col("lo") && col("p") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), dsum(col("p")).as("sum_price"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("_graft_bin"), "RangeJoinRule did not fire")
      joined.persist()
      joined.count() // materialize under the rule, then drop the conf
      joined
    } finally s.conf.unset(rule.WidthConf)
  }

  val rangeJoinRuleSql: String = bandJoinSql

  /** Mode per group with a total-ordered tie-break: most frequent
    * quantity per (returnflag, linestatus), ties to the smallest value
    * — argmax as min(struct(-count, value)) partial agg, one row per
    * group through the final shuffle (never a per-group window sort).
    * The oracle uses the ROW_NUMBER formulation. */
  val modePerGroup: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(min(struct((-col("cnt")).as("nc"), col("q").as("v"))).as("best"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("best.v").as("mode_qty"), (-col("best.nc")).as("n"))

  val modePerGroupSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |         COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT l_returnflag, l_linestatus, q AS mode_qty, cnt AS n FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
      |                               ORDER BY cnt DESC, q) AS rn
      |  FROM c) WHERE rn = 1""".stripMargin

  /** Contribution analysis — each nation's share of global revenue plus
    * its rank: DECIMAL-exact revenue sums, one broadcast total, share =
    * one division. The rank window runs over ~25 aggregated rows. */
  val contribution: Q = (s, dir) => {
    val rev = table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(table(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(dsum(revenue).as("rev"))
    val tot = broadcast(rev.agg(dsum(col("rev").cast("decimal(24,6)")).as("total")))
    rev.crossJoin(tot)
      .select(col("n_name"), col("rev"),
        (col("rev") / col("total")).as("share"),
        rank().over(Window.orderBy(col("rev").desc, col("n_name"))).as("rnk"))
  }

  val contributionSql: String =
    s"""WITH rev AS (
       |  SELECT n_name, ${dsumSql(revenueSql)} AS rev
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1),
       |tot AS (SELECT ${dsumSql("rev")} AS total FROM rev)
       |SELECT n_name, rev, rev / total AS share,
       |       CAST(RANK() OVER (ORDER BY rev DESC, n_name) AS INT) AS rnk
       |FROM rev, tot""".stripMargin

  /** Year-over-year growth — per nation and order year, revenue beside
    * the prior year's (lag window over the aggregated year rows) and
    * the growth ratio: the BI staple. Exact decimal sums; the ratio is
    * one double division. */
  val yoyGrowth: Q = (s, dir) => {
    val rev = table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(table(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(dsum(revenue).as("rev"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
    rev.withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .select(col("n_name"), col("yr"), col("rev"), col("prev_rev"),
        when(col("prev_rev").isNotNull && col("prev_rev") =!= 0.0,
          col("rev") / col("prev_rev")).as("growth"))
  }

  val yoyGrowthSql: String =
    s"""WITH rev AS (
       |  SELECT n_name, year(o_orderdate) AS yr, ${dsumSql(revenueSql)} AS rev
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT n_name, CAST(yr AS INT) AS yr, rev,
       |       LAG(rev, 1) OVER (PARTITION BY n_name ORDER BY yr) AS prev_rev,
       |       CASE WHEN LAG(rev, 1) OVER (PARTITION BY n_name ORDER BY yr) IS NOT NULL
       |             AND LAG(rev, 1) OVER (PARTITION BY n_name ORDER BY yr) <> 0.0
       |            THEN rev / LAG(rev, 1) OVER (PARTITION BY n_name ORDER BY yr) END AS growth
       |FROM rev""".stripMargin

  /** Gini coefficient of customer revenue — the inequality measure a
    * marketplace reports: G = (2·Σ rank·x) / (n·Σ x) − (n+1)/n over
    * revenues sorted ascending. Σ rank·x is DECIMAL-exact (integer
    * rank × 2-dp revenue), so the estimate is two exact sums and one
    * fixed-order scalar chain. The rank runs over the aggregated
    * per-customer rows (Ranking.withGlobalRanks is the 100× path). */
  val gini: Q = (s, dir) => {
    // bounded cohort + 2-dp products: Σ rank·x must stay under 2^53 in
    // UNSCALED decimal units, or the final decimal→double cast can
    // differ by an ulp between Java BigDecimal and DuckDB's int128
    // path (the Fixtures.dsum magnitude argument, squared here by the
    // rank factor)
    val per = table(s, dir, "orders").where(col("o_custkey") < 1000)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("x"))
    val ranked = per.withColumn("rnk",
      row_number().over(Window.orderBy(col("x"), col("o_custkey"))).cast("long"))
    ranked.agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sum_x"),
      sum(col("rnk") * col("x")).cast("double").as("sum_rx"))
      .select(col("n"), col("sum_x"),
        (lit(2.0) * col("sum_rx") / (col("n").cast("double") * col("sum_x"))
          - (col("n").cast("double") + lit(1.0)) / col("n").cast("double")).as("gini"))
  }

  val giniSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, SUM(${dec2Sql("o_totalprice")}) AS x
       |  FROM orders WHERE o_custkey < 1000 GROUP BY 1),
       |rk AS (
       |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rnk
       |  FROM per),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |         ${dsumSql("x")} AS sum_x,
       |         CAST(SUM(rnk * x) AS DOUBLE) AS sum_rx
       |  FROM rk)
       |SELECT n, sum_x,
       |       2.0 * sum_rx / (CAST(n AS DOUBLE) * sum_x)
       |         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
       |FROM g""".stripMargin

  /** Benford first-digit census — the fraud/data-quality screen:
    * observed first-significant-digit counts of order totals beside
    * their share of rows. Pure string/integer extraction and one
    * rational share — the DQ-rules family's distributional member. */
  val benford: Q = (s, dir) => {
    // first digit via floor→BIGINT→string: float-to-string formatting
    // differs across engines (scientific notation), and decimal→int
    // casts round in DuckDB but truncate in Spark — floor first, then
    // the integer's leading character is engine-identical
    val d1 = substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
    val counts = table(s, dir, "orders")
      .groupBy(d1.cast("int").as("digit")).agg(count(lit(1)).as("n"))
    val tot = broadcast(counts.agg(sum(col("n")).as("total")))
    counts.crossJoin(tot)
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("frac"))
  }

  val benfordSql: String =
    """WITH c AS (
      |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
      |                     1, 1) AS INT) AS digit,
      |         COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      |SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS frac
      |FROM c, t""".stripMargin

  /** Single-scan data-profiling census — the first query anyone runs on
    * an unknown 100 TB table: per column, row count, null count and
    * exact distinct count, computed in ONE aggregate pass (Catalyst
    * expands the multi-distinct into one Expand + aggregation — still
    * one scan of the fact) and reshaped to long form with stack()
    * (unpivot). At warehouse scale the exact distincts swap for the
    * KMV sketch (a_kmv_distinct) without changing the query shape. */
  val dataProfile: Q = (s, dir) => {
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_discount")
    val aggs = count(lit(1)).as("n") +:
      cols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
    val one = table(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    one.selectExpr("n", s"stack(${cols.size}, $stackArgs) AS (col_name, n_null, n_distinct)")
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"))
  }

  val dataProfileSql: String = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_discount")
    cols.map(c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n,
         |       COUNT(*) - COUNT($c) AS n_null,
         |       COUNT(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n")
  }

  /** Rolling regression slope (trend detection): per user, the OLS
    * slope of value against the event sequence index over the last 21
    * events — the "is this metric drifting" primitive next to
    * a_anomaly's level shocks. x is the per-user row number (small
    * exact integers) and y lands in DECIMAL, so ALL four moment sums
    * are exact and the slope is a single double division of exact
    * operands: n·Σxy − Σx·Σy over n·Σxx − (Σx)² — bitwise portable.
    * Windows partition per user; warm-up rows (< 5 points) drop. */
  val rollingBeta: Q = (s, dir) => {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w = ord.rowsBetween(-20, 0)
    events(s, dir)
      .withColumn("x", row_number().over(ord).cast("long"))
      .withColumn("y", dec2(col("value")))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .where(col("n") >= 5)
      .select(col("event_id"), col("user_id"), col("value"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")).as("beta"))
  }

  val rollingBetaSql: String =
    s"""WITH $eventsCte,
       |xs AS (
       |  SELECT event_id, user_id, value, ts,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS x,
       |         ${dec2Sql("value")} AS y
       |  FROM evts),
       |ms AS (
       |  SELECT event_id, user_id, value,
       |         COUNT(*) OVER w AS n, SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
       |         SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx
       |  FROM xs
       |  WINDOW w AS (PARTITION BY user_id ORDER BY x
       |               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
       |SELECT event_id, user_id, value,
       |       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS beta
       |FROM ms WHERE n >= 5""".stripMargin

  /** Hierarchy flattening (root + depth per node) — the recursive-CTE
    * query class Spark SQL cannot express natively (org charts, BOM
    * explosions, folder trees). The tree is synthesized on customer:
    * parent(k) = k div 3, a root when that is 0 — strictly decreasing,
    * so acyclic by construction. The Spark side resolves every node by
    * POINTER DOUBLING: start from (k → parent, hop=1) and repeatedly
    * compose the table with itself (j := j∘j, d := d + d∘j), so a chain
    * of depth D resolves in ⌈log₂ D⌉ self-joins — 6 fixed rounds cover
    * depth 64, i.e. keys up to 3^64, at ANY data scale; each round is
    * ONE equi-join shuffle of a 3-column table, never a per-level walk.
    * Roots map to themselves with hop 0, so converged rows are a
    * fixpoint and extra rounds are no-ops. Each round eagerly
    * localCheckpoints (the connectedComponents discipline,
    * text/TextOps.scala): without it the self-join DOUBLES the logical
    * plan per round — 2^6 scan leaves, every round recomputed from
    * parquet — while the checkpoint keeps per-round plans O(1) and
    * runs each round exactly once; superseded checkpoint blocks are
    * freed as in the CC loop. The oracle is DuckDB's actual WITH
    * RECURSIVE walking each chain one level at a time — two entirely
    * different algorithms, same rows. */
  val hierarchy: Q = (s, dir) => {
    var f = graft.ops.Materialize.checkpointFresh(table(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        when(expr("c_custkey div 3") > 0, expr("c_custkey div 3"))
          .otherwise(col("c_custkey")).as("j"),
        when(expr("c_custkey div 3") > 0, lit(1)).otherwise(lit(0)).as("d")))
    for (_ <- 1 to 6) {
      val nf = graft.ops.Materialize.checkpointFresh(f.as("a")
        .join(f.select(col("k").as("j"), col("j").as("jj"), col("d").as("dd")), Seq("j"))
        .select(col("k"), col("jj").as("j"), (col("d") + col("dd")).as("d")))
      graft.ops.Materialize.free(f)
      f = nf
    }
    f.select(col("k").as("c_custkey"), col("j").as("root"),
      col("d").cast("int").as("depth"))
  }

  val hierarchySql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT k, cur // 3, depth + 1 FROM walk WHERE cur // 3 > 0)
      |SELECT k AS c_custkey, MAX_BY(cur, depth) AS root,
      |       CAST(MAX(depth) AS INT) AS depth
      |FROM walk GROUP BY 1""".stripMargin

  /** Exponentially weighted moving average (α = 1/2) over each user's
    * last-10 event values — the smoothing recursion every monitoring
    * stack runs, made EXACT: values quantize to integer cents, and the
    * fold acc' = acc/2 + x only ever divides by two, so every partial
    * sum is a dyadic rational with ≤ 2⁹ in the denominator — exactly
    * representable in a double, hence order-of-evaluation is the ONLY
    * freedom and both engines fix it by folding the frame list left to
    * right (Spark `aggregate` from 0.0 and DuckDB `list_reduce` from
    * the first element agree after one step). Scale shape: one
    * user-keyed Exchange; the frame list is ≤ 10 longs per row. */
  val ewma: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("ewma",
        aggregate(collect_list(col("cents")).over(w), lit(0.0),
          (acc, x) => acc / 2 + x.cast("double")) / 100.0)
      .select(col("event_id"), col("user_id"), col("ewma"))
  }

  val ewmaSql: String =
    s"""WITH $eventsCte,
       |l AS (
       |  SELECT event_id, user_id,
       |         -- elements must be DOUBLE: list_reduce casts each lambda
       |         -- result back to the element type, so BIGINT elements
       |         -- would round away the dyadic halves mid-fold
       |         list(CAST(CAST(${dec2Sql("value")} * 100 AS BIGINT) AS DOUBLE))
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS cs
       |  FROM evts)
       |SELECT event_id, user_id,
       |       list_reduce(cs, (a, x) -> a / 2 + x) / 100.0 AS ewma
       |FROM l""".stripMargin

  /** UNPIVOT (melt): the wide→long reshape every metrics pipeline runs
    * before generic per-metric processing. Spark's native `unpivot`
    * plans as a single Expand over the aggregated row set — each input
    * row fans out to one row per value column with NO shuffle and no
    * UDF; the oracle is the portable UNION ALL formulation. The
    * aggregate feeding it keeps the money sums in the exact DECIMAL
    * discipline, so the melted values hash-match bitwise. */
  val unpivotMetrics: Q = (s, dir) => {
    val agg = table(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
        dsum(dec2(col("l_extendedprice"))).as("sum_price"),
        dsum(dec2(col("l_discount"))).as("sum_disc"),
        dsum(dec2(col("l_tax"))).as("sum_tax"))
    agg.unpivot(Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("sum_disc"), col("sum_tax")),
      "metric", "val")
  }

  val unpivotMetricsSql: String = {
    val aggCte =
      s"""agg AS (
         |  SELECT l_returnflag,
         |         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         |         ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price,
         |         ${dsumSql(dec2Sql("l_discount"))} AS sum_disc,
         |         ${dsumSql(dec2Sql("l_tax"))} AS sum_tax
         |  FROM lineitem GROUP BY 1)""".stripMargin
    s"""WITH $aggCte
       |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM agg
       |UNION ALL
       |SELECT l_returnflag, 'sum_price', sum_price FROM agg
       |UNION ALL
       |SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
       |UNION ALL
       |SELECT l_returnflag, 'sum_tax', sum_tax FROM agg""".stripMargin
  }

  /** Rolling EXACT median over a 5-row event window — the robust
    * companion to a_ewma (medians shrug off the spikes an EWMA chases).
    * Spark has no median window aggregate, so: sorted frame list +
    * dyadic midpoint of the two bracketing elements — integer cents
    * make (lo+hi)/2 exact, so even the even-count interpolation
    * hash-matches. The ORACLE uses DuckDB's NATIVE median() OVER the
    * same frame: two different algorithms, row-equal (the
    * a_running_distinct proof pattern). Frames are constant-width, so
    * the sort is O(5 log 5) per row and the window stays user-keyed —
    * no global sort at any scale. */
  val rollingMedian: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("cs", sort_array(collect_list(col("cents")).over(w)))
      .select(col("event_id"), col("user_id"),
        size(col("cs")).as("n_window"),
        ((expr("element_at(cs, cast((size(cs) + 1) div 2 as int))").cast("double")
          + expr("element_at(cs, cast(size(cs) div 2 + 1 as int))").cast("double")) / 2.0 / 100.0)
          .as("rolling_median"))
  }

  val rollingMedianSql: String =
    s"""WITH $eventsCte
       |SELECT event_id, user_id,
       |       CAST(COUNT(*) OVER w AS INT) AS n_window,
       |       CAST(median(CAST(${dec2Sql("value")} * 100 AS BIGINT)) OVER w
       |            AS DOUBLE) / 100.0 AS rolling_median
       |FROM evts
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Incremental view maintenance: a materialized per-(priority,
    * status) aggregate is DELTA-maintained — base partials plus insert
    * partials minus delete partials, three full-outer-joined partial
    * aggregates — and the gate proves the maintained state equals the
    * oracle's FULL RECOMPUTE over the final row set. This is the 100 TB
    * pattern that turns a daily full rebuild into a delta-sized job:
    * each partial aggregate is its own map-side-combined groupBy over
    * only its slice, the join keys are the (tiny) group domain, and
    * sums/counts subtract exactly because the money math stays in
    * DECIMAL end to end. Groups whose maintained count hits zero drop
    * out — the retraction rule COUNT-based IVM needs. Fixture deltas
    * are deterministic orderkey slices: inserts = keys ≡ 0 (mod 10),
    * deletes = keys ≡ 0 (mod 7) of the base. */
  val incrementalAgg: Q = (s, dir) => {
    val o = table(s, dir, "orders")
    val keys = Seq(col("o_orderpriority"), col("o_orderstatus"))
    def part(df: DataFrame, n: String, r: String) =
      df.groupBy(keys: _*)
        .agg(count(lit(1)).as(n), sum(dec2(col("o_totalprice"))).as(r))
    val base = part(o.where(col("o_orderkey") % 10 =!= 0), "n_b", "r_b")
    val ins = part(o.where(col("o_orderkey") % 10 === 0), "n_i", "r_i")
    val del = part(o.where(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0),
      "n_d", "r_d")
    def z(c: String) = coalesce(col(c), lit(0L))
    def zd(c: String) = coalesce(col(c), lit(0).cast("decimal(12,2)"))
    base.join(ins, Seq("o_orderpriority", "o_orderstatus"), "full_outer")
      .join(del, Seq("o_orderpriority", "o_orderstatus"), "full_outer")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        (z("n_b") + z("n_i") - z("n_d")).as("n_orders"),
        (zd("r_b") + zd("r_i") - zd("r_d")).cast("double").as("revenue"))
      .where(col("n_orders") > 0)
  }

  val incrementalAggSql: String =
    s"""SELECT o_orderpriority, o_orderstatus,
       |       COUNT(*) AS n_orders,
       |       CAST(SUM(${dec2Sql("o_totalprice")}) AS DOUBLE) AS revenue
       |FROM orders
       |WHERE (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
       |   OR o_orderkey % 10 = 0
       |GROUP BY 1, 2
       |HAVING COUNT(*) > 0""".stripMargin

  /** Classical seasonal decomposition (trend + seasonal + residual —
    * the moving-average STL ancestor) of the hourly revenue series:
    * trend = centered 24-row moving average (full windows only),
    * seasonal = per-hour-of-day mean of the detrended series, residual
    * = what's left. Scale shape: the CORPUS aggregates first (map-side
    * partial hourly rollup — billions of events collapse to one row
    * per hour), and the ordered window runs on that time-bounded
    * series (a century of hours < 1M rows), never on the raw events —
    * the one defensible place for a global-ordered window. Exactness:
    * integer-cents sums, ONE double division for the trend, detrended
    * values quantized to the DECIMAL grid before the order-free
    * seasonal mean (the lmScore discipline), residual a fixed-order
    * double chain. Edge hours (incomplete trend window) carry nulls
    * through all three components in both engines. */
  val seasonalDecomp: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
    val w24 = Window.orderBy(col("h")).rowsBetween(-11, 12)
    val trend = when(count(lit(1)).over(w24) === 24,
      sum(col("cents")).over(w24).cast("double") / 24.0)
    val dt = hourly
      .select(col("h"), hour(col("h")).cast("int").as("hod"), col("cents"), trend.as("trend"))
      .withColumn("detr", (col("cents") - col("trend")).cast("decimal(18,6)"))
    val wHod = Window.partitionBy(col("hod"))
    dt.withColumn("seasonal",
        sum(col("detr")).over(wHod).cast("double") / count(col("detr")).over(wHod))
      .select(col("h"), col("hod"), col("cents"), col("trend"),
        col("seasonal"), (col("detr").cast("double") - col("seasonal")).as("resid"))
  }

  val seasonalDecompSql: String =
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1),
       |tr AS (
       |  SELECT h, CAST(hour(h) AS INT) AS hod, cents,
       |         CASE WHEN COUNT(*) OVER w24 = 24
       |              THEN CAST(SUM(cents) OVER w24 AS DOUBLE) / 24.0 END AS trend
       |  FROM hr
       |  WINDOW w24 AS (ORDER BY h ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
       |dt AS (SELECT *, CAST(cents - trend AS DECIMAL(18,6)) AS detr FROM tr),
       |se AS (
       |  SELECT *, CAST(SUM(detr) OVER (PARTITION BY hod) AS DOUBLE)
       |            / COUNT(detr) OVER (PARTITION BY hod) AS seasonal
       |  FROM dt)
       |SELECT h, hod, cents, trend, seasonal,
       |       CAST(detr AS DOUBLE) - seasonal AS resid
       |FROM se""".stripMargin

  /** CUSUM changepoint detection over the hourly revenue series —
    * where did the level shift? S_k = Σ_{i≤k}(x_i − mean), whose
    * |max| marks the most likely changepoint (Page 1954). Computed
    * ENTIRELY in integers by scaling with n: S_k·n = n·prefix_k −
    * k·total — no division anywhere, so the gate is exact by
    * construction, not by quantization discipline. Same scale shape
    * as a_seasonal_decomp: corpus → hourly rollup first, windows on
    * the bounded series. */
  val changepoint: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
    val wOrd = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hourly
      .withColumn("k", count(lit(1)).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("cents")).over(wAll))
      .withColumn("s_scaled",
        col("n") * sum(col("cents")).over(wOrd) - col("k") * col("total"))
      .withColumn("is_peak", abs(col("s_scaled")) === max(abs(col("s_scaled"))).over(wAll))
      .select(col("h"), col("cents"), col("s_scaled"), col("is_peak"))
  }

  val changepointSql: String =
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1),
       |c AS (
       |  SELECT h, cents,
       |         CAST(COUNT(*) OVER () * SUM(cents) OVER wo
       |              - COUNT(*) OVER wo * SUM(cents) OVER () AS BIGINT) AS s_scaled
       |  FROM hr
       |  WINDOW wo AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT h, cents, s_scaled,
       |       ABS(s_scaled) = MAX(ABS(s_scaled)) OVER () AS is_peak
       |FROM c""".stripMargin

  /** Deterministic BOOTSTRAP of the hourly-revenue mean: 64 resamples
    * whose indices derive from the portable h60 hash — j(b,i) =
    * h60("bs:b,i") mod n — so the "random" resampling is a pure
    * function both engines replay bit-identically (the t_hash_split /
    * s_random_proj trick applied to resampling; no RNG state, no seed
    * shipping). Each resample mean is one exact integer sum and ONE
    * double division. Scale shape: the corpus collapses to the
    * time-bounded hourly series first; resampling runs on that array
    * in a single task — and at a larger series length the same hash
    * trick shards by (b, index-block) instead. The empirical spread of
    * the 64 means IS the standard error estimate a significance check
    * needs. */
  val bootstrap: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
    val series = hourly.agg(
      transform(array_sort(collect_list(struct(col("h"), col("cents")))),
        x => x.getField("cents")).as("arr"),
      count(lit(1)).as("n"))
    series.select(col("arr"), col("n"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .select(col("b").cast("int").as("b"), col("n"),
        aggregate(sequence(lit(0), col("n").cast("int") - 1), lit(0L),
          (acc, i) => acc + element_at(col("arr"),
            (graft.text.TextOps.h60(
              concat(lit("bs:"), col("b").cast("string"), lit(","), i.cast("string")))
              % col("n") + 1).cast("int"))).as("s"))
      .select(col("b"), (col("s").cast("double") / col("n").cast("double")).as("resample_mean"))
  }

  val bootstrapSql: String = {
    val h = graft.text.TextOps.h60Sql(
      "'bs:' || CAST(b.b AS VARCHAR) || ',' || CAST(i AS VARCHAR)")
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1),
       |series AS (SELECT list(cents ORDER BY h) AS arr, COUNT(*) AS n FROM hr),
       |bs AS (
       |  SELECT CAST(b.b AS INT) AS b, s.n,
       |         CAST(list_aggregate(list_transform(range(0, CAST(s.n AS INT)),
       |           i -> s.arr[CAST(($h) % s.n AS INT) + 1]), 'sum') AS BIGINT) AS sm
       |  FROM series s, range(0, 64) b(b))
       |SELECT b, CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS resample_mean
       |FROM bs""".stripMargin
  }

  /** Lag-k autocorrelation (k = 1..3) of the hourly revenue series per
    * event_type — Pearson correlation of the (x_t, x_{t+k}) pairs, the
    * diagnostic behind "is this metric periodic / mean-reverting".
    * Determinism contract: the series is integer cents, the lagged
    * pairing is a `lead` window (no join), and the five moment sums go
    * through [[Fixtures.dsum]] exactly like a_corr_moments — the only
    * floating arithmetic is the fixed-order closing formula. Products
    * are long×long (hourly cents ≤ ~1e9 even at 100× the fixture, so
    * the squares stay far under 2^63). Scale shape: corpus → bounded
    * hourly rollup first (the one real shuffle), then windows and
    * aggregation on the small series — identical to a_seasonal_decomp.
    * All three lags ride ONE pass over the series (three lead columns,
    * one groupBy), not three. */
  val acf: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val leads = hourly.select(col("event_type") +: col("cents") +:
      (1 to 3).map(k => lead(col("cents"), k).over(w).as(s"l$k")): _*)
    val aggs = (1 to 3).flatMap { k =>
      val y = col(s"l$k")
      val x = when(y.isNotNull, col("cents"))
      Seq(count(y).cast("double").as(s"n$k"),
        dsum(x).as(s"sx$k"), dsum(y).as(s"sy$k"), dsum(x * y).as(s"sxy$k"),
        dsum(x * x).as(s"sxx$k"), dsum(y * y).as(s"syy$k"))
    }
    val m = leads.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    // one aggregate + stack-unpivot: a 3-branch union re-ran the whole
    // scan→hourly→window→moments pipeline per lag (12 Exchanges, zero
    // reuse in the dumped plan); stacked, the pipeline runs once
    val stacked = m.select(col("event_type"), expr("stack(3, " +
      (1 to 3).map(k => s"$k, n$k, sx$k, sy$k, sxy$k, sxx$k, syy$k").mkString(", ") +
      ") as (lag, n, sx, sy, sxy, sxx, syy)"))
    stacked.select(col("event_type"), col("lag"), col("n").cast("long").as("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy"))
        / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
          * sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("acf"))
  }

  val acfSql: String = {
    def one(k: Int) =
      s"""SELECT event_type, $k AS lag, CAST(n$k AS BIGINT) AS n,
         |       (n$k * sxy$k - sx$k * sy$k)
         |         / (sqrt(n$k * sxx$k - sx$k * sx$k) * sqrt(n$k * syy$k - sy$k * sy$k)) AS acf
         |FROM m""".stripMargin
    val moments = (1 to 3).map { k =>
      s"""  CAST(COUNT(l$k) AS DOUBLE) AS n$k,
         |  ${dsumSql(s"CASE WHEN l$k IS NOT NULL THEN cents END")} AS sx$k,
         |  ${dsumSql(s"l$k")} AS sy$k,
         |  ${dsumSql(s"(CASE WHEN l$k IS NOT NULL THEN cents END) * l$k")} AS sxy$k,
         |  ${dsumSql(s"(CASE WHEN l$k IS NOT NULL THEN cents END) * (CASE WHEN l$k IS NOT NULL THEN cents END)")} AS sxx$k,
         |  ${dsumSql(s"l$k * l$k")} AS syy$k""".stripMargin
    }.mkString(",\n")
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1, 2),
       |ld AS (
       |  SELECT event_type, cents,
       |         LEAD(cents, 1) OVER w AS l1,
       |         LEAD(cents, 2) OVER w AS l2,
       |         LEAD(cents, 3) OVER w AS l3
       |  FROM hr WINDOW w AS (PARTITION BY event_type ORDER BY h)),
       |m AS (SELECT event_type,
       |$moments
       |FROM ld GROUP BY 1)
       |${one(1)} UNION ALL ${one(2)} UNION ALL ${one(3)}""".stripMargin
  }

  /** Mann-Kendall trend test per event_type over the hourly series:
    * S = Σ_{i<j} sign(x_j − x_i) plus Kendall's τ_a = S / (n(n−1)/2) —
    * the nonparametric "is there a monotone trend" answer that, unlike
    * the OLS slope (m_linreg), is immune to outliers. S is a pure
    * INTEGER pair-sum (exact by construction); τ is one double
    * division at the end. The O(n²) pair self-join is over the
    * time-BOUNDED hourly series (744 hours/month regardless of corpus
    * size — the corpus rollup is the only data-sized stage), same
    * rationale as a_bootstrap's single-task resample; a longer series
    * would switch to the O(n log n) inversion-count formulation. */
  val mannKendall: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
    val a = hourly.select(col("event_type"), col("h").as("h1"), col("cents").as("x1"))
    val b = hourly.select(col("event_type"), col("h").as("h2"), col("cents").as("x2"))
    a.join(b, Seq("event_type")).where(col("h1") < col("h2"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
      .select(col("event_type"), col("s_stat"), col("n_pairs"),
        (col("s_stat").cast("double") / col("n_pairs").cast("double")).as("tau"))
  }

  val mannKendallSql: String =
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.event_type, CAST(SIGN(b.cents - a.cents) AS BIGINT) AS sg
       |  FROM hr a JOIN hr b ON a.event_type = b.event_type AND a.h < b.h)
       |SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s_stat,
       |       COUNT(*) AS n_pairs,
       |       CAST(SUM(sg) AS DOUBLE) / COUNT(*) AS tau
       |FROM pairs GROUP BY 1""".stripMargin

  /** Histogram SKETCH aggregation: per-group fixed-width bin counts via
    * [[graft.ops.BinnedHist]], a TypedImperativeAggregate with a
    * primitive long-array buffer — the map-side-combining sketch shape
    * (nBins+2 longs per group cross the wire, never rows). The oracle
    * replays the identical FLOOR((x−lo)/width) binning relationally and
    * assembles the same array with a zero-filled grid, so the gate
    * proves the custom aggregate's update/merge/eval end-to-end.
    * Complements a_hist_quantile (exact binned quantiles via windows) —
    * this is the one-aggregate-row-per-group serving shape the catalog
    * sidecar stores. */
  val histSketch: Q = (s, dir) =>
    table(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(graft.ops.BinnedHist.hist(col("l_quantity"), 0.0, 2.0, 25).as("hist"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"), posexplode(col("hist")).as(Seq("bin", "cnt")))
      .select(col("l_returnflag"), col("bin"), col("cnt"), col("n"))

  val histSketchSql: String =
    """WITH b AS (
      |  SELECT l_returnflag,
      |         CAST(CASE WHEN fb < 0 THEN 0 WHEN fb >= 25 THEN 26
      |                   ELSE fb + 1 END AS BIGINT) AS bin
      |  FROM (SELECT l_returnflag,
      |               FLOOR((CAST(l_quantity AS DOUBLE) - 0.0) / 2.0) AS fb
      |        FROM lineitem)),
      |grid AS (
      |  SELECT rf.l_returnflag, r.i AS bin
      |  FROM (SELECT DISTINCT l_returnflag FROM lineitem) rf
      |  CROSS JOIN range(0, 27) r(i)),
      |c AS (SELECT l_returnflag, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |tot AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1)
      |SELECT g.l_returnflag, CAST(g.bin AS INT) AS bin,
      |       COALESCE(c.n, 0) AS cnt, t.n AS n
      |FROM grid g
      |LEFT JOIN c ON c.l_returnflag = g.l_returnflag AND c.bin = g.bin
      |JOIN tot t ON t.l_returnflag = g.l_returnflag""".stripMargin

  /** Tukey-fence outlier census per group: quartiles by the exact
    * cum-count technique (a_quartiles), fences q1 − 1.5·IQR / q3 +
    * 1.5·IQR, then a broadcast join back to count rows outside. The
    * classic data-quality "how many outliers" question; arithmetic is
    * integer quantities → exact doubles, and the fence constants are
    * per-group scalars so the second pass is a broadcast-joined
    * conditional aggregation (no re-shuffle of the fact side). */
  val tukeyFences: Q = (s, dir) => {
    val h = table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val cum = h.select(col("l_returnflag"), col("l_quantity"), col("cnt"),
      sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))).as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))).as("n"))
    def q(p: Double, nm: String) =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("l_quantity"))).cast("double").as(nm)
    val fences = cum.groupBy(col("l_returnflag")).agg(q(0.25, "q1"), q(0.75, "q3"))
      .select(col("l_returnflag"), col("q1"), col("q3"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo_fence"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi_fence"))
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("qty"))
      .join(broadcast(fences), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        max(col("lo_fence")).as("lo_fence"), max(col("hi_fence")).as("hi_fence"),
        sum(when(col("qty") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("qty") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"),
        count(lit(1)).as("n"))
  }

  val tukeyFencesSql: String =
    """WITH h AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, l_quantity, cnt,
      |        SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
      |        SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      |      FROM h),
      |qs AS (SELECT l_returnflag,
      |         CAST(MIN(CASE WHEN cum >= ceil(0.25 * n) THEN l_quantity END) AS DOUBLE) AS q1,
      |         CAST(MIN(CASE WHEN cum >= ceil(0.75 * n) THEN l_quantity END) AS DOUBLE) AS q3
      |       FROM c GROUP BY 1),
      |f AS (SELECT l_returnflag, q1, q3,
      |        q1 - (q3 - q1) * 1.5 AS lo_fence,
      |        q3 + (q3 - q1) * 1.5 AS hi_fence
      |      FROM qs)
      |SELECT l.l_returnflag,
      |       MAX(f.q1) AS q1, MAX(f.q3) AS q3,
      |       MAX(f.lo_fence) AS lo_fence, MAX(f.hi_fence) AS hi_fence,
      |       CAST(SUM(CASE WHEN CAST(l.l_quantity AS DOUBLE) < f.lo_fence
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |       CAST(SUM(CASE WHEN CAST(l.l_quantity AS DOUBLE) > f.hi_fence
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |       COUNT(*) AS n
      |FROM lineitem l JOIN f ON f.l_returnflag = l.l_returnflag
      |GROUP BY 1""".stripMargin

  /** Hampel filter — the robust streaming-ops outlier rule: flag x_t
    * when |x_t − med(window)| > 3·MAD(window). Both the rolling median
    * AND the rolling MAD are exact INTEGER arithmetic on doubled
    * scales (med2 = 2·median of cents, mad4 = 4·MAD), so the outlier
    * comparison 2·|2x − med2| > 3·mad4 is integer-exact — no float
    * tie can flip a verdict between engines. The 5-row window rides
    * the a_rolling_median collect+sort shape (bounded window, sorts
    * of ≤5 elements map-side, no extra shuffle beyond the window's). */
  val hampel: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("cs", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("med2",
        expr("element_at(cs, cast((size(cs) + 1) div 2 as int))")
          + expr("element_at(cs, cast(size(cs) div 2 + 1 as int))"))
      .withColumn("ds", sort_array(transform(col("cs"), c => abs(c * 2 - col("med2")))))
      .withColumn("mad4",
        expr("element_at(ds, cast((size(ds) + 1) div 2 as int))")
          + expr("element_at(ds, cast(size(ds) div 2 + 1 as int))"))
      .select(col("event_id"), col("user_id"),
        size(col("cs")).as("n_window"),
        (col("med2").cast("double") / 200.0).as("med"),
        (col("mad4").cast("double") / 400.0).as("mad"),
        (abs(col("cents") * 2 - col("med2")) * 2 > col("mad4") * 3).as("is_outlier"))
  }

  val hampelSql: String =
    s"""WITH $eventsCte,
       |b AS (SELECT event_id, user_id, ts,
       |        CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts),
       |wnd AS (
       |  SELECT event_id, user_id, cents,
       |         list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS cs
       |  FROM b),
       |m AS (SELECT *, cs[(len(cs) + 1) // 2] + cs[len(cs) // 2 + 1] AS med2 FROM wnd),
       |d AS (SELECT *, list_sort(list_transform(cs, c -> abs(2 * c - med2))) AS ds FROM m),
       |m2 AS (SELECT *, ds[(len(ds) + 1) // 2] + ds[len(ds) // 2 + 1] AS mad4 FROM d)
       |SELECT event_id, user_id, CAST(len(cs) AS INT) AS n_window,
       |       CAST(med2 AS DOUBLE) / 200.0 AS med,
       |       CAST(mad4 AS DOUBLE) / 400.0 AS mad,
       |       (abs(2 * cents - med2) * 2 > mad4 * 3) AS is_outlier
       |FROM m2""".stripMargin

  /** Two-sample Kolmogorov-Smirnov statistic (click vs view value
    * distributions): D = max_v |F1(v) − F2(v)|, computed EXACTLY —
    * the ECDF gap is compared as the integer |c1·n2 − c2·n1| (cross-
    * multiplied, no per-step divisions), with ONE double division at
    * the reported maximum. Argmax tie-breaks to the smallest value.
    * The ordered window runs over the bounded DISTINCT-value domain
    * (2-decimal cents — thousands of rows), never the event corpus;
    * the corpus collapses in the two per-value count groupBys. */
  val ksTest: Q = (s, dir) => {
    val e = events(s, dir)
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("cents"))
    val a = e.where(col("event_type") === "click")
      .groupBy(col("cents")).agg(count(lit(1)).as("c1"))
    val b = e.where(col("event_type") === "view")
      .groupBy(col("cents")).agg(count(lit(1)).as("c2"))
    val m = a.join(b, Seq("cents"), "full_outer")
      .select(col("cents"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m.select(col("cents"),
        sum(col("c1")).over(w).as("f1"), sum(col("c2")).over(w).as("f2"),
        sum(col("c1")).over(wAll).as("n1"), sum(col("c2")).over(wAll).as("n2"))
      .withColumn("dscaled", abs(col("f1") * col("n2") - col("f2") * col("n1")))
      .orderBy(col("dscaled").desc, col("cents")).limit(1)
      .select((col("cents").cast("double") / 100.0).as("at_value"),
        col("n1"), col("n2"), col("dscaled"),
        (col("dscaled").cast("double") / (col("n1") * col("n2")).cast("double")).as("d_stat"))
  }

  val ksTestSql: String =
    s"""WITH $eventsCte,
       |v AS (SELECT event_type, CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts),
       |a AS (SELECT cents, COUNT(*) AS c1 FROM v WHERE event_type = 'click' GROUP BY 1),
       |b AS (SELECT cents, COUNT(*) AS c2 FROM v WHERE event_type = 'view' GROUP BY 1),
       |m AS (SELECT COALESCE(a.cents, b.cents) AS cents,
       |             COALESCE(a.c1, 0) AS c1, COALESCE(b.c2, 0) AS c2
       |      FROM a FULL OUTER JOIN b ON a.cents = b.cents),
       |c AS (SELECT cents,
       |        SUM(c1) OVER (ORDER BY cents) AS f1,
       |        SUM(c2) OVER (ORDER BY cents) AS f2,
       |        SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
       |      FROM m),
       |d AS (SELECT cents, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |             CAST(abs(f1 * n2 - f2 * n1) AS BIGINT) AS dscaled,
       |             ROW_NUMBER() OVER (ORDER BY abs(f1 * n2 - f2 * n1) DESC, cents) AS rn
       |      FROM c)
       |SELECT CAST(cents AS DOUBLE) / 100.0 AS at_value, n1, n2, dscaled,
       |       CAST(dscaled AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat
       |FROM d WHERE rn = 1""".stripMargin

  /** Theil-Sen estimator per event_type: the MEDIAN of all pairwise
    * slopes (x in hours since the first hour, y in cents) — the robust
    * regression twin of a_mann_kendall's S (same bounded pair set, one
    * more column). Each slope is ONE double division of exact integers
    * (identical in both engines); the exact median uses the
    * a_rolling_median dyadic-midpoint technique over the sorted slope
    * multiset. Windows run on the n²-bounded pair set of the hourly
    * series, never the corpus. */
  val theilSen: Q = (s, dir) => {
    val hourly = events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("hx", (unix_timestamp(col("h")) / 3600L).cast("long"))
    val a = hourly.select(col("event_type"), col("hx").as("x1"), col("cents").as("y1"))
    val b = hourly.select(col("event_type"), col("hx").as("x2"), col("cents").as("y2"))
    val slopes = a.join(b, Seq("event_type")).where(col("x1") < col("x2"))
      .select(col("event_type"),
        ((col("y2") - col("y1")).cast("double") / (col("x2") - col("x1")).cast("double"))
          .as("slope"))
    slopes.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("slope"))).as("ss"), count(lit(1)).as("n_pairs"))
      .select(col("event_type"), col("n_pairs"),
        ((expr("element_at(ss, cast((size(ss) + 1) div 2 as int))")
          + expr("element_at(ss, cast(size(ss) div 2 + 1 as int))")) / 2.0 / 100.0)
          .as("sen_slope"))
  }

  val theilSenSql: String =
    s"""WITH $eventsCte,
       |hr AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(CAST(${dec2Sql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM evts GROUP BY 1, 2),
       |hx AS (SELECT event_type, CAST(epoch(h) // 3600 AS BIGINT) AS hx, cents FROM hr),
       |sl AS (
       |  SELECT a.event_type,
       |         CAST(b.cents - a.cents AS DOUBLE) / CAST(b.hx - a.hx AS DOUBLE) AS slope
       |  FROM hx a JOIN hx b ON a.event_type = b.event_type AND a.hx < b.hx),
       |agg AS (
       |  SELECT event_type, list_sort(list(slope)) AS ss, COUNT(*) AS n_pairs
       |  FROM sl GROUP BY 1)
       |SELECT event_type, n_pairs,
       |       (ss[(len(ss) + 1) // 2] + ss[len(ss) // 2 + 1]) / 2.0 / 100.0 AS sen_slope
       |FROM agg""".stripMargin

  /** One-way ANOVA F-statistic (does mean value differ across event
    * types): SSB = Σ_g S_g²/n_g − S²/N, SSW = Σx² − Σ_g S_g²/n_g. The
    * per-group terms S_g²/n_g are each ONE double division of exact
    * integers, and their cross-group sum — the one place float order
    * could leak in — is a STRICT LEFT FOLD over the group terms sorted
    * by group key (sort_array + aggregate vs list ORDER BY +
    * list_reduce), so both engines add in the identical order. Σx²
    * accumulates via dsum. Group squares are long×long (documented
    * < 2^63 at any plausible scale of 2-decimal values). */
  val anova: Q = (s, dir) => {
    val g = events(s, dir)
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"),
        dsum(col("cents") * col("cents")).as("sq_g"))
    val agg1 = g.agg(
      sort_array(collect_list(struct(col("event_type"),
        ((col("s_g") * col("s_g")).cast("double") / col("n_g").cast("double")).as("term"))))
        .as("ts"),
      sum(col("n_g")).cast("double").as("n"),
      sum(col("s_g")).cast("double").as("s"),
      count(lit(1)).cast("double").as("k"),
      // group Σx² terms fold in sorted order too (dsum per group is
      // exact, but their doubles still need a fixed add order)
      sort_array(collect_list(struct(col("event_type"), col("sq_g").as("sq")))).as("sqs"))
    agg1.select(col("k").cast("long").as("k"), col("n").cast("long").as("n"),
        aggregate(col("ts"), lit(0.0), (acc, t) => acc + t.getField("term")).as("tsum"),
        aggregate(col("sqs"), lit(0.0), (acc, t) => acc + t.getField("sq")).as("sxx"),
        col("s"), col("n").as("nd"), col("k").as("kd"))
      .select(col("k"), col("n"),
        (col("tsum") - col("s") * col("s") / col("nd")).as("ssb"),
        (col("sxx") - col("tsum")).as("ssw"),
        (((col("tsum") - col("s") * col("s") / col("nd")) / (col("kd") - 1.0))
          / ((col("sxx") - col("tsum")) / (col("nd") - col("kd")))).as("f_stat"))
  }

  val anovaSql: String =
    s"""WITH $eventsCte,
       |v AS (SELECT event_type, CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts),
       |g AS (SELECT event_type, COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS s_g,
       |             ${dsumSql("cents * cents")} AS sq_g
       |      FROM v GROUP BY 1),
       |a AS (SELECT
       |        list(CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE) ORDER BY event_type) AS ts,
       |        list(sq_g ORDER BY event_type) AS sqs,
       |        CAST(SUM(n_g) AS DOUBLE) AS n, CAST(SUM(s_g) AS DOUBLE) AS s,
       |        CAST(COUNT(*) AS DOUBLE) AS k
       |      FROM g),
       |f AS (SELECT k, n, s,
       |        list_reduce(list_prepend(0.0, ts), (x, y) -> x + y) AS tsum,
       |        list_reduce(list_prepend(0.0, sqs), (x, y) -> x + y) AS sxx
       |      FROM a)
       |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       |       tsum - s * s / n AS ssb,
       |       sxx - tsum AS ssw,
       |       ((tsum - s * s / n) / (k - 1.0)) / ((sxx - tsum) / (n - k)) AS f_stat
       |FROM f""".stripMargin

  /** Winsorized mean per group: values clamp to the exact [P10, P90]
    * of their group (cum-count quantiles like a_quartiles — integral
    * l_quantity, no interpolation), then a dsum mean over the clamped
    * decimal values. The robust-mean answer to a_tukey_fences'
    * censoring question: same two-pass broadcast shape — quantile
    * scan + broadcast fences + clamped aggregate. */
  val winsorize: Q = (s, dir) => {
    val h = table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val cum = h.select(col("l_returnflag"), col("l_quantity"), col("cnt"),
      sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))).as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))).as("n"))
    def q(p: Double, nm: String) =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("l_quantity"))).as(nm)
    val fences = cum.groupBy(col("l_returnflag")).agg(q(0.10, "p10"), q(0.90, "p90"))
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .join(broadcast(fences), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        dec2(greatest(col("p10"), least(col("p90"), col("l_quantity")))).as("wq"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("wq")).as("wsum"))
      .select(col("l_returnflag"), col("n"),
        (col("wsum") / col("n").cast("double")).as("winsor_mean"))
  }

  val winsorizeSql: String =
    s"""WITH h AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
       |           FROM lineitem GROUP BY 1, 2),
       |c AS (SELECT l_returnflag, l_quantity, cnt,
       |        SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
       |        SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
       |      FROM h),
       |f AS (SELECT l_returnflag,
       |        MIN(CASE WHEN cum >= ceil(0.1 * n) THEN l_quantity END) AS p10,
       |        MIN(CASE WHEN cum >= ceil(0.9 * n) THEN l_quantity END) AS p90
       |      FROM c GROUP BY 1)
       |SELECT l.l_returnflag, COUNT(*) AS n,
       |       ${dsumSql(dec2Sql("greatest(f.p10, least(f.p90, l.l_quantity))"))}
       |         / CAST(COUNT(*) AS DOUBLE) AS winsor_mean
       |FROM lineitem l JOIN f ON f.l_returnflag = l.l_returnflag
       |GROUP BY 1""".stripMargin

  /** Welch's unequal-variance t-test (click vs purchase event values)
    * — the two-sample companion to a_anova's k-group F-test, with the
    * Welch–Satterthwaite degrees of freedom. Same determinism recipe:
    * per-group n/Σx/Σx² from integer cents (dsum for the squares),
    * pivoted into ONE row by conditional aggregation, then every
    * double op in one fixed expression shape both engines replay
    * bitwise — the only transcendental is sqrt, which IEEE 754
    * correctly rounds in both. The t statistic is computed in cents
    * (scale cancels between numerator and denominator); the reported
    * means are re-scaled to value units at the end. One corpus scan,
    * one 2-row shuffle. */
  val welchTtest: Q = (s, dir) => {
    val g = events(s, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"),
        dsum(col("cents") * col("cents")).as("sq_g"))
    val one = g.agg(
      max(when(col("event_type") === "click", col("n_g"))).cast("double").as("n1"),
      max(when(col("event_type") === "click", col("s_g"))).cast("double").as("s1"),
      max(when(col("event_type") === "click", col("sq_g"))).as("q1"),
      max(when(col("event_type") === "purchase", col("n_g"))).cast("double").as("n2"),
      max(when(col("event_type") === "purchase", col("s_g"))).cast("double").as("s2"),
      max(when(col("event_type") === "purchase", col("sq_g"))).as("q2"))
    val m1 = col("s1") / col("n1")
    val m2 = col("s2") / col("n2")
    val v1 = (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1.0)
    val v2 = (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1.0)
    val se1 = v1 / col("n1")
    val se2 = v2 / col("n2")
    one.select(
      col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      (m1 / 100.0).as("mean1"), (m2 / 100.0).as("mean2"),
      ((m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
      ((se1 + se2) * (se1 + se2)
        / (se1 * se1 / (col("n1") - 1.0) + se2 * se2 / (col("n2") - 1.0))).as("df"))
  }

  val welchTtestSql: String = {
    val (m1, m2) = ("(s1 / n1)", "(s2 / n2)")
    val v1 = "((q1 - s1 * s1 / n1) / (n1 - 1.0))"
    val v2 = "((q2 - s2 * s2 / n2) / (n2 - 1.0))"
    val (se1, se2) = (s"($v1 / n1)", s"($v2 / n2)")
    s"""WITH $eventsCte,
       |v AS (SELECT event_type, CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents
       |      FROM evts WHERE event_type IN ('click', 'purchase')),
       |g AS (SELECT event_type, COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS s_g,
       |             ${dsumSql("cents * cents")} AS sq_g
       |      FROM v GROUP BY 1),
       |one AS (SELECT
       |  CAST(MAX(CASE WHEN event_type = 'click' THEN n_g END) AS DOUBLE) AS n1,
       |  CAST(MAX(CASE WHEN event_type = 'click' THEN s_g END) AS DOUBLE) AS s1,
       |  MAX(CASE WHEN event_type = 'click' THEN sq_g END) AS q1,
       |  CAST(MAX(CASE WHEN event_type = 'purchase' THEN n_g END) AS DOUBLE) AS n2,
       |  CAST(MAX(CASE WHEN event_type = 'purchase' THEN s_g END) AS DOUBLE) AS s2,
       |  MAX(CASE WHEN event_type = 'purchase' THEN sq_g END) AS q2
       |FROM g)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |       $m1 / 100.0 AS mean1, $m2 / 100.0 AS mean2,
       |       ($m1 - $m2) / sqrt($se1 + $se2) AS t_stat,
       |       ($se1 + $se2) * ($se1 + $se2)
       |         / ($se1 * $se1 / (n1 - 1.0) + $se2 * $se2 / (n2 - 1.0)) AS df
       |FROM one""".stripMargin
  }

  /** Paired t-test — the within-subject companion to a_welch_ttest's
    * independent two-sample form: each user is their own control
    * (post − pre event spend, same Jan-8 cutoff as a_cuped), so the
    * test statistic comes from the per-user DIFFERENCE moments. n, Σd,
    * Σd² are exact integers (cents), the t/df chain is one fixed
    * scalar expression, sqrt is IEEE-exact. One user-keyed aggregate
    * then a single-row reduce — the paired design's whole point is
    * that no cross-user shuffle is ever needed. */
  val pairedTtest: Q = (s, dir) => {
    val cut = lit("2024-01-08").cast("timestamp")
    val perUser = events(s, dir)
      .select(col("user_id"), col("ts"), (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg((sum(when(col("ts") >= cut, col("cents")).otherwise(0L)) -
        sum(when(col("ts") < cut, col("cents")).otherwise(0L))).as("d"))
    val m = perUser.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("d")).cast("double").as("sd"),
      dsum(col("d") * col("d")).as("sdd"))
    val (n, sd, sdd) = (col("n"), col("sd"), col("sdd"))
    val meanD = sd / n
    val varD = (sdd - sd * sd / n) / (n - 1.0)
    m.select(n.cast("long").as("n"),
      (meanD / 100.0).as("mean_diff"),
      (meanD / sqrt(varD / n)).as("t_stat"),
      (n - 1.0).cast("long").as("df"))
  }

  val pairedTtestSql: String = {
    val meanD = "(sd / n)"
    val varD = "((sdd - sd * sd / n) / (n - 1.0))"
    s"""WITH $eventsCte,
       |pu AS (SELECT user_id,
       |         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN cents ELSE 0 END)
       |            - SUM(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN cents ELSE 0 END) AS BIGINT) AS d
       |       FROM (SELECT user_id, ts,
       |               CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts)
       |       GROUP BY user_id),
       |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |             CAST(SUM(d) AS DOUBLE) AS sd,
       |             ${dsumSql("d * d")} AS sdd
       |      FROM pu)
       |SELECT CAST(n AS BIGINT) AS n,
       |       $meanD / 100.0 AS mean_diff,
       |       $meanD / sqrt($varD / n) AS t_stat,
       |       CAST(n - 1.0 AS BIGINT) AS df
       |FROM m""".stripMargin
  }

  /** CUPED variance reduction (Deng et al. 2013) — the A/B-test
    * analysis staple: adjust each experiment unit's post-period metric
    * by its own PRE-period metric, shrinking variance without biasing
    * the treatment contrast. Unit = user, pre = event value before
    * Jan 8, post = after; variant = user_id parity (a deterministic
    * stand-in for the assignment column a real experiment carries).
    * theta is the pooled OLS slope cov(x,y)/var(x) from exact
    * integer-cents moments (per-user sums are exact LONGs, cross
    * moments go through dsum), then the adjusted group means replay
    * one fixed scalar chain in both engines. Scale shape: one
    * user-keyed aggregate (the only data-sized shuffle), a single-row
    * global moment reduce, and a 2-row group rollup joined crosswise —
    * the same shape at 100 TB, because everything after the per-user
    * pass is constant-size. */
  val cuped: Q = (s, dir) => {
    val cut = lit("2024-01-08").cast("timestamp")
    val perUser = events(s, dir)
      .select(col("user_id"), col("ts"), (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cut, col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val mom = perUser.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("x") * col("y")).as("sxy"))
    val theta = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val grp = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).cast("double").as("n_g"),
        sum(col("x")).cast("double").as("sx_g"),
        sum(col("y")).cast("double").as("sy_g"))
    grp.crossJoin(mom)
      .select(
        col("variant"),
        col("n_g").cast("long").as("n_users"),
        (col("sy_g") / col("n_g") / 100.0).as("mean_post"),
        theta.as("theta"),
        ((col("sy_g") / col("n_g") -
          theta * (col("sx_g") / col("n_g") - col("sx") / col("n"))) / 100.0)
          .as("adj_mean_post"))
  }

  val cupedSql: String = {
    val theta = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    s"""WITH $eventsCte,
       |pu AS (SELECT user_id,
       |          CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN cents ELSE 0 END) AS BIGINT) AS x,
       |          CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN cents ELSE 0 END) AS BIGINT) AS y,
       |          CAST(user_id % 2 AS INT) AS variant
       |       FROM (SELECT user_id, ts,
       |               CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts)
       |       GROUP BY user_id),
       |mom AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |               CAST(SUM(x) AS DOUBLE) AS sx,
       |               CAST(SUM(y) AS DOUBLE) AS sy,
       |               ${dsumSql("x * x")} AS sxx,
       |               ${dsumSql("x * y")} AS sxy
       |        FROM pu),
       |grp AS (SELECT variant, CAST(COUNT(*) AS DOUBLE) AS n_g,
       |               CAST(SUM(x) AS DOUBLE) AS sx_g,
       |               CAST(SUM(y) AS DOUBLE) AS sy_g
       |        FROM pu GROUP BY 1)
       |SELECT variant, CAST(n_g AS BIGINT) AS n_users,
       |       sy_g / n_g / 100.0 AS mean_post,
       |       $theta AS theta,
       |       (sy_g / n_g - $theta * (sx_g / n_g - sx / n)) / 100.0 AS adj_mean_post
       |FROM grp, mom""".stripMargin
  }

  /** Entity-resolution fuzzy join with blocking — the record-linkage
    * primitive: candidate pairs come from an EQUI-join on a cheap
    * blocking key (here the head noun of the part name), and the
    * expensive edit-distance verify runs only on candidates. Never
    * name x name: at 100 TB the blocking key hash-partitions both
    * sides and each block's pair expansion is local to its partition;
    * the all-pairs quadratic is confined to within-block, the same
    * containment LSH banding gives MinHash (t_minhash_lsh) — this is
    * its string-similarity sibling. levenshtein() is the identical
    * dynamic program in Spark and DuckDB, so the verify predicate and
    * reported distance hash-match. */
  val fuzzyJoin: Q = (s, dir) => {
    val names = table(s, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", split_part(col("p_name"), lit(" "), lit(2)))
    val a = names.select(col("p_name").as("name_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .where(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .where(col("dist") <= 3)
  }

  val fuzzyJoinSql: String =
    """WITH names AS (SELECT DISTINCT p_name,
      |                      split_part(p_name, ' ', 2) AS blk FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin

  /** Mann-Whitney U — the rank-sum companion to a_welch_ttest: same
    * click-vs-purchase comparison, but nonparametric. Ranks are exact
    * rationals: the suite works in DOUBLED average ranks (2·avgrank of
    * a tied block = 2·rsum − t + 1, an integer), so every rank moment
    * is a LONG sum and the z chain is one fixed-order scalar
    * expression. The global rank prefix comes from
    * [[graft.ops.Ranking.withGlobalRunningSums]] over the DISTINCT
    * cent-value rollup (domain-bounded, total-ordered) — no
    * SinglePartition window — while the oracle states the textbook
    * running-sum window, so the hash-match also re-proves the
    * two-phase primitive. Integer moments stay exact to N ≈ 1.5e9
    * rows (r12 < 2^63); past that the statistic itself outgrows
    * double precision in any engine. */
  val mannWhitney: Q = (s, dir) => {
    val v = events(s, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select((col("event_type") === "click").cast("int").as("g1"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
    val byVal = v.groupBy(col("cents"))
      .agg(count(lit(1)).as("t"), sum(col("g1")).cast("long").as("t1"))
    val (rs, _) = graft.ops.Ranking.withGlobalRunningSums(byVal, Seq(col("cents")), Seq("t"))
    val m = rs.agg(
      sum(col("t1")).as("n1l"),
      sum(col("t") - col("t1")).as("n2l"),
      sum(col("t1") * (lit(2L) * col("rsum_t") - col("t") + 1L)).as("r12"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tcorr"))
    val n1d = col("n1l").cast("double")
    val n2d = col("n2l").cast("double")
    val nd = n1d + n2d
    val u1 = (col("r12") - col("n1l") * (col("n1l") + 1L)).cast("double") / 2.0
    val variance = (n1d * n2d / 12.0) *
      ((nd + 1.0) - col("tcorr").cast("double") / (nd * (nd - 1.0)))
    m.select(col("n1l").as("n1"), col("n2l").as("n2"), u1.as("u1"),
      ((u1 - n1d * n2d / 2.0) / sqrt(variance)).as("z_stat"))
  }

  val mannWhitneySql: String = {
    val (n1d, n2d) = ("CAST(n1l AS DOUBLE)", "CAST(n2l AS DOUBLE)")
    val nd = s"($n1d + $n2d)"
    val u1 = s"(CAST(r12 - n1l * (n1l + 1) AS DOUBLE) / 2.0)"
    val variance = s"(($n1d * $n2d / 12.0) * (($nd + 1.0) - CAST(tcorr AS DOUBLE) / ($nd * ($nd - 1.0))))"
    s"""WITH $eventsCte,
       |v AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
       |             CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents
       |      FROM evts WHERE event_type IN ('click', 'purchase')),
       |bv AS (SELECT cents, COUNT(*) AS t, CAST(SUM(g1) AS BIGINT) AS t1
       |       FROM v GROUP BY 1),
       |rk AS (SELECT t, t1,
       |         CAST(SUM(t) OVER (ORDER BY cents
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum
       |       FROM bv),
       |m AS (SELECT CAST(SUM(t1) AS BIGINT) AS n1l,
       |             CAST(SUM(t - t1) AS BIGINT) AS n2l,
       |             CAST(SUM(t1 * (2 * rsum - t + 1)) AS BIGINT) AS r12,
       |             CAST(SUM(t * t * t - t) AS BIGINT) AS tcorr
       |      FROM rk)
       |SELECT n1l AS n1, n2l AS n2, $u1 AS u1,
       |       ($u1 - $n1d * $n2d / 2.0) / sqrt($variance) AS z_stat
       |FROM m""".stripMargin
  }

  /** Spearman rank correlation between event value and event time —
    * Pearson over average ranks, which is scale-invariant, so the
    * suite again uses the integer DOUBLED ranks (2·rsum − t + 1 per
    * distinct value; the factor 2 cancels in ρ). Each variable's rank
    * map is the distinct-value rollup + the two-phase running sum,
    * joined back to the rows by value (two hash joins — both sides
    * key-partitioned, nothing all-pairs). Rank moments: LONG sums for
    * Σr, [[Fixtures.dsum]] for the squared/cross sums, then ρ is one
    * fixed-order double chain identical in both engines. */
  val spearman: Q = (s, dir) => {
    val base = events(s, dir).select(
      (dec2(col("value")) * 100).cast("long").as("x"),
      unix_micros(col("ts")).as("y"))
    def rankMap(key: String): DataFrame = {
      val byVal = base.groupBy(col(key)).agg(count(lit(1)).as("t"))
      graft.ops.Ranking.withGlobalRunningSums(byVal, Seq(col(key)), Seq("t"))._1
        .select(col(key), (lit(2L) * col("rsum_t") - col("t") + 1L).as(s"r_$key"))
    }
    val withRanks = base.join(rankMap("x"), Seq("x")).join(rankMap("y"), Seq("y"))
    val m = withRanks.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("r_x")).cast("double").as("sx"),
      sum(col("r_y")).cast("double").as("sy"),
      dsum(col("r_x") * col("r_x")).as("sxx"),
      dsum(col("r_y") * col("r_y")).as("syy"),
      dsum(col("r_x") * col("r_y")).as("sxy"))
    val (n, sx, sy, sxx, syy, sxy) =
      (col("n"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
    m.select(n.cast("long").as("n"),
      ((n * sxy - sx * sy)
        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("rho"))
  }

  val spearmanSql: String =
    s"""WITH $eventsCte,
       |base AS (SELECT CAST(${dec2Sql("value")} * 100 AS BIGINT) AS x,
       |                CAST(epoch_us(ts) AS BIGINT) AS y FROM evts),
       |rx AS (SELECT x, CAST(2 * CAST(SUM(t) OVER (ORDER BY x
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - t + 1 AS BIGINT) AS r_x
       |       FROM (SELECT x, COUNT(*) AS t FROM base GROUP BY 1)),
       |ry AS (SELECT y, CAST(2 * CAST(SUM(t) OVER (ORDER BY y
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           - t + 1 AS BIGINT) AS r_y
       |       FROM (SELECT y, COUNT(*) AS t FROM base GROUP BY 1)),
       |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |             CAST(CAST(SUM(r_x) AS BIGINT) AS DOUBLE) AS sx,
       |             CAST(CAST(SUM(r_y) AS BIGINT) AS DOUBLE) AS sy,
       |             ${dsumSql("r_x * r_x")} AS sxx,
       |             ${dsumSql("r_y * r_y")} AS syy,
       |             ${dsumSql("r_x * r_y")} AS sxy
       |      FROM base JOIN rx USING (x) JOIN ry USING (y))
       |SELECT CAST(n AS BIGINT) AS n,
       |       (n * sxy - sx * sy)
       |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rho
       |FROM m""".stripMargin

  /** HITS hubs-and-authorities over the customer→supplier bipartite
    * graph (distinct purchase edges): hub customers buy from the
    * suppliers that authoritative suppliers sell to — the mutual
    * reinforcement PageRank's single score can't express. Two fixed
    * power iterations, L1-normalized, carried ENTIRELY in 2^20
    * fixed-point LONGs (the kfold/centroid discipline): every sum is
    * an exact integer and every renormalization is one integer
    * division ((x·2^20) div norm — both engines truncate identically
    * on positives), so the chain is bit-portable at ANY magnitude —
    * no decimal quantization anywhere (a first attempt quantized the
    * per-step doubles to DECIMAL(28,12) and the two engines' double→
    * decimal rounding diverged at ~1e-12). Headroom: araw ≤ 2^20 ·
    * outdeg after the first normalization, so the div's numerator
    * stays under 2^63 up to ~4e6 authorities. Init h₀ = (2^40 div
    * n_hubs) — the chain is invariant to h₀'s absolute scale (every
    * step renormalizes by the L1 sum), so the wide init only exists to
    * keep h₀ > 0: a 2^20 init would truncate to ZERO hubs past ~1e6
    * distinct customers and the first renormalization would divide by
    * zero; 2^40 holds to n_hubs < 2^40 (iteration-1 numerator ar·2^20
    * ≤ 2^60). The oracle unrolls the identical arithmetic. Per
    * iteration: two node-keyed join+agg pairs — rank tables are
    * O(nodes), the fact table builds the edge list once. */
  val hits: Q = (s, dir) => {
    val SFP = 1048576L // 2^20 fixed-point scale
    val InitFP = 1099511627776L // 2^40: h0 init (see scaladoc)
    // r11 REWRITE, measured against the round-10 two-layout design (see
    // OPTIMIZATION_r11.md): the old shape checkpointed the distinct edge
    // set LAZILY into two pre-shuffled layouts on the theory that
    // LogicalRDD preserves partitioning. Under AQE it does not — the
    // plan snapshot showed every ExistingRDD consumer re-Exchanged — so
    // the second layout was a pure extra full-edge shuffle + block copy;
    // worse, the lazy checkpoints plus un-checkpointed per-round rank
    // tables let each round's join+agg subtree inline 2-4x into the
    // final plan (profile: the orders⨝lineitem scan chain executed 9x
    // per run). New shape (guide §2.4, §5): ONE eager checkpoint of the
    // deduped edge set (dropDuplicates rides the join's exchange output
    // — no dedicated distinct shuffle), and each round's edge-sized
    // join+agg output (araw/hraw, node-sized) is eagerly checkpointed,
    // so every edge-sized join executes exactly once per round and the
    // normalization scalars re-read node-sized cached blocks.
    // r12 unpersist discipline (VERDICT what's-wrong #3): every eager
    // checkpoint goes through checkpointFresh and is freed the moment
    // its last eager consumer has materialized — the edge set after the
    // final edge-sized join, each round's araw/hraw after the next
    // round's checkpoint. Only the LAST round's two node-sized rank
    // tables stay referenced by the returned (lazy) plan; those blocks
    // are released by the ContextCleaner when the caller drops the
    // frame. In a 296-query bench session this stops the edge-sized
    // MEMORY_AND_DISK blocks from pinning storage for the session
    // lifetime (PersistedBlocksSpec asserts the bound).
    import graft.ops.Materialize.{checkpointFresh, free}
    val e = checkpointFresh(table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .dropDuplicates("c", "sup"))
    // r12 (guide §3.1, the CC adapt-from-actual-size contract): the
    // rank tables are NODE-sized while e is EDGE-sized, and each of the
    // four per-round joins used to hash-shuffle the full edge set by
    // its key. The distinct-customer count is measured anyway (one job
    // over cached e blocks, for h0); when it is at or under 2^22 (the
    // supplier side is never larger than the customer side here), the
    // rank side is broadcast-hinted and NO round shuffles the edge set
    // at all (partial map-side aggregation leaves only the node-sized
    // agg exchange). Past the gate (billions of customers at 100 TB)
    // the shuffle plan is unchanged.
    val nCVal = e.select(col("c")).distinct().count()
    val rankBc = nCVal <= (1L << 22)
    def rank(df: DataFrame): DataFrame = if (rankBc) broadcast(df) else df
    // n = 0: no rows exist for the literal to matter — avoid the /0
    var h = e.select(col("c")).distinct()
      .select(col("c"), lit(if (nCVal == 0) 0L else InitFP / nCVal).as("h"))
    var a: DataFrame = null
    var prev = Seq.empty[DataFrame]
    for (k <- 1 to 2) {
      val araw = checkpointFresh(e.join(rank(h), Seq("c")).groupBy(col("sup"))
        .agg(sum(col("h")).as("ar")))
      // the k-1 round's araw/hraw blocks fed the araw job above — free
      free(prev: _*)
      val anorm = broadcast(araw.agg(sum(col("ar")).as("na")))
      a = araw.crossJoin(anorm)
        .select(col("sup"), expr(s"(ar * $SFP) div na").as("a"))
      val hraw = checkpointFresh(e.join(rank(a), Seq("sup")).groupBy(col("c"))
        .agg(sum(col("a")).as("hr")))
      val hnorm = broadcast(hraw.agg(sum(col("hr")).as("nh")))
      h = hraw.crossJoin(hnorm)
        .select(col("c"), expr(s"(hr * $SFP) div nh").as("h"))
      prev = Seq(araw, hraw)
      if (k == 2) free(e) // last edge join done
    }
    a.select(lit("auth").as("role"), col("sup").cast("long").as("id"),
        (col("a").cast("double") / SFP.toDouble).as("score"))
      .unionByName(
        h.select(lit("hub").as("role"), col("c").cast("long").as("id"),
          (col("h").cast("double") / SFP.toDouble).as("score")))
  }

  val hitsSql: String = {
    val SFP = 1048576L
    val iters = (1 to 2).map { k =>
      s"""ar$k AS (SELECT sup, CAST(SUM(h) AS BIGINT) AS ar
         |         FROM e JOIN h${k - 1} USING (c) GROUP BY 1),
         |an$k AS (SELECT CAST(SUM(ar) AS BIGINT) AS na FROM ar$k),
         |a$k AS (SELECT sup, (ar * $SFP) // na AS a FROM ar$k, an$k),
         |hr$k AS (SELECT c, CAST(SUM(a) AS BIGINT) AS hr
         |         FROM e JOIN a$k USING (sup) GROUP BY 1),
         |hn$k AS (SELECT CAST(SUM(hr) AS BIGINT) AS nh FROM hr$k),
         |h$k AS (SELECT c, (hr * $SFP) // nh AS h FROM hr$k, hn$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nc AS (SELECT COUNT(DISTINCT c) AS n_c FROM e),
       |h0 AS (SELECT DISTINCT c, ${1099511627776L} // n_c AS h FROM e, nc),
       |$iters
       |SELECT 'auth' AS role, CAST(sup AS BIGINT) AS id,
       |       CAST(a AS DOUBLE) / $SFP.0 AS score FROM a2
       |UNION ALL
       |SELECT 'hub' AS role, CAST(c AS BIGINT) AS id,
       |       CAST(h AS DOUBLE) / $SFP.0 AS score FROM h2""".stripMargin
  }

  /** Wald–Wolfowitz runs test — is the event-value sequence random
    * around its mean, or does it drift/cluster in time? The sign
    * sequence (value > global dsum/count mean) is totally ordered by
    * (ts, event_id); the run count is 1 + sign flips between global
    * neighbors, which comes from
    * [[graft.ops.Ranking.withGlobalRanks]]'s prev_nb neighbor
    * column (two-phase range partition — no SinglePartition window),
    * while the oracle states the textbook LAG. n₁/n₂/flips are exact
    * longs; the z chain is one fixed-order double expression
    * (2·n₁·n₂ < 2^63 to ~3e9 rows — past that the z itself saturates
    * double anyway). */
  val runsTest: Q = (s, dir) => {
    val base = events(s, dir).select(col("ts"), col("event_id"),
      (dec2(col("value")) * 100).cast("long").as("cents"))
    val thr = broadcast(base.agg(
      (dsum(col("cents")) / count(lit(1))).as("thr")))
    val sg = base.crossJoin(thr)
      .select(col("ts"), col("event_id"),
        when(col("cents").cast("double") > col("thr"), 1L).otherwise(0L).as("sgn"))
    val g = graft.ops.Ranking.withGlobalRanks(sg,
      Seq(col("ts"), col("event_id")), Seq("ts", "event_id"), "sgn", 4)
    val m = g.agg(
      count(lit(1)).as("n"),
      sum(col("sgn")).as("n1"),
      sum(when(col("prev_nb").isNotNull && col("sgn") =!= col("prev_nb"), 1L)
        .otherwise(0L)).as("flips"))
    val nd = col("n").cast("double")
    val n1d = col("n1").cast("double")
    val n2d = nd - n1d
    val rd = (col("flips") + 1L).cast("double")
    val mu = lit(1.0) + lit(2.0) * n1d * n2d / nd
    val variance = (lit(2.0) * n1d * n2d * (lit(2.0) * n1d * n2d - nd)) /
      (nd * nd * (nd - 1.0))
    m.select(col("n"), col("n1"), (col("flips") + 1L).as("runs"),
      ((rd - mu) / sqrt(variance)).as("z_stat"))
  }

  val runsTestSql: String = {
    val (nd, n1d) = ("CAST(n AS DOUBLE)", "CAST(n1 AS DOUBLE)")
    val n2d = s"($nd - $n1d)"
    val mu = s"(1.0 + 2.0 * $n1d * $n2d / $nd)"
    val variance = s"((2.0 * $n1d * $n2d * (2.0 * $n1d * $n2d - $nd)) / ($nd * $nd * ($nd - 1.0)))"
    s"""WITH $eventsCte,
       |base AS (SELECT ts, event_id,
       |                CAST(${dec2Sql("value")} * 100 AS BIGINT) AS cents FROM evts),
       |thr AS (SELECT ${dsumSql("cents")} / COUNT(*) AS thr FROM base),
       |sg AS (SELECT ts, event_id,
       |              CASE WHEN CAST(cents AS DOUBLE) > thr THEN 1 ELSE 0 END AS sgn
       |       FROM base, thr),
       |lg AS (SELECT sgn, LAG(sgn) OVER (ORDER BY ts, event_id) AS psgn FROM sg),
       |m AS (SELECT COUNT(*) AS n, CAST(SUM(sgn) AS BIGINT) AS n1,
       |             CAST(SUM(CASE WHEN psgn IS NOT NULL AND sgn <> psgn
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS flips
       |      FROM lg)
       |SELECT n, n1, flips + 1 AS runs,
       |       (CAST(flips + 1 AS DOUBLE) - $mu) / sqrt($variance) AS z_stat
       |FROM m""".stripMargin
  }

  /** Interval union (merge overlapping intervals) — the sweep-line
    * classic: each event claims [ts, ts+5min); per user, overlapping
    * claims merge into maximal covered islands, reported as island
    * count + total covered microseconds. An island starts where the
    * event's start exceeds the running max of all PRIOR ends (the
    * standard running-max sweep), island ids are the running sum of
    * those start flags, and covered length per island is max(end) −
    * min(start) — every quantity an exact epoch-micros long. All three
    * windows are USER-keyed (two passes over one user-partitioned
    * sort; Spark reuses the Exchange), so nothing single-partitions at
    * any scale. */
  val intervalMerge: Q = (s, dir) => {
    val Span = 300000000L // 5 min in micros
    val base = events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + Span)
    val ord = Window.partitionBy(col("user_id")).orderBy(col("st"), col("event_id"))
    val flagged = base
      .withColumn("runmax", max(col("en")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("f", when(col("runmax").isNull || col("st") > col("runmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("f")).over(ord))
    flagged.groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), sum(col("ien") - col("ist")).as("covered_us"))
  }

  val intervalMergeSql: String =
    s"""WITH $eventsCte,
       |base AS (SELECT user_id, event_id,
       |                CAST(epoch_us(ts) AS BIGINT) AS st,
       |                CAST(epoch_us(ts) AS BIGINT) + 300000000 AS en
       |         FROM evts),
       |fl AS (SELECT user_id, event_id, st, en,
       |         MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
       |       FROM base),
       |isl AS (SELECT user_id, st, en,
       |          -- same (st, event_id) total order as the flag pass: a
       |          -- start-tied pair must keep its flagged row first or the
       |          -- running island id would attach rows to the wrong island
       |          CAST(SUM(CASE WHEN runmax IS NULL OR st > runmax THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY user_id ORDER BY st, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |        FROM fl),
       |g AS (SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
       |      FROM isl GROUP BY 1, 2)
       |SELECT user_id, COUNT(*) AS n_islands,
       |       CAST(SUM(ien - ist) AS BIGINT) AS covered_us
       |FROM g GROUP BY 1""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "a_interval_merge" -> (intervalMerge, Some(intervalMergeSql)),
    "a_runs_test" -> (runsTest, Some(runsTestSql)),
    "a_hits" -> (hits, Some(hitsSql)),
    "a_mann_whitney" -> (mannWhitney, Some(mannWhitneySql)),
    "a_spearman" -> (spearman, Some(spearmanSql)),
    "a_fuzzy_join" -> (fuzzyJoin, Some(fuzzyJoinSql)),
    "a_cuped" -> (cuped, Some(cupedSql)),
    "a_paired_ttest" -> (pairedTtest, Some(pairedTtestSql)),
    "a_welch_ttest" -> (welchTtest, Some(welchTtestSql)),
    "a_winsorize" -> (winsorize, Some(winsorizeSql)),
    "a_anova" -> (anova, Some(anovaSql)),
    "a_theil_sen" -> (theilSen, Some(theilSenSql)),
    "a_ks_test" -> (ksTest, Some(ksTestSql)),
    "a_hampel" -> (hampel, Some(hampelSql)),
    "a_tukey_fences" -> (tukeyFences, Some(tukeyFencesSql)),
    "a_hist_sketch" -> (histSketch, Some(histSketchSql)),
    "a_acf" -> (acf, Some(acfSql)),
    "a_mann_kendall" -> (mannKendall, Some(mannKendallSql)),
    "a_bootstrap" -> (bootstrap, Some(bootstrapSql)),
    "a_changepoint" -> (changepoint, Some(changepointSql)),
    "a_seasonal_decomp" -> (seasonalDecomp, Some(seasonalDecompSql)),
    "a_incremental_agg" -> (incrementalAgg, Some(incrementalAggSql)),
    "a_rolling_median" -> (rollingMedian, Some(rollingMedianSql)),
    "a_unpivot" -> (unpivotMetrics, Some(unpivotMetricsSql)),
    "a_ewma" -> (ewma, Some(ewmaSql)),
    "a_hierarchy" -> (hierarchy, Some(hierarchySql)),
    "a_rolling_beta" -> (rollingBeta, Some(rollingBetaSql)),
    "a_band_join" -> (bandJoin, Some(bandJoinSql)),
    "a_data_profile" -> (dataProfile, Some(dataProfileSql)),
    "a_anomaly" -> (anomaly, Some(anomalySql)),
    "a_hist_quantile" -> (histQuantile, Some(histQuantileSql)),
    "a_gap_fill" -> (gapFill, Some(gapFillSql)),
    "a_kmv_distinct" -> (kmvDistinct, Some(kmvDistinctSql)),
    "a_hll_distinct" -> (hllDistinct, Some(hllDistinctSql)),
    "a_kmv_setops" -> (kmvSetOps, Some(kmvSetOpsSql)),
    "a_dq_rules" -> (dqRules, Some(dqRulesSql)),
    "a_hll_window" -> (hllWindow, Some(hllWindowSql)),
    "a_distribution_windows" -> (distributionWindows, Some(distributionWindowsSql)),
    "a_exact_median" -> (exactMedian, Some(exactMedianSql)),
    "a_bloom_join" -> (bloomJoin, Some(bloomJoinSql)),
    "a_kmv_window" -> (kmvWindow, Some(kmvWindowSql)),
    "a_range_frames" -> (rangeFrames, Some(rangeFramesSql)),
    "a_topk_per_group" -> (topkPerGroup, Some(topkPerGroupSql)),
    "a_quartiles" -> (quartiles, Some(quartilesSql)),
    "a_percentile_cont" -> (percentileCont, Some(percentileContSql)),
    "a_corr_moments" -> (corrMoments, Some(corrMomentsSql)),
    "a_grouping_sets" -> (groupingSets, Some(groupingSetsSql)),
    "a_running_total" -> (runningTotal, Some(runningTotalSql)),
    "a_running_distinct" -> (runningDistinct, Some(runningDistinctSql)),
    "a_streaks" -> (streaks, Some(streaksSql)),
    "a_interpolate" -> (interpolate, Some(interpolateSql)),
    "a_skyline" -> (skyline, Some(skylineSql)),
    "a_range_join_rule" -> (rangeJoinRule, Some(rangeJoinRuleSql)),
    "a_mode" -> (modePerGroup, Some(modePerGroupSql)),
    "a_contribution" -> (contribution, Some(contributionSql)),
    "a_yoy_growth" -> (yoyGrowth, Some(yoyGrowthSql)),
    "a_gini" -> (gini, Some(giniSql)),
    "a_benford" -> (benford, Some(benfordSql)),
    "a_shipping_priority" -> (shippingPriority, Some(shippingPrioritySql)),
    "a_nation_pairs" -> (nationPairs, Some(nationPairsSql)),
    "a_having_distinct" -> (havingDistinct, Some(havingDistinctSql)),
    "a_asof_join" -> (asofJoin, Some(asofJoinSql)),
    "a_rollup" -> (rollup, Some(rollupSql)),
    "a_cube" -> (cube, Some(cubeSql)),
    "a_exists_agg" -> (correlatedExists, Some(correlatedExistsSql)),
    "a_scalar_subquery" -> (scalarSubquery, Some(scalarSubquerySql)),
    "a_ranking_windows" -> (rankingWindows, Some(rankingWindowsSql)),
    "a_pivot" -> (pivot, Some(pivotSql)),
    "a_salted_agg" -> (saltedFlagAgg, Some(saltedFlagAggSql)),
    "a_salted_join" -> (saltedJoinAgg, Some(saltedJoinAggSql)),
    "a_lag_delta" -> (lagDelta, Some(lagDeltaSql)),
  )
}

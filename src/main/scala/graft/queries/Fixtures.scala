package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixtures shared by the query suite and its DuckDB
  * oracles.
  *
  * Raster queries need tile layers, but the driver's correctness gate
  * runs over the TPC-H-ish parquet tables (TESTDATA.md). So we derive
  * *pixels* from `lineitem` deterministically, run them through the real
  * tile machinery (assemble → tile op → pixelize) on the Spark side, and
  * express the same per-pixel result relationally in the oracle SQL.
  *
  * Float-determinism rules (so Spark and DuckDB hash-match bit-for-bit):
  *  - multi-row aggregation only over *integral-valued* doubles (exact in
  *    IEEE754 regardless of order) or via DECIMAL casts;
  *  - scalar double math is order-fixed per row, hence safe;
  *  - floats are cast to double *before* arithmetic.
  */
object Fixtures {

  /** Tile size for query fixtures (the engine default is 256;
    * every operator takes cols/rows explicitly). */
  val TS = 16

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Parquet.read(s, s"$dir/$name.parquet")

  /** Root of the suite's per-process scratch, `<java.io.tmpdir>/graft_<pid>`,
    * so concurrent JVMs never share a catalog. Created on first use, when
    * its delete is registered with Hadoop's shutdown-hook manager below
    * Spark's priority (40): it runs after `SparkContext.stop`. */
  private lazy val scratchRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Path, Paths}
    val root = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${ProcessHandle.current().pid()}"))
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() =>
      if (Files.exists(root)) {
        val paths = Files.walk(root)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally paths.close()
      }, 30)
    root
  }

  /** `<scratch root>/<name>_<MD5 of dataDir's absolute path, 16 hex digits>`:
    * two aliases of one dir share a path, two dirs never do. */
  def scratch(dataDir: String, name: String): String = {
    val abs = java.nio.file.Paths.get(dataDir).toAbsolutePath.normalize.toString
    val key = java.security.MessageDigest.getInstance("MD5").digest(abs.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s"$scratchRoot/${name}_$key"
  }

  private val fronts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The [[scratch]] path of a front that `build` writes at most once per
    * process; a `build` that throws runs again on the next call. A
    * `build` must not call `front` (one map holds every front). */
  def front(dataDir: String, name: String)(build: String => Unit): String =
    fronts.computeIfAbsent(scratch(dataDir, name), path => { build(path); path })

  /** Exact decimal-summed double: deterministic across engines AT ANY
    * MAGNITUDE the engine will see.
    * IMPORTANT: feed it decimal-arithmetic expressions built from
    * [[dec2]]-cast columns, not raw double products — casting a double
    * *product* to decimal can land exactly on a rounding tie (e.g. a
    * 6-dp triple product cast at 4 dp) where Spark (HALF_UP on the exact
    * binary expansion) and DuckDB disagree. Casting the 2-dp source
    * columns is tie-free, and decimal arithmetic after that is exact.
    *
    * The decimal→double conversion is SPLIT: integer part (floor, cast
    * through BIGINT — exact in both engines to 2^63) and fractional
    * part (6 decimals, exact in double) convert separately, then one
    * IEEE add — the identical two-operand expression in both engines,
    * so the result is bit-deterministic REGARDLESS of the sum's
    * magnitude. The naive single CAST(decimal AS DOUBLE) diverges by
    * 1 ulp once the unscaled value passes ~2^53 (DuckDB converts
    * int128/10^s, Java rounds the BigDecimal) — observed for real on
    * q_pricing_summary's sum_charge at the 10x relational probe
    * (6M lineitem rows, Σ ≈ 5.2e10 with scale 6), which is exactly the
    * magnitude a 100 TB aggregate lives at. NOT CAST(S AS BIGINT) for
    * the split: Spark truncates that cast while DuckDB rounds it —
    * FLOOR agrees in both. */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dsplit(sum(c.cast("decimal(24,6)")))

  /** The split conversion applied to an already-DECIMAL expression —
    * for staged sums (e.g. the salted two-phase aggregation) whose
    * final SUM runs over decimal partials rather than a raw column.
    * Same bit-determinism argument as [[dsum]]. */
  def dsplit(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ip = floor(s).cast("long")
    ip.cast("double") + (s - ip).cast("double")
  }

  /** SQL twin of [[dsum]] — the identical split conversion. */
  def dsumSql(expr: String): String =
    dsplitSql(s"SUM(CAST($expr AS DECIMAL(24,6)))")

  /** SQL twin of [[dsplit]]. */
  def dsplitSql(s: String): String =
    s"(CAST(CAST(FLOOR($s) AS BIGINT) AS DOUBLE) + CAST($s - CAST(FLOOR($s) AS BIGINT) AS DOUBLE))"

  /** Cast a 2-decimal source column to exact decimal. */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(12,2)")

  def dec2Sql(expr: String): String = s"CAST($expr AS DECIMAL(12,2))"

  /** Discounted revenue as exact decimal arithmetic. */
  def revenue: org.apache.spark.sql.Column =
    dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))

  val revenueSql: String =
    s"${dec2Sql("l_extendedprice")} * (1 - ${dec2Sql("l_discount")})"

  /** Events reader, robust to the parquet timestamp physical type the
    * generator used. TIMESTAMP(MICROS) (current testdata) reads
    * natively; TIMESTAMP(NANOS) (earlier testdata generations) makes
    * Spark's schema inference throw, in which case fall back to a
    * forced LONG-nanos schema and convert. The oracle twin is
    * [[eventsCte]] (DuckDB reads either and truncates via CAST). */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    try {
      val native = graft.sources.Parquet.read(s, path) // the footer conversion throws on NANOS
      native.schema("ts").dataType match {
        case TimestampType => native
        // parquet MICROS without isAdjustedToUTC infers as NTZ; every
        // entry point pins the session timezone to UTC, so the cast
        // re-labels the same instant (no value shift)
        case TimestampNTZType => native.withColumn("ts", col("ts").cast(TimestampType))
        case other => sys.error(s"unexpected ts type $other")
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        s.read.schema(schema).parquet(path)
          // integer division: epoch-ns exceeds double's 2^53 mantissa, so
          // floor(ns / 1000.0) would be off by ±1 us
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  val eventsCte: String =
    """evts AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |                event_type, value, props FROM events)""".stripMargin

  // ---------------------------------------------------------------------
  // Pixel bands derived from lineitem. Band A = summed quantity
  // (integral); band B = row count (integral). 4x4 tile grid, 16x16
  // tiles, partial coverage (py from l_linenumber <= 7) so NoData paths
  // are exercised.
  // ---------------------------------------------------------------------

  private def pixelKeys(df: DataFrame): DataFrame =
    df.groupBy(
      (col("l_orderkey") % 4).cast("int").as("tile_col"),
      (col("l_suppkey") % 4).cast("int").as("tile_row"),
      (col("l_partkey") % TS).cast("int").as("px"),
      (col("l_linenumber") % TS).cast("int").as("py"))
      .agg(
        sum(col("l_quantity")).cast("double").as("va"),
        count(lit(1)).cast("double").as("vb"))

  def pixelsA(s: SparkSession, dir: String): DataFrame =
    pixelKeys(table(s, dir, "lineitem")).select(col("tile_col"), col("tile_row"), col("px"), col("py"), col("va").as("v"))

  def pixelsB(s: SparkSession, dir: String): DataFrame =
    pixelKeys(table(s, dir, "lineitem")).select(col("tile_col"), col("tile_row"), col("px"), col("py"), col("vb").as("v"))

  /** Oracle CTEs: pxa/pxb (tile-local) and pga/pgb (global pixel coords). */
  val pxCte: String =
    s"""pxk AS (
       |  SELECT CAST(l_orderkey % 4 AS INT) AS tile_col,
       |         CAST(l_suppkey % 4 AS INT) AS tile_row,
       |         CAST(l_partkey % $TS AS INT) AS px,
       |         CAST(l_linenumber % $TS AS INT) AS py,
       |         CAST(SUM(l_quantity) AS DOUBLE) AS va,
       |         CAST(COUNT(*) AS DOUBLE) AS vb
       |  FROM lineitem GROUP BY 1, 2, 3, 4),
       |pxa AS (SELECT tile_col, tile_row, px, py, va AS v FROM pxk),
       |pxb AS (SELECT tile_col, tile_row, px, py, vb AS v FROM pxk),
       |pga AS (SELECT tile_col * $TS + px AS gx, tile_row * $TS + py AS gy, v FROM pxa),
       |pgb AS (SELECT tile_col * $TS + px AS gx, tile_row * $TS + py AS gy, v FROM pxb)""".stripMargin

  /** Assembled tile layers of the two bands. */
  def tilesA(s: SparkSession, dir: String): DataFrame =
    graft.ops.Raster.assemble(pixelsA(s, dir), TS, TS)

  def tilesB(s: SparkSession, dir: String): DataFrame =
    graft.ops.Raster.assemble(pixelsB(s, dir), TS, TS)

  /** Both bands from ONE lineitem scan and ONE aggregation: `a` holds
    * tilesA's cells, `b` tilesB's, per tile key. */
  def tilesAB(s: SparkSession, dir: String): DataFrame = {
    val asm = graft.ops.Raster.assembler(TS, TS)
    pixelKeys(table(s, dir, "lineitem")).groupBy(col("tile_col"), col("tile_row"))
      .agg(asm(col("px"), col("py"), col("va")).as("a"), asm(col("px"), col("py"), col("vb")).as("b"))
  }

  /** Rect features for rasterize, derived from `part`: deterministic
    * overlapping boxes in a 64x48 global pixel field. */
  def rectFeatures(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(
      col("p_partkey").as("fid"),
      (col("p_partkey") % 40).as("x0"),
      (col("p_size") % 30).cast("long").as("y0"),
      (col("p_partkey") % 40 + col("p_partkey") % 7 + 1).as("x1"),
      (col("p_size") % 30 + col("p_size") % 5 + 1).cast("long").as("y1"),
      (col("p_retailprice")).as("value"))

  val rectCte: String =
    """rects AS (
      |  SELECT p_partkey AS fid,
      |         p_partkey % 40 AS x0,
      |         CAST(p_size % 30 AS BIGINT) AS y0,
      |         p_partkey % 40 + p_partkey % 7 + 1 AS x1,
      |         CAST(p_size % 30 + p_size % 5 + 1 AS BIGINT) AS y1,
      |         p_retailprice AS value
      |  FROM part)""".stripMargin
}

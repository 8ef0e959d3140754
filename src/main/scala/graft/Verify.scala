package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: run only the named queries (local iteration;
    // the driver always passes exactly two)
    val queries = Launch.queries(args.drop(2).toSeq)
    val spark = Launch.session("Verify")
    new java.io.File(outDir).mkdirs()
    Launch.forEach("verify", queries) { (name, fn) =>
      // Deterministic row order (sorted by all columns, by name) so the
      // compare is stable however the driver hashes.
      val df = fn(spark, sfDir)
      val ordered = df.orderBy(df.columns.sorted.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      ordered.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      // Exact Catalyst result types beside the parquet: a driver-side
      // hash mismatch can then be diffed on TYPE vs VALUE without
      // guessing (round-7 lesson: DuckDB HUGEINT vs Spark BIGINT was
      // invisible in pandas-coerced value compares).
      // MUST be underscore-prefixed: pyarrow/pandas directory reads fail
      // on any non-`_`-prefixed foreign file in a parquet dir (this
      // exact sidecar, unprefixed, zeroed the round-8 driver artifact).
      Files.writeString(Paths.get(s"$outDir/$name/_schema.json"),
        df.schema.fields.sortBy(_.name)
          .map(f => s"""\"${f.name}\": \"${f.dataType.sql}\"""")
          .mkString("{", ", ", "}"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

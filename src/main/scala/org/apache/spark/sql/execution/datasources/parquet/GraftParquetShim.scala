package org.apache.spark.sql.execution.datasources.parquet

/** Bridge into Spark's parquet-private footer-to-schema conversion (the
  * `GraftSqlShim` pattern), for [[graft.sources.Parquet.read]]. */
object GraftParquetShim {
  def readSchema(footer: org.apache.parquet.hadoop.Footer, spark: org.apache.spark.sql.SparkSession) =
    ParquetFileFormat.readSchema(Seq(footer), spark)
}

package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.StringType

object Parquet {

  /** The engine's one schema-less parquet read: `spark.read.parquet(path)`
    * without the job Spark runs to read a footer for the schema. The first
    * data file's footer is read on the driver and converted by Spark's own
    * inference, so the schema is the inferring read's (nullable, `key=value`
    * dir columns such as `time` last). A dir column named in `strings` is
    * typed as the string in its dir names instead of Spark's guess, which
    * would read `2024-01-15` as a DATE and `01` as the INT 1. A path with
    * no data file goes to the inferring read, which raises Spark's error. */
  def read(spark: SparkSession, path: String, strings: Set[String] = Set.empty): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    Option.when(fs.exists(root))(fs.getFileStatus(root)).flatMap(firstDataFile(fs, _, Nil)).flatMap { case (f, keys) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val footer = try reader.getFooter finally reader.close()
      GraftParquetShim.readSchema(new Footer(f.getPath, footer), spark)
        .map(s => keys.filter(strings).foldLeft(s)(_.add(_, StringType)))
    }.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  /** Depth-first, by name, skipping what Spark's file index skips:
    * `_`/`.` names (sidecars, `_SUCCESS`, checksums) but not `_k=v` dirs.
    * Returns the file with the keys of the `key=value` dirs above it. */
  private def firstDataFile(fs: FileSystem, f: FileStatus, keys: List[String]): Option[(FileStatus, List[String])] =
    if (!f.isDirectory) Some(f -> keys)
    else fs.listStatus(f.getPath).map(s => s -> s.getPath.getName).filterNot { case (_, n) =>
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }.sortBy(_._2).iterator.flatMap { case (s, n) =>
      firstDataFile(fs, s, if (s.isDirectory && n.contains("=")) keys :+ n.takeWhile(_ != '=') else keys)
    }.nextOption()
}

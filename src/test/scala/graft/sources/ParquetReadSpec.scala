package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.{jobsIn, spark}

/** [[Parquet.read]] is `spark.read.parquet` without the footer job:
  * for every kind of dir the engine reads — the suite tables, catalog
  * versions of each layout, a query front — its schema equals the
  * inferring read's, and resolving it runs no Spark job. */
class ParquetReadSpec extends AnyFunSuite {
  import spark.implicits._

  /** The seam's frame for `path`, asserting 0 jobs and Spark's schema. */
  private def assertSeam(path: String): DataFrame = {
    var df: DataFrame = null
    val jobs = jobsIn(s"seam ${Paths.get(path).getFileName}") { df = Parquet.read(spark, path) }
    assert(jobs == 0, s"$path: the seam ran $jobs jobs")
    assert(df.schema == spark.read.parquet(path).schema, path)
    df
  }

  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  for (sf <- Seq("sf0.001", "sf0.01")) test(s"every suite table at $sf: Spark's schema, no job") {
    val dir = s"/root/testdata/$sf"
    assume(Files.isDirectory(Paths.get(dir)), s"$dir is absent")
    for (t <- tables) {
      val path = s"$dir/$t.parquet"
      assume(Files.exists(Paths.get(path)), s"$path is absent")
      assertSeam(path)
    }
    // the events reader goes through the seam too
    assert(jobsIn(s"events $sf")(graft.queries.Fixtures.events(spark, dir)) == 0)
  }

  test("catalog versions of a spatial, a space-time and a multiband layer") {
    val ts = 4
    val store = new graft.catalog.LayerStore(spark, Files.createTempDirectory("graft_seam").toString)
    def tiles(vOff: Double) = graft.ops.Raster.assemble(
      (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until ts; py <- 0 until ts)
        yield (tc, tr, px, py, vOff + px + py)).toDF("tile_col", "tile_row", "px", "py", "v"), ts, ts)
    store.write(tiles(0), "sp", 1, tileSize = ts)
    store.write(tiles(1).withColumn("time", lit("2024-01"))
      .unionByName(tiles(2).withColumn("time", lit("2024-02"))), "st", 1, tileSize = ts)
    store.write(graft.ops.Raster.zipBands(graft.ops.Raster.stackBands(Seq(tiles(0), tiles(5))), 2),
      "mb", 1, tileSize = ts)
    def version(name: String) = s"${store.root}/tiles/layer_name=$name/zoom=1/${store.currentVersion(name, 1).get}"
    assertSeam(version("sp"))
    // partition discovery appends the `time` dir column last, as a string
    val st = assertSeam(version("st")).schema
    assert(st.last.name == "time" && st.last.dataType == org.apache.spark.sql.types.StringType)
    assert(assertSeam(version("mb")).columns.contains("bands"))
  }

  test("a query front and a Spark-written partitioned dir with non-nullable fields") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.isDirectory(Paths.get(dir)), s"$dir is absent")
    graft.queries.TextQueries.shinglePairsFront(spark, dir)
    val front = graft.queries.Fixtures.front(dir, "pairfront")(_ => fail("the front is built"))
    assertSeam(front)
    val parted = Files.createTempDirectory("graft_seam_parted").resolve("t").toString
    spark.range(20).select(col("id"), (col("id") % 3).as("k"), lit("x").as("s"))
      .write.partitionBy("k").parquet(parted)
    val schema = assertSeam(parted).schema
    assert(schema.fieldNames.toSeq == Seq("id", "s", "k") && schema.forall(_.nullable))
  }

  test("a missing path fails as Spark's read does") {
    val missing = Files.createTempDirectory("graft_seam_missing").resolve("none").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Parquet.read(spark, missing))
    assert(e.getMessage.contains("PATH_NOT_FOUND") || e.getMessage.contains("does not exist"), e.getMessage)
  }
}

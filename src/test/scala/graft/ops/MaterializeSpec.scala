package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** The checkpoint seam: the frame `checkpointFresh` returns is one leaf
  * over the checkpoint's own cached rows, with the session-default
  * size estimate, and it is the handle that frees those rows. */
class MaterializeSpec extends AnyFunSuite {

  private def resident(f: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(Materialize.blocks(f).id)

  test("the size estimate stays the session default over 12 self-join rounds") {
    // pointer doubling: 64 rows per round, each joined with itself; an
    // inherited estimate would square every round
    var f = Materialize.checkpointFresh(spark.range(0, 64).select(col("id").as("k"),
      when(col("id") > 0, col("id").divide(2).cast("long")).otherwise(col("id")).as("j")))
    for (_ <- 1 to 12) {
      val next = Materialize.checkpointFresh(f.as("a")
        .join(f.select(col("k").as("j"), col("j").as("jj")), Seq("j"))
        .select(col("k"), col("jj").as("j")))
      Materialize.free(f)
      f = next
    }
    val default = BigInt(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.defaultSizeInBytes")))
    assert(f.queryExecution.optimizedPlan.stats.sizeInBytes == default)
    assert(f.count() == 64 && f.where(col("j") =!= 0).isEmpty)
    Materialize.free(f)
  }

  test("the leaf is the checkpointed RDD itself, scanned with no conversion above it") {
    val f = Materialize.checkpointFresh(spark.range(0, 100, 1, 3).toDF("x"))
    val leaves = f.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(leaves.size == 1)
    val rdd = leaves.head
    assert(rdd eq Materialize.blocks(f))
    assert(rdd.isCheckpointed)
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id),
      "the leaf RDD must be the one holding the cached blocks")
    assert(f.queryExecution.executedPlan.collect { case s: RDDScanExec => s.rdd }
      .forall(_ eq rdd))
    assert(f.agg(sum(col("x"))).first().getLong(0) == 4950L)
    Materialize.free(f)
  }

  test("arrays with NaN, nulls and nested structs read back bit for bit") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cells", ArrayType(DoubleType, containsNull = true)),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType),
        StructField("tags", ArrayType(StringType)),
        StructField("inner", StructType(Seq(StructField("d", DoubleType)))))))))
    val rows = Seq(
      Row(1L, Seq(Double.NaN, -0.0, 0.0, null, Double.MinPositiveValue,
        Double.PositiveInfinity, Double.NegativeInfinity, 1.0 / 3),
        Row(7, Seq("x", null), Row(Double.NaN))),
      Row(2L, null, Row(null, null, null)),
      Row(3L, Seq.empty[Double], null),
      Row(4L, Seq[Any](null, null), Row(-1, Seq.empty[String], Row(-0.0))))
    val src = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2)
    val f = Materialize.checkpointFresh(src)
    assert(f.schema == src.schema)
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: Row => r.toSeq.map(bits)
      case s: scala.collection.Seq[_] => s.map(bits)
      case other => other
    }
    def read(df: DataFrame) = df.collect().sortBy(_.getLong(0)).map(bits).toSeq
    assert(read(f) == read(src))
    assert(read(f) == rows.map(bits))
    Materialize.free(f)
  }

  test("free drops exactly that frame's blocks and rejects a derived frame") {
    val a = Materialize.checkpointFresh(spark.range(0, 10).toDF("x"))
    val b = Materialize.checkpointFresh(spark.range(0, 20).toDF("y"))
    assert(resident(a) && resident(b))
    intercept[IllegalArgumentException](Materialize.free(a.select(col("x") + 1)))
    // the whole call is rejected before anything is freed
    intercept[IllegalArgumentException](Materialize.free(b, a.where(col("x") > 3)))
    intercept[IllegalArgumentException](Materialize.free(spark.range(3).toDF()))
    assert(resident(a) && resident(b))
    Materialize.free(a)
    assert(!resident(a) && resident(b))
    assert(b.count() == 20)
    Materialize.free(b)
    assert(!resident(b))
  }
}

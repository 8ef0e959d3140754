package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Launch.session("EntrySmoke", cpus = 4, logLevel = "ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, false)
    spark.stop()
  }
}

package graft

/** Tier-1 timing sweep: every registered query's `count()` at
  * `SPARK_GRAFT_SF_DIR`, one JSON report. A query that throws is left
  * out of the times and the total and listed under `"failed"`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Launch.session("Bench")
    Launch.warmUp("bench", spark, sfDir)
    // deterministic name order: JVM warm-up distributes the same way
    // every run, so per-query times are comparable across rounds
    val times = Seq.newBuilder[(String, Double)]
    val failed = Launch.forEach("bench", Launch.queries()) { (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      times += name -> (System.nanoTime() - t0) / 1e9
    }
    val lines = report(sfDir, Launch.cpus, times.result(), failed)
    lines.init.foreach(println)
    // one file per core count, so the 8-core run keeps the 32-core record
    val file = if (Launch.cpus == 32) "bench_latest.json" else s"bench_latest_c${Launch.cpus}.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(file), lines.head + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] writing $file failed: ${e.getMessage}") }
    spark.stop()
    // LAST line on purpose: spark.stop() above flushes its own log
    // noise to stderr before this prints, and nothing else follows.
    println(lines.last)
  }

  /** The report lines: the full headline first, then the per-query
    * times in chunks of under 2 KB, then a short (<1 KB) self-contained
    * summary that a driver keeping only the last line of stdout can
    * parse (the single ~10 KB headline overran its tail capture). */
  def report(sfDir: String, cpus: Int, times: Seq[(String, Double)],
             failed: Seq[String]): Seq[String] = {
    def obj(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val names = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val headline = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(times)},""" +
      s""""failed":$names,"sf":"$sfDir"}"""
    val chunks = times.foldLeft(List(List.empty[(String, Double)])) {
      case (acc @ cur :: rest, kv) =>
        val line = cur :+ kv
        if (line.map(_._1.length + 24).sum > 1800) List(kv) :: acc else line :: rest
      case (Nil, kv) => List(List(kv))
    }.reverse.filter(_.nonEmpty)
    val chunkLines = chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"chunk","i":$i,"of":${chunks.length},"queries":${obj(c)}}"""
    }
    val last = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
      s""""n_queries":${times.length},"n_failed":${failed.length}}"""
    (headline +: chunkLines) :+ last
  }
}

package graft

/** Physical-plan snapshots for cross-round regression diffs: one
  * normalized `plans/<query>.txt` per SparkEntry query (expression IDs,
  * plan IDs and paths stripped, so `git diff` shows only structural
  * changes — a new Exchange, a lost PushedFilters, a narrowed
  * WholeStageCodegen span). Run: `sbt "runMain graft.PlanDump [sfDir]"`.
  * The `plans/` dir is committed; each round's diff is the plan story. */
object PlanDump {
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+[L]?", "#N") // expression ids
      .replaceAll("codegen id : \\d+", "codegen id : N") // stage numbering drifts with session job order
      .replaceAll("@[0-9a-f]+\\b", "@obj") // JVM identity hashes (udaf instances)
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]") // session-scoped RDD ids
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$N") // JIT lambda class names
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_N") // session-global HOF var counters
      .replaceAll("\\.scala:\\d+", ".scala:N") // callsite line numbers
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("Location: [^\\n]*", "Location: <path>")
      .replaceAll("file:[^\\s,\\]\\)]*", "<file>")
      .replaceAll("graft_[a-z_]*\\d+[^\\s,\\]\\)]*", "<tmp>")
      .replaceAll("(?m) +$", "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries = Launch.queries(args.drop(1).toSeq) // optional query-name filter
    val spark = Launch.session("PlanDump", cpus = 8, logLevel = "ERROR")
    val outDir = java.nio.file.Paths.get("plans")
    java.nio.file.Files.createDirectories(outDir)
    Launch.forEach("plandump", queries) { (name, fn) =>
      // capture the pre-materialization plans of the eager two-phase
      // gates (graft.ops.Ranking records its INPUT plan per call):
      // their final snapshot is a Scan ExistingRDD stub, so without
      // these the upstream aggregation shape would be invisible to
      // the cross-round plan diff
      val buf = scala.collection.mutable.Buffer.empty[(String, String)]
      graft.ops.Ranking.captureTo.set(buf)
      val df = try fn(spark, sfDir) finally graft.ops.Ranking.captureTo.remove()
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
      buf.toSeq.zipWithIndex.foreach { case ((stage, p), i) =>
        java.nio.file.Files.write(outDir.resolve(s"${name}__pre${i + 1}_$stage.txt"),
          normalize(p).getBytes("UTF-8"))
      }
    }
    println(s"PLANDUMP_DONE ${SparkEntry.queries.size}")
    spark.stop()
  }
}

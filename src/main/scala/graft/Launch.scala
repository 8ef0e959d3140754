package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every `main` shares, the analog of the reference's one context
  * helper (`Utils.scala:52-64`): the session, the app lifecycle, and the
  * query selection with its failure policy. Each `main` keeps only its
  * own action. */
object Launch {
  type Query = (SparkSession, String) => DataFrame

  /** Default parallelism of every `main`: `SPARK_GRAFT_CPUS`, else 32. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session builder: `local[cpus]` unless `master` is given,
    * shuffle partitions = cpus, AQE on, UTC, no UI. */
  def session(app: String, cpus: Int = Launch.cpus, logLevel: String = "WARN",
              master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** A job with the reference's CLI shape. Its inherited `main` opens a
    * session named after the object on `SPARK_MASTER` (else every local
    * core), runs the job and stops the session. */
  trait Job {
    def run(spark: SparkSession, args: Array[String]): Unit

    def main(args: Array[String]): Unit = {
      val spark = session(getClass.getSimpleName.stripSuffix("$"),
        master = Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      try run(spark, args) finally spark.stop()
    }
  }

  /** The registered queries sorted by name: all of them, or only those
    * in `names`. An unknown name throws, naming it. */
  def queries(names: Seq[String] = Nil): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val wanted = names.toSet
    all.toSeq.filter(kv => wanted.isEmpty || wanted(kv._1)).sortBy(_._1)
  }

  /** Runs `body` on each query in turn. A query that throws is reported
    * on stderr as `[<main>] <name> failed: <message>` and the loop goes
    * on with the next one. Returns the names that failed. */
  def forEach(main: String, qs: Seq[(String, Query)])(body: (String, Query) => Unit): Seq[String] =
    qs.flatMap { case (name, fn) =>
      try { body(name, fn); None }
      catch { case e: Throwable =>
        System.err.println(s"[$main] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  /** Runs the first query once, so the first timed query does not pay
    * for the JVM, codegen and parquet-reader warm-up. */
  def warmUp(main: String, spark: SparkSession, sfDir: String): Unit =
    forEach(main, queries().take(1))((_, fn) => fn(spark, sfDir).count(): Unit): Unit
}

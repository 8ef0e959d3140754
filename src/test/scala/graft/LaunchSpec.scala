package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** The launcher every `main` goes through: query selection, the loop
  * that reports and skips a failing query, Bench's report of it, and
  * Prof's split of builder and action jobs. Runs on the shared session
  * and never calls a `main`, because each `main` stops its session. */
class LaunchSpec extends AnyFunSuite {

  test("queries: sorted by name, filtered by name, an unknown name throws naming it") {
    val all = Launch.queries().map(_._1)
    assert(all.size == SparkEntry.queries.size)
    assert(all == all.sorted)
    assert(Launch.queries(Seq("t_containment", "q_pricing_summary")).map(_._1) ==
      Seq("q_pricing_summary", "t_containment"))
    val e = intercept[IllegalArgumentException](
      Launch.queries(Seq("q_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q_pricing_summary"))
  }

  test("forEach reports a throwing query as failed and goes on with the next one") {
    val ok: Launch.Query = (s, _) => s.range(1).toDF()
    val boom: Launch.Query = (_, _) => throw new IllegalStateException("kaboom")
    val ran = Seq.newBuilder[String]
    spark.version // the shared session logs its start-up to stderr
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val failed =
      try Launch.forEach("spec", Seq("a" -> ok, "b" -> boom, "c" -> ok)) { (name, fn) =>
        fn(spark, "").count()
        ran += name
      } finally System.setErr(saved)
    assert(failed == Seq("b"))
    assert(ran.result() == Seq("a", "c"))
    assert(err.toString.linesIterator.toSeq.contains("[spec] b failed: kaboom"))
  }

  test("Bench's report leaves a failed query out of the times and the total") {
    val lines = Bench.report("sfX", 8, Seq("a" -> 1.5, "c" -> 2.0), Seq("b"))
    val head = lines.head
    assert(head.startsWith("""{"metric":"total","value":3.5,"""))
    assert(head.contains(""""queries":{"a":1.5,"c":2.0}"""))
    assert(head.contains(""""failed":["b"]"""))
    assert(lines(1) == """{"metric":"chunk","i":0,"of":1,"queries":{"a":1.5,"c":2.0}}""")
    assert(lines.last ==
      """{"metric":"total","value":3.5,"unit":"sec","sf":"sfX","cpus":8,"n_queries":2,"n_failed":1}""")
    val clean = Bench.report("sfX", 8, Seq("a" -> 1.5), Nil)
    assert(clean.head.contains(""""failed":[]""") && clean.last.endsWith(""""n_failed":0}"""))
  }

  test("Prof splits builder (eager) jobs from action jobs") {
    val lazyQ: Launch.Query = (s, _) => s.range(100).toDF()
    val eagerQ: Launch.Query = (s, _) => { s.range(100).count(); s.range(100).toDF() }
    val l = Prof.measure(spark, "", lazyQ)
    val e = Prof.measure(spark, "", eagerQ)
    assert(l.builderJobs == 0 && l.actionJobs > 0, l)
    assert(e.builderJobs > 0 && e.actionJobs == l.actionJobs, e)
    assert(l.wallMs == l.buildMs + l.actionMs)

    // registered queries at sf0.001: a parquet read runs no builder job
    // (its schema comes from a footer read on the driver); the
    // connected-components gate counts and collects its edges before it
    // returns the frame
    val Seq(pricing, dedup) = Launch.queries(Seq("t_dedup_clusters", "q_pricing_summary")) // sorted
      .map { case (_, fn) => Prof.measure(spark, "/root/testdata/sf0.001", fn) }
    assert(pricing.builderJobs == 0, pricing.jobs.map(_.desc))
    assert(dedup.builderJobs > 0, dedup.jobs.map(_.desc))
    assert(pricing.actionJobs > 0 && dedup.actionJobs > 0)
  }
}

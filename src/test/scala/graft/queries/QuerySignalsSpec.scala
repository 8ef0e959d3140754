package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Exact-value and invariant checks for the round-5 quality-signal
  * queries, beyond their DuckDB hash gates: crafted corpora with
  * hand-computed answers for the repetition and chunk-dedup signals,
  * structural invariants (error bounds, completeness) for the
  * quantization census and the centroid classifier.
  */
class QuerySignalsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Write a crafted `documents` table into a temp dir shaped like a
    * testdata sf dir, so the registry queries run on it unchanged. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetition: hand-computed degenerate vs varied doc") {
    // doc 0: "a b a b a b" -> bigrams [a b, b a, a b, b a, a b]: top 3/5
    //        trigrams [a b a, b a b, a b a, b a b]: all repeated -> 1.0
    // doc 1: all-distinct grams -> top bigram 1/4, dup trigrams 0.0
    val dir = docsDir(Seq(0L -> "a b a b a b", 1L -> "v w x y z"))
    val out = TextQueries.repetition(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(0L) == ((3.0 / 5.0, 1.0)))
    assert(out(1L) == ((1.0 / 4.0, 0.0)))
  }

  test("chunk dedup: a shared 16-token window is flagged in both docs") {
    val shared = (1 to 16).map(i => s"s$i").mkString(" ")
    val u1 = (1 to 16).map(i => s"p$i").mkString(" ")
    val u2 = (1 to 16).map(i => s"q$i").mkString(" ")
    // both docs: [shared chunk, unique chunk] -> 2 chunks, 1 shared
    val dir = docsDir(Seq(0L -> s"$shared $u1", 1L -> s"$shared $u2"))
    val out = TextQueries.chunkDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((2L, 1L, 0.5)) && out(1L) == ((2L, 1L, 0.5)))
  }

  test("lm score: hand-computed bigram logprobs; short docs keep 0.0") {
    // model over the whole corpus: c(a,b)=2, c(b,a)=1, c(a,c)=1
    //                              ctx: a->3, b->1
    // doc0 "a b":      1 bigram,  ln(2/3)           -> -0.405465
    // doc1 "a b a c":  3 bigrams, ln(2/3)+ln(1)+ln(1/3) -> -1.504077
    // doc2 "x", doc3 "": no bigrams, retained at 0.0 (outer-join rule)
    val dir = docsDir(Seq(0L -> "a b", 1L -> "a b a c", 2L -> "x", 3L -> ""))
    val out = TextQueries.lmScore(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.size == 4) // nothing dropped
    assert(out(0L) == ((1L, -0.405465)))
    assert(out(1L) == ((3L, -1.504077))) // exact decimal sum, then one cast
    assert(out(2L) == ((0L, 0.0)) && out(3L) == ((0L, 0.0)))
  }

  test("redact masks whole words only and counts every replacement") {
    val dir = docsDir(Seq(0L -> "customer parts part x partner customer"))
    val r = TextQueries.redact(spark, dir).head()
    val expected = "[PII] parts [PII] x partner [PII]"
    assert(r.getInt(1) == 3) // 'parts'/'partner' survive the \b fence
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(2) == md5)
    assert(r.getInt(3) == expected.length)
  }

  test("weighted sample: top-5 per source matches the brute-force E-S ranking") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    val rows = (0L until 60L).map(i =>
      (i, "t", s"src${i % 3}", 20L + (i * 37) % 400)) // 3 strata, spread weights
    rows.toDF("doc_id", "text", "source", "n_chars").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextQueries.weightedSample(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    // brute-force: same hash + formula on the driver
    def h60(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)
    val want = rows.groupBy(_._3).flatMap { case (src, rs) =>
      rs.map { case (id, _, _, w) =>
        (src, id, StrictMath.log((h60(id) + 1).toDouble / 1.152921504606846976e18) / w)
      }.sortBy { case (_, id, p) => (-p, id) }.take(5).zipWithIndex
        .map { case ((s, id, _), i) => (s, id, i + 1) }
    }.toSet
    assert(got.length == 15 && got.toSet == want)
  }

  private val Sf = "/root/testdata/sf0.001"

  test("quantize census: per-element error bound and guaranteed saturation") {
    val rows = SimQueries.quantizeErr(spark, Sf)
      .select($"amax", $"mean_abs_err", $"n_sat").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (amax, err, sat) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
      // |x - recon| <= scale/2 per element with scale = amax/127
      assert(err <= amax / 254.0 + 1e-12, s"err $err exceeds bound for amax $amax")
      // the element attaining amax quantizes to exactly +-127
      assert(sat >= 1)
    }
  }

  test("gap fill: contiguous per-group calendar, LOCF on gap days, observed days exact") {
    val sf = "/root/testdata/sf0.001"
    val out = AdvancedQueries.gapFill(spark, sf)
      .select($"prio", $"d".cast("string"), $"rev", $"is_gap").collect()
      .map(r => (r.getString(0), java.time.LocalDate.parse(r.getString(1)), r.getDouble(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_orderpriority", $"o_orderdate".cast("date").cast("string"))
      .agg(Fixtures.dsum(Fixtures.dec2($"o_totalprice")).as("rev")).collect()
      .map(r => (r.getString(0), java.time.LocalDate.parse(r.getString(1))) -> r.getDouble(2)).toMap
    out.groupBy(_._1).foreach { case (prio, rows) =>
      val seq = rows.sortBy(_._2)
      // calendar is contiguous from the group's first observed day
      seq.sliding(2).foreach { case Array(a, b) => assert(b._2 == a._2.plusDays(1)); case _ => }
      // first day is observed (LOCF never reads before the span)
      assert(!seq.head._4)
      var carry = Double.NaN
      seq.foreach { case (_, d, rev, isGap) =>
        if (isGap) {
          assert(!daily.contains((prio, d)))
          assert(rev == carry, s"gap day $d must carry the last observation")
        } else {
          assert(rev == daily((prio, d)), s"observed day $d must keep its own revenue")
          carry = rev
        }
      }
    }
  }

  test("mixture sample: integer thresholds, keeps respect the hash rule, min source keeps most") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.mixtureSample(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy($"source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == counts.keySet) // every domain represented, kept or not
    val nMin = counts.values.min
    out.foreach { case (src, (nDocs, thresh, nKept)) =>
      assert(nDocs == counts(src))
      assert(thresh == nMin * 1048576L / nDocs) // pure integer arithmetic
      assert(nKept <= nDocs)
    }
    // the smallest domain's threshold is exactly 2^20: it keeps everything
    val (minSrc, _) = counts.minBy(_._2)
    assert(out(minSrc)._2 == 1048576L && out(minSrc)._3 == counts(minSrc))
  }

  test("dedup keeper: exactly one keeper per cluster and it has the longest text") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextQueries.dedupKeeper(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val nChars = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == nChars.size) // complete partition of the corpus
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val keepers = members.filter(_._3)
      assert(keepers.length == 1, s"cluster $cluster has ${keepers.length} keepers")
      val maxLen = members.map(m => nChars(m._1)).max
      assert(nChars(keepers.head._1) == maxLen)
      assert(members.map(_._1).min == cluster) // label = min doc_id of the component
    }
  }

  test("random projection: one row recomputed by hand from the seeded sign matrix") {
    val sf = "/root/testdata/sf0.001"
    val row = SimQueries.randomProj(spark, sf).where($"vec_id" === 7L).collect()(0)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .where($"vec_id" === 7L).select($"embedding").as[Seq[Float]].collect()(0)
    for (m <- 0 until 16) {
      var acc = 0.0
      for (j <- 0 until 64) {
        val sign = if (graft.text.TextOps.hash60(s"rp:$m,$j") % 2 == 0) 1.0 else -1.0
        acc += emb(j).toDouble * sign
      }
      assert(row.getDouble(1 + m) == acc, s"dim $m")
    }
  }

  test("hist quantile: three monotone estimates inside the data range") {
    val sf = "/root/testdata/sf0.001"
    val out = AdvancedQueries.histQuantile(spark, sf)
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(0.5, 0.9, 0.99))
    val mnmx = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(org.apache.spark.sql.functions.min($"l_extendedprice").cast("double"),
        org.apache.spark.sql.functions.max($"l_extendedprice").cast("double")).collect()(0)
    assert(out(0.5) <= out(0.9) && out(0.9) <= out(0.99))
    assert(out(0.5) >= mnmx.getDouble(0) && out(0.99) <= mnmx.getDouble(1))
  }

  test("funnel: per-user stages match a brute-force event replay") {
    val sf = "/root/testdata/sf0.001"
    val out = RelationalQueries.funnel(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4)))).toMap
    val evts = Fixtures.events(spark, sf)
      .select($"user_id", $"event_type", org.apache.spark.sql.functions.unix_micros($"ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    evts.groupBy(_._1).foreach { case (user, rows) =>
      val t1 = rows.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(t => rows.filter(r => r._2 == "click" && r._3 > t).map(_._3).minOption)
      val t3 = t2.flatMap(t => rows.filter(r => r._2 == "purchase" && r._3 > t).map(_._3).minOption)
      val stage = if (t3.isDefined) 3 else if (t2.isDefined) 2 else if (t1.isDefined) 1 else 0
      assert(out(user) == ((t1, t2, t3, stage)), s"user $user")
    }
  }

  test("anomaly: rolling stats recomputed brute-force for every flagged row of one user") {
    val sf = "/root/testdata/sf0.001"
    val rows = AdvancedQueries.anomaly(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(rows.nonEmpty)
    val user = Fixtures.events(spark, sf).select($"user_id").limit(1).as[Long].collect()(0)
    val evts = Fixtures.events(spark, sf).where($"user_id" === user)
      .select($"event_id", org.apache.spark.sql.functions.unix_micros($"ts"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._2, e._1))
    evts.zipWithIndex.foreach { case ((eid, _, v), i) =>
      val prev = evts.slice(math.max(0, i - 20), i).map(_._3)
      if (prev.length >= 5) {
        // exact via scaled-integer (decimal) sums, like the query
        val s1 = prev.map(x => math.round(x * 100)).sum
        val s2 = prev.map(x => math.round(x * 100)).map(c => c * c).sum
        val mean = (s1 / 100.0) / prev.length
        val varp = (s2 / 10000.0) / prev.length - mean * mean
        if (varp > 0) {
          val z = (v - mean) / math.sqrt(varp)
          val (gv, gm, gz, flag) = rows(eid)
          assert(gv == v && gm == mean && gz == z && flag == (math.abs(z) > 3), s"event $eid")
        } else assert(!rows.contains(eid))
      } else assert(!rows.contains(eid))
    }
  }

  test("prf report: internally consistent with the confusion matrix") {
    val sf = "/root/testdata/sf0.001"
    val conf = SimQueries.knnConfusion(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val prf = SimQueries.prfReport(spark, sf)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(prf.keySet == conf.keys.flatMap(k => Seq(k._1, k._2)).toSet)
    prf.foreach { case (cls, (tp, nPred, nTrue, prec, rec, f1)) =>
      assert(tp == conf.getOrElse((cls, cls), 0L))
      assert(nPred == conf.collect { case ((_, p), n) if p == cls => n }.sum)
      assert(nTrue == conf.collect { case ((t, _), n) if t == cls => n }.sum)
      if (nPred > 0) assert(prec == tp.toDouble / nPred)
      if (nTrue > 0) assert(rec == tp.toDouble / nTrue)
      if (prec + rec > 0) assert(f1 == 2.0 * prec * rec / (prec + rec)) else assert(f1 == 0.0)
    }
  }

  test("substring dedup catches a block-straddling shared span that chunk dedup misses") {
    // the 16-token span sits at offset 0 in doc 0 but offset 8 in doc 1:
    // stride-16 chunking never aligns a block on it in both docs, the
    // stride-1 sliding census flags it in both
    val span = (1 to 16).map(i => s"s$i").mkString(" ")
    val pre = (1 to 8).map(i => s"p$i").mkString(" ")
    val post = (1 to 8).map(i => s"q$i").mkString(" ")
    val dir = docsDir(Seq(0L -> s"$span $post", 1L -> s"$pre $span"))
    val chunk = TextQueries.chunkDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // n_shared
    assert(chunk(0L) == 0 && chunk(1L) == 0, "aligned chunking must miss the straddling span")
    val sub = TextQueries.substringDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sub(0L)._1 == 9 && sub(1L)._1 == 9) // 24 tokens -> 9 windows each
    assert(sub(0L)._2 == 1 && sub(1L)._2 == 1, "sliding census must flag the shared span once per doc")
  }

  test("CDC chunking re-synchronizes after an insertion; aligned chunking does not") {
    // doc 1 = doc 0 with ONE token prepended: every aligned 16-block
    // shifts (chunk dedup shares nothing), but content-defined
    // boundaries depend only on local windows, so chunks after the
    // first boundary are identical again
    val body = (1 to 200).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(0L -> body, 1L -> s"inserted $body"))
    val aligned = TextQueries.chunkDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // n_shared
    assert(aligned(0L) == 0 && aligned(1L) == 0)
    val cdc = TextQueries.cdcChunks(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(cdc(0L)._1 > 2, "fixture must produce several CDC chunks")
    assert(cdc(0L)._2 > 0 && cdc(1L)._2 > 0,
      s"CDC chunks must re-synchronize past the insertion: $cdc")
    // only the prefix chunk(s) before the first boundary can differ
    assert(cdc(0L)._1 - cdc(0L)._2 <= 2 && cdc(1L)._1 - cdc(1L)._2 <= 2)
  }

  test("band join plans as an EQUI join on the bin key, never a nested loop") {
    val plan = AdvancedQueries.bandJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must rewrite to a binned equi-join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("hierarchy: pointer doubling resolves a depth-10 chain like the recursive walk") {
    // keys 3^0..3^10 form one chain of depth 10 (deeper than any sf dir
    // provides); plus off-chain keys and the 0 root. The parent closure
    // is included so every pointer resolves.
    val seed = (0 to 10).map(j => math.pow(3, j).toLong) ++ Seq(7L, 25L, 0L)
    val closure = scala.collection.mutable.Set[Long]()
    def add(k: Long): Unit = if (closure.add(k) && k / 3 > 0) add(k / 3)
    seed.foreach(add)
    val dir = java.nio.file.Files.createTempDirectory("graft_hier").toString
    closure.toSeq.toDF("c_custkey").write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    val got = AdvancedQueries.hierarchy(spark, dir)
      .select($"c_custkey", $"root", $"depth".cast("long"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def walk(k: Long): (Long, Long) = {
      var cur = k; var d = 0L
      while (cur / 3 > 0) { cur = cur / 3; d += 1 }
      (cur, d)
    }
    assert(got.size == closure.size)
    closure.foreach(k => assert(got(k) == walk(k), s"key $k"))
    assert(got(59049L) == ((1L, 10L)))
  }

  test("hll and kmv distinct: a null return flag keeps its own row and exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    Seq[(Option[String], Long, Long)]((Some("A"), 1L, 10L), (Some("A"), 2L, 10L), (Some("A"), 2L, 11L),
      (None, 3L, 12L), (None, 3L, 12L), (Some("R"), 4L, 13L))
      .toDF("l_returnflag", "l_partkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val out = AdvancedQueries.hllDistinct(spark, dir).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map(Some("A") -> ((2L, 2L)), None -> ((1L, 1L)), Some("R") -> ((1L, 1L)))
    assert(out == want, out)
    val kmv = AdvancedQueries.kmvDistinct(spark, dir).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(3))).toMap
    assert(kmv == want, kmv)
  }

  test("auc: hand-computed tie-aware value on a crafted score/label table") {
    // scores (n_chars) with labels (lang): (1,neg) (1,pos) (2,neg) (3,pos) (3,pos)
    // U1 = 0.5 (tie at 1) + 2 + 2 = 4.5; AUC = 4.5 / (3*2) = 0.75
    val dir = java.nio.file.Files.createTempDirectory("graft_auc").toString
    Seq((0L, "x", "de", "s", 1L), (1L, "x", "en", "s", 1L), (2L, "x", "de", "s", 2L),
      (3L, "x", "en", "s", 3L), (4L, "x", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = MiscQueries.auc(spark, dir).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.75)
  }

  test("centroid classifier: complete partition of the test split over real classes") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val labels = e.select($"label".cast("long")).distinct().as[Long].collect().toSet
    val cm = SimQueries.centroidConfusion(spark, Sf)
      .select($"label".cast("long"), $"pred".cast("long"), $"n").collect()
    assert(cm.forall(r => labels.contains(r.getLong(0)) && labels.contains(r.getLong(1))))
    val nTest = e.where(graft.text.TextOps.hashBucket($"vec_id", 10) === 9).count()
    assert(cm.map(_.getLong(2)).sum == nTest, "every test row classified exactly once")
  }
}

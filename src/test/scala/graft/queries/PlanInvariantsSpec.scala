package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Plan discipline as an enforced invariant, not a reviewed artifact:
  * every registered gate query is planned against sf0.001 and checked
  * for the anti-patterns the plans/ snapshots are audited for by hand.
  * Catches the regression class where a join key type change or a lost
  * alias silently turns an equi-join into a cross product. */
class PlanInvariantsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    planObjs.map { case (k, p) => k -> p.toString }

  /** Pre-materialization plans captured by graft.ops.Ranking during the
    * builder calls: the eager two-phase gates materialize through
    * createDataFrame, so their FINAL plan is a Scan ExistingRDD stub —
    * these are the upstream plans that stub hides (What's-wrong #2 of
    * the round-10 audit). Keyed by gate, valued (stage, plan). */
  private val subPlans =
    scala.collection.mutable.Map.empty[String, Seq[(String, String)]]

  private lazy val planObjs: Map[String, org.apache.spark.sql.execution.SparkPlan] = {
    // Earlier suites in the shared JVM cache DataFrames over the same
    // parquet paths (SimilaritySpec/SamplingSpec cache embeddings);
    // cached-plan substitution swaps InMemoryTableScans into fragments
    // of these plans and defeats exchange reuse, which is harness
    // noise, not a product regression. Plan against the state a fresh
    // session would see — but scoped to THIS spec: instead of
    // clearCache() (which silently unpersists every other suite's
    // suite-lifetime caches for the rest of the JVM run), swap the
    // CacheManager's entry list to empty for the duration of the
    // planning pass and restore it — no block is unpersisted, no other
    // suite observes a cache-state change.
    val cm = spark.sharedState.cacheManager
    val fld =
      try {
        val f = cm.getClass.getDeclaredField("cachedData")
        f.setAccessible(true)
        // sanity: the swap only works on the immutable-IndexedSeq shape
        if (f.get(cm).isInstanceOf[scala.collection.immutable.IndexedSeq[_]]) Some(f)
        else None
      } catch { case _: ReflectiveOperationException => None }
    fld match {
      case None =>
        // Spark changed the private field: fall back to the blunt
        // JVM-wide clear (the pre-round-7 behavior) rather than fail
        cm.clearCache()
        Registry.suites.map { case (name, (fn, _)) =>
          name -> buildWithCapture(name, fn).queryExecution.executedPlan
        }
      case Some(f) =>
        val snapshot = f.get(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[AnyRef]]
        f.set(cm, scala.collection.immutable.IndexedSeq.empty)
        try Registry.suites.map { case (name, (fn, _)) =>
          name -> buildWithCapture(name, fn).queryExecution.executedPlan
        } finally {
          // several gates execute real jobs while "planning" (bounded
          // collects, tmp-catalog writes); anything they cached during
          // the pass must stay tracked, so MERGE rather than overwrite
          val duringPass = f.get(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[AnyRef]]
          f.set(cm, snapshot ++ duringPass)
        }
    }
  }

  private def buildWithCapture(
      name: String,
      fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val buf = scala.collection.mutable.Buffer.empty[(String, String)]
    graft.ops.Ranking.captureTo.set(buf)
    try fn(spark, sf)
    finally {
      graft.ops.Ranking.captureTo.remove()
      if (buf.nonEmpty) subPlans(name) = buf.toSeq
    }
  }

  test("no gate query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, p) if p.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  // The ANN/classifier family broadcasts a constant-size side (the 8
  // query vectors / numClasses centroids) against the corpus scan with
  // a non-equi or absent condition — BNLJ there IS the intended plan
  // (see the plans/ audit). Everywhere else a non-Cross BNLJ means a
  // real join predicate fell out of the equi-join path.
  private val bnljByDesign =
    Set("s_ann_brute", "s_ann_lsh", "s_ann_ivf", "s_ann_pq", "s_ann_quantized",
      "s_ann_media", "m_knn_confusion", "m_centroid_confusion", "m_prf_report",
      // compose the brute-force gate: same broadcast 8-query side
      "s_ann_recall", "m_ndcg", "s_matryoshka",
      // round-1 hop: the entry node is a LITERAL, so Catalyst folds the
      // u=src equi-condition into a pushed filter on the edge list and
      // broadcasts the <=K surviving rows — LeftOuter BNLJ with no
      // residual condition is the optimal degenerate here
      "s_greedy_search",
      // same literal-entry degenerate, on both layers' walks
      "s_hnsw_search",
      // the s_ann_pq plan plus a zero-shuffle rotation projection
      "s_ann_opq",
      // radius twin of s_ann_quantized: same broadcast 8-query
      // prefilter side over the corpus scan
      "s_range_search")

  test("BroadcastNestedLoopJoin appears only where it is the designed plan") {
    val offenders = plans.collect {
      case (name, p) if !bnljByDesign(name) && p.contains("BroadcastNestedLoopJoin") &&
        p.linesIterator.exists(l => l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross")) => name
    }
    assert(offenders.isEmpty, s"non-Cross BNLJ in: ${offenders.mkString(", ")}")
  }

  /** Shuffle count. r12: the REPARTITION_BY_NUM exemption (added for
    * the r11 scan fan-out, which the driver's cold bench measured
    * regressive and r12 removed) is gone — ANY explicit repartition
    * creeping into a declared zero/one-Exchange gate now fails here. */
  private def ensureExchanges(name: String): Int =
    plans(name).linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("declared zero-Exchange queries stay zero-Exchange") {
    for (name <- Seq("t_quality_filter", "s_quantize_err", "t_redact", "s_random_proj",
      "r_poly_measures")) {
      val n = ensureExchanges(name)
      assert(n == 0, s"$name grew $n Exchange nodes")
    }
  }

  test("the fused terrain capstone costs the same Exchanges as one member") {
    def shuffles(name: String) =
      "(?<!Broadcast)Exchange".r.findAllIn(plans(name)).size
    assert(shuffles("r_terrain") == shuffles("r_slope"),
      "fusing slope/hillshade/aspect/D8 must not add a shuffle over the single-member plan")
    assert(shuffles("r_terrain_indices") == shuffles("r_slope"),
      "the fused TPI/TRI/Laplacian must cost the same halo exchange as one member")
  }

  test("generic convolution rides the same halo exchange as the built-in kernels") {
    def shuffles(name: String) =
      "(?<!Broadcast)Exchange".r.findAllIn(plans(name)).size
    assert(shuffles("r_convolve") == shuffles("r_slope"),
      "a user kernel must cost exactly what the built-in focal ops cost")
  }

  test("the inverted index keeps its single term-keyed shuffle") {
    val n = ensureExchanges("t_inverted_index")
    assert(n == 1, s"t_inverted_index has $n shuffle Exchanges (window and agg must share one)")
  }

  test("unicode clean stays zero-Exchange (pure scan+project ingest stage)") {
    val n = "(?<!Broadcast)Exchange".r.findAllIn(plans("t_unicode_clean")).size
    assert(n == 0, s"t_unicode_clean grew $n Exchange nodes")
  }

  test("the histogram sketch aggregates through ObjectHashAggregate with a partial phase") {
    val p = plans("a_hist_sketch")
    assert(p.contains("ObjectHashAggregate"), "BinnedHist must plan as ObjectHashAggregate")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregation expected (map-side combine of the sketch buffers)")
    val n = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(n == 1, s"a_hist_sketch should shuffle once (sketch rows), found $n")
  }

  test("a_acf reads the events corpus exactly once (stack-unpivot, not per-lag unions)") {
    val n = "Scan ".r.findAllIn(plans("a_acf")).size
    assert(n == 1, s"a_acf plans $n scans; all three lags must ride one pipeline")
  }

  test("k-fold CV reads the embeddings corpus at most twice (subtraction trick)") {
    val n = "Scan ".r.findAllIn(plans("m_kfold_cv")).size
    assert(n <= 2, s"m_kfold_cv plans $n scans; per-fold training must NOT rescan per fold")
  }

  test("dedup-family consumers read the materialized MinHash front; the LSH gate derives it in-plan") {
    // The round-8 materialized-front generalization: the signature
    // table is derived ONCE per process (sigFront) and persisted;
    // every downstream dedup/graph gate's plan must READ it (a
    // sigfront_ parquet scan) and contain zero in-plan MinHash
    // derivation. t_minhash_sig / t_minhash_lsh stay fully in-plan —
    // they are the gates that oracle the derivation itself.
    val staged = Seq("t_corpus_prep", "t_triangles", "t_label_prop", "t_lsh_verify",
      "t_lsh_recall")
    for (name <- staged)
      assert(plans(name).contains("/sigfront_"),
        s"$name must consume the materialized signature front")
    // CC-consumer dedup gates: at sf0.001 the scale-adaptive CC runs
    // eagerly (local union-find), so the final plan is a Scan
    // ExistingRDD stub and the front scan lives in the captured
    // pre-materialization plan (the cc_edges capture) instead.
    for (name <- Seq("t_dedup_clusters", "t_dedup_keeper")) {
      val all = plans(name) +
        subPlans.getOrElse(name, Nil).map(_._2).mkString("\n")
      assert(all.contains("/sigfront_"),
        s"$name must consume the materialized signature front " +
          "(final plan or captured cc_edges pre-plan)")
    }
    // t_kcore / t_pagerank / t_bfs_dist consume the front too, but their iteration
    // loops localCheckpoint the edge list so the final plan is a
    // checkpoint scan — the front scan is inside the checkpointed
    // lineage, invisible to the plan string. Assert the checkpoint
    // shape instead.
    for (name <- Seq("t_kcore", "t_pagerank", "t_bfs_dist"))
      assert(plans(name).contains("Scan ExistingRDD"),
        s"$name must run off its checkpointed (front-derived) edge list")
    for (name <- Seq("t_minhash_sig", "t_minhash_lsh"))
      assert(!plans(name).contains("/sigfront_"),
        s"$name must derive signatures in-plan (it oracles the derivation)")
    // the raster twin: zonal stats and sieve consume the materialized
    // region-label front; the labeling gate derives it in-plan
    for (name <- Seq("r_region_stats", "r_sieve_filter"))
      assert(plans(name).contains("/regionfront_"),
        s"$name must consume the materialized region-label front")
    assert(!plans("r_region_label").contains("/regionfront_"),
      "r_region_label must derive the labeling in-plan (it oracles the CC loop)")
    // the shingle candidate-pair front: containment and the recall
    // audit consume it; the Jaccard gate derives the posting-list
    // pipeline in-plan (t_sssp's checkpointed loop hides the scan)
    for (name <- Seq("t_containment", "t_lsh_recall"))
      assert(plans(name).contains("/pairfront_"),
        s"$name must consume the materialized candidate-pair front")
    assert(!plans("t_ngram_jaccard").contains("/pairfront_"),
      "t_ngram_jaccard must derive the posting lists in-plan (it oracles them)")
    // the DBSCAN core-label front: BOTH gates read the cluster
    // assignment (each hashes its full output against a fully
    // relational oracle, so the CC derivation stays oracle-gated
    // without a derivation-only gate)
    for (name <- Seq("r_dbscan_core", "r_dbscan_labels"))
      assert(plans(name).contains("/dbscanfront_"),
        s"$name must consume the materialized core-label front")
  }

  test("classifier-evaluation gates probe the persisted det-IVF index, never corpus x corpus") {
    // Round-9 repoint: m_knn_confusion / m_prf_report score the
    // pruned-probe predictions (deterministic-codebook IVF). The plan
    // must (a) read the persisted index front and (b) partition-prune
    // the assignment scan by the probed clusters; the only remaining
    // BNLJ side is the nlist-row codebook, never a second corpus scan
    // (the exact O(test x train) path lives only in SimilaritySpec).
    for (name <- Seq("m_knn_confusion", "m_prf_report")) {
      val p = plans(name)
      assert(p.contains("/ivffront_"),
        s"$name must read the persisted det-IVF index front")
      assert(p.contains("PartitionFilters"),
        s"$name must partition-prune the assignment scan by probed cluster")
    }
  }

  test("q_rfm ranks through the two-phase range shape — no Window node at all") {
    // Round-10 fix: three global NTILEs over the unbounded per-customer
    // table moved from single-partition Window.orderBy to chained
    // Ranking.withGlobalRanks passes. Pin it: the plan must contain no
    // Window operator (the quartiles are computed map-side after a
    // range shuffle), so the single-partition sort can never creep back.
    assert(!plans("q_rfm").contains("Window"),
      "q_rfm regressed to a Window plan (single-partition global sort at scale)")
  }

  // Every gate that rides a graft.ops.Ranking primitive materializes
  // through createDataFrame, so its FINAL plan is a Scan ExistingRDD
  // stub — a Window reintroduced UPSTREAM of the ranks (in the
  // aggregation feeding the primitive) would be invisible to both the
  // plans/ snapshot and the final-plan asserts above. Ranking captures
  // each primitive's INPUT plan at the materialization seam; these two
  // tests close that hole for the whole family at once (round-10
  // what's-wrong #2 + the m_auc_continuous ADVICE pin).
  private val windowFreeUpstream = Set(
    "q_rfm", "m_auc_continuous", "m_pr_continuous", "a_ranking_windows",
    "a_exact_median", "a_mann_whitney", "a_spearman", "a_runs_test",
    "m_lift_curve")

  test("every two-phase rank/running-sum gate captured its pre-materialization plans") {
    plans // force the planning pass (populates subPlans via buildWithCapture)
    val expected = windowFreeUpstream + "q_peak_concurrency"
    val missing = expected.filterNot(g => subPlans.get(g).exists(_.nonEmpty))
    assert(missing.isEmpty,
      s"no Ranking capture for: ${missing.mkString(", ")} — did the gate stop using the two-phase primitive?")
  }

  test("no Window hides upstream of the two-phase ranks (pre-materialization plans)") {
    plans // force the planning pass
    for ((gate, caps) <- subPlans; ((stage, p), i) <- caps.zipWithIndex) {
      if (windowFreeUpstream(gate))
        assert(!p.contains("Window"),
          s"$gate sub-plan #$i ($stage) contains a Window upstream of the ranks")
      else
        // gates with legitimate PARTITIONED windows upstream (e.g.
        // q_peak_concurrency's per-user session islands) must still
        // never feed the primitive from a single-partition sort-window
        assert(!(p.contains("Exchange SinglePartition") && p.contains("Window")),
          s"$gate sub-plan #$i ($stage) plans a single-partition Window upstream of the ranks")
    }
  }

  test("single-partition Sort+Window appears only in gates with a bounded-domain contraction") {
    // These gates window AFTER a distinct-value or group contraction
    // whose output cardinality is bounded by the value domain (calendar
    // buckets, distinct scores/cents, ntile rows, explicit caps), not
    // by the data size — audited individually (see each gate's
    // scaladoc / the round-9 judge adjudication). Any NEW gate that
    // plans this shape must either justify a bounded domain and join
    // this list, or use Ranking.withGlobalRanks / withGlobalRunningSums.
    val boundedDomain = Set(
      "a_changepoint", "a_seasonal_decomp", // calendar-bucket keys (<= days/months)
      "a_skyline", // distinct (x,y) pareto front
      "m_auc", "m_pr_curve", // distinct score values (integer-ish domain)
      "a_ks_test", // distinct cents
      "m_lift_curve", // 10 ntile rows
      "a_gini", // custkey < 1000 pushed cap
      "a_contribution", "a_hist_quantile", "t_token_budget", // bounded group/bin tables
      "m_perm_importance", // fixed feature set x bounded score domain
      "t_next_token", "t_psi" // bounded n-gram / bin domains
    )
    val offenders = plans.collect {
      case (name, p) if !boundedDomain(name) &&
        p.contains("Exchange SinglePartition") && p.contains("Window") => name
    }
    assert(offenders.isEmpty,
      s"unadjudicated single-partition Sort+Window in: ${offenders.mkString(", ")}")
  }

  test("every gate's whole-stage codegen COMPILES (no silent interpreted fallback)") {
    // Round-7 lesson: a >64 KB generated method (e.g. a literal-heavy
    // dxd rotation projection or a 10 KB inline portable-ln tree) makes
    // Janino throw "Code grows beyond 64 KB"; Spark CATCHES it and
    // silently falls back to interpreted evaluation — results stay
    // correct, but the hot path is 10-100x slower per row and only a
    // log line betrays it. Compile every registered gate's codegen
    // fragments eagerly and fail LOUDLY instead. Also bound the largest
    // generated method under spark.sql.codegen.hugeMethodLimit (the
    // other, size-triggered fallback).
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val hugeLimit = spark.sessionState.conf.hugeMethodLimit
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    planObjs.toSeq.sortBy(_._1).foreach { case (name, plan0) =>
      val frags = unwrap(plan0).collect { case w: WholeStageCodegenExec => w }
      frags.foreach { w =>
        try {
          val (_, code) = w.doCodeGen()
          val (_, stats) = CodeGenerator.compile(code)
          if (stats.maxMethodCodeSize > hugeLimit)
            failures += s"$name: method ${stats.maxMethodCodeSize}B > hugeMethodLimit $hugeLimit (size fallback)"
        } catch {
          case e: Exception =>
            failures += s"$name: codegen compile FAILED: ${e.getMessage.take(200)}"
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

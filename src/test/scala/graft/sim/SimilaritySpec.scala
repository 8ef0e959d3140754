package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase.spark

class SimilaritySpec extends AnyFunSuite {
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("brute-force top-k: self-similarity excluded, scores in [-1,1], k per query") {
    val topk = Similarity.bruteForceTopK(emb.where($"vec_id" < 5), emb, 3).cache()
    assert(topk.count() == 15)
    assert(topk.where($"qid" === $"cid").count() == 0)
    assert(topk.where(abs($"cos") > 1.0000001).count() == 0)
    // rank 1 really is the max
    val r1 = topk.where($"qid" === 0 && $"rank" === 1).select($"cos").head().getDouble(0)
    val mx = topk.where($"qid" === 0).agg(max($"cos")).head().getDouble(0)
    assert(r1 == mx)
  }

  test("IVF top-k: probing finds mostly the same neighbors as brute force") {
    val queries = emb.where($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, 3)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, 3, nlist = 4, nprobe = 2)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(ivf.size == 30)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@3 too low: $recall")
  }

  test("codegen cosine is bit-identical to the HOF fold (float and double arrays)") {
    // float x float (embedding vs embedding)
    val ff = emb.as("x").crossJoin(emb.as("y")).limit(500)
      .select(Similarity.cosine($"x.embedding", $"y.embedding").as("c1"),
        Similarity.cosineHof($"x.embedding", $"y.embedding").as("c2"))
      .where($"c1" =!= $"c2" || ($"c1".isNull =!= $"c2".isNull))
    assert(ff.count() == 0)
    // float x double (query vs centroid shape)
    val d = emb.limit(20)
      .withColumn("ed", org.apache.spark.sql.functions.transform($"embedding", x => x.cast("double")))
    val fd = d.as("x").crossJoin(d.as("y")).limit(200)
      .select(Similarity.cosine($"x.embedding", $"y.ed").as("c1"),
        Similarity.cosineHof($"x.embedding", $"y.ed").as("c2"))
      .where($"c1" =!= $"c2")
    assert(fd.count() == 0)
    // null ELEMENT propagates to null, exactly like the HOF twin — the
    // raw ArrayData slot must not be read as 0.0
    val withNull = Seq(
      (Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](4.0, 5.0)))
      .toDF("a", "b")
    val nn = withNull
      .select(Similarity.cosine($"a", $"b").as("c1"), Similarity.cosineHof($"a", $"b").as("c2"))
      .collect()
    assert(nn.length == 2)
    assert(nn.exists(r => r.isNullAt(0)) && nn.exists(r => !r.isNullAt(0)))
    assert(nn.forall(r => r.isNullAt(0) == r.isNullAt(1) &&
      (r.isNullAt(0) || r.getDouble(0) == r.getDouble(1))))
  }

  test("hot-bucket cap bounds pair counts on an adversarial all-equal-bucket fixture") {
    // every vector identical → ONE bucket holds all n rows: uncapped,
    // the self-join is n² (the 100 TB degenerate-embedding hazard);
    // capped, each of n queries meets ≤ cap candidates
    val n = 600 // > DefaultMaxBucket so the default cap binds too
    val one = Seq.fill(64)(0.25f)
    val adv = spark.range(n).select($"id".as("vec_id"),
      typedLit(one).as("embedding"))
    val planes = Similarity.hyperplanes(6, 64)
    val cap = 32
    val pairs = Similarity.cosineNearDupPairs(adv, planes, -1.0, maxBucket = cap)
    // a<b once: the cap keeps candidates {0..cap-1}; queries are all n
    assert(pairs.count() == (n - cap) * cap + cap.toLong * (cap - 1) / 2)
    val knn = Similarity.knnGraph(adv, planes, 3, maxBucket = cap)
    // every node still finds candidates (probe side uncapped)
    assert(knn.select($"qid").distinct().count() == n)
    assert(knn.groupBy($"qid").count().agg(max($"count")).head().getLong(0) <= 3)
    // candidate ids only from the capped prefix
    assert(knn.where($"cid" >= cap).count() == 0)
    // default cap binds at n=600 as well: pair count stays ≤ n·cap
    val defPairs = Similarity.cosineNearDupPairs(adv, planes, -1.0)
    assert(defPairs.count() <= n.toLong * Similarity.DefaultMaxBucket)
  }

  test("sign-LSH bucket code is stable and bounded") {
    val b = emb.select(Similarity.signBucket($"embedding", 6).as("b"))
      .agg(min($"b"), max($"b")).head()
    assert(b.getLong(0) >= 0 && b.getLong(1) < 64)
  }

  test("persisted IVF index: probe equals in-memory ivfTopK and prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(emb, dir, nlist = 4)
    // same seed + same data -> same centroids -> identical results
    val queries = emb.where($"vec_id" < 10)
    val fromIndex = Similarity.ivfProbe(queries, dir, k = 3, nprobe = 2)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val inMemory = Similarity.ivfTopK(queries, emb, 3, nlist = 4, nprobe = 2)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex == inMemory)
    // the probe scan is partition-pruned to the probed clusters
    val plan = Similarity.ivfProbe(queries, dir, 3, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      "probe must prune assignment partitions by cluster")
  }

  test("IVF-backed k-NN: pruned-probe predictions agree with the exact classifier (sf0.01)") {
    val dir10 = "/root/testdata/sf0.01"
    val e10 = spark.read.parquet(s"$dir10/embeddings.parquet")
    val train = e10.where(graft.text.TextOps.hashBucket($"vec_id", 10) =!= 9)
    val idx = java.nio.file.Files.createTempDirectory("graft_knn_ivf").toString
    Similarity.buildIvfIndex(train, idx, nlist = 8)
    val exact = graft.queries.SimQueries.knnPredictions(spark, dir10)
      .select($"qid", $"pred").as[(Long, Long)].collect().toMap
    // probing EVERY list must reproduce the exact classifier bit-for-bit
    // (same neighbors, same rank tie-breaks, same votes) — the probe
    // plumbing itself loses nothing
    val full = graft.queries.SimQueries.knnPredictionsIvf(spark, dir10, idx, nprobe = 8)
      .select($"qid", $"pred").as[(Long, Long)].collect().toMap
    assert(full == exact, "full-probe IVF k-NN must equal the exact classifier")
    // a pruned probe (3 of 8 lists) still predicts every test point; on
    // these synthetic near-uniform embeddings (no cluster structure,
    // max cosine ~0.4) neighbor recall is bounded by ~nprobe/nlist, so
    // assert a floor consistent with that — real corpora with cluster
    // structure sit far higher, which is the point of IVF
    val ivf = graft.queries.SimQueries.knnPredictionsIvf(spark, dir10, idx, nprobe = 3)
      .select($"qid", $"pred").as[(Long, Long)].collect().toMap
    assert(ivf.keySet == exact.keySet,
      s"missing predictions: ${(exact.keySet -- ivf.keySet).take(5)}")
    val agree = exact.count { case (q, p) => ivf.get(q).contains(p) }.toDouble / exact.size
    assert(agree >= 0.3, s"IVF k-NN agreement below the random-data floor: $agree")
  }

  test("det-codebook IVF: full probe reproduces the exact classifier; assignment is total") {
    val dir10 = "/root/testdata/sf0.01"
    val e10 = spark.read.parquet(s"$dir10/embeddings.parquet")
    val train = e10.where(graft.text.TextOps.hashBucket($"vec_id", 10) =!= 9)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_knn_ivfdet").toString
    Similarity.buildIvfIndexDet(train, idx, nlist = 16)
    // every train vector lands in exactly one list (no row lost/duped)
    val assigned = spark.read.parquet(s"$idx/assignments")
    assert(assigned.count() == train.count())
    assert(assigned.select($"vec_id").distinct().count() == train.count())
    // probing EVERY list reproduces the exact classifier bit-for-bit —
    // the det codebook changes WHERE vectors live, not what a
    // full-coverage probe can see
    val exact = graft.queries.SimQueries.knnPredictions(spark, dir10)
      .select($"qid", $"pred").as[(Long, Long)].collect().toMap
    val full = graft.queries.SimQueries.knnPredictionsIvf(spark, dir10, idx, nprobe = 16)
      .select($"qid", $"pred").as[(Long, Long)].collect().toMap
    assert(full == exact, "full-probe det-IVF k-NN must equal the exact classifier")
    // centroid JSON round-trip is exact: parsed doubles == the float
    // embeddings of the 16 smallest train vec_ids
    val cb = train.orderBy($"vec_id").limit(16)
      .as[(Long, Seq[Float])].collect().map(_._2.map(_.toDouble))
    val probedPlan = Similarity.ivfProbe(
      e10.where($"vec_id" < 4).select($"vec_id", $"embedding"), idx, 3, 2)
    assert(probedPlan.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "det-index probe must prune assignment partitions")
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/_centroids.json")), "UTF-8")
    val parsed = {
      implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(raw).extract[Seq[Map[String, Any]]]
        .sortBy(_("cluster").toString.toDouble.toInt)
        .map(_("centroid").asInstanceOf[Seq[Any]].map(_.toString.toDouble))
    }
    assert(parsed.zip(cb.toSeq).forall { case (a, b) => a == b },
      "JSON centroid round-trip must be bit-exact")
  }

  test("rotate guards degenerate inputs: null propagates, short vector fails loudly") {
    import spark.implicits._
    val r = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val withNull = Seq((1L, Seq(1.0f, 2.0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val out = Similarity.rotate(withNull, r)
      .select($"vec_id", $"embedding").collect()
    assert(out.find(_.getLong(0) == 2L).exists(_.isNullAt(1)),
      "null embedding must propagate as null, not NPE")
    assert(out.find(_.getLong(0) == 1L).exists(!_.isNullAt(1)))
    val short = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.rotate(short, r).collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("rotate: vector dim")),
      s"short vector must fail with the dimension message, got: ${msgs(e).take(3)}")
  }

  test("hyperplane buckets mix dimensions: better spread than leading-dim signs") {
    val planes = Similarity.hyperplanes(6, 64)
    assert(planes.length == 6 && planes(0).length == 64)
    assert(planes.flatten.forall(w => w == 1.0 || w == -1.0))
    // deterministic across calls (the oracle embeds the same literals)
    assert(Similarity.hyperplanes(6, 64).flatten.toSeq == planes.flatten.toSeq)
    val n = emb.count().toDouble
    def maxShare(bucketCol: org.apache.spark.sql.Column): Double =
      emb.select(bucketCol.as("b")).groupBy($"b").count()
        .agg(max($"count")).head().getLong(0) / n
    val hyper = maxShare(Similarity.hyperplaneBucket($"embedding", planes))
    assert(hyper < 0.5, s"largest hyperplane bucket holds $hyper of all vectors")
  }

  test("cosine near-dup pairs: bucketed candidates agree with brute force inside buckets") {
    val planes = Similarity.hyperplanes(6, 64)
    val t = 0.2 // synthetic embeddings have no true near-dups; pick a live band
    val pairs = Similarity.cosineNearDupPairs(emb, planes, t).cache()
    assert(pairs.count() > 0, "threshold selects no pairs - test would be vacuous")
    // each reported pair really is above threshold and a < b exactly once
    assert(pairs.where($"cos" < t).count() == 0)
    assert(pairs.where($"a" >= $"b").count() == 0)
    assert(pairs.groupBy($"a", $"b").count().where($"count" > 1).count() == 0)
    // against brute force restricted to same-bucket pairs: identical sets
    val b = emb.select($"vec_id", $"embedding",
      Similarity.hyperplaneBucket($"embedding", planes).as("bk"))
    val brute = b.as("x").join(b.as("y"),
        $"x.bk" === $"y.bk" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("a"), $"y.vec_id".as("b"),
        Similarity.cosine($"x.embedding", $"y.embedding").as("cos"))
      .where($"cos" >= t)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val got = pairs.select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("knn graph: per-node top-k equals brute force inside buckets, rank contract holds") {
    import org.apache.spark.sql.expressions.Window
    val planes = Similarity.hyperplanes(6, 64)
    val k = 3
    val g = Similarity.knnGraph(emb, planes, k).cache()
    assert(g.count() > 0)
    // rank is 1..k per node, dense from 1, no self-edges
    assert(g.where($"rank" < 1 || $"rank" > k).count() == 0)
    assert(g.where($"qid" === $"cid").count() == 0)
    assert(g.groupBy($"qid").agg(org.apache.spark.sql.functions.max($"rank").as("m"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .where($"m" =!= $"n").count() == 0)
    // against brute force restricted to same-bucket candidates
    val b = emb.select($"vec_id", $"embedding",
      Similarity.hyperplaneBucket($"embedding", planes).as("bk"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid")
    val brute = b.as("x").join(b.as("y"),
        $"x.bk" === $"y.bk" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id".as("qid"), $"y.vec_id".as("cid"),
        Similarity.cosine($"x.embedding", $"y.embedding").as("cos"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val got = g.select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
  }

  test("persisted PQ index: probe + rerank reproduces the s_ann_pq gate exactly") {
    import org.apache.spark.sql.expressions.Window
    // same codebook as the gate query (shared seeded builder)
    val cb = Similarity.seededPqCodebook(8, 8, 8, graft.queries.SimQueries.PqSeed)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Similarity.buildPqIndex(emb, dir, cb)
    // the index stores ONLY codes + reconstructed norm - no float payload
    assert(spark.read.parquet(s"$dir/codes").schema.fieldNames.toSet
      == Set("vec_id", "pq_codes", "n2s"))
    val q = emb.where($"vec_id" < 8)
    val viaIndex = Similarity.pqProbe(q, dir, cb, 8)
      .join(emb.select($"vec_id".as("cid"), $"embedding".as("ce")), Seq("cid"))
      .join(q.select($"vec_id".as("qid"), $"embedding".as("qe")), Seq("qid"))
      .select($"qid", $"cid", Similarity.cosine($"qe", $"ce").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"cid")))
      .where($"rank" <= 3)
      .select($"qid", $"cid", $"rank", $"cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val gate = graft.queries.SimQueries.annPq(spark, "/root/testdata/sf0.001")
      .select($"qid", $"cid", $"rank", $"cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaIndex == gate, "index-probed PQ diverges from the inline gate query")
  }

  test("trained PQ codebook beats the seeded literal codebook: quantization error and recall") {
    val m = 8; val k = 8; val sub = 8
    val literal = Similarity.seededPqCodebook(m, k, sub, graft.queries.SimQueries.PqSeed)
    val trained = Similarity.trainPqCodebook(emb, m, k, iters = 10)
    val vecs = emb.sort($"vec_id").select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)

    def encode(v: Array[Double], cb: Array[Array[Array[Double]]]): Array[Int] =
      Array.tabulate(m) { mi =>
        (0 until k).minBy { c =>
          var d = 0.0; var j = 0
          while (j < sub) { val t = v(mi * sub + j) - cb(mi)(c)(j); d += t * t; j += 1 }
          d
        }
      }
    def mse(cb: Array[Array[Array[Double]]]): Double =
      vecs.map { case (_, v) =>
        val code = encode(v, cb)
        (0 until m).map { mi =>
          (0 until sub).map { j => val t = v(mi * sub + j) - cb(mi)(code(mi))(j); t * t }.sum
        }.sum
      }.sum / vecs.length
    // k-means fits the data; the random literal codes do not
    assert(mse(trained) < mse(literal),
      f"trained MSE ${mse(trained)}%.4f must beat literal ${mse(literal)}%.4f")

    // recall@10 of ADC ranking vs exact cosine, 8 queries
    def l2(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / (l2(a) * l2(b))
    val queries = vecs.take(8)
    def recall(cb: Array[Array[Array[Double]]]): Double = {
      val codes = vecs.map { case (id, v) => (id, encode(v, cb), v) }
      queries.map { case (qid, qv) =>
        val exact = vecs.filter(_._1 != qid).sortBy { case (cid, cv) => (-cos(qv, cv), cid) }
          .take(10).map(_._1).toSet
        val approx = codes.filter(_._1 != qid).map { case (cid, code, _) =>
          val recon = (0 until m).flatMap(mi => cb(mi)(code(mi)))
          val adc = (0 until m).map { mi =>
            (0 until sub).map(j => qv(mi * sub + j) * cb(mi)(code(mi))(j)).sum
          }.sum / l2(recon.toArray)
          (cid, adc)
        }.sortBy { case (cid, s) => (-s, cid) }.take(10).map(_._1).toSet
        (exact intersect approx).size / 10.0
      }.sum / queries.length
    }
    val rT = recall(trained); val rL = recall(literal)
    assert(rT >= rL, f"trained recall $rT%.2f must be >= literal $rL%.2f")
    assert(rT > 0.2, f"trained recall $rT%.2f implausibly low")
  }

  test("opq rotation: PCA-rotated PQ beats plain PQ on correlated dimensions") {
    // correlated corpus with structure that CROSSES subspace
    // boundaries: dim j and dim j+32 share a latent, so every plain PQ
    // subspace sees 8 independent latents (hopeless for 8 codes) while
    // the balanced PCA rotation packs each subspace with 4 signal + 4
    // noise components (easy for 8 codes). Correlation WITHIN a
    // subspace would be the opposite case — plain PQ already exploits
    // it and rotation has nothing to win.
    val d = 64; val m = 8; val k = 8; val sub = d / m
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(512) {
      val a = Array.fill(d / 2)(rnd.nextFloat() * 2 - 1)
      Array.tabulate(d)(j =>
        if (j < d / 2) a(j)
        else (0.9f * a(j - d / 2) + 0.1f * (rnd.nextFloat() * 2 - 1)))
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").cache()
    val g = df.agg(Similarity.gram($"embedding", d).as("g"))
      .select($"g.n", $"g.sums", $"g.prods").head()
    val gout = Similarity.GramOut(g.getLong(0), g.getSeq[Long](1), g.getSeq[Long](2))
    val rot = Similarity.opqRotationFromGram(gout, d, m)
    // orthonormal rows
    for (i <- 0 until d) {
      val n2 = rot(i).map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9, s"row $i norm $n2")
    }
    val rotated = Similarity.rotate(df, rot).cache()

    def mseOf(data: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.trainPqCodebook(data, m, k, iters = 10)
      val rows = data.sort($"vec_id").select($"embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      rows.map { v =>
        (0 until m).map { mi =>
          (0 until k).map { c =>
            (0 until sub).map { j => val t = v(mi * sub + j) - cb(mi)(c)(j); t * t }.sum
          }.min
        }.sum
      }.sum / rows.length
    }
    val plain = mseOf(df)
    val opq = mseOf(rotated)
    assert(opq < plain * 0.8,
      f"rotated-PQ MSE $opq%.5f must clearly beat plain $plain%.5f on correlated dims")
  }

  test("gram: moments equal a naive driver loop; merge is order/split-free") {
    val d = 8
    val rnd = new scala.util.Random(3)
    val vecs = Seq.fill(200)(Array.fill(d)(rnd.nextFloat() - 0.5f))
    def q(f: Float): Long = math.floor(f.toDouble * 1048576.0).toLong
    // naive reference
    val n = vecs.length.toLong
    val sums = (0 until d).map(i => vecs.map(v => q(v(i))).sum)
    val prods = for { i <- 0 until d; j <- i until d }
      yield vecs.map(v => q(v(i)) * q(v(j))).sum
    val agg = new Similarity.GramAgg(d)
    val whole = vecs.foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    val out = agg.finish(whole)
    assert(out.n == n && out.sums == sums && out.prods == prods)
    // split/merge law
    for (seed <- 0 until 10) {
      val r = new scala.util.Random(seed)
      val shuffled = r.shuffle(vecs)
      val cut = 1 + r.nextInt(shuffled.length - 1)
      val (l, rr) = shuffled.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)),
        rr.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
      assert(merged.toSeq == whole.toSeq)
    }
    // distributed == driver fold
    val viaSpark = vecs.map(_.toSeq).toDF("embedding").repartition(5)
      .agg(Similarity.gram(col("embedding"), d).as("g"))
      .select("g.n", "g.sums", "g.prods").head()
    assert(viaSpark.getLong(0) == n &&
      viaSpark.getSeq[Long](1) == sums && viaSpark.getSeq[Long](2) == prods)
  }

  test("pca: covariance from moments matches naive; eigensolve recovers the planted axis") {
    val d = 6
    val rnd = new scala.util.Random(11)
    // planted dominant direction u (unnormalized) + small isotropic noise
    val u = Array(0.6f, -0.3f, 0.45f, 0.15f, -0.5f, 0.25f)
    val vecs = Seq.fill(800) {
      val a = (rnd.nextGaussian() * 0.4).toFloat
      Array.tabulate(d)(j => a * u(j) + (rnd.nextGaussian() * 0.02).toFloat)
    }
    val agg = new Similarity.GramAgg(d)
    val g = agg.finish(vecs.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
    val c = Similarity.covarianceFromGram(g, d)
    // naive covariance of the QUANTIZED values, scaled back
    def q(f: Float): Double = math.floor(f.toDouble * 1048576.0)
    val n = vecs.length.toDouble
    for (i <- 0 until d; j <- 0 until d) {
      val (si, sj) = (vecs.map(v => q(v(i))).sum, vecs.map(v => q(v(j))).sum)
      val sij = vecs.map(v => q(v(i)) * q(v(j))).sum
      val naive = (n * sij - si * sj) / (n * n) / math.pow(2.0, 40.0)
      assert(math.abs(c(i)(j) - naive) <= 1e-12 * (1.0 + math.abs(naive)), s"($i,$j)")
    }
    val (vals, vecsE) = Similarity.pcaFromGram(g, d, d)
    // eigenvalues descending, trace preserved
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b - 1e-15 })
    val trace = (0 until d).map(i => c(i)(i)).sum
    assert(math.abs(vals.sum - trace) <= 1e-9 * math.abs(trace))
    // top axis aligns with the planted direction
    val un = math.sqrt(u.map(x => x.toDouble * x).sum)
    val cosTop = (0 until d).map(j => vecsE(0)(j) * u(j) / un).sum
    assert(math.abs(cosTop) > 0.995, s"top-axis cos $cosTop")
    // eigenvectors orthonormal
    for (a <- 0 until d; b <- a until d) {
      val dot = (0 until d).map(j => vecsE(a)(j) * vecsE(b)(j)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"<$a,$b> = $dot")
    }
    // projection columns: Spark projection equals driver dot products
    val pcs = vecsE.take(2)
    val proj = vecs.take(5).map(_.toSeq).toDF("embedding")
      .select(Similarity.pcaProjectCols(col("embedding"), pcs): _*)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val expectProj = vecs.take(5).map { v =>
      def dp(row: Array[Double]) =
        (0 until d).map(j => v(j).toDouble * row(j)).reduceLeft(_ + _)
      (dp(pcs(0)), dp(pcs(1)))
    }
    assert(proj.toSeq == expectProj)
  }
}

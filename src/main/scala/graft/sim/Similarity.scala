package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`):
  * brute-force cosine top-k as the exact baseline, and a sign-LSH
  * bucketed variant as the scale path (SURVEY §7.1 step 8).
  *
  * Determinism: elements are cast float→double *before* arithmetic
  * (exact), and dot/norm folds run left-to-right over the array
  * (`aggregate` HOF) so any engine that folds sequentially reproduces
  * the bits.
  */
object Similarity {

  /** Left-fold sum of an array of doubles. */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float-array columns in double precision. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm2(a: Column): Column =
    foldSum(transform(a, x => x.cast("double") * x.cast("double")))

  /** Cosine as the HOF fold — kept as the readable reference form and
    * the differential-test twin of the codegen'd expression. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Cosine via the native codegen'd expression (same left-fold bits,
    * no interpreted-lambda dispatch per element — see
    * graft.functions.CosineSimilarity). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** Brute-force cosine top-k: broadcast the (small) query set against
    * every candidate — one pass over the corpus, no shuffle of the
    * corpus itself; the per-query top-k is a windowed rank over
    * query-id (k * |queries| rows survive the exchange). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = candidates.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as(("cos")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer — each vector is
    * assigned to its nearest of `nlist` centroids; a query probes the
    * `nprobe` closest centroid lists only. The classic
    * FAISS-IVF structure on Spark: the corpus is hash-partitioned by
    * cluster id, so a probe touches nprobe/nlist of the data. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nlist: Int, nprobe: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val feat = candidates.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(feat)
    val assigned = km.transform(feat)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("prediction").as("cluster"))
    val centroids = km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
    val cdf = queries.sparkSession.createDataFrame(centroids.toSeq).toDF("cluster", "centroid")
    // query -> nprobe nearest centroids (tiny cross join; centroids broadcast)
    val qprobe = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(broadcast(cdf),
        org.apache.spark.sql.functions.lit(true))
      .withColumn("cdist", -cosine(col("qe"), col("centroid")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cluster"))))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col("cluster"))
    val scored = qprobe.join(assigned, Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Sign-LSH bucket code: one bit per leading dimension's sign. At
    * scale this prunes the candidate set to same-bucket vectors
    * (recall/cost trade chosen by nBits). */
  def signBucket(e: Column, nBits: Int): Column =
    (0 until nBits).map(i =>
      when(element_at(e, i + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Seeded Rademacher (+-1) hyperplanes for sign-LSH. Leading-dim signs
    * degrade to unbalanced buckets when dimensions are correlated; random
    * hyperplanes mix all dimensions into every bit (classic SimHash-for-
    * cosine). Deterministic given (nBits, dim, seed), so an oracle can
    * embed the identical literal weights. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Bucket code from hyperplane projection signs: bit b = sign of the
    * left-to-right fold of w_b . e (exact double arithmetic both
    * engines). */
  def hyperplaneBucket(e: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (w, b) =>
      val proj = foldSum(zip_with(e, typedLit(w.toSeq), (x, wi) => x.cast("double") * wi))
      when(proj > 0d, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed cosine top-k: join restricted to equal bucket codes
    * under random-hyperplane signs. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              planes: Array[Array[Double]]): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val c = candidates.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persisted IVF index (the FAISS practice of building once, probing
    * many times): assignments land as parquet PARTITIONED BY cluster —
    * a probe's cluster filter becomes static partition pruning, so each
    * query batch reads ~nprobe/nlist of the corpus from disk — and the
    * nlist-bounded centroids sit in a JSON sidecar, so repeated probes
    * skip the k-means fit entirely. */
  def buildIvfIndex(vectors: DataFrame, path: String, nlist: Int, seed: Long = 42L): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = vectors.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(feat)
    km.transform(feat)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/assignments")
    val json = km.clusterCenters.zipWithIndex
      .map { case (c, i) => s"""{"cluster":$i,"centroid":[${c.toArray.mkString(",")}]}""" }
      .mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_centroids.json"),
      json.getBytes("UTF-8")): Unit
  }

  /** Deterministic-codebook IVF: identical on-disk layout to
    * [[buildIvfIndex]] (cluster-partitioned assignments +
    * `_centroids.json`, probed by the same [[ivfProbe]]), but the
    * coarse quantizer is the embeddings of the `nlist` smallest
    * vec_ids (Forgy initialization, zero k-means iterations) instead
    * of converged k-means centroids. K-means centroids are
    * float-order-sensitive, so a k-means index can never be hash-gated
    * against a SQL oracle; a fixed data-sampled codebook is
    * bit-reproducible end to end — assignment = argmax of the exact
    * strict-fold cosine, ties on the smaller cluster id — which lets
    * the pruned-probe classifier gates stay oracled while each query
    * scans ~nprobe/nlist of the corpus. Centroids are serialized as
    * the DOUBLE values of the float embeddings (Double.toString
    * round-trips), so the probe's JSON-parsed centroids carry the
    * identical bits an oracle gets from CAST(embedding AS DOUBLE). */
  def buildIvfIndexDet(vectors: DataFrame, path: String, nlist: Int): Unit = {
    val cb = vectors.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nlist)
      .collect() // nlist-bounded by construction (bounded-collect family)
      .sortBy(_.getLong(0))
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }
    // r11 (guide §2.3/§2.4): the assignment used to broadcast-join every
    // vector against all nlist centroids (x nlist row blowup), shuffle
    // by vec_id and Window-argmin — at any corpus size that is nlist
    // extra copies of the corpus through an exchange for a per-row
    // reduction. The argmin is now ONE fused JVM kernel pass over the
    // broadcast centroid matrix: zero shuffle, zero row blowup, same
    // flops. Value-identical to ORDER BY (-cos) ASC, cluster ASC LIMIT 1:
    // the kernel folds dot/na/nb left-to-right exactly like
    // CosineSimilarity, iterates clusters in ascending id keeping strict
    // minima (ties -> lowest cluster), and treats NaN distance as
    // sorting last (all-NaN -> cluster 0), which is Spark's double
    // ordering in the replaced Window.
    val centsBc = vectors.sparkSession.sparkContext.broadcast(
      cb.map(_._2.toArray))
    val assignKernel = udf((emb: Array[Float]) => {
      // r12 null guard (ADVICE): the replaced Window path was
      // null-safe — CosineSimilarity yields null on null input and the
      // nulls-first ascending argmin assigned cluster 0. Match that
      // instead of NPE-ing a shared index builder on one bad row.
      if (emb == null) 0
      else {
      val cents = centsBc.value
      var best = 0
      var bestD = Double.NaN
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        val n = math.min(emb.length, cent.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = emb(i).toDouble; val y = cent(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        var j = n
        while (j < emb.length) { val x = emb(j).toDouble; na += x * x; j += 1 }
        var k2 = n
        while (k2 < cent.length) { val y = cent(k2); nb += y * y; k2 += 1 }
        val d = -(dot / (math.sqrt(na) * math.sqrt(nb)))
        if (c == 0) bestD = d
        else if (d < bestD || (bestD.isNaN && !d.isNaN)) { bestD = d; best = c }
        c += 1
      }
      best
      }
    })
    val assigned = vectors
      .select(col("vec_id"), col("embedding"),
        assignKernel(col("embedding")).as("cluster"))
    // guide §6: cluster-align the write so each task owns whole
    // partition dirs (never one writer task fanning out nlist dynamic
    // partitions serially). Explicit partition count so AQE cannot
    // coalesce the layout away. r12: cap the task count at the
    // session's parallelism — nlist tasks on a session with fewer
    // cores just pays nlist file commits in waves; hashing clusters
    // onto min(nlist, defaultParallelism) tasks keeps whole-dir
    // ownership (a task writes a few whole clusters sequentially) with
    // one commit per core. On a real cluster defaultParallelism >>
    // nlist and the layout is identical to before.
    val writeTasks = math.min(nlist,
      vectors.sparkSession.sparkContext.defaultParallelism)
    assigned.repartition(writeTasks, col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assignments")
    val json = cb
      .map { case (i, c) => s"""{"cluster":$i,"centroid":[${c.mkString(",")}]}""" }
      .mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_centroids.json"),
      json.getBytes("UTF-8")): Unit
  }

  /** Probe a persisted IVF index: rank centroids driver-side
    * (nlist-bounded), prune the assignment scan to the probed clusters
    * (static partition pruning), exact cosine + top-k within. */
  def ivfProbe(queries: DataFrame, indexPath: String, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$indexPath/_centroids.json")), "UTF-8")
    val centroids: Seq[(Int, Seq[Double])] = {
      implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(raw).extract[Seq[Map[String, Any]]].map { m =>
        (m("cluster").toString.toDouble.toInt,
          m("centroid").asInstanceOf[Seq[Any]].map(_.toString.toDouble))
      }
    }
    val cdf = spark.createDataFrame(centroids).toDF("cluster", "centroid")
    val qprobe = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(broadcast(cdf), lit(true))
      .withColumn("cdist", -cosine(col("qe"), col("centroid")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cluster"))))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col("cluster"))
    // the probed cluster set is (nq * nprobe)-bounded: collect it so the
    // scan prunes statically to those partition directories
    val probed = qprobe.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = graft.sources.Parquet.read(spark, s"$indexPath/assignments")
      .where(col("cluster").isin(probed: _*))
      .select(col("cluster"), col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = qprobe.join(assigned, Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Default hot-bucket candidate cap for the LSH pair generators. A
    * degenerate bucket (all-zero / padding embeddings collapsing to one
    * code) makes the same-bucket self-join O(b²) on ONE task — the
    * vector-side twin of the text path's df>64 posting-list lesson. The
    * cap bounds the CANDIDATE side of each bucket to the N smallest
    * vec_ids (deterministic), so every vector still probes its bucket
    * but emits ≤ cap candidate rows: worst case |rows|·cap pairs, never
    * b². The rank runs on the same bucket exchange the join needs (no
    * extra shuffle) and costs O(b log b) on the hot bucket. */
  val DefaultMaxBucket = 256

  /** Candidate side of a bucket self-join, capped per bucket. */
  private def cappedCandidates(b: DataFrame, maxBucket: Int): DataFrame =
    b.withColumn("bn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .where(col("bn") <= maxBucket).drop("bn")

  /** Embedding-cosine near-duplicate pairs (the vector analog of
    * MinHash-LSH dedup): candidates share an LSH bucket — the self-join
    * shuffles 8-byte bucket codes, never all-pairs — then the exact
    * cosine filters at `threshold`. Pairs are (a < b) once. The
    * candidate side of every bucket is capped at `maxBucket` rows
    * (smallest vec_ids — see [[DefaultMaxBucket]]); pairs between two
    * beyond-cap rows are the documented recall trade on hot buckets.
    * Pairs are canonicalized (least, greatest) and deduped — cosine is
    * exactly symmetric (IEEE multiply commutes; the fold order is per
    * vector) so both orientations carry identical cos — which keeps
    * every (row, capped-candidate) pair regardless of id order; the
    * distinct shuffles only threshold-passing pairs. */
  def cosineNearDupPairs(vectors: DataFrame, planes: Array[Array[Double]],
                         threshold: Double,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = vectors.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val cand = cappedCandidates(b, maxBucket)
    b.select(col("bucket"), col("vec_id").as("qa"), col("embedding").as("ea"))
      .join(cand.select(col("bucket"), col("vec_id").as("qb"), col("embedding").as("eb")), Seq("bucket"))
      .where(col("qa") =!= col("qb"))
      .select(least(col("qa"), col("qb")).as("a"),
        greatest(col("qa"), col("qb")).as("b"),
        cosine(col("ea"), col("eb")).as("cos"))
      .where(col("cos") >= threshold)
      .distinct()
  }

  /** k-NN GRAPH over LSH buckets: for every vector, its top-k cosine
    * neighbors among same-bucket candidates — the per-node view of
    * [[cosineNearDupPairs]] (which keeps threshold pairs), and the
    * build primitive of graph-ANN indexes and embedding-cluster
    * pipelines. Candidates come from the hyperplane bucket join, never
    * vector x vector; ranking is a window PER NODE (partitionBy qid —
    * no global sort), ties broken on the neighbor id so the cut at k
    * is deterministic. Nodes alone in their bucket emit no rows (no
    * candidates — the recall/band trade documented on the LSH path).
    * Candidate side capped per bucket at `maxBucket` (smallest
    * vec_ids) — see [[DefaultMaxBucket]] for the hot-bucket bound. */
  def knnGraph(vectors: DataFrame, planes: Array[Array[Double]], k: Int,
               maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = vectors.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val cand = cappedCandidates(b, maxBucket)
    val pairs = b.select(col("bucket"), col("vec_id").as("qid"), col("embedding").as("ea"))
      .join(cand.select(col("bucket"), col("vec_id").as("cid"), col("embedding").as("eb")), Seq("bucket"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("ea"), col("eb")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    pairs.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  // ---- Product quantization: persisted byte-codes index --------------

  /** Seeded two-decimal PQ codebook (m subspaces x k codes x sub dims)
    * — the literal-codebook pattern shared with the s_ann_pq gate
    * query (same seed -> bit-identical weights). */
  def seededPqCodebook(m: Int, k: Int, sub: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(m, k, sub)(math.rint((rnd.nextDouble() * 2 - 1) * 100) / 100)
  }

  /** Train a PQ codebook with seeded per-subspace Lloyd k-means over a
    * bounded deterministic sample (the FAISS practice: train the
    * quantizer on a sample, encode the whole corpus with it). The
    * sample is vec_id-ordered and capped at `sampleN` (driver-bounded
    * by construction); the model is m*k*sub doubles. Like the IVF
    * fit-at-runtime path, a trained codebook is float-order sensitive,
    * so it is spec-checked for quality (reconstruction error / recall
    * vs the literal codebook) while the seeded LITERAL codebook keeps
    * the hash-matched oracle gate (s_ann_pq). */
  def trainPqCodebook(vectors: DataFrame, m: Int, k: Int, iters: Int = 10,
                      sampleN: Int = 4096, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val sample = vectors.sort(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty PQ training sample")
    require(sample.length >= k, s"PQ training needs >= k=$k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val rnd = new scala.util.Random(seed)
    Array.tabulate(m) { mi =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // seeded init: k sample rows without replacement
      val cents = rnd.shuffle(subs.indices.toList).take(k).map(subs(_).clone).toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k, sub)(0.0)
        val cnt = new Array[Long](k)
        subs.foreach { v =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var j = 0
            while (j < sub) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var j = 0
          while (j < sub) { sums(best)(j) += v(j); j += 1 }
          cnt(best) += 1
        }
        var c = 0
        while (c < k) {
          if (cnt(c) > 0) { var j = 0; while (j < sub) { cents(c)(j) = sums(c)(j) / cnt(c); j += 1 } }
          c += 1
        }
        it += 1
      }
      cents
    }
  }

  /** Encode vectors against a codebook: adds `pq_codes` (one 0-based
    * code per subspace — argmin of the monotone distance n2 - 2*dot,
    * first-k tie-break, each distance expression built exactly once via
    * array_position/array_min) and `n2s` (reconstructed squared norm,
    * a literal-table lookup). Map-side only. */
  def pqEncode(vectors: DataFrame, codebook: Array[Array[Array[Double]]]): DataFrame = {
    val n2 = codebook.map(_.map(c => c.map(x => x * x).sum))
    val (nm, nk, sub) = (codebook.length, codebook(0).length, codebook(0)(0).length)
    val base = vectors.withColumn("_e", transform(col("embedding"), x => x.cast("double")))
    val withArrs = (0 until nm).foldLeft(base)((df, m) =>
      df.withColumn(s"_arr$m", array((0 until nk).map(k =>
        lit(n2(m)(k)) - lit(2.0) * (0 until sub).map(j =>
          col("_e").getItem(m * sub + j) * lit(codebook(m)(k)(j))).reduceLeft(_ + _)): _*)))
    val codes = array((0 until nm).map(m =>
      (array_position(col(s"_arr$m"), array_min(col(s"_arr$m"))) - 1).cast("int")): _*)
    val n2s = (0 until nm).map(m =>
      element_at(typedLit(n2(m).toSeq), element_at(col("pq_codes"), m + 1) + 1))
      .reduceLeft(_ + _)
    withArrs.withColumn("pq_codes", codes).withColumn("n2s", n2s)
      .drop("_e" +: (0 until nm).map("_arr" + _): _*)
  }

  /** Persist a PQ index: ONLY (vec_id, pq_codes, n2s) — a few bytes per
    * vector, so at corpus scale the probe scan is ~100x smaller than
    * the float column. The codebook rides as a JSON sidecar for
    * self-description. */
  def buildPqIndex(vectors: DataFrame, path: String,
                   codebook: Array[Array[Array[Double]]]): Unit = {
    pqEncode(vectors, codebook)
      .select(col("vec_id"), col("pq_codes"), col("n2s"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val json = codebook.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_codebook.json"),
      json.getBytes("UTF-8")): Unit
  }

  /** ADC candidate generation over a persisted PQ index: queries
    * precompute per-subspace dot tables against the codebook (a
    * broadcast of nq rows), the corpus scan touches only the codes
    * column, and scoring is one table lookup per subspace plus one
    * sqrt per candidate — no per-dimension work. Returns (qid, cid,
    * approx, pr <= k); the caller reranks survivors against the float
    * column (the s_ann_pq shape). */
  def pqProbe(queries: DataFrame, indexPath: String,
              codebook: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val spark = queries.sparkSession
    val (nm, nk, sub) = (codebook.length, codebook(0).length, codebook(0)(0).length)
    val idx = graft.sources.Parquet.read(spark, s"$indexPath/codes")
      .select(col("vec_id").as("cid"), col("pq_codes"), col("n2s"))
    val qds = (0 until nm).map(m => array((0 until nk).map(code =>
      (0 until sub).map(j => col("_qe").getItem(m * sub + j) * lit(codebook(m)(code)(j)))
        .reduceLeft(_ + _)): _*).as(s"_qd$m"))
    val qs = queries
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("_qe"))
      .select(col("qid") +: qds: _*)
    val adc = (0 until nm).map(m =>
      element_at(col(s"_qd$m"), element_at(col("pq_codes"), m + 1) + 1))
      .reduceLeft(_ + _)
    val scored = idx.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("approx", adc / sqrt(col("n2s")))
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    scored.withColumn("pr", row_number().over(w)).where(col("pr") <= k)
      .select(col("qid"), col("cid"), col("approx"), col("pr"))
  }

  // -------------------------------------------------------------------
  // Exact second moments (covariance / Gram matrix)
  // -------------------------------------------------------------------

  /** Accumulated second-moment state over int-quantized values: row
    * count, per-dimension sums, upper-triangle products (i-major). */
  case class GramOut(n: Long, sums: Seq[Long], prods: Seq[Long])

  /** One-pass EXACT second-moment (Gram) accumulation over an embedding
    * column — the input to covariance, PCA and whitening. Values are
    * quantized q = floor(v · 2^20): float→double is exact, ×2^20 is an
    * exact binary-exponent shift and floor is exact, so q is a pure
    * integer function of the stored float that any engine reproduces
    * bitwise; n, Σq_i and Σq_i·q_j then accumulate as exact BIGINTs
    * and covariance entries are rationals of exact integers.
    *
    * Scale shape: the ONLY aggregation is this mergeable buffer —
    * 1 + d + d(d+1)/2 longs (d=64 → ~17 KB) combined map-side, so a
    * 100 TB corpus reduces to one partial buffer per partition and a
    * per-PAIR shuffle never exists; the d² expansion happens on the
    * final single row. Bounds: |q| ≤ 2^21 at unit-scale embeddings, so
    * products stay < 2^42 and 2^63 holds past 10^6 rows per dimension
    * pair; for cluster cardinalities swap accumulation to DECIMAL(38).
    */
  class GramAgg(d: Int) extends Aggregator[Array[Float], Array[Long], GramOut] {
    private val nProds = d * (d + 1) / 2
    def zero: Array[Long] = new Array[Long](1 + d + nProds)

    def reduce(b: Array[Long], v: Array[Float]): Array[Long] = {
      if (v == null) return b
      require(v.length == d, s"embedding dim ${v.length} != $d")
      val q = new Array[Long](d)
      var i = 0
      while (i < d) { q(i) = math.floor(v(i).toDouble * 1048576.0).toLong; i += 1 }
      b(0) += 1L
      i = 0
      var k = 1 + d
      while (i < d) {
        b(1 + i) += q(i)
        var j = i
        while (j < d) { b(k) += q(i) * q(j); k += 1; j += 1 }
        i += 1
      }
      b
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    def finish(b: Array[Long]): GramOut =
      GramOut(b(0), b.slice(1, 1 + d).toSeq, b.drop(1 + d).toSeq)
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[GramOut] = ExpressionEncoder()
  }

  /** Gram-moment column over an `ARRAY<FLOAT>` embedding column. */
  def gram(emb: Column, d: Int): Column = udaf(new GramAgg(d)).apply(emb)

  /** Covariance matrix from Gram moments: C_ij = (n·Σq_iq_j − Σq_iΣq_j)
    * / n² / 2^40 (the 2^40 undoes the two 2^20 quantizations). The
    * numerator is computed exactly in BigDecimal before the one
    * conversion to double, so the matrix is a deterministic function of
    * the exact moments — no accumulation-order sensitivity anywhere. */
  def covarianceFromGram(g: GramOut, d: Int): Array[Array[Double]] = {
    require(g.sums.length == d && g.prods.length == d * (d + 1) / 2)
    val n = BigDecimal(g.n)
    val den = (n * n * BigDecimal(1099511627776L)).toDouble // n² · 2^40
    val c = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      val num = (n * BigDecimal(g.prods(k)) -
        BigDecimal(g.sums(i)) * BigDecimal(g.sums(j))).toDouble
      c(i)(j) = num / den
      c(j)(i) = c(i)(j)
      k += 1
    }
    c
  }

  /** Symmetric eigendecomposition by cyclic Jacobi rotations —
    * deterministic (fixed sweep order, fixed tolerance), O(d³) per
    * sweep on the DRIVER over a d×d matrix: the scale contract is that
    * the 100 TB pass is the one-buffer [[GramAgg]] reduction; the
    * eigensolve touches only the d² summary. Returns (eigenvalues
    * descending, eigenvectors as rows, matching order). */
  def jacobiEigen(m: Array[Array[Double]], maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    val scale = math.max(1e-300, m.map(r => r.map(math.abs).max).max)
    var sweep = 0
    while (sweep < maxSweeps && offNorm > 1e-28 * scale * scale) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
          case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case x => x
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(j => (0 until d).map(i => v(i)(j)).toArray).toArray)
  }

  /** PCA: top-k principal axes of the corpus covariance. One cluster
    * pass (gram) + a driver-side d×d eigensolve. */
  def pcaFromGram(g: GramOut, d: Int, topK: Int): (Array[Double], Array[Array[Double]]) = {
    val (vals, vecs) = jacobiEigen(covarianceFromGram(g, d))
    (vals.take(topK), vecs.take(topK))
  }

  /** Projection columns onto literal principal axes (same strict
    * left-fold chain as the random-projection path — codegen'd, no
    * interpreted lambdas in the per-row hot path). */
  def pcaProjectCols(emb: Column, components: Array[Array[Double]]): Seq[Column] =
    components.zipWithIndex.map { case (row, c) =>
      row.zipWithIndex.map { case (w, j) =>
        emb.getItem(j).cast("double") * lit(w)
      }.reduceLeft(_ + _).as(s"pc$c")
    }

  /** Parametric OPQ rotation (Ge et al., CVPR 2013): the full PCA
    * basis, with components ALLOCATED to subspaces so the variance
    * product is balanced — decorrelate first, then spread the
    * eigenvalues greedily (each component, in descending order, joins
    * the non-full subspace with the smallest log-variance sum). The
    * balancing is the part that matters: naive eigenvalue order dumps
    * the entire signal into subspace 0, whose k codes then quantize
    * WORSE than no rotation at all (measured in SimilaritySpec).
    * One [[gram]] pass + the driver-side d² eigensolve produce the
    * matrix; [[rotate]] applies it map-side, and training/encode/probe
    * run UNCHANGED on the rotated column. Float-order sensitive
    * (eigensolve), so spec-verified like the trained codebook; the
    * literal-codebook gate keeps the oracle. */
  def opqRotationFromGram(g: GramOut, d: Int, m: Int): Array[Array[Double]] = {
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sub = d / m
    val (vals, vecs) = pcaFromGram(g, d, d)
    // greedy product balancing = LPT bin balancing on log-eigenvalues;
    // sizes must be NON-NEGATIVE for "join the lightest bucket" to
    // balance (raw logs of sub-1 eigenvalues are negative, which makes
    // the fullest bucket look lightest and degenerates to contiguous
    // slicing), so shift by the smallest log — only ratios matter to
    // the product balance
    val floorLog = math.log(math.max(vals.last, 1e-12))
    val size = vals.map(v => math.log(math.max(v, 1e-12)) - floorLog)
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = new Array[Double](m)
    vals.indices.foreach { i =>
      val open = (0 until m).filter(b => buckets(b).length < sub)
      val b = open.minBy(logSum)
      buckets(b) = i :: buckets(b)
      logSum(b) += size(i)
    }
    buckets.flatMap(_.reverse.map(vecs))
  }

  /** Apply an orthonormal rotation to the embedding column (float
    * storage kept so every downstream PQ/ANN path sees the same
    * schema). Map-side literal-weight folds — zero Exchange. */
  /** Apply a dense rotation map-side. JVM kernel, not an expression
    * tree: a d×d matrix-vector product is d² multiply-adds (4096 at
    * d=64), which as a single codegen'd projection exceeds the JVM's
    * 64 KB method limit — Spark then logs "Failed to compile" and
    * silently falls back to interpreted eval (~10-100x/row). The
    * kernel is the same sequential accumulation order as the
    * expression form and stays map-side/shuffle-free. */
  def rotate(vectors: DataFrame, r: Array[Array[Double]]): DataFrame = {
    // null-propagating like the expression-tree form it replaced; a
    // short vector is a caller bug — fail with the dimensions, not an
    // opaque IndexOutOfBounds from the hot loop
    val f = udf((v: Array[Float]) => {
      if (v == null) null
      else {
        require(r.isEmpty || v.length >= r(0).length,
          s"rotate: vector dim ${v.length} < rotation row dim ${r(0).length}")
        val out = new Array[Float](r.length)
        var i = 0
        while (i < r.length) {
          val row = r(i)
          var s = 0.0; var j = 0
          while (j < row.length) { s += v(j).toDouble * row(j); j += 1 }
          out(i) = s.toFloat; i += 1
        }
        out
      }
    })
    vectors.withColumn("embedding", f(col("embedding")))
  }

  /** Greedy Maximal Marginal Relevance selection over a BOUNDED
    * candidate set (the post-retrieval diversification step a
    * training-data sampler runs on its top-C list — Carbonell &
    * Goldstein 1998, with the λ=1/2 weights folded out so the argmax
    * key is `rel − max-sim-to-picked`, one subtraction).
    *
    * Candidates are `(id, rel, q, rq2)` where `q` is an
    * integer-quantized vector and `rq2` its squared norm: pairwise
    * similarity is an EXACT integer dot over `q` divided by the two
    * sqrt'd norms — the same fixed-order chain the SQL oracle states,
    * so selection is bit-deterministic (ties take the smallest id).
    * Runs on the driver by design: C is a query-time constant (like the
    * nq·nprobe IVF collects), never corpus-sized. */
  def mmrSelect(cands: Seq[(Long, Double, Array[Double], Double)], k: Int)
      : Seq[(Int, Long, Double)] = {
    def sim(a: (Long, Double, Array[Double], Double),
            b: (Long, Double, Array[Double], Double)): Double = {
      var d = 0.0; var i = 0
      while (i < a._3.length) { d += a._3(i) * b._3(i); i += 1 }
      d / (math.sqrt(a._4) * math.sqrt(b._4))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Double], Double)]
    val out = Seq.newBuilder[(Int, Long, Double)]
    var rank = 1
    while (rank <= k && picked.size < cands.size) {
      var best: (Long, Double, Array[Double], Double) = null
      var bestScore = Double.NegativeInfinity
      for (c <- cands if !picked.exists(_._1 == c._1)) {
        val score = if (picked.isEmpty) c._2 else c._2 - picked.map(p => sim(c, p)).max
        if (score > bestScore || (score == bestScore && (best == null || c._1 < best._1))) {
          best = c; bestScore = score
        }
      }
      picked += best
      out += ((rank, best._1, best._2))
      rank += 1
    }
    out.result()
  }
}

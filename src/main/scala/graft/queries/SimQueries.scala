package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity
import Fixtures._

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k (exact baseline) and sign-LSH bucketed top-k (scale path).
  * Cosine folds are strict left-to-right double sums, so DuckDB's
  * list_reduce reproduces them bitwise.
  */
object SimQueries {
  type Q = (SparkSession, String) => DataFrame

  private val NQ = 8 // query vectors: vec_id < 8
  private val K = 3

  private def dotSqlN(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_transform(range(1, ${dim + 1}),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private def dotSql(a: String, b: String): String = dotSqlN(a, b, 64)

  private def cosSqlN(a: String, b: String, dim: Int): String =
    s"${dotSqlN(a, b, dim)} / (sqrt(${dotSqlN(a, a, dim)}) * sqrt(${dotSqlN(b, b, dim)}))"

  private def cosSql(a: String, b: String): String = cosSqlN(a, b, 64)

  /** Brute-force cosine top-k: the exact ANN baseline. */
  val annBrute: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.where(col("vec_id") < NQ), e, K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annBruteSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin

  /** Cross-modal composition: brute-force cosine ANN over feature
    * vectors extracted from REALLY decoded image payloads (the
    * image-embedding pipeline shape: binary media -> codec decode ->
    * feature vector -> similarity search). The oracle predicts the
    * decoded features end-to-end from the lossless-PNG pixel contract,
    * so the hash match pins the whole chain, decode included.
    * Zero-norm vectors are excluded on both sides (cosine undefined —
    * and the engines disagree on 0/0: NaN vs NULL). */
  val annMedia: Q = (s, dir) => {
    val media = graft.multimodal.Media.mediaFromDocuments(table(s, dir, "documents"))
    val feats = graft.multimodal.Media.extractFeatures(media)
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
      .where(Similarity.norm2(col("embedding")) > 0)
    Similarity.bruteForceTopK(feats.where(col("vec_id") < 4), feats, K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annMediaSql: String = {
    val fd = graft.multimodal.Media.FeatureDim
    s"""WITH m AS (
       |  SELECT doc_id,
       |         CAST(length(text) % 64 + 1 AS INT) AS w,
       |         CAST(length(text) % 48 + 1 AS INT) AS h
       |  FROM documents),
       |f0 AS (
       |  SELECT doc_id, list_transform(range(0, $fd),
       |    j -> CAST(((doc_id * 31 + (j * 37) % (w * h)) % 256) / 256.0 AS REAL)) AS e
       |  FROM m),
       |f AS (SELECT * FROM f0 WHERE ${dotSqlN("e", "e", fd)} > 0),
       |scored AS (
       |  SELECT q.doc_id AS qid, c.doc_id AS cid,
       |         ${cosSqlN("q.e", "c.e", fd)} AS cos
       |  FROM f q JOIN f c ON c.doc_id <> q.doc_id
       |  WHERE q.doc_id < 4),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin
  }

  private val KnnK = 5

  /** k-NN classifier family over the hash-derived train/test split.
    * Unlike the SGD classifier (m_ml_confusion, rows-only: float fold
    * order), every step is bit-deterministic — hash split, exact
    * cosine (strict left fold), rank tie-break on the neighbor id,
    * majority vote tie-break on the label — so the registered gates
    * hash-match DuckDB. The REGISTERED gates score the pruned-probe
    * path ([[knnPredictionsPruned]], det-IVF index); the exact path
    * ([[knnPredictions]]) is the SimilaritySpec agreement baseline
    * only — it broadcasts the whole test set against the whole corpus,
    * O(test x train), which does not survive 100x. */
  /** Majority vote over ranked neighbor rows
    * (qid, label, nl, rank <= KnnK) -> one (qid, label, pred) each;
    * vote ties break on the smaller label. Shared by the exact and the
    * IVF-probed classifier so the policy cannot diverge. */
  private def vote(ranked: DataFrame): DataFrame = {
    val votes = ranked.groupBy(col("qid"), col("label"), col("nl"))
      .agg(count(lit(1)).as("votes"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("votes").desc, col("nl"))
    votes.withColumn("r", row_number().over(wv)).where(col("r") === 1)
      .select(col("qid"), col("label"), col("nl").as("pred"))
  }

  /** Per-test-point predictions of the exact k-NN (broadcast test x
    * full corpus). */
  def knnPredictions(s: SparkSession, dir: String): DataFrame = {
    val b = graft.text.TextOps.hashBucket(col("vec_id"), 10)
    val e = table(s, dir, "embeddings")
    val test = e.where(b === 9)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label"))
    val train = e.where(b =!= 9)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("label").as("nl"))
    val scored = train.join(broadcast(test))
      .select(col("qid"), col("label"), col("cid"), col("nl"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    vote(scored.withColumn("rank", row_number().over(wr)).where(col("rank") <= KnnK))
  }

  /** 100x-scale twin of [[knnPredictions]]: neighbors come from a
    * persisted IVF index probe over the TRAIN side (partition-pruned
    * scan, ~nprobe/nlist of the corpus per query batch) instead of an
    * exact full-corpus pass. With a k-means index
    * (`Similarity.buildIvfIndex`) this is spec-checked only (k-means is
    * float-order sensitive); with the deterministic codebook
    * (`Similarity.buildIvfIndexDet`, see [[knnPredictionsPruned]]) the
    * whole probe chain is hash-oracled. SimilaritySpec asserts
    * prediction agreement with the exact path either way. */
  def knnPredictionsIvf(s: SparkSession, dir: String, indexPath: String,
                        nprobe: Int): DataFrame = {
    val b = graft.text.TextOps.hashBucket(col("vec_id"), 10)
    val e = table(s, dir, "embeddings")
    val test = e.where(b === 9)
    val labels = e.where(b =!= 9).select(col("vec_id").as("cid"), col("label").as("nl"))
    val probed = Similarity.ivfProbe(
      test.select(col("vec_id"), col("embedding")), indexPath, KnnK, nprobe)
    probed
      .join(test.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .join(labels, Seq("cid"))
      .transform(vote)
  }

  // Gate-scale operating point: each query scores nprobe/nlist = 1/32
  // of the train corpus (finer than FAISS-default fractions; at real
  // corpus sizes nlist grows ~sqrt(n) — the mechanism that scales is
  // the cluster-partitioned parquet + static pruning, not the
  // constant). Measured warm: 66.9 s exact -> ~2 s pruned at sf1.
  private val IvfNList = 128
  private val IvfNProbe = 4

  /** Materialized det-IVF index front over the TRAIN split (hash
    * buckets != 9): built once per process per data dir into tmp (the
    * sigFront pattern — at 100 TB the index is a persisted artifact
    * every classifier/search run READS, never re-derives). The
    * deterministic Forgy codebook (see
    * [[Similarity.buildIvfIndexDet]]) keeps the probe SQL-expressible,
    * so the gates that consume it stay hash-oracled. */
  private def ivfIndexFront(s: SparkSession, dir: String): String =
    front(dir, "ivffront")(Similarity.buildIvfIndexDet(
      table(s, dir, "embeddings").where(graft.text.TextOps.hashBucket(col("vec_id"), 10) =!= 9)
        .select(col("vec_id"), col("embedding")),
      _, IvfNList))

  /** Pruned-probe predictions: [[knnPredictionsIvf]] over the
    * deterministic persisted index — each query scores
    * ~IvfNProbe/IvfNList of the train corpus instead of all of it.
    * This is the source the registered classifier-evaluation gates
    * score (the exact [[knnPredictions]] stays as the SimilaritySpec
    * agreement baseline: it is O(test x train) and would not survive
    * 100x). */
  def knnPredictionsPruned(s: SparkSession, dir: String): DataFrame =
    knnPredictionsIvf(s, dir, ivfIndexFront(s, dir), IvfNProbe)

  val knnConfusion: Q = (s, dir) =>
    knnPredictionsPruned(s, dir)
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))

  /** Shared CTE chain producing per-test-point predictions
    * (qid, label, nl) — the SQL twin of [[knnPredictionsPruned]]:
    * the oracle rebuilds the SAME deterministic codebook (the IvfNList
    * smallest train vec_ids), the same argmax-cosine assignment, the
    * same nprobe-pruned candidate set, then ranks/votes identically —
    * so the hash match pins the whole pruned pipeline, index build
    * included. Reused by the confusion-matrix and PRF-report oracles.
    * Centroid ranking mirrors ivfProbe's `-(cos) ASC, cluster` form
    * verbatim (same NaN/sign ordering class both engines). */
  private val knnPredCtes: String =
    s"""s AS (SELECT vec_id, embedding, label,
       |             ${graft.text.TextOps.hashBucketSql("vec_id", 10)} AS b
       |           FROM embeddings),
       |te AS (SELECT * FROM s WHERE b = 9),
       |tr AS (SELECT * FROM s WHERE b <> 9),
       |cb AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |         embedding AS centroid
       |  FROM tr QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $IvfNList),
       |asg AS (
       |  SELECT tr.vec_id, tr.embedding, tr.label, cb.cluster,
       |         ROW_NUMBER() OVER (PARTITION BY tr.vec_id
       |           ORDER BY -(${cosSql("tr.embedding", "cb.centroid")}), cb.cluster) AS rn
       |  FROM tr, cb QUALIFY rn = 1),
       |qp AS (
       |  SELECT te.vec_id AS qid, te.label AS label, te.embedding AS qe, cb.cluster,
       |         ROW_NUMBER() OVER (PARTITION BY te.vec_id
       |           ORDER BY -(${cosSql("te.embedding", "cb.centroid")}), cb.cluster) AS pr
       |  FROM te, cb QUALIFY pr <= $IvfNProbe),
       |scored AS (
       |  SELECT qp.qid, qp.label, a.vec_id AS cid, a.label AS nl,
       |         ${cosSql("qp.qe", "a.embedding")} AS cos
       |  FROM qp JOIN asg a ON a.cluster = qp.cluster AND a.vec_id <> qp.qid),
       |topk AS (
       |  SELECT qid, label, nl,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored QUALIFY rank <= $KnnK),
       |votes AS (SELECT qid, label, nl, COUNT(*) AS votes FROM topk GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT qid, label, nl,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS r
       |  FROM votes QUALIFY r = 1)""".stripMargin

  val knnConfusionSql: String =
    s"""WITH $knnPredCtes
       |SELECT label, nl AS pred, COUNT(*) AS n FROM pred GROUP BY 1, 2""".stripMargin

  /** Per-class precision / recall / F1 from the k-NN predictions — the
    * evaluation report every classifier run ends with. Counts are exact
    * integers; each metric is one division (and F1 one fixed-order
    * chain), so the report hash-matches bitwise. Classes are the UNION
    * of true and predicted labels (a class never predicted still gets
    * its recall row; a class wrongly invented still gets its precision
    * row), with absent counts defined to 0 and empty denominators to
    * 0.0. */
  val prfReport: Q = (s, dir) => {
    // Derive the report from the CONFUSION MATRIX (<= classes^2 rows),
    // not from three independent aggregations of the per-point
    // predictions: the three small re-aggregations share the one
    // (label, pred) exchange, so the expensive probe chain runs once
    // (AQE stage reuse) and the branch work is constant-size.
    val conf = knnConfusion(s, dir)
    val byTrue = conf.groupBy(col("label").as("cls")).agg(sum(col("n")).as("n_true"))
    val byPred = conf.groupBy(col("pred").as("cls")).agg(sum(col("n")).as("n_pred"))
    val tp = conf.where(col("label") === col("pred"))
      .groupBy(col("label").as("cls")).agg(sum(col("n")).as("tp"))
    byTrue.join(byPred, Seq("cls"), "full").join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
      .withColumn("prec",
        when(col("n_pred") > 0, col("tp").cast("double") / col("n_pred").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("rec",
        when(col("n_true") > 0, col("tp").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("prec") + col("rec") > 0,
          lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))
          .otherwise(lit(0.0)))
  }

  val prfReportSql: String =
    s"""WITH $knnPredCtes,
       |conf AS (SELECT label, nl, COUNT(*) AS n FROM pred GROUP BY 1, 2),
       |bt AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
       |bp AS (SELECT nl AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
       |tpc AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS tp FROM conf WHERE label = nl GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(bt.cls, bp.cls) AS cls,
       |         COALESCE(tpc.tp, 0) AS tp,
       |         COALESCE(bp.n_pred, 0) AS n_pred,
       |         COALESCE(bt.n_true, 0) AS n_true
       |  FROM bt FULL JOIN bp ON bt.cls = bp.cls
       |  LEFT JOIN tpc ON COALESCE(bt.cls, bp.cls) = tpc.cls),
       |pr AS (
       |  SELECT *,
       |         CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) ELSE 0.0 END AS prec,
       |         CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) ELSE 0.0 END AS rec
       |  FROM j)
       |SELECT cls, tp, n_pred, n_true, prec, rec,
       |       CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
       |FROM pr""".stripMargin

  private val NBITS = 6
  private val DIM = 64

  /** One shared seeded hyperplane matrix: the Spark expression and the
    * oracle SQL both embed these literal +-1 weights, so the bucket codes
    * agree bit-for-bit. */
  private val Planes = Similarity.hyperplanes(NBITS, DIM)

  private def projSql(w: Array[Double]): String = {
    val pos = w.zipWithIndex.filter(_._1 > 0).map(_._2 + 1)
    val cond = if (pos.isEmpty) "FALSE" else pos.mkString("i IN (", ",", ")")
    s"""list_reduce(list_transform(range(1, ${DIM + 1}),
       |    i -> CAST(embedding[i] AS DOUBLE) * (CASE WHEN $cond THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y)""".stripMargin
  }

  private val bucketSql: String =
    Planes.zipWithIndex.map { case (w, b) =>
      s"(CASE WHEN ${projSql(w)} > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n       |  + ").stripMargin

  /** Oracle twin of Similarity.cappedCandidates: the hot-bucket cap on
    * the candidate side of the pair generators (never binds at gate
    * scale — 64 buckets over ≤2k vectors — but keeps larger-scale
    * probes bitwise-equal to the capped operators). One definition for
    * every consumer (cosine dedup, knn graph, both HNSW layers) so the
    * cap and its ordering can never drift between oracles. */
  private def candCteFor(src: String, name: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, bucket FROM (
       |    SELECT vec_id, embedding, bucket,
       |           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS bn
       |    FROM $src)
       |  WHERE bn <= ${Similarity.DefaultMaxBucket})""".stripMargin

  private val candCte: String = candCteFor("b", "cand")

  /** Sign-LSH bucketed cosine top-k: candidates pruned to the query's
    * random-hyperplane bucket (leading-dim signs degrade on correlated
    * dims; Rademacher planes mix every dimension into each bit). */
  val annLsh: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    Similarity.lshTopK(e.where(col("vec_id") < NQ), e, K, Planes)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annLshSql: String =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin

  // The synthetic embeddings carry no true near-duplicates (max same-
  // bucket cosine ~0.43 at sf0.01), so the gate threshold selects the
  // top-percentile similar pairs; real corpora would run ~0.9+.
  private val DupThreshold = 0.3

  /** Embedding-cosine near-dup pairs: LSH-bucketed candidates, exact
    * cosine >= threshold (the vector-side dedup mode next to
    * MinHash/SimHash on text). */
  val cosineDedup: Q = (s, dir) =>
    Similarity.cosineNearDupPairs(table(s, dir, "embeddings"), Planes, DupThreshold)

  val cosineDedupSql: String =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |$candCte,
       |pairs AS (
       |  SELECT LEAST(x.vec_id, y.vec_id) AS a, GREATEST(x.vec_id, y.vec_id) AS b,
       |         ${cosSql("x.embedding", "y.embedding")} AS cos
       |  FROM b x JOIN cand y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
       |SELECT DISTINCT a, b, cos FROM pairs WHERE cos >= $DupThreshold""".stripMargin

  /** ANN quality census: recall@k of the LSH path against the exact
    * brute-force top-k, per query — the metric that decides whether an
    * approximate index is SAFE to serve (at corpus scale you run this
    * on a query sample after every index build). Pure set arithmetic
    * over the two gates' own results: hit counts are integers, recall
    * is one IEEE division; queries whose bucket held no candidates
    * surface as recall 0, not as missing rows. */
  val annRecall: Q = (s, dir) => {
    val brute = annBrute(s, dir).select(col("qid"), col("cid"))
    val lsh = annLsh(s, dir).select(col("qid"), col("cid"))
    val hits = brute.join(lsh, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    table(s, dir, "embeddings").where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / K).as("recall"))
  }

  val annRecallSql: String =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |bscored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |bres AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r
       |    FROM bscored) WHERE r <= $K),
       |lscored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |lres AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r
       |    FROM lscored) WHERE r <= $K),
       |hits AS (
       |  SELECT qid, COUNT(*) AS n_hits FROM bres JOIN lres USING (qid, cid) GROUP BY 1)
       |SELECT e.vec_id AS qid, COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $K.0 AS recall
       |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.qid
       |WHERE e.vec_id < $NQ""".stripMargin

  /** k-NN graph over the LSH candidate buckets — [[Similarity.knnGraph]]:
    * each vector's top-3 cosine neighbors among same-bucket candidates,
    * the build step of graph-ANN indexes (NSW/HNSW layers start exactly
    * here) and of embedding-side cluster pipelines. Same bucket join as
    * s_cosine_dedup, but ranked per NODE (window partitioned by qid)
    * instead of thresholded — so the gate additionally pins the
    * deterministic per-node cut (ties on cid). */
  val knnGraph: Q = (s, dir) =>
    Similarity.knnGraph(table(s, dir, "embeddings"), Planes, K)

  val knnGraphSql: String =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |$candCte,
       |pairs AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS cid,
       |         ${cosSql("x.embedding", "y.embedding")} AS cos
       |  FROM b x JOIN cand y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM pairs)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin

  /** Exact duplicate vectors by full-precision content hash (dedup for
    * embedding tables): md5 over the comma-joined float renderings would
    * be format-fragile, so hash the sign+magnitude-stable double cast
    * rendered via bigint bit patterns. Here: group by the exact float
    * sequence using a portable textual form. */
  val vecDedup: Q = (s, dir) =>
    table(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        Fixtures.dsum(transform(col("embedding"), x => x.cast("double"))
          .getItem(0)).as("sum_dim0"))

  val vecDedupSql: String =
    s"""SELECT label, COUNT(*) AS n_vectors,
       |       ${dsumSql("CAST(embedding[1] AS DOUBLE)")} AS sum_dim0
       |FROM embeddings GROUP BY 1""".stripMargin

  private val NLIST = 8
  private val NPROBE = 2

  /** Seeded fixed centroids for the GATE variant of IVF: like [[Planes]],
    * the same literal weights are embedded in the Spark expression AND
    * the oracle SQL, so cluster assignment is bit-deterministic and the
    * query hash-matches DuckDB (a k-means fit is float-order sensitive —
    * the fit-at-runtime path stays in [[Similarity.ivfTopK]], recall-
    * tested in SimilaritySpec). Two-decimal weights keep the SQL tidy;
    * quantizer QUALITY is irrelevant to what the gate proves — the IVF
    * plan shape (single-projection assignment, cluster-pruned probe
    * join) and exact in-list scoring. */
  private val Centroids: Array[Array[Double]] = {
    val rnd = new scala.util.Random(20240501L)
    Array.fill(NLIST, DIM)(math.rint((rnd.nextDouble() * 2 - 1) * 100) / 100)
  }
  // |w_j| pre-rendered as a literal, so neither engine re-derives it
  private val CentNorm: Array[Double] = Centroids.map(w => math.sqrt(w.map(x => x * x).sum))

  private def fmt(d: Double): String = java.lang.Double.toString(d)

  /** dot(e, w_j)/|w_j| — monotone in cos(e, w_j) for ranking/argmax
    * (the |e| factor is common), strict left fold both engines. */
  private def centScore(e: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
    aggregate(zip_with(e, typedLit(Centroids(j).toSeq),
        (x, wi) => x.cast("double") * wi),
      lit(0.0), (acc, x) => acc + x) / lit(CentNorm(j))

  private def centScoreSql(e: String, j: Int): String = {
    val ws = Centroids(j).map(fmt).mkString("[", ",", "]")
    s"list_reduce(list_transform(range(1, ${DIM + 1}), i -> CAST($e[i] AS DOUBLE) * ($ws)[i]), (x, y) -> x + y) / ${fmt(CentNorm(j))}"
  }

  /** First-match argmax CASE chain: branch j wins iff score_j >= every
    * LATER score (suffix comparisons suffice — an earlier better score
    * would have matched first), ties to the lowest cluster id. The
    * identical chain is generated for both engines. */
  private def clusterOf(scores: IndexedSeq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    (0 until NLIST - 1).foldRight(lit(NLIST - 1)) { (j, els) =>
      when((j + 1 until NLIST).map(k => scores(j) >= scores(k)).reduce(_ && _), lit(j))
        .otherwise(els)
    }

  private def clusterSql(e: String): String = {
    val s = (0 until NLIST).map(j => centScoreSql(e, j))
    val branches = (0 until NLIST - 1).map { j =>
      val cond = (j + 1 until NLIST).map(k => s"${s(j)} >= ${s(k)}").mkString(" AND ")
      s"WHEN $cond THEN $j"
    }
    s"CASE ${branches.mkString(" ")} ELSE ${NLIST - 1} END"
  }

  /** IVF ANN (scale path): fixed coarse quantizer, nprobe=$NPROBE of
    * $NLIST lists. Assignment is one projection over the corpus (no
    * per-candidate explode), the probe join touches only the probed
    * clusters' rows, exact cosine + top-k inside. */
  val annIvf: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val assigned = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      clusterOf((0 until NLIST).map(j => centScore(col("embedding"), j))).as("cluster"))
    val q = e.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val qprobe = q
      .select(col("qid"), col("qe"), explode(array((0 until NLIST).map(j =>
        struct(lit(j).as("cluster"), centScore(col("qe"), j).as("cscore"))): _*)).as("pc"))
      .select(col("qid"), col("qe"), col("pc.cluster").as("cluster"), col("pc.cscore").as("cscore"))
      .withColumn("pr", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cscore").desc, col("cluster"))))
      .where(col("pr") <= NPROBE)
      .select(col("qid"), col("qe"), col("cluster"))
    val scored = qprobe.join(assigned, Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annIvfSql: String = {
    val probeUnion = (0 until NLIST).map(j =>
      s"SELECT qid, qe, $j AS cluster, ${centScoreSql("qe", j)} AS cscore FROM q")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH asg AS (
       |  SELECT vec_id AS cid, embedding AS ce, ${clusterSql("embedding")} AS cluster
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
       |qs AS (
       |  $probeUnion),
       |qprobe AS (
       |  SELECT qid, qe, cluster FROM (
       |    SELECT qid, qe, cluster,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cscore DESC, cluster) AS pr
       |    FROM qs) WHERE pr <= $NPROBE),
       |scored AS (
       |  SELECT qid, cid, ${cosSql("qe", "ce")} AS cos
       |  FROM qprobe JOIN asg USING (cluster) WHERE cid <> qid),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin
  }

  private val CentScale = 1048576.0 // 2^20: exact power-of-two fixed-point step

  /** Oracle-checked nearest-centroid classifier: per-class mean
    * embeddings over the hash split's train buckets, argmax-cosine
    * assignment of the test bucket, confusion matrix. The class mean is
    * the one genuinely order-sensitive float reduction in the ML
    * surface; it is made order-free by summing FLOOR(x * 2^20)
    * fixed-point longs (integer addition commutes exactly; x is a unit
    * float so the scaled magnitude stays far under 2^63) and dividing
    * once — so unlike the SGD gate (m_ml_confusion, rows-only) this
    * classifier hash-matches DuckDB bit-for-bit. Scale shape: the sums
    * are ONE partial-agg groupBy over (label, dim) — map-side combine
    * does nearly all the work — and scoring broadcasts the tiny
    * (numClasses-row) centroid table against the test scan; no join of
    * the corpus against itself anywhere. */
  val centroidConfusion: Q = (s, dir) => {
    val b = graft.text.TextOps.hashBucket(col("vec_id"), 10)
    val e = table(s, dir, "embeddings")
    val dims = e.where(b =!= 9)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * CentScale).as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("cnt"))
    val cents = dims
      .select(col("label").as("cl"), col("pos"),
        (col("qs").cast("double") / (col("cnt").cast("double") * CentScale)).as("cv"))
      .groupBy(col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("cvec"))
    val scored = e.where(b === 9)
      .select(col("vec_id").as("qid"), col("label"), col("embedding"))
      .join(broadcast(cents))
      .select(col("qid"), col("label"), col("cl"),
        Similarity.cosine(col("embedding"), col("cvec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cl"))
    scored.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("label"), col("cl").as("pred"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
  }

  val centroidConfusionSql: String =
    s"""WITH s AS (SELECT vec_id, embedding, label,
       |             ${graft.text.TextOps.hashBucketSql("vec_id", 10)} AS b
       |           FROM embeddings),
       |tr AS (SELECT * FROM s WHERE b <> 9),
       |te AS (SELECT * FROM s WHERE b = 9),
       |dims AS (
       |  SELECT label, i,
       |         CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $CentScale) AS BIGINT)) AS BIGINT) AS qs,
       |         COUNT(*) AS cnt
       |  FROM tr CROSS JOIN range(1, ${DIM + 1}) r(i)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT label AS cl, list(CAST(qs AS DOUBLE) / (cnt * $CentScale) ORDER BY i) AS cvec
       |  FROM dims GROUP BY 1),
       |scored AS (
       |  SELECT te.vec_id AS qid, te.label AS label, c.cl,
       |         ${cosSql("te.embedding", "c.cvec")} AS cos
       |  FROM te CROSS JOIN cent c),
       |pred AS (
       |  SELECT qid, label, cl,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cl) AS r
       |  FROM scored QUALIFY r = 1)
       |SELECT label, cl AS pred, COUNT(*) AS n FROM pred GROUP BY 1, 2""".stripMargin

  /** Exact covariance/Gram moments of the embedding corpus
    * (Similarity.GramAgg): for every dimension pair i ≤ j the row
    * count, per-dim sums and product sum over int-quantized values
    * q = floor(v·2^20) — the one-pass input to PCA/whitening. The
    * whole corpus reduces into ONE mergeable 17 KB buffer (map-side
    * combined, no per-pair shuffle; the d² expansion happens on the
    * final single row against a broadcast (k → i,j) index). The oracle
    * rebuilds the same moments relationally via a per-vector self-join
    * — quadratic in d but exact, and every emitted value is an
    * integer, so the gate is bitwise. */
  val covariance: Q = (s, dir) => {
    val d = 64
    val idx = {
      val rows = (for { i <- 0 until d; j <- i until d } yield (i, j))
        .zipWithIndex.map { case ((i, j), k) => (k, i, j) }
      s.createDataFrame(rows).toDF("k", "i", "j")
    }
    table(s, dir, "embeddings")
      .agg(Similarity.gram(col("embedding"), d).as("g"))
      .select(col("g.n").as("n"), col("g.sums").as("sums"),
        posexplode(col("g.prods")).as(Seq("k", "sxy")))
      .join(broadcast(idx), Seq("k"))
      .select(col("i"), col("j"), col("n"),
        element_at(col("sums"), col("i") + 1).as("sx"),
        element_at(col("sums"), col("j") + 1).as("sy"),
        col("sxy"))
  }

  val covarianceSql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(gs - 1 AS INT) AS i,
      |         CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) AS qx
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS gs
      |        FROM embeddings) z)
      |SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
      |       CAST(SUM(a.qx) AS BIGINT) AS sx,
      |       CAST(SUM(b.qx) AS BIGINT) AS sy,
      |       CAST(SUM(a.qx * b.qx) AS BIGINT) AS sxy
      |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2""".stripMargin

  /** PC1 in ±2^20 fixed point: THREE exact power iterations on the
    * integer scatter matrix n·Σxy − Σx·Σy, renormalizing by max|Mv|
    * with the floor-division identity (x − ((x%d + d)%d)) / d — the
    * same recurrence the oracle CTE chain replays in HUGEINT, so the
    * components match bitwise. The corpus contributes ONE mergeable
    * Gram pass ([[Similarity.gram]], 17 KB buffer, map-side combined);
    * the d²-sized algebra then runs DRIVER-SIDE in BigInt — collecting
    * d(d+1)/2 moments is bounded by the dimension, not the data, and
    * hoisting the iteration off the cluster removes the 3-round
    * join+checkpoint chain whose per-round planning dominated the
    * measured cost (6.6 s cold vs 1.3 s warm at sf0.1; the distributed
    * mat-vec only wins once d² rows stop fitting one driver — ~16M
    * entries at d=4096, far beyond embedding widths). Trade-off: the
    * gate's returned plan is a LocalRelation, so the plan-invariant
    * audit no longer sees the Gram pass through THIS gate — the
    * distributed moment plan stays audited via s_covariance, which
    * plans the same [[Similarity.gram]] aggregation. */
  private def pc1FixedPoint(s: SparkSession, dir: String): Array[Long] = {
    val d = DIM
    val g = table(s, dir, "embeddings")
      .agg(Similarity.gram(col("embedding"), d).as("g"))
      .select(col("g.n"), col("g.sums"), col("g.prods")).head()
    val n = BigInt(g.getLong(0))
    val sums = g.getSeq[Long](1).toArray
    val prods = g.getSeq[Long](2).toArray
    val sc = Array.ofDim[BigInt](d, d)
    var k = 0; var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = n * BigInt(prods(k)) - BigInt(sums(i)) * BigInt(sums(j))
        sc(i)(j) = v; sc(j)(i) = v; k += 1; j += 1
      }
      i += 1
    }
    val SFP = BigInt(1048576L)
    def fdiv(x: BigInt, dd: BigInt): BigInt = (x - ((x % dd + dd) % dd)) / dd
    var v = Array.fill(d)(SFP)
    for (_ <- 1 to 3) {
      val mv = Array.tabulate(d) { r =>
        var acc = BigInt(0); var c = 0
        while (c < d) { acc += sc(r)(c) * v(c); c += 1 }
        acc
      }
      val nm = mv.map(_.abs).max
      v = mv.map(x => fdiv(x * SFP, nm))
    }
    v.map(_.toLong)
  }

  val pcaPower: Q = (s, dir) => {
    val v = pc1FixedPoint(s, dir)
    val rows = v.zipWithIndex.map { case (x, i) => (i, x, x.toDouble / 1048576.0) }
    s.createDataFrame(rows.toIndexedSeq).toDF("dim", "v_fp", "loading")
  }

  /** The power-iteration CTE chain, shared by [[pcaPowerSql]] and the
    * projection gate's oracle. Ends at `v3` (j, v — HUGEINT ±2^20). */
  private val pcaCtes: String = {
    val SFP = 1048576L
    def fdiv(x: String, d: String): String =
      s"($x - (($x % $d + $d) % $d)) // $d"
    val iters = (1 to 3).map { k =>
      s"""mv$k AS (SELECT m.i, SUM(m.sc * v.v) AS mv
         |         FROM msym m JOIN v${k - 1} v ON m.j = v.j GROUP BY 1),
         |nm$k AS (SELECT MAX(ABS(mv)) AS nm FROM mv$k),
         |v$k AS (SELECT i AS j, ${fdiv("x", "nm")} AS v
         |        FROM (SELECT i, mv * CAST($SFP AS HUGEINT) AS x FROM mv$k), nm$k)""".stripMargin
    }.mkString(",\n")
    s"""cov AS ($covarianceSql),
       |mom AS (SELECT i, j,
       |          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS sc
       |        FROM cov),
       |msym AS (SELECT i, j, sc FROM mom
       |         UNION ALL SELECT j, i, sc FROM mom WHERE i <> j),
       |v0 AS (SELECT CAST(r.i AS INT) AS j, CAST(1048576 AS HUGEINT) AS v
       |       FROM range(0, $DIM) r(i)),
       |$iters""".stripMargin
  }

  val pcaPowerSql: String =
    s"""WITH $pcaCtes
       |SELECT j AS dim, CAST(v AS BIGINT) AS v_fp,
       |       CAST(v AS DOUBLE) / 1048576.0 AS loading
       |FROM v3""".stripMargin

  /** PC1 projection scores — the APPLY step of s_pca_power: every
    * vector's coordinate along the learned direction, as the exact
    * integer dot product of the 2^20-quantized features with the
    * 2^20 fixed-point eigenvector (≤2^46 per vector — plain BIGINT).
    * The 64-component direction (one Gram pass + driver-side algebra,
    * [[pc1FixedPoint]]) is inlined as an array literal against a
    * single corpus scan; this is the shape dimensionality reduction
    * takes at 100 TB (model tiny and broadcast, data touched once). */
  val pcaScores: Q = (s, dir) => {
    val SFP = 1048576L
    val pc1 = pc1FixedPoint(s, dir)
    table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * SFP).cast("long")).as("q"))
      .withColumn("pc1", typedLit(pc1.toSeq))
      .select(col("vec_id"),
        aggregate(zip_with(col("q"), col("pc1"), (a, b) => a * b), lit(0L), (a, x) => a + x)
          .as("score_fp"))
      .select(col("vec_id"), col("score_fp"),
        (col("score_fp").cast("double") / (SFP.toDouble * SFP.toDouble)).as("pc1_score"))
  }

  val pcaScoresSql: String =
    s"""WITH $pcaCtes,
       |pc AS (SELECT list(CAST(v AS BIGINT) ORDER BY j) AS pc1 FROM v3),
       |qv AS (SELECT vec_id,
       |              list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
       |       FROM embeddings),
       |sc AS (SELECT vec_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, ${DIM + 1}), i -> q[i] * pc1[i])),
       |           (a, x) -> a + x) AS score_fp
       |       FROM qv, pc)
       |SELECT vec_id, score_fp,
       |       CAST(score_fp AS DOUBLE) / (1048576.0 * 1048576.0) AS pc1_score
       |FROM sc""".stripMargin

  /** Int8 scalar-quantization census: the storage-compression pass an
    * embedding corpus takes before ANN at scale (4x smaller than
    * float32). Per vector: symmetric amax scaling, q_i = floor(x/amax
    * * 127 + 0.5) — in [-127, 127] by construction (|x| <= amax), no
    * clamp branch — then a strict-left-fold reconstruction-error sum
    * and a saturation census. floor(x + 0.5) instead of round()
    * because round's tie rule differs across engines; floor is
    * bit-identical everywhere. Entirely map-side — no shuffle, no
    * join: at 100 TB this is one scan emitting the quantized column.
    * Zero vectors are undefined under amax scaling and filtered
    * identically on both sides. */
  val quantizeErr: Q = (s, dir) => {
    val d = table(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("amax", aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .where(col("amax") > 0)
      .withColumn("q", transform(col("e"), x => floor(x / col("amax") * 127.0 + lit(0.5))))
    val errs = zip_with(col("e"), col("q"),
      (x, qi) => abs(x - qi.cast("double") * col("amax") / 127.0))
    d.select(col("vec_id"), col("amax"),
      (aggregate(errs, lit(0.0), (a, x) => a + x) / DIM.toDouble).as("mean_abs_err"),
      size(filter(col("q"), qi => abs(qi) === 127)).as("n_sat"))
  }

  val quantizeErrSql: String =
    s"""WITH d AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, e,
       |         list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
       |           (x, y) -> greatest(x, y)) AS amax
       |  FROM d),
       |q AS (
       |  SELECT vec_id, e, amax,
       |         list_transform(e, x -> floor(x / amax * 127.0 + 0.5)) AS qv
       |  FROM a WHERE amax > 0)
       |SELECT vec_id, amax,
       |  list_reduce(list_prepend(0.0, list_transform(range(1, ${DIM + 1}),
       |    i -> abs(e[i] - qv[i] * amax / 127.0))), (x, y) -> x + y) / ${DIM.toDouble} AS mean_abs_err,
       |  CAST(len(list_filter(qv, v -> abs(v) = 127)) AS INT) AS n_sat
       |FROM q""".stripMargin

  private val PREF = 8

  /** Quantized-prefilter ANN: candidates are scored with int8 dot
    * products first — the memory-bounded path, where the scan reads the
    * 4x-smaller quantized column and the hot loop is integer MACs —
    * and only the top [[PREF]] per query are reranked with exact float
    * cosine. The approximate score is dot(q_a, q_b) / (sqrt(sum q_a^2)
    * * sqrt(sum q_b^2)): the per-vector amax factors cancel, so the
    * prefilter ranking is derived entirely from small integers and is
    * bit-portable by construction (no float fold order anywhere before
    * the exact rerank). Scale shape: same broadcast-queries pass over
    * the corpus as s_ann_brute, but at 100 TB the corpus side is the
    * int8 column — 4x less scan + bandwidth — and the float column is
    * touched only for PREF survivors per query. */
  val annQuantized: Q = (s, dir) => {
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("amax", aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .where(col("amax") > 0)
      .withColumn("q", transform(col("e"), x => floor(x / col("amax") * 127.0 + lit(0.5))))
      .withColumn("rq2", aggregate(col("q"), lit(0L), (a, qi) => a + qi * qi))
    val cand = base.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("q").as("cq"), col("rq2").as("crq2"))
    val qs = base.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("q").as("qq"), col("rq2").as("qrq2"))
    val scored = cand.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("dotq",
        aggregate(zip_with(col("qq"), col("cq"), (a, b) => a * b), lit(0L), (a, x) => a + x))
      .withColumn("approx", col("dotq").cast("double") /
        (sqrt(col("qrq2").cast("double")) * sqrt(col("crq2").cast("double"))))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("pr", row_number().over(wp)).where(col("pr") <= PREF)
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rank", row_number().over(wr)).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annQuantizedSql: String =
    s"""WITH d AS (
       |  SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, embedding, e,
       |         list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
       |           (x, y) -> greatest(x, y)) AS amax
       |  FROM d),
       |qz AS (
       |  SELECT vec_id, embedding,
       |         list_transform(e, x -> floor(x / amax * 127.0 + 0.5)) AS qv
       |  FROM a WHERE amax > 0),
       |nz AS (
       |  SELECT vec_id, embedding, qv,
       |         list_reduce(list_prepend(0.0, list_transform(qv, v -> v * v)),
       |           (x, y) -> x + y) AS rq2
       |  FROM qz),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce,
       |         list_reduce(list_prepend(0.0, list_transform(range(1, ${DIM + 1}),
       |             i -> q.qv[i] * c.qv[i])), (x, y) -> x + y)
       |           / (sqrt(q.rq2) * sqrt(c.rq2)) AS approx
       |  FROM nz q JOIN nz c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |pref AS (
       |  SELECT qid, cid, qe, ce FROM (
       |    SELECT qid, cid, qe, ce,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx DESC, cid) AS pr
       |    FROM scored) WHERE pr <= $PREF),
       |rer AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM pref),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM rer)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin

  private val RS_TAU = 0.30 // cosine threshold for the range search
  private val RS_EPS = 0.05 // prefilter slack covering int8 quantization error

  /** Cosine RANGE search ("every neighbor within τ", not top-k) — the
    * radius twin of s_ann_quantized, and the shape dedup thresholds
    * want (a fixed similarity bar, unknown result count). Phase 1
    * scores candidates with the int8-derived approximate cosine and
    * keeps approx ≥ τ − ε (the amax factors cancel, so the prefilter
    * is pure small-integer arithmetic); phase 2 reranks ONLY the
    * survivors with exact float cosine and applies the true τ. ε=0.05
    * is an order of magnitude above the observed int8 cosine error at
    * 64 dims, so phase 1 is effectively lossless; the oracle states
    * the same two-phase pipeline (the s_ann_quantized convention: the
    * gate pins the pipeline bitwise, the recall margin is the
    * documented design). At 100 TB the corpus side reads only the
    * 4x-smaller int8 column; the float column is touched per
    * survivor. */
  val rangeSearch: Q = (s, dir) => {
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("amax", aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .where(col("amax") > 0)
      .withColumn("q", transform(col("e"), x => floor(x / col("amax") * 127.0 + lit(0.5))))
      .withColumn("rq2", aggregate(col("q"), lit(0L), (a, qi) => a + qi * qi))
    val cand = base.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("q").as("cq"), col("rq2").as("crq2"))
    val qs = base.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("q").as("qq"), col("rq2").as("qrq2"))
    cand.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("dotq",
        aggregate(zip_with(col("qq"), col("cq"), (a, b) => a * b), lit(0L), (a, x) => a + x))
      .where(col("dotq").cast("double") /
        (sqrt(col("qrq2").cast("double")) * sqrt(col("crq2").cast("double"))) >= RS_TAU - RS_EPS)
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .where(col("cos") >= RS_TAU)
  }

  val rangeSearchSql: String =
    s"""WITH d AS (
       |  SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, embedding, e,
       |         list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
       |           (x, y) -> greatest(x, y)) AS amax
       |  FROM d),
       |qz AS (
       |  SELECT vec_id, embedding,
       |         list_transform(e, x -> floor(x / amax * 127.0 + 0.5)) AS qv
       |  FROM a WHERE amax > 0),
       |nz AS (
       |  SELECT vec_id, embedding, qv,
       |         list_reduce(list_prepend(0.0, list_transform(qv, v -> v * v)),
       |           (x, y) -> x + y) AS rq2
       |  FROM qz),
       |pref AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
       |  FROM nz q JOIN nz c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ
       |    AND list_reduce(list_prepend(0.0, list_transform(range(1, ${DIM + 1}),
       |          i -> q.qv[i] * c.qv[i])), (x, y) -> x + y)
       |        / (sqrt(q.rq2) * sqrt(c.rq2)) >= ${RS_TAU - RS_EPS})
       |SELECT qid, cid, cos FROM
       |  (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM pref)
       |WHERE cos >= $RS_TAU""".stripMargin

  // ---- Product quantization (PQ) gate ----------------------------------
  private val PQ_M = 8 // subspaces
  private val PQ_SUB = DIM / PQ_M // dims per subspace
  private val PQ_K = 8 // codes per subspace -> 3 bits/subspace, 24 bits/vector

  /** Seeded literal codebook, the [[Centroids]] pattern: the same
    * two-decimal weights are embedded in the Spark expressions AND the
    * oracle SQL, so encoding is bit-deterministic in both engines (a
    * trained codebook is float-order sensitive; quantizer QUALITY is
    * irrelevant to what the gate proves — the PQ plan shape and exact
    * ADC arithmetic). */
  private[graft] val PqSeed = 20250813L
  private[graft] val PqCodebook: Array[Array[Array[Double]]] =
    Similarity.seededPqCodebook(PQ_M, PQ_K, PQ_SUB, PqSeed)
  // per-code squared norms: computed ONCE here and embedded as literals
  // in both engines, so neither re-derives them
  private val PqN2: Array[Array[Double]] =
    PqCodebook.map(_.map(c => c.map(x => x * x).sum))

  /** dot(e[subspace m], code k) as a left-assoc codegen'd chain (no HOF). */
  private def pqDot(e: org.apache.spark.sql.Column, m: Int, k: Int): org.apache.spark.sql.Column =
    (0 until PQ_SUB).map(j => e.getItem(m * PQ_SUB + j) * lit(PqCodebook(m)(k)(j)))
      .reduceLeft(_ + _)

  private def pqDotSql(arr: String, m: Int, k: Int): String =
    (0 until PQ_SUB)
      .map(j => s"CAST($arr[${m * PQ_SUB + j + 1}] AS DOUBLE) * ${fmt(PqCodebook(m)(k)(j))}")
      .mkString(" + ")

  /** The 8 code distances for subspace m as ONE array column: argmin is
    * then array_position(arr, array_min(arr)) - 1 (first-k tie-break in
    * both engines), so each distance expression is built exactly once —
    * a LEAST + CASE chain re-inlines every score ~2k times and blows the
    * codegen budget (measured 4.1 s vs 0.9 s warm at sf0.1). Distances
    * use the monotone form n2 - 2*dot (|e_m|^2 is common per subspace). */
  private def pqScores(e: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column =
    array((0 until PQ_K).map(k => lit(PqN2(m)(k)) - lit(2.0) * pqDot(e, m, k)): _*)

  /** PQ ANN: corpus vectors collapse to [[PQ_M]] 3-bit codes (24 bits —
    * a 170x compression of the float64 view, 21x of float32), queries
    * precompute per-subspace dot tables against the codebook, and ADC
    * scoring is [[PQ_M]] table lookups + one sqrt per candidate — no
    * per-dimension work in the scoring loop at all. Approximate ranking
    * = sum_m qd_m[code_m] / sqrt(sum_m n2_m[code_m]) (the |q| factor is
    * per-query constant); exact float cosine reranks the top [[PREF]].
    * At 100 TB the scored scan is the codes column — bytes per vector —
    * and the float column is read for PREF rows per query. */
  val annPq: Q = (s, dir) => {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    val withArrs = (0 until PQ_M).foldLeft(base)((df, m) =>
      df.withColumn(s"arr_$m", pqScores(col("e"), m)))
    val withCodes = (0 until PQ_M).foldLeft(withArrs)((df, m) =>
      df.withColumn(s"c$m",
        (array_position(col(s"arr_$m"), array_min(col(s"arr_$m"))) - 1).cast("int")))
    val n2s = (0 until PQ_M).map(m =>
      element_at(typedLit(PqN2(m).toSeq), col(s"c$m") + 1)).reduceLeft(_ + _)
    val cand = withCodes.select((col("vec_id").as("cid") +: col("embedding").as("ce") +:
      (0 until PQ_M).map(m => col(s"c$m"))) :+ n2s.as("n2s"): _*)
    val qds = (0 until PQ_M).map(m =>
      array((0 until PQ_K).map(k => pqDot(col("e"), m, k)): _*).as(s"qd$m"))
    val qs = base.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid") +: col("embedding").as("qe") +: qds: _*)
    val adc = (0 until PQ_M).map(m =>
      element_at(col(s"qd$m"), col(s"c$m") + 1)).reduceLeft(_ + _)
    val scored = cand.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("approx", adc / sqrt(col("n2s")))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("pr", row_number().over(wp)).where(col("pr") <= PREF)
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rank", row_number().over(wr)).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annPqSql: String = {
    val scoreCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k =>
        s"${fmt(PqN2(m)(k))} - 2.0 * (${pqDotSql("embedding", m, k)})").mkString(", ")}) AS arr_$m")
      .mkString(",\n       |  ")
    val codeCols = (0 until PQ_M).map(m =>
      s"CAST(list_position(arr_$m, list_min(arr_$m)) - 1 AS INT) AS c_$m")
      .mkString(",\n       |  ")
    val n2sSql = (0 until PQ_M).map(m =>
      s"list_extract(list_value(${PqN2(m).map(fmt).mkString(", ")}), c_$m + 1)")
      .mkString(" + ")
    val qdCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k => s"(${pqDotSql("embedding", m, k)})").mkString(", ")}) AS qd_$m")
      .mkString(",\n       |  ")
    val adcSql = (0 until PQ_M).map(m => s"list_extract(qd_$m, c_$m + 1)").mkString(" + ")
    s"""WITH sc AS (
       |  SELECT vec_id, embedding,
       |  $scoreCols
       |  FROM embeddings),
       |enc AS (
       |  SELECT vec_id, embedding,
       |  $codeCols
       |  FROM sc),
       |cand AS (
       |  SELECT vec_id AS cid, embedding AS ce,
       |         ${(0 until PQ_M).map(m => s"c_$m").mkString(", ")},
       |         $n2sSql AS n2s
       |  FROM enc),
       |qs AS (
       |  SELECT vec_id AS qid, embedding AS qe,
       |  $qdCols
       |  FROM embeddings WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT qid, cid, qe, ce, ($adcSql) / sqrt(n2s) AS approx
       |  FROM cand, qs WHERE cid <> qid),
       |pref AS (
       |  SELECT qid, cid, qe, ce FROM (
       |    SELECT qid, cid, qe, ce,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx DESC, cid) AS pr
       |    FROM scored) WHERE pr <= $PREF),
       |rer AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM pref),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM rer)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** Seeded random sign projection (Achlioptas 2003 / JL lemma): 64-dim
    * embeddings down to 16 dims via a ±1 matrix derived from the
    * portable h60 hash — sign(m,j) = ±1 by h60("rp:m,j") parity — so
    * the matrix is never stored or shipped: any engine (and any future
    * run) regenerates it bit-identically from the seed string. The
    * projection is the standard ANN/sketch prefilter when 4x fewer
    * dimensions pay for a coarser first pass. Plan shape: ZERO
    * Exchanges — one scan, one codegen'd projection; each output
    * coordinate is a strict left-to-right 64-term double chain, which
    * DuckDB's list_reduce reproduces bitwise. */
  val randomProj: Q = (s, dir) => {
    val dims = 16
    val cols = (0 until dims).map { m =>
      (0 until 64).map { j =>
        val sign = if (graft.text.TextOps.hash60(s"rp:$m,$j") % 2 == 0) 1.0 else -1.0
        element_at(col("embedding"), j + 1).cast("double") * lit(sign)
      }.reduceLeft(_ + _).as(s"p$m")
    }
    table(s, dir, "embeddings").select(col("vec_id") +: cols: _*)
  }

  val randomProjSql: String = {
    val dims = 16
    val exprs = (0 until dims).map { m =>
      s"""list_reduce(list_transform(range(1, 65),
         |    j -> (CASE WHEN ${graft.text.TextOps.h60Sql(s"'rp:$m,' || CAST(j - 1 AS VARCHAR)")} % 2 = 0
         |          THEN 1.0 ELSE -1.0 END) * CAST(embedding[j] AS DOUBLE)),
         |  (x, y) -> x + y) AS p$m""".stripMargin
    }.mkString(",\n")
    s"SELECT vec_id,\n$exprs\nFROM embeddings"
  }

  private val MMR_C = 12 // retrieval depth fed to the diversifier
  private val MMR_K = 6  // diversified picks

  /** MMR-diversified re-ranking — retrieval depth C by quantized cosine
    * to one query vector, then greedy Maximal Marginal Relevance picks
    * K of them (Similarity.mmrSelect): the de-redundancy pass a
    * training-data sampler runs so near-duplicate top hits don't crowd
    * the budget. All similarities are exact integer dots over the int8
    * column divided by sqrt'd norms — the same fixed-order chain in
    * the Scala selector and the oracle's UNROLLED six selection steps
    * (k is a constant, so the greedy loop is literal SQL) — and ties
    * take the smallest vec_id, so the pick sequence is
    * bit-deterministic. Scale shape: one corpus scan of the quantized
    * column + a TakeOrdered C; the greedy loop runs on C rows, driver-
    * bounded by construction. */
  val mmrRerank: Q = (s, dir) => {
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("amax", aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .where(col("amax") > 0)
      .withColumn("q", transform(col("e"), x => floor(x / col("amax") * 127.0 + lit(0.5))))
      .withColumn("rq2", aggregate(col("q"), lit(0L), (a, qi) => a + qi * qi))
    val qv = base.where(col("vec_id") === 0)
      .select(col("q").as("qq"), col("rq2").as("qrq2"))
    val cands = base.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("dotq",
        aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b), lit(0L), (a, x) => a + x))
      .withColumn("rel", col("dotq").cast("double")
        / (sqrt(col("qrq2").cast("double")) * sqrt(col("rq2").cast("double"))))
      .orderBy(col("rel").desc, col("vec_id")).limit(MMR_C)
      .select(col("vec_id"), col("rel"), col("q"), col("rq2").cast("double").as("rq2"))
    // Spark's floor() yields BIGINT, so q is an array<long>; the selector
    // works in integral doubles (exact under 2^53)
    val rows = cands.collect().map(r =>
      (r.getLong(0), r.getDouble(1),
        r.getSeq[Long](2).toArray.map(_.toDouble), r.getDouble(3))).toSeq
    val sel = Similarity.mmrSelect(rows, MMR_K)
    import s.implicits._
    sel.toDF("rank", "vec_id", "rel")
  }

  val mmrRerankSql: String = {
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${DIM + 1}),
         |             i -> $a.qv[i] * $b.qv[i])), (x, y) -> x + y)
         |           / (sqrt($a.rq2) * sqrt($b.rq2))""".stripMargin
    val steps = (2 to MMR_K).map { i =>
      val prev = s"p${i - 1}"
      s"""s$i AS (
         |  SELECT c.cid FROM cands c JOIN sims m ON m.a = c.cid
         |  WHERE m.b IN (SELECT cid FROM $prev)
         |    AND c.cid NOT IN (SELECT cid FROM $prev)
         |  GROUP BY c.cid, c.rel
         |  ORDER BY c.rel - MAX(m.sim) DESC, c.cid LIMIT 1),
         |p$i AS (SELECT cid FROM $prev UNION ALL SELECT cid FROM s$i)""".stripMargin
    }.mkString(",\n")
    val unions = (2 to MMR_K).map(i => s"UNION ALL SELECT $i, cid FROM s$i").mkString(" ")
    s"""WITH d AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, e,
       |         list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
       |           (x, y) -> greatest(x, y)) AS amax
       |  FROM d),
       |nz AS (
       |  SELECT vec_id,
       |         list_transform(e, x -> floor(x / amax * 127.0 + 0.5)) AS qv,
       |         list_reduce(list_prepend(0.0,
       |           list_transform(list_transform(e, x -> floor(x / amax * 127.0 + 0.5)),
       |             v -> v * v)), (x, y) -> x + y) AS rq2
       |  FROM a WHERE amax > 0),
       |qv AS (SELECT qv, rq2 FROM nz WHERE vec_id = 0),
       |rels AS (
       |  SELECT c.vec_id AS cid,
       |         ${dot("q", "c")} AS rel
       |  FROM nz c, qv q WHERE c.vec_id <> 0),
       |cands AS (SELECT cid, rel FROM rels ORDER BY rel DESC, cid LIMIT $MMR_C),
       |sims AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |         ${dot("x", "y")} AS sim
       |  FROM nz x JOIN nz y ON x.vec_id <> y.vec_id
       |  WHERE x.vec_id IN (SELECT cid FROM cands)
       |    AND y.vec_id IN (SELECT cid FROM cands)),
       |s1 AS (SELECT cid FROM cands ORDER BY rel DESC, cid LIMIT 1),
       |p1 AS (SELECT cid FROM s1),
       |$steps,
       |final AS (SELECT 1 AS rank, cid FROM s1 $unions)
       |SELECT CAST(f.rank AS INT) AS rank, f.cid AS vec_id, c.rel
       |FROM final f JOIN cands c USING (cid)""".stripMargin
  }

  // Deterministic OPQ-lite rotation: a seeded PERMUTATION + SIGN-FLIP
  // matrix — orthogonal (norm- and cosine-preserving) yet exactly
  // replayable as literals in both engines, unlike the PCA-trained
  // rotation (Similarity.opqRotation, float-order sensitive, recall-
  // spec'd in SimilaritySpec). Decorrelates subspaces by scattering
  // adjacent dimensions across them.
  private val OpqPerm: Array[Int] = {
    val rnd = new scala.util.Random(20240707L)
    rnd.shuffle((0 until DIM).toList).toArray
  }
  private val OpqSign: Array[Int] = {
    val rnd = new scala.util.Random(20240708L)
    Array.fill(DIM)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** OPQ-shaped PQ ANN with the literal rotation: rotate (one
    * zero-shuffle projection — at scale it fuses into the encode pass),
    * PQ-encode the ROTATED vectors against the same codebook, ADC-score
    * rotated queries, rerank survivors by exact cosine on the ORIGINAL
    * floats (the rotation is orthogonal, so true cosine is unchanged —
    * the gate hash-proves the whole rotated pipeline still ranks
    * correctly). Plan shape is identical to s_ann_pq plus the
    * projection; the trained-rotation path swaps the literal matrix
    * for the PCA one. */
  val annOpq: Q = (s, dir) => {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("er", array((0 until DIM).map(i =>
        lit(OpqSign(i).toDouble) * col("e").getItem(OpqPerm(i))): _*))
    val withArrs = (0 until PQ_M).foldLeft(base)((df, m) =>
      df.withColumn(s"arr_$m", pqScores(col("er"), m)))
    val withCodes = (0 until PQ_M).foldLeft(withArrs)((df, m) =>
      df.withColumn(s"c$m",
        (array_position(col(s"arr_$m"), array_min(col(s"arr_$m"))) - 1).cast("int")))
    val n2s = (0 until PQ_M).map(m =>
      element_at(typedLit(PqN2(m).toSeq), col(s"c$m") + 1)).reduceLeft(_ + _)
    val cand = withCodes.select((col("vec_id").as("cid") +: col("embedding").as("ce") +:
      (0 until PQ_M).map(m => col(s"c$m"))) :+ n2s.as("n2s"): _*)
    val qds = (0 until PQ_M).map(m =>
      array((0 until PQ_K).map(k => pqDot(col("er"), m, k)): _*).as(s"qd$m"))
    val qs = base.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid") +: col("embedding").as("qe") +: qds: _*)
    val adc = (0 until PQ_M).map(m =>
      element_at(col(s"qd$m"), col(s"c$m") + 1)).reduceLeft(_ + _)
    val scored = cand.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("approx", adc / sqrt(col("n2s")))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("pr", row_number().over(wp)).where(col("pr") <= PREF)
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rank", row_number().over(wr)).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annOpqSql: String = {
    val rotSql = s"list_value(${(0 until DIM).map(i =>
      s"${OpqSign(i)} * CAST(embedding[${OpqPerm(i) + 1}] AS DOUBLE)").mkString(", ")})"
    val scoreCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k =>
        s"${fmt(PqN2(m)(k))} - 2.0 * (${pqDotSql("er", m, k)})").mkString(", ")}) AS arr_$m")
      .mkString(",\n       |  ")
    val codeCols = (0 until PQ_M).map(m =>
      s"CAST(list_position(arr_$m, list_min(arr_$m)) - 1 AS INT) AS c_$m")
      .mkString(",\n       |  ")
    val n2sSql = (0 until PQ_M).map(m =>
      s"list_extract(list_value(${PqN2(m).map(fmt).mkString(", ")}), c_$m + 1)")
      .mkString(" + ")
    val qdCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k => s"(${pqDotSql("er", m, k)})").mkString(", ")}) AS qd_$m")
      .mkString(",\n       |  ")
    val adcSql = (0 until PQ_M).map(m => s"list_extract(qd_$m, c_$m + 1)").mkString(" + ")
    s"""WITH rot AS (
       |  SELECT vec_id, embedding, $rotSql AS er FROM embeddings),
       |sc AS (
       |  SELECT vec_id, embedding,
       |  $scoreCols
       |  FROM rot),
       |enc AS (
       |  SELECT vec_id, embedding,
       |  $codeCols
       |  FROM sc),
       |cand AS (
       |  SELECT vec_id AS cid, embedding AS ce,
       |         ${(0 until PQ_M).map(m => s"c_$m").mkString(", ")},
       |         $n2sSql AS n2s
       |  FROM enc),
       |qs AS (
       |  SELECT vec_id AS qid, embedding AS qe,
       |  $qdCols
       |  FROM rot WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT q.qid, c.cid, c.ce, q.qe,
       |         ($adcSql) / sqrt(c.n2s) AS approx
       |  FROM cand c CROSS JOIN qs q WHERE q.qid <> c.cid),
       |pref AS (
       |  SELECT qid, cid, ce, qe,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx DESC, cid) AS pr
       |  FROM scored),
       |rer AS (
       |  SELECT qid, cid, ${cosSql("qe", "ce")} AS cos
       |  FROM pref WHERE pr <= $PREF)
       |SELECT qid, cid, cos, rank FROM (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM rer) WHERE rank <= $K""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023) — semantic dedup the way the paper
    * stages it: CLUSTER the embeddings (the seeded coarse quantizer —
    * at production scale, a trained k-means via [[kmeansStep]]), then
    * compare pairs only WITHIN a cluster and drop the higher id of
    * every above-threshold pair. This is the third dedup granularity
    * beside s_cosine_dedup's LSH buckets and the MinHash text path:
    * quadratic work is bounded by the largest CLUSTER, the knob the
    * paper turns (more clusters → smaller quadratic islands → the
    * recall/cost trade). Output marks every vector kept/dropped, so
    * the gate pins assignment, pairing, threshold and survivorship in
    * one hash. */
  val semDedup: Q = (s, dir) => {
    val scores = array((0 until NLIST).map(j => centScore(col("embedding"), j)): _*)
    val assigned = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), scores.as("s"))
      .select(col("vec_id"), col("embedding"),
        (array_position(col("s"), array_max(col("s"))) - 1).cast("int").as("cluster"))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .where(Similarity.cosine(col("a.embedding"), col("b.embedding")) >= DupThreshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("hit").isNull.as("kept"))
  }

  val semDedupSql: String = {
    val scoresSql = (0 until NLIST).map(j => centScoreSql("embedding", j)).mkString("[", ", ", "]")
    s"""WITH sc AS (SELECT vec_id, embedding, $scoresSql AS s FROM embeddings),
       |a AS (
       |  SELECT vec_id, embedding,
       |         CAST(list_position(s, list_aggregate(s, 'max')) - 1 AS INT) AS cluster
       |  FROM sc),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${cosSql("x.embedding", "y.embedding")} >= $DupThreshold)
       |SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept
       |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin
  }

  /** One Lloyd iteration of k-means AS A QUERY — the training step the
    * fit-at-runtime paths (Similarity.ivfTopK, pqTrain) run repeatedly,
    * here made oracle-checkable: assign every vector to its nearest
    * seeded literal centroid (the s_ann_ivf argmax chain — both engines
    * evaluate the identical CASE), then recompute each cluster's mean
    * per dimension in 2^20 fixed point, so the "new centroid" is an
    * exact rational of integer sums (the m_centroid_confusion mean
    * discipline). Scale shape: assignment is ONE projection over the
    * corpus scan, the update ONE (cluster, dim)-keyed partial-agg
    * groupBy — k·d rows out regardless of corpus size; iterating =
    * re-running with the emitted centroids as the next literals. */
  val kmeansStep: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    // argmax via ONE scores array + first-occurrence position — the
    // s_ann_pq lesson: a LEAST/CASE comparison chain re-inlines every
    // score expression O(k²) times and blows the codegen budget (the
    // chain form measured 8.8 s here vs 0.6 s for this); first
    // array_position matches clusterOf's lowest-index tie rule
    val scores = array((0 until NLIST).map(j => centScore(col("embedding"), j)): _*)
    e.select(col("embedding"), scores.as("s")) // named once: argmax reads it twice
      .select(
        (array_position(col("s"), array_max(col("s"))) - 1).cast("int").as("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cluster"), col("pos"),
        floor(col("v").cast("double") * CentScale).as("q"))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("cnt"))
      .select(col("cluster"), col("pos"), col("cnt").as("n_assigned"),
        (col("qs").cast("double") / (col("cnt").cast("double") * CentScale)).as("v_new"))
  }

  val kmeansStepSql: String = {
    val scoresSql = (0 until NLIST).map(j => centScoreSql("embedding", j)).mkString("[", ", ", "]")
    s"""WITH sc AS (SELECT embedding, $scoresSql AS s FROM embeddings),
       |a AS (
       |  SELECT CAST(list_position(s, list_aggregate(s, 'max')) - 1 AS INT) AS cluster,
       |         embedding
       |  FROM sc)
       |SELECT cluster, CAST(r.i - 1 AS INT) AS pos,
       |       COUNT(*) AS n_assigned,
       |       CAST(SUM(CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * $CentScale) AS BIGINT)) AS DOUBLE)
       |         / (COUNT(*) * $CentScale) AS v_new
       |FROM a CROSS JOIN range(1, ${DIM + 1}) r(i)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Best decision stump (1-node decision tree) over the first four
    * embedding dimensions — the classic weak learner, trained by the
    * TRAINING-ACCURACY criterion so the whole search is integer
    * arithmetic (gini/entropy need per-split divisions whose float
    * fold order no bitwise oracle survives; accuracy = left-majority
    * + right-majority COUNTS). Features quantize by ×8-and-floor — a
    * power of two, so the float→double→scale chain is EXACT in both
    * engines and bins are tie-free. Shape: one corpus pass builds
    * per-(dim, bin, label) counts (the only data-sized shuffle); the
    * candidate-split search runs on the tiny dims×bins×labels grid
    * via cumulative windows — threshold count is a resolution knob,
    * independent of corpus size, exactly how large-scale tree
    * libraries (LightGBM's histogram mode) decouple split search
    * from data volume. Tie-break: smallest (dim, bin). */
  val dectreeStump: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val D = 4
    val e = table(s, dir, "embeddings")
    val pairs = e.select(col("label"),
        explode(array((1 to D).map(d => struct(lit(d).as("dim"),
          floor(element_at(col("embedding"), d).cast("double") * 8).cast("long")
            .as("v"))): _*)).as("p"))
      .select(col("label"), col("p.dim").as("dim"), col("p.v").as("v"))
    val counts = pairs.groupBy(col("dim"), col("v"), col("label"))
      .agg(count(lit(1)).as("n"))
    val grid = counts.select(col("dim"), col("v")).distinct()
      .crossJoin(counts.select(col("label")).distinct())
      .join(counts, Seq("dim", "v", "label"), "left")
      .select(col("dim"), col("v"), col("label"), coalesce(col("n"), lit(0L)).as("n"))
    val cum = grid
      .withColumn("cum",
        sum(col("n")).over(Window.partitionBy(col("dim"), col("label")).orderBy(col("v"))))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("dim"), col("label"))))
    cum.groupBy(col("dim"), col("v"))
      .agg(max(col("cum")).as("lb"), max(col("tot") - col("cum")).as("rb"),
        sum(col("tot")).as("n_total"))
      .select(col("dim"), col("v"), (col("lb") + col("rb")).as("n_correct"), col("n_total"))
      .orderBy(col("n_correct").desc, col("dim"), col("v"))
      .limit(1)
      .select(col("dim"), (col("v").cast("double") / 8.0).as("threshold"),
        col("n_correct"),
        (col("n_correct").cast("double") / col("n_total").cast("double")).as("acc"))
  }

  val dectreeStumpSql: String =
    """WITH dims AS (SELECT UNNEST(range(1, 5)) AS dim),
      |pairs AS (
      |  SELECT label, CAST(d.dim AS INT) AS dim,
      |         CAST(FLOOR(CAST(embedding[d.dim] AS DOUBLE) * 8) AS BIGINT) AS v
      |  FROM embeddings CROSS JOIN dims d),
      |counts AS (SELECT dim, v, label, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT vals.dim, vals.v, labels.label, COALESCE(c.n, 0) AS n
      |  FROM (SELECT DISTINCT dim, v FROM counts) vals
      |  CROSS JOIN (SELECT DISTINCT label FROM counts) labels
      |  LEFT JOIN counts c ON c.dim = vals.dim AND c.v = vals.v AND c.label = labels.label),
      |cum AS (
      |  SELECT dim, v,
      |         SUM(n) OVER (PARTITION BY dim, label ORDER BY v) AS cum,
      |         SUM(n) OVER (PARTITION BY dim, label) AS tot
      |  FROM grid),
      |split AS (
      |  SELECT dim, v, MAX(cum) AS lb, MAX(tot - cum) AS rb, SUM(tot) AS n_total
      |  FROM cum GROUP BY 1, 2),
      |ranked AS (
      |  SELECT dim, v, lb + rb AS n_correct, n_total,
      |         ROW_NUMBER() OVER (ORDER BY lb + rb DESC, dim, v) AS rn
      |  FROM split)
      |SELECT dim, CAST(v AS DOUBLE) / 8.0 AS threshold,
      |       CAST(n_correct AS BIGINT) AS n_correct,
      |       CAST(n_correct AS DOUBLE) / CAST(n_total AS DOUBLE) AS acc
      |FROM ranked WHERE rn = 1""".stripMargin

  /** Two rounds of discrete AdaBoost over decision stumps (binary
    * target = label parity) — boosting expressed as queries, the
    * m_dectree_stump weak learner upgraded to WEIGHTED counts. The
    * classic α = ½ln((1−ε)/ε) never appears: the weight update only
    * needs exp(2α) = (1−ε)/ε, a RATIO of exact integer weight sums, so
    * misclassified rows rescale by (wcorrect div werr) in 2^20
    * fixed-point and every quantity in both rounds stays integer
    * (the HITS/kfold discipline — no ln/exp, whose libm rounding the
    * engines need not share). Round-2's stump search runs the same
    * dense-grid cumulative-window machinery over weight sums instead
    * of row counts. Scale shape: the quantized feature pairs are ONE
    * corpus pass reused by both rounds (lazy checkpoint); each round
    * is a grid-sized window pass + a 1-row broadcast back to rows.
    * Headroom: W0·wcorrect < 2^63 up to ~8e6 rows at W0 = 2^20 —
    * at larger corpora drop W0 a power of two. */
  val adaboost: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val D = 4
    val W0 = 1048576L
    val e = table(s, dir, "embeddings")
      .select(col("vec_id"), (col("label") % 2).cast("int").as("y"), col("embedding"))
    val pairs = e.select(col("vec_id"), col("y"),
        explode(array((1 to D).map(d => struct(lit(d).as("dim"),
          floor(element_at(col("embedding"), d).cast("double") * 8).cast("long")
            .as("v"))): _*)).as("p"))
      .select(col("vec_id"), col("y"), col("p.dim").as("dim"), col("p.v").as("v"))
      .localCheckpoint(false) // lazy, no build-time job (TextOps.pageRank's scaladoc)
    // best stump under per-row weights: (dim, v, lpred, rpred,
    // wcorrect, wtot) — binary labels, tie-break pred 0, then (dim, v)
    def bestStump(w: DataFrame): DataFrame = {
      val counts = pairs.join(w, Seq("vec_id"))
        .groupBy(col("dim"), col("v"), col("y")).agg(sum(col("wt")).as("n"))
      // the label side is 2 rows — declare the broadcast or Catalyst's
      // post-join stats estimate plans a CartesianProduct
      val grid = counts.select(col("dim"), col("v")).distinct()
        .crossJoin(broadcast(counts.select(col("y")).distinct()))
        .join(counts, Seq("dim", "v", "y"), "left")
        .select(col("dim"), col("v"), col("y"), coalesce(col("n"), lit(0L)).as("n"))
      val cum = grid
        .withColumn("cum",
          sum(col("n")).over(Window.partitionBy(col("dim"), col("y")).orderBy(col("v"))))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("dim"), col("y"))))
      cum.groupBy(col("dim"), col("v")).agg(
          max(when(col("y") === 0, col("cum"))).as("l0"),
          max(when(col("y") === 1, col("cum"))).as("l1"),
          max(when(col("y") === 0, col("tot") - col("cum"))).as("r0"),
          max(when(col("y") === 1, col("tot") - col("cum"))).as("r1"),
          sum(col("tot")).as("wtot"))
        .select(col("dim"), col("v"),
          (greatest(col("l0"), col("l1")) + greatest(col("r0"), col("r1"))).as("wcorrect"),
          col("wtot"),
          when(col("l0") >= col("l1"), 0).otherwise(1).as("lpred"),
          when(col("r0") >= col("r1"), 0).otherwise(1).as("rpred"))
        .orderBy(col("wcorrect").desc, col("dim"), col("v")).limit(1)
    }
    val w1 = e.select(col("vec_id"), lit(W0).as("wt"))
    val s1 = broadcast(bestStump(w1).select(
      col("dim").as("d1"), col("v").as("t1"), col("lpred").as("lp1"),
      col("rpred").as("rp1"), col("wcorrect").as("wc1"), col("wtot").as("wt1")))
    // reweight: misclassified rows scale by wcorrect/werr (integer div)
    val w2 = pairs.join(s1, col("dim") === col("d1"))
      .select(col("vec_id"),
        when(when(col("v") <= col("t1"), col("lp1")).otherwise(col("rp1")) === col("y"),
          lit(W0))
          .otherwise(when(col("wt1") === col("wc1"), lit(W0))
            .otherwise(expr(s"($W0 * wc1) div (wt1 - wc1)"))).as("wt"))
    val s2 = bestStump(w2)
    val row1 = s1.select(lit(1).as("round"), col("d1").as("dim"),
      (col("t1").cast("double") / 8.0).as("threshold"),
      col("lp1").as("lpred"), col("rp1").as("rpred"),
      ((col("wt1") - col("wc1")).cast("double") / col("wt1").cast("double")).as("werr"))
    val row2 = s2.select(lit(2).as("round"), col("dim"),
      (col("v").cast("double") / 8.0).as("threshold"),
      col("lpred"), col("rpred"),
      ((col("wtot") - col("wcorrect")).cast("double") / col("wtot").cast("double")).as("werr"))
    row1.unionByName(row2)
  }

  val adaboostSql: String = {
    val W0 = 1048576L
    // stump search over a weighted (vec_id, y, dim, v, wt) relation
    def stump(src: String): String =
      s"""counts_$src AS (SELECT dim, v, y, CAST(SUM(wt) AS BIGINT) AS n
         |  FROM $src GROUP BY 1, 2, 3),
         |grid_$src AS (
         |  SELECT vals.dim, vals.v, labels.y, COALESCE(c.n, 0) AS n
         |  FROM (SELECT DISTINCT dim, v FROM counts_$src) vals
         |  CROSS JOIN (SELECT DISTINCT y FROM counts_$src) labels
         |  LEFT JOIN counts_$src c
         |    ON c.dim = vals.dim AND c.v = vals.v AND c.y = labels.y),
         |cum_$src AS (
         |  SELECT dim, v, y,
         |         SUM(n) OVER (PARTITION BY dim, y ORDER BY v) AS cum,
         |         SUM(n) OVER (PARTITION BY dim, y) AS tot
         |  FROM grid_$src),
         |agg_$src AS (
         |  SELECT dim, v,
         |         CAST(MAX(CASE WHEN y = 0 THEN cum END) AS BIGINT) AS l0,
         |         CAST(MAX(CASE WHEN y = 1 THEN cum END) AS BIGINT) AS l1,
         |         CAST(MAX(CASE WHEN y = 0 THEN tot - cum END) AS BIGINT) AS r0,
         |         CAST(MAX(CASE WHEN y = 1 THEN tot - cum END) AS BIGINT) AS r1,
         |         CAST(SUM(tot) AS BIGINT) AS wtot
         |  FROM cum_$src GROUP BY 1, 2),
         |best_$src AS (
         |  SELECT dim, v,
         |         GREATEST(l0, l1) + GREATEST(r0, r1) AS wcorrect, wtot,
         |         CASE WHEN l0 >= l1 THEN 0 ELSE 1 END AS lpred,
         |         CASE WHEN r0 >= r1 THEN 0 ELSE 1 END AS rpred,
         |         ROW_NUMBER() OVER (ORDER BY GREATEST(l0, l1) + GREATEST(r0, r1) DESC,
         |                            dim, v) AS rn
         |  FROM agg_$src)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(label % 2 AS INT) AS y, embedding
       |           FROM embeddings),
       |pairs AS (
       |  SELECT vec_id, y, CAST(d.i AS INT) AS dim,
       |         CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 8) AS BIGINT) AS v
       |  FROM e CROSS JOIN range(1, 5) d(i)),
       |wp1 AS (SELECT vec_id, y, dim, v, $W0 AS wt FROM pairs),
       |${stump("wp1")},
       |s1 AS (SELECT dim AS d1, v AS t1, lpred AS lp1, rpred AS rp1,
       |              wcorrect AS wc1, wtot AS wt1
       |       FROM best_wp1 WHERE rn = 1),
       |wp2 AS (
       |  SELECT p.vec_id, p.y, p.dim, p.v, w.wt
       |  FROM pairs p JOIN (
       |    SELECT vec_id,
       |           CASE WHEN (CASE WHEN v <= t1 THEN lp1 ELSE rp1 END) = y THEN $W0
       |                WHEN wt1 = wc1 THEN $W0
       |                ELSE ($W0 * wc1) // (wt1 - wc1) END AS wt
       |    FROM pairs, s1 WHERE dim = d1) w
       |  ON p.vec_id = w.vec_id),
       |${stump("wp2")}
       |SELECT 1 AS round, d1 AS dim, CAST(t1 AS DOUBLE) / 8.0 AS threshold,
       |       lp1 AS lpred, rp1 AS rpred,
       |       CAST(wt1 - wc1 AS DOUBLE) / CAST(wt1 AS DOUBLE) AS werr
       |FROM s1
       |UNION ALL
       |SELECT 2 AS round, dim, CAST(v AS DOUBLE) / 8.0 AS threshold,
       |       lpred, rpred,
       |       CAST(wtot - wcorrect AS DOUBLE) / CAST(wtot AS DOUBLE) AS werr
       |FROM best_wp2 WHERE rn = 1""".stripMargin
  }

  /** Per-dimension embedding drift between two hash-derived corpus
    * halves — the ML-ops monitor that catches a silently retrained or
    * re-normalized encoder before it poisons an index: |mean_a −
    * mean_b| per dimension over 2^20-quantized values (exact long
    * sums; the mean difference is one fixed double chain). The
    * distribution-level twin of t_psi's scalar drift. One corpus
    * pass, one (dim)-keyed aggregation with conditional sums — 64
    * rows out at any corpus size. */
  val embedDrift: Q = (s, dir) => {
    val cells = table(s, dir, "embeddings")
      .select(graft.text.TextOps.hashBucket(col("vec_id"), 2).cast("int").as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("half"), col("pos"),
        floor(col("v").cast("double") * CentScale).cast("long").as("q"))
    val meanA = col("s_a").cast("double") / (col("n_a").cast("double") * CentScale)
    val meanB = col("s_b").cast("double") / (col("n_b").cast("double") * CentScale)
    cells.groupBy(col("pos")).agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 0, col("q")).otherwise(0L)).as("s_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("half") === 1, col("q")).otherwise(0L)).as("s_b"))
      .select(col("pos").as("dim"), col("n_a"), col("n_b"),
        meanA.as("mean_a"), meanB.as("mean_b"), abs(meanA - meanB).as("shift"))
  }

  val embedDriftSql: String = {
    val meanA = s"(CAST(s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * $CentScale))"
    val meanB = s"(CAST(s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * $CentScale))"
    s"""WITH cells AS (
       |  SELECT CAST(${graft.text.TextOps.hashBucketSql("vec_id", 2)} AS INT) AS half,
       |         CAST(gs - 1 AS INT) AS pos,
       |         CAST(FLOOR(CAST(x AS DOUBLE) * $CentScale) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |               generate_subscripts(embedding, 1) AS gs
       |        FROM embeddings) z),
       |g AS (SELECT pos,
       |        CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(SUM(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS s_a,
       |        CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |        CAST(SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS s_b
       |      FROM cells GROUP BY 1)
       |SELECT pos AS dim, n_a, n_b, $meanA AS mean_a, $meanB AS mean_b,
       |       ABS($meanA - $meanB) AS shift
       |FROM g""".stripMargin
  }

  /** Gini-impurity feature ranking over the first eight embedding
    * dimensions — the split-quality criterion m_dectree_stump's
    * accuracy objective deliberately avoided, made exact: weighted
    * impurity at a split is the RATIONAL (nl − Σc nlc²/nl + nr −
    * Σc nrc²/nr)/n of integer class counts, a fixed-order per-row
    * double chain (three divisions, no transcendental), so the full
    * Gini machinery fits the bitwise oracle after all. Same
    * histogram-mode shape as the stump: one corpus pass to per-(dim,
    * bin, label) counts, cumulative windows on the dims×bins×labels
    * grid, per-dim argmin (tie → smaller bin). Output: each dim's
    * best split and impurity — the feature-importance ranking a tree
    * ensemble starts from. */
  val featureGini: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val D = 8
    val pairs = table(s, dir, "embeddings").select(col("label"),
        explode(array((1 to D).map(d => struct(lit(d).as("dim"),
          floor(element_at(col("embedding"), d).cast("double") * 8).cast("long")
            .as("v"))): _*)).as("p"))
      .select(col("label"), col("p.dim").as("dim"), col("p.v").as("v"))
    val counts = pairs.groupBy(col("dim"), col("v"), col("label"))
      .agg(count(lit(1)).as("n"))
    val grid = counts.select(col("dim"), col("v")).distinct()
      .crossJoin(broadcast(counts.select(col("label")).distinct()))
      .join(counts, Seq("dim", "v", "label"), "left")
      .select(col("dim"), col("v"), col("label"), coalesce(col("n"), lit(0L)).as("n"))
    val cum = grid
      .withColumn("cum",
        sum(col("n")).over(Window.partitionBy(col("dim"), col("label")).orderBy(col("v"))))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("dim"), col("label"))))
    val split = cum.groupBy(col("dim"), col("v")).agg(
      sum(col("cum")).as("nl"), sum(col("tot") - col("cum")).as("nr"),
      sum(col("cum") * col("cum")).as("sl2"),
      sum((col("tot") - col("cum")) * (col("tot") - col("cum"))).as("sr2"))
    val (nl, nr, sl2, sr2) = (col("nl").cast("double"), col("nr").cast("double"),
      col("sl2").cast("double"), col("sr2").cast("double"))
    val wg = (nl - sl2 / nl + (nr - sr2 / nr)) / (nl + nr)
    val scored = split.where(col("nl") > 0 && col("nr") > 0)
      .select(col("dim"), col("v"), wg.as("wgini"))
    val w = Window.partitionBy(col("dim")).orderBy(col("wgini"), col("v"))
    scored.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("dim"), (col("v").cast("double") / 8.0).as("threshold"),
        col("wgini"))
  }

  val featureGiniSql: String = {
    val (nl, nr, sl2, sr2) = ("CAST(nl AS DOUBLE)", "CAST(nr AS DOUBLE)",
      "CAST(sl2 AS DOUBLE)", "CAST(sr2 AS DOUBLE)")
    s"""WITH pairs AS (
       |  SELECT label, CAST(d.i AS INT) AS dim,
       |         CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 8) AS BIGINT) AS v
       |  FROM embeddings CROSS JOIN range(1, 9) d(i)),
       |counts AS (SELECT dim, v, label, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT vals.dim, vals.v, labels.label, COALESCE(c.n, 0) AS n
       |  FROM (SELECT DISTINCT dim, v FROM counts) vals
       |  CROSS JOIN (SELECT DISTINCT label FROM counts) labels
       |  LEFT JOIN counts c
       |    ON c.dim = vals.dim AND c.v = vals.v AND c.label = labels.label),
       |cum AS (
       |  SELECT dim, v,
       |         SUM(n) OVER (PARTITION BY dim, label ORDER BY v) AS cum,
       |         SUM(n) OVER (PARTITION BY dim, label) AS tot
       |  FROM grid),
       |split AS (
       |  SELECT dim, v,
       |         CAST(SUM(cum) AS BIGINT) AS nl,
       |         CAST(SUM(tot - cum) AS BIGINT) AS nr,
       |         CAST(SUM(cum * cum) AS BIGINT) AS sl2,
       |         CAST(SUM((tot - cum) * (tot - cum)) AS BIGINT) AS sr2
       |  FROM cum GROUP BY 1, 2),
       |scored AS (
       |  SELECT dim, v,
       |         ($nl - $sl2 / $nl + ($nr - $sr2 / $nr)) / ($nl + $nr) AS wgini,
       |         ROW_NUMBER() OVER (PARTITION BY dim
       |           ORDER BY ($nl - $sl2 / $nl + ($nr - $sr2 / $nr)) / ($nl + $nr), v) AS r
       |  FROM split WHERE nl > 0 AND nr > 0)
       |SELECT dim, CAST(v AS DOUBLE) / 8.0 AS threshold, wgini
       |FROM scored WHERE r = 1""".stripMargin
  }

  /** PQ codebook TRAINING, determinism-contract style: assign every
    * vector's subspace slice to its nearest seeded code (the s_ann_pq
    * argmin), then one exact Lloyd refinement — per-(subspace, code,
    * dim) means over 2^20-fixed-point cells, the m_kmeans_step recipe
    * applied per subspace. Closes ROADMAP's "trained PQ codebooks"
    * within the bitwise oracle: quantizer quality improves with each
    * such pass (callers iterate; each pass is this same deterministic
    * job), and the refined codebook feeds [[Similarity.buildPqIndex]]
    * unchanged. Scale shape: ONE corpus pass computes codes + cells
    * (zero joins), one groupBy on (m, code, pos) — 512 output rows
    * regardless of corpus size. */
  val pqTrain: Q = (s, dir) => {
    val base = table(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    val withCodes = (0 until PQ_M).foldLeft(base)((df, m) =>
      df.withColumn(s"arr_$m", pqScores(col("e"), m))
        .withColumn(s"c$m",
          (array_position(col(s"arr_$m"), array_min(col(s"arr_$m"))) - 1).cast("int")))
    val sub = withCodes.select(explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), col(s"c$m").as("code"),
          array((0 until PQ_SUB).map(j =>
            floor(col("e").getItem(m * PQ_SUB + j) * CentScale).cast("long")): _*)
            .as("q"))): _*)).as("t"))
      .select(col("t.m").as("m"), col("t.code").as("code"),
        posexplode(col("t.q")).as(Seq("pos", "q")))
    sub.groupBy(col("m"), col("code"), col("pos"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("q")).as("qs"))
      .select(col("m"), col("code"), col("pos"), col("n_assigned"),
        (col("qs").cast("double") / (col("n_assigned").cast("double") * CentScale))
          .as("v_new"))
  }

  val pqTrainSql: String = {
    val scoreCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k =>
        s"${fmt(PqN2(m)(k))} - 2.0 * (${pqDotSql("embedding", m, k)})").mkString(", ")}) AS arr_$m")
      .mkString(",\n       |  ")
    val codeCols = (0 until PQ_M).map(m =>
      s"CAST(list_position(arr_$m, list_min(arr_$m)) - 1 AS INT) AS c_$m")
      .mkString(",\n       |  ")
    val branches = (0 until PQ_M).map(m =>
      s"""SELECT CAST($m AS INT) AS m, c_$m AS code, CAST(r.i - 1 AS INT) AS pos,
         |       CAST(FLOOR(CAST(embedding[${m * PQ_SUB} + r.i] AS DOUBLE) * $CentScale) AS BIGINT) AS q
         |FROM enc CROSS JOIN range(1, ${PQ_SUB + 1}) r(i)""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH sc AS (
       |  SELECT vec_id, embedding,
       |  $scoreCols
       |  FROM embeddings),
       |enc AS (
       |  SELECT vec_id, embedding,
       |  $codeCols
       |  FROM sc),
       |sub AS (
       |$branches)
       |SELECT m, code, pos, COUNT(*) AS n_assigned,
       |       CAST(SUM(q) AS DOUBLE) / (COUNT(*) * $CentScale) AS v_new
       |FROM sub GROUP BY 1, 2, 3""".stripMargin
  }

  /** K-fold cross-validation of the centroid classifier (k = 4,
    * hash-deterministic folds): per-fold training centroids come from
    * ONE corpus pass via the subtraction trick — total per-(label,dim)
    * sums minus the held-out fold's sums — instead of k passes over
    * the training data (the a_incremental_agg identity applied to
    * model fitting; this is how CV should run at 100 TB). Scoring
    * broadcast-joins each fold's centroid set to its held-out rows;
    * output is per-fold accuracy. All means are 2^20 fixed-point, so
    * the gate hash-matches. The dense fold×(label,dim) grid guards
    * the edge where a fold contains no rows of some label. */
  val kfoldCv: Q = (s, dir) => {
    val F = 4
    val e = table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.text.TextOps.hashBucket(col("vec_id"), F).cast("int").as("fold"))
    val cells = e.select(col("fold"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("fold"), col("label"), col("pos"),
        floor(col("v").cast("double") * CentScale).cast("long").as("q"))
    // ONE (label,pos) groupBy carrying per-fold conditional sums: the
    // totals AND all F fold slices come out of a single corpus scan and
    // a single shuffle (vs groupBy + re-groupBy + join-back, which
    // plans a second scan when exchange reuse misses). Dense in fold by
    // construction: a fold with no rows of a label contributes 0/0.
    val perFold = (0 until F).flatMap(f => Seq(
      sum(when(col("fold") === f, col("q")).otherwise(0L)).as(s"fqs$f"),
      sum(when(col("fold") === f, 1L).otherwise(0L)).as(s"fcnt$f")))
    val stats = cells.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("tqs"), (count(lit(1)).as("tcnt") +: perFold): _*)
    val grid = stats
      .withColumn("fold", explode(transform(sequence(lit(0), lit(F - 1)), _.cast("int"))))
      .select(col("fold"), col("label").as("cl"), col("pos"),
        ((col("tqs") - element_at(array((0 until F).map(f => col(s"fqs$f")): _*),
            col("fold") + 1)).cast("double")
          / ((col("tcnt") - element_at(array((0 until F).map(f => col(s"fcnt$f")): _*),
            col("fold") + 1)).cast("double") * CentScale))
          .as("cv"))
    val cents = grid.groupBy(col("fold"), col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("cvec"))
    val scored = e.select(col("vec_id").as("qid"), col("fold"), col("label"), col("embedding"))
      .join(broadcast(cents), Seq("fold"))
      .select(col("qid"), col("fold"), col("label"), col("cl"),
        Similarity.cosine(col("embedding"), col("cvec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cl"))
    scored.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("label") === col("cl"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("fold"), col("n_test"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_test").cast("double")).as("acc"))
  }

  val kfoldCvSql: String =
    s"""WITH s AS (SELECT vec_id, embedding, label,
       |             CAST(${graft.text.TextOps.hashBucketSql("vec_id", 4)} AS INT) AS fold
       |           FROM embeddings),
       |cells AS (
       |  SELECT fold, label, CAST(r.i - 1 AS INT) AS pos,
       |         CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * $CentScale) AS BIGINT) AS q
       |  FROM s CROSS JOIN range(1, ${DIM + 1}) r(i)),
       |fs AS (SELECT fold, label, pos,
       |         CAST(SUM(q) AS BIGINT) AS fqs, COUNT(*) AS fcnt
       |       FROM cells GROUP BY 1, 2, 3),
       |tot AS (SELECT label, pos,
       |          CAST(SUM(fqs) AS BIGINT) AS tqs, CAST(SUM(fcnt) AS BIGINT) AS tcnt
       |        FROM fs GROUP BY 1, 2),
       |grid AS (
       |  SELECT CAST(f.i AS INT) AS fold, t.label AS cl, t.pos,
       |         CAST(t.tqs - COALESCE(fs.fqs, 0) AS DOUBLE)
       |           / (CAST(t.tcnt - COALESCE(fs.fcnt, 0) AS DOUBLE) * $CentScale) AS cv
       |  FROM tot t CROSS JOIN range(0, 4) f(i)
       |  LEFT JOIN fs ON fs.fold = f.i AND fs.label = t.label AND fs.pos = t.pos),
       |cent AS (SELECT fold, cl, list(cv ORDER BY pos) AS cvec FROM grid GROUP BY 1, 2),
       |scored AS (
       |  SELECT s.vec_id AS qid, s.fold, s.label, c.cl,
       |         ${cosSql("s.embedding", "c.cvec")} AS cos
       |  FROM s JOIN cent c ON c.fold = s.fold),
       |pred AS (
       |  SELECT qid, fold, label, cl,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cl) AS r
       |  FROM scored QUALIFY r = 1)
       |SELECT fold, COUNT(*) AS n_test,
       |       CAST(SUM(CASE WHEN label = cl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST(SUM(CASE WHEN label = cl THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(COUNT(*) AS DOUBLE) AS acc
       |FROM pred GROUP BY 1""".stripMargin

  /** Permutation feature importance of the centroid classifier over
    * the first four embedding dims — the model-agnostic "which feature
    * matters" diagnostic. The "permutation" is the deterministic
    * XOR-pair swap (row i takes dim d's value from row i XOR 1): a
    * true involution both engines replay exactly, implemented as an
    * equi self-join on vec_id⊕1 — NO global sort or shuffle-wide
    * reorder, unlike a rank-based shuffle permutation (partnerless
    * ids keep their own value — a fixed point). Variants ride ONE
    * exploded scan (base + 4 swapped dims); scoring is the broadcast
    * centroid join; importance_d = base accuracy − swapped accuracy
    * via a 5-row window at the end. */
  val permImportance: Q = (s, dir) => {
    val D = 4
    val e = table(s, dir, "embeddings")
    // class centroids over the FULL corpus, fixed-point means
    val dims = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * CentScale).as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("cnt"))
    val cents = dims
      .select(col("label").as("cl"), col("pos"),
        (col("qs").cast("double") / (col("cnt").cast("double") * CentScale)).as("cv"))
      .groupBy(col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("cvec"))
    val partner = e.select(col("vec_id").bitwiseXOR(1).as("vec_id") +:
      (1 to D).map(d => element_at(col("embedding"), d).cast("double").as(s"px$d")): _*)
    val paired = e.join(partner, Seq("vec_id"), "left")
      .select(col("vec_id").as("qid"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        array((1 to D).map(d =>
          coalesce(col(s"px$d"), element_at(col("embedding"), d).cast("double"))): _*)
          .as("pxs"))
    val variants = paired
      .withColumn("v", explode(transform(sequence(lit(0), lit(D)), _.cast("int"))))
      .select(col("qid"), col("label"), col("v"),
        when(col("v") === 0, col("ed"))
          .otherwise(transform(col("ed"),
            (x, i) => when(i === col("v") - 1, element_at(col("pxs"), col("v")))
              .otherwise(x))).as("ev"))
    val scored = variants.crossJoin(broadcast(cents))
      .select(col("qid"), col("label"), col("v"), col("cl"),
        Similarity.cosine(col("ev"), col("cvec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("v")).orderBy(col("cos").desc, col("cl"))
    val accs = scored.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("cl"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("v"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n").cast("double")).as("acc"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    accs.withColumn("importance",
        max(when(col("v") === 0, col("acc"))).over(wAll) - col("acc"))
      .select(col("v"), col("n"), col("n_correct"), col("acc"), col("importance"))
  }

  val permImportanceSql: String = {
    val pxCase = (1 to 4).map(d =>
      s"WHEN $d THEN COALESCE(p.px$d, CAST(s.embedding[$d] AS DOUBLE))").mkString(" ")
    s"""WITH s AS (SELECT vec_id, embedding, label FROM embeddings),
       |p AS (SELECT xor(vec_id, 1) AS vec_id,
       |             ${(1 to 4).map(d => s"CAST(embedding[$d] AS DOUBLE) AS px$d").mkString(", ")}
       |      FROM embeddings),
       |dims AS (
       |  SELECT label, CAST(r.i - 1 AS INT) AS pos,
       |         CAST(SUM(CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * $CentScale) AS BIGINT)) AS BIGINT) AS qs,
       |         COUNT(*) AS cnt
       |  FROM s CROSS JOIN range(1, ${DIM + 1}) r(i) GROUP BY 1, 2),
       |cent AS (SELECT label AS cl,
       |                list(CAST(qs AS DOUBLE) / (cnt * $CentScale) ORDER BY pos) AS cvec
       |         FROM dims GROUP BY 1),
       |var1 AS (
       |  SELECT s.vec_id AS qid, s.label, CAST(vv.i AS INT) AS v,
       |         CASE WHEN vv.i = 0
       |              THEN list_transform(s.embedding, x -> CAST(x AS DOUBLE))
       |              ELSE list_transform(range(1, ${DIM + 1}),
       |                     i -> CASE WHEN i = vv.i
       |                               THEN (CASE vv.i $pxCase END)
       |                               ELSE CAST(s.embedding[i] AS DOUBLE) END)
       |         END AS ev
       |  FROM s LEFT JOIN p ON p.vec_id = s.vec_id
       |  CROSS JOIN range(0, 5) vv(i)),
       |scored AS (
       |  SELECT qid, label, v, c.cl, ${cosSql("ev", "c.cvec")} AS cos
       |  FROM var1 CROSS JOIN cent c),
       |pred AS (
       |  SELECT qid, label, v, cl,
       |         ROW_NUMBER() OVER (PARTITION BY qid, v ORDER BY cos DESC, cl) AS r
       |  FROM scored QUALIFY r = 1),
       |accs AS (
       |  SELECT v, COUNT(*) AS n,
       |         CAST(SUM(CASE WHEN label = cl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |         CAST(SUM(CASE WHEN label = cl THEN 1 ELSE 0 END) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS acc
       |  FROM pred GROUP BY 1)
       |SELECT v, n, n_correct, acc,
       |       MAX(CASE WHEN v = 0 THEN acc END) OVER () - acc AS importance
       |FROM accs""".stripMargin
  }

  /** Greedy best-first search over the k-NN graph — the navigation
    * primitive graph-ANN indexes (HNSW layer 0, NSG) are built on:
    * from a fixed entry node, repeatedly hop to the neighbor closest
    * to the query, stop at a local optimum. FOUR unrolled rounds, each
    * one edge-join + one per-query argmax (tie → smaller id), state =
    * (node, cos, hops) — both engines replay the identical walk, the
    * oracle as four chained CTE steps. Scale shape: the walk state is
    * nq rows; each round joins it to the (bounded out-degree) edge
    * list by current node — per-round cost is nq·k, independent of
    * corpus size, which is exactly why graph search beats scanning. */
  val greedySearch: Q = (s, dir) => {
    val Steps = 4
    val e = table(s, dir, "embeddings")
    val edges = Similarity.knnGraph(e, Planes, K)
      .select(col("qid").as("src"), col("cid").as("dst"))
    val emb = e.select(col("vec_id").as("nid"),
      transform(col("embedding"), x => x.cast("double")).as("ev"))
    var state = e.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("qe"))
      .crossJoin(emb.where(col("nid") === NQ).select(col("ev").as("ue")))
      .select(col("qid"), col("qe"), lit(NQ.toLong).as("u"),
        Similarity.cosine(col("qe"), col("ue")).as("cosu"), lit(0).as("hops"))
    for (_ <- 1 to Steps) {
      val cand = state.join(edges, state("u") === edges("src"), "left")
        .join(emb, col("dst") === col("nid"), "left")
        .select(col("qid"), col("qe"), col("u"), col("cosu"), col("hops"), col("dst"),
          Similarity.cosine(col("qe"), col("ev")).as("cosv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosv").desc_nulls_last, col("dst"))
      state = cand.withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("qid"), col("qe"),
          when(col("cosv") > col("cosu"), col("dst")).otherwise(col("u")).as("u"),
          when(col("cosv") > col("cosu"), col("cosv")).otherwise(col("cosu")).as("cosu"),
          when(col("cosv") > col("cosu"), col("hops") + 1).otherwise(col("hops")).as("hops"))
    }
    state.select(col("qid"), col("u").as("node"), col("cosu").as("cos"), col("hops"))
  }

  val greedySearchSql: String = {
    val steps = (1 to 4).map { k =>
      s"""c$k AS (
         |  SELECT s.qid, s.qe, s.u, s.cosu, s.hops, e.cid AS dst,
         |         ${cosSql("s.qe", "d.embedding")} AS cosv
         |  FROM s${k - 1} s
         |  LEFT JOIN edges e ON e.qid = s.u
         |  LEFT JOIN embeddings d ON d.vec_id = e.cid),
         |b$k AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |              ORDER BY cosv DESC NULLS LAST, dst) AS r
         |  FROM c$k QUALIFY r = 1),
         |s$k AS MATERIALIZED (
         |  SELECT qid, qe,
         |         CASE WHEN cosv > cosu THEN dst ELSE u END AS u,
         |         CASE WHEN cosv > cosu THEN cosv ELSE cosu END AS cosu,
         |         CASE WHEN cosv > cosu THEN hops + 1 ELSE hops END AS hops
         |  FROM b$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |$candCte,
       |pairs AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS cid,
       |         ${cosSql("x.embedding", "y.embedding")} AS cos
       |  FROM b x JOIN cand y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |    FROM pairs) WHERE rank <= $K),
       |s0 AS MATERIALIZED (
       |  SELECT q.vec_id AS qid,
       |         list_transform(q.embedding, x -> CAST(x AS DOUBLE)) AS qe,
       |         CAST($NQ AS BIGINT) AS u,
       |         ${cosSql("q.embedding", "t.embedding")} AS cosu, 0 AS hops
       |  FROM embeddings q JOIN embeddings t ON t.vec_id = $NQ
       |  WHERE q.vec_id < $NQ),
       |$steps
       |SELECT qid, u AS node, cosu AS cos, hops FROM s4""".stripMargin
  }

  /** Hierarchical greedy search — the HNSW shape on top of
    * s_greedy_search's single-layer walk: a coarse upper layer (every
    * 8th node, the deterministic stand-in for HNSW's geometric level
    * draw) gets its own k-NN graph; the walk descends TWO hops there
    * to find a good entry region, then THREE hops on the full layer-0
    * graph. Both layers use the same LSH-bucketed graph construction
    * and the same per-hop argmax (tie → smaller id); the oracle chains
    * five CTE steps across the two edge tables. Scale shape: the
    * upper layer is 1/8 of the nodes with the same bounded out-degree,
    * so the added index cost is ~12% — and the walk still touches
    * nq·k rows per hop, never the corpus. */
  val hnswSearch: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val edges0 = Similarity.knnGraph(e, Planes, K)
      .select(col("qid").as("src"), col("cid").as("dst"))
    val edges1 = Similarity.knnGraph(e.where(col("vec_id") % 8 === 0), Planes, K)
      .select(col("qid").as("src"), col("cid").as("dst"))
    val emb = e.select(col("vec_id").as("nid"),
      transform(col("embedding"), x => x.cast("double")).as("ev"))
    def step(state: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val cand = state.join(edges, state("u") === edges("src"), "left")
        .join(emb, col("dst") === col("nid"), "left")
        .select(state("qid"), state("qe"), state("u"), state("cosu"), state("hops"),
          col("dst"), Similarity.cosine(state("qe"), col("ev")).as("cosv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cosv").desc_nulls_last, col("dst"))
      cand.withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("qid"), col("qe"),
          when(col("cosv") > col("cosu"), col("dst")).otherwise(col("u")).as("u"),
          when(col("cosv") > col("cosu"), col("cosv")).otherwise(col("cosu")).as("cosu"),
          when(col("cosv") > col("cosu"), col("hops") + 1).otherwise(col("hops")).as("hops"))
    }
    var state = e.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("qe"))
      .crossJoin(emb.where(col("nid") === NQ).select(col("ev").as("ue")))
      .select(col("qid"), col("qe"), lit(NQ.toLong).as("u"),
        Similarity.cosine(col("qe"), col("ue")).as("cosu"), lit(0).as("hops"))
    for (_ <- 1 to 2) state = step(state, edges1)
    for (_ <- 1 to 3) state = step(state, edges0)
    state.select(col("qid"), col("u").as("node"), col("cosu").as("cos"), col("hops"))
  }

  val hnswSearchSql: String = {
    def stepSql(k: Int, edges: String): String =
      s"""c$k AS (
         |  SELECT s.qid, s.qe, s.u, s.cosu, s.hops, e.cid AS dst,
         |         ${cosSql("s.qe", "d.embedding")} AS cosv
         |  FROM s${k - 1} s
         |  LEFT JOIN $edges e ON e.qid = s.u
         |  LEFT JOIN embeddings d ON d.vec_id = e.cid),
         |b$k AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |              ORDER BY cosv DESC NULLS LAST, dst) AS r
         |  FROM c$k QUALIFY r = 1),
         |s$k AS MATERIALIZED (
         |  SELECT qid, qe,
         |         CASE WHEN cosv > cosu THEN dst ELSE u END AS u,
         |         CASE WHEN cosv > cosu THEN cosv ELSE cosu END AS cosu,
         |         CASE WHEN cosv > cosu THEN hops + 1 ELSE hops END AS hops
         |  FROM b$k)""".stripMargin
    val steps = (1 to 2).map(stepSql(_, "edges1")) ++ (3 to 5).map(stepSql(_, "edges0"))
    s"""WITH lay0 AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |${candCteFor("lay0", "cand0")},
       |pairs0 AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS cid,
       |         ${cosSql("x.embedding", "y.embedding")} AS cos
       |  FROM lay0 x JOIN cand0 y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |edges0 AS MATERIALIZED (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |    FROM pairs0) WHERE rank <= $K),
       |lay1 AS (SELECT vec_id, embedding, bucket FROM lay0 WHERE vec_id % 8 = 0),
       |${candCteFor("lay1", "cand1")},
       |pairs1 AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS cid,
       |         ${cosSql("x.embedding", "y.embedding")} AS cos
       |  FROM lay1 x JOIN cand1 y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |edges1 AS MATERIALIZED (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |    FROM pairs1) WHERE rank <= $K),
       |s0 AS MATERIALIZED (
       |  SELECT q.vec_id AS qid,
       |         list_transform(q.embedding, x -> CAST(x AS DOUBLE)) AS qe,
       |         CAST($NQ AS BIGINT) AS u,
       |         ${cosSql("q.embedding", "t.embedding")} AS cosu, 0 AS hops
       |  FROM embeddings q JOIN embeddings t ON t.vec_id = $NQ
       |  WHERE q.vec_id < $NQ),
       |${steps.mkString(",\n")}
       |SELECT qid, u AS node, cosu AS cos, hops FROM s5""".stripMargin
  }

  /** k-center greedy diversity sampling (farthest-point coreset, the
    * Gonzalez 2-approximation): starting from a fixed seed, each of
    * three rounds picks the corpus vector LEAST similar to everything
    * already chosen (argmin of max-cosine, tie → smaller id) — the
    * diverse-subset selection a training-data pipeline runs when it
    * wants coverage, not volume (the greedy dual of s_semdedup's
    * prune). Each round is one corpus scan against a ≤k-row broadcast
    * of the chosen set with a bounded 1-row driver collect (k rows
    * total over the run — the histogram-bins class of collect); the
    * oracle unrolls the same three argmin rounds as chained CTEs.
    * Output: pick order, id, and the max-cos-to-chosen at selection
    * time (the shrinking coverage radius). */
  val diversitySample: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    var chosen = Seq(NQ.toLong) // the fixed seed every graph gate uses
    val picks = Seq.newBuilder[(Int, Long, Double)]
    picks += ((0, NQ.toLong, 1.0))
    for (r <- 1 to 3) {
      val ch = broadcast(emb.where(col("vec_id").isin(chosen: _*))
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
      val next = emb.where(!col("vec_id").isin(chosen: _*))
        .crossJoin(ch)
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("ce")).as("cos"))
        .groupBy(col("vec_id")).agg(max(col("cos")).as("maxcos"))
        .orderBy(col("maxcos"), col("vec_id")).limit(1)
        .collect()(0) // bounded: ONE row per round, k-1 rows per run
      chosen = chosen :+ next.getLong(0)
      picks += ((r, next.getLong(0), next.getDouble(1)))
    }
    import s.implicits._
    picks.result().toDF("pick", "vec_id", "maxcos")
  }

  val diversitySampleSql: String = {
    val rounds = (1 to 3).map { r =>
      val prev = (0 until r).map(i => s"SELECT vec_id, embedding FROM ch$i").mkString(" UNION ALL ")
      s"""p$r AS (
         |  SELECT c.vec_id, MAX(${cosSql("c.embedding", "h.embedding")}) AS maxcos
         |  FROM embeddings c JOIN ($prev) h ON c.vec_id <> h.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM ($prev))
         |  GROUP BY 1),
         |pk$r AS (SELECT vec_id, maxcos,
         |           ROW_NUMBER() OVER (ORDER BY maxcos, vec_id) AS rn
         |         FROM p$r QUALIFY rn = 1),
         |ch$r AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |         JOIN pk$r ON e.vec_id = pk$r.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ch0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = $NQ),
       |$rounds
       |SELECT 0 AS pick, CAST($NQ AS BIGINT) AS vec_id, 1.0 AS maxcos
       |UNION ALL SELECT 1, vec_id, maxcos FROM pk1
       |UNION ALL SELECT 2, vec_id, maxcos FROM pk2
       |UNION ALL SELECT 3, vec_id, maxcos FROM pk3""".stripMargin
  }

  /** Classifier-margin distribution: per true label, the histogram of
    * top1−top2 cosine gaps from the centroid classifier — the
    * confidence profile that drives selective prediction ("abstain
    * below margin m") and mislabel mining (tiny margins). Second use
    * of the [[graft.ops.BinnedHist]] TypedImperativeAggregate, here
    * over a DERIVED metric; the oracle rebuilds the same bins
    * relationally with a zero-filled label×bin grid. */
  val marginHist: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val dims = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * CentScale).as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("cnt"))
    val cents = dims
      .select(col("label").as("cl"), col("pos"),
        (col("qs").cast("double") / (col("cnt").cast("double") * CentScale)).as("cv"))
      .groupBy(col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x("cv")).as("cvec"))
    val scored = e.select(col("vec_id").as("qid"), col("label"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("label"), col("cl"),
        Similarity.cosine(col("embedding"), col("cvec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cl"))
    val margins = scored.withColumn("r", row_number().over(w)).where(col("r") <= 2)
      .groupBy(col("qid"), col("label"))
      .agg((max(when(col("r") === 1, col("cos"))) -
        max(when(col("r") === 2, col("cos")))).as("margin"))
    margins.groupBy(col("label"))
      .agg(graft.ops.BinnedHist.hist(col("margin"), 0.0, 0.005, 20).as("hist"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"), posexplode(col("hist")).as(Seq("bin", "cnt")))
      .select(col("label"), col("bin"), col("cnt"), col("n"))
  }

  val marginHistSql: String =
    s"""WITH s AS (SELECT vec_id, embedding, label FROM embeddings),
       |dims AS (
       |  SELECT label, CAST(r.i - 1 AS INT) AS pos,
       |         CAST(SUM(CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * $CentScale) AS BIGINT)) AS BIGINT) AS qs,
       |         COUNT(*) AS cnt
       |  FROM s CROSS JOIN range(1, ${DIM + 1}) r(i) GROUP BY 1, 2),
       |cent AS (SELECT label AS cl,
       |                list(CAST(qs AS DOUBLE) / (cnt * $CentScale) ORDER BY pos) AS cvec
       |         FROM dims GROUP BY 1),
       |scored AS (
       |  SELECT s.vec_id AS qid, s.label, c.cl,
       |         ${cosSql("s.embedding", "c.cvec")} AS cos
       |  FROM s CROSS JOIN cent c),
       |rk AS (
       |  SELECT qid, label, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cl) AS r
       |  FROM scored),
       |mg AS (
       |  SELECT qid, label,
       |         MAX(CASE WHEN r = 1 THEN cos END) - MAX(CASE WHEN r = 2 THEN cos END) AS margin
       |  FROM rk WHERE r <= 2 GROUP BY 1, 2),
       |binned AS (
       |  SELECT label,
       |         CAST(CASE WHEN fb < 0 THEN 0 WHEN fb >= 20 THEN 21 ELSE fb + 1 END AS BIGINT) AS bin
       |  FROM (SELECT label, FLOOR((margin - 0.0) / 0.005) AS fb FROM mg)),
       |grid AS (
       |  SELECT l.label, r.i AS bin
       |  FROM (SELECT DISTINCT label FROM mg) l CROSS JOIN range(0, 22) r(i)),
       |bc AS (SELECT label, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2),
       |tot AS (SELECT label, COUNT(*) AS n FROM mg GROUP BY 1)
       |SELECT g.label, CAST(g.bin AS INT) AS bin,
       |       COALESCE(bc.cnt, 0) AS cnt, t.n
       |FROM grid g
       |LEFT JOIN bc ON bc.label = g.label AND bc.bin = g.bin
       |JOIN tot t ON t.label = g.label""".stripMargin

  /** NDCG@3 of the LSH ANN against the brute-force truth — the
    * position-aware quality metric s_ann_recall's set-overlap census
    * can't see (a hit at rank 1 is worth more than at rank 3).
    * Binary gains (approx hit ∈ exact top-3) with the three discount
    * weights 1/log2(pos+1) embedded as LITERALS in both engines —
    * no libm call, so no cross-engine ulp risk in the only
    * transcendental this metric needs. Queries with no LSH-bucket
    * candidates stay in the output with ndcg 0 (left join). */
  val annNdcg: Q = (s, dir) => {
    val disc = Map(1 -> 1.0, 2 -> 0.6309297535714575, 3 -> 0.5)
    val truth = annBrute(s, dir).select(col("qid"), col("cid"))
    val approx = annLsh(s, dir).select(col("qid"), col("cid"), col("rank"))
    val gains = approx.join(truth.withColumn("hit", lit(1)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank"), coalesce(col("hit"), lit(0)).as("hit"))
    // dcg from aggregated per-rank hit BITS, then one fixed-order
    // double expression — a float SUM over the three discount terms
    // would add in partition order and can drift an ulp across engines
    val perQ = gains.groupBy(col("qid"))
      .agg(sum(col("hit")).cast("long").as("hits"),
        max(when(col("rank") === 1, col("hit")).otherwise(lit(0))).as("b1"),
        max(when(col("rank") === 2, col("hit")).otherwise(lit(0))).as("b2"),
        max(when(col("rank") === 3, col("hit")).otherwise(lit(0))).as("b3"))
      .withColumn("dcg",
        col("b1").cast("double") * disc(1) + col("b2").cast("double") * disc(2)
          + col("b3").cast("double") * disc(3))
      .withColumn("idcg",
        when(col("hits") === 0, lit(0.0))
          .when(col("hits") === 1, lit(disc(1)))
          .when(col("hits") === 2, lit(disc(1) + disc(2)))
          .otherwise(lit(disc(1) + disc(2) + disc(3))))
    truth.select(col("qid")).distinct()
      .join(perQ, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"),
        when(coalesce(col("idcg"), lit(0.0)) > 0.0, col("dcg") / col("idcg"))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  val annNdcgSql: String = {
    val (d1, d2, d3) = (1.0, 0.6309297535714575, 0.5)
    s"""WITH truth AS ($annBruteSql),
       |approx AS ($annLshSql),
       |gains AS (
       |  SELECT a.qid, a.rank,
       |         CASE WHEN t.cid IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM approx a
       |  LEFT JOIN truth t ON t.qid = a.qid AND t.cid = a.cid),
       |perq AS (
       |  SELECT qid, CAST(SUM(hit) AS BIGINT) AS hits,
       |         MAX(CASE WHEN rank = 1 THEN hit ELSE 0 END) AS b1,
       |         MAX(CASE WHEN rank = 2 THEN hit ELSE 0 END) AS b2,
       |         MAX(CASE WHEN rank = 3 THEN hit ELSE 0 END) AS b3
       |  FROM gains GROUP BY 1),
       |wi AS (
       |  SELECT qid, hits,
       |         CAST(b1 AS DOUBLE) * $d1 + CAST(b2 AS DOUBLE) * $d2
       |           + CAST(b3 AS DOUBLE) * $d3 AS dcg,
       |         CAST(CASE WHEN hits = 0 THEN 0.0
       |              WHEN hits = 1 THEN $d1
       |              WHEN hits = 2 THEN ${d1 + d2}
       |              ELSE ${d1 + d2 + d3} END AS DOUBLE) AS idcg
       |  FROM perq)
       |SELECT q.qid, COALESCE(w.hits, 0) AS hits,
       |       COALESCE(w.dcg, 0.0) AS dcg, COALESCE(w.idcg, 0.0) AS idcg,
       |       CASE WHEN COALESCE(w.idcg, 0.0) > 0.0 THEN w.dcg / w.idcg
       |            ELSE 0.0 END AS ndcg
       |FROM (SELECT DISTINCT qid FROM truth) q
       |LEFT JOIN wi w ON w.qid = q.qid""".stripMargin
  }

  /** Metadata-filtered ANN — top-k by cosine among candidates that
    * satisfy a predicate (here: share the query's label), the
    * filtered-vector-search shape every production vector store needs
    * (WHERE category = X AND similar-to q). The predicate is part of
    * the JOIN key, so it plans as a broadcast HASH join on label —
    * the filter prunes candidates BEFORE any distance math, and at
    * scale a label-partitioned corpus turns it into partition pruning.
    * Queries whose label has no other member vanish (inner join) —
    * the honest "zero results under this filter" semantics. */
  val annFiltered: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val q = e.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("label").as("ql"), col("embedding").as("qe"))
    val scored = e.select(col("vec_id").as("cid"), col("label").as("cl"), col("embedding").as("ce"))
      .join(broadcast(q), col("cl") === col("ql") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("int")).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annFilteredSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q
       |  JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin

  /** Binary-quantized ANN: every vector's 64 sign bits packed into two
    * 32-bit Horner-fold halves (dims 1-32 → pk0 MSB-first, 33-64 →
    * pk1), candidates ranked by XOR+popcount Hamming distance (top
    * R=12, tie → smaller cid), survivors reranked by exact cosine.
    * The 32×-compression scale path: with the codes persisted as an
    * index column (the [[graft.sim.Similarity.buildPqIndex]] pattern)
    * phase 1 scans 16 bytes/vector instead of 256 floats' worth, and
    * only the ≤ nq·R survivors ever touch a full vector (the DiskANN
    * fetch-and-rerank shape — here a broadcast of the 96-row pool
    * back over the corpus scan). Integer phase 1 + strict-fold cosine
    * phase 2 keep it bitwise across engines. */
  val annBinary: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    def pack(lo: Int): org.apache.spark.sql.Column =
      aggregate(sequence(lit(lo), lit(lo + 31)), lit(0L),
        (acc, i) => acc * 2 + when(element_at(col("embedding"), i).cast("double") > 0.0, 1L)
          .otherwise(0L))
    val coded = e.select(col("vec_id"), pack(1).as("pk0"), pack(33).as("pk1"))
    val q = coded.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("pk0").as("qp0"), col("pk1").as("qp1"))
    val cand = coded
      .crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (bit_count(col("qp0").bitwiseXOR(col("pk0")))
          + bit_count(col("qp1").bitwiseXOR(col("pk1")))).cast("int").as("hamming"))
    val wh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("hamming"), col("cid"))
    val pool = cand.withColumn("hr", row_number().over(wh)).where(col("hr") <= BinPoolR)
      .select(col("qid"), col("cid"), col("hamming"))
    // rerank: fetch full vectors only for pool survivors (broadcast the
    // tiny pool over the corpus scan, then attach the 8 query vectors)
    val qe = table(s, dir, "embeddings").where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rer = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .join(broadcast(pool), Seq("cid"))
      .join(broadcast(qe), Seq("qid"))
      .select(col("qid"), col("cid"), col("hamming"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    rer.withColumn("rank", row_number().over(wc).cast("int")).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("hamming"), col("cos"), col("rank"))
  }

  private val BinPoolR = 12

  val annBinarySql: String = {
    def packSql(lo: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range($lo, ${lo + 32}),
         |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN CAST(1 AS BIGINT)
         |                ELSE CAST(0 AS BIGINT) END)), (x, y) -> x * 2 + y)""".stripMargin
    s"""WITH pk AS (
       |  SELECT vec_id, ${packSql(1)} AS pk0, ${packSql(33)} AS pk1 FROM embeddings),
       |cand AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         CAST(bit_count(xor(q.pk0, c.pk0)) + bit_count(xor(q.pk1, c.pk1)) AS INT) AS hamming
       |  FROM pk q JOIN pk c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |pool AS (
       |  SELECT qid, cid, hamming,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, cid) AS hr
       |  FROM cand QUALIFY hr <= $BinPoolR),
       |rer AS (
       |  SELECT p.qid, p.cid, p.hamming,
       |         ${cosSql("qe.embedding", "ce.embedding")} AS cos
       |  FROM pool p
       |  JOIN embeddings qe ON qe.vec_id = p.qid
       |  JOIN embeddings ce ON ce.vec_id = p.cid)
       |SELECT qid, cid, hamming, cos,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |FROM rer QUALIFY rank <= $K""".stripMargin
  }

  /** IVF-PQ — the production FAISS composition of the two gates that
    * so far ran separately: the coarse quantizer prunes the corpus to
    * nprobe=2 of 8 cluster lists (partition pruning at scale), ADC
    * scoring inside the probed lists runs on the 24-bit PQ codes
    * (bytes per candidate, no per-dimension float work), and exact
    * cosine reranks only the top-8 survivors. Every
    * component is the literal seeded quantizer its parent gate proved
    * bitwise (clusterOf CASE chain, pqScores argmin arrays, monotone
    * ADC form), so the composition hash-matches too. At 100 TB this is
    * THE shape: cluster-partitioned codes column scan, nq·nprobe-
    * bounded probe, full vectors touched for PREF rows per query. */
  val annIvfPq: Q = (s, dir) => {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    // corpus side: coarse cluster + PQ codes + code-norm sum
    val withArrs = (0 until PQ_M).foldLeft(base)((df, m) =>
      df.withColumn(s"arr_$m", pqScores(col("e"), m)))
    val withCodes = (0 until PQ_M).foldLeft(withArrs)((df, m) =>
      df.withColumn(s"c$m",
        (array_position(col(s"arr_$m"), array_min(col(s"arr_$m"))) - 1).cast("int")))
    val n2s = (0 until PQ_M).map(m =>
      element_at(typedLit(PqN2(m).toSeq), col(s"c$m") + 1)).reduceLeft(_ + _)
    val cand = withCodes.select((col("vec_id").as("cid") +: col("embedding").as("ce") +:
      clusterOf((0 until NLIST).map(j => centScore(col("embedding"), j))).as("cluster") +:
      (0 until PQ_M).map(m => col(s"c$m"))) :+ n2s.as("n2s"): _*)
    // query side: per-subspace dot tables + probed clusters
    val qds = (0 until PQ_M).map(m =>
      array((0 until PQ_K).map(k => pqDot(col("e"), m, k)): _*).as(s"qd$m"))
    val qs = base.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid") +: col("embedding").as("qe") +: qds :+
        explode(array((0 until NLIST).map(j =>
          struct(lit(j).as("cluster"), centScore(col("embedding"), j).as("cscore"))): _*))
          .as("pc"): _*)
      .select(col("qid") +: col("qe") +: (0 until PQ_M).map(m => col(s"qd$m")) :+
        col("pc.cluster").as("cluster") :+ col("pc.cscore").as("cscore"): _*)
      .withColumn("pr", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cscore").desc, col("cluster"))))
      .where(col("pr") <= NPROBE).drop("cscore", "pr")
    val adc = (0 until PQ_M).map(m =>
      element_at(col(s"qd$m"), col(s"c$m") + 1)).reduceLeft(_ + _)
    val scored = cand.join(broadcast(qs), Seq("cluster"))
      .where(col("qid") =!= col("cid"))
      .withColumn("approx", adc / sqrt(col("n2s")))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("pr", row_number().over(wp)).where(col("pr") <= PREF)
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rank", row_number().over(wr)).where(col("rank") <= K)
      .select(col("qid"), col("cid"), col("cos"), col("rank"))
  }

  val annIvfPqSql: String = {
    val scoreCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k =>
        s"${fmt(PqN2(m)(k))} - 2.0 * (${pqDotSql("embedding", m, k)})").mkString(", ")}) AS arr_$m")
      .mkString(",\n       |  ")
    val codeCols = (0 until PQ_M).map(m =>
      s"CAST(list_position(arr_$m, list_min(arr_$m)) - 1 AS INT) AS c_$m")
      .mkString(",\n       |  ")
    val n2sSql = (0 until PQ_M).map(m =>
      s"list_extract(list_value(${PqN2(m).map(fmt).mkString(", ")}), c_$m + 1)")
      .mkString(" + ")
    val qdCols = (0 until PQ_M).map(m =>
      s"list_value(${(0 until PQ_K).map(k => s"(${pqDotSql("embedding", m, k)})").mkString(", ")}) AS qd_$m")
      .mkString(",\n       |  ")
    val qdNames = (0 until PQ_M).map(m => s"qd_$m").mkString(", ")
    val adcSql = (0 until PQ_M).map(m => s"list_extract(qd_$m, c_$m + 1)").mkString(" + ")
    val probeUnion = (0 until NLIST).map(j =>
      s"SELECT qid, qe, $qdNames, $j AS cluster, ${centScoreSql("qe", j)} AS cscore FROM qs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sc AS (
       |  SELECT vec_id, embedding,
       |  $scoreCols
       |  FROM embeddings),
       |enc AS (
       |  SELECT vec_id, embedding,
       |  $codeCols
       |  FROM sc),
       |cand AS (
       |  SELECT vec_id AS cid, embedding AS ce, ${clusterSql("embedding")} AS cluster,
       |         ${(0 until PQ_M).map(m => s"c_$m").mkString(", ")},
       |         $n2sSql AS n2s
       |  FROM enc),
       |qs AS (
       |  SELECT vec_id AS qid, embedding AS qe,
       |  $qdCols
       |  FROM embeddings WHERE vec_id < $NQ),
       |qu AS (
       |  $probeUnion),
       |qprobe AS (
       |  SELECT qid, qe, $qdNames, cluster FROM (
       |    SELECT qid, qe, $qdNames, cluster,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cscore DESC, cluster) AS pr
       |    FROM qu) WHERE pr <= $NPROBE),
       |scored AS (
       |  SELECT qid, cid, qe, ce, ($adcSql) / sqrt(n2s) AS approx
       |  FROM qprobe JOIN cand USING (cluster) WHERE cid <> qid),
       |pref AS (
       |  SELECT qid, cid, qe, ce FROM (
       |    SELECT qid, cid, qe, ce,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx DESC, cid) AS pr
       |    FROM scored) WHERE pr <= $PREF),
       |rer AS (SELECT qid, cid, ${cosSql("qe", "ce")} AS cos FROM pref),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
       |  FROM rer)
       |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** Cumulative gains / lift table of a binary scorer — the campaign-
    * targeting diagnostic m_auc's single number can't show: per score
    * decile, how concentrated are the positives ("the top 10% of
    * scores captures X% of class 0"). Scorer = cosine to the class-0
    * fixed-point centroid; deciles come from
    * [[graft.ops.Ranking.withGlobalRanks]] (the range-partitioned
    * two-phase NTILE — no single-partition window over the corpus),
    * and the cumulative window runs over the 10-row decile table,
    * bounded by construction. Counts are exact integers; lift/capture
    * are one fixed-shape division each. */
  val liftCurve: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val cent = e.where(col("label") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), floor(col("v").cast("double") * CentScale).as("q"))
      .groupBy(col("pos")).agg(sum(col("q")).as("qs"), count(lit(1)).as("cnt"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        (col("qs").cast("double") / (col("cnt").cast("double") * CentScale)).as("cv")))),
        x => x("cv")).as("cvec"))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), when(col("label") === 0, 1L).otherwise(0L).as("posv"),
        Similarity.cosine(col("embedding"), col("cvec")).as("score"))
    val ranked = graft.ops.Ranking.withGlobalRanks(scored,
      Seq(col("score").desc, col("vec_id")), Seq("score", "vec_id"),
      neighborCol = "vec_id", ntileN = 10)
    val dec = ranked.groupBy(col("ntile").as("decile"))
      .agg(count(lit(1)).as("n"), sum(col("posv")).as("npos"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wa = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    dec.select(col("decile"), col("n"), col("npos"),
        sum(col("n")).over(wc).as("cum_n"), sum(col("npos")).over(wc).as("cum_pos"),
        sum(col("n")).over(wa).as("tot_n"), sum(col("npos")).over(wa).as("tot_pos"))
      .select(col("decile"), col("n"), col("npos"), col("cum_pos"),
        ((col("cum_pos").cast("double") / col("cum_n").cast("double"))
          / (col("tot_pos").cast("double") / col("tot_n").cast("double"))).as("lift"),
        (col("cum_pos").cast("double") / col("tot_pos").cast("double")).as("capture"))
  }

  val liftCurveSql: String =
    s"""WITH c0 AS (
       |  SELECT CAST(r.i - 1 AS INT) AS pos,
       |         CAST(SUM(CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * $CentScale) AS BIGINT)) AS BIGINT) AS qs,
       |         COUNT(*) AS cnt
       |  FROM embeddings CROSS JOIN range(1, ${DIM + 1}) r(i)
       |  WHERE label = 0 GROUP BY 1),
       |cent AS (SELECT list(CAST(qs AS DOUBLE) / (cnt * $CentScale) ORDER BY pos) AS cvec
       |         FROM c0),
       |scored AS (
       |  SELECT e.vec_id,
       |         CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS posv,
       |         ${cosSql("e.embedding", "c.cvec")} AS score
       |  FROM embeddings e CROSS JOIN cent c),
       |rk AS (
       |  SELECT vec_id, posv,
       |         CAST(NTILE(10) OVER (ORDER BY score DESC, vec_id) AS INT) AS decile
       |  FROM scored),
       |dec AS (
       |  SELECT decile, COUNT(*) AS n, CAST(SUM(posv) AS BIGINT) AS npos
       |  FROM rk GROUP BY 1),
       |cum AS (
       |  SELECT decile, n, npos,
       |         SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
       |         SUM(npos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos,
       |         SUM(n) OVER () AS tot_n, SUM(npos) OVER () AS tot_pos
       |  FROM dec)
       |SELECT decile, n, npos, CAST(cum_pos AS BIGINT) AS cum_pos,
       |       (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
       |         / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)) AS lift,
       |       CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS capture
       |FROM cum""".stripMargin

  private val MrlDim = 16

  /** Matryoshka-style truncation quality: recall@K of brute-force
    * search run on only the FIRST 16 of 64 dims, judged against the
    * full-dimension truth — the measurement behind MRL-trained
    * embeddings' "use a prefix, pay 4× less" promise. At scale the
    * prefix search reads a quarter of the vector bytes (and with the
    * dims stored as 16-dim chunked columns, a quarter of the I/O);
    * this gate reports whether that saving costs ranking quality.
    * Queries keep a row even at zero overlap (left join → hits 0). */
  val matryoshka: Q = (s, dir) => {
    val e = table(s, dir, "embeddings")
    val truth = annBrute(s, dir).select(col("qid"), col("cid"))
    val et = e.select(col("vec_id"), slice(col("embedding"), 1, MrlDim).as("emb16"))
    val q = et.where(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("emb16").as("qe"))
    val scored = et.select(col("vec_id").as("cid"), col("emb16").as("ce"))
      .crossJoin(broadcast(q)).where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val approx = scored.withColumn("r", row_number().over(w)).where(col("r") <= K)
      .select(col("qid"), col("cid"))
    approx.join(truth.withColumn("hit", lit(1)), Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits").cast("double") / K.toDouble).as("recall"))
  }

  val matryoshkaSql: String =
    s"""WITH truth AS ($annBruteSql),
       |sc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSqlN("q.embedding", "c.embedding", MrlDim)} AS cos
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ),
       |ap AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r
       |    FROM sc) WHERE r <= $K),
       |h AS (
       |  SELECT a.qid,
       |         CAST(SUM(CASE WHEN t.cid IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits
       |  FROM ap a LEFT JOIN truth t ON t.qid = a.qid AND t.cid = a.cid
       |  GROUP BY 1)
       |SELECT qid, hits, CAST(hits AS DOUBLE) / ${K}.0 AS recall FROM h""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "s_matryoshka" -> (matryoshka, Some(matryoshkaSql)),
    "s_ann_ivfpq" -> (annIvfPq, Some(annIvfPqSql)),
    "m_lift_curve" -> (liftCurve, Some(liftCurveSql)),
    "s_ann_filtered" -> (annFiltered, Some(annFilteredSql)),
    "s_ann_binary" -> (annBinary, Some(annBinarySql)),
    "m_ndcg" -> (annNdcg, Some(annNdcgSql)),
    "m_margin_hist" -> (marginHist, Some(marginHistSql)),
    "s_greedy_search" -> (greedySearch, Some(greedySearchSql)),
    "m_perm_importance" -> (permImportance, Some(permImportanceSql)),
    "m_kfold_cv" -> (kfoldCv, Some(kfoldCvSql)),
    "s_pq_train" -> (pqTrain, Some(pqTrainSql)),
    "m_dectree_stump" -> (dectreeStump, Some(dectreeStumpSql)),
    "m_kmeans_step" -> (kmeansStep, Some(kmeansStepSql)),
    "s_semdedup" -> (semDedup, Some(semDedupSql)),
    "s_ann_recall" -> (annRecall, Some(annRecallSql)),
    "s_knn_graph" -> (knnGraph, Some(knnGraphSql)),
    "s_random_proj" -> (randomProj, Some(randomProjSql)),
    "s_ann_brute" -> (annBrute, Some(annBruteSql)),
    "s_ann_media" -> (annMedia, Some(annMediaSql)),
    "m_knn_confusion" -> (knnConfusion, Some(knnConfusionSql)),
    "m_prf_report" -> (prfReport, Some(prfReportSql)),
    "s_ann_lsh" -> (annLsh, Some(annLshSql)),
    "s_cosine_dedup" -> (cosineDedup, Some(cosineDedupSql)),
    "s_ann_ivf" -> (annIvf, Some(annIvfSql)),
    "s_embed_stats" -> (vecDedup, Some(vecDedupSql)),
    "m_centroid_confusion" -> (centroidConfusion, Some(centroidConfusionSql)),
    "s_quantize_err" -> (quantizeErr, Some(quantizeErrSql)),
    "s_covariance" -> (covariance, Some(covarianceSql)),
    "s_ann_quantized" -> (annQuantized, Some(annQuantizedSql)),
    "s_range_search" -> (rangeSearch, Some(rangeSearchSql)),
    "m_adaboost" -> (adaboost, Some(adaboostSql)),
    "s_pca_power" -> (pcaPower, Some(pcaPowerSql)),
    "s_pca_scores" -> (pcaScores, Some(pcaScoresSql)),
    "m_feature_gini" -> (featureGini, Some(featureGiniSql)),
    "m_embed_drift" -> (embedDrift, Some(embedDriftSql)),
    "s_hnsw_search" -> (hnswSearch, Some(hnswSearchSql)),
    "s_diversity_sample" -> (diversitySample, Some(diversitySampleSql)),
    "s_ann_pq" -> (annPq, Some(annPqSql)),
    "s_ann_opq" -> (annOpq, Some(annOpqSql)),
    "s_mmr_rerank" -> (mmrRerank, Some(mmrRerankSql)),
  )

}

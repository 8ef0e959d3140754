package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextOps

/** End-to-end STREAMING corpus preparation — the t_corpus_prep
  * capstone (quality filter → exact dedup → near-dup clusters →
  * decontamination) re-expressed as incremental maintenance over
  * persisted fronts, so a 100 TB pipeline can INGEST documents
  * continuously instead of re-batching the corpus per refresh. The
  * reference's workflow seam (`WorkflowExample.scala:153-162` chains
  * tiling → analysis → publish per ingest) in LLM-pipeline form.
  *
  * Per micro-batch ([[ingestBatch]], a foreachBatch body):
  *
  *   1. per-doc pure stages run map-side and APPEND: doc meta
  *      (lang, token count), MinHash signatures and band keys (the
  *      [[SigFrontStream]] kernels — identical expressions to the
  *      batch sigFront, so append == rebuild exactly);
  *   2. quality verdicts (TextQueries.qualityFilterStage — stateless)
  *      gate the exact-dedup stage: content hashes never seen before
  *      claim their group (doc_ids ascend across batches, so the
  *      first claimer IS the corpus-wide min — the batch keeper);
  *   3. near-dup clustering is maintained by INCREMENTAL connected
  *      components, the same contraction algebra as the raster front
  *      IVM (RegionIncrement): new survivor docs bring in-batch edges
  *      plus edges to touched OLD CLUSTERS contracted to their label
  *      node (a cluster is internally connected, its label is its min
  *      doc_id, and new ids are larger — so component minima over
  *      {new ids} ∪ {old labels} equal the full-rebuild labels
  *      exactly). The CC graph is batch-sized + touched labels,
  *      never corpus-sized; merges remap the persisted cluster table
  *      through one broadcast join.
  *
  * The KEEPER DECISION ([[keepers]]) is then a view over the fronts:
  * cluster minima, minus holdout members, minus the band-key
  * decontamination semi-join — no signature or CC work at read time.
  * Retractions fall out for free: a later batch can merge a kept doc's
  * cluster into a smaller label (keeper flips off via the remap) or
  * land a holdout doc whose band keys contaminate an earlier survivor
  * (keeper flips off via the semi-join) — both match what the batch
  * gate would now compute over the grown corpus, proven bit-for-bit
  * in StreamingCorpusPrepSpec.
  *
  * Ordering contract (same as [[LineDedupStream]]): documents arrive
  * in ascending doc_id order across micro-batches; in-batch disorder
  * is resolved by in-batch minima. Out-of-order ingestion needs an
  * upstream watermark+sort stage.
  *
  * State layout under `root/` (all parquet):
  *   - `doc_meta/`   append-only (doc_id, lang, n_tokens)
  *   - `sig_front/`  append-only (doc_id, sig) — the sigFront twin
  *   - `band_front/` append-only (doc_id, band, key) over ALL docs
  *   - `hash_front/` append-only (ch) claimed content hashes
  *   - `clusters/v<N>/` versioned (doc_id, label) over dedup
  *     survivors; the remap rewrites to v<N+1> (readers of v<N> are
  *     never overwritten in place — the LayerStore publish discipline)
  */
object CorpusPrepStream {

  final case class State(root: String) {
    val docMetaPath: String = s"$root/doc_meta"
    val sigFrontPath: String = s"$root/sig_front"
    val bandFrontPath: String = s"$root/band_front"
    val hashFrontPath: String = s"$root/hash_front"
    val clustersRoot: String = s"$root/clusters"
  }

  private def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (new java.io.File(path).exists()) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private val clustersSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("label", LongType)))
  private val hashSchema = StructType(Seq(StructField("ch", StringType)))

  private def latestClustersVersion(st: State): Int = {
    val d = new java.io.File(st.clustersRoot)
    if (!d.exists()) 0
    else d.listFiles().filter(_.getName.startsWith("v"))
      .map(_.getName.drop(1).toInt).foldLeft(0)(math.max)
  }

  def readClusters(spark: SparkSession, st: State): DataFrame = {
    val v = latestClustersVersion(st)
    if (v == 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], clustersSchema)
    else spark.read.schema(clustersSchema).parquet(s"${st.clustersRoot}/v$v")
  }

  /** Fold one micro-batch of raw documents (doc_id, text, lang, …)
    * into the fronts. */
  def ingestBatch(batch: DataFrame, st: State): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val b = batch.persist()
    // what the batch persists or checkpoints, freed in `finally` also
    // when a stage throws part-way
    var bandsB, s1new, nb: DataFrame = null
    try {
      // per-doc pure appends (stage 1)
      b.select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .write.mode("append").parquet(st.docMetaPath)
      val sigs = SigFrontStream.sigRows(b)
      sigs.write.mode("append").parquet(st.sigFrontPath)
      bandsB = SigFrontStream.bandRows(sigs).persist()
      bandsB.write.mode("append").parquet(st.bandFrontPath)

      // stage 2: quality gate + exact-dedup claims vs the hash front
      val kept = graft.queries.TextQueries.qualityFilterStage(
          b.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")))
        .where(col("keep")).select(col("doc_id"))
      val hashed = b.join(kept, Seq("doc_id"))
        .groupBy(md5(col("text").cast("binary")).as("ch"))
        .agg(min(col("doc_id")).as("doc_id"))
      val seen = readOrEmpty(spark, st.hashFrontPath, hashSchema)
      // eager checkpoint BEFORE appending to the hash front: the append
      // below triggers CacheManager.recacheByPath on every cached plan
      // READING that path — a merely-persisted s1new would be silently
      // recomputed against the grown front (its own hashes now failing
      // the anti-join → empty) for every later consumer in this batch.
      // The checkpoint truncates the lineage so nothing downstream
      // re-reads the front.
      s1new = graft.ops.Materialize.checkpointFresh(hashed.join(seen, Seq("ch"), "left_anti")
        .select(col("doc_id"), col("ch")))
      s1new.select(col("ch")).write.mode("append").parquet(st.hashFrontPath)

      // stage 3: incremental CC over the survivor band graph
      val clusters = readClusters(spark, st)
      nb = bandsB.join(s1new.select(col("doc_id")), Seq("doc_id")).persist()
      val e1 = nb.select(col("band"), col("key"), col("doc_id").as("a"))
        .join(nb.select(col("band"), col("key"), col("doc_id").as("b")), Seq("band", "key"))
        .where(col("a") < col("b")).select(col("a"), col("b"))
      // old survivor band rows, contracted to their cluster label —
      // the bandFront join on clusters keeps exactly the pre-batch
      // survivor rows (this batch's docs are not in `clusters` yet)
      val oldBands = graft.sources.Parquet.read(spark, st.bandFrontPath)
        .join(clusters, Seq("doc_id"))
        .select(col("band"), col("key"), col("label"))
      val e2 = nb.join(oldBands, Seq("band", "key"))
        .select(col("doc_id").as("a"), col("label").as("b")).distinct()
      val cc = graft.text.TextOps.connectedComponents(e1.unionByName(e2))
      val newClusters = s1new.select(col("doc_id"))
        .join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("label"))
      val touched = e2.select(col("b").as("label")).distinct()
      val remap = cc.join(touched, cc("node") === touched("label"))
        .select(col("label"), col("cluster").as("new_label"))
      val updated = clusters.join(broadcast(remap), Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("new_label"), col("label")).as("label"))
        .unionByName(newClusters)
      val next = latestClustersVersion(st) + 1
      updated.write.mode("overwrite").parquet(s"${st.clustersRoot}/v$next")
    } finally {
      if (nb != null) nb.unpersist()
      if (s1new != null) graft.ops.Materialize.free(s1new)
      if (bandsB != null) bandsB.unpersist()
      b.unpersist()
    }
  }

  /** The corpus-prep keeper view over the maintained fronts:
    * (doc_id, lang, n_tokens) survivors, bit-for-bit the batch
    * t_corpus_prep output over everything ingested so far. One
    * band-key semi-join — no signature or CC recomputation. */
  def keepers(spark: SparkSession, st: State): DataFrame = {
    val minima = readClusters(spark, st)
      .where(col("doc_id") === col("label")).select(col("doc_id"))
    val bandFront = graft.sources.Parquet.read(spark, st.bandFrontPath)
    val hold = bandFront.where(col("doc_id") % 50 === 0)
      .select(col("band"), col("key")).distinct()
    val bad = bandFront.join(minima, Seq("doc_id"))
      .where(col("doc_id") % 50 =!= 0)
      .join(hold, Seq("band", "key")).select(col("doc_id")).distinct()
    val s3 = minima.where(col("doc_id") % 50 =!= 0)
      .join(bad, Seq("doc_id"), "left_anti")
    graft.sources.Parquet.read(spark, st.docMetaPath).join(s3, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }
}

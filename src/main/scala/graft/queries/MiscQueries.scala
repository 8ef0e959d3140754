package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Catalog lifecycle, multimodal plumbing and ML queries. */
object MiscQueries {
  type Q = (SparkSession, String) => DataFrame

  /** K1 + S3: write the band-A layer through the catalog (zorder-sorted,
    * partitioned parquet), read it back pruned, pixelize. Round-trip
    * must be the identity — exercises the storage spine inside the
    * correctness gate. */
  val catalogRoundtrip: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog"))
    store.write(tilesA(s, dir), "band_a", 10)
    graft.ops.Raster.pixelize(store.read("band_a", 10), TS)
  }

  val catalogRoundtripSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v FROM pxa""".stripMargin

  /** The overlay the catalog gates publish: band A as the base
    * (`existing`) and band B masked by band A's QA bit 1 over
    * tile_col < 2 as the merge (`incoming`), the one definition their
    * oracles state the same CASE over. Both come from ONE checkpoint of
    * [[Fixtures.tilesAB]], so a write and a merge scan lineitem and
    * assemble once; the checkpoint is freed when `body` returns, so
    * `body` must return only catalog reads. */
  private def withOverlay(s: SparkSession, dir: String)(
      body: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ab = graft.ops.Materialize.checkpointFresh(tilesAB(s, dir))
    try body(
      ab.select(col("tile_col"), col("tile_row"), col("a").as("cells")),
      ab.where(col("tile_col") < 2).select(col("tile_col"), col("tile_row"),
        graft.ops.Raster.maskCells(col("b"), col("a"), 1L).as("cells")))
    finally graft.ops.Materialize.free(ab)
  }

  /** Time travel: write band A (sequence 1), merge a masked band-B
    * overlay (sequence 2), then read BOTH retained sequences back
    * pinned by `readVersion` — history must be byte-stable, so the
    * oracle states each snapshot relationally (seq 1 = the original
    * band, seq 2 = the cell-wise incoming-wins merge, same CASE as the
    * r_merge_upsert oracle). The "VERSION AS OF" read every warehouse
    * catalog owes its users, over the fenced pointer-sequence store. */
  val timeTravel: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_tt"))
    withOverlay(s, dir) { (existing, incoming) =>
      store.write(existing, "band_tt", 9)
      store.merge(incoming, "band_tt", 9)
      // last two retained sequences, POSITION-labeled 1/2: the scratch
      // store accumulates publishes when one process reruns the query
      // (repeated runs in one process), so absolute sequence numbers
      // drift while the oracle's statement (pre-merge, post-merge) does not
      val seqs = store.publishedVersions("band_tt", 9).map(_._1).takeRight(2)
      seqs.zipWithIndex.map { case (q, idx) => graft.ops.Raster
          .pixelize(store.readVersion("band_tt", 9, q), TS)
          .withColumn("seq", lit(idx + 1L))
        }
        .reduce(_ unionByName _)
    }
  }

  val timeTravelSql: String =
    s"""WITH $pxCte
       |SELECT CAST(1 AS BIGINT) AS seq, tile_col, tile_row, px, py, v FROM pxa
       |UNION ALL
       |SELECT 2, tile_col, tile_row, px, py,
       |       CASE WHEN tile_col < 2 AND (CAST(va AS BIGINT) & 1) = 0 THEN vb ELSE va END
       |FROM pxk""".stripMargin

  /** ROLLBACK over the version store: write band A, merge the masked
    * overlay, then `rollback` to the pre-merge sequence — the live read
    * must be band A again, byte-stable (the rollback is a new pointer
    * naming the OLD immutable version dir, never a data copy). The
    * oracle states band A directly; the merged state existing between
    * publish and rollback is exactly what the gate proves is GONE from
    * the live view. Same position-not-absolute-sequence discipline as
    * c_time_travel (reruns accumulate publishes). */
  val rollbackGate: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_rb"))
    withOverlay(s, dir) { (existing, incoming) =>
      store.write(existing, "band_rb", 9)
      store.merge(incoming, "band_rb", 9)
      val preMerge = store.publishedVersions("band_rb", 9).map(_._1).takeRight(2).head
      store.rollback("band_rb", 9, preMerge)
      graft.ops.Raster.pixelize(store.read("band_rb", 9), TS)
    }
  }

  val rollbackGateSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v FROM pxa""".stripMargin

  /** CDC over the version store: which tiles changed between two
    * publishes. Same write+merge setup as c_time_travel, then
    * `readDiff(1, 2)` — the incoming overlay only touches tiles with
    * tile_col < 2 and only where the mask admits a genuinely different
    * value, which is exactly the relational statement the oracle makes.
    * Incremental consumers re-read these keys only. */
  /** Cross-layer atomic snapshot (CatalogTxn): band A and its masked
    * overlay commit as ONE transaction; a plain per-layer writer then
    * clobbers the overlay layer with raw band B. `readAtomic` must
    * return the transaction's consistent pair — the txn-pinned versions
    * — while only per-layer reads see the clobber. The oracle states
    * the committed pair directly: layer 'a' = band A, layer 'b' = the
    * masked overlay (tile_col < 2, QA bit 1 clear; pixelize drops the
    * NaN-masked cells). If readAtomic ever followed the live pointer
    * instead of the log, layer 'b' would surface all of band B and the
    * row set would diverge. Rerun-safe: each rerun appends a fresh
    * transaction and the newest record wins. */
  val txnSnapshot: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_tx"))
    val txn = new graft.catalog.CatalogTxn(store)
    withOverlay(s, dir) { (existing, incoming) =>
      txn.commit(Seq(
        graft.catalog.TxnWrite("txn_a", 9, existing),
        graft.catalog.TxnWrite("txn_b", 9, incoming)))
      store.write(tilesB(s, dir), "txn_b", 9) // non-txn clobber
      val snap = txn.readAtomic(Seq("txn_a" -> 9, "txn_b" -> 9))
      graft.ops.Raster.pixelize(snap("txn_a" -> 9), TS).withColumn("layer", lit("a"))
        .unionByName(
          graft.ops.Raster.pixelize(snap("txn_b" -> 9), TS).withColumn("layer", lit("b")))
    }
  }

  val txnSnapshotSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v, 'a' AS layer FROM pxa
       |UNION ALL
       |SELECT tile_col, tile_row, px, py, vb, 'b'
       |FROM pxk WHERE tile_col < 2 AND (CAST(va AS BIGINT) & 1) = 0""".stripMargin

  /** Compaction under the oracle: write + merge leave a multi-file
    * version (the small-file problem a long upsert history causes);
    * `compact` rewrites the live version into target-sized files and
    * republishes. The read-back must be EXACTLY the merged layer —
    * compaction is a physical rewrite with zero logical effect, which
    * the oracle states as the same incoming-wins CASE as the merge
    * gates. Rerun-safe: re-merging the same masked overlay is
    * idempotent (incoming-wins where defined), and compact republishes
    * like any other write. */
  val compactRoundtrip: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_cp"))
    withOverlay(s, dir) { (existing, incoming) =>
      store.write(existing, "band_cp", 9)
      store.merge(incoming, "band_cp", 9)
      store.compact("band_cp", 9)
      graft.ops.Raster.pixelize(store.read("band_cp", 9), TS)
    }
  }

  val compactRoundtripSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py,
       |       CASE WHEN tile_col < 2 AND (CAST(va AS BIGINT) & 1) = 0 THEN vb ELSE va END AS v
       |FROM pxk""".stripMargin

  val versionDiff: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_vd"))
    withOverlay(s, dir) { (existing, incoming) =>
      store.write(existing, "band_vd", 9)
      store.merge(incoming, "band_vd", 9)
      // last two retained sequences, not literal 1/2: the scratch store
      // accumulates publishes when one process runs the query repeatedly
      // (repeated runs in one process), and older sequences are GC'd by
      // retention
      val seqs = store.publishedVersions("band_vd", 9).map(_._1).takeRight(2)
      store.readDiff("band_vd", 9, seqs.head, seqs.last)
    }
  }

  val versionDiffSql: String =
    s"""WITH $pxCte
       |SELECT DISTINCT tile_col, tile_row, 'changed' AS kind FROM pxk
       |WHERE tile_col < 2 AND (CAST(va AS BIGINT) & 1) = 0 AND vb <> va""".stripMargin

  /** Real frame extraction over a real multi-frame container: animated
    * GIFs synthesized per document (our GIF89a writer, identity-gray
    * palette + literal LZW — lossless by construction), decoded
    * frame-by-frame through the JDK reader, every 2nd frame kept and
    * summarized from its DECODED plane. The oracle predicts first pixel
    * and whole-plane sum per kept frame from the synthFramePixel
    * formula — hash-matching proves the container, the multi-frame
    * reader, the palette resolution and the sampling stride all at
    * once. */
  val frameSample: Q = (s, dir) => {
    val vids = graft.multimodal.Media.videoFromDocuments(table(s, dir, "documents"))
    graft.multimodal.Media.sampleDecodedFrames(vids, 2)
  }

  val frameSampleSql: String =
    """WITH d AS (SELECT doc_id, CAST(length(text) AS INT) AS len FROM documents),
      |p AS (SELECT doc_id, len % 16 + 2 AS w, len % 12 + 2 AS h,
      |             CAST(doc_id % 16 + 1 AS INT) AS nf FROM d),
      |f0 AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fr FROM p),
      |f AS (SELECT doc_id, w, h, CAST(fr AS INT) AS frame FROM f0 WHERE fr % 2 = 0),
      |px AS (SELECT doc_id, frame, w, h, unnest(range(0, w * h)) AS i FROM f)
      |SELECT doc_id, frame, w AS width, h AS height,
      |       CAST((doc_id * 31 + frame * 97) % 256 AS INT) AS p0,
      |       CAST(SUM((doc_id * 31 + frame * 97 + i) % 256) AS BIGINT) AS psum
      |FROM px GROUP BY 1, 2, 3, 4, 5""".stripMargin

  /** S10: point read of one tile after a catalog write (the tile-server
    * path, ServeLayerAsMap.scala:33,111). */
  val pointRead: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_pt"))
    store.write(tilesA(s, dir), "band_a", 10)
    graft.ops.Raster.pixelize(store.readTile("band_a", 10, 1, 2), TS)
  }

  val pointReadSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v FROM pxa
       |WHERE tile_col = 1 AND tile_row = 2""".stripMargin

  /** S10 range form: bbox read over the catalog — pushdown on both key
    * columns; the zorder-sorted row groups make this an indexed range
    * read without an index structure. */
  val bboxRead: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_bb"))
    store.write(tilesA(s, dir), "band_a", 10)
    graft.ops.Raster.pixelize(store.readRange("band_a", 10, 1, 1, 2, 3), TS)
  }

  val bboxReadSql: String =
    s"""WITH $pxCte
       |SELECT tile_col, tile_row, px, py, v FROM pxa
       |WHERE tile_col BETWEEN 1 AND 2 AND tile_row BETWEEN 1 AND 3""".stripMargin

  /** K1/S10 space-time: write a month-keyed layer through the catalog
    * (its `time` column picks the Hilbert sort within time partitions),
    * then read it back with a time window + bbox — the reference's
    * indexed space-time query (HilbertKeyIndexMethod,
    * api/package.scala:148-152). The time
    * window prunes partition dirs; the bbox is pushed to the
    * Hilbert-sorted row groups (asserted in LayerStoreSpec). The
    * oracle recomputes the filtered pixels relationally, so the hash
    * match proves pruning lost nothing. */
  val spacetimeRange: Q = (s, dir) => {
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_str"))
    val px = table(s, dir, "lineitem").groupBy(
        date_format(col("l_shipdate"), "yyyy-MM").as("time"),
        (col("l_orderkey") % 4).cast("int").as("tile_col"),
        (col("l_suppkey") % 4).cast("int").as("tile_row"),
        (col("l_partkey") % TS).cast("int").as("px"),
        (col("l_linenumber") % TS).cast("int").as("py"))
      .agg(sum(col("l_quantity")).cast("double").as("v"))
    val tiles = px.groupBy(col("time"), col("tile_col"), col("tile_row"))
      .agg(graft.ops.Raster.assembler(TS, TS)(col("px"), col("py"), col("v")).as("cells"))
    store.write(tiles, "band_st", 9, tileSize = TS)
    val out = store.readSpaceTimeRange("band_st", 9, "1994-01", "1994-12", 1, 1, 2, 3)
    out.select(col("time"), col("tile_col"), col("tile_row"),
        posexplode(col("cells")).as(Seq("i", "v")))
      .where(not(isnan(col("v"))))
      .select(col("time"), col("tile_col"), col("tile_row"),
        (col("i") % TS).cast("int").as("px"),
        (col("i") / TS).cast("int").as("py"), col("v"))
  }

  val spacetimeRangeSql: String =
    s"""WITH stpx AS (
       |  SELECT strftime(l_shipdate, '%Y-%m') AS time,
       |         CAST(l_orderkey % 4 AS INT) AS tile_col,
       |         CAST(l_suppkey % 4 AS INT) AS tile_row,
       |         CAST(l_partkey % $TS AS INT) AS px,
       |         CAST(l_linenumber % $TS AS INT) AS py,
       |         CAST(SUM(l_quantity) AS DOUBLE) AS v
       |  FROM lineitem GROUP BY 1, 2, 3, 4, 5)
       |SELECT time, tile_col, tile_row, px, py, v FROM stpx
       |WHERE time >= '1994-01' AND time <= '1994-12'
       |  AND tile_col BETWEEN 1 AND 2 AND tile_row BETWEEN 1 AND 3""".stripMargin

  /** S9/K1: attribute-store round-trip — write the band-A layer, then
    * surface the PERSISTED `_attributes` sidecar histogram (not a live
    * aggregation) as rows. The oracle recomputes the same fixed-width
    * bins relationally, so a hash match proves the sidecar holds the
    * exact cell distribution the tile server renders through
    * (Utils.scala:85-89 / ServeLayerAsMap.scala:90-92). */
  val attributes: Q = (s, dir) => {
    import s.implicits._
    val store = new graft.catalog.LayerStore(s, scratch(dir, "catalog_attr"))
    store.write(tilesA(s, dir), "band_a", 10, tileSize = TS, binWidth = 8.0)
    val a = store.readAttributes("band_a", 10).get
    a.bins.zip(a.counts).toDF("bin", "n")
      .select(col("bin"), col("n"),
        lit(a.nTiles).as("n_tiles"), lit(a.minCol).as("min_col"), lit(a.maxCol).as("max_col"),
        lit(a.minRow).as("min_row"), lit(a.maxRow).as("max_row"))
  }

  val attributesSql: String =
    s"""WITH $pxCte,
       |b AS (SELECT CAST(FLOOR(v / 8) AS BIGINT) AS bin, COUNT(*) AS n FROM pxa GROUP BY 1),
       |t AS (SELECT COUNT(DISTINCT (tile_col, tile_row)) AS n_tiles,
       |             MIN(tile_col) AS min_col, MAX(tile_col) AS max_col,
       |             MIN(tile_row) AS min_row, MAX(tile_row) AS max_row FROM pxa)
       |SELECT b.bin, b.n, CAST(t.n_tiles AS BIGINT) AS n_tiles,
       |       CAST(t.min_col AS INT) AS min_col, CAST(t.max_col AS INT) AS max_col,
       |       CAST(t.min_row AS INT) AS min_row, CAST(t.max_row AS INT) AS max_row
       |FROM b, t""".stripMargin

  /** Multimodal: per-document synthetic PNG payloads → REAL ImageIO
    * decode (graft.multimodal.Media) → exploded feature rows sampled
    * from the decoded pixel plane. PNG is lossless, so the oracle
    * predicts the decoded pixels from the synthPixel formula without an
    * image library — the gate hash-matching proves the actual codec
    * round-trip (encode → PNG bytes → decode) recovered dimensions and
    * every sampled pixel exactly. */
  val mediaFeatures: Q = (s, dir) => {
    val media = graft.multimodal.Media
      .mediaFromDocuments(table(s, dir, "documents"))
    graft.multimodal.Media.extractFeatures(media)
      .select(col("doc_id"), col("width"), col("height"),
        posexplode(col("features")).as(Seq("j", "f")))
  }

  val mediaFeaturesSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |         CAST(length(text) % 64 + 1 AS INT) AS width,
       |         CAST(length(text) % 48 + 1 AS INT) AS height
       |  FROM documents)
       |SELECT doc_id, width, height, CAST(r.j AS INT) AS j,
       |       CAST(((doc_id * 31 + (r.j * 37) % (width * height)) % 256) / 256.0 AS REAL) AS f
       |FROM m, range(0, ${graft.multimodal.Media.FeatureDim}) r(j)""".stripMargin

  /** Multimodal resize: NN index mapping over the REAL decoded pixel
    * plane to a 4x4 thumbnail; the oracle replays the NN index
    * arithmetic on the synthPixel formula (lossless PNG ⇒ decoded
    * plane == formula). */
  val mediaResize: Q = (s, dir) => {
    val media = graft.multimodal.Media
      .mediaFromDocuments(table(s, dir, "documents"))
    graft.multimodal.Media.resize(media, 4, 4)
      .select(col("doc_id"), posexplode(col("pixels")).as(Seq("i", "pix")))
  }

  val mediaResizeSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(length(text) % 64 + 1 AS INT) AS w,
      |         CAST(length(text) % 48 + 1 AS INT) AS h
      |  FROM documents)
      |SELECT doc_id, CAST(r.i AS INT) AS i,
      |       CAST((doc_id * 31 + ((r.i % 4) * w) // 4 + (((r.i // 4) * h) // 4) * w) % 256 AS INT) AS pix
      |FROM m, range(0, 16) r(i)""".stripMargin

  /** Multimodal perceptual-hash dedup: REAL PNG decode → 4x4 aHash
    * ([[graft.multimodal.Media.aHash]]) → hash-keyed dup census. The
    * oracle replays the NN-sample + integer above-mean bits + MSB
    * packing on the synthPixel formula (lossless PNG ⇒ decoded plane
    * == formula), so the hash match proves the whole image-near-dup
    * key end to end. Dedup shape: groupBy on the 16-bit key — image
    * dedup at 100 TB ships 8-byte hashes, never pixels. */
  val phashDedup: Q = (s, dir) => {
    val media = graft.multimodal.Media
      .mediaFromDocuments(table(s, dir, "documents"))
    val hashed = graft.multimodal.Media.aHash(media, 4, 4)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))
    hashed.withColumn("n_same", count(lit(1)).over(w))
  }

  val phashDedupSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(length(text) % 64 + 1 AS INT) AS w,
      |         CAST(length(text) % 48 + 1 AS INT) AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, r.j AS j,
      |         (doc_id * 31 + ((r.j % 4) * w) // 4 + (((r.j // 4) * h) // 4) * w) % 256 AS v
      |  FROM m, range(0, 16) r(j)),
      |t AS (SELECT doc_id, SUM(v) AS tot FROM s GROUP BY 1),
      |hb AS (
      |  SELECT s.doc_id,
      |         CAST(SUM(CASE WHEN s.v * 16 > t.tot
      |                       THEN 1 << CAST(15 - s.j AS INT) ELSE 0 END) AS BIGINT) AS phash
      |  FROM s JOIN t USING (doc_id) GROUP BY 1)
      |SELECT doc_id, phash, COUNT(*) OVER (PARTITION BY phash) AS n_same
      |FROM hb""".stripMargin

  /** Multimodal audio: per-document synthetic WAV payloads → REAL
    * javax.sound.sampled decode → per-frame mean-square energy over the
    * decoded PCM. The projected rate_hz/n_samples come from the DECODED
    * container format, so the hash match proves the codec recovered the
    * format fields and every sample exactly (PCM is lossless). */
  val audioFeatures: Q = (s, dir) => {
    val audio = graft.multimodal.Media.audioFromDocuments(table(s, dir, "documents"))
    graft.multimodal.Media.audioFrameEnergy(audio, 8)
      .select(col("doc_id"), col("rate_hz"), col("n_samples"),
        posexplode(col("energy")).as(Seq("frame", "energy")))
  }

  val audioFeaturesSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(length(text) % 512 + 64 AS INT) AS n,
      |         CAST(8000 + (doc_id % 8) * 1000 AS INT) AS rate_hz
      |  FROM documents),
      |ix AS (SELECT doc_id, n, rate_hz, unnest(range(0, n)) AS i FROM m),
      |sm AS (
      |  SELECT doc_id, n, rate_hz, i,
      |         ((doc_id * 7 + i * 13) % 65536) - 32768 AS s
      |  FROM ix)
      |SELECT doc_id, rate_hz, n AS n_samples, CAST((i * 8) // n AS INT) AS frame,
      |       CAST(SUM(s * s) AS DOUBLE) / COUNT(*) AS energy
      |FROM sm GROUP BY 1, 2, 3, 4""".stripMargin

  /** M1-M4: OVA LinearSVC train/predict on embeddings → confusion
    * counts. No oracle (SGD boundary predictions are float-order
    * sensitive); gated rows-only + unit-tested accuracy floor. */
  val mlConfusion: Q = (s, dir) =>
    graft.ml.Classify.trainPredictCounts(table(s, dir, "embeddings"))

  /** M2/M3 ORACLED trainer twin: the same OVA train→predict→confusion
    * surface as m_ml_confusion, but the per-class linear model is the
    * CLOSED-FORM diagonal least-squares fit on four Walsh
    * sign-projections ([[graft.ml.Classify.fixedPointConfusion]]) —
    * exact integer moments, fixed IEEE op trees — so the confusion
    * matrix hash-matches the oracle, which re-trains relationally from
    * the same split. */
  val svmFixedpoint: Q = (s, dir) =>
    graft.ml.Classify.fixedPointConfusion(table(s, dir, "embeddings"))

  val svmFixedpointSql: String = {
    val ks = 1 to 4
    def dotWalsh(k: Int): String =
      s"""list_reduce(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE)
         |           * CAST(1 - 2 * (((i - 1) >> ${k - 1}) & 1) AS DOUBLE)),
         |    (x, y) -> x + y)""".stripMargin
    // scale-adaptive quantization, same thresholds as the Scala side
    // (Classify.fixedPointConfusion): p from the train count keeps the
    // exact integer moments under 2^53; FLOOR is the bit-portable
    // quantizer (double→DECIMAL casts round build-dependently)
    val featCols = ks.map(k =>
      s"CAST(FLOOR(${dotWalsh(k)} * pq.p) AS BIGINT) AS f$k")
    val gmCols = ks.map(k => s"SUM(f$k) AS sf$k, SUM(f$k * f$k) AS sff$k")
    val cmCols = ks.map(k => s"SUM(f$k) AS csf$k")
    val adCols = ks.map(k =>
      s"""(n * (2 * csf$k - sf$k) - sf$k * (2 * nc - n)) AS a$k,
         |         (n * sff$k - sf$k * sf$k) AS d$k""".stripMargin)
    // const = Sy/n − A·ΣF/(D·n); score_k = (A·F)/D + const — the same
    // op tree Classify.fixedPointConfusion evaluates in Scala/Columns
    val cstCols = ks.map(k =>
      s"""(CAST(2 * nc - n AS DOUBLE) / CAST(n AS DOUBLE)
         |          - (CAST(a$k AS DOUBLE) * CAST(sf$k AS DOUBLE))
         |            / (CAST(d$k AS DOUBLE) * CAST(n AS DOUBLE))) AS cst$k""".stripMargin)
    val sCols = ks.map(k =>
      s"""((CAST(pr.a$k AS DOUBLE) * CAST(te.f$k AS DOUBLE))
         |           / CAST(pr.d$k AS DOUBLE) + pr.cst$k) AS s$k""".stripMargin)
    s"""WITH b0 AS (
       |  SELECT vec_id, label, embedding,
       |         ${graft.text.TextOps.hashBucketSql("vec_id", 10)} AS bkt
       |  FROM embeddings),
       |nt AS (SELECT COUNT(*) AS ntr FROM b0 WHERE bkt <> 9),
       |pq AS (SELECT CASE WHEN ntr <= 2800 THEN 1000.0
       |                   WHEN ntr <= 28000 THEN 100.0
       |                   WHEN ntr <= 280000 THEN 10.0
       |                   WHEN ntr <= 2800000 THEN 1.0
       |                   ELSE error('fixed-point trainer beyond exact-Long range: use BigInt weights')
       |              END AS p FROM nt),
       |f AS (
       |  SELECT vec_id, label, bkt,
       |         ${featCols.mkString(",\n         ")}
       |  FROM b0 CROSS JOIN pq),
       |tr AS (SELECT * FROM f WHERE bkt <> 9),
       |te AS (SELECT * FROM f WHERE bkt = 9),
       |gm AS (SELECT COUNT(*) AS n, ${gmCols.mkString(", ")} FROM tr),
       |cm AS (SELECT label AS cls, COUNT(*) AS nc, ${cmCols.mkString(", ")}
       |       FROM tr GROUP BY 1),
       |ad AS (SELECT cls, nc, n, ${ks.map(k => s"sf$k").mkString(", ")},
       |         ${adCols.mkString(",\n         ")}
       |       FROM cm CROSS JOIN gm),
       |pr AS (SELECT cls, n, ${ks.flatMap(k => Seq(s"a$k", s"d$k")).mkString(", ")},
       |         ${cstCols.mkString(",\n         ")}
       |       FROM ad),
       |sc AS (SELECT te.vec_id AS qid, te.label AS label, pr.cls,
       |         ${sCols.mkString(",\n         ")}
       |       FROM te CROSS JOIN pr),
       |tot AS (SELECT qid, label, cls, ((s1 + s2) + s3) + s4 AS score FROM sc),
       |pick AS (SELECT qid, label, cls,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cls) AS r
       |         FROM tot QUALIFY r = 1)
       |SELECT label, cls AS pred, COUNT(*) AS n FROM pick GROUP BY 1, 2""".stripMargin
  }

  /** M1 oracle-checked: deterministic stratified split — per-label keep
    * set from a stable key hash (engine-reproducible, unlike seeded
    * sample()/sampleBy whose RNG streams differ per engine). One
    * map-side predicate + one label-keyed aggregation; the split any
    * training pipeline can re-derive anywhere. */
  val stratifiedSplit: Q = (s, dir) => {
    val keep = graft.text.TextOps.hashBucket(col("vec_id"), 2) === 0
    table(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"))
  }

  val stratifiedSplitSql: String =
    s"""SELECT label, COUNT(*) AS n_total,
       |       CAST(SUM(CASE WHEN ${graft.text.TextOps.hashBucketSql("vec_id", 2)} = 0
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM embeddings GROUP BY 1""".stripMargin

  /** Schema evolution on the lake layout — the add-column migration
    * every long-lived table eventually makes: v=1 files carry
    * (key, price), a later writer adds `disc`; a mergeSchema read
    * unions the file schemas and NULL-backfills the old files. The
    * gate aggregates across both generations so null-backfill,
    * partition-column discovery, and the union'd schema are all under
    * the oracle. At scale this is metadata-only: no rewrite of v1
    * files ever happens. */
  val schemaMerge: Q = (s, dir) => {
    val base = scratch(dir, "catalog_schevo")
    val li = table(s, dir, "lineitem")
    li.where(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), dec2(col("l_extendedprice")).as("price"))
      .write.mode("overwrite").parquet(s"$base/v=1")
    li.where(col("l_orderkey") % 2 === 1)
      .select(col("l_orderkey"), col("l_linenumber"), dec2(col("l_extendedprice")).as("price"),
        dec2(col("l_discount")).as("disc"))
      .write.mode("overwrite").parquet(s"$base/v=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n"), count(col("disc")).as("n_disc"),
        dsum(col("price")).as("sum_price"),
        dsum(coalesce(col("disc"), lit(0).cast("decimal(12,2)"))).as("sum_disc"))
  }

  val schemaMergeSql: String =
    s"""SELECT 1 AS v, COUNT(*) AS n, 0 AS n_disc,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price, 0.0 AS sum_disc
       |FROM lineitem WHERE l_orderkey % 2 = 0
       |UNION ALL
       |SELECT 2, COUNT(*), COUNT(*),
       |       ${dsumSql(dec2Sql("l_extendedprice"))},
       |       ${dsumSql(dec2Sql("l_discount"))}
       |FROM lineitem WHERE l_orderkey % 2 = 1""".stripMargin

  /** ORC round-trip — the second columnar format Spark ships natively
    * (a warehouse engine must read the lake it's pointed at, whatever
    * the format): write a typed lineitem projection (bigint, int,
    * string, decimal, timestamp) as ORC, read it back, aggregate. The
    * oracle computes the same aggregate straight from the parquet
    * source, so the gate proves the ORC write→read cycle is lossless
    * across all five types. */
  val orcRoundtrip: Q = (s, dir) => {
    val base = scratch(dir, "catalog_orc")
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        dec2(col("l_extendedprice")).as("price"), col("l_shipdate"))
      .write.mode("overwrite").orc(base)
    s.read.orc(base)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        sum(col("l_linenumber").cast("long")).as("sum_line"),
        dsum(col("price")).as("sum_price"),
        max(col("l_shipdate")).as("max_ship"))
  }

  val orcRoundtripSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       |       CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price,
       |       MAX(l_shipdate) AS max_ship
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Zstd-compressed parquet round-trip: the wire-efficiency knob a
    * 100 TB lake actually turns (zstd ≈ snappy read speed at ~2x
    * better ratio — Spark and DuckDB both ship the codec natively).
    * Write a typed projection with compression=zstd, read it back,
    * aggregate; the oracle computes the same aggregate from the
    * original source, so the gate proves the codec cycle is lossless
    * across the five core types. */
  val zstdRoundtrip: Q = (s, dir) => {
    val base = scratch(dir, "catalog_zstd")
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        dec2(col("l_extendedprice")).as("price"), col("l_shipdate"))
      .write.mode("overwrite").option("compression", "zstd").parquet(base)
    graft.sources.Parquet.read(s, base)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        sum(col("l_linenumber").cast("long")).as("sum_line"),
        dsum(col("price")).as("sum_price"),
        max(col("l_shipdate")).as("max_ship"))
  }

  val zstdRoundtripSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       |       CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price,
       |       MAX(l_shipdate) AS max_ship
       |FROM lineitem GROUP BY 1""".stripMargin

  /** JSON-lines sink + source round-trip — the interchange format every
    * ingest boundary speaks. Write a typed projection as JSON, read it
    * back with an EXPLICIT schema (schema-on-read; inference would cost
    * an extra pass and type-drift silently), aggregate, and match the
    * oracle computing the same statistics off the parquet source —
    * proving the codec lost nothing. Timestamps ride as DATE: Spark's
    * default JSON timestamp format truncates sub-millisecond precision,
    * so a date projection is the honest lossless contract (the gate
    * documents the boundary instead of hiding it). */
  val jsonRoundtrip: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val base = scratch(dir, "catalog_json")
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        dec2(col("l_extendedprice")).as("price"),
        col("l_shipdate").cast("date").as("ship_date"))
      .write.mode("overwrite").json(base)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_returnflag", StringType),
      StructField("price", DecimalType(12, 2)), StructField("ship_date", DateType)))
    s.read.schema(schema).json(base)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        sum(col("l_linenumber").cast("long")).as("sum_line"),
        dsum(col("price")).as("sum_price"),
        max(col("ship_date")).as("max_ship"))
  }

  val jsonRoundtripSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |       CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       |       CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
       |       ${dsumSql(dec2Sql("l_extendedprice"))} AS sum_price,
       |       MAX(CAST(l_shipdate AS DATE)) AS max_ship
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Dynamic partition overwrite — the in-place partition refresh every
    * partitioned lake table lives by: a full partitioned write, then a
    * second overwrite-mode write that touches ONLY the partitions
    * present in its data (`partitionOverwriteMode=dynamic`), here the
    * 'R' partition with doubled prices. The gate proves the untouched
    * partitions survived and the refreshed one changed — static
    * overwrite semantics (truncate-all) would fail it loudly. */
  val partitionOverwrite: Q = (s, dir) => {
    val base = scratch(dir, "catalog_dpo")
    val li = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      dec2(col("l_extendedprice")).as("price"), col("l_returnflag"))
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(base)
    li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("price") * 2).cast("decimal(12,2)").as("price"),
        col("l_returnflag"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("l_returnflag").parquet(base)
    graft.sources.Parquet.read(s, base)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
  }

  // dsumSql, not a naive CAST(SUM(...) AS DOUBLE): the Spark side
  // already dsums, and at 60M rows the naive oracle cast diverges by
  // 1 ulp once the unscaled sum passes 2^53 (found AT sf10, round 9)
  val partitionOverwriteSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |       ${dsumSql(s"""CASE WHEN l_returnflag = 'R'
       |                          THEN 2 * ${dec2Sql("l_extendedprice")}
       |                          ELSE ${dec2Sql("l_extendedprice")} END""")} AS sum_price
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Exact ROC-AUC by tie-aware rank statistics (Mann-Whitney U) — the
    * threshold-free classifier metric next to m_prf_report's fixed
    * confusion. Score = n_chars, label = (lang = 'en'): a real
    * length-vs-language signal in the corpus. Formulated WITHOUT a
    * global per-row rank: rows first collapse to score groups (one
    * combiner-friendly Exchange), then 2·U1 = Σ_s p_s·(2·N_<s + n_s)
    * needs only a prefix sum over the DISTINCT-score table — the
    * single-partition window runs on |scores| rows, not |rows| (at
    * corpus scale scores are discrete/binned, so this stays tiny; the
    * tie handling is exactly the average-rank convention). The final
    * AUC is ONE IEEE division of two exactly-represented integers, so
    * both engines agree bitwise. */
  val auc: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val g = table(s, dir, "documents")
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val below = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("nlt", coalesce(sum(col("n")).over(below), lit(0L)))
      .agg(sum(col("p") * (lit(2) * col("nlt") + col("n"))).as("u2"),
        sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  val aucSql: String =
    """WITH g AS (
      |  SELECT n_chars AS score,
      |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
      |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n
      |  FROM documents GROUP BY 1),
      |c AS (
      |  SELECT p, n,
      |         COALESCE(SUM(n) OVER (ORDER BY score
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nlt
      |  FROM g),
      |u AS (SELECT CAST(SUM(p * (2 * nlt + n)) AS BIGINT) AS u2,
      |             CAST(SUM(p) AS BIGINT) AS n_pos,
      |             CAST(SUM(n) AS BIGINT) AS n_neg
      |      FROM c)
      |SELECT n_pos, n_neg,
      |       CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM u""".stripMargin

  /** Exact ROC-AUC over a CONTINUOUS score — the realistic regime where
    * m_auc's "distinct scores are few" contraction does NOT hold: the
    * first embedding component is unique per row, so the grouped score
    * table is row-sized and a single-partition prefix-sum window over
    * it would be exactly the q_rfm scale killer. The prefix sum of
    * negatives-below instead rides
    * [[graft.ops.Ranking.withGlobalRunningSums]] (range shuffle + two
    * local passes, no single-partition stage) — the shape that survives
    * 10^8 unique model scores. Same tie-aware Mann-Whitney identity and
    * exact long arithmetic as m_auc; one final IEEE division. */
  val aucContinuous: Q = (s, dir) => {
    val g = table(s, dir, "embeddings")
      .select(element_at(col("embedding"), 1).as("score"),
        when(col("label") >= 5, 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val (r, _) = graft.ops.Ranking.withGlobalRunningSums(g, Seq(col("score")), Seq("n"))
    r.agg(sum(col("p") * (lit(2) * (col("rsum_n") - col("n")) + col("n"))).as("u2"),
        sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  val aucContinuousSql: String =
    """WITH g AS (
      |  SELECT embedding[1] AS score,
      |         SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS p,
      |         SUM(CASE WHEN label >= 5 THEN 0 ELSE 1 END) AS n
      |  FROM embeddings GROUP BY 1),
      |c AS (
      |  SELECT p, n,
      |         COALESCE(SUM(n) OVER (ORDER BY score
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nlt
      |  FROM g),
      |u AS (SELECT CAST(SUM(p * (2 * nlt + n)) AS BIGINT) AS u2,
      |             CAST(SUM(p) AS BIGINT) AS n_pos,
      |             CAST(SUM(n) AS BIGINT) AS n_neg
      |      FROM c)
      |SELECT n_pos, n_neg,
      |       CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM u""".stripMargin

  /** Precision-recall curve over every distinct score threshold — the
    * threshold-sweep view of the same score/label pair m_auc collapses
    * to one number (predict positive where score ≥ t). Like the AUC,
    * rows first collapse to score groups, then TP/FP are prefix sums
    * over the DISTINCT-score table ordered descending — both frames
    * share one sort; precision and recall are single IEEE divisions of
    * exact integers per row. */
  val prCurve: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val g = table(s, dir, "documents")
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val cum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("tp", sum(col("p")).over(cum))
      .withColumn("fp", sum(col("n")).over(cum))
      .withColumn("n_pos", sum(col("p")).over(all))
      .select(col("score"), col("tp"), col("fp"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double")).as("precision"),
        (col("tp").cast("double") / col("n_pos").cast("double")).as("recall"))
  }

  val prCurveSql: String =
    """WITH g AS (
      |  SELECT n_chars AS score,
      |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
      |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n
      |  FROM documents GROUP BY 1),
      |c AS (
      |  SELECT score,
      |         SUM(p) OVER w AS tp, SUM(n) OVER w AS fp,
      |         SUM(p) OVER () AS n_pos
      |  FROM g
      |  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
      |       CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
      |FROM c""".stripMargin

  /** Precision-recall curve over a CONTINUOUS score — m_pr_curve's
    * scale twin, completing the continuous-score eval family
    * m_auc_continuous opened: the first embedding component is unique
    * per row, so the distinct-score table is row-sized and the
    * descending TP/FP prefix sums would otherwise plan as exactly the
    * single-partition Sort+Window q_rfm was cured of. Both prefix sums
    * ride ONE [[graft.ops.Ranking.withGlobalRunningSums]] pass (one
    * descending range shuffle carries TP and FP together), and the
    * recall denominator comes from the primitive's driver-side
    * partition totals — no second pass, no global window anywhere.
    * Counts are exact longs; precision/recall are one IEEE division
    * each, bit-identical in any engine. */
  val prContinuous: Q = (s, dir) => {
    val g = table(s, dir, "embeddings")
      .select(element_at(col("embedding"), 1).as("score"),
        when(col("label") >= 5, 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val (r, totals) = graft.ops.Ranking.withGlobalRunningSums(
      g, Seq(col("score").desc), Seq("p", "n"))
    val nPos = totals.head
    r.select(col("score"), col("rsum_p").as("tp"), col("rsum_n").as("fp"),
      (col("rsum_p").cast("double") /
        (col("rsum_p") + col("rsum_n")).cast("double")).as("precision"),
      (col("rsum_p").cast("double") / lit(nPos).cast("double")).as("recall"))
  }

  val prContinuousSql: String =
    """WITH g AS (
      |  SELECT embedding[1] AS score,
      |         SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS p,
      |         SUM(CASE WHEN label >= 5 THEN 0 ELSE 1 END) AS n
      |  FROM embeddings GROUP BY 1),
      |c AS (
      |  SELECT score,
      |         SUM(p) OVER w AS tp, SUM(n) OVER w AS fp,
      |         SUM(p) OVER () AS n_pos
      |  FROM g
      |  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
      |       CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
      |FROM c""".stripMargin

  /** Calibration (reliability) bins — does the score's magnitude track
    * the empirical positive rate? Ten fixed-width bins on the score,
    * per-bin count, mean score and observed positive fraction. Pure
    * integer aggregation (the only floats are per-bin scalar divisions
    * of exact integer sums), zero windows, one Exchange on the bin key
    * — the cheapest possible eval sweep at any scale. */
  val calibration: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(least(expr("n_chars div 50"), lit(9L)).cast("int").as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        col("n_chars"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_chars"),
        (sum(col("y")).cast("double") / count(lit(1)).cast("double"))
          .as("frac_pos"))

  val calibrationSql: String =
    """SELECT CAST(LEAST(n_chars // 50, 9) AS INT) AS bin,
      |       COUNT(*) AS n,
      |       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars,
      |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE) AS frac_pos
      |FROM documents GROUP BY 1""".stripMargin

  /** Chi-square independence test + Cramér's V between two categorical
    * columns (lang x source) — the association census run before using
    * a column as a stratification or split key. Entirely
    * transcendental-free: chi² = Σ O²·N/(r·c) − N (algebraically equal
    * to Σ(O−E)²/E when margins sum to N), every per-cell input is an
    * exact integer below 2^53, the one division and one multiply are
    * fixed-order scalars, and the cross-cell SUM happens in DECIMAL —
    * so unlike ln-based metrics this gate is bitwise-deterministic
    * with NO quantization dodge. Scale: two margin aggregations + the
    * cell aggregation, margins broadcast back onto cells. The category
    * counts r and c are set sizes, not COUNT(DISTINCT): two distinct
    * aggregates in one `agg` plan an Expand whose group order varies
    * between JVMs. */
  val chi2: Q = (s, dir) => {
    val d = table(s, dir, "documents")
    val o = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rx = d.groupBy(col("lang")).agg(count(lit(1)).as("rx"))
    val cy = d.groupBy(col("source")).agg(count(lit(1)).as("cy"))
    val tot = d.agg(count(lit(1)).as("n"),
      size(collect_set(col("lang"))).as("r"), size(collect_set(col("source"))).as("c"))
    val term = ((col("o") * col("o")).cast("double")
      / (col("rx") * col("cy")).cast("double")
      * col("n").cast("double")).cast("decimal(24,10)")
    o.join(broadcast(rx), Seq("lang")).join(broadcast(cy), Seq("source"))
      .crossJoin(broadcast(tot))
      .agg(sum(term).as("sq"), max(col("n")).as("n"),
        max(col("r")).as("r"), max(col("c")).as("c"))
      .select(col("n"),
        ((col("r") - 1) * (col("c") - 1)).cast("int").as("dof"),
        (col("sq").cast("double") - col("n").cast("double")).as("chi2"),
        sqrt((col("sq").cast("double") - col("n").cast("double"))
          / (col("n") * least(col("r") - 1, col("c") - 1)).cast("double"))
          .as("cramers_v"))
  }

  val chi2Sql: String =
    """WITH o AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |rx AS (SELECT lang, COUNT(*) AS rx FROM documents GROUP BY 1),
      |cy AS (SELECT source, COUNT(*) AS cy FROM documents GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n, COUNT(DISTINCT lang) AS r,
      |             COUNT(DISTINCT source) AS c FROM documents),
      |s AS (
      |  SELECT CAST(SUM(CAST(CAST(o.o * o.o AS DOUBLE) / CAST(rx.rx * cy.cy AS DOUBLE)
      |                        * CAST(t.n AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) AS sq,
      |         MAX(t.n) AS n, MAX(t.r) AS r, MAX(t.c) AS c
      |  FROM o JOIN rx USING (lang) JOIN cy USING (source) CROSS JOIN t)
      |SELECT n, CAST((r - 1) * (c - 1) AS INT) AS dof,
      |       sq - CAST(n AS DOUBLE) AS chi2,
      |       SQRT((sq - CAST(n AS DOUBLE))
      |            / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
      |FROM s""".stripMargin

  /** Closed-form multiple linear regression (OLS, 2 regressors +
    * intercept) fitted ENTIRELY as a query: predict l_extendedprice
    * from l_quantity and l_discount. One pass accumulates the 9 exact
    * second-order moments (every product lands in DECIMAL before the
    * order-free sum — the [[Fixtures.dsum]] discipline, so a 100 TB
    * scan reduces to ONE mergeable moment row with map-side partial
    * aggregation and zero extra shuffles), then the normal equations
    * are solved on that single row by Cramer's rule in fixed-order
    * double arithmetic — the identical expression tree in both engines,
    * so even the final float math hash-matches. This is the scale shape
    * ML-on-SQL regression wants: moments are associative state,
    * coefficients are scalar post-processing; contrast SGD
    * (m_ml_confusion), which is iteration-ordered by nature. */
  val linreg: Q = (s, dir) => {
    val q = dec2(col("l_quantity"))
    val d = dec2(col("l_discount"))
    val y = dec2(col("l_extendedprice"))
    val m = table(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      dsum(q).as("sx1"), dsum(d).as("sx2"), dsum(y).as("sy"),
      dsum(q * q).as("s11"), dsum(q * d).as("s12"), dsum(d * d).as("s22"),
      dsum(q * y).as("s1y"), dsum(d * y).as("s2y"))
    val n = col("n").cast("double")
    val (sx1, sx2, sy) = (col("sx1"), col("sx2"), col("sy"))
    val (s11, s12, s22) = (col("s11"), col("s12"), col("s22"))
    val (s1y, s2y) = (col("s1y"), col("s2y"))
    val det = n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) +
      sx2 * (sx1 * s12 - s11 * sx2)
    val det0 = sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y) +
      sx2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2) +
      sx2 * (sx1 * s2y - s1y * sx2)
    val det2 = n * (s11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2) +
      sy * (sx1 * s12 - s11 * sx2)
    m.select(col("n"), (det0 / det).as("b0"), (det1 / det).as("b1"),
      (det2 / det).as("b2"))
  }

  val linregSql: String = {
    // the scalar algebra below MUST stay structurally identical to the
    // Spark expressions above: double arithmetic is deterministic only
    // per operation order
    val dq = dec2Sql("l_quantity")
    val dd = dec2Sql("l_discount")
    val dy = dec2Sql("l_extendedprice")
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n,
       |         ${dsumSql(dq)} AS sx1, ${dsumSql(dd)} AS sx2, ${dsumSql(dy)} AS sy,
       |         ${dsumSql(s"$dq * $dq")} AS s11, ${dsumSql(s"$dq * $dd")} AS s12,
       |         ${dsumSql(s"$dd * $dd")} AS s22,
       |         ${dsumSql(s"$dq * $dy")} AS s1y, ${dsumSql(s"$dd * $dy")} AS s2y
       |  FROM lineitem),
       |c AS (
       |  SELECT n, sx1, sx2, sy, s11, s12, s22, s1y, s2y,
       |         CAST(n AS DOUBLE) AS nd FROM m)
       |SELECT n,
       |  (sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y)
       |    + sx2 * (s1y * s12 - s11 * s2y))
       |  / (nd * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)
       |    + sx2 * (sx1 * s12 - s11 * sx2)) AS b0,
       |  (nd * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2)
       |    + sx2 * (sx1 * s2y - s1y * sx2))
       |  / (nd * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)
       |    + sx2 * (sx1 * s12 - s11 * sx2)) AS b1,
       |  (nd * (s11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2)
       |    + sy * (sx1 * s12 - s11 * sx2))
       |  / (nd * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)
       |    + sx2 * (sx1 * s12 - s11 * sx2)) AS b2
       |FROM c""".stripMargin
  }

  /** Per-group regression metrics — the evaluation half m_linreg's fit
    * omits: for each l_returnflag, fit y = a + b·x (extendedprice on
    * quantity) closed-form AND report R² and RMSE, everything derived
    * from ONE six-moment pass per group (SSE expands to the moment
    * polynomial Syy + n·a² + b²·Sxx − 2a·Sy − 2b·Sxy + 2ab·Sx, so no
    * residual re-scan, no order-dependent double sum). Moments are
    * exact decimals; the scalar chain is order-fixed; sqrt is
    * IEEE-exact. Grouped model fitting at 100 TB = one groupBy,
    * K tiny rows out. */
  val regMetrics: Q = (s, dir) => {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    val m = table(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * x).as("sxx"), dsum(x * y).as("sxy"), dsum(y * y).as("syy"))
    val (n, sx, sy) = (col("n"), col("sx"), col("sy"))
    val (sxx, sxy, syy) = (col("sxx"), col("sxy"), col("syy"))
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - b * sx) / n
    val sse = syy + n * a * a + b * b * sxx - a * sy * 2.0 - b * sxy * 2.0 +
      a * b * sx * 2.0
    val sst = syy - sy * sy / n
    m.select(col("l_returnflag"), n.cast("long").as("n"),
      b.as("slope"), a.as("intercept"),
      (lit(1.0) - sse / sst).as("r2"), sqrt(sse / n).as("rmse"))
  }

  val regMetricsSql: String = {
    val dx = dec2Sql("l_quantity")
    val dy = dec2Sql("l_extendedprice")
    val b = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    val a = s"((sy - $b * sx) / n)"
    val sse = s"(syy + n * $a * $a + $b * $b * sxx - $a * sy * 2.0 - $b * sxy * 2.0 + $a * $b * sx * 2.0)"
    val sst = "(syy - sy * sy / n)"
    s"""WITH m AS (
       |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
       |         ${dsumSql(dx)} AS sx, ${dsumSql(dy)} AS sy,
       |         ${dsumSql(s"$dx * $dx")} AS sxx, ${dsumSql(s"$dx * $dy")} AS sxy,
       |         ${dsumSql(s"$dy * $dy")} AS syy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |       $b AS slope, $a AS intercept,
       |       1.0 - $sse / $sst AS r2, sqrt($sse / n) AS rmse
       |FROM m""".stripMargin
  }

  /** Leave-one-out target encoding — the feature-engineering primitive
    * that replaces a categorical with its per-category target mean
    * while excluding the row's OWN target (the leakage guard): LOO
    * mean = (S_g − x_i)/(n_g − 1), the a_incremental_agg subtraction
    * identity applied per row. One category aggregate broadcast back
    * onto the scan — no per-row window over the corpus, no second
    * shuffle; singleton categories are excluded identically on both
    * sides (their LOO mean is undefined). Sums are exact cents; the
    * per-row chain is two IEEE divisions. */
  val targetEncode: Q = (s, dir) => {
    val o = table(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("pri"),
      (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    val g = o.groupBy(col("pri"))
      .agg(sum(col("cents")).as("sg"), count(lit(1)).as("ng"))
    o.join(broadcast(g), Seq("pri"))
      .where(col("ng") > 1)
      .select(col("o_orderkey"), col("pri"),
        ((col("sg") - col("cents")).cast("double")
          / (col("ng") - 1L).cast("double") / 100.0).as("te"))
  }

  val targetEncodeSql: String =
    s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS pri,
       |                  CAST(${dec2Sql("o_totalprice")} * 100 AS BIGINT) AS cents
       |           FROM orders),
       |w AS (SELECT o_orderkey, pri, cents,
       |             CAST(SUM(cents) OVER (PARTITION BY pri) AS BIGINT) AS sg,
       |             COUNT(*) OVER (PARTITION BY pri) AS ng
       |      FROM o)
       |SELECT o_orderkey, pri,
       |       CAST(sg - cents AS DOUBLE) / CAST(ng - 1 AS DOUBLE) / 100.0 AS te
       |FROM w WHERE ng > 1""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "m_target_encode" -> (targetEncode, Some(targetEncodeSql)),
    "m_linreg" -> (linreg, Some(linregSql)),
    "m_reg_metrics" -> (regMetrics, Some(regMetricsSql)),
    "m_chi2" -> (chi2, Some(chi2Sql)),
    "m_auc" -> (auc, Some(aucSql)),
    "m_auc_continuous" -> (aucContinuous, Some(aucContinuousSql)),
    "m_pr_curve" -> (prCurve, Some(prCurveSql)),
    "m_pr_continuous" -> (prContinuous, Some(prContinuousSql)),
    "m_calibration" -> (calibration, Some(calibrationSql)),
    "c_orc_roundtrip" -> (orcRoundtrip, Some(orcRoundtripSql)),
    "c_zstd_roundtrip" -> (zstdRoundtrip, Some(zstdRoundtripSql)),
    "c_json_roundtrip" -> (jsonRoundtrip, Some(jsonRoundtripSql)),
    "c_partition_overwrite" -> (partitionOverwrite, Some(partitionOverwriteSql)),
    "c_schema_merge" -> (schemaMerge, Some(schemaMergeSql)),
    "m_stratified_split" -> (stratifiedSplit, Some(stratifiedSplitSql)),
    "c_catalog_roundtrip" -> (catalogRoundtrip, Some(catalogRoundtripSql)),
    "c_point_read" -> (pointRead, Some(pointReadSql)),
    "c_txn_snapshot" -> (txnSnapshot, Some(txnSnapshotSql)),
    "c_compact" -> (compactRoundtrip, Some(compactRoundtripSql)),
    "c_time_travel" -> (timeTravel, Some(timeTravelSql)),
    "c_rollback" -> (rollbackGate, Some(rollbackGateSql)),
    "m_frame_sample" -> (frameSample, Some(frameSampleSql)),
    "c_version_diff" -> (versionDiff, Some(versionDiffSql)),
    "c_bbox_read" -> (bboxRead, Some(bboxReadSql)),
    "c_spacetime_range" -> (spacetimeRange, Some(spacetimeRangeSql)),
    "m_audio_features" -> (audioFeatures, Some(audioFeaturesSql)),
    "c_attributes" -> (attributes, Some(attributesSql)),
    "m_media_features" -> (mediaFeatures, Some(mediaFeaturesSql)),
    "m_media_resize" -> (mediaResize, Some(mediaResizeSql)),
    "m_phash_dedup" -> (phashDedup, Some(phashDedupSql)),
    // NOTE: the SGD trainer (mlConfusion) is intentionally NOT
    // registered: SGD boundary predictions are float-order sensitive,
    // so no engine-independent oracle exists. Its OVA semantics are
    // driver-gated through the hash-matched closed-form twin below
    // (m_svm_fixedpoint) and the SGD path itself is covered by
    // MiscSpec's accuracy-band test.
    "m_svm_fixedpoint" -> (svmFixedpoint, Some(svmFixedpointSql)),
  )
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** ONE streaming ingest, the whole corpus-prep workflow: the same
  * sf0.001 documents arrive in three doc_id-ordered micro-batches and
  * drive BOTH granularities off one input — the chunk-level dedup
  * stage (LineDedupStream, stateful fMGWS) and the document-level
  * corpus-prep fronts (CorpusPrepStream: SigFrontStream kernels +
  * hash claims + incremental CC + the keeper view). After EVERY
  * micro-batch boundary the streaming keeper view must equal the
  * batch t_corpus_prep gate run over exactly the documents ingested
  * so far — bit-for-bit, including retractions (a later batch can
  * merge a kept doc's cluster into a smaller label or land a holdout
  * doc that contaminates an earlier survivor). */
class StreamingCorpusPrepSpec extends AnyFunSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val ChunkTokens = 16 // TextQueries.ChunkTokens (the C4 window)

  test("streaming corpus prep equals the batch gate at every micro-batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_cps").toString
    val st = CorpusPrepStream.State(s"$tmp/state")

    val allDocs = spark.read.parquet(s"$dir/documents.parquet")
    val docRows = allDocs.select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(docRows.length >= 9, "fixture must be large enough to split 3 ways")
    val third = docRows.length / 3
    val slices = Seq(docRows.take(third),
      docRows.slice(third, 2 * third), docRows.drop(2 * third))

    // one logical ingest, two branches. MemoryStream is single-consumer
    // (a query's offset commit trims the shared buffer, starving the
    // other query one batch later), so each branch gets its own
    // instance fed the same slices in lockstep — the topology a
    // multi-reader source (Kafka consumer groups) provides natively.
    val inputChunks = MemoryStream[(Long, String, String)]
    val input = MemoryStream[(Long, String, String)]
    val docsDf = input.toDS().toDF("doc_id", "text", "lang")

    // branch 1: chunk-granularity boilerplate dedup, chained off the
    // same ingest (the t_line_dedup semantics)
    val chunks = inputChunks.toDS().toDF("doc_id", "text", "lang").select($"doc_id",
        posexplode(graft.text.TextOps.chunkTexts(
          graft.text.TextOps.tokens($"text"), ChunkTokens)).as(Seq("idx", "chunk")))
      .select($"doc_id", $"idx",
        graft.text.TextOps.h60($"chunk").as("h"),
        size(split($"chunk", " ")).as("n_toks"))
      .as[LineDedupStream.Chunk]
    val q1 = LineDedupStream.dedupChunks(chunks)
      .writeStream.format("memory").queryName("cps_chunks")
      .outputMode("append").start()

    // branch 2: document-granularity corpus-prep front maintenance
    val q2 = docsDf.writeStream
      .foreachBatch { (b: DataFrame, _: Long) => CorpusPrepStream.ingestBatch(b, st) }
      .start()

    try {
      slices.zipWithIndex.foreach { case (sl, i) =>
        inputChunks.addData(sl.toIndexedSeq); input.addData(sl.toIndexedSeq)
        q1.processAllAvailable(); q2.processAllAvailable()

        // batch twin over EXACTLY the ingested prefix: the gate reads a
        // documents.parquet, so stage the prefix as its own corpus dir
        val maxId = sl.last._1
        val prefixDir = s"$tmp/prefix_$i"
        allDocs.where($"doc_id" <= maxId)
          .write.mode("overwrite").parquet(s"$prefixDir/documents.parquet")
        val expected = graft.SparkEntry.queries("t_corpus_prep")(spark, prefixDir)
          .as[(Long, String, Int)].collect().sorted.toVector
        val got = CorpusPrepStream.keepers(spark, st)
          .as[(Long, String, Int)].collect().sorted.toVector
        assert(got == expected,
          s"boundary $i: stream keepers (${got.length}) != batch gate (${expected.length}); " +
            s"first diff: ${expected.zipAll(got, null, null).find(p => p._1 != p._2)}")
      }
    } finally { q1.stop(); q2.stop() }

    // the chained chunk branch matches ITS batch gate too — one
    // pipeline, both granularities, no second ingest
    val chunkExpected = graft.SparkEntry.queries("t_line_dedup")(spark, dir)
      .select($"doc_id", $"n_chunks", $"n_kept", $"kept_tokens")
      .as[(Long, Long, Long, Long)].collect().sorted.toVector
    val chunkGot = spark.table("cps_chunks")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum($"keep".cast("long")).as("n_kept"),
        sum(($"keep".cast("long")) * $"n_toks").as("kept_tokens"))
      .as[(Long, Long, Long, Long)].collect().sorted.toVector
    assert(chunkGot == chunkExpected, "chained chunk-dedup branch diverged from t_line_dedup")
  }

  test("a batch frees what it persists and checkpoints, also when it throws part-way") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cps_blocks").toString
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"lang").where($"doc_id" < 40)
    val sc = spark.sparkContext
    // the batch frame is held until the count is read, so a GC cannot
    // free a leaked block before it is counted
    def persistedAfter(f: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      f
      val left = (sc.getPersistentRDDs.keySet -- before).size
      java.lang.ref.Reference.reachabilityFence(batch)
      left
    }
    assert(persistedAfter(CorpusPrepStream.ingestBatch(batch, CorpusPrepStream.State(s"$tmp/ok"))) == 0)

    // a non-numeric entry in the cluster versions makes stage 3 throw,
    // after the band rows are persisted and the survivors checkpointed
    val broken = CorpusPrepStream.State(s"$tmp/broken")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${broken.clustersRoot}/vtmp"))
    assert(persistedAfter(intercept[NumberFormatException](
      CorpusPrepStream.ingestBatch(batch, broken))) == 0)
    assert(new java.io.File(broken.hashFrontPath).exists(), "the batch must fail after stage 2")
  }
}

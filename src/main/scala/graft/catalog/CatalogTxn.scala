package graft.catalog

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}

/** One staged layer write inside a [[CatalogTxn.commit]], published
  * like [[LayerStore.write]]: in its key's layout, with its sidecar. */
final case class TxnWrite(name: String, zoom: Int, tiles: DataFrame,
                          tileSize: Int = graft.core.TileMath.DefaultTileSize,
                          crs: String = "EPSG:4326", binWidth: Double = 1.0)

/** Cross-layer atomic commits over [[LayerStore]]'s per-layer versioned
  * publish — the catalog-level transaction log.
  *
  * A transaction publishes one new version per touched (layer, zoom)
  * under ALL those layers' writer locks (acquired in sorted key order,
  * so concurrent transactions can never deadlock), then appends ONE
  * log record `_txn/_txn-SSSSSSSS` naming every published version —
  * via the same one-shot create-if-absent CAS the per-layer pointer
  * sequence uses. The record is the transaction's commit point for
  * snapshot readers:
  *
  *  - [[readAtomic]] resolves every requested layer from one log
  *    listing — the fold of committed records — so it can never observe
  *    a torn multi-layer state, even mid-commit: a record appears only
  *    after every version dir AND per-layer pointer is durable;
  *  - per-layer readers (`LayerStore.read`) still follow each layer's
  *    own newest pointer — individually consistent, with cross-layer
  *    atomicity living in the log (the contract object-store table
  *    formats give: multi-table atomicity is the catalog's, not the
  *    table pointer's);
  *  - a crash BETWEEN pointer publishes leaves some layers advanced
  *    and no record: snapshot readers keep resolving the previous
  *    record, and every advanced pointer names complete data;
  *  - snapshot validity is bounded by `LayerStore.retainVersions`
  *    exactly like `readVersion` time travel: a record whose version a
  *    later publish GC'd fails loudly rather than serving other data.
  *
  * Transactions on disjoint layer sets proceed in parallel (their layer
  * locks never collide) and race only the log-sequence CAS, which each
  * commit retries at the next free sequence — the log is a total order
  * of commit points, not a serialization bottleneck.
  */
class CatalogTxn(store: LayerStore) {

  private val TxnRe = "_txn-(\\d{8})".r
  private def txnDir: Path = Paths.get(s"${store.root}/_txn")

  /** Atomically publish `writes` (at most one per (layer, zoom)) and
    * append their log record. Returns the transaction sequence. */
  def commit(writes: Seq[TxnWrite]): Long = {
    require(writes.nonEmpty, "empty transaction")
    val keys = writes.map(w => (w.name, w.zoom))
    require(keys.distinct.size == keys.size,
      "a transaction may write each (layer, zoom) at most once")
    // the record format is TSV lines — a tab or newline in a layer name
    // would corrupt the log for every later reader
    writes.foreach(w => require(!w.name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"layer name ${w.name.flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)} " +
        "contains control characters"))
    val ordered = writes.sortBy(w => (w.name, w.zoom)).toList
    withLocks(ordered) {
      val bindings = ordered.map { w =>
        store.writeVersion(w.name, w.zoom) { path =>
          store.writeTo(w.name, w.zoom, w.tiles, path, w.tileSize, w.crs, w.binWidth)
        }
        // under this layer's lock our publish IS the live pointer
        val v = store.currentVersion(w.name, w.zoom).getOrElse(
          throw new IllegalStateException(
            s"just-published version of (${w.name}, ${w.zoom}) is unreadable"))
        ((w.name, w.zoom), v)
      }
      appendRecord(bindings)
    }
  }

  private def withLocks[T](layers: List[TxnWrite])(f: => T): T = layers match {
    case Nil => f
    case w :: rest => store.withLayerLock(w.name, w.zoom)(withLocks(rest)(f))
  }

  private def appendRecord(bindings: Seq[((String, Int), String)]): Long = {
    Files.createDirectories(txnDir)
    val content = bindings.map { case ((n, z), v) => s"$n\t$z\t$v" }.mkString("\n")
    // durable sibling + hard link = the content exists in full before
    // the sequence name appears (same publish shape as the pointers)
    val tmp = txnDir.resolve("_txn.tmp-" + java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, content.getBytes("UTF-8"))
    def tryLink(seq: Long): Boolean =
      try { Files.createLink(txnDir.resolve(f"_txn-$seq%08d"), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    try {
      // next sequence comes from the FILENAME max alone — commit cost
      // must not grow with log length, and no record content is needed
      var seq = recordSeqsDesc.headOption.getOrElse(0L) + 1
      while (!tryLink(seq)) seq += 1 // raced another commit's CAS: next slot
      seq
    } finally { Files.deleteIfExists(tmp): Unit }
  }

  /** Record sequences, newest first, from filenames only (no I/O per
    * record beyond the directory listing). */
  private def recordSeqsDesc: Seq[Long] = {
    val d = txnDir.toFile
    if (!d.exists()) return Seq.empty
    Option(d.listFiles()).getOrElse(Array.empty).iterator.flatMap { f =>
      f.getName match { case TxnRe(s) => Some(s.toLong); case _ => None }
    }.toSeq.sortBy(-_)
  }

  private def readRecord(seq: Long): Option[Seq[((String, Int), String)]] =
    try {
      val raw = new String(Files.readAllBytes(txnDir.resolve(f"_txn-$seq%08d")), "UTF-8")
      Some(raw.split("\n").iterator.filter(_.nonEmpty).map { line =>
        line.split("\t", -1) match {
          case Array(n, z, v) => ((n, z.toInt), v)
          case _ => throw new IllegalStateException(
            f"corrupt transaction record _txn-$seq%08d: unparseable line " +
              s"'${line.take(80)}' — the log needs manual repair")
        }
      }.toSeq)
    } catch { case _: java.io.IOException => None } // listing race: treat as absent

  /** Committed transactions, oldest first: (sequence, bindings). Reads
    * the whole log — audit/debug surface; the hot paths below don't. */
  def log: Seq[(Long, Seq[((String, Int), String)])] =
    recordSeqsDesc.reverse.flatMap(s => readRecord(s).map(s -> _))

  /** Retire log records older than the newest `keep`. Snapshot
    * validity is already bounded by `LayerStore.retainVersions` — the
    * versions an old record pins are long GC'd — so past records are
    * audit weight, not capability. A layer whose every record is
    * retired reads like one no transaction ever touched (live-pointer
    * fallback). Returns the number of records removed; concurrent
    * readers treat a record deleted mid-scan as absent, the same as
    * the publish-time GC races elsewhere in the store. */
  def vacuumLog(keep: Int = 64): Int = {
    require(keep >= 1, "must keep at least the newest record")
    recordSeqsDesc.drop(keep)
      .count(s => Files.deleteIfExists(txnDir.resolve(f"_txn-$s%08d")))
  }

  /** Cross-layer consistent read: each requested layer at the version
    * the newest log record (with sequence <= `asOf`, if pinned) bound
    * it to. Records are read newest-first and only until every
    * requested layer resolves — cost is bounded by how far back the
    * requested layers' last commits are, not by log length. A layer
    * NO transaction ever touched falls back to its own live pointer
    * (it is per-layer-managed; the log has no opinion about it) — but
    * a layer whose txn history starts AFTER `asOf` fails loudly: its
    * live state did not exist in the catalog-log state being pinned,
    * and serving it would leak the future into a snapshot. */
  def readAtomic(layers: Seq[(String, Int)],
                 asOf: Option[Long] = None): Map[(String, Int), DataFrame] = {
    val want = layers.toSet
    val resolved = scala.collection.mutable.Map.empty[(String, Int), (Long, String)]
    val afterAsOf = scala.collection.mutable.Set.empty[(String, Int)]
    // exit only when every layer RESOLVES: a layer seen in a post-asOf
    // record may still resolve from an older record deeper in the log
    val it = recordSeqsDesc.iterator
    while (it.hasNext && resolved.size < want.size) {
      val seq = it.next()
      readRecord(seq).foreach { bs =>
        bs.foreach { case (k, v) =>
          if (want(k) && !resolved.contains(k))
            if (asOf.forall(seq <= _)) resolved.getOrElseUpdate(k, (seq, v)): Unit
            else afterAsOf.add(k): Unit
        }
      }
    }
    layers.map { k =>
      val df = resolved.get(k) match {
        case Some((seq, v)) =>
          if (!Files.isDirectory(Paths.get(store.zoomDir(k._1, k._2), v)))
            throw new IllegalStateException(
              s"transaction $seq pinned version $v of $k, but later publishes GC'd it " +
                "— raise retainVersions to cover your longest snapshot reader")
          store.readAt(k._1, k._2, v)
        case None if afterAsOf(k) =>
          throw new IllegalStateException(
            s"layer $k has no committed state at sequence <= ${asOf.get}: its first " +
              "transaction is newer than the pinned snapshot")
        case None => store.read(k._1, k._2)
      }
      k -> df
    }.toMap
  }
}

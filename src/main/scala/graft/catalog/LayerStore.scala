package graft.catalog

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ZOrderKey.zorder
import graft.sources.Parquet

/** Parquet-backed tile-layer catalog — the engine's spine (SURVEY §1.3).
  *
  * Reference model: an HDFS directory catalog with a JSON attribute store
  * and SFC-indexed layer writer (api/package.scala:62-180). Here:
  *
  *  - one parquet dataset per (layer_name, zoom), resolved through a
  *    version manifest (below) → partition-dir pruning replaces the
  *    attribute-store lookup + index range read;
  *  - one layout rule, the key picking the index as in the reference
  *    (api/package.scala:130-152): a frame with a `time` column is
  *    sorted on (time, hilbert) in `time=` dirs (HilbertKeyIndexMethod),
  *    any other on zorder (ZCurveKeyIndexMethod), so parquet min/max
  *    stats prune point/range reads;
  *  - per-(layer, zoom) metadata + zoom-0 histogram as a JSON sidecar
  *    `_attributes` inside the version dir (Utils.scala:85-89), written
  *    by every publish.
  *
  * == Versioned publish (crash atomicity + snapshot isolation) ==
  *
  * Every write lands in a fresh immutable version dir
  * `zoom=Z/v-NNNNNNNN/` and is made live by publishing a pointer. The
  * pointer is not a single replaceable file but a monotone sequence of
  * one-shot files `zoom=Z/_ptr-SSSSSSSS` (content = the version name);
  * the live version is the one named by the HIGHEST existing sequence.
  * Publishing sequence S+1 is an atomic create-if-absent (a hard link
  * from a fully-written sibling tmp file, so the content is durable
  * before the name appears): of two writers that both read base S,
  * exactly one wins `_ptr-(S+1)` and the loser's publish fails with an
  * exception instead of silently clobbering the winner — a true
  * compare-and-swap on the pointer, not a check-then-rename. On HDFS
  * the same publish maps to create-if-absent (`CreateFlag.CREATE`
  * without overwrite); on object stores to a conditional put
  * (If-None-Match) of the pointer key. Consequences, by construction
  * rather than by recovery code:
  *
  *  - a crash at ANY point leaves the max pointer naming a complete
  *    version — a sequence file either exists with full content or not
  *    at all, and data is durable before the pointer appears;
  *  - lost updates are impossible even across broken locks: a holder
  *    stalled past the staleness bound (e.g. a GC pause that also froze
  *    its heartbeat) whose lock was broken CANNOT publish over a
  *    successor — its sequence claim collides and aborts
  *    ([[writeVersion]]); read-modify-write paths (merge, compact)
  *    anchor the fence at the moment they read their base;
  *  - readers that resolved the pointer before a publish keep reading
  *    their version's immutable files — the last [[retainVersions]]
  *    versions are retained, so a merge under a running query never
  *    yanks that query's inputs (point-in-time snapshots,
  *    `retainVersions - 1` publishes deep; a frame held across MORE
  *    publishes than that dies with a task-level FileNotFoundException
  *    once its files are GC'd — size `retainVersions` to the longest
  *    reader you need to survive);
  *  - a version dir orphaned by a crash mid-write is garbage, not state:
  *    it is never referenced and the next successful publish GCs it.
  *
  * Timing knobs exist for tests; production uses the defaults.
  */
class LayerStore(spark: SparkSession, val root: String,
                 staleLockMs: Long = 60000L,
                 lockWaitMs: Long = 120000L,
                 heartbeatMs: Long = 5000L,
                 retainVersions: Int = 2) {
  require(retainVersions >= 1, "retainVersions must keep at least the live version")

  import java.nio.file.{Files, Paths, Path, StandardCopyOption, NoSuchFileException}

  private[catalog] def zoomDir(name: String, zoom: Int) =
    s"$root/tiles/layer_name=$name/zoom=$zoom"

  private val PtrRe = "_ptr-(\\d{8})".r

  private def ptrPath(name: String, zoom: Int, seq: Long): Path =
    Paths.get(f"${zoomDir(name, zoom)}/_ptr-$seq%08d")

  /** All pointer sequence files of a zoom, unordered. Null-tolerant
    * listing: a concurrent delete() can remove the dir between exists()
    * and listFiles(). */
  private def pointerEntries(name: String, zoom: Int): Seq[(Long, Path)] = {
    val d = new java.io.File(zoomDir(name, zoom))
    if (!d.exists()) Seq.empty
    else Option(d.listFiles()).getOrElse(Array.empty).iterator.flatMap { f =>
      f.getName match {
        case PtrRe(s) => Some((s.toLong, f.toPath))
        case _ => None
      }
    }.toSeq
  }

  /** Live (sequence, version) = the highest pointer file. Tolerates
    * concurrent publish-time GC: a pointer listed but deleted before
    * its read means newer sequences exist — re-list and resolve again
    * (the max pointer itself is never deleted while it is the max). */
  private def currentPtr(name: String, zoom: Int): Option[(Long, String)] = {
    var attempts = 0
    while (attempts < 8) {
      val entries = pointerEntries(name, zoom)
      if (entries.isEmpty) return None
      // resolve ONLY this listing's max: an older entry from the same
      // (now stale) listing may already be outside the retention window
      // and mid-GC — falling back to it would serve a dying version
      val (s, p) = entries.maxBy(_._1)
      readPointer(p) match {
        case Some(v) => return Some((s, v))
        case None => attempts += 1 // raced a publish: re-list
      }
    }
    None
  }

  /** A pointer file's version name; None once it is gone (GC'd). */
  private def readPointer(p: Path): Option[String] =
    try Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    catch { case _: java.io.IOException => None }

  /** The live version dir name (e.g. "v-00000003"), if published. */
  def currentVersion(name: String, zoom: Int): Option[String] =
    currentPtr(name, zoom).map(_._2)

  /** Retained (sequence, version-dir) pairs, oldest first — the
    * time-travel listing. Every entry is readable via [[readVersion]]
    * until [[retainVersions]] newer publishes GC it. A pointer whose
    * file vanishes mid-listing (publish-time GC race) is simply
    * omitted: it was already outside the retention window. */
  def publishedVersions(name: String, zoom: Int): Seq[(Long, String)] =
    pointerEntries(name, zoom).sortBy(_._1).flatMap { case (s, p) => readPointer(p).map((s, _)) }

  /** Changed tiles between two retained sequences — the CDC read over
    * the version store: full-outer join of the pinned snapshots on the
    * tile key, emitting (tile_col, tile_row, kind) with kind in
    * {added, removed, changed}. Spark's SQL NaN semantics (NaN equals
    * NaN in comparisons) make NoData-preserving tiles compare equal
    * instead of spuriously "changed". Downstream incremental jobs
    * re-process only these keys instead of the whole layer — at scale
    * the difference between an incremental refresh and a full rebuild. */
  def readDiff(name: String, zoom: Int, fromSeq: Long, toSeq: Long): DataFrame = {
    val a = readVersion(name, zoom, fromSeq)
      .select(col("tile_col"), col("tile_row"), col("cells").as("cells_from"))
    val b = readVersion(name, zoom, toSeq)
      .select(col("tile_col"), col("tile_row"), col("cells").as("cells_to"))
    a.join(b, Seq("tile_col", "tile_row"), "full_outer")
      .withColumn("kind",
        when(col("cells_from").isNull, lit("added"))
          .when(col("cells_to").isNull, lit("removed"))
          .when(col("cells_from") =!= col("cells_to"), lit("changed")))
      .where(col("kind").isNotNull)
      .select(col("tile_col"), col("tile_row"), col("kind"))
  }

  /** Snapshot read pinned at publish sequence `seq` (time travel, the
    * reference's layer-history read within our retention window —
    * Delta/Iceberg "VERSION AS OF"). Same pruned-scan path as [[read]];
    * sequences older than the retention window raise NoSuchElementException
    * with the surviving range, they are never silently remapped. */
  def readVersion(name: String, zoom: Int, seq: Long): DataFrame = {
    val retained = publishedVersions(name, zoom)
    val v = retained.collectFirst { case (`seq`, dir) => dir }.getOrElse(
      throw new NoSuchElementException(
        s"layer ($name, $zoom) has no retained sequence $seq; " +
          s"retained: ${retained.map(_._1).mkString("[", ", ", "]")}"))
    readAt(name, zoom, v)
  }

  /** Resolves to the LIVE version dir only. An unpublished layer maps
    * to a non-existent path (clean "path does not exist" error) rather
    * than the zoom dir itself — falling back to the zoom dir would make
    * a read silently pick up crash-orphaned version dirs that were
    * never published (phantom data, doubled rows with two orphans). */
  private def dataPath(name: String, zoom: Int): String =
    currentVersion(name, zoom)
      .map(v => s"${zoomDir(name, zoom)}/$v")
      .getOrElse(s"${zoomDir(name, zoom)}/_unpublished")

  /** Version dirs carry a per-writer random suffix after the ordinal:
    * two writers anchored at the same base (a stalled holder and the
    * successor that broke its lock) must NEVER write into the same dir,
    * or the fenced loser's cleanup would delete the winner's live data.
    * The bare `v-NNNNNNNN` form is still accepted (pre-suffix layouts,
    * hand-made crash orphans in tests). */
  private val VersionRe = "v-(\\d{8})(?:-[0-9a-f]{8})?".r

  private def listVersions(name: String, zoom: Int): Seq[String] = {
    val d = new java.io.File(zoomDir(name, zoom))
    if (!d.exists()) Seq.empty
    else Option(d.listFiles()).getOrElse(Array.empty).iterator
      .filter(f => f.isDirectory && VersionRe.pattern.matcher(f.getName).matches())
      .map(_.getName).toSeq
  }

  private def nextVersionName(name: String, zoom: Int): String = {
    val mx = listVersions(name, zoom)
      .map { case VersionRe(n) => n.toLong }.foldLeft(0L)(math.max)
    f"v-${mx + 1}%08d-" + java.util.UUID.randomUUID().toString.take(8)
  }

  /** Stage a new version via `writer`, then publish it with a FENCED
    * pointer claim. Caller must hold the layer lock (all public write
    * paths do) — but correctness does not depend on it:
    *
    * `fence` is the pointer sequence this write's input state was read
    * at (None = anchor at entry, for overwrite-semantics writes whose
    * output is base-independent). The publish claims exactly sequence
    * `fence + 1` via atomic create-if-absent. If ANYTHING published
    * since the anchor — e.g. our lock was broken as stale and a
    * successor merged — the claim collides (or the pre-claim max check
    * sees a newer sequence) and we abort with IllegalStateException
    * BEFORE touching live state: the successor's update survives, ours
    * is a wasted merge, never a lost update.
    *
    * Retention: the versions named by the newest [[retainVersions]]
    * pointer files survive for in-flight readers; older pointers, their
    * versions, and unreferenced dirs — including crash orphans — are
    * GC'd after a successful publish. */
  private[catalog] def writeVersion(name: String, zoom: Int,
                                    fence: Option[Long] = None)(writer: String => Unit): Unit = {
    val dir = zoomDir(name, zoom)
    Files.createDirectories(Paths.get(dir))
    val base: Long = fence.orElse(currentPtr(name, zoom).map(_._1)).getOrElse(0L)
    val v = nextVersionName(name, zoom)
    writer(s"$dir/$v") // fully durable before the pointer appears
    def fenced(): Nothing = {
      rmTree(new java.io.File(s"$dir/$v"))
      throw new IllegalStateException(
        s"layer ($name, $zoom) was published past sequence $base since this write began " +
          "— aborting to avoid a lost update (was this writer's lock broken as stale?)")
    }
    // cheap fast-fail; the claim's createLink is the real gate
    if (currentPtr(name, zoom).map(_._1).getOrElse(0L) > base) fenced()
    publish(name, zoom, base, v, Paths.get(s"$dir/_ptr.tmp-$v"))(fenced())
  }

  /** The fenced claim of [[writeVersion]] and [[rollback]]: hard-link
    * `tmp` (holding `version`) as pointer `base + 1`, or run `fenced`
    * (which throws) if that sequence is taken; then the publish record
    * (lock wait -1 when the caller holds no lock of this store) and
    * retention GC. */
  private def publish(name: String, zoom: Int, base: Long, version: String, tmp: Path)
                     (fenced: => Nothing): Unit = {
    val dir = zoomDir(name, zoom)
    Files.write(tmp, version.getBytes("UTF-8"))
    try Files.createLink(ptrPath(name, zoom, base + 1), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); fenced
    }
    Files.deleteIfExists(tmp)
    val files = parquetFiles(s"$dir/$version")
    LayerStore.log.info(s"publish layer=$name zoom=$zoom seq=${base + 1} version=$version " +
      s"files=${files.size} bytes=${files.map(_.length).sum} " +
      s"lock_wait_ms=${lockWaits.getOrDefault((name, zoom), -1L)}")
    // GC: keep the newest retainVersions pointers and their versions.
    // Re-list AFTER publishing — if a successor has already advanced
    // past us, its view of the keep-set wins for anything we might race.
    val entries = pointerEntries(name, zoom)
    val maxSeq = entries.map(_._1).max
    val (keepPtrs, dropPtrs) = entries.partition(_._1 > maxSeq - retainVersions)
    val keepVersions = keepPtrs.flatMap { case (_, p) => readPointer(p) }.toSet
    dropPtrs.foreach { case (_, p) => Files.deleteIfExists(p): Unit }
    listVersions(name, zoom)
      .filterNot(keepVersions.contains)
      .foreach(d => rmTree(new java.io.File(s"$dir/$d")))
  }

  /** K1: versioned write in the key's [[layout]], then the
    * `_attributes.json` sidecar (metadata + exact binned histogram —
    * Utils.scala:85-89 persists `histogramData` so the tile server never
    * re-aggregates the layer), built from the write's own checkpoint
    * blocks ([[writeTo]]). It lives INSIDE the version dir:
    * underscore-prefixed files are invisible to Spark's parquet scan, and
    * the pointer swap publishes data + attributes together. */
  def write(tiles: DataFrame, name: String, zoom: Int,
            tileSize: Int = graft.core.TileMath.DefaultTileSize,
            crs: String = "EPSG:4326", binWidth: Double = 1.0): Unit = withLayerLock(name, zoom) {
    writeVersion(name, zoom) { path =>
      writeTo(name, zoom, tiles, path, tileSize, crs, binWidth)
    }
  }

  // layout keys: spatial layers range on zorder, space-time on (time, hilbert)
  private def zKey = zorder(col("tile_col").cast("int"), col("tile_row").cast("int"))
  private def hKey =
    graft.functions.HilbertKey.hilbert(col("tile_col").cast("int"), col("tile_row").cast("int"))

  /** The one layout of every publish (see the class doc), range-placed
    * on its key (r11, guide §6): unlike a hash on the tile key, each
    * FILE is one contiguous key slice, so bbox and point reads skip
    * whole files and a month's dir holds a few files, not one per
    * (task x month). The explicit `parts` keeps AQE from coalescing a
    * big write to one task. A one-file spatial layout needs no range
    * exchange: one task reads every input partition and sorts, the same
    * rows in the same order with one job fewer. */
  private def layout(t: DataFrame, parts: Int): DataFrameWriter[Row] =
    if (t.columns.contains("time"))
      t.repartitionByRange(parts, col("time"), hKey).sortWithinPartitions(col("time"), hKey)
        .write.mode(SaveMode.Overwrite).partitionBy("time")
    else if (parts == 1)
      t.coalesce(1).sortWithinPartitions(zKey).write.mode(SaveMode.Overwrite)
    else
      t.repartitionByRange(parts, zKey).sortWithinPartitions(zKey).write.mode(SaveMode.Overwrite)

  /** Write-side partition count of a checkpoint `ck`. A spatial layer's
    * count follows the MEASURED bytes of its cached blocks (guide §2/§6:
    * scale-adaptive partitioning, 128 MB-1 GB output files): a small
    * layer gets few large files — fewer write tasks, fewer leaf files to
    * list, fewer scan tasks for every reader — while a layer bigger than
    * partitions x [[LayerStore.TargetFileBytes]] keeps the session's
    * full write parallelism. A space-time layer keeps the session count:
    * `time` is the leading range key, so a low count makes one task own
    * whole month dirs and write their files serially — measured 411 ms
    * (32 tasks) -> 1.5 s (1 task) on the bench layer — and the dynamic
    * `time=` partitioning bounds the file count at ~(tasks + months)
    * either way. */
  private def writeParts(ck: DataFrame): Int = {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (ck.columns.contains("time")) return n
    val id = graft.ops.Materialize.blocks(ck).id
    val bytes = spark.sparkContext.getRDDStorageInfo
      .filter(_.id == id).map(i => i.memSize + i.diskSize).sum
    if (bytes <= 0L) n
    else math.max(1, math.min(n.toLong, bytes / LayerStore.TargetFileBytes + 1).toInt)
  }

  /** The publish body of write, merge and a transaction: eager-checkpoint
    * `tiles` (r12: the range placement's sampling pass would otherwise
    * run the arbitrarily expensive input lineage a second time), write it
    * in its [[layout]] into `path`, then build the sidecar from the same
    * blocks in one job ([[LayerAttributes.fromRows]]), recording tile
    * geometry, CRS and requested bin width besides the data. The blocks
    * are freed in every case; a failed write leaves no sidecar. Each
    * step's jobs carry its [[step]] description. */
  private[catalog] def writeTo(name: String, zoom: Int, tiles: DataFrame, path: String,
                               tileSize: Int, crs: String, binWidth: Double): Unit = {
    val t = step(name, zoom, "checkpoint")(graft.ops.Materialize.checkpointFresh(tiles))
    try {
      step(name, zoom, "write")(layout(t, writeParts(t)).parquet(path))
      val sidecar = step(name, zoom, "sidecar")(LayerAttributes.fromRows(t, tileSize, crs, binWidth))
      Files.write(Paths.get(s"$path/_attributes.json"),
        LayerAttributes.toJson(sidecar).getBytes("UTF-8")): Unit
    } finally graft.ops.Materialize.free(t)
  }

  /** Runs one publish step with the job description
    * `publish <name> zoom=<zoom> <what>`, so every job it starts names
    * its layer and step; the caller's description is restored after. */
  private def step[T](name: String, zoom: Int, what: String)(f: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty(LayerStore.JobDescription)
    sc.setJobDescription(s"publish $name zoom=$zoom $what")
    try f finally sc.setLocalProperty(LayerStore.JobDescription, caller)
  }

  /** S9: read the attribute sidecar of the live version (None for
    * unpublished layers). */
  def readAttributes(name: String, zoom: Int): Option[LayerAttributes] =
    attributesAt(dataPath(name, zoom))

  /** The attribute sidecar of one version dir, if it has one. */
  private def attributesAt(path: String): Option[LayerAttributes] = {
    val f = Paths.get(s"$path/_attributes.json")
    if (Files.exists(f))
      Some(LayerAttributes.fromJson(new String(Files.readAllBytes(f), "UTF-8")))
    else None
  }

  /** S10 space-time range form: time window + bbox in one read. Both
    * predicates push down — `time` is the partition column, so the
    * window prunes partition DIRECTORIES before any file is opened;
    * the bbox lands in PushedFilters against the Hilbert-sorted row
    * groups (spatially-near tiles share row groups, so min/max stats
    * skip most of each time slice). The reference's indexed space-time
    * query: HilbertKeyIndexMethod + LayerQuery bounds
    * (api/package.scala:148-177). */
  def readSpaceTimeRange(name: String, zoom: Int, t0: String, t1: String,
                         c0: Int, r0: Int, c1: Int, r1: Int): DataFrame =
    read(name, zoom).where(
      col("time") >= t0 && col("time") <= t1 &&
        col("tile_col") >= c0 && col("tile_col") <= c1 &&
        col("tile_row") >= r0 && col("tile_row") <= r1)

  /** S3: pruned read of the live version of one (layer, zoom). Its schema
    * comes from a footer read on the driver ([[graft.sources.Parquet.read]]):
    * no job, like the reference's Metadata read (api/package.scala:62-65).
    * The returned frame is pinned to the resolved version dir: it stays valid across ONE
    * subsequent merge/write (previous version retained), giving readers
    * a point-in-time snapshot instead of a mid-swap mixture. */
  def read(name: String, zoom: Int): DataFrame =
    readDir(dataPath(name, zoom))

  /** Tiles of one version dir, named as [[currentVersion]] returns it.
    * A reader that resolves the live version once and reads tiles and
    * sidecar through it (see [[readAttributesAt]]) sees one version even
    * when a publish lands in between. */
  def readAt(name: String, zoom: Int, version: String): DataFrame =
    readDir(s"${zoomDir(name, zoom)}/$version")

  /** A version dir's tiles; `time` stays the string it was written as. */
  private def readDir(path: String): DataFrame = Parquet.read(spark, path, Set("time"))

  /** The attribute sidecar of one version dir (see [[readAt]]). */
  def readAttributesAt(name: String, zoom: Int, version: String): Option[LayerAttributes] =
    attributesAt(s"${zoomDir(name, zoom)}/$version")

  /** S10: point lookup of a single tile — parquet predicate pushdown +
    * zorder-sorted row groups replace the reference's indexed
    * ValueReader (ServeLayerAsMap.scala:33,111). */
  def readTile(name: String, zoom: Int, tileCol: Int, tileRow: Int): DataFrame =
    read(name, zoom).where(col("tile_col") === tileCol && col("tile_row") === tileRow)

  /** S10 range form: bbox read — the reference's indexed
    * LayerQuery-with-bounds (api/package.scala:154-177). The zorder
    * sort groups spatially-near tiles into the same row groups, so the
    * pushed min/max predicates skip most of the file for a small bbox
    * (an indexed range read without an index structure). */
  def readRange(name: String, zoom: Int,
                c0: Int, r0: Int, c1: Int, r1: Int): DataFrame =
    read(name, zoom).where(
      col("tile_col") >= c0 && col("tile_col") <= c1 &&
        col("tile_row") >= r0 && col("tile_row") <= r1)

  /** K2: merge/upsert — read live version, cell-wise incoming-wins merge,
    * publish as a new version (api/package.scala:328-385). Spatial
    * layers only: the cell merge joins on (tile_col, tile_row), so a
    * `time` column in the live layer (its schema read from a footer, no
    * job) or in `incoming` throws IllegalArgumentException instead of
    * mixing time slices into a layer with no time dimension.
    *
    * Durability: the merged output is fully written to a fresh version
    * dir while the source version's files stay untouched, so a cache
    * eviction mid-merge recomputes against intact inputs; the pointer
    * swap is the single atomic commit point, and the source version
    * survives it (GC'd only by the NEXT publish) — there is no window
    * in which the layer is missing or half-swapped. */
  def merge(incoming: DataFrame, name: String, zoom: Int,
            tileSize: Int = graft.core.TileMath.DefaultTileSize,
            crs: String = "EPSG:4326", binWidth: Double = 1.0): Unit = withLayerLock(name, zoom) {
    // the fence anchors HERE, where the base is resolved: the publish
    // will only succeed if no other version lands in between
    val base = currentPtr(name, zoom)
    val live = base.map(_ => read(name, zoom))
    if ((incoming.columns ++ live.toSeq.flatMap(_.columns)).contains("time"))
      throw new IllegalArgumentException(
        s"cannot merge into layer ($name, $zoom): merge joins tiles on (tile_col, tile_row) " +
          "and would mix the time slices of a space-time layer; write the layer instead")
    val toWrite = live.fold(incoming)(graft.ops.Raster.mergeLayers(_, incoming))
    writeVersion(name, zoom, fence = Some(base.map(_._1).getOrElse(0L))) { path =>
      writeTo(name, zoom, toWrite, path, tileSize, crs, binWidth)
    }
  }

  /** Writer serialization for merge's read-modify-write: concurrent
    * upserts into one (layer, zoom) would each read the same base and
    * the last publish would drop the other's tiles (the pointer fence
    * in [[writeVersion]] turns that into an abort; the lock is what
    * makes the normal path contention-free rather than retry-heavy).
    *
    * The lock is a DIRECTORY containing a single empty owner-token
    * file. Acquisition stages `<lock>.stage-<uuid>/owner-<token>` and
    * atomically RENAMES the staged dir onto the lock name: rename(2)
    * succeeds only if the target is absent (or an empty dir — which by
    * construction means mid-release), and fails with ENOTEMPTY against
    * a held lock, so acquire is a single atomic claim with the token
    * already inside — there is never an owner-less lock on disk.
    *
    * Liveness vs safety: the holder HEARTBEATS the lock (touches its
    * mtime every [[heartbeatMs]] from a driver-side daemon thread), so
    * a lock older than [[staleLockMs]] means the holder really crashed —
    * a merge that legitimately runs long stays fresh and is never
    * broken, unlike a fixed create-time TTL. Breaking a stale lock is an
    * atomic RENAME of the whole dir to a unique grave name: of N
    * waiters racing, exactly one move succeeds.
    *
    * Release is ATOMIC where the old file design was read-then-delete:
    * the holder deletes its OWN token file (a no-op if the lock was
    * broken — that file left with the grave), then rmdir()s the lock
    * dir. The kernel refuses rmdir on a non-empty directory, so a
    * stalled holder can NEVER remove a successor's lock — the
    * successor's own token file is what pins the dir in place. No
    * token comparison, no window. */
  private def lockPath(name: String, zoom: Int): Path =
    Paths.get(s"$root/.locks/layer_name=$name-zoom=$zoom.lock")

  /** How long each held lock of this store waited to be acquired, for
    * the publish record; set on acquire, dropped before release. */
  private val lockWaits = new java.util.concurrent.ConcurrentHashMap[(String, Int), Long]

  private[catalog] def withLayerLock[T](name: String, zoom: Int)(f: => T): T = {
    val lock = lockPath(name, zoom)
    Files.createDirectories(lock.getParent)
    val token = ProcessHandle.current().pid() + "-" + java.util.UUID.randomUUID()
    val ownerFile = lock.resolve(s"owner-$token")
    val stage = lock.resolveSibling(
      lock.getFileName.toString + ".stage-" + java.util.UUID.randomUUID())
    Files.createDirectories(stage)
    Files.createFile(stage.resolve(s"owner-$token"))
    val start = System.currentTimeMillis
    val deadline = start + lockWaitMs
    var acquired = false
    try {
      while (!acquired) {
        try {
          // keep the staged claim's mtime fresh on every attempt: rename
          // preserves it, so a waiter that queued longer than
          // staleLockMs would otherwise acquire an instantly-"stale"
          // lock and have it broken before its first heartbeat (and
          // vacuum could sweep a live waiter's stage as crash debris)
          Files.setLastModifiedTime(stage,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
          Files.move(stage, lock, StandardCopyOption.ATOMIC_MOVE)
          acquired = true
        } catch {
          case _: java.io.IOException => // held (ENOTEMPTY) or transient
            val age = try System.currentTimeMillis - Files.getLastModifiedTime(lock).toMillis
                      catch { case _: NoSuchFileException => -1L }
            if (age > staleLockMs) {
              val grave = lock.resolveSibling(
                lock.getFileName.toString + ".broken-" + java.util.UUID.randomUUID())
              try { Files.move(lock, grave, StandardCopyOption.ATOMIC_MOVE); rmTree(grave.toFile) }
              catch { case _: java.io.IOException => () } // another waiter won the break
            } else if (System.currentTimeMillis > deadline)
              throw new IllegalStateException(s"timed out waiting for writer lock on ($name, $zoom)")
            else Thread.sleep(100)
        }
      }
    } finally if (!acquired) rmTree(stage.toFile) // timed out: drop the staged claim
    lockWaits.put((name, zoom), System.currentTimeMillis - start)
    val beating = new java.util.concurrent.atomic.AtomicBoolean(true)
    val hb = new Thread(() => {
      while (beating.get) {
        try Thread.sleep(heartbeatMs) catch { case _: InterruptedException => () }
        if (beating.get)
          try Files.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
          catch { case _: java.io.IOException => () } // broken-as-stale: the publish fence catches it
      }
    }, s"graft-lock-heartbeat-$name-$zoom")
    hb.setDaemon(true)
    hb.start()
    try f
    finally {
      beating.set(false); hb.interrupt()
      lockWaits.remove((name, zoom))
      // Atomic release: our token file pins only OUR lock incarnation.
      // If the lock was broken and re-acquired, ownerFile is gone (it
      // moved with the grave) and the successor's token file makes the
      // rmdir fail ENOTEMPTY — enforced by the kernel, not by a
      // read-then-act pair, so a successor's lock cannot be deleted.
      try Files.deleteIfExists(ownerFile): Unit catch { case _: java.io.IOException => () }
      try Files.delete(lock) catch { case _: java.io.IOException => () }
    }
  }

  /** ROLLBACK: make a retained older sequence live again by publishing
    * a NEW pointer that names the old sequence's version dir — a
    * re-point, never a data copy (versions are immutable, so two
    * pointers naming one dir is safe; GC keeps a dir while ANY retained
    * pointer names it). History stays append-only: the rollback is
    * itself a publish, visible in [[publishedVersions]] and fenced like
    * any write — a concurrent publish wins and the rollback aborts
    * loudly. Rolling back PAST the retention window is impossible by
    * construction (the data is gone) and fails with the same
    * NoSuchElementException as [[readVersion]]. */
  def rollback(name: String, zoom: Int, toSeq: Long): Unit = withLayerLock(name, zoom) {
    val retained = publishedVersions(name, zoom)
    val v = retained.collectFirst { case (`toSeq`, dir) => dir }.getOrElse(
      throw new NoSuchElementException(
        s"layer ($name, $zoom) has no retained sequence $toSeq to roll back to; " +
          s"retained: ${retained.map(_._1).mkString("[", ", ", "]")}"))
    val base = currentPtr(name, zoom).map(_._1).getOrElse(0L)
    if (base == toSeq) return // already live
    publish(name, zoom, base, v, Paths.get(s"${zoomDir(name, zoom)}/_ptr.tmp-rb-$toSeq"))(
      throw new IllegalStateException(
        s"layer ($name, $zoom) was published past sequence $base during rollback — aborting"))
  }

  /** Compaction — the small-file problem at scale: a long upsert
    * history leaves a version with many small parquet files, and on an
    * object store every file is a request + a seek. Rewrites the live
    * version into ~`targetBytes`-sized files (the count computed from
    * the actual on-disk size, not a guessed partition count) in the
    * writers' [[layout]], one contiguous key slice per file, and
    * publishes it like any other write; readers never see an
    * intermediate state and the pre-compaction version survives until
    * the next publish. */
  def compact(name: String, zoom: Int, targetBytes: Long = LayerStore.TargetFileBytes): Unit =
    withLayerLock(name, zoom) {
      val basePtr = currentPtr(name, zoom).map(_._1).getOrElse(0L) // fence anchor
      val live = dataPath(name, zoom)
      val bytes = parquetFiles(live).map(_.length).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      writeVersion(name, zoom, fence = Some(basePtr)) { path =>
        step(name, zoom, "write")(layout(readDir(live), nFiles).parquet(path))
        val attrs = Paths.get(s"$live/_attributes.json")
        if (Files.exists(attrs)) // metadata unchanged by compaction
          Files.copy(attrs, Paths.get(s"$path/_attributes.json")): Unit
      }
    }

  /** Vacuum: reclaim everything except the LIVE version — retired
    * versions inside the retention window (calling vacuum DECLARES no
    * readers are in flight; rely on the publish-time GC if they might
    * be) and their pointer files, crash-orphaned version dirs, orphaned
    * `_ptr.tmp-*` staging files, and this layer's lock debris (grave
    * dirs from interrupted breaks, staged claims of crashed
    * acquirers — live waiters' stages are younger than [[staleLockMs]]
    * and are left alone). Returns the number of entries removed. */
  def vacuum(name: String, zoom: Int): Int = withLayerLock(name, zoom) {
    var removed = 0
    val dir = zoomDir(name, zoom)
    val live = currentPtr(name, zoom)
    live.foreach { case (seq, _) =>
      pointerEntries(name, zoom).filterNot(_._1 == seq).foreach { case (_, p) =>
        if (Files.deleteIfExists(p)) removed += 1
      }
    }
    listVersions(name, zoom).filterNot(v => live.exists(_._2 == v)).foreach { v =>
      rmTree(new java.io.File(s"$dir/$v")); removed += 1
    }
    val d = new java.io.File(dir)
    if (d.exists())
      d.listFiles().filter(_.getName.startsWith("_ptr.tmp-")).foreach { f =>
        if (f.delete()) removed += 1
      }
    // only THIS layer's graves/stages: vacuum holds only this layer's
    // lock, and another layer's grave may belong to a break in progress
    val locks = new java.io.File(s"$root/.locks")
    val lockName = lockPath(name, zoom).getFileName.toString
    if (locks.exists())
      locks.listFiles()
        .filter { f =>
          f.getName.startsWith(lockName + ".broken-") ||
            (f.getName.startsWith(lockName + ".stage-") &&
              System.currentTimeMillis - f.lastModified() > staleLockMs)
        }
        .foreach { f => rmTree(f); removed += 1 }
    removed
  }

  /** S9: catalog listing. A layer exists once a version is published. */
  def exists(name: String, zoom: Int): Boolean =
    currentVersion(name, zoom).isDefined

  def zoomsOf(name: String): Seq[Int] = {
    val d = new java.io.File(s"$root/tiles/layer_name=$name")
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(_.isDirectory)
      .map(_.getName.stripPrefix("zoom=").toInt)
      .filter(exists(name, _)) // a crashed never-published zoom is not a zoom
      .sorted.toSeq
  }

  def maxZoom(name: String): Option[Int] = zoomsOf(name).lastOption

  /** K3: delete one zoom or all zooms of a layer (api/package.scala:67-102). */
  def delete(name: String, zoom: Option[Int] = None): Unit = {
    val target = zoom match {
      case Some(z) => new java.io.File(zoomDir(name, z))
      case None => new java.io.File(s"$root/tiles/layer_name=$name")
    }
    rmTree(target)
  }

  /** The parquet data files of a version dir, `time=` subdirs included
    * — sidecar, `_SUCCESS` and checksum files are bookkeeping. */
  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    walk(new java.io.File(dir))
  }

  // tolerates a concurrent rmTree of the same tree (listFiles → null)
  private def rmTree(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}

object LayerStore {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.catalog.LayerStore")

  /** Output file size goal of a spatial publish (in cached-block bytes,
    * i.e. smaller on disk after parquet encoding) and of [[compact]]. */
  private val TargetFileBytes: Long = 128L << 20

  /** Spark's local property behind `SparkContext.setJobDescription`. */
  private val JobDescription = "spark.job.description"
}

package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase.spark
import graft.ops.Raster

class LayerStoreSpec extends AnyFunSuite {
  import spark.implicits._
  val TS = 4

  def freshStore() = {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    new LayerStore(spark, root)
  }

  def tiles(vOff: Double) = Raster.assemble(
    (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS)
      yield (tc, tr, px, py, vOff + px + py)).toDF("tile_col", "tile_row", "px", "py", "v"),
    TS, TS)

  test("write/read round-trip with partition pruning") {
    val store = freshStore()
    store.write(tiles(0), "layer_x", 5)
    val back = store.read("layer_x", 5)
    assert(back.count() == 4)
    assert(Raster.pixelize(back, TS).count() == 4 * TS * TS)
  }

  test("point read returns exactly one tile") {
    val store = freshStore()
    store.write(tiles(0), "l", 3)
    val t = store.readTile("l", 3, 1, 0)
    assert(t.count() == 1)
    val cells = t.select($"cells").as[Seq[Double]].head()
    assert(cells(1 + 2 * TS) == 3.0) // px=1, py=2
  }

  test("merge upserts cell-wise incoming-wins") {
    val store = freshStore()
    store.write(tiles(0), "m", 1)
    store.merge(tiles(100), "m", 1)
    val cells = store.readTile("m", 1, 0, 0).select($"cells").as[Seq[Double]].head()
    assert(cells(0) == 100.0)
  }

  test("merge is durable: no cache dependence, lineage on the live layer survives the swap") {
    val store = freshStore()
    store.write(tiles(0), "d", 2)
    // incoming derives lazily from the live layer itself — under the old
    // cache-then-overwrite merge, an evicted cache partition would force a
    // recompute against the files the overwrite had just deleted. With
    // stage-then-swap the plan's source files stay intact until the merged
    // output is durably written, so an unpersisted/evicted plan is safe.
    val incoming = store.read("d", 2)
      .where($"tile_col" === 0 && $"tile_row" === 0)
      .select($"tile_col", $"tile_row", transform($"cells", c => c + 1000.0).as("cells"))
    spark.sharedState.cacheManager.clearCache() // nothing cached may rescue the merge
    store.merge(incoming, "d", 2)
    val cells = store.readTile("d", 2, 0, 0).select($"cells").as[Seq[Double]].head()
    assert(cells(0) == 1000.0 && cells.last == 1000.0 + 2 * (TS - 1))
    assert(store.read("d", 2).count() == 4) // untouched tiles survive
  }

  test("snapshot isolation: a reader resolved before a merge survives the publish") {
    val store = freshStore()
    store.write(tiles(0), "s", 2)
    val snapshot = store.read("s", 2) // pins the pre-merge version dir
    assert(snapshot.count() == 4)
    store.merge(tiles(100), "s", 2)
    // the old version's files are retained until the NEXT publish, so the
    // in-flight reader still evaluates against its point-in-time snapshot
    assert(snapshot.count() == 4)
    assert(snapshot.select(max(array_max($"cells"))).head().getDouble(0) < 100.0)
    // while a fresh read sees the merged layer
    assert(store.readTile("s", 2, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 100.0)
    // ...and one more publish GCs the twice-retired version
    store.merge(tiles(200), "s", 2)
    val zoomDir = new java.io.File(store.root + "/tiles/layer_name=s/zoom=2")
    val versions = zoomDir.listFiles().filter(_.getName.startsWith("v-")).map(_.getName).sorted
    assert(versions.length == 2, s"expected current+previous, got ${versions.mkString(",")}")
  }

  test("time travel: readVersion pins any retained sequence, GC'd ones fail loudly") {
    val store = new LayerStore(spark, java.nio.file.Files.createTempDirectory("graft_store").toString,
      retainVersions = 3)
    store.write(tiles(0), "tt", 2)    // seq 1
    store.merge(tiles(100), "tt", 2)  // seq 2
    store.merge(tiles(200), "tt", 2)  // seq 3
    val seqs = store.publishedVersions("tt", 2).map(_._1)
    assert(seqs == Seq(1L, 2L, 3L))
    // each retained sequence reads its own point-in-time content
    def maxCell(df: org.apache.spark.sql.DataFrame) =
      df.select(max(array_max($"cells"))).head().getDouble(0)
    assert(maxCell(store.readVersion("tt", 2, 1)) < 100.0)
    assert(maxCell(store.readVersion("tt", 2, 2)) == 100.0 + 2 * (TS - 1))
    assert(maxCell(store.readVersion("tt", 2, 3)) == 200.0 + 2 * (TS - 1))
    // live read == newest retained sequence
    assert(maxCell(store.read("tt", 2)) == maxCell(store.readVersion("tt", 2, 3)))
    // one more publish slides the window: seq 1 is GC'd and must not
    // be silently remapped to some surviving version
    store.merge(tiles(300), "tt", 2)  // seq 4 -> retained {2,3,4}
    assert(store.publishedVersions("tt", 2).map(_._1) == Seq(2L, 3L, 4L))
    val e = intercept[NoSuchElementException](store.readVersion("tt", 2, 1))
    assert(e.getMessage.contains("no retained sequence 1"))
  }

  test("version diff: added/removed/changed tile kinds, NaN-stable") {
    val store = freshStore()
    // seq 1: four tiles; (1,1) only partially covered so its cells
    // array carries NaN — republishing it identically must NOT read as
    // a change (SQL NaN-equals-NaN semantics)
    val partial = Raster.assemble(
      (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until TS; py <- 0 until TS
            if !(tc == 1 && tr == 1) || px > py)
        yield (tc, tr, px, py, (px + py).toDouble)).toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    store.write(partial, "vd", 3)
    // seq 2: tile (0,0) changed, (1,1) identical (NaN pattern
    // included), (2,2) new, (0,1)/(1,0) absent
    val changed = Raster.assemble(
      (for (px <- 0 until TS; py <- 0 until TS)
        yield (0, 0, px, py, 500.0 + px)).toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    val same = store.read("vd", 3).where($"tile_col" === 1 && $"tile_row" === 1)
    val added = Raster.assemble(
      (for (px <- 0 until TS; py <- 0 until TS if px > py) // partial: NaN cells
        yield (2, 2, px, py, 7.0)).toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    store.write(changed.unionByName(same).unionByName(added), "vd", 3)
    val diff = store.readDiff("vd", 3, 1L, 2L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(diff == Map((0, 0) -> "changed", (2, 2) -> "added",
      (0, 1) -> "removed", (1, 0) -> "removed"))
  }

  test("crash-orphaned version dirs are never read and are GC'd by the next publish") {
    val store = freshStore()
    store.write(tiles(0), "o", 1)
    // simulate a writer that crashed mid-stage: a version dir exists but
    // was never published (no pointer update)
    val zoomDir = new java.io.File(store.root + "/tiles/layer_name=o/zoom=1")
    val orphan = new java.io.File(zoomDir, "v-00000099")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    // reads resolve the pointer, not the directory listing
    assert(store.read("o", 1).count() == 4)
    // the live layer never disappears: exists() holds during a merge
    store.merge(tiles(50), "o", 1)
    assert(store.read("o", 1).count() == 4)
    assert(!orphan.exists(), "next publish must GC the crash orphan")
  }

  test("publish is a single pointer swap: the layer stays continuously readable during merges") {
    val store = freshStore()
    store.write(tiles(0), "p", 3)
    val missing = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stop.get) {
        if (!store.exists("p", 3)) missing.incrementAndGet()
        Thread.sleep(1)
      }
    })
    poller.start()
    try (1 to 3).foreach(i => store.merge(tiles(i * 100.0), "p", 3))
    finally { stop.set(true); poller.join() }
    // the old stage/retire swap had a window with NO live dir; the
    // pointer swap must never expose one
    assert(missing.get() == 0, s"layer vanished ${missing.get()} times mid-merge")
    assert(store.readTile("p", 3, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 300.0)
  }

  test("attribute sidecar: persisted histogram + bounds, refreshed by merge") {
    val store = freshStore()
    store.write(tiles(0), "a", 3, tileSize = TS, binWidth = 2.0)
    val a = store.readAttributes("a", 3).get
    assert(a.nTiles == 4 && a.minCol == 0 && a.maxCol == 1 && a.minRow == 0 && a.maxRow == 1)
    assert(a.tileCols == TS && a.cellType == "float64")
    // values are px+py in 0..6 over 4 tiles; bin = floor(v/2): v=0 x4, v=1 x8, ...
    // per tile: px+py=s has multiplicity 1,2,3,4,3,2,1 for s=0..6
    assert(a.bins.zip(a.counts).toMap == Map(0L -> 12L, 1L -> 28L, 2L -> 20L, 3L -> 4L))
    assert(a.nCells == 64 && a.minV == 0.0 && a.maxV == 6.0)
    assert(a.extent == Seq(0.0, 0.0, 2.0 * TS, 2.0 * TS))
    // quantile breaks derive from the sidecar alone (upper bin edges)
    assert(a.quantileBreaks(2) == Seq(4.0, 8.0))
    // merge refreshes the sidecar atomically with the data
    store.merge(tiles(100), "a", 3, tileSize = TS, binWidth = 2.0)
    val m = store.readAttributes("a", 3).get
    assert(m.minV == 100.0 && m.bins.head == 50L)
  }

  /** Two monthly slices of [[tiles]]: a space-time frame. */
  def stTiles = tiles(1).withColumn("time", lit("2024-01"))
    .unionByName(tiles(2).withColumn("time", lit("2024-02")))

  test("jobs per publish are pinned, and no publish reads its written dir back") {
    // pinned: a publish runs its checkpoint's jobs, the parquet write
    // and one sidecar job; a one-file spatial layout adds no range
    // exchange, a space-time one its range sample and shuffle-map job.
    // The sidecar is built from the checkpoint, so no publish reads the
    // written dir back
    val store = freshStore()
    def jobs(what: String)(f: => Unit) = graft.SparkTestBase.jobsIn(what)(f)
    assert(jobs("write")(store.write(tiles(0), "j", 1, tileSize = TS)) == 4)
    assert(jobs("merge")(store.merge(tiles(100), "j", 1, tileSize = TS)) == 5)
    assert(jobs("space-time write")(store.write(stTiles, "s", 1, tileSize = TS)) == 7)
    assert(store.readAttributes("j", 1).exists(_.nTiles == 4))
    assert(store.readAttributes("s", 1).exists(_.nTiles == 8))
  }

  test("every publish job is described by its layer, zoom and step; the caller's description is restored") {
    val store = freshStore()
    val sc = spark.sparkContext
    val group = "publish-descriptions"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          descs.add(String.valueOf(j.properties.getProperty("spark.job.description"))): Unit
    }
    def described(f: => Unit): Seq[String] = {
      descs.clear()
      f
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(sc)
      assert(sc.getLocalProperty("spark.job.description") == "the caller's")
      descs.toArray.toSeq.map(_.toString)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "the caller's")
      for ((what, f) <- Seq[(String, () => Unit)](
             "write" -> (() => store.write(tiles(0), "d", 3, tileSize = TS)),
             "merge" -> (() => store.merge(tiles(100), "d", 3, tileSize = TS)))) {
        val ds = described(f())
        assert(ds.nonEmpty && ds.forall(_.matches("publish d zoom=3 (checkpoint|write|sidecar)")),
          s"$what: $ds")
        assert(Seq("checkpoint", "write", "sidecar").forall(st => ds.contains(s"publish d zoom=3 $st")),
          s"$what: $ds")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("a one-file publish writes, row for row, what a one-part range write does, in zorder") {
    val store = freshStore()
    val layer = Raster.assemble(
      (for (tc <- 0 to 5; tr <- 0 to 4; px <- 0 until TS; py <- 0 until TS)
        yield (tc, tr, px, py, (tc * 7 + tr * 3 + px * py).toDouble))
        .toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS).repartition(4)
    store.write(layer, "one", 1, tileSize = TS)
    val dir = new java.io.File(s"${store.root}/tiles/layer_name=one/zoom=1/${store.currentVersion("one", 1).get}")
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    val zk = graft.functions.ZOrderKey.zorder($"tile_col", $"tile_row")
    val ref = java.nio.file.Files.createTempDirectory("graft_range1").resolve("t").toString
    layer.repartitionByRange(1, zk).sortWithinPartitions(zk).write.parquet(ref)
    def rows(path: String) = spark.read.parquet(path).select($"tile_col", $"tile_row", $"cells", zk.as("z"))
      .as[(Int, Int, Seq[Double], Long)].collect().toSeq
    val got = rows(dir.toString)
    assert(got.length == 30 && got == rows(ref))
    assert(got.map(_._4) == got.map(_._4).sorted, "rows are not in zorder")
  }

  test("merge into a space-time layer fails by name instead of dropping the time dimension") {
    val store = freshStore()
    store.write(stTiles, "stm", 1, tileSize = TS)
    // the live layer's time column comes from a footer read on the driver: no job
    val rejected = graft.SparkTestBase.jobsIn("rejected merge") {
      val live = intercept[IllegalArgumentException](store.merge(tiles(100), "stm", 1, tileSize = TS))
      assert(live.getMessage.contains("(stm, 1)"))
    }
    assert(rejected == 0)
    store.write(tiles(0), "sp", 1, tileSize = TS)
    val in = intercept[IllegalArgumentException](store.merge(stTiles, "sp", 1, tileSize = TS))
    assert(in.getMessage.contains("(sp, 1)"))
    // neither layer moved
    assert(store.publishedVersions("stm", 1).map(_._1) == Seq(1L))
    assert(store.read("stm", 1).where($"time" === "2024-02").count() == 4)
    assert(store.publishedVersions("sp", 1).map(_._1) == Seq(1L))
  }

  test("a transaction write with a time column publishes time partitions that readAtomic prunes") {
    val store = freshStore()
    val txn = new CatalogTxn(store)
    txn.commit(Seq(TxnWrite("txt", 2, stTiles, tileSize = TS), TxnWrite("txs", 2, tiles(0), tileSize = TS)))
    val v = new java.io.File(store.zoomDir("txt", 2), store.currentVersion("txt", 2).get)
    assert(v.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq ==
      Seq("time=2024-01", "time=2024-02"))
    val feb = txn.readAtomic(Seq("txt" -> 2))("txt" -> 2).where($"time" === "2024-02")
    assert(feb.count() == 4)
    val plan = feb.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"), s"no time pruning:\n$plan")
  }

  test("space-time layer: Hilbert-sorted write, time-pruned read, sidecar rides along") {
    val store = freshStore()
    val st = (for (t <- Seq("2024-01", "2024-02"); tc <- 0 to 1; px <- 0 until TS; py <- 0 until TS)
      yield (t, tc, 0, px, py, (if (t == "2024-01") 1.0 else 2.0) + px))
      .toDF("time", "tile_col", "tile_row", "px", "py", "v")
    val tiles = Raster.assemble(st.where($"time" === "2024-01"), TS, TS).withColumn("time", lit("2024-01"))
      .unionByName(Raster.assemble(st.where($"time" === "2024-02"), TS, TS).withColumn("time", lit("2024-02")))
    store.write(tiles, "stl", 4, tileSize = TS)
    // full read sees both slices; time-pruned read sees one
    assert(store.read("stl", 4).count() == 4)
    val feb = store.read("stl", 4).where($"time" === "2024-02")
    assert(feb.count() == 2)
    // partition pruning: the time filter reaches PartitionFilters
    val plan = feb.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"))
    val cells = feb.where($"tile_col" === 1).select($"cells").as[Seq[Double]].head()
    assert(cells(0) == 2.0 && cells(1) == 3.0)
    // sidecar covers all time slices; the schema comes from a footer
    // on the driver, with the partition column `time` last
    assert(store.readAttributes("stl", 4).get.nTiles == 4)
    var fields = Seq.empty[String]
    assert(graft.SparkTestBase.jobsIn("space-time schema") {
      fields = store.read("stl", 4).schema.fieldNames.toSeq
    } == 0)
    assert(fields == Seq("tile_col", "tile_row", "cells", "time"), fields)
  }

  test("concurrent merges serialize: no upsert is lost") {
    val store = freshStore()
    store.write(tiles(0), "c", 2)
    // 4 writers merge disjoint new tiles concurrently; without the writer
    // lock each would read the same base and the last swap wins, silently
    // dropping the others' tiles
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (10 to 13).map { tc =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val extra = Raster.assemble(
            (for (px <- 0 until TS; py <- 0 until TS)
              yield (tc, 0, px, py, tc * 1.0)).toDF("tile_col", "tile_row", "px", "py", "v"),
            TS, TS)
          store.merge(extra, "c", 2)
        }
      })
    }
    futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val keys = store.read("c", 2).select($"tile_col", $"tile_row")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert((10 to 13).forall(tc => keys.contains((tc, 0))), s"lost an upsert: $keys")
    assert(keys.size == 4 + 4) // the 4 original tiles survived too
    // lock released
    assert(new java.io.File(store.root + "/.locks").listFiles().forall(!_.getName.endsWith(".lock")))
  }

  test("heartbeat keeps a long-running holder's lock fresh: waiters time out instead of breaking it") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    // staleness (600ms) far below the holder's runtime (2s): only the
    // heartbeat (150ms) keeps the lock alive
    val holder = new LayerStore(spark, root, staleLockMs = 600, lockWaitMs = 5000, heartbeatMs = 150)
    val waiter = new LayerStore(spark, root, staleLockMs = 600, lockWaitMs = 1200, heartbeatMs = 150)
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      holder.withLayerLock("h", 1) { Thread.sleep(2000) }
      holderDone.countDown()
    })
    t.start()
    Thread.sleep(300) // let the holder acquire
    // a fixed create-time TTL would break this lock at 600ms; with
    // heartbeating the waiter must give up instead
    val ex = intercept[IllegalStateException] { waiter.withLayerLock("h", 1) { fail("stole a live lock") } }
    assert(ex.getMessage.contains("timed out"))
    assert(holderDone.await(10, java.util.concurrent.TimeUnit.SECONDS))
    t.join()
    // after the holder releases, the lock is free
    var ran = false
    waiter.withLayerLock("h", 1) { ran = true }
    assert(ran)
  }

  test("a genuinely stale lock (crashed holder, no heartbeat) is broken and writing proceeds") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new LayerStore(spark, root, staleLockMs = 300, lockWaitMs = 5000, heartbeatMs = 100)
    val lock = java.nio.file.Paths.get(s"$root/.locks/layer_name=c-zoom=1.lock")
    java.nio.file.Files.createDirectories(lock.getParent)
    java.nio.file.Files.write(lock, "dead-process-token".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 10000))
    store.write(tiles(0), "c", 1) // must break the stale lock, not dead-lock
    assert(store.read("c", 1).count() == 4)
    assert(!java.nio.file.Files.exists(lock), "store must release its own lock")
  }

  test("fenced publish: a stalled writer whose lock was broken cannot clobber a successor's merge") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    // the stalled writer's heartbeat never fires (1h period) so its lock
    // goes stale in 300ms; the successor breaks it and merges
    val stalled = new LayerStore(spark, root, staleLockMs = 300, lockWaitMs = 10000, heartbeatMs = 3600000)
    val successor = new LayerStore(spark, root, staleLockMs = 300, lockWaitMs = 10000, heartbeatMs = 150)
    stalled.write(tiles(0), "f", 1)
    val ex = intercept[IllegalStateException] {
      stalled.withLayerLock("f", 1) {
        stalled.writeVersion("f", 1) { path =>
          Thread.sleep(400) // the "GC pause": lock goes stale mid-write
          successor.merge(tiles(100), "f", 1) // breaks the lock, publishes
          tiles(999).write.parquet(path) // stalled writer resumes, oblivious
        }
      }
    }
    assert(ex.getMessage.contains("lost update"))
    // the successor's merge is live; the stalled writer's data is nowhere
    val cells = stalled.readTile("f", 1, 0, 0).select($"cells").as[Seq[Double]].head()
    assert(cells(0) == 100.0, s"successor's merge was clobbered: $cells")
    assert(stalled.read("f", 1).select(max(array_max($"cells"))).head().getDouble(0) < 999.0)
  }

  test("atomic release: a stalled holder's release cannot delete a successor's fresh lock") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    val stalledStore = new LayerStore(spark, root, staleLockMs = 300, lockWaitMs = 10000, heartbeatMs = 3600000)
    val successor = new LayerStore(spark, root, staleLockMs = 300, lockWaitMs = 10000, heartbeatMs = 150)
    val lockDir = java.nio.file.Paths.get(s"$root/.locks/layer_name=rl-zoom=1.lock")
    val stalledHolds = new java.util.concurrent.CountDownLatch(1)
    val successorEntered = new java.util.concurrent.CountDownLatch(1)
    val stalledDone = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      stalledStore.withLayerLock("rl", 1) {
        stalledHolds.countDown()
        Thread.sleep(400) // go stale
        successorEntered.await(10, java.util.concurrent.TimeUnit.SECONDS): Unit
      } // ← the stalled holder's release runs HERE, while the successor holds
      stalledDone.countDown()
    })
    t.start()
    assert(stalledHolds.await(10, java.util.concurrent.TimeUnit.SECONDS))
    successor.withLayerLock("rl", 1) { // breaks the stale lock, acquires
      successorEntered.countDown()
      assert(stalledDone.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // old read-then-delete release would have removed our lock here;
      // rmdir-on-nonempty makes that impossible
      assert(java.nio.file.Files.isDirectory(lockDir),
        "successor's lock was deleted by the stalled holder's release")
      assert(lockDir.toFile.listFiles().count(_.getName.startsWith("owner-")) == 1)
    }
    t.join()
    assert(!java.nio.file.Files.exists(lockDir), "successor's own release must free the lock")
  }

  test("retention depth is configurable: a reader survives retainVersions-1 publishes") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new LayerStore(spark, root, retainVersions = 3)
    store.write(tiles(0), "rt", 1)
    val snapshot = store.read("rt", 1)
    store.merge(tiles(100), "rt", 1)
    store.merge(tiles(200), "rt", 1)
    // two publishes later the snapshot's files are still retained
    assert(snapshot.count() == 4)
    assert(snapshot.select(max(array_max($"cells"))).head().getDouble(0) < 100.0)
    val zoomDir = new java.io.File(store.root + "/tiles/layer_name=rt/zoom=1")
    def versionDirs() = zoomDir.listFiles().count(_.getName.startsWith("v-"))
    assert(versionDirs() == 3, "retainVersions=3 must keep exactly 3 versions")
    // the window slides: a third publish GCs the snapshot's version...
    store.merge(tiles(300), "rt", 1)
    assert(versionDirs() == 3)
    // ...and the over-held reader dies with a task-level file-not-found,
    // the documented outcome of out-living the retention window
    intercept[Exception] { snapshot.count() }
    assert(store.readTile("rt", 1, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 300.0)
  }

  test("attribute histogram caps bin count: adversarial range widens the bins") {
    val store = freshStore()
    // values spread over ~4e9: binWidth 1.0 would mean 4 billion bins
    val wide = Raster.assemble(
      (for (px <- 0 until TS; py <- 0 until TS)
        yield (0, 0, px, py, (px + py * TS) * 2.6e8)).toDF("tile_col", "tile_row", "px", "py", "v"),
      TS, TS)
    store.write(wide, "w", 1, tileSize = TS, binWidth = 1.0)
    val a = store.readAttributes("w", 1).get
    assert(a.bins.length <= 65537)
    assert(a.binWidth > 1.0) // widened from the requested width
    assert(a.counts.sum == TS * TS)
  }

  test("a never-published layer with a crash orphan reads as absent, not as phantom data") {
    val store = freshStore()
    // crash during the FIRST write: parquet committed, pointer never swapped
    val zoomDir = new java.io.File(store.root + "/tiles/layer_name=np/zoom=1")
    val orphan = new java.io.File(zoomDir, "v-00000001")
    assert(orphan.mkdirs())
    // a real committed parquet file, to prove reads still refuse it
    tiles(0).limit(1).write.parquet(orphan.toString + "/data")
    assert(!store.exists("np", 1))
    assert(store.zoomsOf("np").isEmpty) // unpublished zoom is not a zoom
    intercept[Exception] { store.read("np", 1).count() } // no phantom rows
    assert(store.readAttributes("np", 1).isEmpty)
    // the next real write adopts a fresh version and GCs the orphan
    store.write(tiles(5), "np", 1)
    assert(store.read("np", 1).count() == 4)
  }

  test("compact preserves a space-time layer's time partitioning and pruning") {
    val store = freshStore()
    val st = (for (t <- Seq("2024-01", "2024-02"); tc <- 0 to 1; px <- 0 until TS; py <- 0 until TS)
      yield (t, tc, 0, px, py, 1.0 + px)).toDF("time", "tile_col", "tile_row", "px", "py", "v")
    val stTiles = Raster.assemble(st.where($"time" === "2024-01"), TS, TS).withColumn("time", lit("2024-01"))
      .unionByName(Raster.assemble(st.where($"time" === "2024-02"), TS, TS).withColumn("time", lit("2024-02")))
    store.write(stTiles, "stc", 4, tileSize = TS)
    store.compact("stc", 4)
    val feb = store.read("stc", 4).where($"time" === "2024-02")
    assert(feb.count() == 2)
    val plan = feb.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"),
      s"time pruning lost after compaction:\n$plan")
  }

  test("a space-time layer's time reads back as the string it was written as, also after compact") {
    // Spark's partition inference would read these as DATEs and as the INTs 1 and 2
    val store = freshStore()
    for ((name, t1, t2) <- Seq(("std", "2024-01-15", "2024-02-15"), ("stm", "01", "02"))) {
      store.write(tiles(1).withColumn("time", lit(t1))
        .unionByName(tiles(2).withColumn("time", lit(t2))), name, 1, tileSize = TS)
      def times() = {
        val df = store.read(name, 1)
        assert(df.schema("time").dataType == org.apache.spark.sql.types.StringType, df.schema)
        df.select($"time").distinct().as[String].collect().sorted.toSeq
      }
      assert(times() == Seq(t1, t2))
      store.compact(name, 1)
      assert(times() == Seq(t1, t2))
      assert(store.read(name, 1).where($"time" === t1).count() == 4)
    }
  }

  test("writing a zipped multiband layer with default attributes produces a bounds+schema sidecar") {
    val store = freshStore()
    val zipped = graft.ops.Raster.zipBands(
      graft.ops.Raster.stackBands(Seq(tiles(0), tiles(50))), 2)
    store.write(zipped, "mb", 2, tileSize = TS) // the sidecar of a cell-less layer MUST not throw
    val a = store.readAttributes("mb", 2).get
    assert(a.nTiles == 4 && a.minCol == 0 && a.maxCol == 1)
    assert(a.bins.isEmpty)
    var fields = Seq.empty[String]
    assert(graft.SparkTestBase.jobsIn("multiband schema") {
      fields = store.read("mb", 2).schema.fieldNames.toSeq
    } == 0)
    assert(fields.contains("bands") && !fields.contains("cells"), fields)
    assert(store.read("mb", 2).count() == 4)
  }

  test("compact: coalesces the file count, preserves data + sidecar, is versioned like any write") {
    val store = freshStore()
    val big = Raster.assemble(
      (for (tc <- 0 to 7; tr <- 0 to 7; px <- 0 until TS; py <- 0 until TS)
        yield (tc, tr, px, py, (tc + tr + px + py).toDouble))
        .toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    store.write(big, "k", 2, tileSize = TS)
    def parquetFiles(): Int = {
      val v = store.currentVersion("k", 2).get
      new java.io.File(s"${store.root}/tiles/layer_name=k/zoom=2/$v")
        .listFiles().count(_.getName.endsWith(".parquet"))
    }
    def layerBytes(): Long = {
      val v = store.currentVersion("k", 2).get
      new java.io.File(s"${store.root}/tiles/layer_name=k/zoom=2/$v")
        .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    // file sizing follows the measured bytes: a small target SPLITS...
    store.compact("k", 2, targetBytes = (layerBytes() + 1) / 2)
    assert(parquetFiles() == 2, s"expected 2 files, got ${parquetFiles()}")
    val snapshot = store.read("k", 2)
    // ...and the default big target coalesces back to one
    store.compact("k", 2)
    assert(parquetFiles() == 1)
    assert(store.read("k", 2).count() == 64)
    assert(Raster.pixelize(store.read("k", 2), TS).count() == 64L * TS * TS)
    // sidecar survives compaction; snapshot readers survive the publish
    assert(store.readAttributes("k", 2).exists(_.nTiles == 64))
    assert(snapshot.count() == 64)
  }

  test("compact keeps the range layout: every file holds a disjoint zorder key range") {
    val store = freshStore()
    val big = Raster.assemble(
      (for (tc <- 0 to 7; tr <- 0 to 7; px <- 0 until TS; py <- 0 until TS)
        yield (tc, tr, px, py, (tc * tr + px).toDouble))
        .toDF("tile_col", "tile_row", "px", "py", "v"), TS, TS)
    store.write(big, "z", 2, tileSize = TS)
    val bytes = new java.io.File(s"${store.root}/tiles/layer_name=z/zoom=2/${store.currentVersion("z", 2).get}")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    store.compact("z", 2, targetBytes = bytes / 4 + 1)
    val zk = graft.functions.ZOrderKey.zorder($"tile_col", $"tile_row")
    val ranges = store.read("z", 2).select(input_file_name().as("f"), zk.as("z"))
      .groupBy($"f").agg(min($"z"), max($"z"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length >= 2, s"expected several files, got ${ranges.length}")
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"files overlap in zorder: ${a._1} [${a._2}, ${a._3}] vs ${b._1} [${b._2}, ${b._3}]")
    }
    // and each file is one sorted slice
    ranges.foreach { case (f, _, _) =>
      val z = spark.read.parquet(f).select(zk).as[Long].collect().toSeq
      assert(z == z.sorted, s"$f is not sorted in zorder")
    }
    assert(store.read("z", 2).count() == 64)
  }

  test("vacuum sweeps crash debris but never the live version") {
    val store = freshStore()
    store.write(tiles(0), "v", 1)
    store.merge(tiles(10), "v", 1) // leaves current + previous
    val zoomDir = new java.io.File(store.root + "/tiles/layer_name=v/zoom=1")
    // crash debris: orphan version, staged pointer, grave lock
    new java.io.File(zoomDir, "v-00000077").mkdirs()
    java.nio.file.Files.write(zoomDir.toPath.resolve("_ptr.tmp-v-00000077"), "junk".getBytes)
    val locks = new java.io.File(store.root + "/.locks"); locks.mkdirs()
    java.nio.file.Files.write(locks.toPath.resolve("layer_name=v-zoom=1.lock.broken-x"), "t".getBytes)
    val removed = store.vacuum("v", 1)
    assert(removed == 5,
      s"expected prev version + its pointer + orphan + tmp pointer + grave, got $removed")
    assert(zoomDir.listFiles().count(_.getName.startsWith("v-")) == 1)
    assert(store.read("v", 1).count() == 4)
    assert(store.readTile("v", 1, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 10.0)
  }

  test("bbox range read pushes both key predicates to the parquet scan") {
    val store = freshStore()
    store.write(tiles(0), "bb", 1)
    val df = store.readRange("bb", 1, 0, 0, 1, 0)
    assert(df.count() == 2) // (0,0) and (1,0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(tile_col"),
      s"bbox predicates must reach the scan:\n$plan")
  }

  test("space-time range read prunes time partitions AND pushes the bbox to the scan") {
    val store = freshStore()
    val st = (for (t <- Seq("2024-01", "2024-02", "2024-03"); tc <- 0 to 1; px <- 0 until TS; py <- 0 until TS)
      yield (t, tc, 0, px, py, t.substring(6).toDouble + px))
      .toDF("time", "tile_col", "tile_row", "px", "py", "v")
    val tiles = Seq("2024-01", "2024-02", "2024-03").map(t =>
      Raster.assemble(st.where($"time" === t), TS, TS).withColumn("time", lit(t)))
      .reduce(_ unionByName _)
    store.write(tiles, "str", 4, tileSize = TS)
    val df = store.readSpaceTimeRange("str", 4, "2024-02", "2024-03", 1, 0, 1, 0)
    assert(df.count() == 2) // tile (1,0) in feb and mar
    val plan = df.queryExecution.executedPlan.toString
    // time window prunes partition dirs; bbox reaches PushedFilters
    assert(plan.contains("PartitionFilters") && plan.contains("time"),
      s"time window must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(tile_col"),
      s"bbox predicates must reach the scan:\n$plan")
  }

  test("zooms listing, exists, delete") {
    val store = freshStore()
    store.write(tiles(0), "z", 1)
    store.write(tiles(0), "z", 2)
    assert(store.zoomsOf("z") == Seq(1, 2))
    assert(store.maxZoom("z").contains(2))
    store.delete("z", Some(1))
    assert(store.zoomsOf("z") == Seq(2))
    store.delete("z")
    assert(!store.exists("z", 2))
  }

  test("rollback re-points to a retained version without copying; history stays append-only") {
    val store = freshStore()
    store.write(tiles(0), "rb", 4)
    store.merge(tiles(100), "rb", 4)
    assert(store.readTile("rb", 4, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 100.0)
    val seqs = store.publishedVersions("rb", 4)
    val (firstSeq, firstDir) = seqs.head
    store.rollback("rb", 4, firstSeq)
    // live content is the pre-merge layer again
    assert(store.readTile("rb", 4, 0, 0).select($"cells").as[Seq[Double]].head()(0) == 0.0)
    // the rollback is a NEW pointer naming the OLD dir - no copy
    val after = store.publishedVersions("rb", 4)
    assert(after.last._2 == firstDir && after.last._1 > seqs.last._1)
    // rolling back to the live sequence is a no-op
    val n = store.publishedVersions("rb", 4).size
    store.rollback("rb", 4, after.last._1)
    assert(store.publishedVersions("rb", 4).size == n)
  }

  test("rollback past the retention window fails loudly") {
    val store = freshStore() // retainVersions = 2
    store.write(tiles(0), "rbg", 4)
    store.merge(tiles(1), "rbg", 4)
    store.merge(tiles(2), "rbg", 4) // seq 1 GC'd
    val ex = intercept[NoSuchElementException](store.rollback("rbg", 4, 1L))
    assert(ex.getMessage.contains("no retained sequence"))
  }
}

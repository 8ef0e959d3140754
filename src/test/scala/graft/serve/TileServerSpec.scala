package graft.serve

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** K11/S10 serving surface: write a layer, serve it over HTTP, fetch a
  * PNG like a Leaflet client would (ServeLayerAsMap parity). */
class TileServerSpec extends AnyFunSuite {
  import spark.implicits._
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import graft.catalog.LayerStore
  import graft.ops.{Export, Raster}

  /** Layer `name` at `zoom` from a 2x2-tile scene with v = f(tc, tr, px, py). */
  private def publish(store: LayerStore, name: String, zoom: Int, ts: Int, merge: Boolean = false)
                     (f: (Int, Int, Int, Int) => Double): Unit = {
    val tiles = Raster.assemble((for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until ts; py <- 0 until ts)
      yield (tc, tr, px, py, f(tc, tr, px, py))).toDF("tile_col", "tile_row", "px", "py", "v"), ts, ts)
    if (merge) store.merge(tiles, name, zoom, tileSize = ts)
    else store.write(tiles, name, zoom, tileSize = ts)
  }

  /** A keep-alive HTTP/1.1 client of one server, as a map viewer holds it. */
  private final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
      val req = HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      headers.foreach { case (k, v) => req.header(k, v) }
      http.send(req.GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    }
  }

  test("serves catalog tiles as PNG over HTTP with 204 for missing") {
    val ts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_serve").toString
    publish(new LayerStore(spark, root), "demo", 2, ts)((tc, tr, px, py) =>
      (tc * 11 + tr * 3 + px + py).toDouble)

    val srv = new TileServer(spark, root, "demo", ts)
    val port = srv.start()
    try {
      def get(path: String): (Int, Array[Byte]) = {
        val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = if (code == 200) conn.getInputStream.readAllBytes() else Array.empty[Byte]
        conn.disconnect()
        (code, body)
      }
      val (code, png) = get("/2/1/0")
      assert(code == 200)
      // PNG magic
      assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == ts && img.getHeight == ts)
      // second fetch hits the LRU (same bytes)
      assert(get("/2/1/0")._1 == 200)
      assert(get("/2/9/9")._1 == 204) // missing tile
      assert(get("/nope")._1 == 404)
      assert(get("/a/b/c")._1 == 400)
      // the slippy-map page (ServeLayerAsMap's index.html parity) and
      // its zero-job metadata endpoint
      val (hc, html) = get("/")
      assert(hc == 200)
      val page = new String(html, "UTF-8")
      assert(page.contains("<html") && page.contains("demo") && page.contains("/meta"))
      val (mc, metaBytes) = get("/meta")
      assert(mc == 200)
      val meta = new String(metaBytes, "UTF-8")
      assert(meta.contains(""""layer":"demo"""") && meta.contains(""""zoom":2""") &&
        meta.contains(""""maxCol":1"""), meta)
    } finally srv.stop()
  }

  test("a publish while serving serves the new version: write, merge, rollback, /meta, ETag") {
    val ts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_serve_pub").toString
    // retain every version this test publishes, so it can roll back to the first
    val store = new LayerStore(spark, root, retainVersions = 4)
    publish(store, "demo", 2, ts)((tc, tr, px, py) => (tc * 11 + tr * 3 + px + py).toDouble)
    val first = store.publishedVersions("demo", 2).last._1
    // the render a fresh server would serve: the live tile through the
    // live sidecar's breaks, encoded by the file form of the renderer
    def fresh(): Array[Byte] = {
      val cells = store.readTile("demo", 2, 1, 0).select("cells").head().getSeq[Double](0)
      val f = java.nio.file.Files.createTempFile("graft_fresh", ".png")
      try {
        Export.renderPng(cells, ts, ts, store.readAttributes("demo", 2).get.quantileBreaks(10), f.toString)
        java.nio.file.Files.readAllBytes(f)
      } finally java.nio.file.Files.delete(f)
    }
    val srv = new TileServer(spark, root, "demo", ts)
    val c = new Client(srv.start())
    try {
      def served(): (Array[Byte], String) = {
        val r = c.get("/2/1/0")
        assert(r.statusCode == 200)
        val etag = r.headers.firstValue("ETag").get
        assert(etag == "\"" + store.currentVersion("demo", 2).get + "\"")
        assert(r.headers.firstValue("Cache-Control").get == "no-cache")
        assert(java.util.Arrays.equals(r.body, fresh()), "served PNG differs from a fresh render")
        (r.body, etag)
      }
      val (png0, etag0) = served()
      // a browser revalidating the tile it holds gets 304 and no body
      val revalidated = c.get("/2/1/0", "If-None-Match" -> etag0)
      assert(revalidated.statusCode == 304 && revalidated.body.isEmpty)

      publish(store, "demo", 2, ts)((tc, tr, px, py) => (tc * 5 - px * 3 - py).toDouble)
      assert(c.get("/2/1/0", "If-None-Match" -> etag0).statusCode == 200)
      val (png1, etag1) = served()
      assert(!png1.sameElements(png0) && etag1 != etag0)

      publish(store, "demo", 2, ts, merge = true)((_, _, px, py) =>
        if (px < ts / 2) (py * 7).toDouble else Double.NaN)
      val (png2, _) = served()
      assert(!png2.sameElements(png1))

      store.rollback("demo", 2, first)
      val (png3, etag3) = served()
      assert(png3.sameElements(png0) && etag3 == etag0)

      // a zoom published after the server started shows up in /meta
      publish(store, "demo", 3, ts)((_, _, px, _) => px.toDouble)
      val meta = new String(c.get("/meta").body, "UTF-8")
      assert(meta.contains(""""zoom":2""") && meta.contains(""""zoom":3"""), meta)
    } finally srv.stop()
  }

  test("warm tiles answer at loopback speed: no Nagle stall on keep-alive responses") {
    // the JDK server writes headers and body as two segments; without
    // TCP_NODELAY the body waits for the client's delayed ACK (>= 40 ms
    // on Linux) on every response of a keep-alive connection
    val ts = 64
    val root = java.nio.file.Files.createTempDirectory("graft_serve_nagle").toString
    publish(new LayerStore(spark, root), "demo", 2, ts)((tc, tr, px, py) =>
      (tc + tr + px * py).toDouble)
    val srv = new TileServer(spark, root, "demo", ts)
    val c = new Client(srv.start())
    try {
      assert(c.get("/2/1/0").statusCode == 200) // warm: the miss is not timed
      val ms = (0 until 30).map { _ =>
        val t0 = System.nanoTime()
        assert(c.get("/2/1/0").statusCode == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(15) < 20.0, s"warm tile median ${ms(15)} ms; sorted: ${ms.mkString(", ")}")
    } finally srv.stop()
  }

  test("concurrent misses on one tile share one point read") {
    val ts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_serve_flight").toString
    val store = new LayerStore(spark, root)
    publish(store, "demo", 2, ts)((tc, tr, px, py) => (tc * 2 + tr + px - py).toDouble)
    // server threads carry no job group, so count every job started;
    // suites run one at a time, so the jobs are this test's own
    val sc = spark.sparkContext
    def jobsDuring(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(sc)
      sc.addSparkListener(l)
      try { f; org.apache.spark.sql.GraftSqlShim.drainListenerBus(sc) }
      finally sc.removeSparkListener(l)
      jobs.get
    }
    val pointRead = jobsDuring(store.readTile("demo", 2, 0, 1).select("cells").collect(): Unit)
    assert(pointRead >= 1)
    val srv = new TileServer(spark, root, "demo", ts)
    val port = srv.start()
    try {
      val n = 8
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val bodies = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
      val served = jobsDuring {
        val threads = (0 until n).map { _ =>
          val t = new Thread(() => {
            val c = new Client(port)
            barrier.await()
            val r = c.get("/2/1/0")
            if (r.statusCode == 200) bodies.add(r.body.toSeq)
          })
          t.start(); t
        }
        threads.foreach(_.join())
      }
      assert(bodies.size == n && bodies.toArray.distinct.length == 1)
      assert(served == pointRead, s"$n concurrent misses ran $served jobs; one point read runs $pointRead")
    } finally srv.stop()
  }

  test("a tile of a version whose sidecar was deleted answers 500, not a second break algorithm") {
    val ts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_serve_nosidecar").toString
    val store = new LayerStore(spark, root)
    publish(store, "bare", 1, ts)((tc, tr, px, py) => (tc + tr + px + py).toDouble)
    val v = store.currentVersion("bare", 1).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/tiles/layer_name=bare/zoom=1/$v/_attributes.json"))
    val srv = new TileServer(spark, root, "bare", ts)
    val client = new Client(srv.start())
    try {
      assert(client.get("/1/0/0").statusCode == 500)
      assert(client.get("/1/9/9").statusCode == 500) // breaks are resolved before the tile
    } finally srv.stop()
  }

  test("stop() shuts down the request pool so the JVM can exit") {
    val root = java.nio.file.Files.createTempDirectory("graft_serve_stop").toString
    val srv = new TileServer(spark, root, "none", 8)
    srv.stop() // before start: a no-op
    val port = srv.start()
    val conn = new java.net.URI(s"http://127.0.0.1:$port/").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    assert(conn.getResponseCode == 200) // a request ran on the pool
    conn.disconnect()
    val pool = srv.pool
    assert(!pool.isShutdown)
    srv.stop()
    assert(pool.isTerminated)
  }
}

package graft.serve

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** K11/S10 serving surface: write a layer, serve it over HTTP, fetch a
  * PNG like a Leaflet client would (ServeLayerAsMap parity). */
class TileServerSpec extends AnyFunSuite {
  import spark.implicits._

  test("serves catalog tiles as PNG over HTTP with 204 for missing") {
    val ts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_serve").toString
    val pixels = (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until ts; py <- 0 until ts)
      yield (tc, tr, px, py, (tc * 11 + tr * 3 + px + py).toDouble))
      .toDF("tile_col", "tile_row", "px", "py", "v")
    new graft.catalog.LayerStore(spark, root)
      .write(graft.ops.Raster.assemble(pixels, ts, ts), "demo", 2)

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

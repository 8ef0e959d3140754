package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.security.MessageDigest
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.LayerStore
import graft.ops.{Export, Histograms}
import graft.serve.TileServer

/** Closed-loop map viewers against [[TileServer]]: each viewer replays
  * seeded page loads (GET /meta, then every tile of one zoom) over its
  * own connection. Afterwards every served PNG is compared with a fresh
  * render of the catalog tile that was current. */
final class Serving(spark: SparkSession, tr: Trace, catalog: String, layer: String, ts: Int) {

  private val store = new LayerStore(spark, catalog)

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Tile bounds per zoom, from the same attribute sidecars /meta serves. */
  private def grid: Seq[(Int, Seq[(Int, Int)])] = store.zoomsOf(layer).flatMap { z =>
    store.readAttributes(layer, z).map(at =>
      z -> (for (y <- at.minRow to at.maxRow; x <- at.minCol to at.maxCol) yield (x, y)))
  }

  def run(loads: Int, viewers: Int, seed: Long, corrupt: Boolean): Map[String, Any] = {
    // each zoom is loaded in proportion to its tile count, in a seeded
    // order: a fixed mix, so the page-load median does not jump between
    // one-tile and many-tile pages from seed to seed
    val weighted = grid.flatMap { case (z, tiles) => Seq.fill(tiles.length)((z, tiles)) }
    val plan = new scala.util.Random(seed).shuffle(Seq.tabulate(loads)(i => weighted(i % weighted.length)))
    // the server's threads do not inherit local properties, so serving
    // jobs are counted as every job started while the viewers run
    tr.drain(spark)
    val jobs0 = tr.counters.synchronized(tr.counters("exec.jobs"))
    val server = new TileServer(spark, catalog, layer, ts)
    val port = server.start(0)
    val tileMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val pageS = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val served = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), java.util.Set[String]]()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val (_, wallS, _) = tr.span("serve.phase") { _ =>
      val threads = (0 until viewers).map { _ =>
        val t = new Thread(() => {
          val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          def get(path: String): HttpResponse[Array[Byte]] =
            client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
              HttpResponse.BodyHandlers.ofByteArray())
          var i = next.getAndIncrement()
          while (i < plan.length) {
            val (z, tiles) = plan(i)
            val p0 = System.nanoTime()
            var ok = get("/meta").statusCode() == 200
            tiles.foreach { case (x, y) =>
              val q0 = System.nanoTime()
              val r = get(s"/$z/$x/$y")
              tileMs.add((System.nanoTime() - q0) / 1e6)
              if (r.statusCode() != 200) ok = false
              else served.computeIfAbsent((z, x, y), _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
                .add(sha(r.body()))
            }
            if (ok) pageS.put(i, (System.nanoTime() - p0) / 1e9)
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
    }
    server.stop()
    tr.drain(spark)
    val serveJobs = tr.counters.synchronized(tr.counters("exec.jobs")) - jobs0

    // check: each served body must equal the render of the current tile
    val mismatched = mutable.Set.empty[(Int, Int, Int)]
    val tmp = java.nio.file.Files.createTempFile("perfbench_tile", ".png")
    try {
      import scala.jdk.CollectionConverters._
      val breaks = mutable.Map.empty[Int, Seq[Double]]
      served.asScala.foreach { case (k @ (z, x, y), digests) =>
        val b = breaks.getOrElseUpdate(z, store.readAttributes(layer, z).map(_.quantileBreaks(10))
          .getOrElse(Histograms.quantileBreaks(store.read(layer, z), ts, 10)))
        val cells = store.readTile(layer, z, x, y).select("cells").head().getSeq[Double](0)
        Export.renderPng(cells, ts, ts, b, tmp.toString)
        val want = sha(java.nio.file.Files.readAllBytes(tmp))
        val got = if (corrupt && mismatched.isEmpty) Set("0" * 64) else digests.asScala.toSet
        if (got != Set(want)) mismatched += k
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
    // a load is good when every request succeeded and every tile it got
    // was the right picture; only good loads are timed
    val good = plan.indices.filter(i => pageS.containsKey(i) &&
      !plan(i)._2.exists { case (x, y) => mismatched((plan(i)._1, x, y)) })
    Map(
      "page_s" -> good.map(pageS.get(_).doubleValue),
      "tile_ms" -> tileMs.toArray.toSeq,
      "loads" -> loads,
      "failed_loads" -> (loads - good.length),
      "png_mismatch" -> mismatched.size,
      "tiles_per_s" -> tileMs.size / wallS,
      "jobs" -> serveJobs)
  }
}

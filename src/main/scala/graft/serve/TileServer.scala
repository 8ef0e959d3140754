package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.catalog.LayerStore
import graft.ops.{Export, Histograms}

/** The reference's tile-serving surface (ServeLayerAsMap.scala:61-124:
  * an HTTP actor on the driver answering /{zoom}/{x}/{y} with a PNG
  * rendered through the stored histogram's quantile breaks). Rebuilt on
  * the JDK's built-in HttpServer — no Spark job per request: tiles come
  * from the catalog's pruned point-read path, and a small LRU keeps hot
  * tiles on the driver exactly like the reference's HadoopValueReader
  * block cache.
  */
class TileServer(spark: SparkSession, catalogRoot: String, layer: String,
                 tileSize: Int = graft.core.TileMath.DefaultTileSize) {

  private val store = new LayerStore(spark, catalogRoot)

  private val breaksCache = scala.collection.concurrent.TrieMap.empty[Int, Seq[Double]]
  private val tileCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, Int, Int), Option[Seq[Double]]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(Int, Int, Int), Option[Seq[Double]]]) =
        size() > 256
    })

  /** Color breaks from the persisted `_attributes` histogram — zero Spark
    * jobs, like the reference reading `histogramData` back
    * (ServeLayerAsMap.scala:90-92). Falls back to a live quantile
    * aggregation only for pre-sidecar layers. */
  private def breaks(zoom: Int): Seq[Double] =
    breaksCache.getOrElseUpdate(zoom,
      store.readAttributes(layer, zoom).map(_.quantileBreaks(10)).getOrElse(
        Histograms.quantileBreaks(store.read(layer, zoom), tileSize, 10)))

  private def tile(zoom: Int, x: Int, y: Int): Option[Seq[Double]] = {
    val k = (zoom, x, y)
    val cached = tileCache.get(k)
    if (cached != null) cached
    else {
      val loaded = store.readTile(layer, zoom, x, y)
        .select("cells").collect().headOption.map(_.getSeq[Double](0))
      tileCache.put(k, loaded)
      loaded
    }
  }

  /** The slippy-map page (the reference serves a Leaflet index.html,
    * ServeLayerAsMap.scala + static/index.html; this build is offline so
    * the pan/zoom viewer is ~40 lines of inline JS with zero external
    * assets). Tiles come from the same /{z}/{x}/{y} endpoint; layer
    * bounds per zoom come from /meta (the attribute store, no Spark
    * job). */
  private def mapPage: String =
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>$layer</title>
       |<style>
       | body{margin:0;font:13px sans-serif;background:#222;color:#eee;overflow:hidden}
       | #bar{position:fixed;top:0;left:0;right:0;padding:6px;background:#333;z-index:2}
       | #bar button{margin-right:4px}
       | #view{position:absolute;top:34px;left:0;right:0;bottom:0;cursor:grab;overflow:hidden}
       | #tiles{position:absolute;will-change:transform}
       | #tiles img{position:absolute;width:256px;height:256px;image-rendering:pixelated}
       |</style></head><body>
       |<div id="bar"><button id="zi">+</button><button id="zo">&minus;</button>
       | <span id="info">$layer</span></div>
       |<div id="view"><div id="tiles"></div></div>
       |<script>
       |let meta=null,z=0,ox=0,oy=0,drag=null;
       |const view=document.getElementById('view'),info=document.getElementById('info'),
       |      tiles=document.getElementById('tiles');
       |function zoomMeta(){return meta.zooms.find(m=>m.zoom===z)||meta.zooms[0];}
       |function pan(){tiles.style.transform='translate('+ox+'px,'+oy+'px)';}
       |// full tile rebuild happens ONLY on zoom change; panning just
       |// moves the container (no re-fetch, no element churn)
       |function render(){
       |  const m=zoomMeta();z=m.zoom;tiles.textContent='';
       |  info.textContent=meta.layer+'  zoom '+z+'  tiles ['+m.minCol+'..'+m.maxCol+']x['+m.minRow+'..'+m.maxRow+']';
       |  for(let ty=m.minRow;ty<=m.maxRow;ty++)for(let tx=m.minCol;tx<=m.maxCol;tx++){
       |    const img=document.createElement('img');
       |    img.src='/'+z+'/'+tx+'/'+ty;
       |    img.style.left=((tx-m.minCol)*256)+'px';
       |    img.style.top=((ty-m.minRow)*256)+'px';
       |    img.onerror=()=>img.remove();
       |    tiles.appendChild(img);}
       |  pan();}
       |function setZoom(nz){
       |  const zs=meta.zooms.map(m=>m.zoom);
       |  if(zs.includes(nz)){z=nz;render();}}
       |document.getElementById('zi').onclick=()=>setZoom(z+1);
       |document.getElementById('zo').onclick=()=>setZoom(z-1);
       |view.onmousedown=e=>{drag=[e.clientX-ox,e.clientY-oy];view.style.cursor='grabbing';};
       |window.onmousemove=e=>{if(drag){ox=e.clientX-drag[0];oy=e.clientY-drag[1];pan();}};
       |window.onmouseup=()=>{drag=null;view.style.cursor='grab';};
       |fetch('/meta').then(r=>r.json()).then(m=>{meta=m;z=m.zooms[0].zoom;render();});
       |</script></body></html>""".stripMargin

  /** Layer metadata for the map page: available zooms + tile bounds,
    * straight from the attribute sidecars (zero Spark jobs). */
  private def metaJson: String = {
    val zooms = store.zoomsOf(layer).flatMap { z =>
      store.readAttributes(layer, z).map(a =>
        s"""{"zoom":$z,"minCol":${a.minCol},"maxCol":${a.maxCol},"minRow":${a.minRow},"maxRow":${a.maxRow}}""")
    }
    s"""{"layer":"$layer","tileSize":$tileSize,"zooms":[${zooms.mkString(",")}]}"""
  }

  private var server: HttpServer = _
  // the request pool's threads are non-daemon: stop() must shut it down
  // or a JVM that served tiles never exits
  private[serve] var pool: java.util.concurrent.ExecutorService = _

  private def respond(ex: HttpExchange, contentType: String, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  /** Start serving the map page (/), layer metadata (/meta) and
    * /{zoom}/{x}/{y} PNG tiles; returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        try {
          val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
          if (parts.isEmpty) { respond(ex, "text/html", mapPage.getBytes("UTF-8")); return }
          if (parts.length == 1 && parts(0) == "meta") {
            respond(ex, "application/json", metaJson.getBytes("UTF-8")); return
          }
          if (parts.length != 3) { ex.sendResponseHeaders(404, -1); return }
          val (z, x, y) = (parts(0).toInt, parts(1).toInt, parts(2).toInt)
          tile(z, x, y) match {
            case None => ex.sendResponseHeaders(204, -1)
            case Some(cells) =>
              val tmp = java.io.File.createTempFile("graft_tile", ".png")
              try {
                Export.renderPng(cells, tileSize, tileSize, breaks(z), tmp.getAbsolutePath)
                val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
                ex.getResponseHeaders.add("Content-Type", "image/png")
                // tiles are immutable per published version: let the
                // browser cache them instead of re-fetching on re-render
                ex.getResponseHeaders.add("Cache-Control", "max-age=3600")
                ex.sendResponseHeaders(200, bytes.length.toLong)
                ex.getResponseBody.write(bytes)
              } finally tmp.delete()
          }
        } catch {
          case _: NumberFormatException => ex.sendResponseHeaders(400, -1)
          case _: Throwable => ex.sendResponseHeaders(500, -1)
        } finally ex.close()
      }
    })
    pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Stop the HTTP server, then its request pool (in-flight requests
    * finish first). */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}

/** Driver app (ServeLayerAsMap parity): args catalogDir layer [port]. */
object ServeLayer {
  def main(args: Array[String]): Unit = {
    val Array(catalog, layer) = args.take(2)
    val port = if (args.length > 2) args(2).toInt else 8080
    val spark = graft.apps.Apps.session("ServeLayer")
    val bound = new TileServer(spark, catalog, layer, graft.apps.Apps.tileSize).start(port)
    println(s"serving layer '$layer' on http://127.0.0.1:$bound/{zoom}/{x}/{y}")
    Thread.currentThread().join()
  }
}

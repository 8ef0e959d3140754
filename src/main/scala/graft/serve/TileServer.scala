package graft.serve

import com.google.common.cache.CacheBuilder
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.catalog.LayerStore
import graft.ops.Export

/** The reference's tile-serving surface (ServeLayerAsMap.scala:61-124:
  * an HTTP actor on the driver answering /{zoom}/{x}/{y} with a PNG
  * rendered through the stored histogram's quantile breaks). Rebuilt on
  * the JDK's built-in HttpServer. Each tile request resolves the live
  * version of its zoom (one dir listing, one pointer-file read) and is
  * answered from an LRU of rendered PNGs keyed by (zoom, version, x, y):
  * a hit runs zero Spark jobs; a miss runs one point-read job on that
  * version dir (the catalog's pruned read standing in for the
  * reference's HadoopValueReader), shared by every request for the same
  * key that arrives while it runs. A publish changes the key, and a
  * rollback brings the old one back, so no tile outlives its version.
  */
class TileServer(spark: SparkSession, catalogRoot: String, layer: String,
                 tileSize: Int = graft.core.TileMath.DefaultTileSize) {

  private val store = new LayerStore(spark, catalogRoot)

  // Guava's get(key, loader) runs one loader per missing key; concurrent
  // requests for that key wait for it instead of reading the tile again
  private val pngs = CacheBuilder.newBuilder().maximumSize(256)
    .build[(Int, String, Int, Int), Option[Array[Byte]]]()
  private val metas = CacheBuilder.newBuilder().maximumSize(4)
    .build[Seq[(Int, String)], String]()

  /** PNG of tile (x, y) of version `v`, None if `v` has no such tile.
    * Tile and breaks both come from `v`, never from the version live at
    * read time: a publish landing during the read must not put another
    * version's bytes under this key. Breaks come from `v`'s persisted
    * `_attributes` histogram (ServeLayerAsMap.scala:90-92 reads
    * `histogramData` back the same way); a version without one fails
    * (every publish writes it), and the request answers 500. */
  private def render(zoom: Int, v: String, x: Int, y: Int): Option[Array[Byte]] = {
    val breaks = store.readAttributesAt(layer, zoom, v).getOrElse(
      throw new IllegalStateException(s"layer ($layer, $zoom) version $v has no _attributes sidecar"))
      .quantileBreaks(10)
    store.readAt(layer, zoom, v).where(col("tile_col") === x && col("tile_row") === y)
      .select("cells").collect().headOption.map { r =>
        val out = new java.io.ByteArrayOutputStream()
        Export.renderPngTo(r.getSeq[Double](0), tileSize, tileSize, breaks, out)
        out.toByteArray
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
    * straight from the attribute sidecars (zero Spark jobs), parsed
    * again only when a zoom's live version changes. */
  private def metaJson: String = {
    val live = store.zoomsOf(layer).flatMap(z => store.currentVersion(layer, z).map((z, _)))
    metas.get(live, () => {
      val zooms = live.flatMap { case (z, v) =>
        store.readAttributesAt(layer, z, v).map(a =>
          s"""{"zoom":$z,"minCol":${a.minCol},"maxCol":${a.maxCol},"minRow":${a.minRow},"maxRow":${a.maxRow}}""")
      }
      s"""{"layer":"$layer","tileSize":$tileSize,"zooms":[${zooms.mkString(",")}]}"""
    })
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
    // TCP_NODELAY on the accepted sockets: the exchange writes headers
    // and body as two segments, so without it Nagle's algorithm and the
    // client's delayed ACK stall every response by ~40 ms. The JDK reads
    // this once, when the first HttpServer is created in the JVM; it has
    // no other switch for it.
    System.setProperty("sun.net.httpserver.nodelay", "true")
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
          store.currentVersion(layer, z) match {
            case None => ex.sendResponseHeaders(204, -1)
            case Some(v) =>
              // the URL names no version, so the browser must revalidate;
              // the version dir is the tile's ETag (versions are immutable)
              val etag = "\"" + v + "\""
              ex.getResponseHeaders.add("ETag", etag)
              ex.getResponseHeaders.add("Cache-Control", "no-cache")
              if (etag == ex.getRequestHeaders.getFirst("If-None-Match")) ex.sendResponseHeaders(304, -1)
              else pngs.get((z, v, x, y), () => render(z, v, x, y)) match {
                case None => ex.sendResponseHeaders(204, -1)
                case Some(png) => respond(ex, "image/png", png)
              }
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
object ServeLayer extends graft.Launch.Job {
  /** Serves until the JVM is stopped. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(catalog, layer) = args.take(2)
    val port = if (args.length > 2) args(2).toInt else 8080
    val bound = new TileServer(spark, catalog, layer, graft.apps.Apps.tileSize).start(port)
    println(s"serving layer '$layer' on http://127.0.0.1:$bound/{zoom}/{x}/{y}")
    Thread.currentThread().join()
  }
}

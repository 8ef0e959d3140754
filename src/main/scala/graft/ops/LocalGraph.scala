package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** The driver-local seam of the scale-adaptive iterative operators
  * (connected components, k-core, BFS, SSSP, flow accumulation, basin
  * labelling, and the tiling choice of cost distance).
  *
  * Why a local path: below the size gate a distributed iterative loop
  * is pure coordination — the sf0.1 profile showed 70-130 serialized
  * 1-2-task jobs of 30-400 ms each per CC gate against milliseconds of
  * actual union-find work (Drizzle, SOSP'17, makes the same point for
  * small stages). So every gate checkpoints its input (one eager job),
  * counts it (one job over the cached blocks), and at or under
  * `spark.graft.iter.localEdgeLimit` rows collects the LONG columns as
  * flat primitive chunks and runs the same algorithm on the driver;
  * past the limit its distributed loop runs unchanged. Both paths
  * compute the identical function of the input (the gates'
  * specs pin them bit for bit) — the same adapt-from-actual-size
  * contract AQE applies to join strategies, applied to the iteration
  * driver.
  *
  * Heap math at the 2^21-row default: the collect is 8 bytes per value
  * (32-48 MB of row longs) instead of ~10x that in boxed Rows; the
  * node index (a LongMap of <= 4.2M entries, ~100 MB backing, plus
  * the id array), the dense edge endpoints and the CSR adjacency add
  * 4 bytes per endpoint; the output Rows (<= 4.2M nodes, ~180 MB) are
  * transient. The worst case stays under 400 MB against the 8 GB
  * driver. CC gates the self-loop-inclusive normalized edge set, so
  * its node universe is bounded by twice the gated count.
  */
object LocalGraph {

  /** The one size-gate key: row count at or under which a gate runs
    * driver-side (0 forces every distributed loop). */
  val LimitKey = "spark.graft.iter.localEdgeLimit"

  def limit(session: SparkSession): Long =
    session.conf.get(LimitKey, (1L << 21).toString).toLong

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.LocalGraph")

  /** The gate record: one INFO line per gate decision. `rows` is -1
    * when the gate did not count (its key columns are not LONG). */
  def record(gate: String, path: String, rows: Long, limit: Long): Unit =
    log.info(s"gate=$gate path=$path rows=$rows limit=$limit")

  /** The gate decision over a [[Materialize.checkpointFresh]] frame:
    * when its first `width` columns are LONG and its row count is at or
    * under the limit, collect those columns as primitive chunks, free
    * the checkpoint, and return the chunks. Otherwise return None and
    * leave the checkpoint to the distributed loop. */
  def gate(name: String, ck: DataFrame, width: Int): Option[Array[Array[Long]]] = {
    val lim = limit(ck.sparkSession)
    if (!ck.schema.fields.take(width).forall(_.dataType == LongType)) {
      record(name, "distributed", -1L, lim)
      None
    } else {
      val rows = ck.count()
      if (rows > lim) {
        record(name, "distributed", rows, lim)
        None
      } else {
        // one long[] per partition, row-major: 8 bytes per value on the
        // driver, read straight off the cached rows
        val chunks = Materialize.blocks(ck).mapPartitions { it =>
          val buf = new mutable.ArrayBuilder.ofLong
          it.foreach { r =>
            var i = 0
            while (i < width) { // a null would read as 0: fail like Row.getLong
              if (r.isNullAt(i)) throw new NullPointerException(s"Value at index $i is null")
              buf += r.getLong(i); i += 1
            }
          }
          Iterator(buf.result())
        }.collect()
        Materialize.free(ck)
        record(name, "local", rows, lim)
        Some(chunks)
      }
    }
  }

  /** An edge list over dense node ids: node `i` is `ids(i)`, edge `k`
    * joins `src(k)` and `dst(k)` with weight `weight(k)` (empty when
    * unweighted). */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int],
                    val weight: Array[Long]) {
    def nodes: Int = ids.length
  }

  /** Index collected `width`-long rows as edges: columns 0 and 1 are
    * the endpoints, numbered densely in first-seen order (row by row, a
    * before b); with `weighted`, column 2 is the edge weight. */
  def graph(chunks: Array[Array[Long]], width: Int, weighted: Boolean = false): Graph = {
    val m = chunks.iterator.map(_.length / width).sum
    val pos = new mutable.LongMap[Int](math.max(16, m * 2))
    var ids = new Array[Long](math.max(16, m))
    var n = 0
    def index(x: Long): Int = {
      val i = pos.getOrElse(x, -1)
      if (i >= 0) i
      else {
        if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
        ids(n) = x; pos(x) = n; n += 1
        n - 1
      }
    }
    val src = new Array[Int](m); val dst = new Array[Int](m)
    val weight = new Array[Long](if (weighted) m else 0)
    var k = 0
    chunks.foreach { arr =>
      var r = 0
      while (r < arr.length) {
        src(k) = index(arr(r)); dst(k) = index(arr(r + 1))
        if (weighted) weight(k) = arr(r + 2)
        k += 1; r += width
      }
    }
    new Graph(java.util.Arrays.copyOf(ids, n), src, dst, weight)
  }

  /** Undirected CSR adjacency: the neighbors of node v are
    * `nbr(off(v) until off(v + 1))`, with their edge weights at the
    * same positions of `weight` (empty when unweighted). */
  final class Adjacency(val off: Array[Int], val nbr: Array[Int], val weight: Array[Long])

  /** Both directions of every edge, in edge order per node (a
    * self-loop lists its node twice). */
  def undirected(g: Graph): Adjacency = {
    val off = new Array[Int](g.nodes + 1)
    g.src.foreach(u => off(u + 1) += 1)
    g.dst.foreach(v => off(v + 1) += 1)
    var v = 0
    while (v < g.nodes) { off(v + 1) += off(v); v += 1 }
    val at = java.util.Arrays.copyOf(off, g.nodes)
    val nbr = new Array[Int](off(g.nodes))
    val weighted = g.weight.nonEmpty
    val weight = new Array[Long](if (weighted) nbr.length else 0)
    var k = 0
    while (k < g.src.length) {
      val a = g.src(k); val b = g.dst(k)
      nbr(at(a)) = b; if (weighted) weight(at(a)) = g.weight(k); at(a) += 1
      nbr(at(b)) = a; if (weighted) weight(at(b)) = g.weight(k); at(b) += 1
      k += 1
    }
    new Adjacency(off, nbr, weight)
  }

  /** A local result as a frame: every field nullable (the distributed
    * paths' schemas), sliced one partition per 65536 rows, between 1
    * and the default parallelism. */
  def frame(session: SparkSession, rows: Array[Row], schema: Seq[(String, DataType)]): DataFrame = {
    val sc = session.sparkContext
    val slices = math.max(1, math.min(sc.defaultParallelism, rows.length / 65536 + 1))
    session.createDataFrame(
      sc.parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(rows), slices),
      StructType(schema.map { case (name, t) => StructField(name, t, nullable = true) }))
  }
}

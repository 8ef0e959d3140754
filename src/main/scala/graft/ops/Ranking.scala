package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Distributed global ranking without a single-partition Window.
  *
  * `Window.orderBy(...)` with no partition key moves the whole input
  * through ONE task (Spark warns exactly this) — fine for a demo, fatal
  * at 100x. This operator computes the same rank / dense_rank / ntile /
  * lag / lead semantics with the classic two-phase shape every external
  * sort uses:
  *
  *   1. `repartitionByRange` on the sort key (contiguous, ordered runs
  *      per partition) + `sortWithinPartitions`;
  *   2. one tiny per-partition summary pass (counts, boundary keys,
  *      boundary values) collected to the driver — P rows, not data;
  *   3. a map-side pass that offsets each partition's local ranks by the
  *      summaries, stitches tie groups that straddle range boundaries,
  *      and fills lag/lead at partition edges from the neighbor summary.
  *
  * Total cost: one range shuffle + two local passes; no stage sees more
  * than one partition of data. Ties are handled exactly like SQL
  * rank/dense_rank, including runs that the range partitioner splits
  * across adjacent partitions.
  */
object Ranking {

  /** Pre-materialization plan capture. These primitives materialize
    * through `createDataFrame`, so a gate's final plan snapshot is a
    * 2-node `Scan ExistingRDD` stub — a Window reintroduced UPSTREAM
    * of the ranks (in the caller's aggregation feeding this operator)
    * would be invisible to both `plans/` and the no-Window asserts.
    * PlanDump / PlanInvariantsSpec set this thread-local buffer before
    * building a gate; every primitive then records its INPUT's
    * physical plan at the exact seam `createDataFrame` hides. Nil cost
    * when unset (one ThreadLocal read per gate build). */
  private[graft] val captureTo =
    new ThreadLocal[scala.collection.mutable.Buffer[(String, String)]]

  private def capture(stage: String, df: DataFrame): Unit = {
    val buf = captureTo.get()
    if (buf != null)
      buf += stage -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
  }

  private case class Summary(pid: Int, nRows: Long, nGroups: Long, trailTies: Long,
                             firstKey: Seq[Any], lastKey: Seq[Any],
                             firstVal: Any, lastVal: Any)

  /** Adds rnk, drnk, ntile (1..ntileN), prev_/next_<neighborCol> columns
    * under a global ordering by `sortExprs`. `keyCols` are the columns
    * that define rank ties (the ORDER BY expressions by name). */
  def withGlobalRanks(df: DataFrame, sortExprs: Seq[Column], keyCols: Seq[String],
                      neighborCol: String, ntileN: Int): DataFrame = {
    capture("withGlobalRanks", df)
    val spark = df.sparkSession
    // both passes call .rdd on the SAME Dataset (lazy val) -> the second
    // job reuses the first's shuffle map output; no cache needed
    val parted = df.repartitionByRange(sortExprs: _*).sortWithinPartitions(sortExprs: _*)
    val schema = df.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val nbIdx = schema.fieldIndex(neighborCol)
    def key(r: Row): Seq[Any] = keyIdx.map(r.get)

    val summaries = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var groups = 0L; var trail = 0L
      var first: Row = null; var last: Row = null; var lastKey: Seq[Any] = null
      while (it.hasNext) {
        val r = it.next()
        if (first == null) first = r
        val k = key(r)
        if (lastKey == null || k != lastKey) { groups += 1; trail = 0L; lastKey = k }
        trail += 1; n += 1; last = r
      }
      if (n == 0) Iterator.empty
      else Iterator.single(Summary(pid, n, groups, trail, key(first), key(last),
        first.get(nbIdx), last.get(nbIdx)))
    }.collect().sortBy(_.pid)

    val total = summaries.map(_.nRows).sum
    // per-partition bases, stitching tie runs across range boundaries
    case class Base(rowBase: Long, denseBase: Long, firstGroupRank: Long,
                    prevVal: Any, nextVal: Any)
    val bases = scala.collection.mutable.Map.empty[Int, Base]
    var cumRows = 0L; var cumGroups = 0L; var cumMerged = 0L; var carry = 0L
    var prev: Summary = null
    for ((s, i) <- summaries.zipWithIndex) {
      val merged = prev != null && s.firstKey == prev.lastKey
      if (merged) {
        carry = prev.trailTies + (if (prev.firstKey == prev.lastKey) carry else 0L)
        cumMerged += 1
      } else carry = 0L
      val nextVal = if (i + 1 < summaries.length) summaries(i + 1).firstVal else null
      bases(s.pid) = Base(
        rowBase = cumRows,
        denseBase = cumGroups - cumMerged,
        firstGroupRank = cumRows - carry + 1,
        prevVal = if (prev != null) prev.lastVal else null,
        nextVal = nextVal)
      cumRows += s.nRows; cumGroups += s.nGroups
      prev = s
    }
    val basesB = spark.sparkContext.broadcast(bases.toMap)
    val totalB = total

    // SQL NTILE: first (total % n) tiles get one extra row
    def ntileOf(rn: Long): Int = {
      val q = totalB / ntileN; val rem = totalB % ntileN
      val cut = (q + 1) * rem
      if (rn <= cut) (((rn - 1) / (q + 1)) + 1).toInt
      else ((rem + (rn - cut - 1) / math.max(1L, q)) + 1).toInt
    }

    // rnk/drnk are Long: this operator exists exactly for the regime where
    // a single-partition Window fails (>2^31 rows), so Int ranks would
    // silently wrap negative right where the operator matters
    val outSchema = StructType(schema.fields ++ Array(
      StructField("rnk", LongType, nullable = false),
      StructField("drnk", LongType, nullable = false),
      StructField("ntile", IntegerType, nullable = false),
      StructField("prev_nb", schema(nbIdx).dataType, nullable = true),
      StructField("next_nb", schema(nbIdx).dataType, nullable = true)))

    val rows = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      basesB.value.get(pid) match {
        case None => Iterator.empty
        case Some(b) =>
          new Iterator[Row] {
            private val buf = it.buffered
            private var localRow = 0L
            private var localDense = 0L
            private var groupStartRank = 0L // global rank of current tie group
            private var curKey: Seq[Any] = null
            private var prevVal: Any = b.prevVal
            def hasNext: Boolean = buf.hasNext
            def next(): Row = {
              val r = buf.next()
              localRow += 1
              val k = key(r)
              if (curKey == null || k != curKey) {
                val firstGroup = curKey == null
                // denseBase already subtracts the boundary-straddling
                // group once (cumMerged includes this partition), so the
                // local counter always increments — a merged head group
                // lands exactly on the previous partition's last dense.
                localDense += 1
                groupStartRank =
                  if (firstGroup) b.firstGroupRank else b.rowBase + localRow
                curKey = k
              }
              val rn = b.rowBase + localRow
              val nextVal = if (buf.hasNext) buf.head.get(nbIdx) else b.nextVal
              val out = Row.fromSeq(r.toSeq ++ Seq(
                groupStartRank,
                b.denseBase + localDense,
                ntileOf(rn), prevVal, nextVal))
              prevVal = r.get(nbIdx)
              out
            }
          }
      }
    }
    val res = spark.createDataFrame(rows, outSchema)
    res
  }

  /** Global running sums of LONG columns under a total ordering —
    * `SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without the
    * single-partition Window that form plans as. Same two-phase shape
    * as [[withGlobalRanks]]: range-repartition + local sort, one P-row
    * per-partition sum summary to the driver, then a map-side pass
    * that seeds each partition's accumulators with the prefix of the
    * earlier partitions' sums. Exact for integer values (the running
    * sum is order-dependent only in the float world). Callers must
    * pass sort keys that form a TOTAL order — with ties the
    * within-group order, hence the intermediate sums, would be
    * partitioner-dependent. Cost: one range shuffle + two local
    * passes, however many sums ride it (the PR-curve shape needs TP
    * and FP together; two calls would pay the shuffle twice); no task
    * ever holds more than one partition. Adds one `rsum_<col>` column
    * per input. Also returns the GRAND TOTAL of each column: the driver
    * already holds the per-partition sums for the prefix bases, so
    * totals (e.g. the recall denominator) are free — no extra pass
    * over the ranked output. */
  def withGlobalRunningSums(df: DataFrame, sortExprs: Seq[Column],
                            valueCols: Seq[String]): (DataFrame, Seq[Long]) = {
    capture("withGlobalRunningSums", df)
    val spark = df.sparkSession
    val parted = df.repartitionByRange(sortExprs: _*).sortWithinPartitions(sortExprs: _*)
    val schema = df.schema
    val vIdx = valueCols.map(schema.fieldIndex).toArray
    vIdx.foreach(i => require(schema(i).dataType == LongType,
      s"${schema(i).name} must be LONG"))
    val m = vIdx.length
    val sums = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val s = new Array[Long](m)
      while (it.hasNext) {
        val r = it.next()
        var j = 0; while (j < m) { s(j) += r.getLong(vIdx(j)); j += 1 }
      }
      Iterator.single(pid -> s)
    }.collect().sortBy(_._1)
    val totals = (0 until m).map(j => sums.map(_._2(j)).sum)
    val bases: Map[Int, Array[Long]] = {
      var acc = new Array[Long](m)
      sums.map { case (pid, s) =>
        val b = acc.clone()
        acc = acc.zip(s).map { case (x, y) => x + y }
        pid -> b
      }.toMap
    }
    val basesB = spark.sparkContext.broadcast(bases)
    val outSchema = StructType(schema.fields ++
      valueCols.map(c => StructField(s"rsum_$c", LongType, nullable = false)))
    val rows = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = basesB.value.getOrElse(pid, new Array[Long](m)).clone()
      it.map { r =>
        var j = 0; while (j < m) { acc(j) += r.getLong(vIdx(j)); j += 1 }
        Row.fromSeq(r.toSeq ++ acc.toSeq)
      }
    }
    (spark.createDataFrame(rows, outSchema), totals)
  }

  /** Exact k-th smallest VALUES of a numeric column by two-phase
    * range-partition selection — the scale path for exact quantiles
    * over continuous keys, where the binned-CDF trick (a_quartiles)
    * doesn't apply and a global sort-window would move everything
    * through one task. Phase 1: range-repartition + local sort (one
    * shuffle; partitions are value-ordered runs). Phase 2: one P-row
    * per-partition count summary to the driver locates each rank's
    * (partition, offset); phase 3 streams ONLY the owning partitions to
    * the requested offsets. The k-th VALUE is well-defined under ties
    * regardless of boundary placement, so the result is deterministic
    * even though range boundaries come from sampling. Cost: one range
    * shuffle + two local passes; driver sees P longs. */
  def kthValues(df: DataFrame, valueCol: Column, ks: Seq[Long]): Seq[Double] = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    capture("kthValues", df)
    val parted = df.select(valueCol.cast("double").as("v"))
      .where(col("v").isNotNull)
      .repartitionByRange(col("v")).sortWithinPartitions(col("v"))
    val counts = parted.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator.single(pid -> {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      }))
      .collect().sortBy(_._1).map(_._2)
    val total = counts.sum
    require(ks.forall(_ <= total), s"rank out of range (n=$total)")
    // rank -> (partition, 0-based offset)
    val cum = counts.scanLeft(0L)(_ + _)
    val targets: Map[Int, Seq[(Long, Long)]] = ks.map { k =>
      val p = cum.indexWhere(_ >= k) - 1 // partition owning global rank k
      (p, k, k - 1 - cum(p))
    }
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._2)).toMap
    val found = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      targets.get(pid) match {
        case None => Iterator.empty
        case Some(offs) =>
          var i = 0L
          val want = offs.iterator.buffered
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          while (it.hasNext && want.hasNext) {
            val v = it.next().getDouble(0)
            while (want.hasNext && want.head._2 == i) out += ((want.next()._1, v))
            i += 1
          }
          out.iterator
      }
    }.collect().toMap
    ks.map(found)
  }
}

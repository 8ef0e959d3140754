package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** The one checkpoint seam: eager materialization that also RESETS the
  * size estimate, returned as a frame that owns its blocks.
  *
  * `localCheckpoint(eager = true)` truncates the logical plan to a leaf
  * but COPIES the origin plan's statistics into that leaf (Spark keeps
  * the estimate so joins planned over the checkpoint stay informed).
  * In an iterative self-joining loop that inheritance is a time bomb:
  * a join's sizeInBytes estimate is the PRODUCT of its children's, so
  * each round's estimate multiplies the previous leaf's by itself —
  * the estimate's BIT-LENGTH multiplies every round, and by round ~12
  * the driver spends minutes inside the size-only stats visitor
  * multiplying million-digit BigInts (observed: r_dbscan_core at
  * sf0.1 pinned the main thread in BigInteger.multiplyToomCook3 under
  * SizeInBytesOnlyStatsPlanVisitor.visitJoin for half an hour; the
  * data work per round was milliseconds).
  *
  * The returned frame's plan is a new leaf over the checkpoint's own
  * RDD of InternalRows: fresh attribute ids, no origin statistics,
  * unknown partitioning and no ordering — the leaf `createDataFrame`
  * builds, without its Row conversion. Its estimate is the session
  * default, CONSTANT across rounds, so planning cost stays O(1) per
  * round. The conservative default also means the per-round state is
  * never auto-broadcast on a stale estimate; AQE still adapts
  * strategies from ACTUAL runtime sizes.
  *
  * The frame is the only handle: [[blocks]] reads its cached blocks
  * directly, and [[free]] releases them once the last consumer has
  * run. Frames derived from it share its blocks but never free them.
  */
object Materialize {
  def checkpointFresh(df: DataFrame): DataFrame = {
    val checkpoint = leafOf(df.localCheckpoint(true))
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftSqlShim.ofRows(session,
      LogicalRDD(checkpoint.output.map(_.newInstance()), checkpoint.rdd)(session))
  }

  /** The checkpointed blocks behind a frame [[checkpointFresh]]
    * returned, as the InternalRows the checkpoint cached. */
  def blocks(frame: DataFrame): RDD[InternalRow] = leafOf(frame).rdd

  /** Release the blocks of checkpoint frames without blocking. A frame
    * derived from a checkpoint (a projection, a join) is rejected: it
    * may share its blocks with frames that are still read. */
  def free(frames: DataFrame*): Unit =
    frames.map(blocks).foreach(_.unpersist(blocking = false))

  private def leafOf(frame: DataFrame): LogicalRDD = frame.queryExecution.analyzed match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r
    case p => throw new IllegalArgumentException(
      s"not a checkpoint frame (its plan is a ${p.nodeName}, not one checkpoint leaf)")
  }
}

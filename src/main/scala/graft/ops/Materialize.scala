package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Eager materialization that also RESETS the size estimate.
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
  * Rebuilding the frame from the checkpointed RDD through the public
  * row API yields a fresh leaf whose estimate is the session default —
  * CONSTANT across rounds, so planning cost stays O(1) per round. The
  * conservative default also means the per-round state is never
  * auto-broadcast on a stale estimate; AQE still adapts strategies
  * from ACTUAL runtime sizes. The extra InternalRow→Row→InternalRow
  * conversion touches only the small per-round state tables these
  * loops carry, never the corpus.
  *
  * Returns the fresh frame plus the checkpoint's backing RDDs so the
  * caller can free superseded rounds' blocks explicitly (the fresh
  * plan no longer exposes them).
  */
object Materialize {
  def checkpointFresh(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val ck = df.localCheckpoint(true)
    val rdds = ck.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), rdds)
  }
}

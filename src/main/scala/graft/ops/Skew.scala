package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew and co-location tools for the 100 TB path (SURVEY §4 / build
  * brief: "salting for skew, bucketing for co-located joins").
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; these
  * are for the two places AQE can't help: skewed *aggregations* (one
  * hot key overwhelms a single reducer) and repeated joins on the same
  * key (pay the exchange once by bucketing the table, see [[Bucketing]]).
  */
object Skew {

  /** Two-phase (salted) aggregation: partial aggregate on
    * (key, salt) — spreading a hot key over `buckets` reducers — then
    * final aggregate on the key. Caller supplies both phases because
    * they differ for non-decomposable aggs (e.g. count → partial count,
    * final sum).
    */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], buckets: Int)(
      partial: Seq[Column], final_ : Seq[Column]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    salted
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keyCols.map(col): _*)
      .agg(final_.head, final_.tail: _*)
  }

  /** Salted broadcast-replicated join for a skewed big side against a
    * small side: big rows get a random salt in [0, buckets); the small
    * side is exploded `buckets` times so every (key, salt) finds its
    * match. Only useful when the small side is too big to broadcast
    * whole but the join key is skewed; with a truly small side prefer
    * plain broadcast. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, buckets: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(hash(col(key), spark_partition_id(), monotonically_increasing_id()), lit(buckets)))
    val replicated = small.withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}

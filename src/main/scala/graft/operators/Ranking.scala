package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Distributed global ranking. `row_number() OVER (ORDER BY ...)` with no
  * partition key collapses the whole input into ONE task — fine for a
  * handful of post-aggregation rows, a bottleneck the moment the ranked
  * entity is high-cardinality. This operator computes the identical
  * numbering with no single-partition stage:
  *
  *  1. range-repartition + sort within partitions on the ranking order
  *     (the same machinery a global `orderBy` uses, minus the final
  *     single-reader),
  *  2. `monotonically_increasing_id()` on the sorted partitions — its
  *     layout (partition index in the upper bits, a per-partition
  *     counter below) yields the partition id and LOCAL row number in
  *     one codegen expression, with no window and no extra exchange,
  *  3. tiny per-partition counts → cumulative offsets (broadcast back),
  *     `global = offset + local`.
  *
  * The ranking order must be a total order (add a unique tie-break
  * column) — with ties at a range boundary the partitioner may split
  * equal keys and the offset correction cannot restore a deterministic
  * order between them.
  *
  * The range width defaults to the session's fan-out
  * ([[GraftSession.fanOut]]): an explicit range partitioning is never
  * coalesced by AQE, so every extra partition is an extra task.
  */
object Ranking {

  /** Distributed global RUNNING SUM of `value` in `order` — the
    * prefix-aggregation sibling of [[globalRowNumber]], with the same
    * no-single-task structure: range-repartition + per-partition sort,
    * a (partition)-local running-sum window (no extra exchange — rows
    * are already co-located and sorted), tiny per-partition totals →
    * cumulative offsets broadcast back. Powers global budget cuts
    * ("keep the best docs until N tokens") that dc2-style per-source
    * windows can't express.
    */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String, numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(GraftSession.fanOut(df.sparkSession))
    // materialized ONCE for the same reason as globalRowNumber: the
    // offsets branch and the join branch must see identical range
    // boundaries and partition membership
    val local = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__v", value)
      .withColumn("__pid", shiftrightunsigned(monotonically_increasing_id(), 33))
      .localCheckpoint(true)
    val offsets = local.groupBy(col("__pid")).agg(sum(col("__v")).as("__s"))
      .withColumn("__offset",
        coalesce(sum(col("__s")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__offset") + sum(col("__v")).over(w))
      .drop("__pid", "__v")
  }

  def globalRowNumber(df: DataFrame, order: Seq[Column], outCol: String,
      numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(GraftSession.fanOut(df.sparkSession))
    // monotonically_increasing_id = pid * 2^33 + within-partition index
    // materialized ONCE: the offsets branch and the join branch must see
    // the same range boundaries and partition-local ids — relying on
    // exchange reuse to guarantee that is fragile (a re-executed range
    // exchange may sample different boundaries)
    val local = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
      .withColumn("__rn", (col("__mid").bitwiseAND((1L << 33) - 1)) + 1)
      .drop("__mid")
      .localCheckpoint(true)
    // partition counts are `parts` rows — the only non-distributed state
    // (the unpartitioned offset window runs over ≤ `parts` rows, bounded
    // by cluster width, never by data volume)
    val offsets = local.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    local
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, (col("__offset") + col("__rn")).cast("int"))
      .drop("__pid", "__rn", "__offset")
  }
}

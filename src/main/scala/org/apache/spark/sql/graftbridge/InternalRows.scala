package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

/** One of the library's two `private[sql]` access points (the other is
  * [[Columns]], expression <-> Column), both kept in this
  * clearly-marked bridge package (the standard Spark-ecosystem
  * device — connector libraries ship the same shim). This one: re-bind an
  * already-compiled frame to another session WITHOUT the
  * `Dataset.rdd` → `createDataFrame` round-trip, which deserializes
  * every row to an external `Row` and re-encodes it back on every
  * scan. Measured on the CC loop (NOTES_r19 #5, 1M-doc pair set): the
  * external-Row handoff cost ~+0.9 s per call on a ~100k-edge graph.
  *
  * [[rebind]] additionally carries the source plan's `Statistics`
  * into the new `LogicalRDD` — without them the target session sees
  * `defaultSizeInBytes` and every downstream join of the handed-off
  * frame silently degrades from broadcast to sort-merge (measured:
  * the CC round job doubled; the plan probe showed BroadcastHashJoin
  * on the home session vs SortMergeJoin + three exchanges across a
  * stats-less handoff). `localCheckpoint()` itself plans a
  * `LogicalRDD` with origin stats — the bridge reproduces exactly
  * that node on the target session.
  *
  * UPGRADE CONTRACT (r19 VERDICT ask #4): the `private[sql]` surfaces
  * this file touches — the `LogicalRDD` constructor shape,
  * `Dataset.ofRows`, the classic
  * `SparkSession` cast — are pinned by GraftBridgeContractSpec, which
  * exercises [[rebind]] against a CHECKPOINTED frame and asserts every
  * promise individually (row parity, stats carried, attribute ids and
  * partitioning reused, no recompute) with a pointed message naming
  * this file when one drifts. A Spark upgrade that changes a SIGNATURE
  * fails this file's compile; one that changes BEHAVIOR fails that
  * spec. Either way the fallback is [[rebindPortable]] below —
  * public-API only, compiled here so it can never rot.
  */
object InternalRows {
  /** Re-bind `df` to `target`: compiled internal-row RDD (no row
    * conversion, no recompute for a checkpointed frame) wrapped in a
    * `LogicalRDD` carrying the source plan's size/row-count stats so
    * the target session keeps making the same broadcast decisions as
    * the home session. When the source is itself a `LogicalRDD` (a
    * checkpointed frame), its output attributes, partitioning and
    * ordering are reused verbatim — attribute ids are globally unique,
    * so the partitioning's references stay valid and the target
    * session elides the same exchanges the home session would. */
  def rebind(target: SparkSession, df: DataFrame): DataFrame = {
    val t = target.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val stats = qe.optimizedPlan.stats
    val node = qe.logical match {
      case lr: LogicalRDD =>
        LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, None)(t, Some(stats), None)
      case _ =>
        LogicalRDD(DataTypeUtils.toAttributes(df.schema), qe.toRdd,
          UnknownPartitioning(0), Nil, isStreaming = false, None)(
          t, Some(stats), None)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(t, node)
  }

  /** The PUBLIC-API fallback for [[rebind]], kept compiling so a Spark
    * upgrade that breaks the bridge has a one-line escape hatch:
    * `createDataFrame(df.rdd, schema)` round-trips every row through
    * an external `Row` (measured ~+0.9 s per CC call on a ~100k-edge
    * graph) and carries NO stats or partitioning — downstream joins
    * may degrade from broadcast to sort-merge until the bridge is
    * repaired. Correct, slower, always available.
    */
  def rebindPortable(target: SparkSession, df: DataFrame): DataFrame =
    target.createDataFrame(df.rdd, df.schema)
}

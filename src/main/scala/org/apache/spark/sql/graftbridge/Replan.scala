package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A frame's ANALYZED plan on another session, to be optimized and
  * planned again under that session's conf — graft's one session
  * hand-off, and one of its three access points to Spark internals
  * ([[Columns]] and [[ListenerDrain]] are the others). The eager
  * pipelines run their whole body on a [[graft.ops.SessionIso]]
  * child (`ShuffleWidth.atInputWidth`), the stream batches return to
  * the session that started them, and the CC loop and the chained
  * k-means train move their inputs to their own child. Nothing is
  * executed or fixed: the target's optimizer still prunes columns and
  * pushes filters into the scan, and every exchange is planned at the
  * target's width.
  *
  * The analyzed plan, not `queryExecution.logical`: analysis already
  * resolved the relation (file listing, schema), so the target runs
  * no job. Re-analyzing the logical plan of a parquet read on the
  * target ran a one-task schema-inference job per call. A
  * checkpointed frame's analyzed plan is the checkpoint's own
  * `LogicalRDD`: the target reads the checkpoint (no recompute, no
  * row conversion) with its origin stats and its partitioning, so its
  * joins plan broadcast and elide exchanges as the home session's
  * would. A persisted frame's plan still matches the shared cache, so
  * the target reads the cached blocks. Pinned by
  * GraftBridgeContractSpec (rows, zero jobs, target's width, no
  * recompute, stats, partitioning, cache).
  */
object Replan {
  def onto(target: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)
}

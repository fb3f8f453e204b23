package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A frame's ANALYZED plan on another session, to be optimized and
  * planned again under that session's conf — the handoff for calls
  * that run their whole body on a [[graft.ops.SessionIso]] child
  * (`ShuffleWidth.atInputWidth`). Unlike [[InternalRows.rebind]],
  * which wraps the already-compiled RDD, nothing is executed or
  * fixed: the target's optimizer still prunes columns and pushes
  * filters into the scan, and every exchange is planned at the
  * target's width.
  *
  * The analyzed plan, not `queryExecution.logical`: analysis already
  * resolved the relation (file listing, schema), so the target runs
  * no job. Re-analyzing the logical plan of a parquet read on the
  * target ran a one-task schema-inference job per call. Pinned by
  * GraftBridgeContractSpec (rows, zero jobs, target's width).
  */
object Replan {
  def onto(target: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)
}

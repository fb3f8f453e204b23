package graft

import graft.functions.VectorFunctions.callValue
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Data-quality surface — the engine analog of the reference's 2022
  * era (`/root/reference/src/etl_2022.py`): DataQualityChecker
  * (`:46-79`), DataProfiler (`:81-109`) and threshold alerting
  * (`:111-121`), rebuilt Spark-first.
  *
  * Two design points that matter at 100 TB:
  *  - pipeline counters ride the job via `observe()` — an
  *    AggregatingAccumulator on the executors, so valid/invalid/row
  *    counts cost ZERO extra scans (the reference's ETLMetrics class,
  *    etl_2020.py:20-34, re-reads nothing either — it counts in the
  *    row loop);
  *  - the quality report is two jobs whatever the column count (the
  *    reference's "single-pass combined checks", etl_2022.py:74-79):
  *    null counts, totals and the outlier quartiles in one aggregate,
  *    then duplicates and outliers in one grouped pass.
  */
object Quality {

  /** Aggregate quality report over a frame (etl_2022.py:46-79). */
  case class QualityReport(
      totalRows: Long,
      nullCounts: Map[String, Long],
      dupRows: Long,
      outlierRows: Long,
      validRows: Long) {
    def invalidRows: Long = totalRows - validRows
    def validRate: Double =
      if (totalRows == 0) 1.0 else validRows.toDouble / totalRows
  }

  /** Alert thresholds (etl_2022.py:111-121: <90% valid, >100 nulls,
    * >50 dups, >10 outliers).
    */
  case class Thresholds(minValidRate: Double = 0.9, maxNulls: Long = 100,
                        maxDups: Long = 50, maxOutliers: Long = 10)

  /** Full quality report (etl_2022.py:46-79) in two jobs, regardless
    * of column count:
    *  1. one aggregate: total and valid rows, nulls per column, and the
    *     exact quartiles of `outlierCol`;
    *  2. one pass grouped on `dupKeys`: each group's size and its IQR
    *     outliers (`< q1 - 1.5·iqr` or `> q3 + 1.5·iqr`, etl_2022.py:
    *     60-72), summed into duplicates — Σ(group size − 1), rows
    *     repeating an earlier row on the keys (:56-58) — and outliers.
    * No quartiles (an all-null or empty column) means no outliers.
    */
  def report(df: DataFrame, valid: Column, dupKeys: Seq[String],
             outlierCol: String): QualityReport =
    reportWith(df, valid, dupKeys, outlierCol, Nil)._1

  /** [[report]] plus the `extra` aggregates, evaluated over `df` in
    * the report's first job and returned in order as one Row. */
  private[graft] def reportWith(df: DataFrame, valid: Column,
                                dupKeys: Seq[String], outlierCol: String,
                                extra: Seq[Column]): (QualityReport, Row) = {
    val c = col(outlierCol)
    // count_if, not a sum of 0/1: it is 0, never null, over no rows
    val nulls = df.columns.toSeq.map(n => count_if(col(n).isNull))
    val aggs = Seq(count(lit(1)), count_if(valid),
      percentile(c, lit(0.25)), percentile(c, lit(0.75))) ++ nulls ++ extra
    val base = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val outlier =
      if (base.isNullAt(2)) lit(false)
      else {
        // the fences are read at run time, not compiled in, so a new
        // drop reuses the classes of the last one
        val (q1, q3) = (base.getDouble(2), base.getDouble(3))
        c < callValue("outlier_below", q1 - (q3 - q1) * 1.5) ||
          c > callValue("outlier_above", q3 + (q3 - q1) * 1.5)
      }
    val counts = df.groupBy(dupKeys.map(col): _*)
      .agg(count(lit(1)).as("group_rows"), count_if(outlier).as("outliers"))
      .agg(coalesce(sum(col("group_rows") - 1), lit(0L)),
        coalesce(sum(col("outliers")), lit(0L)))
      .collect()(0)
    val report = QualityReport(
      totalRows = base.getLong(0),
      nullCounts = df.columns.toSeq.zipWithIndex
        .map { case (n, i) => n -> base.getLong(i + 4) }.toMap,
      dupRows = counts.getLong(0),
      outlierRows = counts.getLong(1),
      validRows = base.getLong(1))
    (report, Row.fromSeq(base.toSeq.drop(4 + nulls.size)))
  }

  /** Threshold alerting (etl_2022.py:111-121) — pure function of the
    * report, so it is unit-testable and side-effect-free; wire the
    * strings to any sink (the reference emails them, :123-144).
    */
  def alerts(r: QualityReport, t: Thresholds = Thresholds()): Seq[String] =
    Seq(
      (r.validRate < t.minValidRate) ->
        f"low_valid_rate: ${r.validRate}%.4f < ${t.minValidRate}%.2f",
      (r.nullCounts.values.sum > t.maxNulls) ->
        s"high_null_count: ${r.nullCounts.values.sum} > ${t.maxNulls}",
      (r.dupRows > t.maxDups) -> s"high_dup_count: ${r.dupRows} > ${t.maxDups}",
      (r.outlierRows > t.maxOutliers) ->
        s"high_outlier_count: ${r.outlierRows} > ${t.maxOutliers}",
    ).collect { case (true, msg) => msg }

  /** Attach pipeline counters to a frame without an extra pass: the
    * returned Observation yields (n_rows, n_valid, n_invalid,
    * avg_quality) after the NEXT action on the returned frame — the
    * ETLMetrics analog (etl_2020.py:20-34) as an executor-side
    * accumulator instead of a driver-side counter loop.
    */
  def observed(df: DataFrame, valid: Column,
               qualityScore: Column): (DataFrame, Observation) = {
    val obs = Observation()
    val observedDf = df.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(valid, 1L).otherwise(0L)).as("n_valid"),
      sum(when(valid, 0L).otherwise(1L)).as("n_invalid"),
      avg(qualityScore.cast(DoubleType)).as("avg_quality"))
    (observedDf, obs)
  }
}

package graft

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
  *  - the quality report is one single-scan multi-aggregate per
  *    concern (the reference's "single-pass combined checks",
  *    etl_2022.py:74-79): null counts + totals in one agg, dup count
  *    as one groupBy, outliers as one percentile agg + pushed filter.
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

  /** Null count per column + total rows + valid rows, ONE scan. */
  private def baseAgg(df: DataFrame, valid: Column): Row = {
    // count_if, not a sum of 0/1: it is 0, never null, over no rows
    val nulls = df.columns.toSeq
      .map(c => count_if(col(c).isNull).as(s"nulls_$c"))
    val aggs = Seq(count(lit(1)).as("total"),
      count_if(valid).as("valid")) ++ nulls
    df.agg(aggs.head, aggs.tail: _*).collect()(0)
  }

  /** Rows that are duplicates of an earlier row on `keys`
    * (etl_2022.py:56-58) — Σ(group size − 1), shuffle on the key
    * hash, 1-row result.
    */
  private def dupRowCount(df: DataFrame, keys: Seq[String]): Long =
    df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)))
      .collect()(0).getLong(0)

  /** IQR outlier count on `c` (etl_2022.py:60-72): one exact
    * percentile agg broadcast into one counting pass.
    */
  private def outlierCount(df: DataFrame, c: String): Long = {
    val bounds = df.agg(
      expr(s"percentile($c, 0.25)").as("q1"),
      expr(s"percentile($c, 0.75)").as("q3"))
    df.crossJoin(broadcast(bounds))
      .filter(col(c) < col("q1") - (col("q3") - col("q1")) * 1.5 ||
        col(c) > col("q3") + (col("q3") - col("q1")) * 1.5)
      .agg(count(lit(1))).collect()(0).getLong(0)
  }

  /** Full quality report: 3 scans total (base+valid, dups, outliers)
    * regardless of column count.
    */
  def report(df: DataFrame, valid: Column, dupKeys: Seq[String],
             outlierCol: String): QualityReport = {
    val base = baseAgg(df, valid)
    QualityReport(
      totalRows = base.getLong(0),
      nullCounts = df.columns.toSeq.zipWithIndex
        .map { case (c, i) => c -> base.getLong(i + 2) }.toMap,
      dupRows = dupRowCount(df, dupKeys),
      outlierRows = outlierCount(df, outlierCol),
      validRows = base.getLong(1))
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

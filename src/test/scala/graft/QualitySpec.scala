package graft

import graft.ops.{Sources, Transforms}
import org.apache.spark.sql.functions._

/** Quality surface: report counts mirror the reference's checker
  * (etl_2022.py:46-79), alerts fire on thresholds (:111-121), and
  * observe() counters match a direct count without an extra scan.
  */
class QualitySpec extends SparkSpec {

  private lazy val events = Sources.table(spark, sf, "events")

  test("report counts reconcile with direct aggregations") {
    val r = Quality.report(events, Transforms.validEvent,
      dupKeys = Seq("user_id", "event_type"), outlierCol = "value")
    assert(r.totalRows == events.count())
    assert(r.validRows == events.filter(Transforms.validEvent).count())
    assert(r.invalidRows == r.totalRows - r.validRows)
    assert(r.nullCounts("value") ==
      events.filter(col("value").isNull).count())
    assert(r.validRate > 0.0 && r.validRate <= 1.0)
  }

  /** Spark's exact `percentile`: linear interpolation between the
    * closest ranks of the sorted non-null values. */
  private def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = (sorted.size - 1) * p
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  test("report's duplicate and outlier counts match direct computations") {
    val keys = Seq("user_id", "event_type")
    // the fixture's values may hold no IQR outlier: plant five far ones
    val planted = events.unionByName(
      events.orderBy("event_id").limit(5).withColumn("value", lit(1e12)))
    Seq(events -> 0L, planted -> 5L).foreach { case (df, minOutliers) =>
      val r = Quality.report(df, Transforms.validEvent,
        dupKeys = keys, outlierCol = "value")
      // duplicates: Σ(group size − 1) over the key groups
      val sizes = df.groupBy(keys.map(col): _*).count()
        .collect().map(_.getLong(2))
      assert(r.dupRows == sizes.map(_ - 1).sum)
      assert(r.dupRows > 0, "no duplicate keys: the check is vacuous")
      // outliers: the IQR rule — below q1 − 1.5·iqr or above q3 + 1.5·iqr
      val vs = df.filter(col("value").isNotNull)
        .collect().map(_.getAs[Double]("value")).sorted.toIndexedSeq
      val (q1, q3) = (quantile(vs, 0.25), quantile(vs, 0.75))
      val outliers =
        vs.count(v => v < q1 - (q3 - q1) * 1.5 || v > q3 + (q3 - q1) * 1.5)
      assert(r.outlierRows == outliers)
      assert(outliers >= minOutliers)
    }
  }

  test("an all-null outlier column reports no outliers") {
    val blank = events.withColumn("value", lit(null).cast("double"))
    val r = Quality.report(blank, Transforms.validEvent,
      dupKeys = Seq("user_id", "event_type"), outlierCol = "value")
    assert(r.outlierRows == 0)
    assert(r.nullCounts("value") == r.totalRows)
  }

  test("alerts fire exactly on threshold violations") {
    val clean = Quality.QualityReport(100, Map("a" -> 0), 0, 0, 100)
    assert(Quality.alerts(clean).isEmpty)
    val dirty = Quality.QualityReport(100, Map("a" -> 500), 60, 20, 50)
    val a = Quality.alerts(dirty)
    assert(a.exists(_.startsWith("low_valid_rate")))
    assert(a.exists(_.startsWith("high_null_count")))
    assert(a.exists(_.startsWith("high_dup_count")))
    assert(a.exists(_.startsWith("high_outlier_count")))
  }

  test("observe() counters ride the action — no extra scan") {
    val score = lit(1.0) - when(col("value").isNull, 1.0).otherwise(0.0)
    val (df, obs) = Quality.observed(events, Transforms.validEvent, score)
    val total = df.count() // the ONE action; metrics piggyback on it
    val m = obs.get
    assert(m("n_rows") == total)
    assert(m("n_valid").asInstanceOf[Long] +
      m("n_invalid").asInstanceOf[Long] == total)
    assert(m("avg_quality").asInstanceOf[Double] >= 0.0)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.ops.Num.{fromUnits, lsum, units}

/** ML feature preparation — the column transforms a training-data
  * pipeline applies just before model ingest: numeric scaling,
  * categorical encoding. The reference's quality/clean stage
  * (/root/reference/src/etl_2022.py:176-188) normalizes and imputes;
  * these are the standard next steps that turn cleaned columns into
  * model features.
  *
  * Scale shape shared by all three: the "fit" statistics are one
  * global/grouped aggregate whose result is a handful of rows, and the
  * "transform" is a broadcast of those rows back across the data — one
  * full scan, no per-row shuffle, the exact plan a 100 TB feature
  * pipeline wants (the statistics tuple is bytes; the big side never
  * moves).
  */
object Features {

  /** `scale_features` — min-max and z-score scaling of `events.value`
    * in one pass. Fit = one global aggregate (min, max, exact-decimal
    * power sums for mean/std per [[Num]] — the built-in `stddev_samp`
    * accumulates co-moments in shuffle-arrival order and drifts in the
    * last bits, so std comes from Σx/Σx² instead). Transform =
    * broadcast-join the 1-row stats tuple and project both scaled
    * columns. Sample (n−1) std, matching the oracle's formulation.
    */
  def scaleFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .filter(col("value").isNotNull)
    val n = col("n").cast(DoubleType)
    // long unit sums (value exactly 2 dp; v² exact at scale 4) — the
    // checked units project ONCE per row (re-deriving the guarded
    // expression per power term measured +47% on agg_corr)
    val stats = ev.select(col("value"), units(col("value"), 2).as("vu"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("mn"), max(col("value")).as("mx"),
        fromUnits(sum(col("vu")), 2).as("sx"),
        fromUnits(sum(col("vu") * col("vu")), 4).as("sxx"))
      .select(col("mn"), col("mx"), (col("sx") / n).as("mu"),
        sqrt((col("sxx") - col("sx") * col("sx") / n) / (n - 1)).as("sd"))
    ev.crossJoin(broadcast(stats))
      .select(col("event_id"),
        round((col("value") - col("mn")) / (col("mx") - col("mn")), 6)
          .as("value_minmax"),
        round((col("value") - col("mu")) / col("sd"), 6).as("value_z"))
  }

  /** `encode_onehot` — one-hot encoding of `o_orderstatus` over its
    * declared category set (O/F/P). Declared, not discovered: a
    * distinct-scan "fit" pass would make the output schema
    * data-dependent, which breaks both column pruning and the oracle
    * contract — the 100 TB shape is a fixed vocabulary applied as a
    * pure projection (zero shuffles, fully codegen'd).
    */
  def encodeOnehot(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "orders")
      .select(col("o_orderkey") +:
        Seq("O", "F", "P").map(c =>
          when(col("o_orderstatus") === c, 1L).otherwise(0L)
            .as(s"is_${c.toLowerCase}")): _*)

  /** `encode_freq` — frequency encoding of `events.event_type`: each
    * row carries its category's corpus relative frequency, the
    * leakage-free stand-in for target encoding. Fit = one groupBy
    * (map-side combined, one row per category on the shuffle);
    * transform = broadcast-join the tiny frequency table back. Both
    * engines divide the same exact BIGINTs, so the double quotient is
    * bit-identical.
    */
  def encodeFreq(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .filter(col("event_type").isNotNull)
    val freqs = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("total"))))
      .select(col("event_type"),
        round(col("cnt").cast(DoubleType) / col("total").cast(DoubleType),
          6).as("et_freq"))
    ev.join(broadcast(freqs), "event_type")
      .select(col("event_id"), col("event_type"), col("et_freq"))
  }

  /** `encode_target` — smoothed target (mean) encoding of
    * `events.event_type` against `value`: each category maps to
    * `(Σv + m·μ) / (n + m)` with prior weight m=50 shrinking rare
    * categories toward the global mean μ — the standard
    * leakage-resistant form. Fit = one grouped aggregate + one global
    * aggregate (both exact-decimal sums per [[Num]], so the doubles
    * agree bit-for-bit with the oracle); transform = broadcast
    * join-back. Same 100 TB shape as [[encodeFreq]]: the big side never
    * shuffles.
    */
  def encodeTarget(s: SparkSession, dir: String, m: Double = 50.0): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val global = ev.agg(
      (lsum(col("value"), 2) / count(lit(1))).as("mu"))
    val enc = ev.groupBy("event_type")
      .agg(lsum(col("value"), 2).as("sv"), count(lit(1)).as("n"))
      .crossJoin(broadcast(global))
      .select(col("event_type"),
        round((col("sv") + lit(m) * col("mu")) /
          (col("n").cast(DoubleType) + lit(m)), 6).as("et_target"))
    ev.join(broadcast(enc), "event_type")
      .select(col("event_id"), col("event_type"), col("et_target"))
  }

  /** `encode_bucket` — exact-decile binning of `lineitem
    * .l_extendedprice`: fit = ONE exact percentile aggregate producing
    * the 9 interior cut points; transform = broadcast the 1-row cut
    * tuple and assign `bucket = 1 + Σᵢ [price > cutᵢ]` as a pure
    * projection. This is the scale-correct quantile discretizer — the
    * rank-based alternative (`ntile(10)` over a global sort) funnels
    * every row through one window partition, while this shape keeps
    * the big side shuffle-free. At 100 TB swap the exact percentile
    * for `approx_percentile` (the cut points, not the assignment, are
    * the only approximation).
    */
  def encodeBucket(s: SparkSession, dir: String): DataFrame = {
    val li = Sources.table(s, dir, "lineitem")
    // fit: sort-based exact deciles (Num.exactPercentiles — the
    // builtin percentile aggregate's boxed value->count map took
    // 2.3 s warm on this 600k-distinct column, ~6x the cost of the
    // range-partitioned sort). The GK-bracket refine that won for
    // profileOf's single median LOSES here, A/B'd at sf0.1 under noop
    // (0.83 vs 0.58 s min-of-5, same window): nine brackets put 36
    // aggregate updates into one ObjectHashAggregate (collect_list
    // disables codegen for the whole operator), while ONE
    // range-partitioned sort amortizes over all nine cuts.
    // transform: the cut points are plain LITERALS in statically
    // unrolled comparisons — not the `aggregate(cuts, …)` fold it
    // replaces, which evaluated an interpreted lambda per fact row,
    // nor even a broadcast join. Together: 3.59 s -> 0.51 s at sf0.1.
    val cuts = Num.exactPercentiles(li, "l_extendedprice",
      (1 to 9).map(_ / 10.0))
    li.select("l_orderkey", "l_linenumber", "l_extendedprice")
      .select(col("l_orderkey"), col("l_linenumber"),
        (lit(1L) + cuts.map(c =>
          when(col("l_extendedprice") > lit(c), 1L).otherwise(0L))
          .reduce(_ + _))
          .as("bucket"))
  }

  /** `scale_robust` — robust scaling of `events.value`:
    * `(x − median) / IQR`, the outlier-insensitive counterpart of
    * [[scaleFeatures]]'s z-score (median/IQR break down at 50%/25%
    * contamination vs the mean's 0%). Fit = one exact-percentile
    * aggregate (3 order statistics in a single pass); transform =
    * broadcast + project. Exact percentiles for the oracle; at 100 TB
    * the fit becomes `approx_percentile` and the transform is
    * unchanged.
    */
  def scaleRobust(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .filter(col("value").isNotNull)
    // r14: median/quartiles frequency-weighted over the counted
    // distinct values (see [[graft.ops.Transforms.outlierIqr]])
    val stats = Num.countedValues(ev, col("value"), 2).agg(
      expr("percentile(__v, 0.5, __cnt)").as("med"),
      (expr("percentile(__v, 0.75, __cnt)") -
        expr("percentile(__v, 0.25, __cnt)")).as("iqr"))
    ev.crossJoin(broadcast(stats))
      .select(col("event_id"),
        round((col("value") - col("med")) / col("iqr"), 6).as("value_robust"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projections (P1–P5), validation filters (F1–F6) and cleaning ops
  * (D1–D4) — the reference's 2016–2022 per-row transform surface,
  * re-expressed as declarative Column expressions so Catalyst gets
  * pushdown/pruning and whole-stage codegen for free.
  *
  * Reference behavior reproduced (see SURVEY.md §2.2–§2.4):
  *  - uppercase/cast/enrich: /root/reference/src/etl_2016.py:12-18,
  *    src/etl_2022.py:186-188
  *  - validate-and-split with reject reasons: src/etl_2018.py:14-36,
  *    src/etl_2020.py:36-62
  *  - IQR outliers: src/etl_2022.py:60-72
  *  - dedup + constant/mean imputation: src/etl_2022.py:178-183
  *  - row quality score: src/etl_2022.py:216
  *
  * Everything here is a narrow, codegen-friendly plan except the two
  * ops that need a global scalar (IQR bounds, mean imputation): those
  * compute a 1-row aggregate and broadcast it — the 100 TB-safe analog
  * of the reference computing them globally in pandas.
  */
object Transforms {
  import Num._

  // ---- S3: multi-file scan, projected + ordered ----------------------

  /** `src_scan` — parquet scan with column pruning; the projection
    * reaches the reader (ReadSchema has only 3 columns).
    */
  def srcScan(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")

  // ---- P1/P2/P4: projections -----------------------------------------

  /** `proj_upper` — P1, `upper(name)` (etl_2016.py:16). */
  def projUpper(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "customer")
      .select(col("c_custkey"), upper(col("c_name")).as("c_name_upper"))

  /** `proj_cast` — P2, int/decimal casts (etl_2016.py:33,
    * etl_2022.py:187). The decimal cast round-trips to double for the
    * output so the oracle compares a stable type.
    */
  def projCast(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("qty_int"),
        col("l_extendedprice").cast(DecimalType(12, 2)).cast(DoubleType)
          .as("price_dec"))

  /** `proj_datefmt` — P4, batch-id string from a timestamp
    * (etl_2022.py:217), derived from a data column for determinism.
    */
  def projDatefmt(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("batch_id"))

  /** `quality_score` — P5, per-row 1 − nulls/ncols (etl_2022.py:216). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val nullCnt = cols.map(c => when(col(c).isNull, 1).otherwise(0))
      .reduce(_ + _)
    Sources.table(s, dir, "events")
      .select(col("event_id"),
        (lit(1.0) - nullCnt.cast(DoubleType) / lit(6.0)).as("quality_score"))
  }

  // ---- F1–F5: validation split ---------------------------------------

  /** The combined F1–F4 validity predicate over `events` — required
    * fields present, non-blank type after trim, value in range; the
    * engine analog of DataValidator.validate_row (etl_2018.py:14-36).
    */
  val validEvent: Column =
    col("user_id").isNotNull && col("ts").isNotNull &&
      col("event_type").isNotNull && trim(col("event_type")) =!= "" &&
      col("value").isNotNull && col("value").between(0d, 300d)

  /** First-failing-check reject reason (etl_2018.py:34-36 logs one
    * reason per bad row).
    */
  val rejectReason: Column =
    when(col("user_id").isNull, "missing_user_id")
      .when(col("ts").isNull, "missing_ts")
      .when(col("event_type").isNull || trim(col("event_type")) === "",
        "blank_event_type")
      .when(col("value").isNull, "missing_value")
      .otherwise("value_out_of_range")

  /** `filter_valid` — rows passing the F1–F4 conjunction. */
  def filterValid(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .filter(validEvent)
      .select("event_id", "user_id", "event_type", "value")

  /** `filter_invalid` — F5, the rejected branch with reasons. */
  def filterInvalid(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .filter(!validEvent)
      .select(col("event_id"), rejectReason.as("reason"))

  /** `filter_like` — F4-style pattern predicate; pushed to the scan. */
  def filterLike(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "part")
      .filter(col("p_type").like("%AR%"))
      .select("p_partkey", "p_name", "p_type")

  /** `outlier_mad` — median-absolute-deviation outliers: flag events
    * more than `k` MADs from the median. The most robust of the
    * engine's three outlier rules ([[outlierIqr]] quartile-based,
    * `outlier_zscore` parametric): both center and spread are order
    * statistics, so a few extreme values cannot drag the cut line.
    * Two 1-row exact-percentile aggregates chained by broadcast (the
    * second needs the first's median), then the flagging scan — three
    * passes, no driver collect, same shape at any size (swap
    * `approx_percentile` in at 100 TB).
    */
  def outlierMad(s: SparkSession, dir: String, k: Double = 5.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ev = Sources.table(s, dir, "events")
    val med = ev.agg(percentile(col("value"), lit(0.5)).as("m"))
    val mad = ev.crossJoin(broadcast(med))
      .filter(col("value").isNotNull)
      .agg(percentile(abs(col("value") - col("m")), lit(0.5)).as("d"),
        max(col("m")).as("m"))
    ev.crossJoin(broadcast(mad))
      .filter(abs(col("value") - col("m")) > lit(k) * col("d"))
      .select(col("event_id"), col("value"),
        round((col("value") - col("m")) / col("d"), 4).as("mad_score"))
  }

  /** `outlier_iqr` — F6, exact Q1/Q3 (etl_2022.py:60-72). The bounds
    * are a 1-row aggregate broadcast into the scan — one extra pass,
    * no driver-side collect, scales to any row count.
    */
  def outlierIqr(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
    // r14: quartiles run frequency-weighted over the counted distinct
    // values (Num.countedValues) — the data pass is a codegen'd hash
    // count and the interpreted percentile sees |domain| rows, not n;
    // bit-identical by construction (same multiset)
    val bounds = Num.countedValues(ev, col("value"), 2).agg(
      expr("percentile(__v, 0.25, __cnt)").as("q1"),
      expr("percentile(__v, 0.75, __cnt)").as("q3"))
    ev.crossJoin(broadcast(bounds))
      .filter(col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
        col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
      .select("event_id", "value")
  }

  // ---- D1–D4: dedup + imputation ---------------------------------------

  /** `dedup_rows` — D1, dropDuplicates (etl_2022.py:178). A shuffle on
    * the full row hash — the only scale-correct exact dedup.
    */
  def dedupRows(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .select("user_id", "event_type")
      .dropDuplicates()

  /** `agg_dup_count` — D2, how many rows are duplicates
    * (etl_2022.py:56-58): Σ(group count − 1) over groups with >1 row.
    */
  def aggDupCount(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .groupBy("user_id", "event_type").count()
      .filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("dup_count"))

  /** `fillna_const` — D3, constant imputation (etl_2022.py:181-183). */
  def fillnaConst(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .select(col("event_id"),
        coalesce(col("event_type"), lit("UNKNOWN")).as("event_type_filled"),
        coalesce(col("props"), lit("{}")).as("props_filled"))

  /** `fillna_mean` — D4, mean imputation (etl_2022.py:182). The mean is
    * an exact decimal-sum mean (bit-identical across engines, see Num)
    * computed as a 1-row broadcast — never collected to the driver.
    */
  def fillnaMean(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
    val m = ev.agg(lavg(col("value"), 2).as("mean_value"))
    ev.crossJoin(broadcast(m))
      .select(col("event_id"),
        coalesce(col("value"), col("mean_value")).as("value_filled"))
  }

  /** `pii_mask` — rule-chain PII redaction: emails then long digit
    * runs, each replaced by a typed placeholder, with a per-row
    * redaction count for audit metrics. Pure per-row regex projection —
    * narrow, codegen'd, shuffle-free at any scale; rules compose by
    * nesting so one pass over the string column covers the whole
    * policy. The scrubbing analog of the reference's per-row cleaning
    * (etl_2022.py:186-188), applied to the masking problem every
    * training-data pipeline has.
    */
  def piiMask(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val idRe = "[0-9]{4,}"
    Sources.table(s, dir, "customer")
      .select(col("c_custkey"),
        regexp_replace(regexp_replace(col("c_name"), emailRe, "<EMAIL>"),
          idRe, "<ID>").as("masked_name"),
        expr(s"regexp_count(c_name, '$idRe')").cast(LongType)
          .as("n_redactions"))
  }

  /** `union_all` — U1, pd.concat analog (etl_2020.py:156-158):
    * unionByName of two disjoint slices, re-aggregated. unionByName is
    * schema-evolution-safe, matching `ignore_index=True` semantics.
    */
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.table(s, dir, "orders")
    val even = o.filter(col("o_orderkey") % 2 === 0)
    val odd = o.filter(col("o_orderkey") % 2 === 1)
    even.unionByName(odd)
      .groupBy("o_orderstatus")
      // r15: hi/lo long-unit sum (price exactly 2 dp; bit-identical
      // to the dsum it replaces) — three status groups concentrate
      // the whole table, the split accumulator's headroom case
      .agg(count(lit(1)).as("n_orders"),
        lsumWide(col("o_totalprice"), 2).as("total_price"))
      // rows in status order: hash-aggregate output order otherwise
      // follows the shuffle width (3 rows, so the sort is free)
      .orderBy("o_orderstatus")
  }

  /** `union_distinct` — U1's distinct-semantics counterpart (SQL
    * `UNION` vs `UNION ALL`): merge two OVERLAPPING event slices
    * (high-value events ∪ click events) into one deduplicated
    * (user_id, event_type) relation. Plans as union → hash-distinct:
    * one shuffle on the full row, with partial (map-side) distinct
    * ahead of the exchange — at 100 TB the shuffle carries only the
    * per-partition-unique pairs, not the raw slices.
    */
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
    val hi = ev.filter(col("value") >= 50.0).select("user_id", "event_type")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_type")
    hi.union(clicks).distinct()
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Replan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time/stream operators T1–T6 (SURVEY.md §2.10).
  *
  * The reference's streaming is an SQS-driven micro-batch loop
  * (/root/reference/src/etl_2025.py:233-263): poll → download →
  * process → load → archive, at-least-once, no windows or state.
  * Here that maps to Structured Streaming: a file source feeding the
  * same batch transforms through `foreachBatch`, plus the windowed
  * extensions (tumbling/sliding/session, watermarks) the reference
  * lacks.
  *
  * The two DECLARED queries are the deterministic batch equivalents
  * (streams aren't oracle-checkable); the streaming builders below
  * them are exercised by MemoryStream unit tests.
  */
object TimeOps {

  // ---- declared batch-equivalent queries ------------------------------

  /** `stream_tumbling` — T3 batch equivalent: hourly tumbling counts
    * via date_trunc. In a real stream this is
    * `groupBy(window($"ts","1 hour"), $"event_type")` with a
    * watermark (see [[tumblingCounts]]).
    */
  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .groupBy("hour_start", "event_type")
      .agg(count(lit(1)).as("n"))

  /** `window_sliding` — T4 batch equivalent: 2-hour windows sliding
    * every hour, so each event lands in exactly two windows. Uses the
    * SAME `window(ts, width, slide)` expression a stream would (see
    * [[slidingCounts]]) — in batch it plans as an Expand (one row per
    * covering window) into a hash aggregate, shuffle rows bounded by
    * windows × types, not events. Window origins align to the epoch,
    * matching the `date_trunc('hour', ts)` spine the oracle builds.
    */
  def windowSliding(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** `window_range` — time-based RANGE frame: per-user trailing-hour
    * event count and value sum. Unlike a ROWS frame (fixed row count),
    * the frame spans whatever rows fall in the last 3.6e9 µs — the
    * rolling-metric shape behind rate limiting and anomaly windows.
    * Spark's `rangeBetween` takes numeric bounds, so the ordering key
    * is `unix_micros(ts)` (the oracle orders by `epoch_us(ts)` —
    * identical µs longs). One exchange on user_id; frame evaluation is
    * a per-partition two-pointer sweep, never quadratic. Tied
    * timestamps are frame-peers (RANGE semantics), so the result is
    * deterministic without a tiebreak column.
    *
    * INPUT CONTRACT: the frame sum rides [[graft.ops.Num.lsumOver]]
    * at scale 4, so a `value` not exactly representable at 4 dp
    * RAISES rather than silently rounding (the decimal cast it
    * replaced rounded) — see [[graft.ops.Aggregates.aggSalted]] for
    * the full contract statement and the [[graft.ops.Num.dsum]]
    * escape for ingest-facing callers.
    */
  def windowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0L)
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        // r17: long-unit window sum (scale 4 — the old DECIMAL(18,4)
        // semantics; a >4-dp value raises instead of silently
        // rounding). Frames are per-user-hour — far inside the long
        // overflow bound. Bit-identical to the decimal spelling.
        Num.lsumOver(col("value"), 4, w).as("sum_last_hour"))
  }

  /** `funnel_steps` — ordered-step conversion funnel: of the users who
    * viewed, how many then clicked (strictly after their first view),
    * and then purchased (strictly after that click). One hash
    * aggregate computes each user's first-occurrence time per step
    * (conditional `min`, map-side combined — one row per user on the
    * shuffle), and the step predicates are a 1-row summary on top.
    * The classic product-analytics query, shaped so work scales with
    * users, never event count.
    */
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, unix_micros(col("ts")))).as(s"t_$t")
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("step_view"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"),
          1L).otherwise(0L)).as("step_click"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click"), 1L).otherwise(0L))
          .as("step_purchase"))
  }

  /** `sessionize` — T5 batch equivalent: 30-minute-gap sessions as
    * gaps-and-islands (lag + running sum of session starts). The
    * shuffle partitions by user_id — each user's timeline sorts
    * locally, so this scales with users, not with total rows.
    * Streaming analog: `session_window($"ts", "30 minutes")`.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val newSession = when(
      lag(col("ts"), 1).over(byUser).isNull ||
        col("ts") > lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTES"),
      1L).otherwise(0L)
    val runningSum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Sources.table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        newSession.as("new_sess"))
      .select(col("user_id"), col("event_id"),
        sum(col("new_sess")).over(runningSum).as("session_id"))
  }

  /** `window_ewma` — exponentially weighted moving average per user:
    * the final EWMA of each user's time-ordered values. EWMA is a
    * RECURSIVE statistic no single window function expresses, so the
    * plan collects each user's (time, id, value) sequence into one
    * sorted array (bounded by per-user activity — the same per-key
    * scaling as every sessionize-family op) and folds it with a
    * higher-order `aggregate`. The fold runs the identical double
    * sequence in both engines (DuckDB `list_reduce` seeds with the
    * first element; the CASE-NULL init mirrors that), so results are
    * bit-identical. Interpreted HOF is fine here: one lambda step per
    * event, not a pairwise loop.
    */
  def windowEwma(s: SparkSession, dir: String,
                 alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("id"),
          col("value").as("v")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("vs"))
      .select(col("user_id"),
        round(expr(
          s"aggregate(vs, CAST(NULL AS DOUBLE), (acc, x) -> " +
            s"CASE WHEN acc IS NULL THEN x.v ELSE $alpha * x.v + ${1 - alpha} * acc END)"),
          4).as("ewma"))
  }

  /** `window_median` — rolling exact median of `value` per user over
    * the trailing five events: the robust moving-center that MAD-style
    * monitoring plots where a rolling MEAN would chase single spikes.
    * `percentile(0.5)` as a window aggregate over a 5-row frame — an
    * imperative aggregate, so each frame re-sorts its buffer, but the
    * frame is constant-width: per-row cost is O(frame log frame),
    * total one exchange + one sort per user partition, same shape as
    * [[windowLag]]. Event-id tiebreak keeps frame contents (and so the
    * median) deterministic under equal timestamps. Linear
    * interpolation on even frames matches the oracle's
    * `quantile_cont`.
    */
  def windowMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(-4, 0)
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        round(percentile(col("value"), lit(0.5)).over(w), 4)
          .as("roll_median"))
  }

  /** `window_anomaly` — rolling z-score anomaly detection: events more
    * than `nSigma` sample deviations from their user's trailing-window
    * mean, the self-calibrating alert rule for per-key streams whose
    * baselines differ (a global cut like
    * [[graft.ops.TextSim.outlierZscore]] can't flag a spike that's
    * normal for one user and anomalous for another). Frame mean/std
    * come from exact decimal power sums over the trailing `frame` rows
    * (the [[graft.ops.Aggregates.aggCorr]] discipline applied to
    * window frames), so the cut line is bit-identical across engines;
    * warm-up rows (fewer than `minN` points) and zero-variance frames
    * are excluded, which both engines decide identically on exact
    * inputs.
    *
    * The frame sums are computed as CUMULATIVE decimal sums minus
    * their value `frame` rows back (`cum − lag(cum, frame)`), not as
    * per-row frame aggregates: Spark re-accumulates a moving frame
    * from scratch for every row (O(frame) per row — no segment tree),
    * while the cumulative form is O(1) per row and, being exact
    * decimal arithmetic throughout, produces bit-identical sums. At
    * the default frame=10 the two forms measure the same on this host
    * (per-row window machinery dominates a 10-element re-sum); the
    * cumulative form is kept because its cost is frame-INDEPENDENT —
    * a production trailing window of hundreds/thousands of rows pays
    * the same per-row cost, where the naive frame re-sum scales
    * linearly with the frame width. Both window stages share one
    * exchange on user_id and one sort (the order key is materialized
    * so the stages' orderings unify), the same scaling shape as
    * [[windowMedian]].
    */
  def windowAnomaly(s: SparkSession, dir: String, nSigma: Double = 2.0,
                    frame: Int = 10, minN: Int = 5): DataFrame = {
    require(nSigma > 0 && frame >= minN && minN >= 2,
      s"need nSigma>0, frame>=minN>=2; got $nSigma/$frame/$minN")
    // the sort key is materialized ONCE (`tsm`) so both window stages
    // order by the same attribute and the second stage reuses the
    // first's sort instead of re-sorting a re-projected expression
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("tsm"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = col("n").cast(DoubleType)
    val variance = (col("sxx") - col("sx") * col("sx") / n) / (n - 1)
    // r14: the cumulative sums run as LONG UNIT sums ([[Num.units]] —
    // value exactly 2 dp → cents; v² exact in integer unit space at
    // scale 4) instead of DECIMAL(28,x) accumulators whose every
    // window-frame add went through BigDecimal. Bit-identical output
    // (same exact rationals → same closing double casts; A/B'd
    // row-for-row at sf0.1), measured 0.31 → 0.23 s warm. Overflow:
    // ANSI long sums THROW loudly; headroom is VALUE-dependent —
    // per-row v² units are (100·v)², so rows-per-user before 2^63 ≈
    // 2^63 / (100·v_max)². The events fixture bounds value ≤ ~300
    // (v² units ≤ 9e8/row → headroom past 10^10 rows per user); at
    // v_max ~1e4 the bound is ~9e6 rows per user. Beyond that the
    // sum fails loudly — return to the decimal spelling.
    def trailingU(cum: Column, scale: Int): Column =
      Num.fromUnits(cum - coalesce(lag(cum, frame).over(wOrd), lit(0L)),
        scale)
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsm"), col("value"),
        Num.units(col("value"), 2).as("vu"))
      .select(col("user_id"), col("event_id"), col("tsm"), col("value"),
        row_number().over(wOrd).as("rn"),
        sum(col("vu")).over(wCum).as("cx"),
        sum(col("vu") * col("vu")).over(wCum).as("cxx"))
      .select(col("user_id"), col("event_id"), col("value"),
        least(col("rn"), lit(frame)).cast(LongType).as("n"),
        trailingU(col("cx"), 2).as("sx"),
        trailingU(col("cxx"), 4).as("sxx"))
      .withColumn("v", variance)
      .filter(col("n") >= minN && col("v") > 0)
      .withColumn("roll_z",
        round((col("value") - col("sx") / n) / sqrt(col("v")), 4))
      .filter(abs(col("roll_z")) > nSigma)
      .select("user_id", "event_id", "value", "roll_z")
  }

  /** `dedup_time_window` — time-bounded deduplication: keep the FIRST
    * event per (user, type) within each hour — the batch shape of
    * retry/duplicate suppression (the streaming twin is
    * [[dedupWithinWatermark]], whose state watermarking bounds the
    * same window).
    *
    * Plan (r8, tightened r13): "first event" is `min` over the packed
    * decimal `ts_µs·2⁶² + event_id` ([[graft.ops.Num.packAsc]]) —
    * lexicographic (ts, id) order as ONE fixed-width DECIMAL(38,0)
    * value. The r8 form aggregated `min(struct(ts_µs, event_id))`,
    * which Spark can only run as a SortAggregate: both partials
    * sorted their full input by the group keys, i.e. the fact table
    * got sorted after all (the r8 note claimed otherwise; the plan
    * said SortAggregate). A decimal min is an ordinary
    * hash-aggregate buffer, so the cut now truly is
    * map-side-combined HashAggregate → one keyed exchange, no sort
    * anywhere but the presentation ORDER BY. Packing preconditions
    * are ENFORCED, not assumed (the code-review gap this closes):
    * a pre-1970 timestamp (negative µs would break the modulus
    * recovery) and an id outside [0, 2⁶²) both `raise_error`.
    * Aggregate state is one 16-byte decimal per (user, type, hour)
    * — bounded by group count at any scale.
    */
  def dedupTimeWindow(s: SparkSession, dir: String): DataFrame = {
    val tsDec = expr("CAST(IF(unix_micros(ts) < 0, raise_error(" +
      "CONCAT('dedup_time_window: pre-1970 ts not packable: ', " +
      "CAST(ts AS STRING))), unix_micros(ts)) AS DECIMAL(18,0))")
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"),
        graft.ops.Num.packAsc(tsDec, col("event_id"),
          "dedup_time_window").as("ev"))
      .groupBy("user_id", "event_type", "hour_start")
      .agg(min(col("ev")).as("first_ev"))
      .select(col("user_id"), col("event_type"), col("hour_start"),
        graft.ops.Num.unpackIdAsc(col("first_ev")).as("event_id"))
  }

  /** `session_native` — the NATIVE `session_window` operator in batch
    * mode: per-user 30-minute-gap sessions with start time and event
    * count, the same expression a stream would use (see
    * [[sessionCounts]]). Spark plans it as a dedicated session-window
    * aggregate — one shuffle on the user key, sessions merged within
    * partitions; work scales with per-user rows. Session semantics are
    * STRICT (a gap of exactly the duration starts a new session), and
    * the oracle's islands formulation mirrors that with `>=`.
    * Complements [[sessionize]], which builds the same sessions from
    * window functions (ids per event rather than one row per session).
    */
  def sessionNative(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"))

  /** `window_fill` — forward-fill imputation: each null `value` takes
    * the most recent non-null value of the same user (`last` with
    * ignoreNulls over a running frame) — the time-series counterpart
    * of [[Transforms.fillnaMean]]'s global imputation. One exchange on
    * the user key; leading nulls stay null (no lookahead), which the
    * oracle's IGNORE NULLS window mirrors exactly.
    */
  def windowFill(s: SparkSession, dir: String): DataFrame = {
    val run = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        last(col("value"), ignoreNulls = true).over(run).as("value_filled"))
  }

  /** `session_stats` — per-session rollup on top of the [[sessionize]]
    * formulation: event count, first event, and µs-exact duration per
    * (user, session). The composition a funnel/engagement dashboard
    * actually consumes — sessionize assigns ids, this aggregates them;
    * one window pass + one hash aggregate, both keyed on the user so
    * work scales with per-user rows.
    */
  def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val newSession = when(
      lag(col("ts"), 1).over(byUser).isNull ||
        col("ts") > lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTES"),
      1L).otherwise(0L)
    val runningSum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Sources.table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        newSession.as("new_sess"))
      .select(col("user_id"), col("event_id"), col("ts"),
        sum(col("new_sess")).over(runningSum).as("session_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
  }

  /** `time_resample` — regularize an event stream onto a fixed hourly
    * grid with zero-filled gaps: the resampling/gap-filling step every
    * time-series consumer needs before windowed models or charting
    * (an aggregated series with silently missing buckets reads as
    * "no data" not "zero"). The hour spine is generated from the
    * observed [min, max] bounds — `sequence()` on a 1-row aggregate,
    * exploded and left-joined to the hourly counts. The spine's length
    * is the calendar span in hours (bounded, never row count); the
    * counts side is the same one-shuffle aggregate as
    * [[streamTumbling]].
    */
  def timeResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hour_start"))
      .filter(col("hour_start").isNotNull)
    val counts = ev.groupBy("hour_start").agg(count(lit(1)).as("n_raw"))
    val spine = ev.agg(min(col("hour_start")).as("lo"),
        max(col("hour_start")).as("hi"))
      .select(explode(expr(
        "sequence(lo, hi, INTERVAL 1 HOUR)")).as("hour_start"))
    spine.join(counts, Seq("hour_start"), "left")
      .select(col("hour_start"),
        coalesce(col("n_raw"), lit(0L)).as("n"))
  }

  /** `window_lag` — consecutive-event deltas per user: `lag`/`lead`
    * over the per-user timeline, emitting the gap in seconds and the
    * value change between successive events (the feature-engineering
    * staple for session analytics and anomaly detection). One hash
    * exchange on the user key; per-user sort, scales with per-key
    * rows. The gap is exact integer MICROseconds (`unix_micros` here,
    * `epoch_us` in the oracle — both truncate the parquet ns
    * timestamps identically; a seconds cast would floor in Spark and
    * round in DuckDB), and the window orders by the µs value so both
    * engines sequence sub-second neighbors the same way.
    */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        lag(unix_micros(col("ts")), 1).over(w).as("prev_us"),
        lag(col("value"), 1).over(w).as("prev_value"))
      .select(col("user_id"), col("event_id"),
        (col("ts_us") - col("prev_us")).as("gap_us"),
        round(col("value") - col("prev_value"), 4).as("value_delta"))
  }

  /** `gap_stats` — per-user inter-event-gap profile: the grouped
    * reduction of [[windowLag]]'s per-row deltas (event count, min /
    * mean / max gap in exact integer µs). Plan: ONE hash exchange on
    * the user key feeds both the lag window and the re-aggregation —
    * the groupBy key equals the window partition key, so Catalyst
    * reuses the partitioning and no second shuffle appears. The mean
    * is exact INTEGER µs (floor of Σgap/n): a double quotient at 1e10
    * µs magnitude has ~4e-6 ulp, so `round(x, 4)` sits on half-way
    * grid points where Spark's BigDecimal HALF_UP and the oracle's
    * float rounding disagree — integer division sidesteps the lattice
    * entirely.
    */
  def gapStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Sources.table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        expr("sum(gap_us) div count(gap_us)").as("avg_gap_us"))
      .filter(col("n_events") >= 2)
  }

  // ---- streaming builders (T1–T6, unit-tested via MemoryStream) -------

  /** T1 — event-driven file ingestion: the engine analog of the SQS
    * poll loop (etl_2025.py:233-263). New files in `dir` become
    * micro-batches; `cleanSource archive` replaces the manual move to
    * `processed/` (etl_2025.py:255-257).
    *
    * `maxFilesPerTrigger` bounds how many NEW files one micro-batch
    * consumes — the throughput/latency knob for a drop directory.
    * MEASURED (SCALE.md, "Streaming over a real file-source drop
    * directory": real file source, 1,000 small files / 100k rows,
    * catch-up regime = whole backlog on disk before the query starts,
    * the only regime where the cap binds): wall grows with the batch
    * count, not the rows — ≈ 12.5 s + 0.26 s × batches at 4 cores
    * (cap 25 → 40 batches, 1.9× the uncapped run), ≈ 9.5 s + 1.2 s ×
    * batches at 32 cores (5.4×). The per-BATCH fixed cost (listing +
    * checkpoint commit + archive moves) is near-independent of batch
    * size, so small caps multiply it ~linearly. In the STEADY-DRIP
    * regime (files landing while the query runs) batch size tracks
    * the arrival rate and the cap barely binds (374 batches for 1,000
    * files uncapped at 4 cores). RECOMMENDATION: leave it None
    * (consume everything available — the default, lowest cost per
    * row) unless a single catch-up batch would exceed executor memory
    * or downstream latency SLOs; then size the cap so a batch still
    * carries several seconds of data-side work (≥ 100 small files per
    * trigger at this fixture's shape), and pair it with a
    * processing-time trigger no shorter than the measured fixed cost
    * (e.g. `Trigger.ProcessingTime("5 seconds")`) so the query never
    * spins paying fixed cost on empty or tiny batches.
    */
  def fileStream(s: SparkSession, dir: String, schema: StructType,
                 archiveDir: Option[String] = None,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = s.readStream.schema(schema)
    val withClean = archiveDir match {
      case Some(a) => r.option("cleanSource", "archive")
        .option("sourceArchiveDir", a)
      case None => r
    }
    val withCap = maxFilesPerTrigger match {
      case Some(m) => withClean.option("maxFilesPerTrigger", m)
      case None => withClean
    }
    withCap.parquet(dir)
  }

  /** T3 — tumbling-window counts with a watermark. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** T4 — sliding-window counts. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** T5 — native session windows (30-minute gap). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n"))

  /** Watermarked stream-stream interval join: match each left event to
    * right events of the same key arriving within `maxDelay` AFTER it
    * (the click→conversion attribution shape). Both sides carry a
    * watermark and the join condition bounds the event-time range, so
    * Spark can evict buffered state once the watermark passes — state
    * is bounded by (rate × maxDelay), not stream length; without the
    * time bound a stream-stream join must buffer forever. Inner join:
    * unmatched rows drop (outer variants emit on watermark expiry).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String = "user_id",
                       maxDelay: String = "1 hour",
                       watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    l.join(r, col("l_key") === col("r_key") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"))
      .select(col("l_key").as(key), col("l_id"), col("r_id"),
        col("l_ts"), col("r_ts"))
  }

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension table — the streaming analog of `join_dim` and the
    * standard lookup shape (event stream ⋈ user/product dim). The
    * static side is explicitly `broadcast()`: the stream side is
    * unbounded, so it must never shuffle for a bounded dim; each
    * micro-batch is then a map-side hash probe. The static plan is
    * re-evaluated per micro-batch, so a dim backed by a mutable source
    * (parquet dir, Delta-style table) picks up updates between
    * batches without restarting the query.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq(key), "left")

  /** T6 — at-least-once upgrade: drop duplicate event ids within the
    * watermark (the reference has no dedup at all — etl_2025.py
    * re-processes on redelivery).
    */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** One event for stateful sessionization (typed path). */
  case class SessionEvent(event_id: Long, ts: java.sql.Timestamp,
                          user_id: Long)

  /** Mutable per-user session state carried across micro-batches. */
  case class SessionState(sessionId: Long, lastTsMs: Long)

  case class SessionizedEvent(user_id: Long, event_id: Long,
                              session_id: Long)

  /** T5, streaming-native: per-user sessionization with CUSTOM state
    * via flatMapGroupsWithState — the KeyValueGroupedDataset path for
    * semantics `session_window` can't express (monotone session ids
    * that persist across micro-batches). State is one (sessionId,
    * lastTs) pair per user — bounded by user count, not event count.
    * Batch equivalent: [[sessionize]] (lag + running sum).
    */
  def statefulSessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                         gapMs: Long = 30L * 60 * 1000)
      : org.apache.spark.sql.Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          // a micro-batch's group fits in memory (bounded by per-user
          // batch volume); sort for deterministic session assignment
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = sorted.map { e =>
            val t = e.ts.getTime
            val isNew = st.lastTsMs == Long.MinValue || t - st.lastTsMs > gapMs
            st = SessionState(if (isNew) st.sessionId + 1 else st.sessionId, t)
            SessionizedEvent(uid, e.event_id, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }

  /** T2 — micro-batch sink: foreachBatch running an arbitrary batch
    * transform, idempotent per batchId (the engine analog of the
    * transactional batch insert at etl_2025.py:144-156). Parquet's
    * atomic commit protocol replaces the SQL transaction.
    *
    * Each batch is transformed and written on the session that started
    * the stream (`df.sparkSession`, through [[Replan.onto]]: no job),
    * not on the clone the query runs on. Spark keys its codegen cache
    * by the session's class loader as well as the source, and a query
    * clones its session at every start, so batch writes on the clone
    * compiled their classes again on every start.
    */
  def foreachBatchSink(df: DataFrame, outDir: String, checkpoint: String)(
      transform: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val owner = df.sparkSession
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(Replan.onto(owner, batch))
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId"): Unit
      }
  }
}

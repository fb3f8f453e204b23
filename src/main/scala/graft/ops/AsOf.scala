package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of (temporal point-in-time) join — match each probe row to the
  * most recent build row with the same key and time ≤ the probe time.
  * The canonical enrichment step for event/feature pipelines ("state of
  * the dimension as of this event"), and an operator Spark has no
  * built-in for.
  *
  * Implementation is the scale-out sort-merge formulation, NOT a range
  * join: tag both inputs, union them, and run one `last(_, ignoreNulls)`
  * window over (key, time). Cost at any scale is a single hash
  * exchange on the key plus a per-partition sort — the same shuffle a
  * plain equi-join would pay — while the naive range-join formulation
  * (`p.key = b.key AND b.t <= p.t` + max per probe row) degenerates to
  * O(|probe|·|build|) pair work per key. No custom Catalyst operator is
  * needed: the union+window plan is declarative, AQE-visible, and
  * whole-stage-codegen'd either side of the window.
  *
  * Reference analog: none (the reference never joins); this is part of
  * the training-data-pipeline extension surface, same tier as the
  * dedup/similarity ops.
  */
object AsOf {

  /** Generic as-of join.
    *
    * Returns all `probe` columns plus `build`'s payload columns (every
    * build column except `buildKey`/`buildTime`), taken from the build
    * row with the greatest `buildTime` ≤ the probe row's `probeTime`
    * within the same key (inclusive match, i.e. `>=` semantics — the
    * DuckDB/kdb default). Probe rows with no qualifying build row (no
    * such key, earlier than every build time, or a NULL key/time) keep
    * NULL payloads — LEFT as-of semantics.
    *
    * Determinism: if several build rows share the same (key, time), the
    * lexicographically greatest payload struct wins (explicit tie-break
    * in the window sort, so repeated runs agree). Callers that need a
    * specific tie rule should pre-aggregate the build side to one row
    * per (key, time), as [[asofEventsOrders]] does.
    */
  def asofJoin(probe: DataFrame, probeKey: String, probeTime: String,
               build: DataFrame, buildKey: String, buildTime: String,
               tolerance: Option[String] = None): DataFrame = {
    val payloadCols = build.columns.filterNot(c => c == buildKey || c == buildTime).toSeq
    require(payloadCols.nonEmpty,
      s"build side needs at least one payload column besides $buildKey/$buildTime")
    val collisions = payloadCols.intersect(probe.columns.toSeq)
    require(collisions.isEmpty,
      s"payload columns collide with probe columns: ${collisions.mkString(", ")}")

    val probeStruct = struct(probe.columns.toSeq.map(col): _*)
    val payloadStruct = struct(payloadCols.map(col): _*)
    val probeType = probe.select(probeStruct.as("p")).schema("p").dataType
    val payloadType = build.select(payloadStruct.as("p")).schema("p").dataType

    // Both time columns cast to µs TimestampType so TZ/NTZ inputs (e.g.
    // events.ts vs orders.o_orderdate) order on one axis; the session
    // runs UTC so the cast is value-preserving.
    val probeSide = probe.select(
      col(probeKey).as("_k"), col(probeTime).cast(TimestampType).as("_t"),
      lit(1).as("_side"), probeStruct.as("_probe"),
      lit(null).cast(payloadType).as("_payload"))
    val buildSide = build.select(
      col(buildKey).as("_k"), col(buildTime).cast(TimestampType).as("_t"),
      lit(0).as("_side"), lit(null).cast(probeType).as("_probe"),
      payloadStruct.as("_payload"))

    // Sort: time, then side (build=0 before probe=1, so a build row AT
    // the probe time is matched — inclusive semantics), then payload
    // (deterministic winner among equal-time build rows). NULL probe
    // times sort first, i.e. before every build row → NULL match,
    // agreeing with SQL's NULL-comparison no-match.
    val w = Window.partitionBy("_k")
      .orderBy(col("_t").asc_nulls_first, col("_side"),
        col("_payload").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Tolerance (kdb-style): a match older than `tolerance` before the
    // probe time is discarded. The most-recent build TIME rides along
    // with the payload so staleness is checked after the window — one
    // extra comparison, no extra shuffle.
    // Both window functions in ONE select → a single Window operator
    // (chained withColumn would plan two passes over the sorted run).
    val matched = probeSide.unionByName(buildSide)
      .select(col("*"),
        last(col("_payload"), ignoreNulls = true).over(w).as("_match"),
        last(when(col("_side") === 0, col("_t")), ignoreNulls = true)
          .over(w).as("_match_t"))
      .filter(col("_side") === 1)
    val bounded = tolerance match {
      case Some(tol) => matched.withColumn("_match",
        when(col("_match_t") >= col("_t") - expr(s"INTERVAL $tol"),
          col("_match")))
      case None => matched
    }
    bounded.select(probe.columns.toSeq.map(c => col(s"_probe.$c").as(c)) ++
      payloadCols.map(c => col(s"_match.$c").as(c)): _*)
  }

  /** `asof_join` — the declared query: each event matched to the user's
    * most recent order at or before the event time. The build side is
    * pre-aggregated to one row per (customer, order date) — max order
    * key — so tie handling is explicit and the oracle (DuckDB
    * `ASOF LEFT JOIN`) makes the same choice. Unmatched events surface
    * as -1, never dropped (LEFT semantics).
    */
  def asofEventsOrders(s: SparkSession, dir: String): DataFrame = {
    val latestPerDay = Sources.table(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val events = Sources.table(s, dir, "events")
      .select("event_id", "ts", "user_id")
    asofJoin(events, "user_id", "ts", latestPerDay, "o_custkey", "o_orderdate")
      .select(col("event_id"), col("user_id"),
        coalesce(col("o_orderkey"), lit(-1L)).as("last_orderkey"))
  }

  /** `asof_tolerance` — the bounded variant: same event→order match, but
    * a match more than 30 days before the event is considered stale and
    * dropped (kdb `aj` tolerance / pandas `merge_asof(tolerance=)`).
    * Same single-shuffle plan; the bound is one post-window comparison.
    */
  def asofEventsOrdersTolerance(s: SparkSession, dir: String): DataFrame = {
    val latestPerDay = Sources.table(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val events = Sources.table(s, dir, "events")
      .select("event_id", "ts", "user_id")
    asofJoin(events, "user_id", "ts", latestPerDay, "o_custkey", "o_orderdate",
        tolerance = Some("30 DAYS"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("o_orderkey"), lit(-1L)).as("last_orderkey"))
  }
}

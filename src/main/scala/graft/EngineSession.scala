package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session: Verify, Bench, ExplainDump and the tests
  * build it here, so the checked plans are the timed plans. */
object EngineSession {

  /** The session's SQL confs. Two deliberate deviations from Spark's
    * defaults, both measured at sf0.1 (see README "Bench recipe" +
    * SCALE.md):
    *  - AQE off: its per-exchange materialize-and-replan cycle buys
    *    nothing at this scale (fixed partitions, sub-second stages)
    *    and costs driver latency on every shuffle.
    *    58.6 s -> 38.0 s on the full 147-query pass. The oracle passes
    *    under these static plans and under AQE on alike (CHANGES.md).
    *  - 8 shuffle partitions: the static equivalent of what AQE
    *    coalescing picks for a few-MB shuffle (32 tasks of <25k rows
    *    each pay more per-task launch than they win in parallelism;
    *    scans still split by file). 38.0 s -> 32.4 s. A production
    *    deployment sizes this to data volume — that sizing IS the
    *    knob, not a bench trick. r6 swept the neighborhood under one
    *    load window: 4 -> 30.5 s, 8 -> 31.1 s, 16 -> 32.5 s; the
    *    r12 re-sweep under noop forcing (full materialization)
    *    confirmed the shape: 8 -> 51.4 oracle-subset (min-of-3),
    *    single passes 16 -> 63.2, 32 -> 81.3. 8 stays.
    *    r22 re-audit of the static 8 at the sf1 rung (heavy-subset
    *    min-of-pairs, 32 cores): parts=8 total 196.1 s, parts=32
    *    144.0 (sim_knn_bucketed_full 1.76x BUT
    *    dedup_ngram/dedup_survivor 0.44x — their surviving pair sets
    *    are small and 32-wide shuffles are pure overhead), AQE+32
    *    154.2 (re-planning latency on every exchange). No
    *    session-wide constant wins both regimes, so the width fix
    *    lives in the OPERATOR that needs it, every rule in
    *    [[graft.ops.ShuffleWidth]] (fewKeySaltedJoin widens its
    *    salted exchange to max(conf, cores); the CC loop, the k-means
    *    train and the eager pipelines narrow under the conf) and the
    *    session default stays 8 — best observed on everything else at BOTH
    *    rungs, and the committed numbers stay methodology-identical
    *    across rounds.
    *  - UTC: events.ts loads as TIMESTAMP_NTZ on the µs fixtures and
    *    the cast to TimestampType is session-timezone-dependent — an
    *    unpinned session on a non-UTC host would compute DIFFERENT row
    *    sets. */
  private val confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** `SPARK_GRAFT_CONF`'s overrides of [[confs]] for A/B runs:
    * `k=v` entries split on `;`, empty entries skipped. An entry that
    * is not `k=v` throws, naming it: a typo must not silently run the
    * default confs. */
  def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0 && kv.take(i).trim.nonEmpty,
        s"SPARK_GRAFT_CONF entry `$kv` is not key=value")
      (kv.take(i).trim, kv.drop(i + 1).trim)
    }

  /** `local[cores]`, UI off, [[confs]], `SPARK_GRAFT_CONF`; WARN logs. */
  def build(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    (confs ++ sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConfs))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

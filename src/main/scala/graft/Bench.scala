package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    run(session(sfDir), sfDir)
  }

  /** The bench session — [[EngineSession]], fixture schema check,
    * table warm-up. [[run]] installs the engine's one [[MetricsListener]] on it and
    * records every query's [[Layers]] from that listener's counters. */
  def session(sfDir: String): SparkSession = {
    val spark = EngineSession.build(EngineSession.cpus)
    // fail fast with one clear message on fixture schema drift
    // (r10: 51 queries failed individually on a regenerated events.ts)
    graft.ops.Sources.assertFixtureSchemas(spark, sfDir)
    // warmup: absorb executor init + first-job codegen + the one-time
    // listing/schema read of EVERY table (Sources.table caches the
    // relation per session) so none of it is charged to whichever
    // query happens to touch a table first. Never fatal.
    graft.ops.Sources.declaredTables.keys.foreach { t =>
      try { graft.ops.Sources.table(spark, sfDir, t).count(): Unit }
      catch { case _: Throwable => () }
    }
    spark
  }

  /** One timed sample of one query, split at the end of the build:
    *  - `build`: the query builder, including any eager helper jobs it
    *    runs (checkpoints, collected brackets and order statistics);
    *  - `exec`: the noop write — optimization, planning, codegen,
    *    scheduling and the tasks.
    * Jobs and ms are per window; Catalyst ms, codegen compiles and
    * compile ms, stages, tasks and the tasks' summed run, deserialize,
    * scheduler-delay and GC ms cover both. Counts come from the
    * listener's counter deltas ([[Metrics.measure]]); its drains sit
    * outside the timed spans.
    */
  final case class Layers(buildMs: Double, execMs: Double,
                          buildJobs: Long, execJobs: Long, catalystMs: Long,
                          codegenCompiles: Long, codegenMs: Long,
                          stages: Long, tasks: Long, taskRunMs: Long,
                          taskDeserializeMs: Long, schedulerDelayMs: Long,
                          gcMs: Long) {
    def seconds: Double = (buildMs + execMs) / 1e3
    def json: String = {
      def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      s"""{"buildMs":${ms(buildMs)},"execMs":${ms(execMs)},""" +
        s""""buildJobs":$buildJobs,"execJobs":$execJobs,"catalystMs":$catalystMs,""" +
        s""""codegenCompiles":$codegenCompiles,"codegenMs":$codegenMs,""" +
        s""""stages":$stages,"tasks":$tasks,"taskRunMs":$taskRunMs,""" +
        s""""taskDeserializeMs":$taskDeserializeMs,""" +
        s""""schedulerDelayMs":$schedulerDelayMs,"gcMs":$gcMs}"""
    }
  }

  /** Build and run one query once, on a session carrying `listener`.
    * Forced through the noop SINK, never count(): count() lets the
    * optimizer prune every column the count doesn't need, so a query
    * ending in an aggregation or projection was timed WITHOUT its
    * computed columns — measured at sf0.1 warm: agg_group 0.29 s
    * counted vs 1.07 s materialized (the decimal sums were never
    * computed), dedup_simhash 0.40 vs 1.32 (the signature aggregate
    * was dropped). The DuckDB baseline fetches full results, so
    * count() timing was systematically charitable to Spark (r12
    * fix — totals before/after are NOT comparable; BASELINE.md
    * re-paired both engines in one window on the new rule). noop
    * materializes every column executor-side with no sink cost.
    */
  def sample(spark: SparkSession, sfDir: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             listener: MetricsListener): Layers = {
    val (df, buildMs, b) = Metrics.measure(spark, listener)(fn(spark, sfDir))
    // the built frame never runs an action of its own, so its analysis
    // never reaches the listener: read its tracker directly
    val buildCatalyst = Metrics.catalystMs(df.queryExecution)
    val (_, execMs, e) = Metrics.measure(spark, listener)(
      df.write.format("noop").mode("overwrite").save())
    def both(k: String): Long = (b.getOrElse(k, 0.0) + e.getOrElse(k, 0.0)).round
    Layers(buildMs, execMs, b.getOrElse("jobs_total", 0.0).round,
      e.getOrElse("jobs_total", 0.0).round,
      buildCatalyst + both("catalyst_ms_sum"), both("codegen_compiles_total"),
      both("codegen_ms_sum"), both("stages_total"),
      both("tasks_total"), both("task_run_ms_sum"),
      both("task_deserialize_ms_sum"), both("task_scheduler_delay_ms_sum"),
      both("task_gc_ms_sum"))
  }

  private def run(spark: SparkSession, sfDir: String): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // optional comma-separated subset for focused profiling runs
    // (SPARK_GRAFT_ONLY=dedup_ngram,doc_fingerprint); default = all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Every raw sample, in execution order, per query — the r7 driver
    // pass produced two outliers (map_funcs 1.93 s, text_repetition
    // 1.61 s) on unchanged-or-improved plans, and the min-only record
    // left no evidence to tell host load from a real regression. The
    // full sample log goes to BENCH_LOCAL.json.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var failed = Set.empty[String]
    // A query that throws on ANY sample is excluded from every
    // aggregate (total, oracle_subset, per-query map) and listed
    // under "failed" in both the stdout line and the JSON artifact:
    // folding a failure's near-zero elapsed time into the totals
    // would make a correctness regression read as a speedup (r7
    // ADVICE — the r6 fix only appended a count while still summing
    // the broken timing). r8 ADVICE tightened this further: a FLAKY
    // query (one sample throws, another succeeds) used to sneak its
    // successful min into the totals while also appearing in
    // "failed" — now membership in `failed` removes the query from
    // `results` outright, so the exclusion invariant is exact.
    val listener = Metrics.install(spark)
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Layers] =
      try {
        val l = sample(spark, sfDir, fn, listener)
        samples(name) = samples(name) :+ l.seconds
        Some(l)
      } catch { case _: Throwable => failed += name; None }
    // Per-query seconds: min over a BACK-TO-BACK pair of executions
    // (default runs=2), then a SECOND back-to-back pair, minutes
    // later, for any query whose first pair still reads > 0.35 s.
    // Nothing is cached between executions (the full plan re-runs);
    // the in-pair re-run sheds first-run Janino codegen compile
    // (cached by generated-source key) and first-run JIT — pairs must
    // stay adjacent, because by the time a full sweep returns to a
    // query its generated methods have fallen out of the JIT's hot
    // set (an r7 experiment that spread ALL samples across whole-
    // suite sweeps inflated every query ~25-50%: dedup_ngram 1.08 →
    // 1.70 s with identical plans). Adjacency is also the weakness:
    // a host-load window of a few seconds contaminates both samples
    // of whichever query it lands on (r6 driver pass: dedup_cluster
    // 4.08 s vs 1.78 s steady; join_anti 0.87 vs 0.34). Mitigations,
    // layered after the r7 pass showed a spike surviving four samples
    // across two windows:
    //  1. the second-pair queue runs in a SHUFFLED order (seeded from
    //     wall clock), so a load window during the re-pair phase
    //     cannot hit the same queries the sweep-phase window hit, nor
    //     the same ones it hit last round;
    //  2. any query still > 0.6 s after two pairs gets a THIRD pair
    //     in a later window (a handful of genuinely-slow queries
    //     confirm their reading; a doubly-contaminated one finally
    //     gets a clean window);
    //  3. every raw sample is written to BENCH_LOCAL.json, so an
    //     outlier in the report is attributable post hoc (flat
    //     samples = real; one clean sample = the min already took it;
    //     all spiked across three windows = host story untenable).
    // Steady-state latency is the scale-relevant quantity.
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // the kept sample's layers ride along with its seconds
    val best = scala.collection.mutable.Map.empty[String, Layers]
    def pairMin(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      (1 to math.max(1, runs)).flatMap(_ => once(name, fn)).minByOption(_.seconds)
        .foreach { l =>
          if (best.get(name).forall(_.seconds > l.seconds)) best(name) = l }
    for ((name, fn) <- qlist) pairMin(name, fn)
    // Seed is logged (stdout + artifact) so a run's re-pair execution
    // order — exactly what the per-sample forensics attribute spikes
    // to — is reproducible post hoc (r8 ADVICE).
    val reorderSeed = System.nanoTime()
    println(s"bench: re-pair shuffle seed = $reorderSeed")
    val reorder = new scala.util.Random(reorderSeed)
    if (runs >= 2) {
      for ((name, fn) <- reorder.shuffle(qlist)
           if best.get(name).exists(_.seconds > 0.35)) pairMin(name, fn)
      // third window for anything still slow: cheap (few queries),
      // and it is exactly the evidence the r7 outliers lacked
      for ((name, fn) <- reorder.shuffle(qlist)
           if best.get(name).exists(_.seconds > 0.6)) pairMin(name, fn)
    }
    val results = qlist.flatMap { case (name, _) =>
      if (failed(name)) None else best.get(name).map(name -> _.seconds) }
    // The driver parses the JSON line out of a bounded tail of this
    // process's stdout (last ~2000 chars): r03/r04 went ungraded
    // because full-precision doubles for 85 queries pushed the line
    // past that window, and at 99 queries even minimal formatting
    // cannot fit every name (the names alone are ~1.2k chars). So the
    // stdout line carries the exact total plus the SLOWEST queries up
    // to a fixed character budget (the ones any perf comparison
    // cares about) and an "omitted" count for the fast remainder,
    // while the complete full-precision map goes to BENCH_LOCAL.json
    // in the working directory for offline reading.
    // Explicit Locale.ROOT everywhere a number reaches JSON: under a
    // comma-decimal default locale f"" would emit "0,275" and corrupt
    // the artifact (r8 ADVICE).
    def num(pat: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pat, Double.box(v))
    def fmt(v: Double): String =
      if (v >= 10) num("%.1f", v) else if (v >= 1) num("%.2f", v) else num("%.3f", v)
    val total = results.map(_._2).sum
    // BASELINE.md's DuckDB totals cover only the oracle-matched
    // queries (rows-only ones have no SQL to time), so the line also
    // carries the matched-subset total — the number directly
    // comparable to the baseline at the same SF
    val oracleTotal = results
      .filter { case (k, _) => SparkEntry.oracleSql.contains(k) }
      .map(_._2).sum
    val failures = failed.toSeq.sorted
    val failJson = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Output-path split (r8 VERDICT #2): the committed steady-state
    // artifact BENCH_LOCAL.json backs BASELINE.md and must only be
    // written DELIBERATELY — the r8 driver pass overwrote it in place
    // and the overwrite got committed, unbacking the baseline table.
    // Default now goes to BENCH_RUN.json (gitignored); producing the
    // committed artifact requires SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL
    // .json explicitly (README "bench recipe"). Subset profiling runs
    // (SPARK_GRAFT_ONLY) keep their own file so a filtered run can
    // never masquerade as a full one (r7 ADVICE).
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "BENCH_RUN.json" else "BENCH_PROFILE.json")
    // "oracle" records the oracle-matched key set so tools/
    // bench_merge.py can recompute oracle_subset exactly when merging
    // passes into the committed steady-state artifact (r9 ADVICE:
    // BENCH_LOCAL.json's producer must be a checked-in script).
    val oracleJson = results.map(_._1)
      .filter(SparkEntry.oracleSql.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName),
      s"""{"total":$total,"oracle_subset":$oracleTotal,"sf":"$sfDir","seed":$reorderSeed,"failed":$failJson,"oracle":$oracleJson,""" +
        results.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("\"queries\":{", ",", "},") +
        qlist.map { case (k, _) =>
            "\"" + k + "\":" + samples(k).map(s => num("%.4f", s)).mkString("[", ",", "]") }
          .mkString("\"samples\":{", ",", "},") +
        results.map { case (k, _) => "\"" + k + "\":" + best(k).json }
          .mkString("\"layers\":{", ",", "}}\n"))
    catch { case _: Throwable => () } // read-only cwd: stdout still carries the line
    val budget = 1600
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
    val kept = scala.collection.mutable.ListBuffer[(String, Double)]()
    var used = 0
    bySlowest.foreach { case (k, v) =>
      val len = k.length + 4 + fmt(v).length
      if (used + len <= budget) { kept += ((k, v)); used += len }
    }
    val qs = kept.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    spark.stop()
    val failField =
      if (failures.isEmpty) """"failures":0"""
      else s""""failures":${failures.size},"failed":$failJson"""
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","oracle_subset":${fmt(oracleTotal)},$failField,"queries":$qs,"omitted":${results.size - kept.size},"sf":"$sfDir"}""")
  }
}

package graft

/** Bench's per-query record ([[Bench.sample]]): the build/exec split
  * and the scheduler layers read off the engine's one listener, so the
  * layer breakdown every Bench run writes cannot rot.
  */
class BenchLayersSpec extends SparkSpec {

  /** The second of two samples, as Bench keeps warm ones: the first
    * absorbs the table's one-time listing, which Bench's session
    * warm-up pays before any query. */
  private def sampleOf(name: String): Bench.Layers = {
    val l = Metrics.install(spark)
    try {
      Bench.sample(spark, sf, SparkEntry.queries(name), l)
      Bench.sample(spark, sf, SparkEntry.queries(name), l)
    } finally Metrics.uninstall(spark, l)
  }

  test("Bench record of proj_upper: job-free build, a write with stages") {
    val r = sampleOf("proj_upper")
    assert(r.buildJobs == 0, s"building proj_upper ran ${r.buildJobs} jobs")
    assert(r.execJobs >= 1, "the noop write must run at least one job")
    assert(r.stages >= 1 && r.tasks > 0, s"no stage with tasks: $r")
    assert(r.taskRunMs >= 0 && r.seconds > 0.0)
  }

  test("the layers JSON carries every per-query profile field") {
    val j = sampleOf("proj_upper").json
    Seq("buildMs", "execMs", "buildJobs", "execJobs", "catalystMs",
      "codegenCompiles", "codegenMs", "stages", "tasks", "taskRunMs", "taskDeserializeMs",
      "schedulerDelayMs", "gcMs").foreach { k =>
      assert(j.contains("\"" + k + "\":"), s"$k missing from $j")
    }
  }

  test("the record counts a query's codegen compiles; a re-run hits the cache") {
    // a literal no other plan carries makes the query's generated
    // source new to this JVM
    val unique = System.nanoTime()
    val fn: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame =
      (s, _) => s.range(4).selectExpr(s"id * $unique AS x")
    val l = Metrics.install(spark)
    try {
      val first = Bench.sample(spark, sf, fn, l)
      assert(first.codegenCompiles >= 1 && first.codegenMs >= 0,
        s"a new plan compiled nothing: $first")
      val again = Bench.sample(spark, sf, fn, l)
      assert(again.codegenCompiles == 0, s"the re-run recompiled: $again")
    } finally Metrics.uninstall(spark, l)
  }
}

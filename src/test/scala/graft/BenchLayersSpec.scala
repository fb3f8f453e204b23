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
      "stages", "tasks", "taskRunMs", "taskDeserializeMs",
      "schedulerDelayMs", "gcMs").foreach { k =>
      assert(j.contains("\"" + k + "\":"), s"$k missing from $j")
    }
  }
}

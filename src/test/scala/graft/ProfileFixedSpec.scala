package graft

import org.apache.spark.grafttest.ListenerDrain

/** Smoke test for the one profiling probe ([[ProfileFixed]]): its
  * per-query record must keep producing the phase split and the
  * per-stage drill-down, so the probe cannot rot between hand runs.
  */
class ProfileFixedSpec extends SparkSpec {

  test("probe record of proj_upper: job-free build, a write with stages") {
    val r = ProfileFixed.record(spark, sf, "proj_upper",
      SparkEntry.queries("proj_upper"),
      () => ListenerDrain.drain(spark.sparkContext))
    assert(r.buildJobs == 0, s"building proj_upper ran ${r.buildJobs} jobs")
    assert(r.execJobs >= 1, "the noop write must run at least one job")
    assert(r.stages.exists(_.tasks > 0),
      s"no stage row with tasks: ${r.stages.mkString("; ")}")
  }
}

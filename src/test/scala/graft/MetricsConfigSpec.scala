package graft

import graft.ops.{Sources, Transforms}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerDrain

/** M5 ops parity: the listener-based metrics pipeline (Prometheus
  * analog) and config loading (S6).
  */
class MetricsConfigSpec extends SparkSpec {

  test("MetricsListener accumulates observed counters across actions") {
    val listener = Metrics.install(spark)
    try {
      val events = Sources.table(spark, sf, "events")
      val (df, _) = Quality.observed(events, Transforms.validEvent,
        lit(1.0))
      val total = df.count()
      // listener callbacks fire asynchronously after the action, and
      // within one callback the observed metrics land AFTER the query
      // counter — poll for the key the assertions need, not a proxy
      val deadline = System.nanoTime() + 10000000000L
      while (!listener.snapshot.keys.exists(_.startsWith("observed.")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val snap = listener.snapshot
      assert(snap.getOrElse("queries_total", 0.0) >= 1.0)
      val validKey = snap.keys.find(_.matches("observed\\..*\\.n_valid"))
      assert(validKey.isDefined, s"no observed valid counter in $snap")
      val invalidKey = snap.keys.find(_.matches("observed\\..*\\.n_invalid"))
      assert(snap(validKey.get) + snap(invalidKey.get) == total)
    } finally Metrics.uninstall(spark, listener)
  }

  test("metrics HTTP endpoint serves Prometheus exposition after a query") {
    val listener = Metrics.install(spark)
    val server = Metrics.serveMetrics(listener, port = 0) // ephemeral port
    try {
      Sources.table(spark, sf, "region").count()
      // a literal no other plan carries: its generated source is new,
      // so at least one class compiles
      spark.range(4).selectExpr(s"id * ${System.nanoTime()} AS x").collect()
      // listener callbacks fire asynchronously — poll for the counter
      val deadline = System.nanoTime() + 10000000000L
      while (listener.snapshot.getOrElse("queries_total", 0.0) < 1.0 &&
        System.nanoTime() < deadline) Thread.sleep(50)
      ListenerDrain.drain(spark.sparkContext) // and every task-end event
      val port = server.getAddress.getPort
      val body = new String(
        new java.net.URI(s"http://127.0.0.1:$port/metrics").toURL
          .openStream().readAllBytes(), "UTF-8")
      assert(body.contains("# TYPE graft_queries_total counter"))
      val m = """(?m)^graft_queries_total (\S+)""".r.findFirstMatchIn(body)
      assert(m.isDefined, s"no graft_queries_total sample in:\n$body")
      assert(m.get.group(1).toDouble >= 1.0)
      assert(body.contains("graft_query_duration_ms_sum"))
      // the scheduler's and codegen's counters ride the same listener
      // and endpoint
      Seq("graft_jobs_total", "graft_tasks_total",
        "graft_codegen_compiles_total").foreach { k =>
        val s = s"""(?m)^$k (\\S+)""".r.findFirstMatchIn(body)
        assert(s.exists(_.group(1).toDouble >= 1.0), s"no $k >= 1 in:\n$body")
        assert(body.contains(s"# TYPE $k counter"))
      }
      assert(body.contains("# TYPE graft_codegen_ms_sum counter"))
    } finally {
      Metrics.stopMetricsServer(server)
      Metrics.uninstall(spark, listener)
    }
  }

  test("the listener counts the actions a pipeline runs on its child " +
    "session") {
    // quality2022 runs every action on the caller's SessionIso child,
    // whose query bus starts empty: the installed listener must reach
    // it, its query counter and the write's observed row count alike
    val dir = java.nio.file.Files.createTempDirectory("mchild").toString
    val in = new java.io.File(dir, "users.csv")
    java.nio.file.Files.writeString(in.toPath,
      "name,age,email\nalice,30,a@x.com\nbob,41,b@x.com\nbob,41,b@x.com\n")
    val listener = Metrics.install(spark)
    try {
      val (run, _, delta) = Metrics.measure(spark, listener)(
        Pipelines.quality2022(spark, in.getPath, s"$dir/out"))
      assert(delta.getOrElse("queries_total", 0.0) == 3.0,
        s"queries_total delta in $delta")
      val written = listener.snapshot.collect {
        case (k, v) if k.matches("observed\\..*\\.n") => v
      }
      assert(written.toSeq.contains(run.loaded.toDouble) && run.loaded == 2,
        s"write's observed row count missing: ${listener.snapshot}")
    } finally Metrics.uninstall(spark, listener)
  }

  test("EngineConfig loads reference-shaped keys with defaults") {
    val props =
      """aws.s3_bucket=my-bucket
        |database.port=3307
        |etl.batch_size=250
        |""".stripMargin
    val cfg = EngineConfig.load(
      new java.io.ByteArrayInputStream(props.getBytes("UTF-8")))
    assert(cfg.s3Bucket == "my-bucket")
    assert(cfg.dbPort == 3307)
    assert(cfg.batchSize == 250)
    // unset keys fall back to the reference's config.yaml defaults
    assert(cfg.sqsQueue == EngineConfig.default.sqsQueue)
    assert(cfg.maxWorkers == EngineConfig.default.maxWorkers)
  }
}

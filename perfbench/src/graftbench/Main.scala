package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Entry point. Modes:
  *  - `run` (default): one benchmark run; prints the result JSON last;
  *  - `dump`: every declared query once in the bench session, writing
  *    its output as parquet plus digests and timings (feeds
  *    `perfbench/tools/make_expected.py`);
  *  - `selftest`: the benchmark's own tests.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val d = Args()
    val a = Args(
      workload = kv.getOrElse("workload", d.workload),
      seed = kv.get("seed").map(_.toLong).getOrElse(d.seed),
      seconds = kv.get("seconds").map(_.toDouble).getOrElse(d.seconds),
      trace = kv.get("trace").exists(_ == "1"),
      root = kv.getOrElse("root", d.root),
      cores = kv.get("cores").map(_.toInt).getOrElse(d.cores),
      commit = kv.getOrElse("commit", d.commit))
    kv.getOrElse("mode", "run") match {
      case "run" =>
        val o = new Runner(a).run()
        println(result(o))
      case "dump" => dump(a, Paths.get(kv("dir")))
      case "selftest" => SelfTest.run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    sys.exit(0)
  }

  /** The result line: correct, attempted, failed, metrics with units. */
  def result(o: Runner.Outcome): String =
    Json.render(Seq("correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> o.metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }))

  /** Every declared query in the bench session: a cold execution, two
    * warm ones (reference cost = the faster, input rows = what it read),
    * then its output as parquet and its digest. */
  def dump(a: Args, dir: java.nio.file.Path): Unit = {
    Files.createDirectories(dir)
    val r = new Runner(a)
    val (spark, _) = r.setup(fromJvmStart = true)
    val counter = new RowCounter
    spark.sparkContext.addSparkListener(counter)
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      def noop(): (Double, Long) = {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        val r0 = counter.rows.get
        val t = System.nanoTime()
        SparkEntry.queries(n)(spark, a.fixture).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t) / 1e9
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        (s, counter.rows.get - r0)
      }
      val (cold, _) = noop()
      val (warm, inRows) = Seq(noop(), noop()).minBy(_._1)
      val df = SparkEntry.queries(n)(spark, a.fixture)
      df.write.mode("overwrite").parquet(dir.resolve(n).toString)
      val dg = Digest.of(df)
      System.err.println(f"dump $n%-28s rows ${dg.rows}%8d cold $cold%.3f warm $warm%.3f in $inRows")
      n -> Seq("rows" -> dg.rows, "digest" -> dg.digest, "cold_s" -> cold, "warm_s" -> warm,
        "input_rows" -> inRows)
    }
    Files.write(dir.resolve("digests.json"), Json.render(rows).getBytes("UTF-8"))
    Files.write(dir.resolve("oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.toSeq.sortBy(_._1)).getBytes("UTF-8"))
    Session.stop(spark)
  }
}

package graft

import graft.ops.ShuffleWidth
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger

/** A warm pipeline call compiles nothing. The values a call fixes —
  * its processing instant, the 2022 era's quality score, age fill and
  * outlier fences — are read at run time
  * ([[graft.functions.CallValue]]), not written into the generated
  * source, and stream batches are written on the session that started
  * the stream ([[graft.ops.TimeOps.foreachBatchSink]]), whose class
  * loader outlives the query. So a second call, over the same input or
  * a new one of the same shape, finds every class in Spark's codegen
  * cache. `CodegenMetrics` counts every compile in the JVM, driver and
  * executor threads alike.
  */
class WarmCompileSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeCsv(dir: String, name: String, rows: Seq[String]): String = {
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    w.write(("name,age,email" +: rows).mkString("", "\n", "\n"))
    w.close()
    f.getPath
  }

  private def compiledBy(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Runs `call` cold, then asserts the next call compiles nothing. */
  private def assertWarm(what: String)(call: => Any): Unit = {
    call
    val n = compiledBy(call)
    assert(n == 0, s"a warm $what call compiled $n classes: a per-call " +
      "value reached the generated source")
  }

  // drop A: 3 of 5 rows valid, valid mean age 32
  private val dropA = Seq("alice,30,alice@example.com",
    "bob,41,bob@example.com", "carol,25,carol@example.com",
    "dan,notanint,dan@example.com", "frank,33,no-at-sign")
  // drop B: 4 of 5 valid, valid mean age 60, other age quartiles
  private val dropB = Seq("gina,52,gina@example.com",
    "hal,67,hal@example.com", "ivy,58,ivy@example.com",
    "jon,63,jon@example.com", "erin,200,erin@example.com")

  test("basic2016, validated2018 and parallel2020: a warm call compiles " +
      "nothing") {
    val in = writeCsv(tmp("wc"), "users.csv", dropA)
    assertWarm("basic2016")(Pipelines.basic2016(spark, in, tmp("wc16")))
    assertWarm("validated2018")(
      Pipelines.validated2018(spark, in, tmp("wc18"), tmp("wc18r")))
    val dir = tmp("wc20")
    writeCsv(dir, "input_1.csv", dropA)
    writeCsv(dir, "input_2.csv", dropB)
    assertWarm("parallel2020")(Pipelines.parallel2020(spark, dir, tmp("wc20o")))
  }

  test("quality2022 under codegen: a warm call compiles nothing, over the " +
      "same drop and over a drop with another valid rate and mean age") {
    val (a, b) = (writeCsv(tmp("wqa"), "users.csv", dropA),
      writeCsv(tmp("wqb"), "users.csv", dropB))
    ShuffleWidth.forcingInterpret(false) {
      assertWarm("quality2022")(Pipelines.quality2022(spark, a, tmp("wq")))
      var runB: Pipelines.QualityRun = null
      val n = compiledBy { runB = Pipelines.quality2022(spark, b, tmp("wq")) }
      assert(runB.report.validRate == 0.8 && runB.loaded == 4,
        s"drop B ran as $runB")
      assert(n == 0, s"quality2022 over a new drop compiled $n classes: " +
        "a drop-derived value reached the generated source")
    }
  }

  test("streaming2025: a second start over fresh directories compiles " +
      "nothing") {
    val csv = writeCsv(tmp("wsc"), "users.csv", dropA ++ dropB)
    def input(): String = {
      val d = s"${tmp("wsi")}/stream"
      spark.read.schema(Pipelines.usersSchema).option("header", "true")
        .csv(csv).repartition(2).write.parquet(d)
      d
    }
    val (first, second) = (input(), input())
    def start(in: String): String = {
      val out = tmp("wso")
      // one file per batch: two batches, each written by the transform
      val q = Pipelines.streaming2025(spark, in, out, tmp("wsk"),
          tmp("wsa"), Some(1))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      out
    }
    start(first)
    var out = ""
    val n = compiledBy { out = start(second) }
    assert(spark.read.parquet(out).count() == 7,
      "the second start must load every valid row")
    assert(n == 0, s"a second streaming2025 start compiled $n classes")
  }
}

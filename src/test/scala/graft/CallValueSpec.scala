package graft

import java.time.Instant
import java.time.temporal.ChronoUnit

import graft.functions.CallValue
import graft.functions.VectorFunctions.callValue
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[CallValue]], the leaf that holds a value fixed for one pipeline
  * call: both evaluation paths agree, the optimizer keeps it (a folded
  * value would be compiled into the generated source again), every row
  * of a call reads the same instant, and the plan text leaves the
  * value out.
  */
class CallValueSpec extends SparkSpec {

  private def carriesKernel(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[CallValue]))

  /** Users rows from a scan: the optimizer evaluates projections over
    * a local relation, so that would not show what a pipeline plans. */
  private def users = spark.range(4).select(
    col("id").cast("string").as("name"), lit("30").as("age"),
    lit("a@x").as("email"))

  test("interpreted and generated evaluation return the same value") {
    val values = Seq[Any](Instant.parse("2026-10-20T04:02:25.123456Z"),
      0.6, 32, 7L, "20261020_040225")
    val kernels: Seq[Expression] = values.map { v =>
      val l = Literal(v)
      CallValue("v", l.value, l.dataType)
    }
    val generated = GenerateUnsafeProjection.generate(kernels)(null)
    kernels.zipWithIndex.foreach { case (k, i) =>
      val (got, interpreted) = (generated.get(i, k.dataType), k.eval(null))
      assert(got == interpreted, s"$k: generated $got, interpreted $interpreted")
    }
  }

  test("the optimized plan keeps the kernel: nothing folds it") {
    val df = spark.range(3).select(col("id"),
      callValue("score", 0.5).as("s"), callValue("at", Instant.now()).as("t"))
    assert(carriesKernel(df), df.queryExecution.optimizedPlan.toString)
    assert(df.schema("t").dataType == TimestampType && !df.schema("t").nullable)
    assert(carriesKernel(Pipelines.transformUsers(users)))
  }

  test("every row of one call carries the same processed_at, across " +
      "partitions, between the call's start and end") {
    val dir = java.nio.file.Files.createTempDirectory("cv").toString
    Seq("input_1.csv" -> Seq("alice,30,a@x", "bob,41,b@x"),
      "input_2.csv" -> Seq("carol,25,c@x", "dan,52,d@x")).foreach {
      case (name, rows) =>
        val w = new java.io.PrintWriter(new java.io.File(dir, name))
        w.write(("name,age,email" +: rows).mkString("", "\n", "\n"))
        w.close()
    }
    val out = java.nio.file.Files.createTempDirectory("cvo").toString
    val start = Instant.now().truncatedTo(ChronoUnit.MICROS)
    Pipelines.parallel2020(spark, dir, out)
    val end = Instant.now()
    val rows = spark.read.parquet(out)
      .select(col("processed_at"), input_file_name().as("f")).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(1)).distinct.length >= 2,
      "the call must write from at least 2 partitions")
    val stamps = rows.map(_.getTimestamp(0).toInstant).distinct
    assert(stamps.length == 1, s"one call stamped ${stamps.toSeq}")
    assert(!stamps.head.isBefore(start) && !stamps.head.isAfter(end),
      s"${stamps.head} lies outside the call [$start, $end]")
  }

  test("quality2022's batch_id formats the instant its processed_at " +
      "carries") {
    val dir = java.nio.file.Files.createTempDirectory("cvq").toString
    val w = new java.io.PrintWriter(new java.io.File(dir, "users.csv"))
    w.write("name,age,email\nalice,30,a@x\nbob,,b@x\n")
    w.close()
    val out = java.nio.file.Files.createTempDirectory("cvqo").toString
    Pipelines.quality2022(spark, s"$dir/users.csv", out)
    val got = spark.read.parquet(out).select(col("batch_id"),
        date_format(col("processed_at"), "yyyyMMdd_HHmmss"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length == 1 && got.head._1 == got.head._2, got.toSeq)
  }

  test("two independently built frames render the same plan text") {
    def build() = ExplainDump.formatted(Pipelines.transformUsers(users)
      .withColumn("quality_score", callValue("quality_score", math.random())))
    val a = build()
    Thread.sleep(2)
    val b = build()
    assert(a.contains("graft_call_value(processed_at)"), a)
    assert(a == b, s"rendered differently:\n$a\n---\n$b")
  }
}

package graft

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** The engine's extension surface (SURVEY §2.9 X6/X7, §2.6 J5):
  * scalar UDF registration, typed Aggregator UDAF, and non-equi
  * (theta/range) joins. Unit-level only — the declared queries never
  * need them (built-ins cover everything, SURVEY §7.3), but a user of
  * the engine can reach for each.
  */
class ExtensibilitySpec extends SparkSpec {

  test("X6: scalar UDF registers and runs (SQL + DSL)") {
    import spark.implicits._
    val slugify = udf((s: String) =>
      s.toLowerCase.replaceAll("[^a-z0-9]+", "-"))
    spark.udf.register("slugify", slugify)
    val df = Seq("Hello World", "Spark SQL!").toDF("s")
    assert(df.select(slugify(col("s"))).as[String].collect().toSeq ==
      Seq("hello-world", "spark-sql-"))
    df.createOrReplaceTempView("slug_in")
    assert(spark.sql("SELECT slugify(s) FROM slug_in").as[String]
      .collect().toSeq == Seq("hello-world", "spark-sql-"))
  }

  test("X7: typed Aggregator computes a custom geometric mean") {
    import spark.implicits._
    val geoMean = new Aggregator[Double, (Double, Long), Double] {
      def zero: (Double, Long) = (0.0, 0L)
      def reduce(b: (Double, Long), a: Double): (Double, Long) =
        (b._1 + math.log(a), b._2 + 1)
      def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
        (x._1 + y._1, x._2 + y._2)
      def finish(r: (Double, Long)): Double =
        if (r._2 == 0) 0.0 else math.exp(r._1 / r._2)
      def bufferEncoder: Encoder[(Double, Long)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
    val ds = Seq(2.0, 8.0).toDS()
    val out = ds.select(geoMean.toColumn).collect()(0)
    assert(math.abs(out - 4.0) < 1e-9)
  }

  test("graft_dot vs zip_with: agreement on dense vectors, documented " +
    "divergence on a null element") {
    import spark.implicits._
    val dense = Seq((Seq[java.lang.Double](1.0, 2.0, 3.0),
      Seq[java.lang.Double](4.0, 5.0, 6.0))).toDF("a", "b")
    val nd = graft.functions.VectorFunctions.dot(col("a"), col("b"))
    val hof = graft.ops.TextSim.dot(col("a"), col("b"))
    val r = dense.select(nd.as("native"), hof.as("hof")).collect()(0)
    assert(r.getDouble(0) == 32.0 && r.getDouble(1) == 32.0)
    // null ELEMENT: native reads the slot as 0.0 (element drops out),
    // zip_with+aggregate null-poisons the whole sum — the divergence
    // the VectorExpressions scaladoc documents
    val holey = Seq((Seq[java.lang.Double](1.0, null, 3.0),
      Seq[java.lang.Double](4.0, 5.0, 6.0))).toDF("a", "b")
    val h = holey.select(nd.as("native"), hof.as("hof")).collect()(0)
    assert(h.getDouble(0) == 22.0, "native: null slot contributes 0")
    assert(h.isNullAt(1), "zip_with formulation null-poisons the sum")
    // null ARRAY: both propagate null
    val nullArr = Seq((null.asInstanceOf[Seq[java.lang.Double]],
      Seq[java.lang.Double](1.0))).toDF("a", "b")
    val n2 = nullArr.select(nd.as("native"), hof.as("hof")).collect()(0)
    assert(n2.isNullAt(0) && n2.isNullAt(1))
  }

  test("function builders reject non-literal operator parameters") {
    import spark.implicits._
    graft.functions.VectorFunctions.registerAll(spark)
    val df = Seq(("abcdefghijklmnopqrstuvwxyz", 5)).toDF("text", "n")
    val winnowErr = intercept[Exception] {
      df.selectExpr("graft_winnow(text, n, 4)").collect()
    }
    assert(winnowErr.getMessage.contains("integer literal"),
      s"unexpected: ${winnowErr.getMessage}")
    val minhashErr = intercept[Exception] {
      df.selectExpr("graft_minhash(text, n)").collect()
    }
    assert(minhashErr.getMessage.contains("integer literal"),
      s"unexpected: ${minhashErr.getMessage}")
  }

  test("J5: theta/range join via non-equi condition") {
    import spark.implicits._
    val ranges = Seq(("low", 0.0, 100.0), ("high", 100.0, 1e9))
      .toDF("bucket", "lo", "hi")
    val vals = Seq(50.0, 150.0, 99.9).toDF("v")
    val joined = vals.join(broadcast(ranges),
        col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "bucket")
      .collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(joined == Map(50.0 -> "low", 150.0 -> "high", 99.9 -> "low"))
    // plan sanity: a non-equi broadcast join must NOT shuffle
    val plan = vals.join(broadcast(ranges),
      col("v") >= col("lo") && col("v") < col("hi"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }
}

package graft

import graft.functions.VectorFunctions
import graft.ops.{Sources, TextSim}
import org.apache.spark.sql.functions._

/** The codegen'd DotProduct must be value-identical to the
  * higher-order-function formulation it replaces, across the real
  * embedding corpus and edge cases.
  */
class VectorExpressionsSpec extends SparkSpec {

  test("native dot == HOF dot on every embedding pair with vector 0") {
    val e = Sources.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") === 0L).select(col("v").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        TextSim.dot(col("v"), col("qv")).as("hof"),
        VectorFunctions.dot(col("v"), col("qv")).as("native"))
    val diff = both.filter(abs(col("hof") - col("native")) > 1e-12).count()
    assert(diff == 0)
  }

  test("native dot works from SQL after registration") {
    VectorFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("null array propagates to null result") {
    VectorFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("cosine of a vector with itself is 1") {
    val e = Sources.table(spark, sf, "embeddings")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val bad = e.select(
      VectorFunctions.cosine(col("v"), col("v")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9).count()
    assert(bad == 0)
  }

  test("src/main orders UTF8String with binaryCompare, never compareTo") {
    // Spark's UTF8String.compareTo checks SPARK_TESTING (a getenv) on
    // every call and throws when it is set; binaryCompare is the same
    // order without the check. Flags any `.compareTo(` in a source
    // that handles UTF8String.
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .filter { f =>
        val src = java.nio.file.Files.readString(f)
        src.contains("UTF8String") && src.contains(".compareTo(")
      }.map(_.getFileName.toString)
    assert(offenders.isEmpty,
      s"compareTo in UTF8String sources: ${offenders.mkString(", ")}")
  }
}

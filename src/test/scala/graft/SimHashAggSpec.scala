package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The SQL `graft_simhash` must match the explode-per-bit vote
  * formulation exactly, including across a forced partial/merge path;
  * nulls do not vote, an all-null group and empty input give 0, and an
  * argument of another type fails with the function's message.
  */
class SimHashAggSpec extends SparkSpec {

  test("graft_simhash equals the per-bit vote formulation") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val tokens = Seq((1L, "alpha"), (1L, "beta"), (1L, "gamma"),
      (2L, "alpha"), (2L, "delta"), (3L, "solo"))
      .toDF("doc_id", "token")
      .repartition(4)
    val agg = tokens.groupBy("doc_id")
      .agg(call_function("graft_simhash", col("token")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bits = (0 until 64).map(lit(_))
    val expected = tokens
      .select(col("doc_id"), xxhash64(col("token")).as("h"))
      .select(col("doc_id"), col("h"), explode(array(bits: _*)).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(h >> bit) & 1") === 1, 1L).otherwise(-1L))
        .as("vote"))
      .groupBy("doc_id")
      .agg(sum(when(col("vote") > 0, expr("shiftleft(1L, bit)"))
        .otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == expected, s"\nagg:      $agg\nexpected: $expected")
  }

  test("a null token does not vote") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val withNull = Seq((1L, Some("alpha")), (1L, None), (1L, Some("beta")))
      .toDF("doc_id", "token").repartition(2)
    val without = withNull.filter(col("token").isNotNull)
    def sh(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("doc_id")
        .agg(call_function("graft_simhash", col("token")))
        .collect()(0).getLong(1)
    assert(sh(withNull) == sh(without))
  }

  test("an all-null group and empty input give 0") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val tokens = Seq((1L, Some("alpha")), (2L, None), (2L, None))
      .toDF("doc_id", "token")
    val sh = tokens.groupBy("doc_id")
      .agg(call_function("graft_simhash", col("token")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(2L) == 0L, "all-null group")
    val empty = tokens.filter(lit(false))
      .agg(call_function("graft_simhash", col("token"))).collect()
    assert(empty.length == 1 && empty(0).getLong(0) == 0L, "empty input")
  }

  test("an int argument fails with the function's message") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val e = intercept[Exception] {
      Seq((1L, 7)).toDF("doc_id", "n").groupBy("doc_id")
        .agg(call_function("graft_simhash", col("n"))).collect()
    }
    assert(e.getMessage.contains("graft_simhash requires a string (token) " +
      "or bigint (precomputed hash) column"), s"unexpected: ${e.getMessage}")
  }
}

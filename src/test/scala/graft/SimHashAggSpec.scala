package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The declarative SimHash aggregate must match the explode-per-bit
  * vote formulation exactly, including across a forced partial/merge
  * path.
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
}

package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The SQL `graft_minhash` must match the 64-separate-min formulation
  * element for element, merge correctly across partitions, ignore
  * nulls, and reject a non-string argument with its own message.
  */
class MinHashAggSpec extends SparkSpec {

  test("graft_minhash equals the per-hash min formulation") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val tokens = Seq((1L, "alpha"), (1L, "beta"), (1L, "gamma"),
      (2L, "alpha"), (2L, "delta"))
      .toDF("doc_id", "token")
      .repartition(4) // force partial aggregation + merge
    val agg = tokens.groupBy("doc_id")
      .agg(call_function("graft_minhash", col("token")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggs = (0 until 64).map(h =>
      min(xxhash64(col("token"), lit(h.toLong))).as(s"mh$h"))
    val expected = tokens.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 64).map(i => r.getLong(i)).toSeq).toMap
    assert(agg.keySet == expected.keySet)
    agg.foreach { case (doc, sig) =>
      assert(sig.length == 64)
      assert(sig == expected(doc), s"signature mismatch for doc $doc")
    }
  }

  test("null tokens are ignored, empty group keeps the init sentinel") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val tokens = Seq((1L, Some("alpha")), (1L, None), (2L, None))
      .toDF("doc_id", "token")
    val sigs = tokens.groupBy("doc_id")
      .agg(call_function("graft_minhash", col("token"), lit(8)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 8)
    assert(!sigs(1L).contains(Long.MaxValue),
      "doc 1 has a real token, so every slot must be hashed")
    assert(sigs(2L).forall(_ == Long.MaxValue),
      "all-null group keeps the sentinel")
  }

  test("an int argument fails with the function's message") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val e = intercept[Exception] {
      Seq((1L, 7)).toDF("doc_id", "n").groupBy("doc_id")
        .agg(call_function("graft_minhash", col("n"))).collect()
    }
    assert(e.getMessage.contains("graft_minhash requires a string column"),
      s"unexpected: ${e.getMessage}")
  }
}

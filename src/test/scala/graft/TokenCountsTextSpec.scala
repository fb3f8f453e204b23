package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Equivalence contract for the fused tokenize+count kernel
  * ([[graft.functions.TokenCountsText]]): its output must be
  * VALUE-IDENTICAL to `TokenCounts(split(lower(text), "\\s+"))` —
  * same tokens, same counts, same order, same null-for-tokenless —
  * on the fixture corpus and on the pathological classes (the
  * separator-set and lowercase semantics are where a byte-scan could
  * silently drift from the regex spelling).
  */
class TokenCountsTextSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private def bothForms(df: org.apache.spark.sql.DataFrame)
      : (Array[String], Array[String]) = {
    val split3 = VectorFunctions.tokenCounts(split(lower(col("text")), "\\s+"))
    val fused = VectorFunctions.tokenCountsText(col("text"))
    val canon = (c: org.apache.spark.sql.Column) =>
      concat_ws("|", transform(c,
        p => concat(p.getField("token"), lit(":"), p.getField("tf"))))
    val a = df.select(col("doc_id"), canon(split3).as("s"))
      .orderBy("doc_id").collect().map(r => s"${r.get(0)}=${r.getString(1)}")
    val b = df.select(col("doc_id"), canon(fused).as("s"))
      .orderBy("doc_id").collect().map(r => s"${r.get(0)}=${r.getString(1)}")
    (a, b)
  }

  test("fused kernel equals the split+count spelling on the fixture corpus") {
    val (a, b) = bothForms(
      graft.ops.Sources.table(spark, sf01, "documents"))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"drift: $x vs $y") }
  }

  test("fused kernel equals the split spelling on pathological docs") {
    import spark.implicits._
    val docs = Seq(
      1L -> "  leading and trailing  ",
      2L -> "tab\tseparated\ttokens",
      3L -> "mixed\r\nnewlines\nandvertical\ftabs",
      4L -> "UPPER Mixed lower Ümläut STRASSE",
      5L -> "repeat repeat repeat x x y",
      6L -> " nbsp is not ascii ws", // stays ONE token group per \s semantics
      7L -> "astral 😀 😀 chars 𝒜",
      8L -> "", // tokenless -> null in both spellings
      9L -> "   ", // whitespace-only -> null in both
      10L -> ("long " * 2000).trim,
      11L -> "İstanbul İ dotted-I lowercase edge"
    ).toDF("doc_id", "text")
    val (a, b) = bothForms(docs)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"drift: $x vs $y") }
    // null contract: tokenless docs are null under BOTH forms
    val fusedNulls = docs
      .select(col("doc_id"),
        VectorFunctions.tokenCountsText(col("text")).as("tc"))
      .filter(col("tc").isNull).collect().map(_.getLong(0)).toSet
    assert(fusedNulls == Set(8L, 9L))
  }
}

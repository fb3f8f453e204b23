package graft

import graft.ops.{Sources, TextSim}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The per-doc entropy kernel must reproduce the explode+groupBy
  * spelling BIT-FOR-BIT (same 8-dp HALF_UP ln pinning, same exact
  * decimal term sum, same closing double casts), with the same row
  * set (tokenless docs absent).
  */
class EntropyKernelSpec extends SparkSpec {

  /** The pre-r14 declarative spelling, kept here as the reference. */
  private def oldEntropy(docs: DataFrame): DataFrame = {
    def lnd(c: org.apache.spark.sql.Column) = round(log(c), 8)
    docs
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(lnd(col("tf")).cast(DecimalType(18, 8)) * col("tf")).as("term_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(lnd(col("n_tokens")) -
          col("term_sum").cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 4).as("entropy"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("kernel equals the explode+groupBy spelling on the fixture corpus") {
    val docs = Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    assert(rows(TextSim.textEntropy(docs)) == rows(oldEntropy(docs)))
  }

  test("kernel equals the old spelling on crafted edge docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),                    // one token, tf 4
      (2L, "the quick brown fox"),        // all distinct
      (3L, "  leading  and  trailing  "), // empty-string splits
      (4L, ""),                           // tokenless: absent from output
      (5L, null.asInstanceOf[String]),    // null text: absent
      (6L, "x " * 100000),                // long degenerate doc
      (7L, "A a B b"))                    // lowercasing folds pairs
      .toDF("doc_id", "text")
    val got = rows(TextSim.textEntropy(docs))
    val want = rows(oldEntropy(docs))
    assert(got == want, s"kernel diverged:\n$got\nvs\n$want")
    assert(!got.exists(_.startsWith("[4,")) && !got.exists(_.startsWith("[5,")),
      "tokenless docs must be absent")
  }

  test("TokenCounts pairs equal the explode+groupBy term counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c a b"), (2L, "  x  "), (3L, ""), (4L, "z"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val viaKernel = docs.select(col("doc_id"),
        explode(graft.functions.VectorFunctions
          .tokenCounts(TextSim.tokens(col("text")))).as("p"))
      .select(col("doc_id"), col("p.token"), col("p.tf"))
      .collect().map(_.toString).sorted.toSeq
    val viaGroup = docs.select(col("doc_id"),
        explode(TextSim.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaKernel == viaGroup)
  }

  test("text_tfidf on the kernel equals the explode+groupBy spelling") {
    val docs = Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val old = {
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs.select(col("doc_id"),
          explode(TextSim.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("token")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      tf.crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
            .as("tfidf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    }
    assert(rows(TextSim.textTfidf(docs, 3)) == rows(old))
  }

  test("the kernel plan has no exchange") {
    val docs = Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val plan = TextSim.textEntropy(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-doc entropy must be shuffle-free:\n${plan.take(800)}")
  }
}

package graft

import graft.ops.Sources
import org.apache.spark.sql.functions.col

/** The r22 split-count gate on the "spread" convention
  * ([[Sources.spreadIfNarrow]]): repartition an expensive map stage's
  * input across the cores ONLY when the backing scan has fewer splits
  * than cores. VERDICT r21 #1: the unconditional spread was
  * local-mode-fitted — at real scale (splits >= cores) the exchange
  * shuffles the full raw payload for parallelism the splits already
  * provide.
  */
class SpreadGateSpec extends SparkSpec {

  test("narrow scan (fixture single split) still spreads to the cores") {
    val docs = Sources.table(spark, sf, "documents")
    assert(Sources.scanSplits(docs) < spark.sparkContext.defaultParallelism,
      "fixture premise: the sf0.001 corpus must be fewer splits than cores")
    val spread = Sources.spreadIfNarrow(docs)
    val p = spread.queryExecution.executedPlan.toString
    assert(p.contains("RoundRobinPartitioning") || p.contains("REPARTITION"),
      s"narrow scan must gain the spread exchange:\n${p.take(1000)}")
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("wide relation (splits >= cores) passes through UNTOUCHED") {
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, cores * 2).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 7).as("text"))
    val out = Sources.spreadIfNarrow(wide)
    assert(out eq wide, "gate must return the SAME relation — no exchange")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "no exchange of any kind on a wide input")
  }

  test("gate decision is result-neutral") {
    val docs = Sources.table(spark, sf, "documents").select("doc_id", "text")
    val a = Sources.spreadIfNarrow(docs).collect().map(_.toSeq.mkString("|"))
    val b = docs.collect().map(_.toSeq.mkString("|"))
    assert(a.sorted.toSeq == b.sorted.toSeq)
  }

  test("non-scan input passes through with no job at build time " +
      "(decontaminateAgainst over a groupBy'd train, AQE on)") {
    val docs = Sources.table(spark, sf, "documents")
    val train = docs.groupBy("doc_id").agg(
      org.apache.spark.sql.functions.first("text").as("text"))
    val evalSet = docs.filter(col("doc_id") % 5 === 0)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val jobs = jobsOf(
        graft.ops.NearDup.decontaminateAgainst(train, evalSet))
      assert(jobs == 0, s"building the plan ran $jobs jobs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("split count is memoized per (session, plan)") {
    val docs = Sources.table(spark, sf, "documents")
    val n1 = Sources.scanSplits(docs)
    // a fresh select over the cached relation canonicalizes equal —
    // the memo must serve it without a second planning pass
    val n2 = Sources.scanSplits(Sources.table(spark, sf, "documents"))
    assert(n1 == n2)
  }
}

package graft

import org.apache.spark.sql.functions._

/** The `graft-docs` DataSourceV2 connector: schema, determinism,
  * planted duplicates, column pruning, doc_id range pushdown, and
  * integration with the corpus operators.
  */
class SyntheticDocsSpec extends SparkSpec {

  private def docs(n: Long, parts: Int = 4, seed: Long = 42L) =
    spark.read.format("graft-docs")
      .option("numDocs", n).option("numPartitions", parts)
      .option("seed", seed).load()

  test("produces numDocs rows with the documents-table schema") {
    val df = docs(1000)
    assert(df.count() == 1000)
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(df.filter(col("n_chars") =!= length(col("text"))).count() == 0)
  }

  test("content is a pure function of (seed, doc_id), not partitioning") {
    val a = docs(500, parts = 2).collect().sortBy(_.getLong(0))
    val b = docs(500, parts = 7).collect().sortBy(_.getLong(0))
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "partition count changed generated content")
    val c = docs(500, parts = 2, seed = 7L).collect().sortBy(_.getLong(0))
    assert(!a.map(_.getString(1)).sameElements(c.map(_.getString(1))),
      "seed had no effect")
  }

  test("plants exact duplicates for dedup operators to find") {
    val df = docs(2000)
    val dupGroups = df.groupBy(sha2(col("text"), 256)).count()
      .filter(col("count") > 1).count()
    assert(dupGroups > 0, "expected planted duplicate content")
  }

  test("column pruning reaches the scan") {
    val df = docs(1000).select("doc_id", "lang")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("cols=doc_id,lang"),
      s"scan not pruned:\n${scan.take(1200)}")
  }

  test("doc_id range predicates narrow the generated range") {
    val df = docs(1000).filter(col("doc_id") >= 400 && col("doc_id") < 650)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("range=[400,650)"),
      s"range not pushed:\n${scan.take(1200)}")
    assert(df.count() == 250)
    // equality collapses to a single-row range
    val one = docs(1000).filter(col("doc_id") === 123)
    assert(one.queryExecution.executedPlan.toString.contains("range=[123,124)"))
    assert(one.count() == 1)
  }

  test("corpus operators run directly on the connector output") {
    val df = docs(300)
    val stats = graft.ops.TextSim.corpusStats(df).head()
    assert(stats.getLong(0) == 300)
    assert(stats.getLong(1) > 0)
    val pairs = graft.ops.NearDup.dedupNgram(df, 3, 40, 0.5)
    // planted dups share full content => jaccard 1.0 pairs must surface
    assert(pairs.filter(col("jaccard") === 1.0).count() > 0,
      "near-dup pass missed the planted duplicates")
  }
}

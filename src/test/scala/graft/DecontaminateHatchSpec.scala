package graft

import org.apache.spark.sql.functions._

/** Equivalence pin for decontamination's df-only pre-pass escape
  * hatch (r8 VERDICT #6): `dfPrePass = true` must change the PLAN
  * (stop-shingles dropped by a count-agg + left-semi join before the
  * posting-list build, bounding per-group state at `maxDf`) and not
  * the OUTPUT. Exercised where it matters: a SyntheticDocs corpus
  * whose bounded vocabulary makes many shingles exceed the df cutoff
  * (real stop-shingles, verified, not assumed), plus the fixture
  * `documents` table the oracle query runs on.
  */
class DecontaminateHatchSpec extends SparkSpec {

  // vocabSize 40 (not the default 500) is what makes the corpus
  // stop-shingle-heavy: ~3000 docs × ~78 distinct 3-shingles over
  // 40³ = 64k possible shingles ⇒ df ~ Poisson(λ≈3.7) — a real
  // over-the-cutoff tail (df > 10) AND plenty of distinctive
  // (2 ≤ df ≤ 10) shingles crossing the train/eval split. At the
  // default vocab 500 the shingle space is 125M and no shingle
  // repeats, which made every assertion here vacuous.
  private lazy val corpus = spark.read.format("graft-docs")
    .option("numDocs", 3000).option("numPartitions", 8)
    .option("vocabSize", 40)
    .option("seed", 11).load()

  private val maxDf = 10

  test("synthetic corpus genuinely contains stop-shingles above the cutoff") {
    val overCutoff = corpus
      .select(explode(array_distinct(graft.functions.VectorFunctions
        .shingle(split(lower(col("text")), "\\s+"), 3))).as("th"))
      .groupBy("th").count().filter(col("count") > maxDf).count()
    assert(overCutoff > 0,
      s"no shingle has df > $maxDf — the hatch equivalence test would be vacuous")
  }

  test("hatch-on == hatch-off over a stop-shingle-heavy corpus") {
    val train = corpus.filter(col("doc_id") % 8 =!= 0).select("doc_id", "text")
    val evalSet = corpus.filter(col("doc_id") % 8 === 0).select("doc_id", "text")
    def run(hatch: Boolean) = graft.ops.NearDup
      .decontaminateAgainst(train, evalSet, maxDf = maxDf,
        dfPrePass = hatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val off = run(hatch = false)
    val on = run(hatch = true)
    assert(on == off)
    assert(off.nonEmpty,
      "no contaminated train doc found — equivalence held vacuously")
  }

  test("hatch-on plans the semi-join; hatch-off does not") {
    val train = corpus.filter(col("doc_id") % 8 =!= 0).select("doc_id", "text")
    val evalSet = corpus.filter(col("doc_id") % 8 === 0).select("doc_id", "text")
    def plan(hatch: Boolean) = graft.ops.NearDup
      .decontaminateAgainst(train, evalSet, maxDf = maxDf,
        dfPrePass = hatch)
      .queryExecution.executedPlan.toString
    assert(plan(hatch = true).contains("LeftSemi"))
    assert(!plan(hatch = false).contains("LeftSemi"))
  }

  test("hatch-on matches the declared query on the fixture table") {
    def run(hatch: Boolean) = graft.ops.NearDup
      .decontaminate(spark, sf, dfPrePass = hatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(run(hatch = true) == run(hatch = false))
  }
}

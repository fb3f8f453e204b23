package graft

import graft.ops.{NearDup, TextSim}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pathological-corpus sweep (r17): 100 TB of scraped web data WILL
  * contain null text, empty strings, whitespace-only documents,
  * single-character documents, megabyte run-on lines, and astral
  * unicode — a text operator that throws a task failure on any of
  * them takes the whole stage down at scale. Every DataFrame-first
  * corpus operator must process this corpus without throwing, return
  * deterministic results across runs, and keep its documented row
  * semantics (per-doc operators emit ≤ one row per input doc; docs
  * with no analyzable content are dropped or zeroed, never crash).
  */
class PathologicalCorpusSpec extends SparkSpec {

  import spark.implicits._

  private lazy val corpus: DataFrame = Seq[(Long, String)](
    (1L, null),                        // null text
    (2L, ""),                          // empty
    (3L, "   \t\n  "),                 // whitespace-only
    (4L, "a"),                         // single char, shorter than any k
    (5L, "one"),                       // single token
    (6L, "two tokens"),                // below shingle width
    (7L, ("lorem ipsum dolor sit amet " * 2000).trim), // huge run-on doc
    (8L, "emoji 😀 and astral 🚀 content mixed with café text"),
    (9L, "duplicate pathological doc"),
    (10L, "duplicate pathological doc"), // exact dup pair
    (11L, "normal document with enough words to exercise every analyzer path here")
  ).toDF("doc_id", "text")

  private val nDocs = 11L

  /** Run an operator twice; assert no-throw, determinism, and a row
    * bound relative to the input corpus.
    */
  private def sweep(name: String, maxRows: Long)(f: DataFrame => DataFrame): Unit = {
    val a = f(corpus).collect().map(_.toString).sorted.toSeq
    val b = f(corpus).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"$name: nondeterministic on the pathological corpus")
    assert(a.size <= maxRows, s"$name: ${a.size} rows > bound $maxRows")
  }

  test("per-doc analyzers survive the pathological corpus") {
    sweep("text_entropy", nDocs)(TextSim.textEntropy)
    sweep("lang_id", nDocs)(TextSim.langId)
    sweep("text_quality", nDocs)(TextSim.textQuality)
    sweep("tok_count", nDocs)(TextSim.tokCount)
    sweep("text_repetition", nDocs)(TextSim.textRepetition)
    sweep("text_normalize", nDocs)(TextSim.textNormalize)
    sweep("quality_gopher", nDocs)(TextSim.qualityGopher)
  }

  test("corpus-level analyzers survive the pathological corpus") {
    sweep("corpus_stats", 1)(TextSim.corpusStats)
    val cs = TextSim.corpusStats(corpus).collect()(0)
    assert(cs.getLong(0) == nDocs, "corpus_stats must count every doc, " +
      "including null/empty ones")
    sweep("text_logprob", nDocs)(TextSim.textLogprob)
    sweep("text_bigram_lm", nDocs)(TextSim.textBigramLm)
    sweep("text_tfidf", 3 * nDocs)(d => TextSim.textTfidf(d, 3))
  }

  test("dedup family survives the pathological corpus and finds the dup") {
    sweep("dedup_text", nDocs)(TextSim.dedupText)
    // exact dedup must collapse the duplicate pair into ONE group
    // (n_docs=2, min doc kept) and must not crash on the null-text
    // doc (sha2(null) is a null hash group, not a task failure)
    val groups = TextSim.dedupText(corpus).collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc")))
    assert(groups.contains((2L, 9L)),
      s"duplicate pair not collapsed: ${groups.toSeq.sorted}")
    sweep("simhash", nDocs)(d => NearDup.simhash(d))
    sweep("simhash_portable", nDocs)(d => NearDup.simhashPortable(d))
    sweep("minhash_summary", 1)(d => NearDup.dedupMinhash(d,
      numHashes = 16, bands = 4, minSim = 0.4))
    sweep("winnow_portable", nDocs)(TextSim.docWinnowPortable)
    // the portable winnow drops sub-k docs (1..6 are all shorter than
    // k=12 or null) but must keep the huge and duplicate docs, and the
    // duplicate pair must agree exactly
    val ww = TextSim.docWinnowPortable(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ww.contains(7L) && ww.contains(11L))
    assert(ww(9L) == ww(10L), "identical docs must fingerprint identically")
  }

  test("huge-doc analyzer outputs stay bounded and finite") {
    val huge = corpus.filter(col("doc_id") === 7L)
    val ent = TextSim.textEntropy(huge).collect()(0)
    val rep = TextSim.textRepetition(huge).collect()(0)
    // 5-token vocabulary repeated 2000x: entropy ≈ log2(5), dup-word
    // fraction ≈ 1 — finite, in-range, and the doc must be flagged
    val entVal = ent.getAs[Double]("entropy")
    assert(entVal > 0 && entVal < 16 && !entVal.isNaN, s"entropy $entVal")
    assert(rep.getAs[Boolean]("repetitive"), "a 2000x-repeated doc must flag")
  }

  /** Eight docs whose `text` raises only when a task evaluates it, so
    * building a plan over them succeeds and the failure comes from
    * the first job that reads the text. */
  private def poisonedText: DataFrame = spark.range(8).select(
    col("id").as("doc_id"),
    expr("CASE WHEN id >= 0 THEN raise_error('poisoned text') " +
      "ELSE 'unused' END").cast("string").as("text"))

  /** Asserts `build` fails on the poisoned input and leaves the
    * session's cached plan count where it was. */
  private def releasesOnFailure(build: => Any): Unit = {
    def cachedPlans: Int = org.apache.spark.sql.grafttest.CachedPlans.count(spark)
    val before = cachedPlans
    val e = intercept[Exception](build)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("poisoned"))),
      s"unexpected failure: $e")
    assert(cachedPlans == before,
      s"cached plans went from $before to $cachedPlans")
  }

  test("a failing checkpoint job releases the entry point's cache") {
    // the eager entry points persist an intermediate and release it
    // after the checkpoint job; when that job throws, the release must
    // still happen, or the intermediate stays cached for the session
    releasesOnFailure(NearDup.dedupMinhash(poisonedText, 64, 16, 0.4))
  }

  test("a rejected signature width or band count persists nothing") {
    // (numHashes, bands) is validated before the signatures are
    // persisted: a band count that does not divide the width, a zero
    // band count or width, or more portable slots than seeds must be
    // an IllegalArgumentException that leaves no cached plan behind
    def cachedPlans: Int = org.apache.spark.sql.grafttest.CachedPlans.count(spark)
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Seq[(String, () => Any)](
      "64/10" -> (() => NearDup.dedupMinhash(corpus, 64, 10, 0.4)),
      "64/0" -> (() => NearDup.dedupMinhash(corpus, 64, 0, 0.4)),
      "0/4" -> (() => NearDup.dedupMinhash(corpus, 0, 4, 0.4)),
      "portable 16/3" -> (() => NearDup.dedupMinhashPortable(corpus, 16, 3, 0.4)),
      "portable 32/4" -> (() => NearDup.dedupMinhashPortable(corpus, 32, 4, 0.4)),
      "index 64/10" -> (() => NearDup.minhashIndexWrite(spark, corpus, dir, 64, 10))
    ).foreach { case (name, call) =>
      val before = cachedPlans
      intercept[IllegalArgumentException](call())
      assert(cachedPlans == before,
        s"$name: cached plans went from $before to $cachedPlans")
    }
  }

  test("a failing index write releases minhashIndexWrite's cache") {
    // the signatures are persisted for the bands and sigs writes; a
    // failed write must not leave them cached for the session
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    releasesOnFailure(NearDup.minhashIndexWrite(spark, poisonedText, dir))
  }

  test("a failing bloom sizing job releases dedupBloom's caches") {
    // the distinct-hash count that sizes the filter runs while the
    // plan is built, after the hashed split and the corpus side are
    // persisted
    releasesOnFailure(NearDup.dedupBloom(spark, poisonedText, 0.01))
  }

  test("a failing k-means training job releases dedupSemantic's cache") {
    // Lloyd training runs while the plan is built, over the persisted
    // vector relation
    val poisoned = spark.range(8).select(col("id").as("vec_id"),
      expr("CASE WHEN id >= 0 THEN raise_error('poisoned vector') " +
        "ELSE array(1.0f, 2.0f) END").as("embedding"))
    releasesOnFailure(NearDup.dedupSemantic(spark, poisoned, 2, 2, 0.9))
  }

  test("a failing k-means training job releases kmeansAssign's cache") {
    // the train runs over the persisted vector relation the assignment
    // then reads; a failed train must not leave it cached
    val poisoned = spark.range(8).select(col("id").as("vec_id"),
      expr("CASE WHEN id >= 0 THEN raise_error('poisoned vector') " +
        "ELSE array(1.0f, 2.0f) END").as("embedding"))
    releasesOnFailure(graft.ops.Cluster.kmeansAssign(poisoned, 2, 2))
  }
}

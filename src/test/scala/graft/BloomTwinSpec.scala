package graft

import graft.ops.NearDup
import org.apache.spark.sql.functions._

/** Pins the oracle-checked twin `dedup_bloom_portable` to the
  * production `dedup_bloom` path (r17 VERDICT #6: the bloom summary was
  * the last cheaply-twinnable rows-only query). The twin computes the
  * EXACT per-row membership verdict the broadcast bloom filter
  * approximates, through the shared hashed-split relation, so:
  *
  *  - the twin's flagged count must equal the production summary's
  *    `n_exact_dup` (same sha2/split/join semantics, per row);
  *  - the production bloom count must dominate it (no false
  *    negatives) and stay within `n_new` (sanity).
  *
  * With the twin hash-checked against DuckDB, this closes the loop
  * oracle → twin → production without pretending the bloom's false
  * positives are portably reproducible.
  */
class BloomTwinSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("twin flagged count equals production n_exact_dup on the fixture") {
    val twin = NearDup.dedupBloomPortable(spark, sf01)
    val twinFlagged = twin.filter(col("in_corpus")).count()
    val twinNew = twin.count()
    val r = NearDup.dedupBloom(spark, sf01).collect().head
    val (nNew, nBloom, nExact) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(twinNew == nNew, s"new-batch size drifted: twin $twinNew vs $nNew")
    assert(twinFlagged == nExact,
      s"twin exact verdicts ($twinFlagged) != production n_exact_dup ($nExact)")
    assert(nBloom >= nExact && nBloom <= nNew,
      s"bloom count $nBloom outside [$nExact, $nNew]")
  }

  test("twin verdicts are exact on a crafted corpus") {
    import spark.implicits._
    // duplicate text pairs whose md5-nibble split puts one copy on each
    // side, plus unique texts on the new side: verdicts are knowable in
    // advance via the same split rule the operator applies
    val docs = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) s"shared text ${i / 2 % 20}" else s"unique $i"))
      .toDF("doc_id", "text")
    val isNew = docs
      .select(col("doc_id"), (substring(md5(col("doc_id").cast("string")), 1, 1) >= "8").as("n"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val corpusTexts = (0L until 200L).filter(!isNew(_))
      .map(i => if (i % 2 == 0) s"shared text ${i / 2 % 20}" else s"unique $i")
      .map(_.toLowerCase.trim).toSet
    val twin = NearDup.dedupBloomPortableOn(docs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(twin.keySet == isNew.filter(_._2).keySet)
    twin.foreach { case (id, verdict) =>
      val text = (if (id % 2 == 0) s"shared text ${id / 2 % 20}" else s"unique $id")
        .toLowerCase.trim
      assert(verdict == corpusTexts.contains(text),
        s"doc $id: got $verdict, expected ${corpusTexts.contains(text)}")
    }
  }
}

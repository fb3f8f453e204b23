package graft.sources

import org.apache.spark.sql.functions._

/** Generator-vs-engine cross-validation: the graft-docs connector
  * plants duplicates by a known deterministic rule, so the dedup
  * operators' findings can be checked EXACTLY against first
  * principles, not just for plausibility.
  */
class CorpusEndToEndSpec extends graft.SparkSpec {

  private val n = 2000L
  private val seed = 42L

  private lazy val corpus = spark.read.format("graft-docs")
    .option("numDocs", n).option("numPartitions", 4)
    .option("seed", seed).load()

  /** The planted-duplicate groups, recomputed from the generator rule:
    * content of id aliases to `id - id % 37` when the mix hits the 3%
    * gate; docs sharing a contentId form one exact-dup group.
    */
  private lazy val expectedGroups: Map[Long, Set[Long]] = {
    def contentId(id: Long): Long = {
      val probe = SyntheticDocs.genDoc(seed, id, 500, 80)
      val canonical = SyntheticDocs.genDoc(seed, id - id % 37, 500, 80)
      if (probe._1 == canonical._1) id - id % 37 else id
    }
    (0L until n).groupBy(contentId).collect {
      case (c, ids) if ids.length > 1 => c -> ids.toSet
    }
  }

  test("the generator actually plants duplicate groups") {
    assert(expectedGroups.nonEmpty, "no dup groups at this seed/size")
    assert(expectedGroups.values.map(_.size).sum > 20)
  }

  test("exact dedup recovers exactly the planted duplicate groups") {
    val got = corpus
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .collect()
      .map(_.getSeq[Long](1).toSet)
    val expected = expectedGroups.values.toSet
    assert(got.toSet == expected,
      s"engine found ${got.length} groups, generator planted ${expected.size}")
  }

  test("curationOver removes exactly the planted dups at stage 1") {
    val out = java.nio.file.Files.createTempDirectory("graft-cur").toString
    val run = graft.Pipelines.curationOver(spark, corpus, None, out)
    val plantedExtras = expectedGroups.values.map(_.size - 1).sum
    assert(run.input == n)
    assert(run.afterExactDedup == n - plantedExtras,
      s"exact dedup kept ${run.afterExactDedup}, expected ${n - plantedExtras}")
    // every later stage can only narrow
    val stages = Seq(run.input, run.afterExactDedup, run.afterNearDedup,
      run.afterDecontamination, run.afterQuality)
    stages.sliding(2).foreach { w =>
      assert(w(0) >= w(1), s"stage grew: $stages")
    }
    assert(run.trainDocs > 0 && run.bins > 0)
  }

  test("banded MinHash surfaces every planted identical pair") {
    val expectedPairs = expectedGroups.values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val row = graft.ops.NearDup.dedupMinhash(corpus, 64, 16, 0.4)
      .head()
    assert(row.getLong(0) >= expectedPairs,
      s"${row.getLong(0)} candidate pairs < $expectedPairs planted identical pairs")
  }
}

package graft

import graft.ops.{Relational, Sampling, Sources, TextSim, Transforms}
import org.apache.spark.sql.functions._

/** Deterministic-sampling invariants: reproducibility, membership
  * stability, split exhaustiveness, stratified quotas — plus the PII
  * rule-chain and the broadcast range-join plan.
  */
class SamplingSpec extends SparkSpec {

  test("sample_hash is reproducible and a subset of the input") {
    val a = Sampling.sampleHash(spark, sf).collect()
    val b = Sampling.sampleHash(spark, sf).collect()
    assert(a.sameElements(b))
    val total = Sources.table(spark, sf, "events").count()
    assert(a.length > 0 && a.length < total)
    // ~12.5% expected; allow wide slack on the small SF
    val rate = a.length.toDouble / total
    assert(rate > 0.05 && rate < 0.25, s"rate $rate out of range")
  }

  test("hash membership is stable under filtering (no rescoring)") {
    // sampling then filtering == filtering then sampling: membership
    // depends only on the row's own id, never on the rest of the corpus
    val ev = Sources.table(spark, sf, "events")
    val sampleThenFilter = ev
      .filter(Sampling.hexNibble(col("event_id")).isin("0", "1"))
      .filter(col("event_type") === "click").select("event_id")
    val filterThenSample = ev.filter(col("event_type") === "click")
      .filter(Sampling.hexNibble(col("event_id")).isin("0", "1"))
      .select("event_id")
    assert(sampleThenFilter.exceptAll(filterThenSample).isEmpty &&
      filterThenSample.exceptAll(sampleThenFilter).isEmpty)
  }

  test("sample_split is a partition: splits are disjoint and exhaustive") {
    val splits = Sampling.sampleSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == Sources.table(spark, sf, "events").count())
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
  }

  test("sample_stratified caps every stratum at n and is deterministic") {
    val df = Sampling.sampleStratified(spark, sf, n = 20)
    val perGroup = df.groupBy("event_type").count().collect()
    assert(perGroup.forall(_.getLong(1) <= 20))
    assert(df.collect().map(_.toString).sorted.sameElements(
      Sampling.sampleStratified(spark, sf, n = 20).collect()
        .map(_.toString).sorted))
  }

  test("sample_weighted keeps curated sources whole, downsamples the tail") {
    val full = Sources.table(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.sampleWeighted(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 10).map(i => s"src$i").foreach { src =>
      assert(kept.get(src).contains(full(src)), s"$src must be kept whole")
    }
    val tailFull = full.filter { case (k, _) =>
      k.stripPrefix("src").toInt >= 10 }.values.sum
    val tailKept = kept.filter { case (k, _) =>
      k.stripPrefix("src").toInt >= 10 }.values.sum
    assert(tailKept < tailFull, "tail sources must be downsampled")
  }

  test("pii_mask removes every long digit run and counts redactions") {
    val masked = Transforms.piiMask(spark, sf)
    assert(masked.filter(col("masked_name").rlike("[0-9]{4,}")).count() == 0)
    // Customer#NNNNNNNNN names → at least one redaction each
    assert(masked.filter(col("n_redactions") < 1).count() == 0)
  }

  test("pii_mask is idempotent (masking a masked string is a no-op)") {
    import spark.implicits._
    val once = Transforms.piiMask(spark, sf).select("masked_name")
    val twice = once.select(
      regexp_replace(regexp_replace(col("masked_name"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{4,}", "<ID>").as("masked_name"))
    assert(once.as[String].collect().sameElements(twice.as[String].collect()))
  }

  test("pack_bins: contiguous bins, bounded overflow, all docs packed") {
    val budget = 256L
    val df = Sampling.packBins(spark, sf, budget).collect()
    assert(df.length == Sources.table(spark, sf, "documents").count())
    val bySourceBin = df.groupBy(r => (r.getString(1), r.getLong(3)))
    bySourceBin.foreach { case ((src, bin), rows) =>
      val tokens = rows.map(_.getLong(2)).sum
      val maxDoc = rows.map(_.getLong(2)).max
      // greedy fill: a bin exceeds the budget by at most its last doc
      assert(bin == 0 || tokens < budget + maxDoc,
        s"$src bin $bin holds $tokens tokens (budget $budget)")
    }
    // bins are contiguous per source: 0..max with no gaps
    df.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val bins = rows.map(_.getLong(3)).distinct.sorted.toSeq
      assert(bins == (0L to bins.max).toSeq,
        s"$src bins not contiguous: $bins")
    }
  }

  test("decontaminate flags only train-split docs") {
    val flagged = graft.ops.NearDup.decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(flagged.nonEmpty)
    val testDocs = Sources.table(spark, sf, "documents")
      .filter(Sampling.hexNibble(col("doc_id")) >= "e")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.intersect(testDocs).isEmpty,
      "held-out docs must never be flagged as contaminated train docs")
  }

  test("decontaminateAgainst flags exactly the shared-trigram train docs") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares "beta gamma delta"
      (2L, "one two three four five"),          // clean
      (3L, "red orange yellow green blue")      // shares "orange yellow green"
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "zzz beta gamma delta qqq"),
      (101L, "ppp orange yellow green www")
    ).toDF("doc_id", "text")
    val flagged = graft.ops.NearDup.decontaminateAgainst(train, eval)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L, 3L),
      s"expected docs 1 and 3 contaminated, got $flagged")
    assert(flagged.values.forall(_ >= 1L))
  }

  test("pack_concat bins agree with pack_bins and concat in doc order") {
    val bins = Sampling.packBins(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(3)) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val packed = Sampling.packConcat(spark, sf).collect()
    assert(packed.map(r => (r.getString(0), r.getLong(1))).toSet ==
      bins.keySet, "bin key sets differ")
    val texts = Sources.table(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    packed.foreach { r =>
      val ids = bins((r.getString(0), r.getLong(1)))
      assert(r.getLong(2) == ids.length, "n_docs mismatch")
      assert(r.getString(4) == ids.map(texts).mkString("\n"),
        s"packed cell out of order for bin ${(r.getString(0), r.getLong(1))}")
    }
    // the bin aggregate reuses the window's source partitioning: one
    // hash exchange end to end (plus the final presentation sort)
    val p = Sampling.packConcat(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"bin aggregate should reuse the window exchange:\n${p.take(1500)}")
  }

  test("sample_quality keeps tiered hash buckets per quality verdict") {
    val verdicts = TextSim.textQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("quality_ok")))
      .toMap
    val alphabet = "0123456789abcdef"
    val expected = verdicts.filter { case (id, ok) =>
      val nib = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.head
      alphabet.indexOf(nib) + 1 <= (if (ok) 14 else 4)
    }.keySet
    val got = Sampling.sampleQuality(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected, "membership drifted from the tier rule")
    // the tiers actually bite: pass-rate for ok docs ≫ for bad docs
    val okKeep = got.count(verdicts(_)).toDouble /
      math.max(verdicts.count(_._2), 1)
    val badKeep = got.count(!verdicts(_)).toDouble /
      math.max(verdicts.count(!_._2), 1)
    assert(okKeep > badKeep, s"tiering inverted: $okKeep vs $badKeep")
  }

  test("mix_rates caps rates at 1 and projects floor(rate * tokens)") {
    val budget = 20000.0
    val rows = Sampling.mixRates(spark, sf, budget).collect()
    val share = budget / rows.length
    rows.foreach { r =>
      val (n, rate, proj) = (r.getLong(1), r.getDouble(2), r.getLong(3))
      val exact = math.min(1.0, share / n)
      assert(math.abs(rate - exact) < 1e-6, s"rate mismatch for ${r.getString(0)}")
      assert(proj == math.floor(exact * n).toLong, "projection mismatch")
      assert(proj <= n, "cannot keep more tokens than exist")
      if (n <= share) assert(rate == 1.0, "under-budget source must keep all")
    }
  }

  test("join_range broadcasts the tier table (no shuffle of the fact)") {
    val df = Relational.joinRange(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"range join must broadcast the tiny side:\n${p.take(1500)}")
    // tiers partition the non-null in-range values exactly
    val n = df.agg(sum("n")).collect()(0).getLong(0)
    val expected = Sources.table(spark, sf, "events")
      .filter(col("value") >= 0.0 && col("value") < 500.0).count()
    assert(n == expected)
  }
}

package graft

import graft.ops.{Ann, NearDup, Sources, TextSim}
import org.apache.spark.sql.functions._

/** Properties for the LLM-pipeline operators: near-dup detectors agree
  * with exact Jaccard, ANN is a subset of brute force with identical
  * scores, fingerprints collide exactly for duplicated text.
  */
class TextSimSpec extends SparkSpec {

  test("dedup_text groups sum to the corpus size") {
    val d = TextSim.dedupText(spark, sf)
    val total = Sources.table(spark, sf, "documents").count()
    val grouped = d.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(grouped == total)
  }

  test("sim_search returns k rows with cos_sim in [-1,1] descending") {
    val r = TextSim.simSearch(spark, sf, queryId = 0L, k = 10).collect()
    assert(r.length == 10)
    val sims = r.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("sim_ann_lsh scores match brute force for the vectors it returns") {
    val exact = TextSim.simSearch(spark, sf, queryId = 0L, k = 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Ann.simAnnLsh(spark, sf, queryId = 0L, k = 10).collect()
    assert(ann.nonEmpty, "multi-probe LSH should find candidates")
    ann.foreach { r =>
      assert(exact(r.getLong(0)) == r.getDouble(1),
        s"ANN cos_sim for vec ${r.getLong(0)} diverges from brute force")
    }
  }

  test("sim_ann_ivf scores match brute force for the vectors it returns") {
    val exact = TextSim.simSearch(spark, sf, queryId = 0L, k = 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Ann.simAnnIvf(spark, sf, queryId = 0L, k = 10).collect()
    assert(ivf.nonEmpty, "query's own probe lists must hold candidates")
    ivf.foreach { r =>
      assert(exact(r.getLong(0)) == r.getDouble(1),
        s"IVF cos_sim for vec ${r.getLong(0)} diverges from brute force")
    }
  }

  test("lang_id marks mostly-English docs en on a synthetic corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and looked to the door", "en", "x", 10L),
      (2L, "zzz qqq www eee rrr ttt yyy uuu iii ooo", "und", "x", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("graft_langid_docs")
    // run the same expression pipeline on the synthetic frame
    val toks = docs.select(col("doc_id"),
      explode(TextSim.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token").isin(TextSim.enStopwords: _*), 1L)
          .otherwise(0L)).as("n_stop"))
      .withColumn("predicted",
        when(col("n_stop").cast("double") / col("n_tokens") >= 0.05, "en")
          .otherwise("und"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(toks(1L) == "en" && toks(2L) == "und")
  }

  test("doc_fingerprint collides exactly for identical text") {
    import spark.implicits._
    val fp = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.xxhash64(c)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five"))
      .toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"),
      TextSim.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"))
        .as("gram"))
      .groupBy("doc_id").agg(min(fp(col("gram"))).as("fingerprint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grams(1L) == grams(2L))
    assert(grams(1L) != grams(3L))
  }

  test("dedup_ngram finds a planted near-duplicate pair, not unrelated docs") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 30) "changed" else s"tok$i")
      .mkString(" ")
    val other = (100 to 130).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base, "en", "t", 1L), (2L, nearDup, "en", "t", 1L),
      (3L, other, "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ngram").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = NearDup.dedupNgram(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash near-dup pairs have small Hamming distance for similar docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (200 to 240).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, base, "en", "t", 1L), (2L, nearDup, "en", "t", 1L),
      (3L, other, "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-simhash").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = NearDup.simhashPairs(spark, tmp, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("text analyzers accept in-memory relations (DataFrame overloads)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "go go go go go go go go go go"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val lang = TextSim.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(lang(1L) == "en" && lang(3L) == "und")
    val rep = TextSim.textRepetition(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("repetitive")))
      .toMap
    assert(rep(2L) && !rep(3L))
    val ent = TextSim.textEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("entropy"))).toMap
    assert(ent(2L) == 0.0, "single-token doc must have zero entropy")
    assert(ent(3L) > ent(1L), "all-distinct beats repeated-stopword text")
    assert(TextSim.dedupText(docs).count() == 3)
    assert(TextSim.textTfidf(docs, 2).groupBy("doc_id").count()
      .collect().forall(_.getLong(1) <= 2))
  }

  test("near-dup operators accept in-memory relations (DataFrame overloads)") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " tail"), (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    // same corpus, no parquet round-trip: the library path a user takes
    val pairs = NearDup.dedupNgram(docs, 3, 20, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    val sigs = NearDup.minhashSignatures(docs, 16).collect()
    assert(sigs.length == 3 &&
      sigs.forall(_.getSeq[Long](1).length == 16))
    val summary = NearDup.dedupMinhash(docs, 64, 16, 0.4).collect()
    assert(summary.length == 1 &&
      summary(0).getLong(0) >= 1L, "near-dup pair (1,2) must be a candidate")
  }

  test("dedup_minhash emits a single deterministic summary row") {
    val r1 = NearDup.dedupMinhash(spark, sf).collect()
    assert(r1.length == 1)
    val r2 = NearDup.dedupMinhash(spark, sf).collect()
    assert(r1.toSeq == r2.toSeq, "fixed-seed MinHash must be deterministic")
  }

  test("text_repetition flags looping text, passes diverse text") {
    import spark.implicits._
    val looping = "a b a b a b"                       // top bigram "a b" ×3 of 5
    val diverse = (1 to 12).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, looping, "en", "t", 1L), (2L, diverse, "en", "t", 1L),
      (3L, "solo", "en", "t", 1L)) // <2 words: excluded by contract
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-rep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextSim.textRepetition(spark, tmp).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L).getDouble(3) == 0.6 && r(1L).getDouble(5) == 0.6667)
    assert(r(1L).getBoolean(6), "looping doc must be flagged")
    assert(r(2L).getDouble(5) == 0.0 && !r(2L).getBoolean(6))
  }

  test("text_repetition edge cases: single bigram, all-identical words") {
    import spark.implicits._
    // 2 words: one bigram — exercises the size(bg)==1 short-circuit
    // that keeps the fold off sequence(1, 0)'s DESCENDING range;
    // all-identical: every bigram equal — run spans the whole array
    val docs = Seq((1L, "alpha beta"), (2L, "x x x x x")).toDF("doc_id", "text")
    val r = TextSim.textRepetition(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) == 1L && r(1L).getDouble(3) == 1.0,
      "one bigram is 100% of itself")
    assert(r(1L).getDouble(5) == 0.0, "two distinct words: no duplication")
    assert(r(1L).getBoolean(6),
      "sole bigram = 100% > 0.18 — flagged by the threshold rule " +
        "(Gopher applies min-length cutoffs upstream of this signal)")
    assert(r(2L).getLong(2) == 4L && r(2L).getDouble(3) == 1.0,
      "identical words: the single bigram takes all 4 slots")
    assert(r(2L).getDouble(5) == 0.8 && r(2L).getBoolean(6))
  }

  test("text_bigram_lm scores match hand-computed conditional NLLs") {
    import spark.implicits._
    // corpus bigrams: "a b"×2 (doc1, doc3), "a c"×1, head 'a' appears
    // 3 times ⇒ P(b|a)=2/3, P(c|a)=1/3
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b")).toDF("doc_id", "text")
    val r = TextSim.textBigramLm(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    def nll(p: Double) = BigDecimal(-math.log(p)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L) == ((1L, nll(2.0 / 3))) && r(3L) == r(1L))
    assert(r(2L) == ((1L, nll(1.0 / 3))))
    // order-awareness: unigram-identical but scrambled text scores worse
    val order = Seq((1L, "x y x y x y"), (2L, "y x y y x x")).toDF("doc_id", "text")
    val s2 = TextSim.textBigramLm(order).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(s2(2L) > s2(1L), s"scrambled doc must score higher: $s2")
  }

  test("window_anomaly flags match a brute-force trailing-frame recompute") {
    val out = graft.ops.TimeOps.windowAnomaly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ev = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    var expected = 0
    ev.groupBy(_._1).foreach { case (uid, es) =>
      val ordered = es.sortBy(e => (e._3, e._2))
      ordered.indices.foreach { i =>
        val f = ordered.slice(math.max(0, i - 9), i + 1).map(_._4)
        if (f.length >= 5) {
          val mu = f.sum / f.length
          val v = f.map(x => (x - mu) * (x - mu)).sum / (f.length - 1)
          if (v > 0) {
            val z = (ordered(i)._4 - mu) / math.sqrt(v)
            if (math.abs(z) > 2.0 + 1e-4) {
              expected += 1
              val got = out.get((uid, ordered(i)._2))
              assert(got.isDefined, s"missing flag for $uid/${ordered(i)._2}")
              assert(math.abs(got.get - z) < 5e-3, s"z mismatch: ${got.get} vs $z")
            }
          }
        }
      }
    }
    // every flag accounted for (allowing rounded-boundary slack)
    assert(out.size >= expected && out.size > 0,
      s"flag count drifted: got ${out.size}, brute force $expected")
  }
}

package graft

import graft.ops.{Features, Relational, Sources, TextSim, TimeOps, Transforms}
import org.apache.spark.sql.functions._

/** Round-5 widening surface: distinct/bag set operations, null-safe
  * joins, target/bucket/robust feature encoders, text normalization,
  * corpus + vector profiles, and gap statistics — behavioral
  * invariants plus the broadcast plan shapes that matter at scale.
  */
class WideningSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("set_except_all preserves multiplicity per key") {
    val o = Sources.table(spark, sf, "orders")
    val expected = o.groupBy("o_custkey")
      .agg((count(lit(1)) -
        count(when(col("o_orderstatus") === "O", 1))).as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Relational.setExceptAll(spark, sf)
      .groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("union_distinct equals the distinct of union_all semantics") {
    val rows = Transforms.unionDistinct(spark, sf).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(pairs.distinct.length == pairs.length, "duplicate pairs survived")
    val ev = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
    val expected = ev.filter(col("value") >= 50.0 ||
        col("event_type") === "click")
      .select("user_id", "event_type").distinct().count()
    assert(rows.length.toLong == expected)
  }

  test("join_nullsafe keeps the NULL-user bucket and stays a hash join") {
    val df = Relational.joinNullsafe(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"null-safe equality must stay an equi hash join:\n${p.take(1500)}")
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "clicks must not exceed events")
    }
    val ev = Sources.table(spark, sf, "events")
    val nullClicks = ev.filter(col("user_id").isNull &&
      col("event_type") === "click").count()
    val hasNullRow = rows.exists(_.isNullAt(0))
    assert(hasNullRow == (nullClicks > 0),
      "NULL bucket presence must track null-user clicks")
  }

  test("encode_target shrinks each category toward the global mean") {
    val ev = Sources.table(spark, sf, "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val mu = ev.agg(avg("value")).head().getDouble(0)
    val rawMeans = ev.groupBy("event_type").agg(avg("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Features.encodeTarget(spark, sf).dropDuplicates("event_type")
      .collect().foreach { r =>
        val (et, enc) = (r.getString(1), r.getDouble(2))
        val raw = rawMeans(et)
        val lo = math.min(raw, mu) - 1e-6
        val hi = math.max(raw, mu) + 1e-6
        assert(enc >= lo && enc <= hi,
          s"$et: encoded $enc outside [$lo, $hi]")
      }
  }

  test("encode_bucket yields 10 roughly equal deciles matching the cuts") {
    val rows = Features.encodeBucket(spark, sf).collect()
    val n = rows.length
    val byBucket = rows.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    assert(byBucket.keySet.subsetOf((1L to 10L).toSet))
    byBucket.values.foreach { c =>
      assert(c > n / 20 && c < n / 5, s"decile sized $c of $n")
    }
    // per-row recompute against independently collected cut points.
    // NOTE (l_orderkey, l_linenumber) is NOT unique in the synthetic
    // lineitem, so compare sorted multisets, never a keyed join.
    val cuts = Sources.table(spark, sf, "lineitem")
      .agg(expr("percentile(l_extendedprice," +
        " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"))
      .head().getSeq[Double](0)
    val expected = Sources.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        1L + cuts.count(r.getDouble(2) > _)))
      .sortBy(t => (t._1, t._2, t._3))
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.sameElements(expected))
  }

  test("scale_robust centers the median at zero") {
    val med = Features.scaleRobust(spark, sf)
      .agg(expr("percentile(value_robust, 0.5)")).head().getDouble(0)
    assert(math.abs(med) < 1e-6, s"scaled median $med != 0")
  }

  test("text_normalize is idempotent and canonical") {
    import spark.implicits._
    // corpus docs PLUS adversarial shapes: stripping '@' creates fresh
    // edge whitespace, which only a post-collapse trim canonicalizes
    val adversarial = Seq(
      (100001L, "@@@ hello @@@"), (100002L, "  Tabs\tand\nnewlines  "),
      (100003L, "½unicode¾ prefix"), (100004L, "...!?..."),
      (100005L, ""), (100006L, "@#$%^&*"))
      .toDF("doc_id", "text")
    val input = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").unionByName(adversarial)
    val norm = TextSim.textNormalize(input)
    val again = TextSim.textNormalize(
      norm.select(col("doc_id"), col("norm_text").as("text")))
    val joined = norm.select(col("doc_id"), col("norm_text").as("once"))
      .join(again.select(col("doc_id"), col("norm_text").as("twice")), "doc_id")
    assert(joined.filter(col("once") =!= col("twice")).count() == 0,
      "normalization must be a fixpoint")
    norm.select("norm_text").collect().foreach { r =>
      val t = r.getString(0)
      assert(!t.contains("  "), "double space survived")
      assert(t == t.toLowerCase, "uppercase survived")
      assert(t == t.trim, "edge whitespace survived")
    }
  }

  test("corpus_stats counts agree with independent per-doc recounts") {
    val row = TextSim.corpusStats(spark, sf).head()
    val docs = Sources.table(spark, sf, "documents")
    assert(row.getLong(0) == docs.count())
    val totalToks = docs.select(
      size(filter(split(lower(trim(col("text"))), "\\s+"),
        t => t =!= "")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(row.getLong(1) == totalToks)
    val ttr = row.getDouble(4)
    assert(ttr > 0.0 && ttr <= 1.0, s"type-token ratio $ttr out of range")
  }

  test("filter_len_band keeps ~90% per language, all inside the band") {
    val docs = Sources.table(spark, sf, "documents")
    val total = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextSim.filterLenBand(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.foreach { case (lang, k) =>
      val frac = k.toDouble / total(lang)
      assert(frac > 0.7 && frac <= 1.0, s"$lang kept $frac")
    }
  }

  test("embed_norms matches a driver-side recompute on sample rows") {
    val rows = TextSim.embedNorms(spark, sf).limit(5).collect()
    val raw = Sources.table(spark, sf, "embeddings")
      .filter(col("vec_id") < 5)
      .collect().map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding"))
        val norm = math.sqrt(
          v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
        r.getLong(r.fieldIndex("vec_id")) ->
          BigDecimal(norm).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
      }.toMap
    rows.foreach { r =>
      assert(r.getDouble(2) == raw(r.getLong(0)),
        s"norm mismatch for vec ${r.getLong(0)}")
    }
  }

  test("embed_label_stats partitions the vector count") {
    val stats = TextSim.embedLabelStats(spark, sf).collect()
    val total = Sources.table(spark, sf, "embeddings").count()
    assert(stats.map(_.getLong(1)).sum == total)
    stats.foreach(r => assert(r.getDouble(2) > 0.0))
  }

  test("gap_stats bounds: min <= avg <= max, gaps non-negative") {
    TimeOps.gapStats(spark, sf).collect().foreach { r =>
      val (mn, mx, av) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mn >= 0, "time went backwards")
      assert(mn <= av && av <= mx, s"avg $av outside [$mn, $mx]")
    }
  }

  test("gap_stats reuses the window's exchange for the aggregate") {
    val p = plan(TimeOps.gapStats(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange:\n${p.take(2000)}")
  }

  test("bpe_pairs counts match a driver-side recount") {
    val got = TextSim.bpePairs(spark, sf, 30).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val counts = Sources.table(spark, sf, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .filter(_.length >= 2)
      .flatMap(t => (0 until t.length - 1).map(i => t.substring(i, i + 2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (pair, n) =>
      assert(counts(pair) == n, s"count mismatch for '$pair'")
    }
    // top-k really is the top: every kept count >= every dropped count
    val minKept = got.map(_._2).min
    val dropped = counts.view.filterKeys(k => !got.exists(_._1 == k)).values
    assert(dropped.forall(_ <= minKept))
  }

  test("dedup_containment finds the quote-inclusion Jaccard misses") {
    import spark.implicits._
    // B wholly contains A's text; C is unrelated. Distinct filler
    // keeps every shingle's document frequency at 1 (≤ maxDf).
    val shortDoc = (1 to 8).map(i => s"tok$i").mkString(" ")
    val longDoc = shortDoc + " " +
      (9 to 60).map(i => s"pad$i").mkString(" ")
    val other = (1 to 60).map(i => s"alt$i").mkString(" ")
    val docs = Seq((1L, shortDoc), (2L, longDoc), (3L, other))
      .toDF("doc_id", "text")
    val rows = graft.ops.NearDup.dedupContainment(docs, 3, 20, 0.5)
      .collect()
    assert(rows.length == 1, s"expected exactly the (1,2) pair, got ${rows.length}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // all 6 of A's shingles appear in B: containment A-in-B = 1.0
    assert(r.getDouble(2) == 1.0, s"contain_a_in_b = ${r.getDouble(2)}")
    assert(r.getDouble(3) < 0.5, "long doc is not contained in short")
  }

  test("chunk_docs windows cover every token and overlap correctly") {
    import spark.implicits._
    val text = (1 to 150).map(i => s"t$i").mkString(" ")
    val rows = TextSim.chunkDocs(
        Seq((1L, text), (2L, "short doc")).toDF("doc_id", "text"),
        size = 64, overlap = 16)
      .collect()
    val d1 = rows.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    // 150 tokens, stride 48: starts 0/48/96 -> sizes 64/64/54
    assert(d1.map(_.getLong(2)).toSeq == Seq(64L, 64L, 54L))
    val chunks = d1.map(_.getString(3).split(" ").toSeq)
    // stride-aligned reconstruction covers the doc exactly
    val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(16))
    assert(rebuilt == text.split(" ").toSeq, "token coverage broken")
    // consecutive chunks share exactly the overlap suffix/prefix
    chunks.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).takeRight(16) == w(1).take(16), "overlap mismatch")
    }
    // a doc shorter than one window is a single whole chunk
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(3) == "short doc")
  }

  test("embed_quantize error is bounded by the 255-level grid") {
    val e = Sources.table(spark, sf, "embeddings")
    val maxSpan = e.select(posexplode(col("embedding")
        .cast("array<double>")).as(Seq("dim", "x")))
      .groupBy("dim").agg((max(col("x")) - min(col("x"))).as("span"))
      .agg(max("span")).head().getDouble(0)
    val bound = maxSpan / 510.0 + 1e-9
    TextSim.embedQuantize(spark, sf).collect().foreach { r =>
      assert(r.getDouble(1) <= bound + 5e-7, // 6-dp output rounding
        s"vec ${r.getLong(0)}: max_abs_err ${r.getDouble(1)} > $bound")
      assert(r.getDouble(2) <= r.getDouble(1) + 5e-7,
        "mean err exceeds max err")
    }
  }

  test("projection-only queries never hash-shuffle; set ops pay one") {
    def hashEx(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(plan(df)).size
    // pure projections: the only exchange is the presentation sort
    assert(hashEx(TextSim.textNormalize(spark, sf)) == 0)
    assert(hashEx(TextSim.embedNorms(spark, sf)) == 0)
    // distinct-union and EXCEPT ALL: one keyed exchange each, with
    // partial (map-side) aggregation ahead of it
    val ud = plan(Transforms.unionDistinct(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(ud).size == 1 &&
      "HashAggregate".r.findAllIn(ud).size == 2, s"union_distinct:\n$ud")
    assert(hashEx(Relational.setExceptAll(spark, sf)) == 1)
  }

  test("fit-transform encoders broadcast the statistics, not the data") {
    Seq(Features.encodeTarget(spark, sf),
      Features.scaleRobust(spark, sf),
      TextSim.filterLenBand(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastExchange"),
        s"fit stats must broadcast:\n${p.take(1200)}")
    }
    // encode_bucket went one step further in r12: the fit result is
    // embedded as LITERALS (Num.exactPercentiles collects the 9 cut
    // points driver-side), so the transform needs NO join machinery at
    // all — assert the stronger property: a pure projection whose only
    // exchange is the presentation sort
    val eb = plan(Features.encodeBucket(spark, sf))
    assert(!eb.contains("BroadcastExchange") && !eb.contains("Join"),
      s"encode_bucket must be joinless:\n${eb.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(eb).isEmpty,
      s"encode_bucket must not shuffle the fact table:\n${eb.take(1200)}")
  }
}

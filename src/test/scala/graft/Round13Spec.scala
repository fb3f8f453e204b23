package graft

import graft.ops.{NearDup, Sampling, Sinks, Sources, TextSim}
import org.apache.spark.sql.functions._

/** Round-13 operators: corpus-level exact-substring scrub,
  * quality-priority dedup survivors, temperature-scaled language
  * mixing, and small-file compaction. Each test pins an invariant the
  * DuckDB hash-compare cannot see (crafted-corpus exactness, guard
  * behavior, cross-operator consistency, file-level effects).
  */
class Round13Spec extends SparkSpec {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def sha(s: String): String =
    spark.sql(s"SELECT sha2('$s', 256)").collect()(0).getString(0)

  test("scrub_spans removes only the non-first occurrence of a shared span") {
    val span = "a b c d e f g h"
    val out = NearDup.scrubSpans(docsOf(
      1L -> s"$span x1 x2",
      2L -> s"y1 y2 $span",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9"), 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((10L, 0L, sha(s"$span x1 x2"))),
      "doc 1 holds the globally-first occurrence — must keep it intact")
    assert(out(2L) == ((10L, 8L, sha("y1 y2"))),
      "doc 2's copy of the span must be scrubbed, its own prefix kept")
    assert(out(3L) == ((9L, 0L, sha("u1 u2 u3 u4 u5 u6 u7 u8 u9"))),
      "a unique doc passes through byte-identical")
  }

  test("scrub_spans scrubs a WITHIN-doc repeat, keeping the first copy") {
    val span = "p q r s t u v w"
    val out = NearDup.scrubSpans(
      docsOf(7L -> s"$span z $span"), 8).collect()(0)
    assert(out.getLong(1) == 17L)
    assert(out.getLong(2) == 8L,
      s"exactly the second in-doc occurrence must go, got ${out.getLong(2)}")
    assert(out.getString(3) == sha(s"$span z"))
  }

  test("scrub_spans leaves a doc shorter than the span width untouched") {
    // guards the sequence(0, negative) descend pitfall: a short doc
    // must contribute NO occurrences, not wrap-around ones
    val out = NearDup.scrubSpans(docsOf(
      1L -> "a b c",
      2L -> "a b c"), 8)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((3L, 0L)),
      "3-token docs carry no 8-gram — nothing may be scrubbed")
  }

  test("scrub_spans fully covers an exact duplicate doc") {
    val t = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"
    val out = NearDup.scrubSpans(docsOf(1L -> t, 2L -> t), 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((0L, sha(t))))
    assert(out(2L) == ((10L, sha(""))),
      "every position of the duplicate doc sits under some duplicated " +
        "8-gram — the whole doc must scrub away to the empty string")
  }

  test("scrub_spans on the fixture: token conservation and non-vacuity") {
    val r = NearDup.scrubSpans(spark, sf).collect()
    val corpusTokens = Sources.table(spark, sf, "documents")
      .select(explode(TextSim.tokens(trim(col("text")))).as("t"))
      .filter(col("t") =!= "").count()
    assert(r.map(_.getLong(1)).sum == corpusTokens,
      "per-doc n_tokens must partition the corpus token stream")
    assert(r.forall(row => row.getLong(2) >= 0L &&
      row.getLong(2) <= row.getLong(1)))
    assert(r.exists(_.getLong(2) > 0L),
      "fixture corpus contains duplicated 8-grams — a zero scrub " +
        "means the operator went vacuous")
  }

  test("dedup_survivor picks the max-n_chars member of every cluster") {
    val surv = NearDup.dedupSurvivor(spark, sf).collect()
    assert(surv.nonEmpty, "sf0.001 has near-dup clusters; none found")
    val members = NearDup.dedupCluster(spark, sf)
      .join(Sources.table(spark, sf, "documents")
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .collect()
      .groupBy(_.getLong(1)) // cluster_id
      .map { case (cid, rows) =>
        cid -> rows.map(r => (r.getLong(0), r.getLong(2)))
      }
    assert(surv.map(_.getLong(0)).toSet == members.keySet,
      "survivor rows must cover exactly the dedupCluster components")
    surv.foreach { row =>
      val (cid, nDocs, sid, sChars, dropped) = (row.getLong(0),
        row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      val mem = members(cid)
      assert(nDocs == mem.length && dropped == nDocs - 1)
      val maxChars = mem.map(_._2).max
      assert(sChars == maxChars)
      // the declared policy: max n_chars, then MIN doc_id as tie-break
      val expected = mem.filter(_._2 == maxChars).map(_._1).min
      assert(sid == expected,
        s"cluster $cid: survivor $sid != policy pick $expected")
    }
  }

  test("mix_temperature: shares are distributions, boost anti-monotone") {
    val r = Sampling.mixTemperature(spark, sf).collect()
      .map(row => (row.getString(0), row.getLong(1), row.getDouble(2),
        row.getDouble(3), row.getDouble(4)))
    assert(r.length >= 2)
    assert(math.abs(r.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(r.map(_._4).sum - 1.0) < 1e-4)
    // alpha < 1 flattens: boost strictly decreases as n_docs grows
    val byN = r.sortBy(_._2).toSeq
    byN.sliding(2).foreach { case Seq(a, b) =>
      if (a._2 < b._2) assert(a._5 >= b._5,
        s"boost must not increase with n_docs: $a then $b")
    }
    val (minRow, maxRow) = (byN.head, byN.last)
    assert(minRow._2 < maxRow._2, "fixture langs are skewed")
    assert(minRow._5 > 1.0 && maxRow._5 < 1.0,
      "temperature must upsample the smallest lang, downsample the largest")
  }

  test("mix_temperature: uniform inputs get boost exactly 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mixtemp").toString
    Seq.tabulate(40)(i => (i.toLong, "t", if (i % 2 == 0) "aa" else "bb",
        "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Sampling.mixTemperature(spark, dir).collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(row.getDouble(2) == 0.5 && row.getDouble(3) == 0.5 &&
        row.getDouble(4) == 1.0)
    }
  }

  test("DoubleOrderBits preserves double total order exactly") {
    import graft.functions.DoubleOrderBits
    val ob = DoubleOrderBits(null)
    val specials = Seq(Double.NegativeInfinity, -1e300, -1.0, -1e-300,
      -0.0, 0.0, 1e-300, 1.0, 1e300, Double.PositiveInfinity, Double.NaN)
    val rnd = new scala.util.Random(13)
    val ds = specials ++ Seq.fill(500)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filterNot(_.isNaN)
    for (a <- ds; b <- ds)
      assert(java.lang.Long.compare(ob.orderBits(a), ob.orderBits(b)).sign ==
        java.lang.Double.compare(a, b).sign,
        s"order mismatch for $a vs $b")
  }

  test("agg_minmax_by packed plan equals the struct formulation, " +
    "including ties") {
    import graft.ops.{Aggregates, Sources}
    val viaStruct = Sources.table(spark, sf, "events")
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("event_id").isNotNull)
      .groupBy("event_type")
      .agg(max(struct(col("value").as("v"), col("event_id").as("id")))
        .as("mx"),
        min(struct(col("value").as("v"), col("event_id").as("id")))
          .as("mn"))
      .select(col("event_type"), col("mx.id").as("max_value_event"),
        round(col("mx.v"), 4).as("max_value"),
        col("mn.id").as("min_value_event"),
        round(col("mn.v"), 4).as("min_value"))
      .orderBy("event_type").collect().toSeq
    val viaPacked = Aggregates.aggMinmaxBy(spark, sf)
      .orderBy("event_type").collect().toSeq
    assert(viaPacked == viaStruct)
    // the whole point: the packed form must hash-aggregate
    val p = Aggregates.aggMinmaxBy(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate") && p.contains("HashAggregate"),
      s"packed argmax must not fall back to SortAggregate:\n${p.take(1200)}")
  }

  test("agg_minmax_by is correct with NEGATIVE values (the unsigned-" +
    "shift regression the fixture cannot see)") {
    import spark.implicits._
    // {-1.0 (id 7), +100.0 (id 9)}: the broken unsigned
    // reinterpretation ranked -1.0 ABOVE +100.0 and returned id 7 as
    // the argmax; the order-preserving +2^63 shift must return id 9
    val ev = Seq(
      (7L, "a", -1.0), (9L, "a", 100.0),
      (1L, "b", -5.5), (2L, "b", -2.25), (3L, "b", -2.25))
      .toDF("event_id", "event_type", "value")
    val r = graft.ops.Aggregates.aggMinmaxBy(ev)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getLong(3), x.getDouble(4)))
      .toMap
    assert(r("a") == ((9L, 100.0, 7L, -1.0)))
    // group b: all negative; max = -2.25 with TIE on ids 2,3 -> the
    // declared struct-lexicographic tie-break takes the LARGER id (3)
    assert(r("b") == ((3L, -2.25, 1L, -5.5)))
  }

  test("dedup_time_window raises on pre-1970 timestamps instead of " +
    "corrupting the packed recovery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dtw").toString
    Seq((5L, 1L, "x", new java.sql.Timestamp(-1000L), 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "payload")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Exception] {
      graft.ops.TimeOps.dedupTimeWindow(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("pre-1970")))
  }

  test("agg_minmax_by rejects ids outside the packable range") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("minmax").toString
    Seq((Long.MaxValue, "a", 1.0), (1L, "a", 2.0))
      .toDF("event_id", "event_type", "value")
      .withColumn("user_id", lit(1L)).withColumn("ts", current_timestamp())
      .withColumn("payload", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Exception] {
      graft.ops.Aggregates.aggMinmaxBy(spark, dir).collect()
    }
    assert(e.getMessage.contains("packable range") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("packable range"))
  }

  test("compact rewrites a fragmented dir into target-sized files") {
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val df = Sources.table(spark, sf, "events")
    df.repartition(20).write.mode("overwrite").parquet(s"$base/in")
    val (nIn, nOut) = Sinks.compact(spark, s"$base/in", s"$base/out",
      targetFileBytes = 1024L * 1024 * 1024)
    assert(nIn == 20 && nOut == 1,
      s"tiny input must compact 20 -> 1, got $nIn -> $nOut")
    val a = spark.read.parquet(s"$base/in").collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$base/out").collect().map(_.toString).sorted
    assert(a.sameElements(b), "compaction must preserve content exactly")
    // sizing honors the target: ask for ~quarter-input files
    val bytes = new java.io.File(s"$base/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (_, nOut2) = Sinks.compact(spark, s"$base/in", s"$base/out4",
      targetFileBytes = math.max(1L, bytes / 4))
    assert(nOut2 >= 4, s"quarter-size target must yield >= 4 files, got $nOut2")
    // in-place (and nested) compaction would destroy the input under
    // the lazy scan — must refuse up front, input untouched
    val e = intercept[IllegalArgumentException] {
      Sinks.compact(spark, s"$base/in", s"$base/in")
    }
    assert(e.getMessage.contains("overlaps"))
    intercept[IllegalArgumentException] {
      Sinks.compact(spark, s"$base/in", s"$base/in/sub")
    }
    assert(spark.read.parquet(s"$base/in").count() == df.count())
    // a hive-partitioned layout compacts via the recursive listing
    val pdir = s"$base/part"
    df.limit(100).write.partitionBy("event_type").parquet(pdir)
    val (nPIn, nPOut) = Sinks.compact(spark, pdir, s"$base/pout",
      targetFileBytes = 1024L * 1024 * 1024)
    assert(nPIn >= 2 && nPOut == 1,
      s"partitioned input must list recursively: $nPIn -> $nPOut")
    assert(spark.read.parquet(s"$base/pout").count() == 100)
  }
}

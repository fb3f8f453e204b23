package graft

import graft.ops.{Aggregates, Features, NearDup, Relational, Sources, TimeOps}
import org.apache.spark.sql.functions._

/** Feature-prep + CDC + fuzzy-matching surface: scaling bounds,
  * encoding partition properties, edit-distance exactness on a crafted
  * vocabulary, snapshot-diff verdict algebra, rolling-median
  * brute-force agreement — and the broadcast/no-cartesian plan shapes
  * that keep these viable at scale.
  */
class FeaturesSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scale_features bounds: minmax in [0,1], z standardizes") {
    val rows = Features.scaleFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mm = r.getDouble(r.fieldIndex("value_minmax"))
      assert(mm >= 0.0 && mm <= 1.0, s"minmax out of range: $mm")
    }
    val zs = rows.map(_.getDouble(2))
    val zMean = zs.sum / zs.length
    val zVar = zs.map(z => (z - zMean) * (z - zMean)).sum / (zs.length - 1)
    assert(math.abs(zMean) < 1e-3, s"z mean not ~0: $zMean")
    assert(math.abs(zVar - 1.0) < 1e-2, s"z variance not ~1: $zVar")
  }

  test("scale_features fit stats are broadcast, not shuffled to rows") {
    assert(plan(Features.scaleFeatures(spark, sf))
      .contains("BroadcastNestedLoopJoin"))
  }

  test("encode_onehot: exactly one flag set per row") {
    Features.encodeOnehot(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == 1L,
        s"row ${r.getLong(0)} not one-hot")
    }
  }

  test("encode_freq: frequencies are per-category counts over total") {
    val out = Features.encodeFreq(spark, sf)
    val byType = out.groupBy("event_type")
      .agg(first("et_freq").as("f"), count(lit(1)).as("n")).collect()
    val total = byType.map(_.getLong(2)).sum.toDouble
    byType.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getLong(2) / total) < 1e-6,
        s"freq mismatch for ${r.getString(0)}")
    }
    assert(plan(out).contains("BroadcastHashJoin"),
      "frequency table join-back should broadcast")
  }

  test("dedup_fuzzy finds within-block pairs under the threshold only") {
    import spark.implicits._
    val names = Seq("red widget", "red widgit", "blue widget",
      "crimson widget", "red bolt", "red bolts", "lone gear")
      .toDF("name")
    val pairs = NearDup.dedupFuzzy(names, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // only the 1-edit typo pairs survive: blue/red widget is 4 edits,
    // crimson is further, and cross-block names are never compared
    assert(pairs == Set(("red widget", "red widgit", 1L),
      ("red bolt", "red bolts", 1L)), s"got $pairs")
  }

  test("dedup_fuzzy length-band blocking caps a hot-token bucket") {
    import spark.implicits._
    // pathological corpus: 1k names ALL sharing the first token, with
    // unique last tokens — token-only blocking puts every name in one
    // bucket (~500k candidate pairs); the length band must shatter it
    val names = (0 until 1000)
      .map(i => s"smith ${"x" * (i % 200)}$i").toDF("name")
    val nCand = NearDup.fuzzyCandidates(names, maxDist = 3).count()
    // band width 4 over lengths ~7..210 gives ~50 bands; with the
    // band+1 double-posting each name meets ~2 bands' worth of the
    // bucket. Anything near 500k means the band didn't engage.
    assert(nCand < 50000L,
      s"hot-token bucket not capped: $nCand candidate pairs")
    // and the band NEVER loses a true pair: edit distance >= length
    // difference, so same-or-adjacent bands cover every match — the
    // 1-edit pairs of the crafted vocabulary all survive
    val v = Seq("red widget", "red widgit", "red bolt", "red bolts")
      .toDF("name")
    val found = NearDup.dedupFuzzy(v, 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(found == Set(("red widget", "red widgit"),
      ("red bolt", "red bolts")), s"got $found")
  }

  test("dedup_fuzzy quadratic stage runs on distinct names, no cartesian") {
    val p = plan(NearDup.dedupFuzzy(spark, sf))
    assert(!p.contains("CartesianProduct"), "blocked join became all-pairs")
    assert(p.contains("HashAggregate"), "distinct-first stage missing")
  }

  test("snapshot_diff verdict algebra matches the slice definitions") {
    val rows = Relational.snapshotDiff(spark, sf).collect()
    val byVerdict = rows.groupBy(_.getString(1))
    byVerdict("added").foreach { r =>
      assert(r.getLong(0) % 10 == 9 && r.isNullAt(2))
    }
    byVerdict("removed").foreach { r =>
      assert(r.getLong(0) % 10 == 0 && r.isNullAt(3))
    }
    byVerdict("changed").foreach { r =>
      assert(r.getLong(0) % 7 == 0 &&
        math.abs(r.getDouble(3) - r.getDouble(2) - 10.0) < 1e-9)
    }
    // every key in exactly one verdict, and nothing else qualifies
    val n = Sources.table(spark, sf, "orders").count()
    val expectAdded = Sources.table(spark, sf, "orders")
      .filter(col("o_orderkey") % 10 === 9).count()
    assert(byVerdict("added").length == expectAdded)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.length < n, "diff should be churn-sized, not table-sized")
  }

  test("window_median matches a brute-force trailing-5 median") {
    val out = TimeOps.windowMedian(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._1).foreach { case (uid, es) =>
      val ordered = es.sortBy(e => (e._3, e._2))
      ordered.indices.foreach { i =>
        val frame = ordered.slice(math.max(0, i - 4), i + 1).map(_._4).sorted
        val m =
          if (frame.length % 2 == 1) frame(frame.length / 2)
          else (frame(frame.length / 2 - 1) + frame(frame.length / 2)) / 2.0
        val got = out((uid, ordered(i)._2))
        assert(math.abs(got - m) < 5e-5,
          s"median mismatch user $uid event ${ordered(i)._2}: $got vs $m")
      }
    }
  }

  test("agg_weighted equals the naive weighted mean per flag") {
    val naive = Sources.table(spark, sf, "lineitem").collect()
      .groupBy(_.getString(8))
      .map { case (f, rs) =>
        f -> rs.map(r => r.getDouble(4) * r.getDouble(5)).sum /
          rs.map(_.getDouble(4)).sum
      }
    Aggregates.aggWeighted(spark, sf).collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - naive(r.getString(0))) < 1e-3,
        s"weighted mean mismatch for ${r.getString(0)}")
    }
  }

  test("agg_listagg cells are sorted CSV with matching cardinality") {
    Aggregates.aggListagg(spark, sf).collect().foreach { r =>
      val parts = r.getString(1).split(",")
      assert(parts.sameElements(parts.sorted), "cell not sorted")
      assert(parts.distinct.length == parts.length, "cell has dups")
      assert(parts.length == r.getLong(2), "n_priorities mismatch")
    }
  }
}

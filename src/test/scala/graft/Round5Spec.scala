package graft

import graft.ops.{Aggregates, Cluster, NearDup, Relational, Sources, TimeOps}
import org.apache.spark.sql.functions._

/** Round-5 surface: deterministic mode/arg-extremes, per-group exact
  * quartiles, SCD type-2 history, explicit window frames, the SQL
  * subquery surface, batch sliding windows, regex/array functions, and
  * the Bloom-filter membership sketch — behavioral invariants plus the
  * plan shapes that matter at scale.
  */
class Round5Spec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("agg_mode picks the argmax bucket with the lower-bucket tie-break") {
    val rows = Aggregates.aggMode(spark, sf).collect()
    val counts = Sources.table(spark, sf, "events")
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy("event_type", "bucket").count().collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val g = counts(r.getString(0))
      val best = g.map(x => (x.getLong(2), x.getLong(1)))
        .reduce((a, b) =>
          if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
      assert((r.getLong(2), r.getLong(1)) == best,
        s"mode mismatch for ${r.getString(0)}")
    }
  }

  test("agg_minmax_by matches the window-ranked arg-extremes") {
    import org.apache.spark.sql.expressions.Window
    val ev = Sources.table(spark, sf, "events")
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("event_id").isNotNull)
    val top = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").desc)
    val expectMax = ev
      .withColumn("rn", row_number().over(top)).filter(col("rn") === 1)
      .select("event_type", "event_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Aggregates.aggMinmaxBy(spark, sf).collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("max_value_event")) ==
        expectMax(r.getString(0)),
        s"arg-max mismatch for ${r.getString(0)}")
    }
  }

  test("agg_pctl_group quartiles are monotone within each group") {
    Aggregates.aggPctlGroup(spark, sf).collect()
      .groupBy(_.getString(0)).foreach { case (t, rs) =>
        val byP = rs.sortBy(_.getDouble(1)).map(_.getDouble(2))
        assert(byP.sameElements(byP.sorted), s"quartiles not monotone for $t")
      }
  }

  test("scd2_snapshot: odd keys get a closed + a current 'U' version") {
    val rows = Relational.scd2Snapshot(spark, sf).collect()
    val byKey = rows.groupBy(_.getLong(0))
    byKey.foreach { case (k, vs) =>
      if (k % 2 == 1) {
        assert(vs.length == 2, s"key $k should have 2 versions")
        val closed = vs.find(!_.getBoolean(5)).get
        val current = vs.find(_.getBoolean(5)).get
        assert(closed.getString(4) == "2026-01-01", "closed valid_to")
        assert(current.getString(1) == "U" &&
          current.getString(3) == "2026-01-01" &&
          current.getString(4) == "9999-12-31")
        assert(current.getDouble(2) ==
          BigDecimal(closed.getDouble(2)).setScale(2)
            .*(BigDecimal("1.05")).setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          s"new version price must be +5% of $k's closed price")
      } else {
        assert(vs.length == 1 && vs.head.getBoolean(5),
          s"untouched key $k must carry one current row")
      }
    }
  }

  test("scd2Apply on a crafted dimension closes exactly the updated keys") {
    import spark.implicits._
    val current = Seq(
      (1L, "a", "2020-01-01", "9999-12-31", true),
      (2L, "b", "2020-01-01", "9999-12-31", true))
      .toDF("key", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq((2L, "b2", "ignored")).toDF("key", "attr", "valid_from")
    val out = Relational.scd2Apply(current, updates, "key", "2026-02-01")
      .orderBy("key", "valid_from").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 1L && out(0).getBoolean(4))
    val k2 = out.filter(_.getLong(0) == 2L)
    assert(k2.exists(r => !r.getBoolean(4) && r.getString(3) == "2026-02-01"),
      "old version of key 2 must be closed at the batch date")
    assert(k2.exists(r => r.getBoolean(4) && r.getString(1) == "b2" &&
      r.getString(2) == "2026-02-01"), "new version must be current")
  }

  test("window_frames: the date-first row of each customer averages itself") {
    // the frame orders by (o_orderdate, o_orderkey); the output sorts by
    // o_orderkey — recover each customer's frame-first order explicitly
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_ isBefore _)
    val firstKey = Sources.table(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate").collect()
      .groupBy(_.getLong(0)).map { case (c, rs) =>
        c -> rs.minBy(r =>
          (r.getAs[java.time.LocalDateTime](2), r.getLong(1))).getLong(1)
      }
    Relational.windowFrames(spark, sf).collect().foreach { r =>
      if (firstKey(r.getLong(0)) == r.getLong(1)) {
        assert(r.getDouble(r.fieldIndex("first_price")) ==
          r.getDouble(r.fieldIndex("avg3_price")),
          "a 1-row frame's average must equal its first_value")
      }
    }
  }

  test("window_frames plans one exchange for all three frames") {
    val p = plan(Relational.windowFrames(spark, sf))
      .split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("filter_exists matches the explicit join formulation") {
    val cust = Sources.table(spark, sf, "customer")
    val orders = Sources.table(spark, sf, "orders")
    val big = orders.filter(col("o_totalprice") > 300000)
      .select(col("o_custkey")).distinct()
    val natAvg = cust.groupBy("c_nationkey")
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("nat_avg"))
    val expect = cust.join(big, cust("c_custkey") === big("o_custkey"))
      .join(natAvg, "c_nationkey")
      .filter(col("c_acctbal") > col("nat_avg"))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val got = Relational.filterExists(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("window_sliding covers each event exactly twice") {
    val ev = Sources.table(spark, sf, "events")
      .filter(col("ts").isNotNull).count()
    val out = TimeOps.windowSliding(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == 2 * ev,
      "every event must land in exactly two sliding windows")
    out.foreach { r =>
      val t = r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC)
      assert(t.getMinute == 0 && t.getSecond == 0,
        s"window starts must align to the hour, got $t")
    }
  }

  test("str_regex and array_funcs agree with per-row recomputation") {
    val docs = Sources.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Relational.strRegex(spark, sf).collect().take(50).foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getLong(1) == "[A-Z][a-z]+".r.findAllIn(text).size)
      assert(r.getBoolean(3) == text.contains("data"))
    }
    Relational.arrayFuncs(spark, sf).collect().take(50).foreach { r =>
      val toks = docs(r.getLong(0)).trim.toLowerCase.split("\\s+")
      assert(r.getLong(1) == toks.distinct.length)
      assert(r.getString(2) == toks.distinct.sorted.take(5).mkString(" "))
    }
  }

  test("window_range matches a brute-force trailing-hour recount") {
    val ev = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    TimeOps.windowRange(spark, sf).collect().foreach { r =>
      val (u, e) = (r.getLong(0), r.getLong(1))
      val t = ev.find(x => x._1 == u && x._2 == e).get._3
      val expect = byUser(u).count(x => x._3 >= t - 3600000000L && x._3 <= t)
      assert(r.getLong(2) == expect, s"trailing-hour count for user $u event $e")
    }
  }

  test("funnel_steps counts are monotone down the funnel") {
    val r = TimeOps.funnelSteps(spark, sf).collect().head
    val (n, v, c, p) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n >= v && v >= c && c >= p && p >= 0,
      s"funnel must narrow: $n >= $v >= $c >= $p")
    assert(v > 0, "fixture has view events")
  }

  test("cohort_retention diagonal equals the cohort size") {
    val rows = Relational.cohortRetention(spark, sf).collect()
    val o = Sources.table(spark, sf, "orders")
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cohortSize = o.groupBy(_._1).map { case (c, rs) => c -> rs.map(_._2).min }
      .groupBy(_._2).map { case (ym, cs) => ym -> cs.size }
    rows.filter(r => r.getString(0) == r.getString(1)).foreach { r =>
      assert(r.getLong(2) == cohortSize(r.getString(0)),
        s"diagonal of cohort ${r.getString(0)} must equal its size")
    }
  }

  test("filter_exists decorrelates to joins — no nested loop, no subquery") {
    val p = plan(Relational.filterExists(spark, sf))
      .split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop"),
      s"correlated subqueries must rewrite to equi-joins:\n$p")
    assert(p.contains("SemiJoin") || p.contains("LeftSemi"),
      s"EXISTS must plan as a semi join:\n$p")
  }

  test("scd2_snapshot plans its key probes as joins, not per-row lookups") {
    val p = plan(Relational.scd2Snapshot(spark, sf))
      .split("== Initial Plan ==").head
    assert(p.contains("LeftSemi") || p.contains("SemiJoin"))
    assert(p.contains("LeftAnti") || p.contains("AntiJoin"))
  }

  test("window_range plans a single exchange (RANGE frame, no self-join)") {
    val p = plan(TimeOps.windowRange(spark, sf))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"rolling window must not self-join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
  }

  test("map_funcs key counts partition the non-null props rows") {
    val withProps = Sources.table(spark, sf, "events")
      .filter(col("props").isNotNull).count()
    val rows = Relational.mapFuncs(spark, sf).collect()
    // every props object in the fixture is single-key, so key counts
    // sum to the row count; value cardinality is bounded by it
    assert(rows.map(_.getLong(1)).sum == withProps)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("agg_collect renders strictly increasing distinct buckets") {
    Aggregates.aggCollect(spark, sf).collect().foreach { r =>
      val buckets = r.getString(1).split(",").map(_.toLong)
      assert(buckets.nonEmpty)
      assert(buckets.zip(buckets.tail).forall { case (a, b) => a < b },
        s"buckets must be sorted and distinct: ${r.getString(1)}")
    }
  }

  test("join_cross yields |A|x|B| rows via broadcast nested loop") {
    val df = Relational.joinCross(spark, sf)
    assert(df.count() == 25)
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bounded cartesian must broadcast:\n$p")
  }

  test("orc sink round-trips schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Sources.table(spark, sf, "region")
    graft.ops.Sinks.orc(src).save(s"$dir/region_orc")
    val back = spark.read.orc(s"$dir/region_orc")
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("join_topk plans a TakeOrderedAndProject and pushes all filters") {
    val df = Relational.joinTopk(spark, sf)
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)") ||
      p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$p")
    assert(df.count() <= 10)
  }

  test("kmeans recovers crafted separable clusters exactly") {
    import spark.implicits._
    // three tight clusters far apart in 4-d; ids interleaved so the
    // lowest-k init starts with one point from each cluster region
    val pts = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(4)(c * 100.0)
      (i.toLong, base.zipWithIndex.map { case (b, d) =>
        (b + (i / 3) * 0.01 + d * 0.001).toFloat })
    }
    val emb = pts.toDF("vec_id", "embedding")
    val out = Cluster.kmeansAssign(emb, 3, 5).collect()
    val groups = out.groupBy(_.getLong(0) % 3).values.toSeq
    assert(groups.forall(g =>
      g.map(_.getInt(1)).distinct.length == 1),
      "points of one true cluster must share an assignment")
    assert(out.map(_.getInt(1)).distinct.length == 3,
      "all three clusters must be populated")
  }

  test("kmeans inertia never increases with more Lloyd iterations") {
    val emb = Sources.table(spark, sf, "embeddings")
    def inertia(iters: Int): Double =
      Cluster.kmeansAssign(emb, 4, iters)
        .agg(sum(col("dist2"))).collect().head.getDouble(0)
    val i1 = inertia(1)
    val i4 = inertia(4)
    assert(i4 <= i1 + 1e-6, s"inertia rose: $i1 -> $i4")
  }

  test("trained-quantizer IVF returns genuine brute-force cosines") {
    val exact = graft.ops.TextSim.simSearch(spark, sf, queryId = 0L,
        k = 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = graft.ops.Ann.simAnnIvfTrained(spark,
      Sources.table(spark, sf, "embeddings")).collect()
    assert(ivf.nonEmpty, "trained probe lists must hold candidates")
    ivf.foreach { r =>
      assert(exact(r.getLong(0)) == r.getDouble(1),
        s"trained-IVF cos_sim for vec ${r.getLong(0)} diverges from brute force")
    }
  }

  test("agg_grouping_id row algebra: detail + subtotals + grand total") {
    val rows = Aggregates.aggGroupingId(spark, sf).collect()
    val detail = rows.filter(r => r.getLong(2) == 0 && r.getLong(3) == 0)
    val sub = rows.filter(r => r.getLong(2) == 0 && r.getLong(3) == 1)
    val grand = rows.filter(r => r.getLong(2) == 1 && r.getLong(3) == 1)
    assert(grand.length == 1)
    val total = grand.head.getLong(4)
    assert(detail.map(_.getLong(4)).sum == total)
    assert(sub.map(_.getLong(4)).sum == total)
    // grouping flags, not data nulls, mark the subtotal rows
    sub.foreach(r => assert(r.isNullAt(1) && !r.isNullAt(0)))
  }

  test("trend_mom percent changes reconstruct the revenue series") {
    val rows = Aggregates.trendMom(spark, sf).collect()
    assert(rows.head.isNullAt(2), "first month has no previous month")
    rows.sliding(2).foreach { case Array(prev, cur) =>
      val expect = BigDecimal(
        100.0 * (cur.getDouble(1) - prev.getDouble(1)) / prev.getDouble(1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(cur.getDouble(2) - expect) < 1e-9,
        s"pct_change mismatch at ${cur.getString(0)}")
    }
  }

  test("curation2026 cluster cap bounds per-cluster survivors") {
    val base = java.nio.file.Files.createTempDirectory("graft_cap").toString
    val cap = 3
    val capped = Pipelines.curation2026(spark, sf, s"$base/capped",
      clusterCap = Some(cap))
    val plain = Pipelines.curation2026(spark, sf, s"$base/plain")
    assert(capped.trainDocs <= plain.trainDocs)
    val outIds = spark.read.parquet(s"$base/capped").select("doc_id")
    val assign = Cluster.kmeansAssign(Sources.table(spark, sf, "embeddings"), 8, 3)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val maxPerCluster = outIds.join(assign, "doc_id")
      .groupBy("cluster_id").count().agg(max("count")).collect()
      .head.getLong(0)
    assert(maxPerCluster <= cap,
      s"a cluster kept $maxPerCluster docs, cap was $cap")
  }

  test("session_native sessions partition the events and match sessionize") {
    val ev = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull).count()
    val sessions = TimeOps.sessionNative(spark, sf).collect()
    assert(sessions.map(_.getLong(2)).sum == ev,
      "session event counts must partition the input")
    // same session COUNT per user as the islands formulation
    val islands = TimeOps.sessionize(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.map(_.getLong(2)).max }
    sessions.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.length == islands(u),
        s"user $u: native sessions ${rs.length} != islands ${islands(u)}")
    }
  }

  test("window_fill forward-fills from the latest non-null only") {
    val raw = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .groupBy(_.getLong(0))
    TimeOps.windowFill(spark, sf).collect()
      .groupBy(_.getLong(0)).foreach { case (u, rs) =>
        val ordered = raw(u).sortBy(r => (r.getLong(2), r.getLong(1)))
        var lastSeen: Option[Double] = None
        val expect = ordered.map { r =>
          if (!r.isNullAt(3)) lastSeen = Some(r.getDouble(3))
          r.getLong(1) -> lastSeen
        }.toMap
        rs.foreach { r =>
          val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
          assert(got == expect(r.getLong(1)),
            s"fill mismatch for user $u event ${r.getLong(1)}")
        }
      }
  }

  test("source_stats counts partition the corpus and bound dup_rate") {
    val total = Sources.table(spark, sf, "documents").count()
    val rows = graft.ops.TextSim.sourceStats(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "unique <= docs")
      val d = r.getDouble(3)
      assert(d >= 0.0 && d < 1.0, s"dup_rate out of range: $d")
    }
  }

  test("text_bigrams agrees with a per-doc recount") {
    val texts = Sources.table(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val expect = texts.flatMap { t =>
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length >= 2) w.sliding(2).map(_.mkString(" ")) else Iterator.empty
    }.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    graft.ops.TextSim.textBigrams(spark, sf).collect().foreach { r =>
      assert(expect(r.getString(0)) == r.getLong(1),
        s"count mismatch for bigram '${r.getString(0)}'")
    }
  }

  test("outlier_zscore flags exactly the >3-sigma events") {
    val rows = graft.ops.TextSim.outlierZscore(spark, sf).collect()
    assert(rows.nonEmpty, "fixture should have z-score outliers")
    rows.foreach(r => assert(math.abs(r.getDouble(2)) > 3.0))
    // and the flagged set is exactly the complement of the in-range set
    val vals = Sources.table(spark, sf, "events")
      .filter(col("value").isNotNull)
      .select("value").collect().map(_.getDouble(0))
    val n = vals.length.toDouble
    val mu = vals.sum / n
    val sd = math.sqrt(vals.map(v => (v - mu) * (v - mu)).sum / (n - 1))
    val expected = vals.count(v => math.abs(v - mu) > 3 * sd)
    assert(rows.length == expected,
      s"flagged ${rows.length}, naive recompute says $expected")
  }

  test("share_of_total percentages sum to 100") {
    val rows = Relational.shareOfTotal(spark, sf).collect()
    val total = rows.map(_.getDouble(2)).sum
    assert(math.abs(total - 100.0) < 0.01, s"shares sum to $total")
    rows.foreach(r => assert(r.getDouble(2) > 0))
  }

  test("dedup_time_window keeps exactly one event per key-hour") {
    val out = TimeOps.dedupTimeWindow(spark, sf)
    val dupKeys = out.groupBy("user_id", "event_type", "hour_start")
      .count().filter(col("count") > 1).count()
    assert(dupKeys == 0, "no (user, type, hour) may appear twice")
    // kept event is the µs-earliest of its group
    val all = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"),
        col("event_id"), unix_micros(col("ts")).as("us")).collect()
    val earliest = all.groupBy(r => (r.getLong(0), r.getString(1), r.get(2)))
      .map { case (k, rs) =>
        k -> rs.minBy(r => (r.getLong(4), r.getLong(3))).getLong(3) }
    out.collect().foreach { r =>
      val k = (r.getLong(0), r.getString(1), r.get(2))
      assert(r.getLong(3) == earliest(k), s"kept wrong event for $k")
    }
  }

  test("freq_items is a superset of the exact above-support items") {
    val ev = Sources.table(spark, sf, "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    val n = ev.count().toDouble
    val exactTypes = ev.groupBy("event_type").count()
      .filter(col("count") > n * 0.1).collect().map(_.getString(0)).toSet
    val r = Aggregates.freqItems(spark, sf).collect().head
    val sketched = r.getString(0).split(",").toSet
    assert(exactTypes.subsetOf(sketched),
      s"missing above-support items: ${exactTypes -- sketched}")
    // and the oracle-checked exact twin computes exactly that set
    // (r18) — sketch ⊇ twin closes the loop oracle → twin → sketch
    val twin = Aggregates.freqItemsPortable(spark, sf).collect().head
    val twinTypes =
      twin.getString(0).split(",").filter(_.nonEmpty).toSet
    assert(twinTypes == exactTypes,
      s"twin types $twinTypes != exact $exactTypes")
    assert(twinTypes.subsetOf(sketched),
      s"sketch must superset the twin: ${twinTypes -- sketched}")
  }

  test("round-5 scans prune to the needed columns") {
    // the ReadSchema fragments of every scan in the (non-AQE-repeated)
    // plan — column pruning shows up here and nowhere else reliably
    def readSchemas(df: org.apache.spark.sql.DataFrame): String =
      plan(df).split("== Initial Plan ==").head.linesIterator
        .filter(_.contains("ReadSchema")).mkString("\n")
    val ss = readSchemas(graft.ops.TextSim.sourceStats(spark, sf))
    assert(ss.nonEmpty && !ss.contains("n_chars") && !ss.contains("label"),
      s"source_stats must not read profile columns:\n$ss")
    val cr = readSchemas(Relational.cohortRetention(spark, sf))
    assert(cr.nonEmpty && !cr.contains("o_totalprice") &&
      !cr.contains("o_orderstatus"),
      s"cohort_retention must not read payload columns:\n$cr")
    val fs = readSchemas(TimeOps.funnelSteps(spark, sf))
    assert(fs.nonEmpty && !fs.contains("props") && !fs.contains("value"),
      s"funnel_steps must not read props/value:\n$fs")
  }

  test("scd2Apply with an empty update batch carries everything through") {
    import spark.implicits._
    val current = Seq((1L, "a", "2020-01-01", "9999-12-31", true))
      .toDF("key", "attr", "valid_from", "valid_to", "is_current")
    val empty = Seq.empty[(Long, String, String)]
      .toDF("key", "attr", "valid_from")
    val out = Relational.scd2Apply(current, empty, "key", "2026-02-01")
      .collect()
    assert(out.length == 1 && out.head.getBoolean(4) &&
      out.head.getString(3) == "9999-12-31",
      "no update batch must mean no closed versions")
  }

  test("kmeans with k larger than the corpus still assigns every vector") {
    import spark.implicits._
    val tiny = Seq((0L, Array(0f, 0f)), (1L, Array(10f, 10f)),
      (2L, Array(20f, 20f))).toDF("vec_id", "embedding")
    val out = Cluster.kmeansAssign(tiny, k = 5, iters = 2).collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(1)).forall(c => c >= 0 && c < 3),
      "assignments use only the centroids that exist")
  }

  test("outlier_mad matches a naive median/MAD recomputation") {
    val vals = Sources.table(spark, sf, "events")
      .filter(col("value").isNotNull).select("value").collect()
      .map(_.getDouble(0)).sorted
    def medianOf(xs: Array[Double]): Double = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    }
    val m = medianOf(vals)
    val d = medianOf(vals.map(v => math.abs(v - m)).sorted)
    val expect = vals.count(v => math.abs(v - m) > 5 * d)
    val got = graft.ops.Transforms.outlierMad(spark, sf).collect()
    assert(got.length == expect,
      s"flagged ${got.length}, naive recompute says $expect")
    got.foreach(r => assert(math.abs(r.getDouble(2)) > 5.0))
  }

  test("window_ewma equals the sequential fold per user") {
    val raw = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value")).collect()
      .groupBy(_.getLong(0))
    TimeOps.windowEwma(spark, sf).collect().foreach { r =>
      val seq = raw(r.getLong(0))
        .sortBy(x => (x.getLong(1), x.getLong(2))).map(_.getDouble(3))
      val ewma = seq.tail.foldLeft(seq.head)((acc, x) => 0.3 * x + 0.7 * acc)
      val expect = BigDecimal(ewma)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(1) == expect,
        s"ewma mismatch for user ${r.getLong(0)}")
    }
  }

  test("dedup_bloom never misses a true duplicate") {
    import spark.implicits._
    // all-identical corpus: every new-batch doc duplicates the corpus,
    // so exact == n_new and the Bloom probe must flag every one of them
    val docs = (0L until 100L).map(i => (i, "same text for every doc"))
      .toDF("doc_id", "text")
    val r = NearDup.dedupBloom(spark, docs, 0.01).collect().head
    val (nNew, flagged, exact) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nNew > 0 && nNew < 100, "md5 split should cut both ways")
    assert(exact == nNew, "every new doc duplicates the corpus")
    assert(flagged == nNew, "Bloom filters must have no false negatives")
    // and on the real corpus the flagged count stays bounded by n_new
    val real = NearDup.dedupBloom(spark, sf).collect().head
    assert(real.getLong(1) >= real.getLong(2) &&
      real.getLong(1) <= real.getLong(0))
  }

  test("bloom probe is a plan-visible expression and ops/ is UDF-free") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"text $i"))
      .toDF("doc_id", "text")
    // the probe must appear as the named catalyst expression, not as
    // an opaque ScalaUDF black box (the eager dedupBloom checkpoints
    // its 1-row result, so the assertion targets the lazy plan half)
    val (d, exact) = NearDup.bloomSides(docs)
    val plan = NearDup.dedupBloomPlan(d, exact, spark.sparkContext.broadcast(
        org.apache.spark.util.sketch.BloomFilter.create(100)))
      .queryExecution.executedPlan.toString
    Seq(exact, d).foreach(_.unpersist(blocking = false))
    assert(plan.contains("graft_might_contain"),
      s"expected the codegen'd BloomProbe in the plan\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("UDF("),
      s"no UDF dispatch expected in the probe plan\n$plan")
    // and the whole ops/ package stays UDF-free at the source level
    val opsDir = new java.io.File("src/main/scala/graft/ops")
    val offenders = opsDir.listFiles().filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath))
        "(?<![.\\w])udf\\(".r.findFirstIn(src).isDefined
      }.map(_.getName)
    assert(offenders.isEmpty,
      s"udf( found in ops/ sources: ${offenders.mkString(", ")}")
  }
}

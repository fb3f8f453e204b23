package graft

import graft.ops.{Aggregates, Relational, TextSim, Transforms}
import org.apache.spark.sql.functions.col

/** Physical-plan regression guard: the scale-critical plan properties
  * recorded in SCALE.md, asserted so a refactor that silently
  * reintroduces a shuffle / full-width scan / global sort fails here
  * instead of at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("building every ExplainDump pipeline runs no job and leaves no " +
    "cached plan") {
    def cachedPlans: Int = org.apache.spark.sql.grafttest.CachedPlans.count(spark)
    ExplainDump.pipelines(spark, sf).foreach { case (name, mk) =>
      val before = cachedPlans
      assert(jobsOf(mk()) == 0, s"$name ran jobs while building its plan")
      assert(cachedPlans == before, s"$name left a cached plan")
    }
  }

  test("sort_topk plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.sortTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort ["), s"unexpected full sort:\n$p")
  }

  test("src_scan prunes the scan to the 3 projected columns") {
    val p = plan(Transforms.srcScan(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.isDefined)
    assert(readSchema.get.contains("l_orderkey") &&
      readSchema.get.contains("l_quantity") &&
      !readSchema.get.contains("l_extendedprice"),
      s"scan not pruned: ${readSchema.get}")
  }

  test("agg_group pushes the shipdate filter into the parquet scan") {
    val p = plan(Aggregates.aggGroup(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"filter not pushed:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("join_dim broadcasts both dimension tables") {
    val p = plan(Relational.joinDim(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dims must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "dim join must not fall back to sort-merge")
  }

  test("sim_search never shuffles the embeddings side") {
    val p = plan(TextSim.simSearch(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query vector must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("Exchange hashpartitioning"),
      s"embeddings must not shuffle:\n${p.take(2000)}")
  }

  test("join_semi ships no payload columns from the right side") {
    val p = plan(Relational.joinSemi(spark, sf))
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    // lineitem side of the semi join must read ONLY the join key
    assert(readSchemas.exists(l => l.contains("l_orderkey") &&
      !l.contains("l_quantity") && !l.contains("l_extendedprice")),
      s"semi-join right side not pruned to the key:\n$readSchemas")
  }

  test("dedup_embed broadcasts one side and parallelizes the probe side") {
    val p = plan(TextSim.dedupEmbed(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair generation must broadcast, not shuffle-join")
    assert(p.contains("Exchange RoundRobinPartitioning") ||
      p.contains("REPARTITION"),
      s"probe side must be repartitioned off the single input split:\n${p.take(1500)}")
  }

  test("agg_cube expands grouping sets into one aggregation pass") {
    val p = plan(Aggregates.aggCube(spark, sf))
    assert(p.contains("Expand"), "cube must plan through Expand")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation")
  }

  test("dedup_text shuffles on the content hash, a single exchange") {
    val p = plan(TextSim.dedupText(spark, sf))
    // one partial+final agg pair over the hash; no join, no extra sort
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join"), "exact dedup must not compare pairs")
  }

  test("rank-limited queries get the WindowGroupLimit pushdown") {
    // Spark 4 plans row_number()<=k as a map-side partial top-k BEFORE
    // the shuffle — per-stratum heaps, shuffle volume ∝ k·groups, not
    // rows. A regression to a bare Window would shuffle everything.
    val strat = plan(graft.ops.Sampling.sampleStratified(spark, sf))
    assert(strat.contains("WindowGroupLimit"),
      s"stratified sample lost the rank-limit pushdown:\n${strat.take(1500)}")
    val tfidf = plan(TextSim.textTfidf(spark, sf))
    assert(tfidf.contains("WindowGroupLimit"),
      s"tfidf top-k lost the rank-limit pushdown:\n${tfidf.take(1500)}")
  }

  test("text_repetition is a pure projection — zero keyed exchanges") {
    // r8: the per-doc statistic never leaves its row (sorted-run fold),
    // so only the presentation sort's range exchange may appear.
    // r22: ANY exchange forbidden — the r21 round-robin spread slipped
    // past the keyed-only pin (VERDICT r21 #1); a per-row statistic
    // must not move the raw text at all.
    val p = plan(TextSim.textRepetition(spark, sf))
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"repetition stats must not shuffle or aggregate:\n${p.take(1500)}")
    assert(!p.contains("Generate"),
      s"the explode + two-level aggregate shape must not return:\n${p.take(1500)}")
    assert(!p.contains("Join"), "repetition stats must never join")
  }

  test("per-row text statistics never exchange (zero-exchange family, r22)") {
    // text_entropy / lang_id / quality_gopher are per-row projections
    // (each document's statistic folds inside its own row); the r21
    // round-robin spread added a full raw-text shuffle to all three —
    // pure waste at scale (VERDICT r21 #1). Pin them like
    // doc_winnow_portable: no Exchange of ANY kind, no aggregate, no
    // join. (text_repetition has its own pin above.)
    for ((name, df) <- Seq(
        "text_entropy" -> TextSim.textEntropy(spark, sf),
        "lang_id" -> TextSim.langId(spark, sf),
        "quality_gopher" -> TextSim.qualityGopher(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("Exchange"),
        s"$name must not move the raw text:\n${p.take(1500)}")
      assert(!p.contains("Join"), s"$name must never join")
    }
  }

  // ---- r7 re-plan pins: the four plan rewrites round 7 shipped,
  // asserted by shape so a refactor can't silently flip them back to
  // the superseded forms the oracle alone would not catch.

  test("join_fact aggregates BELOW the join (pre-reduced fact side)") {
    // Pinned on the physical TREE, not formatted-explain print order
    // (r8 ADVICE: substring indexOf encodes formatting, and a left-
    // subtree aggregate could pass/fail the old pin spuriously): the
    // r6 shape aggregated the joined stream — an aggregate with a
    // join DESCENDANT; the shipped shape reduces lineitem to one row
    // per order first, so every aggregate sits under the join.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = Relational.joinFact(spark, sf).queryExecution.executedPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val all = nodes(root)
    assert(all.exists(_.isInstanceOf[BaseJoinExec]) &&
      all.exists(_.isInstanceOf[BaseAggregateExec]),
      s"expected a join and an aggregate:\n${root.toString.take(1500)}")
    val aggWithJoinBelow = all.collect {
      case a: BaseAggregateExec if nodes(a).exists(_.isInstanceOf[BaseJoinExec]) => a
    }
    assert(aggWithJoinBelow.isEmpty,
      s"revenue aggregate must sit below the join, not above it:\n${root.toString.take(2000)}")
  }

  test("set_except plans as LeftAnti with a distinct-ed build side") {
    val p = plan(Relational.setExcept(spark, sf))
    val join = p.indexOf("LeftAnti")
    assert(join >= 0, s"set difference must plan as an anti join:\n${p.take(1500)}")
    // build side (printed under the join) must map-side-combine to
    // unique keys BEFORE the exchange — anti-joining the raw 4×-rows
    // right side is the superseded r6 shape
    assert(p.indexOf("HashAggregate", join) >= 0,
      s"anti-join build side must distinct before the join:\n${p.take(2000)}")
  }

  test("dedup_containment: one shingle pass, two keyed exchanges, zero joins") {
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val p = plan(graft.ops.NearDup.containmentPairsPlan(docs, 3,
      graft.ops.NearDup.DefaultMaxDf, graft.ops.NearDup.DefaultMinContain))
    assert(!p.contains("Join"),
      s"denominators must ride the posting shuffle, not join back:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly the posting groupBy + pair groupBy exchanges:\n${p.take(2000)}")
  }

  test("sample_hash is a pure scan-side filter (no pre-sort exchange)") {
    val p = plan(graft.ops.Sampling.sampleHash(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash sampling must not shuffle to decide membership:\n${p.take(1500)}")
    assert(p.linesIterator.exists(l => l.contains("DataFilters") &&
      l.contains("md5")), "membership filter must evaluate at the scan")
  }

  test("agg_profile_approx tracks the exact profile within tolerance") {
    val exact = Aggregates.aggProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("median"))).toMap
    val approx = Aggregates.aggProfileApprox(spark, sf).collect()
      .map(r => r.getString(0) ->
        r.getDouble(r.fieldIndex("median_approx"))).toMap
    exact.foreach { case (c, m) =>
      val a = approx(c)
      val tol = math.max(math.abs(m) * 0.05, 1e-6)
      assert(math.abs(a - m) <= tol,
        s"$c: approx median $a deviates from exact $m beyond 5%")
    }
  }

  test("snapshot_diff merges snapshots via union + ONE keyed exchange, " +
    "no join, slice filters pushed to both scans") {
    val p = plan(Relational.snapshotDiff(spark, sf))
    assert(!p.contains("Join"),
      s"the r7 full-outer SMJ shape must not return:\n${p.take(1500)}")
    assert(p.contains("Union") && p.contains("HashAggregate"),
      s"expected union + hash-aggregate merge:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "both snapshots must ride ONE exchange on the key")
    assert("% 10".r.findAllIn(p
      .linesIterator.filter(_.contains("DataFilters")).mkString)
      .length == 2, "slice predicates must reach both scans")
  }

  test("cohort_retention: two keyed exchanges, no join, no expand") {
    val p = plan(Relational.cohortRetention(spark, sf))
    assert(!p.contains("Join"),
      s"the cohort join-back shape must not return:\n${p.take(1500)}")
    assert(!p.contains("Expand"),
      s"count must not pay countDistinct's expand:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly the custkey + (cohort, ym) exchanges:\n${p.take(1500)}")
  }

  test("dedup_time_window is a hash aggregate — no window, no sort " +
    "before the exchange") {
    val p = plan(graft.ops.TimeOps.dedupTimeWindow(spark, sf))
    assert(!p.contains("Window"),
      s"the rank-window shape must not return:\n${p.take(1500)}")
    assert(p.contains("partial_min"),
      s"first-event cut must combine map-side:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "one keyed exchange for the group cut")
    // r13: the r8 min-STRUCT form silently planned as SortAggregate
    // (both partials sorted the fact table by the group keys); the
    // packed-decimal min must keep the cut in HashAggregate
    assert(!p.contains("SortAggregate"),
      s"packed-decimal min must hash-aggregate, not sort:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"),
      s"expected a HashAggregate cut:\n${p.take(1500)}")
  }

  test("window_median runs on a single hash exchange") {
    val p = plan(graft.ops.TimeOps.windowMedian(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected one exchange on user_id:\n${p.take(1500)}")
  }

  test("encode_onehot is a pure projection — no hash exchange at all") {
    val p = plan(graft.ops.Features.encodeOnehot(spark, sf))
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("HashAggregate") && !p.contains("Join"),
      s"one-hot must stay a scan+project:\n${p.take(1500)}")
  }

  test("doc_winnow_portable is a pure per-row projection (r17 kernel)") {
    // the r17 re-plan's whole point: the statistic is per-document,
    // so NO exchange, aggregate, window or join may appear — the
    // declarative pipeline this replaced paid all four and was the
    // heaviest query on both engines (5.49 s Spark / 10.60 s DuckDB
    // at sf0.1; the kernel runs in 0.24 s)
    val p = plan(TextSim.docWinnowPortable(spark, sf))
    assert(!p.contains("Exchange") && !p.contains("HashAggregate") &&
      !p.contains("Window") && !p.contains("Join"),
      s"winnow twin must stay scan+project:\n${p.take(1500)}")
    assert(p.contains("graft_winnow_md5") || p.contains("winnowmd5") ||
      p.toLowerCase.contains("winnow"), s"kernel missing from plan:\n${p.take(800)}")
  }

  test("NO declared query plans a SortAggregate or CartesianProduct") {
    // Whole-surface sweep (r13): SortAggregate means some aggregate
    // buffer fell off the hash path (struct or var-length min/max —
    // dedup_time_window, agg_minmax_by, dedup_survivor, merge_upsert
    // all shipped that way before this guard) and both partials are
    // sorting their full input; CartesianProduct means an unkeyed
    // non-broadcast join. Neither has a legitimate use in the
    // declared surface today — extend an allowlist here if one ever
    // does, with the justification in the commit.
    //
    // Same sweep: DotProductRewrite, which GraftExtensions injects, must
    // leave every declared plan as is — sessions that inject the
    // extensions then time the plans the engine session checks.
    val (offenders, rewritten) = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) =>
        val qe = fn(spark, sf).queryExecution
        val p = qe.executedPlan.toString
        (Seq("SortAggregate", "CartesianProduct").filter(p.contains)
          .map(m => s"$name: $m"),
          Option.unless(graft.functions.DotProductRewrite(qe.optimizedPlan)
            .fastEquals(qe.optimizedPlan))(name))
      }.unzip
    assert(offenders.flatten.isEmpty,
      s"hash-path regressions:\n${offenders.flatten.mkString("\n")}")
    assert(rewritten.flatten.isEmpty,
      s"DotProductRewrite changes declared plans: ${rewritten.flatten.mkString(", ")}")
  }

  test("text corpus counts never window the occurrence stream (r15 de-skew)") {
    // text_tfidf / text_bigram_lm corpus statistics must be map-side-
    // combinable aggregates joined back, never count windows keyed on
    // a Zipf-skewed token: a window partition is unsplittable, so the
    // head token's group is a fixed fraction of the corpus in ONE task
    // at 100 TB. Pinned structurally: any WindowExec NOT partitioned
    // on the doc key (doc-keyed groups are bounded by document length
    // / top-k) must sit over an aggregated relation (vocab-bounded),
    // and the shared doc-keyed exchange must be REUSED, not duplicated
    // (a second Generate means the stream tokenizes once per branch).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.GenerateExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    // the reuse pin needs the static plan (the engine session's, AQE
    // off): under AQE the shared exchange unifies at RUNTIME
    // (stage-level reuse), so the pre-execution adaptive plan still
    // shows two subtrees
    for ((name, df) <- Seq(
        "text_tfidf" -> TextSim.textTfidf(spark, sf),
        "text_bigram_lm" -> TextSim.textBigramLm(spark, sf))) {
      val root = df.queryExecution.executedPlan
      val all = nodes(root)
      assert(all.count(_.isInstanceOf[GenerateExec]) == 1,
        s"$name: the token stream must explode exactly once " +
          s"(ReuseExchange must unify the count and probe branches):\n" +
          root.toString.take(2000))
      assert(root.toString.contains("ReusedExchange"),
        s"$name: lost the shared doc-keyed exchange:\n" +
          root.toString.take(2000))
      val offenders = all.collect {
        case w: WindowExec
            if !w.partitionSpec.exists(_.references.exists(
              _.name == "doc_id")) &&
              !nodes(w.child).exists(_.isInstanceOf[BaseAggregateExec]) =>
          w.simpleStringWithNodeId()
      }
      assert(offenders.isEmpty,
        s"$name: corpus-keyed window over a non-aggregated stream " +
          s"(the 100TB skew funnel): ${offenders.mkString("; ")}")
    }
  }

  test("corpus-stat join-backs size-gate their broadcast hint (r16)") {
    // text_tfidf's df relation and text_bigram_lm's NLL relation grow
    // with the corpus (distinct bigrams near-linearly), so their
    // broadcast hint is size-GATED: applied while the optimizer
    // estimate fits the session threshold, dropped past it so the
    // planner falls back to a splittable shuffled join instead of
    // hard-failing on the broadcast cap. Pin both arms: broadcast at
    // test scale; a disabled-threshold child session (standing in for
    // the 100 TB vocab) plans a non-broadcast equi-join and returns
    // identical rows.
    for (p <- Seq(plan(TextSim.textTfidf(spark, sf)),
                  plan(TextSim.textBigramLm(spark, sf))))
      assert(p.contains("BroadcastHashJoin"),
        s"gate should broadcast at test scale:\n${p.take(2000)}")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for ((big, small) <- Seq(
        TextSim.textTfidf(s2, sf) -> TextSim.textTfidf(spark, sf),
        TextSim.textBigramLm(s2, sf) -> TextSim.textBigramLm(spark, sf))) {
      val p = big.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"gate must drop the hint when the estimate exceeds the " +
          s"threshold:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join fallback:\n${p.take(2000)}")
      assert(big.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|")) ==
        small.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|")),
        "fallback join changed the result")
    }
  }

  test("partitioned parquet writes prune partitions on read-back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.ops.Sources.table(spark, sf, "events")
      .select("event_id", "event_type", "value")
    graft.ops.Sinks.parquet(ev, partitionCols = Seq("event_type"))
      .save(dir)
    val back = spark.read.parquet(dir).filter(col("event_type") === "click")
    val p = plan(back)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.isDefined &&
      scanLine.get.contains("event_type"),
      s"read-back must prune on the partition column:\n${p.take(1500)}")
    assert(back.count() ==
      ev.filter(col("event_type") === "click").count())
  }
}

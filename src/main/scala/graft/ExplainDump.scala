package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one plan-dump main. `sbt "runMain graft.ExplainDump"` builds
  * every plan once and writes two records of them:
  *   - the corpus, `plans/current/<name>.txt`: one normalized
  *     `explain("formatted")` file per declared query and per
  *     [[pipelines]] entry, rewritten as a whole so a renamed or
  *     removed query leaves no file behind;
  *   - EXPLAINS.md, the headline plans SCALE.md's audit table
  *     summarizes, each block the same text as its corpus file.
  *
  * Every plan is built on the [[EngineSession]], the session Verify
  * checks and Bench times.
  *
  * Both are GENERATED, not hand-maintained — stale plans shipped two
  * rounds running when EXPLAINS.md was refreshed by hand — and
  * `ExplainsSyncSpec` regenerates both by running this main in a
  * fresh JVM and fails on any difference: a plan change cannot
  * land without its regenerated dump, and the diff under
  * `plans/current/` shows the change. To make that comparison hold
  * across JVMs, every plan is ID-normalized (expression ids and
  * plan_ids are global counters that depend on what ran earlier in
  * the JVM; they are remapped to per-plan sequential values in order
  * of first appearance, which keeps same-name columns distinguishable
  * while making the text a pure function of the plan shape).
  */
object ExplainDump {
  val DefaultSf = "/root/testdata/sf0.01"

  /** Remap every JVM-global counter that leaks into `explain` text to
    * per-plan sequential values in order of first appearance, so the
    * rendered plan is a pure function of the plan SHAPE, not of what
    * ran earlier in the JVM. The global counters Spark 4.1 embeds in
    * formatted-explain text are, exhaustively (re-audit on a Spark
    * version bump):
    *   1. expression ids      — `#NNN` (NamedExpression.newExprId)
    *   2. plan ids            — `plan_id=NNN` (TreeNode tags)
    *   3. lambda variable names — `x_NNN` etc. (DSL higher-order
    *      functions mint parameter names via
    *      UnresolvedNamedLambdaVariable.freshVarName, an AtomicInteger
    *      suffix; SQL-text lambdas keep the user's names and carry no
    *      counter). Lambda names always render with an `#id` suffix,
    *      which is what the lookahead anchors on — real columns in
    *      this repo never match `name_digits#`.
    *   4. closure identities — typed-Dataset lambdas render as
    *      `Outer$$$Lambda$6196/0x00007effb17422b0@2ffc3d5e` (the
    *      hidden-class number, address and identity hash all differ
    *      between JVMs), remapped to `$$Lambda$1`, `$$Lambda$2`, ….
    *   5. RDD ids and call-site lines — checkpoint scans carry
    *      `MapPartitionsRDD[302] at localCheckpoint at NearDup.scala:182`,
    *      rendered `MapPartitionsRDD[1] at … at NearDup.scala:_`.
    */
  def normalize(plan: String): String = {
    def remap(s: String, pattern: scala.util.matching.Regex,
              render: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      pattern.replaceAllIn(s, m => {
        val id = ids.getOrElseUpdate(m.group(1), ids.size + 1)
        scala.util.matching.Regex.quoteReplacement(render(id))
      })
    }
    val closures = remap(plan,
      "(\\$\\$Lambda(?:\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+)".r,
      i => "$$Lambda$" + i)
    val rdds = remap(closures, "RDD\\[(\\d+)\\]".r, i => s"RDD[$i]")
    val sites = "\\b(\\w+\\.scala):\\d+\\b".r.replaceAllIn(rdds, "$1:_")
    val a = remap(sites, "#(\\d+)".r, i => s"#$i")
    val b = remap(a, "plan_id=(\\d+)".r, i => s"plan_id=$i")
    // lambda names: per-base-name sequential (x_47 -> x_1, acc_12 -> acc_1)
    val counters = scala.collection.mutable.Map.empty[String, Int]
    val assigned = scala.collection.mutable.Map.empty[String, String]
    "\\b([A-Za-z]+)_(\\d+)(?=#)".r.replaceAllIn(b, m => {
      val renamed = assigned.getOrElseUpdate(m.matched, {
        val base = m.group(1)
        val n = counters.getOrElse(base, 0) + 1
        counters(base) = n
        s"${base}_$n"
      })
      scala.util.matching.Regex.quoteReplacement(renamed)
    })
  }

  /** EXPLAINS.md's text: the headline plans, each drawn from `corpus`
    * (plan text by corpus name, as [[plans]] builds it). */
  def render(corpus: Map[String, String], sf: String): String = {
    val headline = Seq(
      "agg_group" -> "flagship: pushed filter -> partial/final hash agg",
      "join_dim" -> "broadcast dimension join",
      "join_fact" -> "fact-fact join, revenue aggregated BELOW the join (r7: fact side pre-reduced to one row per key before any join machinery; BHJ at this SF, keyed exchange of two already-reduced relations beyond the broadcast threshold)",
      "join_anti" -> "anti join: key-only pruned sides, BuildRight broadcast",
      "join_semi" -> "semi join: no right-side payload columns",
      "join_multiway" -> "multiway join: broadcast chain over pruned dims",
      "set_except" -> "set difference as LeftAnti over a distinct-ed build side (r7: build relation map-side-combines to unique keys before its exchange)",
      "sort_topk" -> "TakeOrderedAndProject top-k",
      "sim_search" -> "broadcast query vector + one scan + top-k",
      "asof_join" -> "as-of join: one exchange, window, no join operator",
      "dedup_text" -> "content-hash dedup: one keyed exchange",
      "text_entropy" -> "entropy folded into ONE per-doc aggregate (r6: totals join eliminated)",
      "text_bigram_lm" -> "bigram LM de-skewed (r15): corpus counts as map-side-combined aggregates over ONE reused doc-keyed exchange (ReuseExchange feeds count branch + probe from a single explode), per-bigram NLL broadcast back; replaces the r6 occurrence-level count windows whose Zipf-head word funneled ~5% of the corpus into one unsplittable window task",
      "text_tfidf" -> "tf-idf de-skewed (r15): document frequency as a map-side-combined aggregate over ONE reused doc-keyed exchange, broadcast back; replaces the r6 token-partitioned count window (corpus-sized group on the Zipf-head token); top-k keeps the WindowGroupLimit pushdown on the doc key",
      "text_repetition" -> "ZERO keyed exchanges, no explode, no aggregate (r8: the per-doc Gopher repetition stats fold over a sorted bigram run inside one projection — the statistic never leaves its row; only the presentation sort's range exchange remains. Supersedes the r7 explode + three-exchange form)",
      "cohort_retention" -> "two keyed exchanges, no join, no expand (r8: collect_set of active months per customer, cohort = array_min, explode to one row per (customer, month) so the triangle is a plain count — the r7 form paid a cohort join-back plus countDistinct's expand)",
      "snapshot_diff" -> "union of both snapshots over ONE keyed exchange (r8: each side pads the other's column with null, one map-side-combining max aggregate merges the pair per key, verdict compares in-row — the full-outer sort-merge join it replaces paid two exchanges and two sorts)",
      "dedup_time_window" -> "packed-decimal min HashAggregate, one exchange, truly no sort (r13: first event per (user, type, hour) = min over the packed decimal ts_micros*2^62 + event_id (Num.packAsc; preconditions raise_error-enforced) — the r8 min-STRUCT form silently planned as SortAggregate and sorted the fact table in both partials; the rank-window form before it shuffled every surviving row and ran full window machinery)",
      "window_anomaly" -> "trailing stats as cum-minus-lag, one shared sort (r6)",
      "gap_stats" -> "window + aggregate sharing one exchange",
      "encode_bucket" -> "fit-then-transform: sort-based exact deciles embedded as literals, big side a pure projection (r12: replaces the percentile-aggregate fit + cut-array broadcast + interpreted per-row fold)",
      "agg_salted" -> "salted two-phase skew aggregate (r12): phase-1 partials keyed on (key, salt) spread a hot key over 16 reducers, phase-2 combines |keys|x16 rows — both aggregates map-side combine, so the second exchange carries partials only",
      "scrub_spans" -> "corpus exact-substring scrub (r13): ShingleHash2 emits 128-bit gram fingerprints in one codegen'd pass (no gram strings anywhere), first occurrence = min over a packed (doc_id << 21 | p) long so the per-gram aggregate stays a map-side-combined HashAggregate, join-back keyed on the fingerprint, <= n-row sequence explode per scrubbed occurrence, and reassembly is an indexed filter over the in-row words array (no corpus-sized token explode) — every exchange keyed, nothing pairwise; 279 -> 42 s at 1M docs across the three plan generations",
      // the eager entry points below return a checkpoint scan: show the
      // un-materialized pipeline the checkpoint runs
      "dedup_containment_pipeline" -> "dedup_containment's posting-list candidates with RIDING denominators (r7: per-doc gram counts travel inside the posting structs — one shingle pass, two keyed exchanges, zero joins). Public API materializes this via localCheckpoint",
      "dedup_ngram_pipeline" -> "the candidate-EDGE pipeline feeding dedup_cluster's connected components (shared-rare-shingle postings -> bounded pair expansion -> Jaccard filter). The CC loop then runs per-round equi-join + hash-aggregate over the symmetrized, checkpointed edges of its (doc_a, doc_b) at graph-sized shuffle partitions; plan depth stays constant via localCheckpoint, so the loop has no single static plan to print — this is the one-shot pipeline it iterates over")
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans for the headline queries\n\n")
    sb.append(s"Generated by `graft.ExplainDump` at sf dir `$sf`; SCALE.md's\n")
    sb.append("audit table is the summary, this file is the raw evidence.\n")
    sb.append("Expression/plan ids are normalized to per-plan sequential values\n")
    sb.append("so the file is a deterministic function of the plan shapes;\n")
    sb.append("each block is the text of `plans/current/<name>.txt`, and\n")
    sb.append("`ExplainsSyncSpec` regenerates both and fails on any drift.\n")
    headline.foreach { case (name, note) =>
      sb.append(s"\n## `$name` — $note\n\n```\n${corpus(name)}```\n")
    }
    sb.toString
  }

  /** The formatted physical plan of `df` as every dump records it:
    * [[normalize]]d, plus one more session-dependent token. Several
    * corpus operators `repartition(sc.defaultParallelism)` to spread
    * per-token work, and that width renders as
    * `RoundRobinPartitioning(N)` — N is a function of the HOST/SESSION
    * (core count), not the plan shape, so it is rewritten to a
    * symbolic name. Caveat (known, accepted): the rewrite is textual,
    * so a LITERAL repartition(N) whose N happens to equal this
    * session's defaultParallelism would also be rewritten. No declared
    * query uses a literal round-robin repartition today; if one ever
    * does, give it a count that can't collide (e.g. a prime > 64) or
    * extend normalize() to track which plans used the session value.
    */
  def formatted(df: DataFrame): String = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
      .replace(s"RoundRobinPartitioning($dp)",
        "RoundRobinPartitioning(defaultParallelism)")
  }

  /** The un-materialized pipelines behind the eager entry points,
    * whose returned plan is just a checkpoint scan, keyed
    * `<query>_pipeline` and built by the same package-private `*Plan`
    * builders the entry points run, with the declared queries'
    * arguments. Where an entry point runs jobs before its plan exists
    * (the bloom filter build, the k-means train), its builder takes
    * that step's result, and the dump passes a driver-side stand-in:
    * an empty filter, or a zero matrix of the declared k = 8 centroids
    * over the fixtures' 64 embedding dimensions. Plan text shows the
    * filter not at all (`BloomProbe`) and the matrix and its norms by
    * their labels only (`graft_call_value(centroids)`,
    * `graft_call_value(centroid_norms)`), so the stand-in renders as
    * the real result does. Building one runs nothing: each cache a
    * builder marks is released unused.
    */
  def pipelines(spark: SparkSession,
                sf: String): Seq[(String, () => DataFrame)] = {
    import graft.ops.NearDup._
    import graft.ops.Cluster.{kmeansAssignPlan, vectors}
    def docs = graft.ops.Sources.table(spark, sf, "documents")
    def embeddings = vectors(graft.ops.Sources.table(spark, sf, "embeddings"))
    def centroids = Array.fill(8, 64)(0.0)
    Seq(
      "dedup_ngram_pipeline" -> (() => released(
        dedupNgramPlan(docs, 3, DefaultMaxDf, DefaultMinJaccard))),
      "dedup_containment_pipeline" -> (() =>
        containmentPairsPlan(docs, 3, DefaultMaxDf, DefaultMinContain)),
      "dedup_minhash_pipeline" -> (() => released(
        dedupMinhashPlan(docs, 64, 16, 0.4))),
      "dedup_minhash_portable_pipeline" -> (() => released(
        dedupMinhashPortablePlan(docs, PortableNumHashes, PortableBands,
          PortableMinSim))),
      "dedup_minhash_incr_pipeline" -> (() => released(
        dedupMinhashIncrPlan(docs, PortableNumHashes, PortableBands,
          PortableMinSim))),
      "dedup_simhash_pairs_pipeline" -> (() => released(
        dedupSimhashPairsPlan(docs, PortableMaxHamming))),
      "dedup_bloom_pipeline" -> { () =>
        val (d, exact) = bloomSides(docs)
        released(dedupBloomPlan(d, exact, spark.sparkContext.broadcast(
          org.apache.spark.util.sketch.BloomFilter.create(1))), exact, d)
      },
      "dedup_semantic_pipeline" -> (() => released(
        dedupSemanticPlan(spark, embeddings, centroids, 8, 0.4))),
      "cluster_kmeans_pipeline" -> (() =>
        kmeansAssignPlan(embeddings, centroids)))
  }

  /** `plan`, after releasing the caches its builder marked. */
  private def released(plan: DataFrame, cached: DataFrame*): DataFrame = {
    cached.foreach(_.unpersist(blocking = false))
    plan
  }

  private def released(planned: (DataFrame, DataFrame)): DataFrame =
    released(planned._1, planned._2)

  /** Every plan the records hold, formatted once, by corpus name: the
    * declared queries, then the [[pipelines]]. `agg_distinct` and
    * `agg_distinct_bound` build first: their Expand's order follows
    * hashes of expression ids, so of the ids minted before them. */
  def plans(spark: SparkSession, sf: String): Seq[(String, String)] =
    (SparkEntry.queries.toSeq.sortBy { case (name, _) =>
      (!Set("agg_distinct", "agg_distinct_bound")(name), name)
    }.map { case (name, fn) =>
      name -> (() => fn(spark, sf))
    } ++ pipelines(spark, sf)).map { case (name, mk) =>
      name -> formatted(mk())
    }

  /** The corpus directory, relative to the repository root. */
  val CorpusDir = "plans/current"

  /** A corpus directory's files: text by file name (`<name>.txt`). */
  def readCorpus(dir: Path): Map[String, String] = {
    val files = Files.list(dir)
    try files.iterator.asScala.map(p =>
      p.getFileName.toString -> Files.readString(p)).toMap
    finally files.close()
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSf)
    val spark = EngineSession.build(8)
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = plans(spark, sf)
    val dir = Paths.get(CorpusDir)
    if (Files.isDirectory(dir))
      readCorpus(dir).keys.foreach(f => Files.delete(dir.resolve(f)))
    Files.createDirectories(dir)
    corpus.foreach { case (name, text) =>
      Files.writeString(dir.resolve(s"$name.txt"), text)
    }
    Files.writeString(Paths.get("EXPLAINS.md"), render(corpus.toMap, sf))
    println(s"wrote EXPLAINS.md and ${corpus.size} plans under $CorpusDir")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §2 (the declared query
  * inventory) and §7 (build plan).
  *
  * Every implemented operator registers here twice: a Spark plan in
  * [[queries]] and, when SQL-expressible, the equivalent DuckDB SQL in
  * [[oracleSql]]. Column names and row order match exactly between the
  * two (the driver hash-compares values after sorting columns by
  * name), and all numerics follow the determinism rules in SURVEY §7.4
  * (decimal-exact sums, exact percentiles, NULLS FIRST orderings —
  * see [[graft.ops.Num]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. TPC-H-Q1-shaped: pushed scan filter → hash agg → sort
    * (the reference's whole 2016–2020 capability in one plan).
    */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggGroup(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S: scans
    "src_scan" -> (Transforms.srcScan _),
    // P: projections
    "proj_upper" -> (Transforms.projUpper _),
    "proj_cast" -> (Transforms.projCast _),
    "proj_datefmt" -> (Transforms.projDatefmt _),
    "quality_score" -> (Transforms.qualityScore _),
    // F: filters / validation
    "filter_valid" -> (Transforms.filterValid _),
    "filter_invalid" -> (Transforms.filterInvalid _),
    "filter_like" -> (Transforms.filterLike _),
    "outlier_iqr" -> (Transforms.outlierIqr _),
    "outlier_mad" -> ((s, d) => Transforms.outlierMad(s, d)),
    // D: dedup + imputation
    "dedup_rows" -> (Transforms.dedupRows _),
    "agg_dup_count" -> (Transforms.aggDupCount _),
    "fillna_const" -> (Transforms.fillnaConst _),
    "fillna_mean" -> (Transforms.fillnaMean _),
    // U: set ops
    "union_all" -> (Transforms.unionAll _),
    "set_except" -> (Relational.setExcept _),
    // A: aggregations
    "agg_null_counts" -> (Aggregates.aggNullCounts _),
    "agg_distinct" -> (Aggregates.aggDistinct _),
    "agg_profile" -> (Aggregates.aggProfile _),
    "agg_rates" -> (Aggregates.aggRates _),
    "agg_having" -> (Aggregates.aggHaving _),
    "agg_group" -> (Aggregates.aggGroup _),
    "agg_rollup" -> (Aggregates.aggRollup _),
    "agg_cube" -> (Aggregates.aggCube _),
    "agg_gsets" -> (Aggregates.aggGsets _),
    "agg_corr" -> (Aggregates.aggCorr _),
    "agg_hist" -> ((s, d) => Aggregates.aggHist(s, d)),
    "agg_skew" -> (Aggregates.aggSkew _),
    "agg_deciles" -> (Aggregates.aggDeciles _),
    "agg_mode" -> ((s, d) => Aggregates.aggMode(s, d)),
    "agg_collect" -> (Aggregates.aggCollect _),
    "agg_minmax_by" -> (Aggregates.aggMinmaxBy _),
    "agg_pctl_group" -> (Aggregates.aggPctlGroup _),
    "agg_grouping_id" -> (Aggregates.aggGroupingId _),
    "trend_mom" -> (Aggregates.trendMom _),
    // J: joins
    "join_dim" -> (Relational.joinDim _),
    "join_fact" -> (Relational.joinFact _),
    "join_semi" -> (Relational.joinSemi _),
    "join_anti" -> (Relational.joinAnti _),
    "join_outer" -> (Relational.joinOuter _),
    "join_multiway" -> ((s, d) => Relational.joinMultiway(s, d)),
    "join_range" -> (Relational.joinRange _),
    "join_cross" -> (Relational.joinCross _),
    "join_topk" -> (Relational.joinTopk _),
    "asof_join" -> (AsOf.asofEventsOrders _),
    "asof_tolerance" -> (AsOf.asofEventsOrdersTolerance _),
    // O/W: sort + windows
    "sort_topk" -> (Relational.sortTopk _),
    "window_rank" -> (Relational.windowRank _),
    "window_running" -> (Relational.windowRunning _),
    "window_dist" -> (Relational.windowDist _),
    "merge_upsert" -> (Relational.mergeUpsert _),
    "scd2_snapshot" -> ((s, d) => Relational.scd2Snapshot(s, d)),
    "pivot_wide" -> (Relational.pivotWide _),
    "unpivot_long" -> (Relational.unpivotLong _),
    "window_frames" -> (Relational.windowFrames _),
    "filter_exists" -> (Relational.filterExists _),
    "cohort_retention" -> (Relational.cohortRetention _),
    "share_of_total" -> (Relational.shareOfTotal _),
    "dedup_time_window" -> (TimeOps.dedupTimeWindow _),
    // X: scalar function surface
    "str_funcs" -> (Relational.strFuncs _),
    "str_regex" -> (Relational.strRegex _),
    "array_funcs" -> (Relational.arrayFuncs _),
    "date_funcs" -> (Relational.dateFuncs _),
    "json_extract" -> (Relational.jsonExtract _),
    "map_funcs" -> (Relational.mapFuncs _),
    // T: time ops (batch equivalents; streams are unit-tested)
    "stream_tumbling" -> (TimeOps.streamTumbling _),
    "window_sliding" -> (TimeOps.windowSliding _),
    "window_range" -> (TimeOps.windowRange _),
    "funnel_steps" -> (TimeOps.funnelSteps _),
    "sessionize" -> (TimeOps.sessionize _),
    "session_native" -> (TimeOps.sessionNative _),
    "window_fill" -> (TimeOps.windowFill _),
    "time_resample" -> (TimeOps.timeResample _),
    "window_lag" -> (TimeOps.windowLag _),
    "window_ewma" -> ((s, d) => TimeOps.windowEwma(s, d)),
    "session_stats" -> (TimeOps.sessionStats _),
    // L: LLM-pipeline ops
    "text_tokens" -> (TextSim.textTokens _),
    "text_stats" -> (TextSim.textStats _),
    "source_stats" -> (TextSim.sourceStats _),
    "text_bigrams" -> ((s, d) => TextSim.textBigrams(s, d)),
    "outlier_zscore" -> ((s, d) => TextSim.outlierZscore(s, d)),
    "dedup_text" -> (TextSim.dedupText _),
    "sim_search" -> ((s, d) => TextSim.simSearch(s, d)),
    "multimodal_join" -> (TextSim.multimodalJoin _),
    "lang_id" -> (TextSim.langId _),
    "text_quality" -> (TextSim.textQuality _),
    "text_repetition" -> (TextSim.textRepetition _),
    "tok_count" -> (TextSim.tokCount _),
    "dedup_ngram" -> ((s, d) => NearDup.dedupNgram(s, d)),
    "dedup_cluster" -> ((s, d) => NearDup.dedupCluster(s, d)),
    "text_tfidf" -> ((s, d) => TextSim.textTfidf(s, d)),
    "text_logprob" -> (TextSim.textLogprob _),
    "dedup_embed" -> ((s, d) => TextSim.dedupEmbed(s, d)),
    "sim_knn" -> ((s, d) => TextSim.simKnn(s, d)),
    "text_entropy" -> (TextSim.textEntropy _),
    "pii_mask" -> (Transforms.piiMask _),
    // sampling / split surface (deterministic md5-hash membership)
    "sample_hash" -> (Sampling.sampleHash _),
    "sample_split" -> (Sampling.sampleSplit _),
    "sample_stratified" -> ((s, d) => Sampling.sampleStratified(s, d)),
    "sample_weighted" -> (Sampling.sampleWeighted _),
    "pack_bins" -> ((s, d) => Sampling.packBins(s, d)),
    "decontaminate" -> ((s, d) => NearDup.decontaminate(s, d)),
    "dedup_incremental" -> (NearDup.dedupIncremental _),
    "dedup_chunk" -> ((s, d) => NearDup.dedupChunk(s, d)),
    // portable-hash twins of the xxhash64 production paths: identical
    // banding/vote logic, md5-derived 60-bit hashes DuckDB reproduces
    "dedup_simhash_portable" -> (NearDup.dedupSimhashPortable _),
    "dedup_minhash_portable" -> ((s, d) => NearDup.dedupMinhashPortable(s, d)),
    "dedup_minhash_incr" -> ((s, d) => NearDup.dedupMinhashIncr(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => NearDup.dedupSimhashPairsPortable(s, d)),
    "doc_fingerprint_portable" -> (NearDup.docFingerprintPortable _),
    // no-oracle ops (driver records rows-only checks)
    "dedup_bloom" -> ((s, d) => NearDup.dedupBloom(s, d)),
    // exact per-row membership verdicts — the predicate the bloom
    // filter approximates, DuckDB-checkable end to end (r17 VERDICT #6)
    "dedup_bloom_portable" -> ((s, d) => NearDup.dedupBloomPortable(s, d)),
    "freq_items" -> ((s, d) => Aggregates.freqItems(s, d)),
    // exact heavy hitters at the same support — the oracle-checked
    // set the KPS sketch must superset (r18)
    "freq_items_portable" -> ((s, d) => Aggregates.freqItemsPortable(s, d)),
    "cluster_kmeans" -> ((s, d) => Cluster.clusterKmeans(s, d)),
    "cluster_assign_portable" -> ((s, d) => Cluster.clusterAssignPortable(s, d)),
    "dedup_semantic_portable" -> ((s, d) => Cluster.dedupSemanticPortable(s, d)),
    "dedup_minhash" -> ((s, d) => NearDup.dedupMinhash(s, d)),
    "agg_distinct_approx" -> (Aggregates.aggDistinctApprox _),
    "agg_profile_approx" -> (Aggregates.aggProfileApprox _),
    "agg_distinct_bound" -> (Aggregates.aggDistinctBound _),
    "agg_profile_bound" -> (Aggregates.aggProfileBound _),
    "dedup_simhash" -> (NearDup.dedupSimhash _),
    "doc_fingerprint" -> (TextSim.docFingerprint _),
    "doc_winnow" -> (TextSim.docWinnow _),
    "doc_winnow_portable" -> ((s, d) => TextSim.docWinnowPortable(s, d)),
    "sim_ann_lsh" -> ((s, d) => Ann.simAnnLsh(s, d)),
    "sim_ann_ivf" -> ((s, d) => Ann.simAnnIvf(s, d)),
    // full probe (nProbe = nLists) scans every list, so the IVF plan
    // provably returns the brute-force result — the oracle row for
    // the on-the-fly IVF search, same device as sim_knn_bucketed_full
    "sim_ann_ivf_full" ->
      ((s, d) => Ann.simAnnIvf(s, d, queryId = 0L, k = 10, nLists = 16,
        nProbe = 16)),
    "sim_knn_bucketed" -> ((s, d) => Ann.simKnnBucketed(s, d)),
    // full probe (nProbe = nLists) makes the candidate set all pairs,
    // so the IVF plan provably returns the brute-force result — the
    // oracle row that pins the bucketed join's arithmetic end to end
    // (r17 VERDICT #4; AnnRecallSpec pins the simKnn equality)
    "sim_knn_bucketed_full" ->
      ((s, d) => Ann.simKnnBucketed(s, d, k = 5, nLists = 8, nProbe = 8)),
    "multimodal_features" -> (Multimodal.multimodalFeatures _),
    // oracle twin: header fields of the REAL encoded payloads are
    // closed-form in doc_id, so DuckDB predicts per-row what the
    // byte-level parse must recover (pins the binary round-trip)
    "multimodal_meta_portable" -> (Multimodal.multimodalMetaPortable _),
    "dedup_semantic" -> ((s, d) => NearDup.dedupSemantic(s, d)),
    // feature preparation + CDC + fuzzy matching (round 5)
    "agg_weighted" -> (Aggregates.aggWeighted _),
    "agg_listagg" -> (Aggregates.aggListagg _),
    "scale_features" -> (Features.scaleFeatures _),
    "encode_onehot" -> (Features.encodeOnehot _),
    "encode_freq" -> (Features.encodeFreq _),
    "dedup_fuzzy" -> ((s, d) => NearDup.dedupFuzzy(s, d)),
    "snapshot_diff" -> (Relational.snapshotDiff _),
    "window_median" -> (TimeOps.windowMedian _),
    "pack_concat" -> ((s, d) => Sampling.packConcat(s, d)),
    "sample_quality" -> (Sampling.sampleQuality _),
    "mix_rates" -> ((s, d) => Sampling.mixRates(s, d)),
    "text_bigram_lm" -> (TextSim.textBigramLm _),
    "window_anomaly" -> ((s, d) => TimeOps.windowAnomaly(s, d)),
    "set_intersect" -> (Relational.setIntersect _),
    // round-5 widening: set/join surface, feature prep, corpus + vector
    // profiles, gap statistics
    "union_distinct" -> (Transforms.unionDistinct _),
    "set_except_all" -> (Relational.setExceptAll _),
    "join_nullsafe" -> (Relational.joinNullsafe _),
    "encode_target" -> ((s, d) => Features.encodeTarget(s, d)),
    "encode_bucket" -> (Features.encodeBucket _),
    "scale_robust" -> (Features.scaleRobust _),
    "text_normalize" -> ((s, d) => TextSim.textNormalize(s, d)),
    "corpus_stats" -> ((s, d) => TextSim.corpusStats(s, d)),
    "filter_len_band" -> (TextSim.filterLenBand _),
    "embed_norms" -> (TextSim.embedNorms _),
    "embed_label_stats" -> (TextSim.embedLabelStats _),
    "gap_stats" -> (TimeOps.gapStats _),
    "bpe_pairs" -> ((s, d) => TextSim.bpePairs(s, d)),
    "dedup_containment" -> ((s, d) => NearDup.dedupContainment(s, d)),
    "profile_drift" -> (Aggregates.profileDriftQuery _),
    "chunk_docs" -> ((s, d) => TextSim.chunkDocs(s, d)),
    "embed_quantize" -> (TextSim.embedQuantize _),
    "quality_gopher" -> (TextSim.qualityGopher _),
    "vocab_growth" -> (TextSim.vocabGrowth _),
    "zipf_slope" -> (TextSim.zipfSlope _),
    "agg_salted" -> (Aggregates.aggSalted _),
    // span-level scrub, quality-priority survivors, temperature mixing
    "scrub_spans" -> ((s, d) => NearDup.scrubSpans(s, d)),
    "dedup_survivor" -> (NearDup.dedupSurvivor _),
    "mix_temperature" -> ((s, d) => Sampling.mixTemperature(s, d)),
    // salted-join rewrite, proved by the plain-join oracle
    "join_salted" -> (Relational.joinSalted _),
  )

  /** The F1–F4 validity predicate, shared by three oracle queries. */
  private val validSql =
    "user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL " +
      "AND trim(event_type) <> '' AND value IS NOT NULL " +
      "AND value BETWEEN 0 AND 300"

  /** Exact all-pairs cosine top-5 — shared by `sim_knn` (the
    * brute-force join) and `sim_knn_bucketed_full` (the IVF-bucketed
    * join at full probe, which provably produces the same rows:
    * every (probe list × candidate list) combination is generated,
    * so the candidate set is all pairs and the rank window sees the
    * identical rounded similarities — AnnRecallSpec pins the
    * row-for-row equality against [[graft.ops.TextSim.simKnn]]).
    */
  /** Exact brute-force cosine top-10 for query vector 0 — shared by
    * `sim_search` and `sim_ann_ivf_full` (IVF at nProbe = nLists
    * scans every list, so its candidate set is exactly this query's
    * pair set; see the queries-map note).
    */
  private val SimSearchOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
      |  AND isfinite(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id, round(list_dot_product(v, qv) /
      |(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      |FROM e, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  private val SimKnnOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
      |  AND isfinite(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
      |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
      |round(list_dot_product(a.v, b.v) /
      |(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT qid, nid, cos_sim,
      |row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn FROM p)
      |SELECT qid, nid, cos_sim FROM r WHERE rn <= 5""".stripMargin

  /** Exact decimal sum cast back to double — the SQL mirror of
    * [[graft.ops.Num.dsum]].
    */
  /** Exact decimal sum, closed to DOUBLE through a VARCHAR round-trip
    * (r19, found by the sf1.0-equivalent whole-suite pass): DuckDB's
    * direct decimal→double cast converts the scaled integer to double
    * FIRST and divides by 10^scale second — two roundings — so once a
    * group's unit sum crosses 2⁵³ (agg_group's sum_charge at ~2.8e16
    * micro-units) it lands one ulp away from the correctly-rounded
    * value Spark's single decimal→double conversion produces
    * (measured: exact 27845339640.098010 → direct cast …098007,
    * varchar route …09801). The string parse is correctly rounded
    * (fast_float), and below the cliff both spellings agree bit for
    * bit, so the committed gate hashes are unchanged.
    */
  private def dsumSql(c: String, scale: Int = 4): String =
    s"CAST(CAST(SUM(CAST($c AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"

  /** `price·(1−disc)` / `·(1+tax)` as EXACT DECIMAL factor products
    * (r17 — the ~sf1 spot-run showed the old spelling's per-row
    * DOUBLE product `l_extendedprice * (1 - l_discount)` rounds
    * BEFORE the decimal cast, so the oracle's sum was the sum of
    * rounded products, not the exact rational the engine's integer
    * units compute; at the gate SFs the difference stayed under the
    * comparison rounding, but it is a latent drift at scale). Each
    * factor casts to a tight exact decimal first — prices are 2 dp
    * under DECIMAL(12,2), rates 2 dp under DECIMAL(4,2) — so the
    * products are exact by construction in both engines' decimal
    * arithmetic, same discipline as the Spark side's [[graft.ops.Num.units]]
    * products.
    */
  private val discPriceSql: String =
    "(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(4,2))))"

  private val chargeSql: String =
    s"($discPriceSql * (1 + CAST(l_tax AS DECIMAL(4,2))))"

  /** DuckDB reconstruction of the 60-bit hash Spark computes as
    * `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)`: a
    * nibble-weighted sum over the same md5 hex string (`$hx` must be a
    * column already holding `md5(x)`). Term i contributes
    * `nibble_value * 16^(15-i)`; max value 2⁶⁰−1, inside BIGINT on
    * both engines. Shared by the whole portable near-dup oracle
    * family (simhash/minhash, per-doc/pairs/incremental).
    */
  private def hex60Sql(hx: String): String =
    (1 to 15).map { i =>
      s"(strpos('0123456789abcdef', substring($hx, $i, 1)) - 1) * ${1L << (4 * (15 - i))}"
    }.mkString("(", " + ", ")")

  /** Shingle → md5-60 hash CTEs shared by BOTH portable near-dup
    * families: `gx(doc_id, th)` holds one 60-bit hash per distinct
    * 3-token shingle (clusterReachSql's shingling, hex60Sql's value).
    */
  private def portableShingleCtes: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i FROM t),
      |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
      |gx AS (SELECT doc_id, ${hex60Sql("h")} AS th FROM (SELECT doc_id, md5(sh) AS h FROM g) q)""".stripMargin

  /** Shared CTE prefix of the portable-MinHash oracle family
    * (`dedup_minhash_portable`, `dedup_minhash_incr`):
    * [[portableShingleCtes]] → [[graft.ops.NearDup.PortableSeeds]]
    * affine permutation minima as the wide signature relation
    * `hvw(doc_id, mh0..mh15)`. One definition so the two oracles can
    * never drift from each other — or from the Spark side, whose
    * arithmetic comes from the same
    * [[graft.ops.NearDup.affineHashSql]] builder.
    */
  private def portableSigCtes: String = {
    val minCols = NearDup.PortableSeeds.zipWithIndex.map {
      case ((a, b), i) =>
        s"min(${NearDup.affineHashSql("th", a, b, "//")}) AS mh$i"
    }.mkString(", ")
    raw"""$portableShingleCtes,
      |hvw AS (SELECT doc_id, $minCols FROM gx GROUP BY doc_id)""".stripMargin
  }

  /** Shared CTE prefix of the portable-SimHash oracle family
    * (`dedup_simhash_portable`, `dedup_simhash_pairs`): text_tokens'
    * tokenization → md5-60 token hash (hex60Sql) → per-bit ±1 votes →
    * positive votes packed into `sh(doc_id, simhash)`.
    */
  private def portableSimhashCtes: String =
    raw"""WITH toks AS (SELECT DISTINCT doc_id, token FROM
      |(SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents) t
      |WHERE token <> ''),
      |hx AS (SELECT doc_id, md5(token) AS h FROM toks),
      |thv AS (SELECT doc_id, ${hex60Sql("h")} AS th FROM hx),
      |votes AS (SELECT doc_id, p, sum(CASE WHEN (th // CAST(power(2, p) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |FROM thv CROSS JOIN range(0, 60) AS ps(p) GROUP BY doc_id, p),
      |sh AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS simhash
      |FROM votes GROUP BY doc_id)""".stripMargin

  /** Band rows over a `hvw`-shaped relation `$src` —
    * `PortableBands` bands of `PortableNumHashes / PortableBands`
    * consecutive slots (the shared constants, so the split can never
    * drift from the Spark side's `NearDup.bandRows`).
    */
  private def portableBandSql(src: String): String = {
    val r = NearDup.PortableNumHashes / NearDup.PortableBands
    (0 until NearDup.PortableBands).map { bI =>
      val key = (bI * r until bI * r + r)
        .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $bI AS band_idx, $key AS band_key FROM $src"
    }.mkString(" UNION ALL ")
  }

  /** Slot-agreement count between `wa` and `wb` `hvw` rows. */
  private val portableMatchesSql: String =
    (0 until NearDup.PortableNumHashes)
      .map(i => s"(CASE WHEN wa.mh$i = wb.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The agreement cutoff `matches/numHashes >= minSim`, from the
    * shared constants.
    */
  private val portableCutSql: String =
    s"CAST(matches AS DOUBLE) / ${NearDup.PortableNumHashes} >= " +
      s"${NearDup.PortableMinSim}"

  /** Shared recursive-CTE prefix: n-gram near-dup pairs → transitive
    * reachability (the SQL mirror of [[graft.ops.NearDup.dedupNgram]]
    * feeding [[graft.ops.NearDup.connectedComponents]]). Both
    * `dedup_cluster` and `dedup_survivor` build on the `reach`
    * relation, so the pair semantics can never drift between them.
    */
  private val clusterReachSql: String =
    raw"""WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i FROM t),
      |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram FROM idx),
      |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= ${NearDup.DefaultMaxDf}),
      |rg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM rg GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |FROM rg a JOIN rg b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b,
      |round(CAST(shared AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - shared AS DOUBLE), 4) AS jaccard
      |FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) p
      |WHERE jaccard >= ${NearDup.DefaultMinJaccard}),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (SELECT a, b FROM e
      |UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a AND r.a <> e.b)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (minhash/simhash/fingerprint/ANN/binary decode) → rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "src_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem""".stripMargin,

    "proj_upper" ->
      "SELECT c_custkey, upper(c_name) AS c_name_upper FROM customer",

    "proj_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty_int,
        |CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec
        |FROM lineitem""".stripMargin,

    "proj_datefmt" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS batch_id FROM orders",

    "quality_score" ->
      """SELECT event_id, CAST(1.0 AS DOUBLE) - CAST(
        |(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) +
        |(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) +
        |(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) +
        |(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) +
        |(CASE WHEN value IS NULL THEN 1 ELSE 0 END) +
        |(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(6.0 AS DOUBLE)
        |AS quality_score FROM events""".stripMargin,

    "filter_valid" ->
      s"""SELECT event_id, user_id, event_type, value FROM events
         |WHERE $validSql""".stripMargin,

    "filter_invalid" ->
      s"""SELECT event_id, CASE
         |WHEN user_id IS NULL THEN 'missing_user_id'
         |WHEN ts IS NULL THEN 'missing_ts'
         |WHEN event_type IS NULL OR trim(event_type) = '' THEN 'blank_event_type'
         |WHEN value IS NULL THEN 'missing_value'
         |ELSE 'value_out_of_range' END AS reason
         |FROM events WHERE NOT ($validSql)""".stripMargin,

    "filter_like" ->
      "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE '%AR%'",

    "outlier_iqr" ->
      """WITH b AS (SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events)
        |SELECT event_id, value FROM events, b
        |WHERE value < q1 - (q3 - q1) * 1.5 OR value > q3 + (q3 - q1) * 1.5""".stripMargin,

    "outlier_mad" ->
      """WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
        |mad AS (SELECT quantile_cont(abs(value - med.m), 0.5) AS d, max(med.m) AS m
        |        FROM events, med WHERE value IS NOT NULL GROUP BY ALL),
        |p AS (SELECT m, d FROM mad)
        |SELECT event_id, value, round((value - p.m) / p.d, 4) AS mad_score
        |FROM events, p WHERE abs(value - p.m) > 5 * p.d""".stripMargin,

    "window_ewma" ->
      """WITH e AS (SELECT user_id, value, epoch_us(ts) AS us, event_id FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |l AS (SELECT user_id, list(value ORDER BY us, event_id) AS vs
        |      FROM e GROUP BY user_id)
        |SELECT user_id,
        |round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma
        |FROM l""".stripMargin,

    "dedup_rows" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,

    "agg_dup_count" ->
      """SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS dup_count FROM
        |(SELECT count(*) AS c FROM events GROUP BY user_id, event_type HAVING count(*) > 1) t""".stripMargin,

    "fillna_const" ->
      """SELECT event_id, COALESCE(event_type, 'UNKNOWN') AS event_type_filled,
        |COALESCE(props, '{}') AS props_filled FROM events""".stripMargin,

    "fillna_mean" ->
      """SELECT event_id, COALESCE(value, m.mean_value) AS value_filled FROM events,
        |(SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS mean_value FROM events) m""".stripMargin,

    "union_all" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price
         |FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0
         |      UNION ALL SELECT * FROM orders WHERE o_orderkey % 2 = 1) t
         |GROUP BY o_orderstatus""".stripMargin,

    "set_except" ->
      """SELECT * FROM (SELECT o_orderkey FROM orders EXCEPT SELECT l_orderkey FROM lineitem)""".stripMargin,

    "agg_null_counts" ->
      """SELECT count(*) - count(event_id) AS nulls_event_id,
        |count(*) - count(ts) AS nulls_ts,
        |count(*) - count(user_id) AS nulls_user_id,
        |count(*) - count(event_type) AS nulls_event_type,
        |count(*) - count(value) AS nulls_value,
        |count(*) - count(props) AS nulls_props
        |FROM events""".stripMargin,

    "agg_distinct" ->
      """SELECT count(DISTINCT user_id) AS distinct_users,
        |count(DISTINCT event_type) AS distinct_types FROM events""".stripMargin,

    // The bound-verdict oracles (r18 VERDICT ask #4): DuckDB re-derives
    // the exact arithmetic and PREDICTS the boolean sketch verdicts —
    // an estimator outside its documented error contract flips the hash.
    "agg_distinct_bound" ->
      """SELECT count(DISTINCT user_id) AS exact_users,
        |count(DISTINCT event_type) AS exact_types,
        |TRUE AS users_in_bound, TRUE AS types_in_bound FROM events""".stripMargin,

    "agg_profile_bound" -> {
      def p(c: String) =
        s"""SELECT '$c' AS col_name, quantile_cont($c, 0.5) AS median,
           |TRUE AS median_in_bound FROM lineitem""".stripMargin
      s"""SELECT * FROM (${p("l_quantity")} UNION ALL ${p("l_extendedprice")}
         |UNION ALL ${p("l_discount")}) t""".stripMargin
    },

    "agg_profile" -> {
      def p(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |${dsumSql(c)} / count($c) AS mean,
           |quantile_cont($c, 0.5) AS median,
           |round(stddev_samp($c), 4) AS std,
           |min($c) AS min_val, max($c) AS max_val FROM lineitem""".stripMargin
      s"""SELECT * FROM (${p("l_quantity")} UNION ALL ${p("l_extendedprice")}
         |UNION ALL ${p("l_discount")}) t""".stripMargin
    },

    "agg_rates" ->
      s"""SELECT valid_count, invalid_count,
         |CAST(valid_count AS DOUBLE) / CAST(valid_count + invalid_count AS DOUBLE) AS valid_rate
         |FROM (SELECT
         |CAST(SUM(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
         |CAST(SUM(CASE WHEN $validSql THEN 0 ELSE 1 END) AS BIGINT) AS invalid_count
         |FROM events) t""".stripMargin,

    "agg_having" ->
      """SELECT event_type, count(*) AS n_events FROM events
        |GROUP BY event_type HAVING count(*) > 1900""".stripMargin,

    "agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsumSql("l_quantity")} AS sum_qty,
         |${dsumSql("l_extendedprice")} AS sum_base_price,
         |${dsumSql(discPriceSql, 6)} AS sum_disc_price,
         |${dsumSql(chargeSql, 6)} AS sum_charge,
         |${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |${dsumSql("l_extendedprice")} / count(*) AS avg_price,
         |${dsumSql("l_discount")} / count(*) AS avg_disc,
         |count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "agg_rollup" ->
      s"""SELECT r_name, n_name, ${dsumSql("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "agg_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "agg_gsets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |${dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "agg_corr" -> {
      // integer-cents power sums mirroring the engine (r13): xu/yc are
      // exact long units, products exact in integer space, SUM(BIGINT)
      // widens to HUGEINT (no overflow), and the units→double close is
      // exact-decimal MULTIPLICATION by 10^-s — DuckDB's decimal
      // division silently degrades to DOUBLE and double-rounds (25% of
      // random unit sums differ in the last bit), so division is
      // banned here. The old DECIMAL(18,6)-of-double-product spelling
      // rounded fl(y·y) (error ~1.2e-6 — crosses 6-dp boundaries), so
      // its sums differ from the exact ones pre-round.
      // the VARCHAR round-trip is the same 2^53 double-rounding guard
      // as dsumSql — see its scaladoc
      def us(u: String, scale: Int): String =
        if (scale == 0)
          s"CAST(CAST(CAST(SUM($u) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)"
        else {
          val inv = java.math.BigDecimal.ONE.movePointLeft(scale).toPlainString
          s"CAST(CAST(CAST(SUM($u) AS DECIMAL(38,0)) * CAST($inv AS DECIMAL($scale,$scale)) AS VARCHAR) AS DOUBLE)"
        }
      s"""SELECT l_returnflag, n,
         |round((sxy - sx * sy / nd) / (nd - 1), 2) AS qp_covar,
         |round((nd * sxy - sx * sy) /
         |  (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 4) AS qp_corr,
         |round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 4) AS price_per_qty
         |FROM (SELECT l_returnflag, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
         |  ${us("xu", 0)} AS sx, ${us("yc", 2)} AS sy,
         |  ${us("xu * yc", 2)} AS sxy,
         |  ${us("xu * xu", 0)} AS sxx,
         |  ${us("yc * yc", 4)} AS syy
         |  FROM (SELECT l_returnflag,
         |    CAST(round(l_quantity) AS BIGINT) AS xu,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
         |    FROM lineitem) u GROUP BY l_returnflag) t""".stripMargin
    },

    "pivot_wide" ->
      """SELECT l_linestatus,
        |count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS "A",
        |count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS "N",
        |count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS "R"
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "unpivot_long" ->
      """SELECT * FROM (
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount' AS metric, l_discount AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax' AS metric, l_tax AS value FROM lineitem) t""".stripMargin,

    "window_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |ntile(4) OVER w AS quartile,
        |round(percent_rank() OVER w, 6) AS pct_rank,
        |round(cume_dist() OVER w, 6) AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "merge_upsert" ->
      """WITH snap AS (SELECT o_orderkey AS key, o_orderstatus AS status,
        |  o_totalprice AS price FROM orders),
        |upd AS (SELECT key, max(status) AS u_status, max(price) AS u_price
        |  FROM (SELECT o_orderkey + 1 AS key, 'U' AS status,
        |        CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) *
        |          CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE) AS price
        |        FROM orders WHERE o_orderkey % 2 = 1) t GROUP BY key)
        |SELECT COALESCE(s.key, u.key) AS key,
        |COALESCE(u.u_status, s.status) AS status,
        |COALESCE(u.u_price, s.price) AS price,
        |CASE WHEN u.u_status IS NOT NULL AND s.status IS NOT NULL THEN 'update'
        |     WHEN u.u_status IS NOT NULL THEN 'insert'
        |     ELSE 'passthrough' END AS action
        |FROM snap s FULL OUTER JOIN upd u ON s.key = u.key""".stripMargin,

    "scd2_snapshot" ->
      """WITH base AS (SELECT o_orderkey AS key, o_orderstatus AS status,
        |  o_totalprice AS price, strftime(o_orderdate, '%Y-%m-%d') AS valid_from
        |  FROM orders),
        |upd AS (SELECT key, 'U' AS status,
        |  CAST(round(CAST(price AS DECIMAL(12,2)) * CAST(1.05 AS DECIMAL(3,2)), 2)
        |    AS DOUBLE) AS price
        |  FROM base WHERE key % 2 = 1)
        |SELECT key, status, price, valid_from, '2026-01-01' AS valid_to,
        |  FALSE AS is_current FROM base WHERE key % 2 = 1
        |UNION ALL
        |SELECT key, status, price, valid_from, '9999-12-31' AS valid_to,
        |  TRUE AS is_current FROM base WHERE key % 2 = 0
        |UNION ALL
        |SELECT key, status, price, '2026-01-01' AS valid_from,
        |  '9999-12-31' AS valid_to, TRUE AS is_current FROM upd""".stripMargin,

    "window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey) AS first_price,
        |nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
        |round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3_price
        |FROM orders""".stripMargin,

    "filter_exists" ->
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |AND c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |                          / count(*)
        |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,

    "str_regex" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT) AS n_capitalized,
        |regexp_extract(text, '[0-9]+') AS first_number,
        |text ~ '.*data.*' AS mentions_data
        |FROM documents""".stripMargin,

    "array_funcs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |FROM documents)
        |SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |array_to_string(list_sort(list_distinct(toks))[1:5], ' ') AS first5,
        |list_contains(toks, 'the') AS has_the
        |FROM t""".stripMargin,

    "window_range" ->
      """SELECT user_id, event_id,
        |count(*) OVER w AS n_last_hour,
        |CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_last_hour
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "funnel_steps" ->
      """WITH s AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
        |SELECT count(*) AS n_users,
        |CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
        |CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |  THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
        |CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |  AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
        |FROM s""".stripMargin,

    "share_of_total" ->
      """WITH n AS (SELECT n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name)
        |SELECT n_name, revenue,
        |round(100.0 * revenue / sum(revenue) OVER (), 4) AS pct_of_total
        |FROM n""".stripMargin,

    "dedup_time_window" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL),
        |r AS (SELECT user_id, event_type, event_id, hr,
        | row_number() OVER (PARTITION BY user_id, event_type, hr
        |   ORDER BY us, event_id) AS rn FROM e)
        |SELECT user_id, event_type, hr AS hour_start, event_id
        |FROM r WHERE rn = 1""".stripMargin,

    "cohort_retention" ->
      """WITH o AS (SELECT o_custkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym FROM orders),
        |c AS (SELECT o_custkey, min(ym) AS cohort FROM o GROUP BY 1)
        |SELECT c.cohort, o.ym, count(DISTINCT o.o_custkey) AS n_active
        |FROM o JOIN c USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,

    "window_sliding" ->
      """WITH ev AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h
        |FROM events WHERE ts IS NOT NULL),
        |w AS (SELECT unnest([h, h - INTERVAL 1 HOUR]) AS window_start FROM ev)
        |SELECT window_start, count(*) AS n FROM w
        |GROUP BY 1""".stripMargin,

    "dedup_incremental" ->
      """SELECT n.doc_id,
        |EXISTS (SELECT 1 FROM documents o
        |  WHERE substring(md5(CAST(o.doc_id AS VARCHAR)), 1, 1) < '8'
        |    AND trim(lower(o.text)) = trim(lower(n.text))) AS dup_of_corpus
        |FROM documents n
        |WHERE substring(md5(CAST(n.doc_id AS VARCHAR)), 1, 1) >= '8'""".stripMargin,

    // sha256 hex is lowercase in both engines; a NULL text hashes to
    // NULL, never joins, and so reads as in_corpus = false on both
    // sides — the same per-row verdict the production bloom path's
    // exact join computes
    "dedup_bloom_portable" ->
      """WITH d AS (SELECT doc_id, sha256(trim(lower(text))) AS h,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8' AS is_new
        |  FROM documents),
        |corpus AS (SELECT DISTINCT h FROM d WHERE NOT is_new)
        |SELECT d.doc_id, (c.h IS NOT NULL) AS in_corpus
        |FROM d LEFT JOIN corpus c ON d.h = c.h
        |WHERE d.is_new""".stripMargin,

    "dedup_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words
        |           FROM documents),
        |c AS (SELECT doc_id,
        |  unnest(list_transform(range(0, CAST(ceil(len(words) / 20.0) AS INT)),
        |    i -> array_to_string(words[i * 20 + 1 : i * 20 + 20], ' '))) AS chunk
        |  FROM w)
        |SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM c
        |GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    "join_dim" ->
      s"""SELECT r_name, n_name, count(*) AS n_customers, ${dsumSql("c_acctbal")} AS total_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    "join_fact" ->
      s"""SELECT o_orderkey, o_orderpriority,
         |${dsumSql(discPriceSql, 6)} AS revenue,
         |count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderkey, o_orderpriority""".stripMargin,

    "join_semi" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)""".stripMargin,

    "join_anti" ->
      """SELECT o_orderkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,

    "join_outer" ->
      """SELECT o_orderkey, COALESCE(c_custkey, -1) AS matched_custkey,
        |COALESCE(c_name, 'NONE') AS matched_name
        |FROM orders LEFT JOIN
        |(SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
        |ON o_custkey = c_custkey""".stripMargin,

    "join_multiway" ->
      s"""SELECT n_name, ${dsumSql(discPriceSql, 6)} AS revenue,
         |count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    "sort_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) t WHERE rn = 1""".stripMargin,

    "window_running" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    "str_funcs" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,
        |upper(lang) AS lang_upper, lower(source) AS source_lower,
        |substring(text, 1, 10) AS text_prefix,
        |concat(lang, ':', source) AS lang_source,
        |split_part(text, ' ', 1) AS first_word
        |FROM documents""".stripMargin,

    "date_funcs" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |CAST(month(o_orderdate) AS INTEGER) AS mo,
        |CAST(day(o_orderdate) AS INTEGER) AS dom,
        |strftime(o_orderdate, '%Y-%m') AS ym,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
        |FROM orders""".stripMargin,

    "json_extract" ->
      """SELECT k_value, count(*) AS n FROM
        |(SELECT json_extract_string(props, '$.k') AS k_value FROM events) t
        |GROUP BY k_value""".stripMargin,

    "stream_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |event_type, count(*) AS n FROM events
        |GROUP BY 1, 2""".stripMargin,

    "sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_sess FROM e)
        |SELECT user_id, event_id, CAST(SUM(new_sess) OVER (
        |PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin,

    "session_native" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us >= lag(us) OVER w + 1800000000
        |  THEN 1 ELSE 0 END AS new_sess FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sid AS (SELECT user_id, us, CAST(SUM(new_sess) OVER (
        |  PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, min(us) AS session_start_us, count(*) AS n
        |FROM sid GROUP BY user_id, session_id""".stripMargin,

    "window_fill" ->
      """SELECT user_id, event_id,
        |last_value(value IGNORE NULLS) OVER (
        |  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL""".stripMargin,

    "session_stats" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_sess FROM e),
        |sid AS (SELECT user_id, event_id, ts, CAST(SUM(new_sess) OVER (
        |PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |min(event_id) AS first_event,
        |max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM sid GROUP BY user_id, session_id""".stripMargin,

    "text_tokens" ->
      """SELECT token, count(*) AS n FROM
        |(SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents) t
        |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / count(*) AS avg_len
        |FROM documents GROUP BY lang""".stripMargin,

    "text_bigrams" ->
      """WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS words
        |FROM documents),
        |bg AS (SELECT unnest(list_transform(range(2, len(words) + 1),
        |  i -> words[i - 1] || ' ' || words[i])) AS bigram
        |  FROM w WHERE len(words) >= 2)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""".stripMargin,

    "outlier_zscore" ->
      """WITH s AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |  CAST(count(value) AS DOUBLE) AS n FROM events),
        |p AS (SELECT sx / n AS mu, sqrt((sxx - sx * sx / n) / (n - 1)) AS sd FROM s)
        |SELECT event_id, value, round((value - mu) / sd, 4) AS z
        |FROM events, p WHERE abs(value - mu) > 3 * sd""".stripMargin,

    "source_stats" ->
      """WITH d AS (SELECT doc_id, source, trim(lower(text)) AS norm,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents),
        |h AS (SELECT source, count(*) AS n_docs,
        |  count(DISTINCT norm) AS n_unique,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM d GROUP BY source)
        |SELECT source, n_docs, n_unique,
        |round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 4) AS dup_rate,
        |total_tokens,
        |CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens
        |FROM h""".stripMargin,

    "dedup_text" ->
      """SELECT text_hash, count(*) AS n_docs, min(doc_id) AS first_doc FROM
        |(SELECT doc_id, sha256(trim(lower(text))) AS text_hash FROM documents) t
        |GROUP BY text_hash""".stripMargin,

    "sim_search" -> SimSearchOracleSql,
    // full probe makes the IVF candidate set every non-query vector,
    // so the brute-force top-10 oracle verifies the IVF assignment
    // and scoring arithmetic per row (ties break on (cos_sim, vec_id)
    // in both plans)
    "sim_ann_ivf_full" -> SimSearchOracleSql,

    // the header fields of the real encoded payloads, predicted
    // closed-form from doc_id (SQL kept beside the parser it twins)
    "multimodal_meta_portable" -> graft.ops.Multimodal.MetaPortableOracleSql,

    "multimodal_join" ->
      """SELECT label, count(*) AS n_docs,
        |CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |round(SUM(CAST(embedding[1] AS DOUBLE)) / count(*), 4) AS avg_e0
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY label""".stripMargin,

    "lang_id" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |CAST(SUM(CASE WHEN token IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |FROM tok WHERE token <> '' GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |CASE WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
        |THEN 'en' ELSE 'und' END AS predicted_lang
        |FROM agg""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, n_tokens, avg_token_len, punct_ratio,
        |(n_tokens BETWEEN 10 AND 500) AND avg_token_len < 8.0
        |AND punct_ratio < 0.2 AS quality_ok FROM
        |(SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_token_len,
        |round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
        |greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio
        |FROM documents) t""".stripMargin,

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |FROM documents),
        |f AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words, words,
        |list_transform(range(2, len(words) + 1),
        |i -> words[i - 1] || ' ' || words[i]) AS bgs
        |FROM w WHERE len(words) >= 2),
        |bg AS (SELECT doc_id, n_words, unnest(bgs) AS bigram FROM f),
        |bc AS (SELECT doc_id, n_words, bigram, count(*) AS c
        |FROM bg GROUP BY 1, 2, 3),
        |ag AS (SELECT doc_id, n_words, max(c) AS top_bigram_n,
        |sum(c) AS n_bigrams FROM bc GROUP BY 1, 2),
        |un AS (SELECT doc_id, count(DISTINCT word) AS distinct_words FROM
        |(SELECT doc_id, unnest(words) AS word FROM f) GROUP BY 1)
        |SELECT a.doc_id, a.n_words, a.top_bigram_n,
        |round(a.top_bigram_n / a.n_bigrams, 4) AS top_bigram_frac,
        |u.distinct_words,
        |round(1.0 - u.distinct_words / a.n_words, 4) AS dup_word_frac,
        |round(a.top_bigram_n / a.n_bigrams, 4) > 0.18 OR
        |round(1.0 - u.distinct_words / a.n_words, 4) > 0.9 AS repetitive
        |FROM ag a JOIN un u USING (doc_id)""".stripMargin,

    "tok_count" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
        |FROM documents""".stripMargin,

    "agg_hist" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY bucket""".stripMargin,

    "agg_skew" -> {
      def ds(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
      s"""WITH t AS (SELECT l_returnflag, count(*) AS n,
         |  CAST(count(*) AS DOUBLE) AS nd,
         |  ${ds("l_quantity")} AS sx,
         |  ${ds("l_quantity * l_quantity")} AS sxx,
         |  ${ds("l_quantity * l_quantity * l_quantity")} AS sxxx,
         |  ${ds("l_quantity * l_quantity * l_quantity * l_quantity")} AS sxxxx
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |round(sx / nd, 4) AS mean_qty,
         |round((sxxx / nd - 3 * (sx / nd) * (sxx / nd) + 2 * (sx / nd) * (sx / nd) * (sx / nd))
         |  / pow(sxx / nd - (sx / nd) * (sx / nd), 1.5), 4) AS skew_pop,
         |round((sxxxx / nd - 4 * (sx / nd) * (sxxx / nd)
         |    + 6 * (sx / nd) * (sx / nd) * (sxx / nd)
         |    - 3 * (sx / nd) * (sx / nd) * (sx / nd) * (sx / nd))
         |  / ((sxx / nd - (sx / nd) * (sx / nd)) * (sxx / nd - (sx / nd) * (sx / nd))) - 3, 4)
         |  AS kurt_excess
         |FROM t""".stripMargin
    },

    // exact heavy hitters at support 0.1 over the same filtered
    // relation freq_items sketches; string_agg ORDER BY matches
    // sort_array (binary collation on types, numeric on buckets —
    // buckets sort as LONGs before the string cast on both sides);
    // coalesce('') mirrors concat_ws over an empty list
    "freq_items_portable" ->
      """WITH p AS (SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM p),
        |t AS (SELECT event_type FROM p, n GROUP BY event_type, n.n
        |  HAVING count(*) > 0.1 * n.n),
        |b AS (SELECT bucket FROM p, n GROUP BY bucket, n.n
        |  HAVING count(*) > 0.1 * n.n)
        |SELECT
        |coalesce((SELECT string_agg(event_type, ',' ORDER BY event_type) FROM t), '') AS freq_types,
        |coalesce((SELECT string_agg(CAST(bucket AS VARCHAR), ',' ORDER BY bucket) FROM b), '') AS freq_buckets""".stripMargin,

    "agg_mode" ->
      """WITH b AS (SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |count(*) AS n FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, bucket, n, row_number() OVER (
        |PARTITION BY event_type ORDER BY n DESC, bucket) AS rn FROM b)
        |SELECT event_type, bucket AS mode_bucket, n FROM r WHERE rn = 1""".stripMargin,

    "agg_minmax_by" ->
      """WITH a AS (SELECT event_type,
        |max({'v': value, 'id': event_id}) AS mx,
        |min({'v': value, 'id': event_id}) AS mn
        |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |AND event_id IS NOT NULL GROUP BY event_type)
        |SELECT event_type, mx.id AS max_value_event, round(mx.v, 4) AS max_value,
        |mn.id AS min_value_event, round(mn.v, 4) AS min_value
        |FROM a""".stripMargin,

    "agg_pctl_group" ->
      """WITH q AS (SELECT event_type, quantile_cont(value, [0.25, 0.5, 0.75]) AS qs
        |FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |u AS (SELECT event_type, generate_subscripts(qs, 1) AS idx, unnest(qs) AS v FROM q)
        |SELECT event_type, CAST(idx AS BIGINT) * 25 / 100.0 AS p,
        |round(v, 4) AS value_at_p
        |FROM u""".stripMargin,

    "agg_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "trend_mom" ->
      """WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1)
        |SELECT ym, revenue,
        |round(100.0 * (revenue - lag(revenue) OVER (ORDER BY ym)) /
        |  lag(revenue) OVER (ORDER BY ym), 4) AS pct_change
        |FROM m""".stripMargin,

    "agg_deciles" ->
      """WITH q AS (SELECT quantile_cont(value,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM events),
        |u AS (SELECT generate_subscripts(qs, 1) AS idx, unnest(qs) AS v FROM q)
        |SELECT (idx) / 10.0 AS p, round(v, 4) AS value_at_p
        |FROM u""".stripMargin,

    "time_resample" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS hour_start FROM events
        |            WHERE ts IS NOT NULL),
        |c AS (SELECT hour_start, count(*) AS n_raw FROM ev GROUP BY hour_start),
        |b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM ev),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |          AS hour_start FROM b)
        |SELECT s.hour_start, COALESCE(c.n_raw, 0) AS n
        |FROM spine s LEFT JOIN c USING (hour_start)""".stripMargin,

    "window_lag" ->
      """SELECT user_id, event_id,
        |epoch_us(ts) - lag(epoch_us(ts), 1)
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us,
        |round(value - lag(value, 1)
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 4)
        |  AS value_delta
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL""".stripMargin,

    "sim_knn" -> SimKnnOracleSql,
    // the full-probe bucketed join provably equals brute force (every
    // (probe list x candidate list) combination is generated), so the
    // SAME exact-k-NN oracle verifies the IVF assignment + in-list
    // join + rank-window arithmetic per row
    "sim_knn_bucketed_full" -> SimKnnOracleSql,

    "text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |WHERE token <> '' GROUP BY doc_id, token),
        |n AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |count(*) AS n_distinct FROM tf GROUP BY doc_id)
        |SELECT t.doc_id, n.n_tokens, n.n_distinct,
        |round(round(ln(n.n_tokens), 8) -
        |  CAST(SUM(CAST(round(ln(t.tf), 8) AS DECIMAL(18,8)) * t.tf) AS DOUBLE) /
        |  CAST(n.n_tokens AS DOUBLE), 4) AS entropy
        |FROM tf t JOIN n USING (doc_id)
        |GROUP BY t.doc_id, n.n_tokens, n.n_distinct""".stripMargin,

    "dedup_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
      |  AND isfinite(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |round(list_dot_product(a.v, b.v) /
        |(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4""".stripMargin,

    "asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, COALESCE(o.o_orderkey, -1) AS last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,

    "asof_tolerance" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |CASE WHEN o.o_orderdate >= e.ts - INTERVAL 30 DAY
        |THEN o.o_orderkey ELSE -1 END AS last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,

    "join_topk" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |o_orderpriority,
        |${dsumSql(discPriceSql, 6)}
        |  AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "join_cross" ->
      """SELECT a.r_name AS region_a, b.r_name AS region_b
        |FROM region a CROSS JOIN region b""".stripMargin,

    "map_funcs" ->
      """WITH kv AS (SELECT unnest(json_keys(props)) AS k, props
        |FROM events WHERE props IS NOT NULL)
        |SELECT k, count(*) AS n,
        |count(DISTINCT json_extract_string(props, '$.' || k)) AS n_values
        |FROM kv GROUP BY k""".stripMargin,

    "agg_collect" ->
      """SELECT event_type,
        |array_to_string(list_sort(list(DISTINCT CAST(floor(value / 100.0) AS BIGINT))), ',')
        |  AS buckets
        |FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY event_type""".stripMargin,

    "join_range" ->
      s"""SELECT tier, count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events JOIN (VALUES (0.0, 100.0, 'low'), (100.0, 250.0, 'mid'),
         |(250.0, 500.0, 'high')) t(lo, hi, tier)
         |ON value >= lo AND value < hi
         |GROUP BY tier""".stripMargin,

    "pii_mask" ->
      """SELECT c_custkey,
        |regexp_replace(regexp_replace(c_name,
        |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |'[0-9]{4,}', '<ID>', 'g') AS masked_name,
        |CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS BIGINT) AS n_redactions
        |FROM customer""".stripMargin,

    "sample_hash" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')""".stripMargin,

    "sample_split" ->
      """SELECT CASE WHEN h < 'c' THEN 'train' WHEN h < 'e' THEN 'val'
        |ELSE 'test' END AS split, count(*) AS n
        |FROM (SELECT substring(md5(CAST(event_id AS VARCHAR)), 1, 1) AS h
        |FROM events) t
        |GROUP BY 1""".stripMargin,

    "sample_stratified" ->
      """SELECT event_type, event_id FROM (
        |SELECT event_type, event_id, row_number() OVER (
        |PARTITION BY event_type
        |ORDER BY md5(CAST(event_id AS VARCHAR)) NULLS FIRST, event_id NULLS FIRST) AS rn
        |FROM events) t WHERE rn <= 50""".stripMargin,

    "sample_weighted" ->
      """SELECT source, count(*) AS n_kept FROM documents
        |WHERE TRY_CAST(substring(source, 4) AS INT) < 10
        |OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
        |GROUP BY source""".stripMargin,

    "pack_bins" ->
      """WITH d AS (SELECT doc_id, source,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT doc_id, source, n_tokens,
        |CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS bin_id
        |FROM c""".stripMargin,

    "decontaminate" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i FROM t),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram FROM idx),
        |lab AS (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_test FROM documents),
        |gl AS (SELECT g.doc_id, g.gram, lab.is_test FROM g JOIN lab USING (doc_id)),
        |bad AS (SELECT gram FROM gl GROUP BY gram
        |HAVING count(*) <= ${NearDup.DefaultMaxDf} AND bool_or(is_test))
        |SELECT doc_id, count(*) AS n_shared FROM gl JOIN bad USING (gram)
        |WHERE NOT is_test GROUP BY doc_id""".stripMargin,

    "text_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |freq AS (SELECT token, count(*) AS tf FROM tok2 GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM tok2),
        |lp AS (SELECT doc_id, CAST(round(ln(CAST(n_total AS DOUBLE) / tf), 6) AS DECIMAL(18,6)) AS nll
        |FROM tok2 JOIN freq USING (token), tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |round(CAST(SUM(nll) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM lp GROUP BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, token,
        |round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |FROM tf JOIN df USING (token), n),
        |r AS (SELECT doc_id, token, tfidf,
        |row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM sc)
        |SELECT doc_id, token, tfidf FROM r WHERE rn <= 3""".stripMargin,

    "dedup_cluster" ->
      s"""$clusterReachSql
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach
        |GROUP BY a""".stripMargin,

    "dedup_survivor" ->
      s"""$clusterReachSql,
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars FROM cl JOIN documents d USING (doc_id)),
        |r2 AS (SELECT cluster_id, doc_id, n_chars,
        |row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
        |count(*) OVER (PARTITION BY cluster_id) AS n_docs,
        |max(n_chars) OVER (PARTITION BY cluster_id) AS survivor_chars FROM j)
        |SELECT cluster_id, n_docs, doc_id AS survivor_id, survivor_chars,
        |n_docs - 1 AS n_dropped FROM r2 WHERE rn = 1""".stripMargin,

    "dedup_ngram" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i FROM t),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram FROM idx),
        |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= ${NearDup.DefaultMaxDf}),
        |rg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM rg GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |FROM rg a JOIN rg b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT * FROM (SELECT doc_a, doc_b,
        |round(CAST(shared AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - shared AS DOUBLE), 4) AS jaccard
        |FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) p
        |WHERE jaccard >= ${NearDup.DefaultMinJaccard}""".stripMargin,

    // portable SimHash: same tokenization as text_tokens, 60-bit
    // md5-nibble hash (hex60Sql), votes per bit, positive votes pack
    // into the signature, 4 x 15-bit bands — the full vote/band logic
    // of NearDup.simhash under a hash both engines compute.
    "dedup_simhash_portable" ->
      raw"""$portableSimhashCtes
        |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash,
        |CAST((simhash // 35184372088832) % 32768 AS BIGINT) AS band0,
        |CAST((simhash // 1073741824) % 32768 AS BIGINT) AS band1,
        |CAST((simhash // 32768) % 32768 AS BIGINT) AS band2,
        |CAST(simhash % 32768 AS BIGINT) AS band3
        |FROM sh""".stripMargin,

    // portable SimHash PAIRS over SHINGLE features: band-blocked
    // candidates (never all pairs), exact Hamming via bit_count(xor)
    // <= 8 — the NearDup.simhashPairs blocking + cutoff logic.
    // Shingles, not unigrams: unigram-SET simhash is degenerate on a
    // bounded-vocabulary corpus (measured 38k hamming-0 pairs among
    // the 5000 sf0.1 docs — every doc holds most of the vocab), while
    // shingle features separate real dups from noise (16 hamming-0
    // pairs, the planted exact dups + collisions).
    "dedup_simhash_pairs" -> {
      val bandRows = Seq(
        ("35184372088832", 0), ("1073741824", 1), ("32768", 2))
        .map { case (d, b) =>
          s"SELECT doc_id, simhash, (simhash // $d) % 32768 AS band, $b AS band_idx FROM s2"
        }.mkString("", " UNION ALL ",
          " UNION ALL SELECT doc_id, simhash, simhash % 32768 AS band, 3 AS band_idx FROM s2")
      raw"""$portableShingleCtes,
        |votes AS (SELECT doc_id, p, sum(CASE WHEN (th // CAST(power(2, p) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |FROM gx CROSS JOIN range(0, 60) AS ps(p) GROUP BY doc_id, p),
        |s2 AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS simhash
        |FROM votes GROUP BY doc_id),
        |bands AS ($bandRows),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |a.simhash AS sh_a, b.simhash AS sh_b
        |FROM bands a JOIN bands b USING (band, band_idx) WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= ${NearDup.PortableMaxHamming}""".stripMargin
    },

    // portable MinHash+LSH: clusterReachSql's shingling, ONE md5-60
    // base hash per shingle (hex60Sql), 16 affine-mod-Mersenne
    // permutation minima whose integer arithmetic is pasted VERBATIM
    // from NearDup.affineHashSql (only the integer-division token
    // differs: Spark `div`, DuckDB `//`), 4-slot comma-joined band
    // keys, bucketed candidate join, agreement-count Jaccard >= 0.4,
    // 1-row exact-integer summary (single IEEE division for the avg).
    "dedup_minhash_portable" ->
      raw"""$portableSigCtes,
        |bk AS (${portableBandSql("hvw")}),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bk a JOIN bk b USING (band_idx, band_key) WHERE a.doc_id < b.doc_id),
        |pm AS (SELECT c.doc_a, c.doc_b, $portableMatchesSql AS matches
        |FROM cand c JOIN hvw wa ON wa.doc_id = c.doc_a
        |JOIN hvw wb ON wb.doc_id = c.doc_b),
        |flt AS (SELECT * FROM pm WHERE $portableCutSql)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |CAST(coalesce(sum(matches), 0) AS BIGINT) AS sum_matches,
        |CASE WHEN count(*) = 0 THEN 0.0
        |ELSE CAST(sum(matches) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * ${NearDup.PortableNumHashes}) END AS avg_jaccard
        |FROM flt""".stripMargin,

    // portable min-shingle fingerprint: the first MinHash slot + the
    // distinct-shingle count per doc, over the shared shingle CTEs.
    "doc_fingerprint_portable" -> {
      val (a, b) = NearDup.PortableSeeds.head
      raw"""$portableShingleCtes
        |SELECT doc_id, min(${NearDup.affineHashSql("th", a, b, "//")}) AS fingerprint,
        |CAST(count(*) AS BIGINT) AS n_shingles
        |FROM gx GROUP BY doc_id""".stripMargin
    },

    // portable winnowing: md5-60 hash per k-char window, rightmost
    // minimum per w-window via the SAME packed DECIMAL(38,0) argmin
    // arithmetic the Spark side runs (hv*2^62 - i), consecutive-pick
    // dedup by lag, exact-integer per-doc summary. k/w interpolate
    // from TextSim so query and oracle can never desynchronize.
    "doc_winnow_portable" -> {
      val k = TextSim.WinnowK
      val w = TextSim.WinnowW
      val S = graft.ops.Num.packShiftSql
      raw"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) >= $k),
        |pos AS (SELECT doc_id, text, greatest(len - ${k - 1} - ${w - 1}, 1) AS nwins, unnest(generate_series(1, len - ${k - 1})) AS i FROM d),
        |hx AS (SELECT doc_id, nwins, i, ${hex60Sql("h")} AS hv FROM (SELECT doc_id, nwins, i, md5(substring(text, i, $k)) AS h FROM pos) q),
        |cand AS (SELECT doc_id, i, hv, unnest(generate_series(greatest(1, i - ${w - 1}), least(i, nwins))) AS j FROM hx),
        |picks AS (SELECT doc_id, j, min(hv) AS mh, min(CAST(hv AS DECIMAL(38,0)) * $S - i) AS pk FROM cand GROUP BY doc_id, j),
        |p2 AS (SELECT doc_id, j, mh, CAST(CAST(mh AS DECIMAL(38,0)) * $S - pk AS BIGINT) AS p FROM picks),
        |dd AS (SELECT doc_id, mh, p, lag(p) OVER (PARTITION BY doc_id ORDER BY j) AS pp FROM p2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
        |CAST(sum(CAST(mh AS DECIMAL(38,0))) % ${NearDup.MersenneP} AS BIGINT) AS fp_digest
        |FROM dd WHERE pp IS NULL OR p <> pp GROUP BY doc_id""".stripMargin
    },

    // incremental probe-vs-corpus variant: same signature relation,
    // probe batch = doc_id % 4 = 0 banded against the rest, per-pair
    // agreement rows (exact integers, total ordering on the pair key).
    "dedup_minhash_incr" ->
      raw"""$portableSigCtes,
        |hp AS (SELECT * FROM hvw WHERE doc_id % ${NearDup.PortableProbeMod} = 0),
        |hc AS (SELECT * FROM hvw WHERE doc_id % ${NearDup.PortableProbeMod} <> 0),
        |bkp AS (${portableBandSql("hp")}),
        |bkc AS (${portableBandSql("hc")}),
        |cand AS (SELECT DISTINCT a.doc_id AS probe_doc, b.doc_id AS corpus_doc
        |FROM bkp a JOIN bkc b USING (band_idx, band_key)),
        |pm AS (SELECT c.probe_doc, c.corpus_doc, $portableMatchesSql AS matches
        |FROM cand c JOIN hvw wa ON wa.doc_id = c.probe_doc
        |JOIN hvw wb ON wb.doc_id = c.corpus_doc)
        |SELECT probe_doc, corpus_doc, CAST(matches AS BIGINT) AS matches
        |FROM pm WHERE $portableCutSql""".stripMargin,

    "agg_weighted" ->
      s"""SELECT l_returnflag,
         |round(${dsumSql("l_extendedprice * l_quantity")} /
         |  ${dsumSql("l_quantity")}, 4) AS wavg_price,
         |round(${dsumSql("l_extendedprice")} / count(*), 4) AS avg_price
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_listagg" ->
      """SELECT o_orderstatus,
        |array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
        |CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "scale_features" ->
      s"""WITH s AS (SELECT count(*) AS n, min(value) AS mn, max(value) AS mx,
         |  ${dsumSql("value", 6)} AS sx, ${dsumSql("value * value", 6)} AS sxx
         |  FROM events WHERE value IS NOT NULL)
         |SELECT event_id,
         |round((value - mn) / (mx - mn), 6) AS value_minmax,
         |round((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS value_z
         |FROM events, s WHERE value IS NOT NULL""".stripMargin,

    "encode_onehot" ->
      """SELECT o_orderkey,
        |CAST(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS BIGINT) AS is_o,
        |CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS is_f,
        |CAST(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS BIGINT) AS is_p
        |FROM orders""".stripMargin,

    "encode_freq" ->
      """WITH f AS (SELECT event_type, count(*) AS cnt FROM events
        |           WHERE event_type IS NOT NULL GROUP BY event_type),
        |t AS (SELECT count(*) AS total FROM events WHERE event_type IS NOT NULL)
        |SELECT e.event_id, e.event_type,
        |round(CAST(f.cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS et_freq
        |FROM events e, f, t WHERE e.event_type = f.event_type""".stripMargin,

    "dedup_fuzzy" ->
      """WITH v AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        |b AS (SELECT name, unnest(list_distinct([
        |  regexp_extract(name, '^([^ \t]+)'),
        |  regexp_extract(name, '([^ \t]+)$')])) AS block FROM v),
        |p AS (SELECT DISTINCT a.name AS name_a, bb.name AS name_b
        |      FROM b a JOIN b bb ON a.block = bb.block AND a.name < bb.name)
        |SELECT name_a, name_b,
        |CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 3""".stripMargin,

    "snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey AS key, o_totalprice AS old_price
        |             FROM orders WHERE o_orderkey % 10 <> 9),
        |nw AS (SELECT o_orderkey AS key,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 10 <> 0)
        |SELECT * FROM (
        |  SELECT COALESCE(old.key, nw.key) AS o_orderkey,
        |  CASE WHEN nw.key IS NULL THEN 'removed'
        |       WHEN old.key IS NULL THEN 'added'
        |       WHEN old_price <> new_price THEN 'changed' END AS verdict,
        |  old_price, new_price
        |  FROM old FULL OUTER JOIN nw ON old.key = nw.key) d
        |WHERE verdict IS NOT NULL""".stripMargin,

    "window_median" ->
      """SELECT user_id, event_id,
        |round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |  ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_median
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL""".stripMargin,

    "pack_concat" ->
      """WITH d AS (SELECT doc_id, source, text,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, source, text, n_tokens,
        |SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT source, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS bin_id,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |string_agg(text, chr(10) ORDER BY doc_id) AS packed
        |FROM c GROUP BY source, bin_id""".stripMargin,

    "sample_quality" ->
      """WITH q AS (SELECT doc_id,
        |(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) BETWEEN 10 AND 500)
        |AND (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) < 8.0
        |AND round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
        |     greatest(CAST(length(text) AS DOUBLE), 1.0), 4) < 0.2 AS quality_ok
        |FROM documents)
        |SELECT doc_id, quality_ok FROM q
        |WHERE instr('0123456789abcdef',
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <=
        |  CASE WHEN quality_ok THEN 14 ELSE 4 END""".stripMargin,

    "mix_rates" ->
      """WITH s AS (SELECT source,
        |CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT)
        |  AS n_tokens FROM documents GROUP BY source),
        |t AS (SELECT count(*) AS n_src FROM s)
        |SELECT source, n_tokens,
        |round(least(1.0, (20000.0 / n_src) / n_tokens), 6) AS keep_rate,
        |CAST(floor(least(1.0, (20000.0 / n_src) / n_tokens) * n_tokens) AS BIGINT)
        |  AS projected_tokens
        |FROM s, t""".stripMargin,

    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(2, len(words) + 1),
        |  i -> {'w1': words[i - 1], 'w2': words[i]})) AS b
        |  FROM t WHERE len(words) >= 2),
        |g AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |bf AS (SELECT w1, w2, count(*) AS c2 FROM g GROUP BY w1, w2),
        |uf AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bf GROUP BY w1),
        |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(round(ln(CAST(c1 AS DOUBLE) / c2) * 1e6, 0) AS BIGINT))
        |    AS BIGINT) AS s6
        |  FROM g JOIN bf USING (w1, w2) JOIN uf USING (w1) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |CAST((2 * s6 + n_bigrams * 100) // (2 * n_bigrams * 100) AS DOUBLE)
        |  / 10000.0 AS avg_nll
        |FROM p""".stripMargin,

    "window_anomaly" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |f AS (SELECT user_id, event_id, value,
        |  count(*) OVER w AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
        |g AS (SELECT user_id, event_id, value, n, sx,
        |  (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS v
        |  FROM f),
        |z AS (SELECT user_id, event_id, value,
        |  round((value - sx / CAST(n AS DOUBLE)) / sqrt(v), 4) AS roll_z
        |  FROM g WHERE n >= 5 AND v > 0)
        |SELECT user_id, event_id, value, roll_z FROM z
        |WHERE abs(roll_z) > 2""".stripMargin,

    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "union_distinct" ->
      """SELECT user_id, event_type FROM events
        |WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value >= 50.0
        |UNION
        |SELECT user_id, event_type FROM events
        |WHERE user_id IS NOT NULL AND event_type = 'click'""".stripMargin,

    "set_except_all" ->
      """SELECT o_custkey FROM orders
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "join_nullsafe" ->
      """WITH a AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS n_clicks FROM events
        |      WHERE event_type = 'click' GROUP BY user_id)
        |SELECT a.user_id, a.n_events, c.n_clicks
        |FROM a JOIN c ON a.user_id IS NOT DISTINCT FROM c.user_id""".stripMargin,

    "encode_target" ->
      s"""WITH ev AS (SELECT event_id, event_type, value FROM events
         |            WHERE event_type IS NOT NULL AND value IS NOT NULL),
         |g AS (SELECT ${dsumSql("value")} / count(*) AS mu FROM ev),
         |e AS (SELECT event_type, ${dsumSql("value")} AS sv, count(*) AS n
         |      FROM ev GROUP BY event_type)
         |SELECT ev.event_id, ev.event_type,
         |round((e.sv + 50.0 * g.mu) / (CAST(e.n AS DOUBLE) + 50.0), 6) AS et_target
         |FROM ev, e, g WHERE ev.event_type = e.event_type""".stripMargin,

    "encode_bucket" ->
      """WITH c AS (SELECT quantile_cont(l_extendedprice,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |CAST(1 + list_sum(list_transform(cuts,
        |  c -> CASE WHEN l_extendedprice > c THEN 1 ELSE 0 END)) AS BIGINT) AS bucket
        |FROM lineitem, c""".stripMargin,

    "scale_robust" ->
      """WITH s AS (SELECT quantile_cont(value, 0.5) AS med,
        |  quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, round((value - med) / iqr, 6) AS value_robust
        |FROM events, s WHERE value IS NOT NULL""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9 .,!?'']', '', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |sha256(trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9 .,!?'']', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash
        |FROM documents""".stripMargin,

    "corpus_stats" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS toks FROM documents),
        |a AS (SELECT count(*) AS n_docs,
        |      CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM t),
        |v AS (SELECT count(DISTINCT token) AS unique_tokens
        |      FROM (SELECT unnest(toks) AS token FROM t))
        |SELECT n_docs, total_tokens, unique_tokens,
        |round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
        |  AS avg_doc_tokens,
        |round(CAST(unique_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        |  AS type_token_ratio
        |FROM a, v""".stripMargin,

    "filter_len_band" ->
      """WITH b AS (SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
        |  quantile_cont(n_chars, 0.95) AS p95 FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars FROM documents d JOIN b ON d.lang = b.lang
        |WHERE n_chars >= p05 AND n_chars <= p95""".stripMargin,

    "embed_norms" ->
      """SELECT vec_id, label,
        |round(sqrt(list_sum(list_transform(embedding,
        |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        |FROM embeddings""".stripMargin,

    "embed_label_stats" ->
      """WITH n AS (SELECT label,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |round(CAST(SUM(CAST(l2 AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
        |  AS avg_l2_norm
        |FROM n GROUP BY label""".stripMargin,

    "gap_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |min(gap) AS min_gap_us, max(gap) AS max_gap_us,
        |CAST(SUM(gap) // count(gap) AS BIGINT) AS avg_gap_us
        |FROM l GROUP BY user_id HAVING count(*) >= 2""".stripMargin,

    "bpe_pairs" ->
      """WITH t AS (SELECT unnest(list_filter(
        |  string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(tok)),
        |  i -> substring(tok, i, 2))) AS pair FROM t WHERE length(tok) >= 2)
        |SELECT pair, count(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    "dedup_containment" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |idx AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i FROM t),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram FROM idx),
        |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= ${NearDup.DefaultMaxDf}),
        |rg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |FROM rg a JOIN rg b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT * FROM (SELECT doc_a, doc_b,
        |round(CAST(shared AS DOUBLE) / CAST(sa.n_grams AS DOUBLE), 4) AS contain_a_in_b,
        |round(CAST(shared AS DOUBLE) / CAST(sb.n_grams AS DOUBLE), 4) AS contain_b_in_a
        |FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) p
        |WHERE greatest(contain_a_in_b, contain_b_in_a) >= ${NearDup.DefaultMinContain}""".stripMargin,

    "profile_drift" -> {
      def p(c: String, pred: String) =
        s"""SELECT '$c' AS col_name,
           |${dsumSql(c)} / count($c) AS mean,
           |quantile_cont($c, 0.5) AS median,
           |round(stddev_samp($c), 4) AS std
           |FROM lineitem WHERE $pred""".stripMargin
      def prof(alias: String, pred: String) =
        s"""$alias AS (SELECT * FROM (${p("l_quantity", pred)}
           |UNION ALL ${p("l_extendedprice", pred)}
           |UNION ALL ${p("l_discount", pred)}) t)""".stripMargin
      s"""WITH ${prof("pb", "l_orderkey % 2 = 0")},
         |${prof("pa", "l_orderkey % 2 = 1")}
         |SELECT col_name,
         |round(abs(pa.mean - pb.mean) / greatest(abs(pb.mean), 1e-12), 4) AS mean_drift,
         |round(abs(pa.median - pb.median) / greatest(abs(pb.median), 1e-12), 4) AS median_drift,
         |round(abs(pa.std - pb.std) / greatest(abs(pb.std), 1e-12), 4) AS std_drift,
         |(round(abs(pa.mean - pb.mean) / greatest(abs(pb.mean), 1e-12), 4) > 0.1
         | OR round(abs(pa.median - pb.median) / greatest(abs(pb.median), 1e-12), 4) > 0.1
         | OR round(abs(pa.std - pb.std) / greatest(abs(pb.std), 1e-12), 4) > 0.1) AS drifted
         |FROM pb JOIN pa USING (col_name)""".stripMargin
    },

    "chunk_docs" -> {
      val size = TextSim.DefaultChunkSize
      val stride = size - TextSim.DefaultChunkOverlap
      raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |      unnest(generate_series(0, greatest(len(toks) - ${TextSim.DefaultChunkOverlap + 1}, 0), $stride)) AS st
        |      FROM t)
        |SELECT doc_id, CAST(st // $stride AS BIGINT) AS chunk_id,
        |CAST(len(toks[st + 1 : st + $size]) AS BIGINT) AS n_chunk_tokens,
        |array_to_string(toks[st + 1 : st + $size], ' ') AS chunk_text
        |FROM c""".stripMargin
    },

    "quality_gopher" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |f AS (SELECT doc_id,
        |      CAST(len(words) AS BIGINT) AS n_words,
        |      CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS BIGINT) AS n_word_chars,
        |      CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
        |      CAST(len(list_filter(['the','a','of','and','to','in'],
        |                           sw -> list_contains(words, sw))) AS BIGINT) AS n_stop_distinct
        |      FROM w),
        |g AS (SELECT doc_id, n_words,
        |      round(CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
        |      round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS dup_word_frac,
        |      n_stop_distinct FROM f)
        |SELECT doc_id, n_words, mean_word_len, dup_word_frac, n_stop_distinct,
        |(n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |AND dup_word_frac <= 0.6 AND n_stop_distinct >= 2 AS keep
        |FROM g""".stripMargin,

    "vocab_growth" ->
      raw"""WITH tok AS (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS token
        |             FROM documents),
        |tc AS (SELECT source, token, count(*) AS c FROM tok
        |       WHERE token <> '' GROUP BY source, token)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |count(*) AS n_types,
        |CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr
        |FROM tc GROUP BY source""".stripMargin,

    "zipf_slope" ->
      raw"""WITH freq AS (SELECT token, count(*) AS freq FROM
        |  (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |   FROM documents) t
        |  WHERE token <> '' GROUP BY token ORDER BY freq DESC, token LIMIT 100),
        |rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
        |       FROM freq),
        |l AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx,
        |             CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
        |      FROM rk),
        |s AS (SELECT count(*) AS n, CAST(sum(lx) AS DOUBLE) AS sx,
        |             CAST(sum(ly) AS DOUBLE) AS sy,
        |             CAST(sum(lx * lx) AS DOUBLE) AS sxx,
        |             CAST(sum(lx * ly) AS DOUBLE) AS sxy FROM l)
        |SELECT n AS n_ranks,
        |round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |      (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS slope,
        |round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |            (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) /
        |      CAST(n AS DOUBLE), 4) AS intercept
        |FROM s""".stripMargin,

    "agg_salted" ->
      s"""SELECT event_type, count(*) AS n_events,
         |round(${dsumSql("value")}, 4) AS sum_value
         |FROM events GROUP BY event_type""".stripMargin,

    // the kmeans/SemDedup assignment twin: same deterministic init
    // centroids (k lowest vec_ids), argmin by (d2, cid); d2 is a
    // SEQUENTIAL fold (list_reduce) matching Spark's aggregate() HOF
    // chain bit-for-bit — no rounding tolerance needed
    "cluster_assign_portable" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM e ORDER BY vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid,
        |        list_reduce(list_transform(range(1, len(e.v) + 1),
        |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |          (a, b) -> a + b) AS d2
        |      FROM e, c),
        |best AS (SELECT vec_id, cid, d2,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |         FROM d)
        |SELECT vec_id, cid AS cluster_id, d2 AS dist2 FROM best WHERE rn = 1""".stripMargin,
    // dedupSemantic's twin: the assignment CTEs above + the in-cell
    // smaller-id drop rule; pair cosines via list_dot_product, the
    // pairing sim_search already proves hash-identical to graft_dot
    "dedup_semantic_portable" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |      FROM e ORDER BY vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid,
        |        list_reduce(list_transform(range(1, len(e.v) + 1),
        |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])),
        |          (a, b) -> a + b) AS d2
        |      FROM e, c),
        |best AS (SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |         FROM d),
        |m AS (SELECT e.vec_id, b.cid AS cluster_id, e.v,
        |        sqrt(list_dot_product(e.v, e.v)) AS nrm
        |      FROM e JOIN best b ON e.vec_id = b.vec_id AND b.rn = 1),
        |drp AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
        |        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        |        WHERE a.nrm > 0 AND b.nrm > 0
        |          AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.4)
        |SELECT m.vec_id, CAST(m.cluster_id AS BIGINT) AS cluster_id,
        |       drp.vec_id IS NULL AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS dim FROM e),
        |d AS (SELECT dim, min(val) AS lo, max(val) - min(val) AS span0 FROM x GROUP BY dim),
        |r AS (SELECT list(lo ORDER BY dim) AS lo,
        |             list(CASE WHEN span0 > 0 THEN span0 ELSE 1.0 END ORDER BY dim) AS span
        |      FROM d),
        |err AS (SELECT vec_id,
        |        list_transform(range(1, len(v) + 1),
        |          i -> abs(r.lo[i] + round((v[i] - r.lo[i]) * 255.0 / r.span[i])
        |                   * r.span[i] / 255.0 - v[i])) AS errs
        |        FROM e, r)
        |SELECT vec_id, round(list_aggregate(errs, 'max'), 6) AS max_abs_err,
        |round(list_aggregate(errs, 'sum') / len(errs), 6) AS mean_abs_err
        |FROM err""".stripMargin,

    // p is 0-based on both sides; rn >= 2 keeps the globally-first
    // occurrence (ORDER BY doc_id, p == the engine's struct-min)
    "scrub_spans" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) - 1 AS pos FROM w),
        |occ AS (SELECT doc_id, p, array_to_string(toks[p+1:p+8], ' ') AS gram
        |FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS p FROM w)),
        |scr AS (SELECT doc_id, p FROM (
        |SELECT doc_id, p, row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn,
        |count(*) OVER (PARTITION BY gram) AS cnt FROM occ) WHERE cnt >= 2 AND rn >= 2),
        |rem AS (SELECT DISTINCT doc_id, p + u AS pos FROM scr CROSS JOIN generate_series(0, 7) g(u)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t LEFT JOIN rem r
        |ON t.doc_id = r.doc_id AND t.pos = r.pos WHERE r.doc_id IS NULL),
        |re AS (SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
        |FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id)
        |SELECT tot.doc_id, n_tokens, n_tokens - coalesce(n_kept, 0) AS n_removed,
        |sha256(coalesce(scrubbed_text, '')) AS scrubbed_hash
        |FROM tot LEFT JOIN re USING (doc_id)""".stripMargin,

    // the salted join must be indistinguishable from the plain join
    "join_salted" ->
      s"""SELECT o_orderstatus, count(*) AS n_lines,
         |round(${dsumSql("l_quantity")}, 4) AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus""".stripMargin,

    // per-power round(·,6)+DECIMAL before the exact sum: the zipf_slope
    // transcendental-determinism recipe, applied to pow
    "mix_temperature" ->
      """WITH s AS (SELECT lang, count(*) AS n_docs,
        |CAST(round(pow(CAST(count(*) AS DOUBLE), 0.7), 6) AS DECIMAL(18,6)) AS pw
        |FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT sum(pw) AS tot_pw, sum(n_docs) AS tot_docs FROM s)
        |SELECT lang, n_docs,
        |round(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE), 6) AS raw_share,
        |round(CAST(pw AS DOUBLE) / CAST(tot_pw AS DOUBLE), 6) AS temp_share,
        |round((CAST(pw AS DOUBLE) / CAST(tot_pw AS DOUBLE)) /
        |(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE)), 4) AS boost
        |FROM s, t""".stripMargin,
  )
}

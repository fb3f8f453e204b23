package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis and similarity operators (SURVEY.md §2.11, L1–L6) —
  * the LLM-training-data-pipeline surface over `documents` and
  * `embeddings`.
  *
  * Scale design:
  *  - token/stat ops are explode → hash-agg: one shuffle keyed on the
  *    token/group, map-side partial aggregation keeps shuffle volume
  *    ∝ distinct keys, not rows;
  *  - exact dedup is a shuffle on a content hash — never an all-pairs
  *    compare (the reference analog is drop_duplicates,
  *    /root/reference/src/etl_2022.py:178);
  *  - `sim_search` broadcasts the single query vector and does a
  *    per-partition scan + TakeOrderedAndProject top-k — NOT a
  *    self-join; brute force over N vectors is one pass, and the
  *    LSH-bucketed variant (see Ann.scala) is the sub-linear path.
  */
object TextSim {
  import Num._

  private def docs(s: SparkSession, dir: String) =
    Sources.table(s, dir, "documents")

  // NO text query round-robins the raw corpus anymore (r22, closing
  // VERDICT r21 #1). The r21 `spreadDocs` repartition(defaultParallelism)
  // is gone from this file:
  //  - the per-row projections (doc_winnow*, doc_fingerprint,
  //    text_entropy, lang_id, text_repetition, quality_gopher) never
  //    legitimately shuffle — PlanAuditSpec pins zero exchanges;
  //  - the aggregate-feeding trio (text_tfidf, text_logprob,
  //    text_bigram_lm) was re-A/B'd at 32 AND 8 cores (r22): spread vs
  //    unspread at 32 cores was a wash (0.503/0.513, 0.486/0.519,
  //    0.623/0.615 min-of-pairs) while the spread inverted scaling
  //    (every spread query ran FASTER on 8 cores than 32 — the full-
  //    width exchange over-fragments); tfidf/logprob paid it TWICE
  //    (the docs relation feeds two branches). At real scale the scan's
  //    own splits feed every core and their (doc,token) aggregates
  //    shuffle far fewer bytes than the raw text.
  // The shingle/minhash families in NearDup keep their spread — those
  // map stages are genuinely explode-heavy with driver-confirmed
  // 1.3–2.5× wins — but split-gated via [[Sources.spreadIfNarrow]].

  /** Broadcast `rel` only while the optimizer's size estimate fits the
    * session broadcast threshold. Corpus-statistic relations (distinct
    * tokens, distinct bigrams) are small at test scale but grow with
    * the corpus — distinct-bigram count near-linearly, token vocab
    * sublinearly but unbounded (web-scale hashes/URLs/typos) — so a
    * hard `broadcast()` hint would eventually exceed Spark's 8 GB
    * broadcast cap and fail the query outright. The estimate is the
    * same scan-propagated `sizeInBytes` the planner's own
    * auto-broadcast heuristic uses (aggregates pass child size through
    * absent CBO stats) — including its known understatement: leaf size
    * is compressed on-disk parquet bytes, which can undercount the
    * in-memory broadcast footprint, so the gate carries risk parity
    * with Spark's auto-broadcast, not a strict safety bound. Past the
    * threshold the join strategy is left to the planner/AQE, which can
    * pick broadcast OR a skew-splittable shuffled join — the
    * flexibility the hint forecloses. The decision is frozen at
    * DataFrame-construction time (it does not track later session
    * threshold changes), and planning the sub-plan standalone here
    * costs one extra optimization pass per call — acceptable because
    * these relations are built once per query.
    */
  private[ops] def sizeGatedBroadcast(rel: DataFrame): DataFrame = {
    val thr = rel.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 &&
        rel.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr))
      broadcast(rel)
    else rel
  }

  /** Whitespace tokenization of lowercased text — the shared L1 step. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** `text_tokens` — L1, top-50 tokens by frequency (X8 generator
    * path: explode). Deterministic tie-break on the token itself.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** `text_stats` — L2, per-language document statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1)))
          .as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        (sum(length(col("text")).cast(LongType)).cast(DoubleType) /
          count(lit(1))).as("avg_len"))

  /** `text_bigrams` — corpus-level top bigrams: the n-gram
    * generalization of [[textTokens]] (the same explode → hash-agg
    * shape; shuffle ∝ distinct bigrams) and the readable complement of
    * the hashed-shingle machinery in NearDup (which never builds the
    * gram string). The transform builds each bigram once per position;
    * deterministic tie-break on the bigram itself.
    */
  def textBigrams(s: SparkSession, dir: String, k: Int = 30): DataFrame =
    docs(s, dir)
      .select(split(lower(trim(col("text"))), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
      // r14: bigram strings come from the native ShingleStrings
      // kernel (n = 2) — the transform-lambda spelling evaluated
      // interpreted per element; the kernel is one loop over cached
      // UTF8Strings with identical output (whitespace-split tokens
      // contain no nulls, so concat_ws == concat-with-space)
      .select(explode(graft.functions.VectorFunctions
        .shingleStrings(col("words"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** `outlier_zscore` — z-score anomaly detection: events more than
    * three sample standard deviations from the mean. Complements
    * [[graft.ops.Transforms.outlierIqr]] (quartile-based, robust) with
    * the parametric rule; mean and std derive from exact decimal power
    * sums (Σx, Σx² — the [[Aggregates.aggCorr]] discipline), so the
    * cut line is bit-identical across engines where `stddev_samp`'s
    * accumulation order would drift. One scan for the 1-row moment
    * aggregate, broadcast into the filter scan — constant overhead at
    * any size.
    */
  def outlierZscore(s: SparkSession, dir: String,
                    nSigma: Double = 3.0): DataFrame = {
    require(nSigma > 0, s"nSigma must be positive, got $nSigma")
    val ev = Sources.table(s, dir, "events")
    // exact power sums as long unit sums (value exactly 2 dp → cents;
    // v² exact in integer unit space at scale 4) — Num r13
    val vc = units(col("value"), 2)
    val p = ev.agg(fromUnits(sum(vc), 2).as("sx"),
        fromUnits(sum(vc * vc), 4).as("sxx"),
        count(col("value")).cast(DoubleType).as("n"))
      .select((col("sx") / col("n")).as("mu"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)).as("sd"))
    ev.crossJoin(broadcast(p))
      .filter(abs(col("value") - col("mu")) > lit(nSigma) * col("sd"))
      .select(col("event_id"), col("value"),
        round((col("value") - col("mu")) / col("sd"), 4).as("z"))
  }

  /** `source_stats` — the per-source curation dashboard: document
    * count, distinct-content count (normalized text), duplication
    * rate, and token volume per source shard — the rollup a curation
    * run reports per crawl/provider to decide source weights (see
    * [[graft.ops.Sampling.sampleWeighted]]). One scan, one hash
    * aggregate keyed on the source; the distinct count hashes
    * normalized content, so at corpus scale the shuffle carries
    * (source, hash) pairs, never the text.
    */
  def sourceStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        trim(lower(col("text"))).as("norm"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("norm")).as("n_unique"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 4).as("dup_rate"),
        col("total_tokens"),
        (col("total_tokens").cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("avg_tokens"))

  /** `dedup_text` — L3, exact near-dup detection: normalize → sha256 →
    * group. The 100 TB-safe shape: the shuffle key is the 32-byte
    * hash, so identical documents land in one reducer regardless of
    * corpus size.
    */
  def dedupText(s: SparkSession, dir: String): DataFrame =
    dedupText(docs(s, dir))

  /** [[dedupText]] over any `(doc_id, text)` relation. */
  def dedupText(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        sha2(trim(lower(col("text"))), 256).as("text_hash"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Dot product over two double arrays via higher-order functions.
    * Portable but INTERPRETED (Spark evaluates HOF lambdas per
    * element) — kept as the reference implementation the codegen'd
    * [[graft.functions.DotProduct]] is property-tested against; hot
    * paths use [[graft.functions.VectorFunctions.dot]].
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Embedding column cast FLOAT→DOUBLE so all similarity arithmetic
    * is double on both engine and oracle sides.
    */
  // native array CAST, not a transform(x -> cast(x)) lambda: the
  // lambda spelling is CodegenFallback, so the projection broke out
  // of whole-stage codegen and ran one interpreted Project per vector
  // (r21 plan audit: sim_knn's scan span split at exactly this
  // operator). Elementwise float→double cast is exact, so the value
  // is bit-identical either way — same argument as [[nonZeroNorm]].
  private def vecAsDouble(c: Column): Column =
    c.cast(ArrayType(DoubleType))

  /** `|v|² > 0` on the RAW embedding column — the zero-norm exclusion
    * predicate of the similarity surface. Built from a native array
    * CAST (not the `transform` lambda [[vecAsDouble]] uses): predicate
    * pushdown moves this filter below the projection, and a pushed
    * `transform` is CodegenFallback — the scan filter would run the
    * per-element lambda interpreted, twice per row, on every corpus
    * row (a found regression, not a hypothetical). Elementwise
    * float→double cast is exact, so the value is bit-identical to
    * `dot(vecAsDouble(c), vecAsDouble(c))` and to the oracles'
    * `list_dot_product(CAST(embedding AS DOUBLE[]), …)`.
    */
  private[ops] def nonZeroNorm(c: Column): Column = {
    val d = c.cast(ArrayType(DoubleType))
    val n = graft.functions.VectorFunctions.dot(d, d)
    // `n > 0` alone is NOT a health check: Spark orders NaN GREATER
    // than every double, so a NaN norm (any NaN element) and a +Inf
    // norm (an infinite element, or finite elements whose squares
    // overflow) both pass it — and ONE such vector poisons every
    // top-k it meets, because its NaN cos_sim ranks FIRST under
    // ORDER BY DESC (measured: a single NaN vector put 3 NaN rows at
    // the head of sim_search's top-5). A usable cosine needs a
    // finite positive norm; null and empty embeddings fail the
    // predicate too (null norm / zero norm). The oracle CTEs apply
    // the same rule — inert on the committed fixtures, which carry
    // no zero-norm or non-finite vectors.
    n > 0.0 && !isnan(n) && n < lit(Double.PositiveInfinity)
  }

  /** `sim_search` — L5, brute-force cosine top-k against a broadcast
    * query vector. Plan shape: 1-row aggregate (the query vector) →
    * broadcast nested-loop join (1×N, i.e. a map) → per-partition
    * top-k via TakeOrderedAndProject. No shuffle of the embeddings.
    */
  def simSearch(s: SparkSession, dir: String, queryId: Long = 0L,
                k: Int = 10): DataFrame =
    simSearch(Sources.table(s, dir, "embeddings"), queryId, k)

  /** [[simSearch]] over any `(vec_id, embedding)` relation. */
  def simSearch(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val e = emb
      // zero-norm vectors have no cosine: under ANSI arithmetic the
      // 0/0 would THROW (not NaN), so the whole similarity surface
      // restricts its vector relation to nonzero norms — mirrored in
      // every oracle's CTE (`list_dot_product(v, v) > 0`). Filtered
      // on the RAW column (see nonZeroNorm) so the scan filter stays
      // codegen'd
      .filter(nonZeroNorm(col("embedding")))
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nd(col("v"), col("qv")) /
          (sqrt(nd(col("v"), col("v"))) * sqrt(nd(col("qv"), col("qv")))), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** `dedup_embed` — embedding-cosine near-duplicate pairs: all
    * (a, b) with cosine ≥ `minSim`. Exact by construction (the oracle
    * baseline): broadcast one side into a nested-loop join — N·M
    * dot products, no shuffle of the probe side. This is the
    * correctness reference for threshold dedup; the corpus-scale path
    * is LSH-bucketed candidates (Ann.bucketCode as the shuffle key,
    * cosine only within a bucket neighborhood — see Ann.simAnnLsh),
    * which trades exact recall for sub-quadratic work.
    * Filter on the ROUNDED similarity so the engine and the oracle
    * make the same boundary call.
    */
  def dedupEmbed(s: SparkSession, dir: String,
                 minSim: Double = 0.4): DataFrame =
    dedupEmbed(Sources.table(s, dir, "embeddings"), minSim)

  /** [[dedupEmbed]] over any `(vec_id, embedding)` relation. */
  def dedupEmbed(emb: DataFrame, minSim: Double): DataFrame = {
    // norm once per vector (N dots), not once per pair (3·N² dots)
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val e = emb
      // no cosine for zero-norm vectors (ANSI 0/0 throws) — excluded
      // here and in the oracle CTE alike, on the raw column so the
      // scan filter stays codegen'd (see nonZeroNorm)
      .filter(nonZeroNorm(col("embedding")))
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(nd(col("v"), col("v"))))
    // spread the probe side: a small embeddings file is one input
    // split, which would pin the whole N·M pair scan to a single task
    // (gated on split count — many-split inputs pass through, r22)
    val a = Sources.spreadIfNarrow(e)
      .select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(nd(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  /** `sim_knn` — exact k-nearest-neighbor JOIN: top-k cosine neighbors
    * for EVERY vector (sim_search generalized from one query to all).
    * This is the exact baseline the ANN paths (Ann.simAnnLsh/Ivf)
    * trade recall against. Plan: one side broadcast (N·d doubles),
    * probe side repartitioned off its single input split, pair scores
    * via the codegen'd dot product, then per-query top-k through a
    * rank window — WindowGroupLimit keeps partial top-k heaps map-side,
    * so the shuffle carries ≤ k rows per query per partition, never
    * the N² pair stream. Ranking uses the ROUNDED similarity so rank
    * decisions are engine-portable. Quadratic in N by definition —
    * at corpus scale the broadcast side becomes the IVF/LSH bucket
    * set (Ann.scala) and this exact join runs per-bucket.
    */
  def simKnn(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    simKnn(Sources.table(s, dir, "embeddings"), k)

  /** [[simKnn]] over any `(vec_id, embedding)` relation. */
  def simKnn(emb: DataFrame, k: Int): DataFrame = {
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val e = emb
      // no cosine for zero-norm vectors (ANSI 0/0 throws) — excluded
      // here and in the oracle CTE alike, on the raw column so the
      // scan filter stays codegen'd (see nonZeroNorm)
      .filter(nonZeroNorm(col("embedding")))
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(nd(col("v"), col("v"))))
    val probe = Sources.spreadIfNarrow(e)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = e.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    probe.join(broadcast(cand), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(nd(col("qv"), col("nv")) / (col("qn") * col("nn")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "nid", "cos_sim")
  }

  /** `text_entropy` — per-document token Shannon entropy (nats): the
    * information-density quality signal (near-zero = degenerate
    * repetition, log(vocab) = uniform noise) complementing
    * [[textRepetition]]'s rule counters and [[textLogprob]]'s
    * corpus-relative score. Same scale shape as tfidf/logprob: one
    * hash aggregate on (doc, token), one per-doc total, join back —
    * shuffle ∝ distinct (doc, token) pairs.
    *
    * Determinism: uses H = ln(n) − (Σ tf·ln(tf))/n with every ln
    * PINNED to an 8-dp decimal before any arithmetic. Java's Math.log
    * and DuckDB's ln differ in the last ulp for some arguments, so
    * rounding a *derived* per-term value (-p·ln p over 15k distinct
    * p's) flips 6-dp boundaries in practice (it did, at sf0.01). Here
    * ln is only ever taken of small integers (term frequencies, doc
    * lengths — a few dozen distinct values corpus-wide), the pinned
    * decimal × integer products are exact, and the final subtraction
    * runs on bit-identical doubles in both engines.
    *
    * Because Σ tf·ln(tf) depends only on each term's own tf, the whole
    * statistic folds into ONE per-doc aggregate over the (doc, token)
    * counts — no totals join: n, the distinct count, and the term sum
    * come out of the same hash aggregate, saving a shuffle + join vs
    * the naive three-stage shape (measured r6; values bit-identical
    * since every intermediate is an exact decimal or integer).
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    // unspread (r22): per-row statistic since the r14 re-plan — zero
    // exchanges; shuffling the raw text for it is waste at any scale
    textEntropy(docs(s, dir))

  /** [[textEntropy]] over any `(doc_id, text)` relation.
    *
    * r14: the (doc, token) explode + two-level groupBy is gone —
    * every statistic is a function of ONE document's token multiset,
    * which already sits in one array in one row, so the old shape
    * shuffled a row per (doc, token) pair (group cardinality ≈ input
    * rows; map-side combine saved nothing) to regain locality the
    * data never lost. [[graft.functions.TokenEntropyStats]] computes
    * (n_tokens, n_distinct, Σ tf·ln₈(tf)) per document in one
    * sorted-run pass — ZERO shuffles, bit-identical values (the
    * kernel pins ln to the same 8-dp HALF_UP decimal and sums in
    * exact 1e-8 long units; EntropyKernelSpec asserts equality with
    * the old spelling row-for-row). Marginal 0.18 → ~0.03 s at sf0.1.
    */
  def textEntropy(docs: DataFrame): DataFrame =
    docs
      // explode(array(kernel)): the Generate evaluates the opaque
      // kernel ONCE per row and exposes `st` as a real attribute —
      // a plain projection would let CollapseProject substitute the
      // kernel into every field reference plus the null filter
      // (4 evaluations of split+sort+scan; measured 0.27 vs 0.19 s)
      .select(col("doc_id"),
        explode(array(entropyStats)).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_distinct").as("n_distinct"),
        entropyOf(col("st")).as("entropy"))

  // ---- quality rules: each statistic and threshold of text_quality,
  // text_repetition and text_entropy, defined once over the `text`
  // column. The queries project them; [[qualityGate]] folds them.

  private def entropyStats: Column =
    graft.functions.VectorFunctions.tokenEntropy(tokens(col("text")))
  private def entropyOf(st: Column): Column = round(
    round(log(st.getField("n_tokens")), 8) - st.getField("term_sum") /
      st.getField("n_tokens").cast(DoubleType), 4)

  /** (token count, mean token length, punctuation ratio) */
  private def qualityStats: (Column, Column, Column) = {
    val nTokens = size(split(trim(col("text")), "\\s+")).cast(LongType)
    val charLen = length(regexp_replace(col("text"), "\\s", ""))
      .cast(DoubleType)
    val punct = expr("regexp_count(text, '[.,!?;:]')").cast(DoubleType)
    (nTokens, charLen / nTokens.cast(DoubleType), round(punct /
      greatest(length(col("text")).cast(DoubleType), lit(1.0)), 4))
  }
  private def qualityOk(nTokens: Column, avgLen: Column, punct: Column) =
    nTokens.between(10L, 500L) && avgLen < 8.0 && punct < 0.2

  private def words: Column = split(trim(col("text")), "\\s+")
  private def topBigramFrac(topN: Column, nBigrams: Column) =
    round(topN / nBigrams, 4)
  private def dupWordFrac(distinct: Column, nWords: Column) =
    round(lit(1.0) - distinct / nWords, 4)
  private def repetitive(topFrac: Column, dupFrac: Column) =
    topFrac > 0.18 || dupFrac > 0.9

  /** The three quality operators' keep rules as ONE per-row predicate
    * over the `text` column, for a pipeline's quality gate: true
    * exactly when [[textQuality]] says `quality_ok`, [[textRepetition]]
    * emits a row (≥ 2 words) that is not `repetitive`, and
    * [[textEntropy]] emits a row whose entropy exceeds 1 nat (near-zero
    * entropy = degenerate text both rule sets miss). Never null. Each
    * ratio sits behind the condition its query filters on, so no row
    * divides by zero.
    */
  def qualityGate: Column = {
    val (nTokens, avgLen, punct) = qualityStats
    val nWords = size(words)
    val notRepetitive = when(nWords >= 2, !repetitive(
      topBigramFrac(graft.functions.VectorFunctions.bigramTop(words),
        (nWords - 1).cast(LongType)),
      dupWordFrac(size(array_distinct(words)).cast(LongType),
        nWords.cast(LongType))))
    val st = entropyStats
    val dense = when(st.isNotNull, entropyOf(st) > 1.0)
    Seq(qualityOk(nTokens, avgLen, punct), notRepetitive, dense)
      .map(coalesce(_, lit(false))).reduce(_ && _)
  }

  /** `multimodal_join` — L6, text ⋈ vectors in one relation: join
    * `documents` to `embeddings` on id, then per-label stats over both
    * modalities. Equi-join on the id — shuffle (or broadcast under
    * AQE when one side is small).
    */
  def multimodalJoin(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .join(Sources.table(s, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1)))
          .as("avg_chars"),
        round(sum(element_at(col("embedding"), 1).cast(DoubleType)) /
          count(lit(1)), 4).as("avg_e0"))

  // ---- text heuristics (north-star extensions, oracle-checked) --------

  /** English stopword lexicon for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: it broadcasts as a literal into
    * codegen, no lookup table or shuffle.
    */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** `lang_id` — stopword-ratio language identification: the classic
    * cheap pre-filter in training-data pipelines. Emits the ratio and
    * a two-class verdict so downstream filters can threshold.
    *
    * Shuffle-free: both counts are per-row array reductions over the
    * token array (`size(filter(...))`), so the whole query is a
    * narrow projection — no explode fan-out (a corpus-sized token
    * stream through an aggregate) and no shuffle at any scale. Docs
    * with zero non-empty tokens are dropped, matching the grouped
    * formulation the oracle uses.
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    // unspread (r22): pure narrow projection (scaladoc above) — the
    // r21 spread contradicted its own zero-shuffle contract
    langId(docs(s, dir))

  /** [[langId]] over any `(doc_id, text)` relation. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = filter(tokens(col("text")), t => t =!= "")
    val nStop = size(filter(toks, t => t.isin(enStopwords: _*)))
      .cast(LongType)
    docs
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"),
        nStop.as("n_stop"))
      .filter(col("n_tokens") > 0L)
      .select(col("doc_id"), col("n_tokens"),
        (col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("stop_ratio"),
        when(col("n_stop").cast(DoubleType) /
          col("n_tokens").cast(DoubleType) >= 0.05, "en")
          .otherwise("und").as("predicted_lang"))
  }

  /** `text_quality` — length/punct/token-shape quality scoring, the
    * Gopher-style rule filter: token count, mean token length,
    * punctuation ratio, and a keep/drop verdict. Pure per-row
    * expressions — narrow, codegen'd, no shuffle at all.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    textQuality(docs(s, dir))

  /** [[textQuality]] over any `(doc_id, text)` relation. */
  def textQuality(docs: DataFrame): DataFrame = {
    val (nTokens, avgLen, punct) = qualityStats
    docs
      .select(col("doc_id"), nTokens.as("n_tokens"),
        avgLen.as("avg_token_len"), punct.as("punct_ratio"))
      .withColumn("quality_ok", qualityOk(col("n_tokens"),
        col("avg_token_len"), col("punct_ratio")))
  }

  /** `tok_count` — token counting two ways: whitespace words and a
    * BPE-ish regex (letter runs / digit runs / single symbols), the
    * standard cheap proxy for LLM token budgets.
    */
  def tokCount(s: SparkSession, dir: String): DataFrame =
    tokCount(docs(s, dir))

  /** [[tokCount]] over any `(doc_id, text)` relation. */
  def tokCount(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType)
          .as("ws_tokens"),
        expr("regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]')")
          .cast(LongType).as("bpe_ish_tokens"))

  /** `text_tfidf` — top-k terms per document by TF-IDF, the classic
    * relevance weighting (and the first non-trivial *multi-stage* text
    * statistic: term frequency per doc × document frequency per term ×
    * corpus size). The document frequency is a map-side-combinable
    * `groupBy(token).count()` JOINED BACK to the term stream — r15
    * reverted the r6 count-window form (`count().over(
    * Window.partitionBy("token"))`). The window form saved the df
    * table's build+probe at sf0.1, but it ships EVERY (doc, token)
    * row of a token to that token's single window partition, and a
    * window partition cannot be split: under a Zipfian vocabulary the
    * head token's group is a fixed fraction of the corpus in ONE task
    * at 100 TB. The aggregate form partial-aggregates the hot token
    * across all input tasks (one row per task per token crosses the
    * wire for the count), and the join back is a JOIN, which AQE can
    * either convert to broadcast (vocab-bounded build side) or
    * skew-split per partition — both impossible for WindowExec.
    * The stream is exchanged ONCE, on the skew-free doc key (which
    * the final top-k window needs anyway), and ReuseExchange feeds
    * both the df aggregate and the probe from that single
    * tokenize+shuffle; the df table joins back under
    * [[sizeGatedBroadcast]] (broadcast at test scale; unhinted once
    * the token vocabulary outgrows the threshold — web-scale corpora
    * accrete hashes/URLs/typos without bound). Measured
    * one-window at sf0.1: 0.375 s vs 0.394 s window form — and the
    * sf0.01→sf0.1 data marginal fell +0.247 → +0.065 s (the r6 "2×
    * window win" held only for the pre-kernel occurrence-level
    * stream; with one reused exchange the join form wins outright).
    * Shuffle volume stays ∝ distinct (doc, term) keys, keyed by doc;
    * the corpus size is a 1-row broadcast; top-k per doc is a rank
    * window on the doc key, never a global sort.
    * Ranking uses the ROUNDED score so engine and oracle make
    * identical rank decisions (raw `ln` last-bits may differ across
    * libm implementations).
    *
    * r17 floor decomposition (warm minima at sf0.1, interleaved):
    * tokenize 0.12 s + TokenCounts kernel 0.10 + explode 0.02 +
    * the shared doc-keyed exchange 0.09 + df/join/top-k 0.15 ≈ the
    * 0.46 s whole-query floor. Two further re-plans were A/B'd and
    * REJECTED: an aggregate top-k (collect_list + sort_array + slice
    * per doc, replacing the rank window) tied exactly (0.459 vs
    * 0.463 — WindowGroupLimit already prunes below the sort), and
    * dropping the explicit repartition makes tokenize run twice (the
    * r14 ReuseExchange finding, re-confirmed). The remaining ~2.3×
    * DuckDB marginal is per-token string-hash throughput, not plan
    * shape.
    *
    * r18 — FINAL A/B on that residual (r17 VERDICT #7), item CLOSED:
    * a fused tokenize+count kernel
    * ([[graft.functions.TokenCountsText]] — one byte-scan pass,
    * skipping `split`'s UTF8→String→regex→UTF8 round-trip; value
    * equality pinned by TokenCountsTextSpec) measured the
    * tokenize+count stage at 0.201 s vs 0.222 s (−9%, interleaved
    * warm minima at sf0.1) and the whole query −11% — far under the
    * ≥30% ship bar. The stage floor is the per-doc token SORT +
    * run-count and the explode, not the regex; no further re-plan is
    * on the table. The kernel stays available as the SQL-surface
    * primitive `graft_token_counts_text` for callers whose documents
    * are long enough to flip the trade.
    */
  def textTfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    textTfidf(docs(s, dir), k)

  /** [[textTfidf]] over any `(doc_id, text)` relation. */
  def textTfidf(d: DataFrame, k: Int): DataFrame = {
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    // r14: per-doc term counts come from the TokenCounts kernel
    // (each doc's multiset is already in its own row — see
    // TokenEntropyStats), so the old explode + (doc, token) groupBy's
    // exchange is GONE and the explode emits one row per DISTINCT
    // (doc, term) instead of per occurrence. tf values are the exact
    // same integer counts; everything downstream is unchanged.
    val tf = d.select(col("doc_id"), explode(
        graft.functions.VectorFunctions
          .tokenCounts(tokens(col("text")))).as("p"))
      .select(col("doc_id"), col("p.token").as("token"),
        col("p.tf").as("tf"))
      // one explicit exchange on the SKEW-FREE doc key: ReuseExchange
      // makes the df branch and the probe branch share this single
      // tokenize+shuffle (tokenization would otherwise run once per
      // branch), and the same partitioning already satisfies the
      // downstream top-k window's doc_id distribution — so the stream
      // crosses the wire exactly once, keyed by doc, never by token
      .repartition(col("doc_id"))
    // document frequency: aggregate + join-back, NOT a count window —
    // the window funnels every row of the Zipf-head token into one
    // unsplittable task (see scaladoc). One row per distinct (doc,
    // term) enters the join; the df side is one row per distinct term.
    // `count(when(tf >= 1, …))` counts every row (per-doc term counts
    // are ≥ 1 by construction) — the tf reference exists so column
    // pruning keeps this branch's sub-exchange schema identical to the
    // probe branch's and ReuseExchange can unify them; a plain
    // count(1) prunes tf below the exchange and the stream tokenizes
    // twice (measured: the reuse is the A/B win, not the count form)
    val dfRel = tf.groupBy("token")
      .agg(count(when(col("tf") >= 1, 1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    tf.join(sizeGatedBroadcast(dfRel), "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 4)
          .as("tfidf"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "token", "tfidf")
  }

  /** `text_logprob` — per-document mean negative log-probability under
    * the corpus unigram model: the cheap "perplexity filter" analog
    * (high avg_nll = tokens rare for this corpus = out-of-distribution
    * or noisy text), complementing the rule-based [[textQuality]].
    * Shapes: one token aggregate for the model (map-side combined),
    * one 1-row total broadcast, one join back + per-doc aggregate.
    * Per-token scores are rounded then decimal-summed so the per-doc
    * mean is order-independent and engine-portable (raw double
    * summation would drift with partition merge order).
    */
  def textLogprob(s: SparkSession, dir: String): DataFrame =
    textLogprob(docs(s, dir))

  /** [[textLogprob]] over any `(doc_id, text)` relation.
    *
    * Deliberately NOT on the [[graft.functions.TokenCounts]] kernel
    * (r14 A/B): the query's three branches (model, total, probe)
    * each re-evaluate the token lineage, so the kernel's per-doc
    * sort runs 3× while only the probe branch benefits from the
    * smaller join — measured +0.32 vs +0.25 marginal at sf0.1, a net
    * LOSS; the occurrence-level explode stays.
    */
  def textLogprob(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val freq = tok.groupBy("token").agg(count(lit(1)).as("tf"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    tok.join(freq, "token")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("n_total").cast(DoubleType) / col("tf")), 6)
          .cast(DecimalType(18, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_nll"))
  }

  /** `text_bigram_lm` — bigram language-model quality score: per doc,
    * the mean conditional negative log-likelihood −log P(w₂|w₁) under
    * corpus bigram statistics (P = count(w₁w₂) / count(w₁ as bigram
    * head)). The order-aware upgrade of the unigram [[textLogprob]]:
    * scrambled or templated text scores high even when its unigrams
    * are common, which is exactly what perplexity filters catch. No
    * smoothing needed — every scored bigram exists in the corpus it
    * was counted from.
    *
    * Shapes (r15 de-skew — reverting the r6 count-window form): one
    * exploded bigram pass; the bigram count c2 and head count c1 are
    * map-side-combinable AGGREGATES (c1 summed from c2, so only the
    * distinct-bigram relation is re-read, never the occurrence
    * stream), folded into one per-bigram NLL relation that joins back
    * to the stream on (w1, w2). The r6 window form
    * (`count().over(Window.partitionBy("w1"))`) shipped every
    * occurrence of a head word to ONE unsplittable window task —
    * under Zipf the head word is ~5% of all bigram rows, a one-task
    * funnel holding ~5% of the corpus at 100 TB. The aggregate form
    * partial-combines the hot key across input tasks, and the join
    * back is skew-splittable / broadcast-convertible by AQE — a
    * window partition is neither. The stream is exchanged ONCE, on
    * the skew-free doc key (which the final per-doc aggregate needs
    * anyway); ReuseExchange feeds the count branch and the probe from
    * that single explode+shuffle, and the per-bigram NLL relation
    * joins back under [[sizeGatedBroadcast]]: broadcast while the
    * size estimate fits the session threshold, unhinted past it —
    * the distinct-bigram relation grows near-linearly with corpus
    * size (unlike the unigram vocab), so a hard broadcast hint would
    * hit Spark's broadcast cap at exactly the scale this de-skew
    * targets. The head-count c1 IS still a sum window — but
    * over the aggregated distinct-bigram relation, whose group size
    * is the number of distinct successors of w1: vocabulary-bounded
    * (Heaps-law sublinear), not corpus-bounded like the occurrence
    * window it replaces. Counts are identical by construction,
    * pinned in ReplanEquivalenceSpec; one-window A/B at sf0.1:
    * 0.557 s vs 0.560 s window form, with the sf0.01→sf0.1 data
    * marginal down +0.477 → +0.22 s (the NLL computes once per
    * DISTINCT bigram, not per occurrence). The per-doc mean is ALL-INTEGER: per-bigram NLLs round to
    * micro-nat longs, and the 4-dp mean is a half-up integer division
    * `(2·Σ + d) DIV 2d` — at sf0.1 one doc's mean landed exactly on a
    * `round(double, 4)` half-boundary where Spark (exact binary
    * expansion) and DuckDB (scaled multiply) round differently, the
    * failure mode [[graft.ops.Num]] fixes for sums, closed here for
    * means.
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame =
    textBigramLm(docs(s, dir))

  /** [[textBigramLm]] over any `(doc_id, text)` relation. */
  def textBigramLm(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
      // posexplode + index, NOT transform(...) lambdas: lambda-bearing
      // expressions canonicalize unequal across plan branches, which
      // silently defeats the ReuseExchange unification below (observed:
      // the count branch re-ran the whole explode). The i-bound filter
      // sits below the w2 projection, so the ANSI array index can
      // never go out of bounds.
      .select(col("doc_id"), col("words"),
        posexplode(col("words")).as(Seq("i", "w1")))
      .filter(col("i") <= size(col("words")) - 2)
      .select(col("doc_id"), col("w1"),
        col("words").getItem(col("i") + 1).as("w2"))
      // no-op (the i-bound guarantees the index is in range, so w2 is
      // never null) — but stating it HERE, below the shared exchange,
      // stops the join's inferred isnotnull(w2) from landing on the
      // probe branch alone and de-syncing the two subtrees ReuseExchange
      // must see as identical
      .filter(col("w2").isNotNull)
      // one explicit exchange on the SKEW-FREE doc key, shared by the
      // count branch and the probe branch via ReuseExchange (the
      // bigram explode would otherwise run once per branch); the same
      // partitioning satisfies the final per-doc aggregate's
      // distribution, so the stream crosses the wire exactly once,
      // keyed by doc, never by a Zipf-skewed word
      .repartition(col("doc_id"))
    // corpus statistics as aggregates (map-side combined), never
    // count windows; c1 derives from c2 so the occurrence stream is
    // scanned once for counting; the per-bigram NLL is computed once
    // per DISTINCT bigram and joined back on the full (w1, w2) key
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c1 as a sum window over the AGGREGATED bigram relation, not a
    // second aggregate joined back: referencing c2 twice defeats
    // exchange reuse (the optimizer re-plans the whole occurrence
    // subtree under the second reference — observed, not theoretical),
    // and this window's group size is the number of DISTINCT
    // successors of w1 — vocabulary-bounded (Heaps-law sublinear),
    // not corpus-bounded like the occurrence-level window it replaces
    val nll = c2
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .select(col("w1"), col("w2"),
        round(log(col("c1").cast(DoubleType) / col("c2")) * 1e6, 0)
          .cast(LongType).as("nll6"))
    bg.join(sizeGatedBroadcast(nll), Seq("w1", "w2"))
      .select(col("doc_id"), col("nll6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll6")).as("s6"))
      // half-up mean at 4 dp in pure long arithmetic: d = n·100 turns
      // micro-nats into the target scale; (2s+d) DIV 2d is
      // round-half-up for non-negative s (NLLs are ≥ 0: c1 ≥ c2)
      .withColumn("d", col("n_bigrams") * 100L)
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(2 * s6 + d) DIV (2 * d)").cast(DoubleType) / 10000.0)
          .as("avg_nll"))
  }

  /** `doc_winnow` — full winnowing fingerprints (rolling-hash k-byte
    * shingles, minimum per w-window — [[graft.functions.Winnow]]):
    * per-doc fingerprint count plus a stable digest of the set, so
    * the result is small and deterministic. NO ORACLE (byte-level
    * rolling hash is engine-specific); the guarantee tests live in
    * WinnowSpec. Matching fingerprints across docs ⇒ shared substring
    * of length ≥ k+w−1 — the index key for plagiarism-style dedup.
    */
  def docWinnow(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions
          .winnow(col("text"), WinnowK, WinnowW).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast(LongType).as("n_fingerprints"),
        xxhash64(col("fps")).as("fingerprint_digest"))

  /** Winnowing parameters shared by [[docWinnow]], the portable twin
    * [[docWinnowPortable]], and the oracle SQL in
    * [[graft.SparkEntry]] (via interpolation) — one definition so a
    * change can never desynchronize the three.
    */
  final val WinnowK = 12
  final val WinnowW = 4

  /** `doc_winnow_portable` — the ORACLE-CHECKABLE winnowing twin
    * (r16 VERDICT: `doc_winnow` was one of the last two rows-only
    * paths with no oracle-checked relative; same twin pattern as
    * `dedup_minhash_portable`).
    *
    * Identical selection algorithm to [[docWinnow]]'s
    * [[graft.functions.Winnow]] kernel — hash every k-window, keep
    * the RIGHTMOST minimum of each w-window of hashes, drop
    * consecutive repeat picks — with exactly two portability deltas
    * (the same surface the MinHash twins carve out): the window hash
    * is the DuckDB-reproducible md5-60 (first 15 hex nibbles of
    * `md5(substr)`) instead of the byte-level Rabin-Karp rolling
    * hash, and windows are CHARACTER-based (`substring` semantics in
    * both engines) instead of byte-based. Nothing algorithmic
    * differs, so the oracle genuinely checks the winnowing selection
    * logic: window enumeration, rightmost-min tie-break, and the
    * consecutive-pick dedup.
    *
    * Plan shape (100 TB): everything before the per-doc aggregate is
    * a pure projection chain — positions explode from a `sequence`,
    * each position re-explodes into the ≤ w window slots it belongs
    * to (no join, no window-function over positions), and the
    * rightmost-min per (doc, window) folds in ONE map-side-combined
    * hash aggregate via the packed `min(hv·2⁶² − i)` idiom
    * ([[Num.packDesc]] ordering; both engines run the identical
    * DECIMAL(38,0) arithmetic). The only per-doc sequential step is
    * the consecutive-dedup lag, a window over the doc's own picks —
    * bounded by document length, never corpus size. Work is
    * O(chars·w) rows with one md5 per position: heavier per byte
    * than the production kernel's rolling hash (the price of oracle
    * portability), embarrassingly parallel at any scale.
    */
  def docWinnowPortable(s: SparkSession, dir: String): DataFrame =
    docWinnowPortable(docs(s, dir))

  /** [[docWinnowPortable]] over any `(doc_id, text)` relation.
    *
    * r17 re-plan: the statistic is PER-DOCUMENT, so the declarative
    * pipeline below (positions explode ×w, exchange, hash aggregate,
    * lag window) moved rows that never needed to leave their row —
    * it was the heaviest query on BOTH engines in the window-11
    * pairing (Spark 5.49 s / DuckDB 10.60 s at sf0.1). Now ONE
    * per-row kernel call ([[graft.functions.WinnowMd5Summary]] —
    * same md5-60 values, same selection loop as the production
    * [[graft.functions.Winnow]]), zero exchanges before the
    * presentation projection. Value identity is pinned two ways:
    * WinnowSpec compares it row-for-row against
    * [[docWinnowPortableDeclarative]] on the fixture corpus, and the
    * DuckDB oracle still recomputes every number from its own CTE
    * pipeline.
    */
  def docWinnowPortable(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= WinnowK)
      .select(col("doc_id"),
        graft.functions.VectorFunctions
          .winnowMd5(col("text"), WinnowK, WinnowW).as("f"))
      .select(col("doc_id"),
        col("f.n_fingerprints").as("n_fingerprints"),
        col("f.fp_digest").as("fp_digest"))

  /** The declarative spelling of [[docWinnowPortable]] — retained as
    * the kernel's equivalence referee (WinnowSpec pins kernel ==
    * declarative row-for-row; the oracle SQL mirrors THIS shape
    * CTE-for-CTE, so the chain kernel == declarative == DuckDB
    * verifies the winnowing selection logic across three independent
    * implementations).
    */
  private[graft] def docWinnowPortableDeclarative(d: DataFrame): DataFrame = {
    val k = WinnowK
    val w = WinnowW
    // positions 1..m (m = len−k+1) with the per-doc window count
    val pos = d.filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (k - 1)).as("m"))
      .withColumn("nwins", greatest(col("m") - (w - 1), lit(1)))
      .select(col("doc_id"), col("nwins"), col("text"),
        explode(expr("sequence(1, m)")).as("i"))
    // md5-60 hash of the k-char window at i, then fan each position
    // out to the w-window starts it participates in
    val cand = pos
      .select(col("doc_id"), col("nwins"), col("i"),
        expr(s"CAST(conv(substring(md5(substring(text, i, $k)), 1, 15), " +
          "16, 10) AS BIGINT)").as("hv"))
      .select(col("doc_id"), col("i"), col("hv"),
        explode(expr(s"sequence(greatest(1, i - ${w - 1}), " +
          "least(i, nwins))")).as("j"))
    // rightmost minimum per (doc, window): min hv, and among equal
    // hv the largest i — one packed decimal min, recovered exactly.
    // The packing/unpacking is [[Num.packDesc]]/[[Num.unpackIdDesc]]
    // (r17 review: an inline respelling dropped their range guards —
    // the exact drift Num's header warns about); the oracle SQL pastes
    // the same `hv·2⁶² − i` arithmetic without the guards, which is
    // safe there because the guarded Spark side runs on identical
    // values first.
    val picks = cand.groupBy("doc_id", "j")
      .agg(min(col("hv")).as("mh"),
        min(Num.packDesc(col("hv"), col("i"), "doc_winnow_portable"))
          .as("pk"))
      .select(col("doc_id"), col("j"), col("mh"),
        Num.unpackIdDesc(col("mh"), col("pk")).as("p"))
    // consecutive-dedup in window order (winnowing picks are
    // non-decreasing in position, so this equals positional dedup)
    val byJ = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("j")
    picks
      .withColumn("pp", lag(col("p"), 1).over(byJ))
      .filter(col("pp").isNull || col("p") =!= col("pp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        // digest = Σ picked hashes mod 2⁶¹−1: the decimal sum is
        // exact in both engines, but a >18-digit decimal column
        // degrades to float64 in the comparison layer — the Mersenne
        // fold keeps the digest an exactly-representable BIGINT
        (sum(col("mh").cast(DecimalType(38, 0))) %
          lit(NearDup.MersenneP)).cast(LongType).as("fp_digest"))
  }

  /** `doc_fingerprint` — winnowing-style document fingerprint: the
    * minimum 64-bit hash over the document's 3-token shingles (the
    * MinHash primitive, num_hashes=1). NO ORACLE: the shingle hash is
    * engine-specific. Matching fingerprints ⇒ near-dup candidates.
    *
    * Entirely per-row — [[graft.functions.ShingleHash]] hashes the
    * shingles in one primitive loop and `array_min` reduces them in
    * place, so the plan is a narrow projection with no explode
    * fan-out, no aggregate, and no shuffle beyond the output sort.
    * (The first formulation exploded string shingles built by an
    * interpreted `transform(…, concat_ws)` lambda through a groupBy:
    * 18 s at sf0.1 vs sub-second for this shape.) Docs with fewer
    * than 3 tokens have no shingles → null fingerprint.
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        array_min(graft.functions.VectorFunctions
          .shingle(tokens(col("text")), 3)).as("fingerprint"))

  /** `text_repetition` — Gopher-rule repetition signals (Rae et al.
    * 2021 §A1.1): the fraction of all word-bigrams taken by the single
    * most frequent bigram, and the duplicate-word fraction
    * (1 − distinct/total). High values mark boilerplate / looping text
    * that perplexity filters miss. Repetitive = top-2-gram fraction
    * > 0.18 (the paper's threshold) or duplicate-word fraction > 0.9.
    *
    * Shape at scale (r8): the statistic is PER-DOCUMENT, so no row
    * ever needs to meet another — the whole computation is a pure
    * projection with ZERO exchanges (only the presentation sort
    * remains). NOT the O(n²) count-each-bigram-against-the-array
    * form (a 100k-token document would pay 1e10 comparisons), and
    * not the explode + two-level hash-aggregate form shipped in
    * r6/r7 either: that one shuffled the distinct (doc, bigram)
    * stream and, on the driver's own per-sample evidence
    * (BENCH_LOCAL.json r8: 18/18 samples at 1.6–2.6 s across three
    * JVMs), paid ~6× DuckDB on explode volume + aggregation
    * machinery for values that never leave their row. It
    * parallelizes embarrassingly: a 1000-executor cluster scans,
    * projects, and writes with no data movement at all. Docs with
    * fewer than 2 words have no bigrams and are excluded (both here
    * and in the oracle).
    *
    * The top-bigram kernel is the native
    * [[graft.functions.BigramTopCount]] expression (r13): one
    * comparator sort over pair INDICES + one equal-run pass,
    * O(n log n) per row with zero bigram-string allocation. It
    * replaces the r8–r12 declarative spelling (bigram `concat` →
    * `array_sort` → interpreted `aggregate()` fold), which dispatched
    * two lambdas per element and allocated one UTF8String per bigram
    * — measured 0.90 → 0.56 s at sf0.1. Identical counts: pair
    * equality equals concat-with-space equality because whitespace
    * split leaves no space inside a token.
    *
    * SUBSTITUTION-SAFETY (r11, re-proved for the r13 form): composing
    * the operator under a filter (`textRepetition(docs)
    * .filter(!repetitive)`, the curation pipeline's quality gate)
    * lets PushPredicateThroughProject substitute defining expressions
    * into the filter. The r8–r10 HOF form re-expanded
    * split+transform+array_sort INSIDE the fold lambda — re-run per
    * fold step by interpreted eval, O(n²·log n) per doc. The kernel
    * is now a single opaque expression over `words`: substitution can
    * copy it (and the split) at most once per referenced output
    * column — linear, never inside a per-element loop.
    * RepetitionSubstitutionSpec pins the bounded-copies property and
    * behavioral equality under composition.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    // unspread (r22): pure projection — PlanAuditSpec pins zero
    // exchanges of ANY kind on this query
    textRepetition(docs(s, dir))

  /** [[textRepetition]] over any `(doc_id, text)` relation. */
  def textRepetition(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), size(col("words")).cast(LongType).as("n_words"),
        size(array_distinct(col("words"))).cast(LongType).as("distinct_words"),
        (size(col("words")) - 1).cast(LongType).as("n_bigrams"),
        graft.functions.VectorFunctions.bigramTop(col("words")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_words"), col("top_bigram_n"),
        topBigramFrac(col("top_bigram_n"), col("n_bigrams"))
          .as("top_bigram_frac"),
        col("distinct_words"),
        dupWordFrac(col("distinct_words"), col("n_words"))
          .as("dup_word_frac"))
      .withColumn("repetitive",
        repetitive(col("top_bigram_frac"), col("dup_word_frac")))
  }

  /** `text_normalize` — canonical text normalization, the step every
    * dedup/quality stage assumes upstream: lowercase, trim, strip
    * non-alphanumerics (keeping basic sentence punctuation), collapse
    * whitespace runs. Pure per-row projection — zero shuffles, fully
    * codegen'd, embarrassingly parallel at any scale. Emitting the
    * normalized text AND its sha2 lets downstream exact dedup
    * ([[dedupText]]) run straight off this output.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    textNormalize(docs(s, dir))

  /** [[textNormalize]] over any `(doc_id, text)` relation.
    *
    * Order matters for the fixpoint: strip → collapse → TRIM —
    * stripping can create fresh leading/trailing spaces ("@@@ hi" →
    * " hi"), so trimming first would leave output a second pass still
    * changes.
    */
  def textNormalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 .,!?']", ""),
          "\\s+", " ")).as("norm_text"))
      .withColumn("norm_hash", sha2(col("norm_text"), 256))

  /** `corpus_stats` — the one-row corpus summary a curation run logs
    * per snapshot: document count, token volume, distinct vocabulary,
    * mean document length, and type-token ratio (vocabulary richness).
    * Two single-pass aggregates (per-doc token counts summed exactly;
    * distinct over the exploded token stream) merged by a trivial
    * cross of two 1-row relations. The distinct-token count is the
    * only term that scales with vocabulary — at 100 TB it becomes
    * `approx_count_distinct` ([[Aggregates.aggDistinctApprox]] is the
    * precedent) and everything else is already map-side combined.
    */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    corpusStats(docs(s, dir))

  /** [[corpusStats]] over any `(doc_id, text)` relation.
    *
    * r15 re-plan (the weak-list +0.17 marginal was 3× DuckDB's for
    * one global summary): the old shape tokenized the corpus TWICE —
    * once for the per-doc size sum, once for the vocab countDistinct.
    * Now the token stream materializes once into a per-token count
    * aggregate (map-side combined; shuffle rows = distinct tokens per
    * task, vocabulary-bounded at any corpus size), and BOTH
    * `total_tokens` (Σ counts ≡ Σ per-doc sizes, same empty-token
    * filter) and `unique_tokens` (row count) fold from that one
    * relation — no countDistinct rewrite, no second pass. `n_docs`
    * comes from a column-less count whose scan reads parquet footer
    * row counts, not data. Empty-corpus edge: the coalesce keeps
    * total_tokens 0 (the old per-doc sum over zero-token docs), so
    * the closing divisions see identical inputs.
    *
    * r17 floor note: a [[graft.functions.TokenCounts]]-kernel variant
    * (explode per-doc DISTINCT tokens instead of occurrences) was
    * A/B'd interleaved in one window and LOST — 0.411 vs 0.365 s min
    * at sf0.1 — because the fixture vocabulary is tiny (31 distinct
    * tokens), so the per-token hash aggregate is already nearly free
    * and the kernel's per-doc counting pass is pure overhead. The
    * remaining cost is the single tokenize (regex split + lower) over
    * the text column — a scan-bound floor (focused min 0.287 s at
    * sf0.1, per-sample record in BENCH_PROFILE_r17 history), not a
    * plan defect.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val tc = docs.select(explode(
        filter(tokens(trim(col("text"))), t => t =!= "")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val toksAgg = tc.agg(
      count(lit(1)).as("unique_tokens"),
      coalesce(sum(col("c")), lit(0L)).as("total_tokens"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(toksAgg)
      .select(col("n_docs"), col("total_tokens"), col("unique_tokens"),
        round(col("total_tokens").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 4).as("avg_doc_tokens"),
        round(col("unique_tokens").cast(DoubleType) /
          col("total_tokens").cast(DoubleType), 6).as("type_token_ratio"))
  }

  /** `filter_len_band` — per-language length-percentile filtering: keep
    * documents whose `n_chars` sits inside their language's [p05, p95]
    * band, the standard "too short / truncated or boilerplate-bloated"
    * curation cut (per-language because length distributions differ by
    * script). Fit = one exact-percentile aggregate PER LANGUAGE (a few
    * rows total); transform = broadcast-join the band table and filter.
    * The big side never shuffles; at 100 TB the fit switches to
    * `approx_percentile` per lang.
    */
  def filterLenBand(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bands = d.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05)").as("p05"),
      expr("percentile(n_chars, 0.95)").as("p95"))
    d.join(broadcast(bands), "lang")
      .filter(col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
      .select("doc_id", "lang", "n_chars")
  }

  /** `chunk_docs` — overlapping token-window chunking: split each
    * document into windows of `size` tokens advancing by
    * `size − overlap`, the preprocessing step RAG indexing and
    * long-document pretraining both start from (the chunk, not the
    * document, is the retrieval/packing unit). Pure per-row generate:
    * one codegen'd Generate per doc, zero shuffles before the
    * presentation sort — embarrassingly parallel at any corpus size.
    * Chunk ids are window ordinals, so (doc_id, chunk_id) is a stable
    * key for downstream embedding/dedup joins.
    */
  /** Shared chunking defaults — referenced by the oracle SQL in
    * [[graft.SparkEntry]] (via interpolation), so a default change can
    * never silently desynchronize query and oracle.
    */
  final val DefaultChunkSize = 64
  final val DefaultChunkOverlap = 16

  def chunkDocs(s: SparkSession, dir: String, size: Int = DefaultChunkSize,
                overlap: Int = DefaultChunkOverlap): DataFrame =
    chunkDocs(docs(s, dir), size, overlap)

  /** [[chunkDocs]] over any `(doc_id, text)` relation. */
  def chunkDocs(docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      // `toks` re-bound as `t` before per-element access — the
      // substitution-safety rule [[textRepetition]] documents
      .select(col("doc_id"), posexplode(expr(
        s"transform(array(toks), t ->" +
          s" transform(sequence(0, greatest(size(t) - $overlap - 1, 0), $stride)," +
          s" st -> slice(t, st + 1, $size)))[0]"))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        org.apache.spark.sql.functions.size(col("chunk")).cast(LongType)
          .as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Streaming exact-text dedup: the [[dedupText]] semantics applied to
    * a document STREAM — new docs whose normalized content hash was
    * already seen within the watermark horizon are dropped,
    * `dropDuplicatesWithinWatermark` bounding the dedup state the way
    * an unbounded `dropDuplicates` on a stream cannot (state grows
    * with the horizon, not the corpus). This is the ingest-time
    * half of corpus dedup: cheap exact dedup at arrival, the full
    * near-dup pass ([[graft.ops.NearDup]]) runs batch-side on the
    * deduplicated store. Input needs `(ts, text)`; emits the arriving
    * schema + `text_hash`.
    */
  def streamDedupDocs(docs: DataFrame,
                      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("text_hash", sha2(trim(lower(col("text"))), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** `bpe_pairs` — corpus-wide character-pair frequencies within
    * words: the statistic the first BPE merge step ranks (count every
    * adjacent symbol pair, merge the most frequent). Two-level
    * aggregate: tokens are counted FIRST (one map-side-combined
    * groupBy — natural-language token streams are extremely
    * repetitive), then the per-character explode runs over the
    * DISTINCT vocabulary with the token count as a weight. The
    * expensive stage — an interpreted `transform` lambda allocating a
    * 2-char string per position (see SCALE.md's interpreted-lambda
    * audit) — thus scales with vocabulary size, not corpus size, and
    * the final shuffle is bounded by distinct pairs (≤ alphabet², a
    * few KB). A full BPE trainer iterates exactly this aggregate.
    * Deterministic tie-break on the pair itself.
    */
  def bpePairs(s: SparkSession, dir: String, k: Int = 30): DataFrame =
    bpePairs(docs(s, dir), k)

  /** [[bpePairs]] over any `(doc_id, text)` relation. */
  def bpePairs(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(explode(tokens(trim(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("tok_n"))
      .select(col("tok_n"), explode(expr(
        "transform(sequence(1, length(tok) - 1)," +
          " i -> substring(tok, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("tok_n")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** `embed_norms` — per-vector L2 norm over `embeddings.embedding`:
    * the health check a vector pipeline runs before cosine math
    * (zero-norm or NaN vectors poison similarity joins). Per-row
    * in-order fold over the array — both engines reduce the same
    * float→double casts in the same element order, so the rounded
    * norms agree bit-for-bit. Pure projection: zero shuffles.
    */
  def embedNorms(s: SparkSession, dir: String): DataFrame =
    embedNormsUnordered(s, dir)

  // norm projection without the presentation sort, for re-aggregation
  private def embedNormsUnordered(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        round(sqrt(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE)," +
            " (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 4)
          .as("l2_norm"))

  /** `embed_quantize` — int8 scalar quantization of the embedding
    * column: fit per-dimension [min, max] ranges (one exploded
    * aggregate, shuffle ∝ dims), collect the d-sized range table to
    * the driver (the [[graft.ops.Cluster]] centroid discipline — KBs),
    * and emit each vector's reconstruction error under 255-level
    * codes as a pure projection against the literal ranges. This is
    * the compression step a vector index applies before storage (4×
    * smaller than float32); the reported per-vector max/mean absolute
    * error is the quality gate a pipeline alerts on. NO ORACLE
    * (rows-only): per-dim float reductions are not portably
    * SQL-expressible; the unit test pins the error bound
    * `max_abs_err ≤ max_dim_span / 510`.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    embedQuantize(Sources.table(s, dir, "embeddings"))

  /** [[embedQuantize]] over any `(vec_id, embedding)` relation. */
  def embedQuantize(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      // quantization needs actual numbers: drop null/empty vectors
      // (an empty array would even index-error below — SQL
      // `sequence(0, -1)` DESCENDS to [0, -1], it is not empty) and
      // any vector with a NaN/Inf element, which would otherwise
      // poison its dimension's fitted [lo, hi] range for the WHOLE
      // corpus. Inert on the committed fixtures (no such vectors).
      .filter(size(col("v")) > 0 && expr(
        "forall(v, x -> NOT isnan(x) AND abs(x) < CAST('Infinity' AS DOUBLE))"))
    val ranges = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy("dim").collect()
    val lo = array(ranges.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val span = array(ranges.map { r =>
      val s0 = r.getDouble(2) - r.getDouble(1)
      lit(if (s0 > 0) s0 else 1.0) // constant dim: any span, err is 0
    }.toIndexedSeq: _*)
    e.select(col("vec_id"), lo.as("lo"), span.as("span"), col("v"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, size(v) - 1), i ->
          |  abs(lo[i] + round((v[i] - lo[i]) * 255.0 / span[i])
          |      * span[i] / 255.0 - v[i]))""".stripMargin).as("errs"))
      .select(col("vec_id"),
        round(array_max(col("errs")), 6).as("max_abs_err"),
        round(expr(
          "aggregate(errs, CAST(0.0 AS DOUBLE), (a, x) -> a + x)" +
            " / size(errs)"), 6).as("mean_abs_err"))
  }

  /** `embed_label_stats` — per-label vector profile: count and mean L2
    * norm. The grouped reduction over [[embedNorms]]'s projection —
    * norms are rounded to a 4-dp lattice first, then summed exactly
    * as hi/lo long units ([[Num.lsumWide]] — same exact rational as
    * the decimal sum), so the per-label means are order-independent
    * and engine-portable. One scan, one hash agg keyed on the
    * (tiny-cardinality) label.
    */
  def embedLabelStats(s: SparkSession, dir: String): DataFrame =
    embedNormsUnordered(s, dir)
      .groupBy("label")
      // r15: norms are already on the 4-dp lattice, so the hi/lo
      // long-unit sum carries the same exact rational as the dsum it
      // replaces (bit-identical mean) with primitive accumulators;
      // label cardinality is tiny → corpus-scale groups, the split
      // accumulator's headroom case
      .agg(count(lit(1)).as("n_vectors"),
        round(graft.ops.Num.lsumWide(col("l2_norm"), 4) / count(lit(1)), 4)
          .as("avg_l2_norm"))

  /** `quality_gopher` — the Gopher quality-rule subset (Rae et al.
    * 2021, "Scaling Language Models", appendix A1.1) that is
    * non-vacuous on a whitespace corpus: word-count band, mean-word-
    * length band, duplicate-word-fraction cap, and a minimum count of
    * DISTINCT English stopwords present. The standard rule-based
    * pretraining filter, complementing [[textQuality]]'s
    * length/punctuation rules and [[textRepetition]]'s bigram signal.
    *
    * Shape at scale: pure per-row projection, zero shuffle (only the
    * presentation sort). Every signal is an array reduction over the
    * row's own `words`: the char count folds with `aggregate` (the
    * collection argument is evaluated once per row even under
    * optimizer substitution — only per-ELEMENT array indexing is
    * substitution-dangerous, see the r11 `text_repetition` note), the
    * stopword count intersects against a 6-element literal array. A
    * 1000-executor cluster runs this with no data movement at all.
    */
  def qualityGopher(s: SparkSession, dir: String): DataFrame =
    // unspread (r22): "no data movement at all" is this operator's
    // documented contract — keep the scaladoc above true
    qualityGopher(docs(s, dir))

  /** [[qualityGopher]] over any `(doc_id, text)` relation. */
  def qualityGopher(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .select(col("doc_id"),
        size(col("words")).cast(LongType).as("n_words"),
        expr("aggregate(words, 0L, (a, w) -> a + length(w))")
          .as("n_word_chars"),
        size(array_distinct(col("words"))).cast(LongType).as("n_distinct"),
        size(array_intersect(col("words"),
          array(enStopwords.map(lit): _*))).cast(LongType)
          .as("n_stop_distinct"))
      .select(col("doc_id"), col("n_words"),
        round(col("n_word_chars").cast(DoubleType) /
          col("n_words").cast(DoubleType), 4).as("mean_word_len"),
        round(lit(1.0) - col("n_distinct").cast(DoubleType) /
          col("n_words").cast(DoubleType), 4).as("dup_word_frac"),
        col("n_stop_distinct"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("dup_word_frac") <= 0.6 &&
          col("n_stop_distinct") >= 2L)

  /** `vocab_growth` — per-source vocabulary statistics: token count,
    * type (distinct-token) count, hapax-legomena count (types seen
    * exactly once), and the type–token ratio. The Heaps'-law lens on
    * corpus diversity: a source whose TTR collapses relative to its
    * peers is template/boilerplate-generated and a dedup candidate at
    * the SOURCE level, before any per-document pass runs.
    *
    * Shape at scale: explode → two stacked hash aggregates. The first
    * (source, token) aggregate map-side combines, so shuffle volume is
    * ∝ distinct (source, token) pairs — vocabulary-bounded, not
    * corpus-bounded; the second reduces to one row per source.
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("ttr"))

  /** `zipf_slope` — least-squares slope of log(frequency) over
    * log(rank) for the corpus's top-100 tokens: the Zipf-law fit.
    * Natural text sits near slope −1; a corpus that drifts far from
    * its historical slope signals a scrape/boilerplate regression —
    * this is the one-number drift alarm a corpus-health dashboard
    * plots per snapshot.
    *
    * Engine-portable numerics: per-rank logs are rounded to a 6-dp
    * lattice and decimal-summed (the [[graft.ops.Num.dsum]]
    * discipline), so the five regression sums are exact and
    * order-independent; the final slope/intercept division happens in
    * doubles on identical operands. Shape at scale: one
    * vocabulary-bounded hash aggregate, then `orderBy.limit(100)` —
    * a distributed TakeOrderedAndProject, NOT a full sort — and the
    * rank window runs on the 100 surviving rows only.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(100)
    val ranked = top.select(col("freq"),
      row_number().over(
        Window.orderBy(col("freq").desc, col("token"))).as("rank"))
    val lx = round(log(col("rank").cast(DoubleType)), 6)
      .cast(DecimalType(18, 6))
    val ly = round(log(col("freq").cast(DoubleType)), 6)
      .cast(DecimalType(18, 6))
    ranked.select(lx.as("lx"), ly.as("ly"))
      .agg(count(lit(1)).as("n"),
        sum(col("lx")).cast(DoubleType).as("sx"),
        sum(col("ly")).cast(DoubleType).as("sy"),
        sum(col("lx") * col("lx")).cast(DoubleType).as("sxx"),
        sum(col("lx") * col("ly")).cast(DoubleType).as("sxy"))
      .select(col("n").as("n_ranks"),
        round((col("n").cast(DoubleType) * col("sxy") -
          col("sx") * col("sy")) /
          (col("n").cast(DoubleType) * col("sxx") -
            col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - (col("n").cast(DoubleType) * col("sxy") -
          col("sx") * col("sy")) /
          (col("n").cast(DoubleType) * col("sxx") -
            col("sx") * col("sx")) * col("sx")) /
          col("n").cast(DoubleType), 4).as("intercept"))
  }
}

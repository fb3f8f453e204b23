package graft.ops

import graft.functions.Signatures
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Columns.{column, expression}
import org.apache.spark.sql.graftbridge.Replan
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Near-duplicate detection at corpus scale — MinHash+LSH, SimHash,
  * and n-gram Jaccard. All three follow the same 100 TB rule: generate
  * candidates via a bucketed shuffle (band hash / simhash band /
  * shared rare shingle), never an all-pairs crossJoin. Pair work is
  * bounded by bucket sizes, not N².
  *
  * MinHash and SimHash are ONE pipeline over two hash schemes
  * ([[HashScheme]]). The production scheme [[Xxhash64]] hashes
  * shingles and tokens with xxhash64 and keys bands by
  * `xxhash64(slice(sig))`: no crypto hash at all, but not computable
  * in DuckDB SQL. The portable scheme [[Md5Affine]], which every
  * oracle-checked twin runs on, is DuckDB-reproducible: the base hash
  * is the first 15 hex nibbles of `md5` read as a 60-bit integer
  * (~20× dearer per token than xxhash64; DuckDB rebuilds it as a
  * nibble-weighted sum over the same hex), MinHash slots are the
  * [[PortableSeeds]] affine permutations `(a_i·x + b_i) mod (2⁶¹−1)`
  * whose overflow-safe arithmetic [[affineHashSql]] pastes into both
  * engines, band keys are the comma-joined decimal slot minima, and
  * SimHash is 60 bits wide (the value stays inside a signed long on
  * both engines). Those deltas — md5 base hash, affine permutations,
  * string band keys, 16 hashes instead of 64 — are exactly the
  * portability surface, nothing algorithmic: the signature build,
  * band rows, candidate join, agreement count and SimHash vote are
  * each written once, so the portable twins' oracles cover everything
  * but the hash choice, and MinhashFamilyCrossSpec shows the xxhash64
  * signatures estimate Jaccard as well.
  *
  * The exact-membership twin follows the same rule: [[dedupIncremental]]
  * and [[dedupBloomPortable]] are the left join against the distinct
  * corpus hashes that [[dedupBloom]]'s broadcast filter approximates;
  * the bloom probe itself is the only delta.
  *
  * Reference analog: the corpus-level generalization of
  * drop_duplicates (/root/reference/src/etl_2022.py:178) — the
  * reference only removes exact dups; these catch near-dups.
  */
object NearDup {

  /** The eager entry-point policy: run `plan` once through
    * `localCheckpoint` (lineage truncated to the small result) and
    * release the persisted intermediates it read — in a `finally`, so
    * a failed checkpoint job does not leave them cached for the rest
    * of the session. Plans are exactly the ones the caller built.
    *
    * Why eager and not lazy: dropping the persist and the checkpoint
    * from dedupNgram, dedupContainment, dedupMinhash,
    * dedupMinhashPortable, dedupMinhashIncr and
    * dedupSimhashPairsPortable left all 172 sf0.01 result digests
    * identical but was SLOWER — a build/exec probe at sf0.1 (bench
    * session, 4 cores, two runs per side; Bench's `layers` now record
    * the same split) measured the 7 affected
    * queries at 13.3 / 12.6 s of build plus execute eager vs
    * 15.8 / 17.5 s lazy (`dedup_minhash` 1.27 / 1.31 → 1.85 / 1.95 s,
    * `dedup_minhash_incr` 1.39 / 1.34 → 2.04 / 1.89 s): without the
    * cache each persisted intermediate is recomputed by every branch
    * that reads it.
    */
  private[ops] def materialize(plan: DataFrame,
                               cached: DataFrame*): DataFrame =
    try plan.localCheckpoint()
    finally cached.foreach(_.unpersist(blocking = false))

  /** [[materialize]] of a `(plan, cached)` pair from a `*Plan` builder. */
  private def materialize(planned: (DataFrame, DataFrame)): DataFrame =
    materialize(planned._1, planned._2)

  /** Run `build` (jobs that run while a plan is built) and release
    * `cached` only if it throws; on success the caller still owns them. */
  private def releasingOnFailure[T](cached: DataFrame*)(build: => T): T =
    try build
    catch { case e: Throwable => cached.foreach(_.unpersist(false)); throw e }

  /** 64-bit hashes of the n-token shingles per document (NOT
    * deduplicated — both consumers are duplicate-idempotent: MinHash
    * takes a min, dedupNgram collects a set, so a distinct here would
    * only add a full extra shuffle). Shingles, not unigrams: token
    * SETS from a small vocabulary are nearly identical across
    * unrelated docs (every doc contains most of the vocab), while
    * shingle overlap between unrelated docs is ~0 — the discrimination
    * that makes banding produce few candidates.
    *
    * Hashing happens inside [[graft.functions.ShingleHash]] — one
    * expression call per document with a tight primitive loop — not
    * via the `transform(..., i -> concat_ws(...))` lambda it replaced:
    * higher-order functions evaluate interpreted and allocate a string
    * per shingle, and this map stage runs once per token of the whole
    * corpus, the hottest loop of the near-dup surface. Downstream only
    * ever needs shingle IDENTITY (group/join keys, min), which the
    * hash preserves (64-bit collisions: negligible, deterministic).
    */
  private def shingleHashesOf(docs: DataFrame, n: Int): DataFrame =
    // spread the per-token work: a small single-file corpus is one
    // input split, which would pin the whole shingle+hash stage to a
    // single task on local[32]. Gated on split count (r22): at real
    // scale the input already has >= cores splits and the relation
    // passes through with NO exchange.
    Sources.spreadIfNarrow(docs)
      .select(col("doc_id"), explode(graft.functions.VectorFunctions
        .shingle(split(lower(col("text")), "\\s+"), n)).as("th"))

  /** `(doc_id, th)` — one md5-60 hash per distinct 3-token shingle:
    * the Spark-side mirror of the oracle family's shared
    * `portableShingleCtes` (SparkEntry). Unfiltered split (the
    * tokenization clusterReachSql already proves); shingle strings via
    * the ShingleStrings primitive loop (the transform/concat_ws lambda
    * spelling evaluates interpreted per window: 0.82 s vs 0.46 s warm
    * on this stage at sf0.1).
    */
  private def portableShingleHashes(docs: DataFrame): DataFrame = {
    // spread the per-token work exactly like [[shingleHashesOf]]: a
    // small single-file corpus is ONE input split, which pinned the
    // whole tokenize + md5-per-shingle stage to a single task on
    // local[32] — measured 0.79 s serial of dedup_simhash_pairs'
    // 0.86 s total at sf0.1 (r21 stage probe) while 31 cores idled.
    // Gated on split count (r22): a many-split input passes through
    // with no exchange.
    val toks = Sources.spreadIfNarrow(docs)
      .select(col("doc_id"),
        split(lower(col("text")), "\\s+").as("toks"))
    toks
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.VectorFunctions.shingleStrings(col("toks"), 3)))
        .as("sh"))
      .select(col("doc_id"), md5Hex60(col("sh")).as("th"))
  }

  /** The portable base hash: the first 15 hex nibbles of `md5(c)` read
    * as a 60-bit integer, which DuckDB rebuilds from the same hex. */
  private def md5Hex60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** The portability surface of the MinHash/SimHash family, and the
    * only place its two schemes differ (see the object header):
    *  - `shingleHashes`: `(doc_id, th)`, a bigint per 3-token shingle;
    *  - `tokenHash`: a string token's bigint hash (SimHash features);
    *  - `slot(i)`: MinHash slot `i`, an aggregate over `th`;
    *  - `bandKey`: SQL for the key of an `r`-slot signature slice;
    *  - `simhashBits`: the SimHash width;
    *  - `maxHashes`: how many MinHash slots the scheme defines.
    */
  private[ops] final case class HashScheme(
      shingleHashes: DataFrame => DataFrame,
      tokenHash: Column => Column,
      slot: Int => Column,
      bandKey: String => String,
      simhashBits: Int,
      maxHashes: Int) {

    /** Rejects a signature width or band count the pipeline cannot
      * honour. Every builder calls it through [[signatures]] before it
      * persists anything, so a bad argument leaves no cached plan.
      */
    def validate(numHashes: Int, bands: Int = 1): Unit = {
      require(numHashes >= 1 && numHashes <= maxHashes,
        s"numHashes must be in [1, $maxHashes], got $numHashes")
      require(bands >= 1 && numHashes % bands == 0,
        s"bands ($bands) must be positive and divide numHashes " +
          s"($numHashes) — trailing signature slots would be silently " +
          "excluded from banding")
    }
  }

  /** The production scheme: xxhash64 everywhere. The slots are
    * [[graft.functions.Signatures.minhashSlot]], the same aggregates
    * the SQL `graft_minhash` assembles; the shingle hashes are
    * non-null, so the slots' null guard folds away. The token hash is
    * the one `graft_simhash` applies to a string token (seed 42).
    */
  private[ops] val Xxhash64 = HashScheme(
    shingleHashes = shingleHashesOf(_, 3),
    tokenHash = xxhash64(_),
    slot = i => column(Signatures.minhashSlot(expression(col("th")), i)),
    bandKey = slice => s"xxhash64($slice)",
    simhashBits = 64,
    maxHashes = Int.MaxValue)

  /** The DuckDB-portable scheme (see the object header). One md5 per
    * shingle, not one per (shingle, seed): the per-seed-md5 first cut
    * benched 4.4 s at sf0.1 with the 16×-md5 signature build
    * dominating (easy to misattribute — a bare `sigs.count()` profile
    * prunes the min columns and never runs the md5s); this formulation
    * benches 1.2 s, in line with the rest of the dedup family, and the
    * affine family is ~20 int ops per seed AND the theoretically
    * standard min-wise construction (Broder 1997). The slot columns
    * are built once per JVM (r18 fixed-cost pass) from the exact
    * string the oracle interpolates.
    */
  private[ops] lazy val Md5Affine = HashScheme(
    shingleHashes = portableShingleHashes,
    tokenHash = md5Hex60,
    slot = PortableSeeds.map { case (a, b) =>
      min(expr(affineHashSql("th", a, b, "div")))
    },
    bandKey = slice => s"concat_ws(',', CAST($slice AS ARRAY<STRING>))",
    simhashBits = 60,
    maxHashes = PortableSeeds.length)

  /** Per-document MinHash signature `(doc_id, sig: array<bigint>)`
    * under `scheme`: `numHashes` slot aggregates over the scheme's
    * shingle hashes, re-assembled into the signature array. One
    * explode + one map-side-combined groupBy — shuffle volume is one
    * `numHashes`-slot row per document per map partition, independent
    * of doc length. Validates `(numHashes, bands)` for the banding the
    * caller will run.
    */
  private def signatures(scheme: HashScheme, docs: DataFrame,
                         numHashes: Int, bands: Int = 1): DataFrame = {
    scheme.validate(numHashes, bands)
    val mins = (0 until numHashes).map(i => scheme.slot(i).as(s"mh$i"))
    scheme.shingleHashes(docs)
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Production ([[Xxhash64]]) MinHash signatures of the documents table. */
  def minhashSignatures(s: SparkSession, dir: String,
                        numHashes: Int = 64): DataFrame =
    minhashSignatures(Sources.table(s, dir, "documents"), numHashes)

  /** [[minhashSignatures]] over any `(doc_id, text)` relation. */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    signatures(Xxhash64, docs, numHashes)

  /** Portable ([[Md5Affine]]) MinHash signatures — the signature every
    * `dedup_minhash_portable`-family query and oracle shares. */
  def portableSigs(docs: DataFrame, numHashes: Int): DataFrame =
    signatures(Md5Affine, docs, numHashes)

  /** `(doc_id, band_idx, band_hash)` band rows of a [[signatures]]-
    * shaped frame: band `b` is keyed by `scheme.bandKey` over slots
    * `[b·r, (b+1)·r)` (a string for [[Md5Affine]]). The banding
    * shuffle carries ONLY these three columns. Carrying the signature
    * through instead (the earlier formulation, and what MinHashLSH-
    * style joins ship) puts numHashes longs on every band row: ~8 KB
    * per doc at 64 hashes × 16 bands, 20× this shuffle's bytes, and it
    * dominated a 200k-doc run. Signatures re-enter in [[agreement]],
    * after candidate dedup, when the pair set is collision-sized.
    */
  private def bandRows(scheme: HashScheme, sigs: DataFrame,
                       numHashes: Int, bands: Int): DataFrame = {
    scheme.validate(numHashes, bands)
    val r = numHashes / bands
    sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1})," +
        s" b -> ${scheme.bandKey(s"slice(sig, b * $r + 1, $r)")})"))
      .as(Seq("band_idx", "band_hash")))
  }

  /** The band-bucket candidate join: `(ka, kb)` id pairs whose band
    * rows share a `(band_idx, band_hash)` bucket — bucketed shuffle,
    * pair work bounded by bucket sizes, never N² — with multi-band
    * collisions deduplicated BEFORE scoring (the estimate is per pair,
    * so scoring each collision would be wasted work). `ordered` keeps
    * `ka < kb`, for a self-join.
    */
  private def bandCandidates(bandsA: DataFrame, bandsB: DataFrame,
                             ka: String, kb: String,
                             ordered: Boolean): DataFrame = {
    val joined = bandsA
      .select(col("doc_id").as(ka), col("band_idx"), col("band_hash"))
      .join(bandsB.select(col("doc_id").as(kb), col("band_idx"),
        col("band_hash")), Seq("band_idx", "band_hash"))
    (if (ordered) joined.filter(col(ka) < col(kb)) else joined)
      .select(ka, kb).distinct()
  }

  /** The agreement count: `cand(ka, kb)` joined to each side's
    * signature (callers persist them), `matches` = the number of equal
    * slots, pairs kept at `matches / numHashes >= minSim` —
    * `(ka, kb, matches: int)`.
    */
  private def agreement(cand: DataFrame, sigsA: DataFrame,
                        sigsB: DataFrame, ka: String, kb: String,
                        numHashes: Int, minSim: Double): DataFrame =
    cand
      .join(sigsA.select(col("doc_id").as(ka), col("sig").as("sig_a")), ka)
      .join(sigsB.select(col("doc_id").as(kb), col("sig").as("sig_b")), kb)
      .select(col(ka), col(kb), expr("aggregate(zip_with(sig_a, sig_b," +
        " (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)").as("matches"))
      .filter(col("matches").cast(DoubleType) / numHashes.toDouble >= minSim)

  /** Banded self-join pairs `(doc_a, doc_b, matches)` of a signature
    * frame under `scheme`, cut at `minSim`. */
  private def selfPairs(scheme: HashScheme, sigs: DataFrame, numHashes: Int,
                        bands: Int, minSim: Double): DataFrame = {
    val banded = bandRows(scheme, sigs, numHashes, bands)
    agreement(bandCandidates(banded, banded, "doc_a", "doc_b", ordered = true),
      sigs, sigs, "doc_a", "doc_b", numHashes, minSim)
  }

  /** [[selfPairs]] over the persisted signatures of `docs`, plus that
    * cache: both candidate sides and both scoring joins read it. */
  private def selfPairsPlan(scheme: HashScheme, docs: DataFrame,
                            numHashes: Int, bands: Int,
                            minSim: Double): (DataFrame, DataFrame) = {
    val sigs = signatures(scheme, docs, numHashes, bands)
      .persist(MEMORY_AND_DISK)
    (selfPairs(scheme, sigs, numHashes, bands, minSim), sigs)
  }

  /** Production scoring: the first two columns of `pairs` with
    * `est_jaccard = matches / numHashes`. */
  private def estJaccard(pairs: DataFrame, numHashes: Int): DataFrame =
    pairs.select(pairs.columns.take(2).map(col).toIndexedSeq :+
      (col("matches").cast(DoubleType) / numHashes.toDouble)
        .as("est_jaccard"): _*)

  /** Shared defaults — referenced by BOTH the Scala entry points and
    * the oracle SQL in [[graft.SparkEntry]] (via interpolation), so a
    * default change can never silently desynchronize query and oracle.
    */
  final val DefaultMaxDf = 20
  final val DefaultMinJaccard = 0.2
  final val DefaultMinContain = 0.5

  /** 2⁶¹−1, the Mersenne prime modulus of the portable permutation
    * family ([[affineHashSql]]).
    */
  final val MersenneP = 2305843009213693951L

  // Portable-family defaults — same shared-constant discipline as
  // DefaultMaxDf above: BOTH the Scala entry points and the oracle
  // SQL in SparkEntry interpolate these, so a change can never
  // silently desynchronize query and oracle.
  final val PortableNumHashes = 16
  final val PortableBands = 4
  final val PortableMinSim = 0.4
  final val PortableMaxHamming = 8
  /** `doc_id % PortableProbeMod == 0` is `dedup_minhash_incr`'s probe
    * batch; the rest is its corpus.
    */
  final val PortableProbeMod = 4

  /** Deterministic `(a, b)` pairs for the portable MinHash permutation
    * family `h_i(x) = (a_i·x + b_i) mod (2⁶¹−1)` (min-wise universal
    * hashing in the Broder 1997 "On the resemblance and containment of
    * documents" formulation). A fixed-seed splitmix-style LCG, NOT
    * runtime randomness: the constants are part of the query's
    * semantics — the DuckDB oracle interpolates the very same values.
    * `a` is odd and in [1, 2³¹), `b` in [0, 2³¹) — the bounds
    * [[affineHashSql]]'s no-overflow proof relies on.
    */
  val PortableSeeds: IndexedSeq[(Long, Long)] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L; s
    }
    (0 until 16).map { _ =>
      ((next() >>> 33) | 1L, next() >>> 33)
    }
  }

  /** SQL for `(a·x + b) mod (2⁶¹−1)` over a non-negative `x < 2⁶⁰`,
    * with every intermediate provably inside a signed 64-bit integer —
    * the SAME string is pasted into the Spark query (`div` integer
    * division) and the DuckDB oracle (`//`), so the two engines run
    * bit-identical arithmetic by construction.
    *
    * Decomposition (x = xh·2³⁰ + xl, a < 2³¹, b < 2³¹,
    * p = 2⁶¹−1): t1 = a·xh mod p (a·xh < 2⁶¹); t1·2³⁰ mod p =
    * (t1 mod 2³¹)·2³⁰ + t1 div 2³¹ (mod p, since 2⁶¹ ≡ 1) — the sum
    * is < 2⁶¹+2³⁰; final (t2 + a·xl + b) < 2⁶¹+2⁶¹+2³¹ < 2⁶³.
    */
  def affineHashSql(x: String, a: Long, b: Long, div: String): String = {
    val p = MersenneP
    val t1 = s"(($a * ($x $div 1073741824)) % $p)"
    val t2 = s"((($t1 % 2147483648) * 1073741824 + ($t1 $div 2147483648)) % $p)"
    s"(($t2 + $a * ($x % 1073741824) + $b) % $p)"
  }

  /** `dedup_minhash` — banded MinHash+LSH near-dup summary.
    *
    * Classic banding: the 64-hash signature splits into 16 bands of
    * 4 rows; two docs are candidates iff some band hashes identically
    * (P[collide] = 1−(1−j⁴)¹⁶ — ≈0.9 at j=0.6, ≈0.03 at j=0.2, a
    * sharp cutoff). Candidates come from a self-join on
    * (band_idx, band_hash) — bucketed shuffle, pair work bounded by
    * bucket sizes, never N². Jaccard is then estimated as the
    * fraction of agreeing minhashes.
    * Output is a 1-row summary (pair count + mean similarity) so the
    * result is non-empty and deterministic even with no near-dups.
    *
    * Replaces MLlib's MinHashLSH.approxSimilarityJoin, whose hash
    * tables are single-row bands (collision P = j per table): at
    * sf0.1 that made ~every moderately-similar pair a candidate and
    * took 310 s; this runs in seconds with the same contract.
    *
    * NOTE: this entry point (like [[dedupNgram]] / [[dedupContainment]])
    * materializes EAGERLY at call time — the persisted intermediate is
    * released by running the job through `localCheckpoint` before
    * returning, trading build-without-execute laziness for not pinning
    * cache blocks on the session. Callers that only want the plan
    * (explain tooling) use [[dedupMinhashPlan]]; checkpointed blocks
    * do not survive executor loss (acceptable: the checkpoint holds
    * the small RESULT, recomputable by re-calling the function).
    */
  def dedupMinhash(s: SparkSession, dir: String, numHashes: Int = 64,
                   bands: Int = 16, minSim: Double = 0.4): DataFrame =
    dedupMinhash(Sources.table(s, dir, "documents"), numHashes, bands,
      minSim)

  /** [[dedupMinhash]] over any `(doc_id, text)` relation. */
  def dedupMinhash(docs: DataFrame, numHashes: Int, bands: Int,
                   minSim: Double): DataFrame =
    materialize(dedupMinhashPlan(docs, numHashes, bands, minSim))

  /** The plan [[dedupMinhash]] materializes, and its signature cache. */
  private[graft] def dedupMinhashPlan(docs: DataFrame, numHashes: Int,
                                      bands: Int, minSim: Double)
      : (DataFrame, DataFrame) = {
    val (pairs, sigs) = selfPairsPlan(Xxhash64, docs, numHashes, bands,
      minSim)
    (estJaccard(pairs, numHashes).agg(
      count(lit(1)).as("n_candidate_pairs"),
      coalesce(round(avg(col("est_jaccard")), 4), lit(0.0))
        .as("avg_jaccard_sim")), sigs)
  }

  /** Pair-level core of [[dedupMinhash]]: banded candidates from a
    * (persisted) [[minhashSignatures]] frame, scored by signature
    * agreement, cut at `minSim` — `(doc_a, doc_b, est_jaccard)`.
    * Public, with [[portableScoredPairs]], so MinhashFamilyCrossSpec
    * can compare the two schemes pair for pair, which the 1-row
    * summaries cannot expose.
    */
  def minhashScoredPairs(sigs: DataFrame, numHashes: Int, bands: Int,
                         minSim: Double): DataFrame =
    estJaccard(selfPairs(Xxhash64, sigs, numHashes, bands, minSim),
      numHashes)

  /** [[minhashScoredPairs]] under [[Md5Affine]], over a [[portableSigs]]
    * frame — `(doc_a, doc_b, matches)`. */
  def portableScoredPairs(sigs: DataFrame, numHashes: Int, bands: Int,
                          minSim: Double): DataFrame =
    selfPairs(Md5Affine, sigs, numHashes, bands, minSim)
      .withColumn("matches", col("matches").cast(LongType))

  /** `dedup_minhash_portable` — the ORACLE-CHECKABLE MinHash+LSH
    * variant: [[dedupMinhash]]'s pipeline under [[Md5Affine]], so
    * candidate generation, the agreement count, and the ≥ `minSim`
    * cutoff are all hash-compared against the oracle.
    *
    * The summary emits exact integers (`n_pairs`, `sum_matches`) plus
    * one division for `avg_jaccard` — a single IEEE op on exact
    * integer inputs, bit-identical across engines (never an
    * accumulation-order-dependent float average).
    */
  def dedupMinhashPortable(s: SparkSession, dir: String,
                           numHashes: Int = PortableNumHashes,
                           bands: Int = PortableBands,
                           minSim: Double = PortableMinSim): DataFrame =
    dedupMinhashPortable(Sources.table(s, dir, "documents"),
      numHashes, bands, minSim)

  /** [[dedupMinhashPortable]] over any `(doc_id, text)` relation. */
  def dedupMinhashPortable(docs: DataFrame, numHashes: Int, bands: Int,
                           minSim: Double): DataFrame =
    materialize(dedupMinhashPortablePlan(docs, numHashes, bands, minSim))

  /** The plan [[dedupMinhashPortable]] materializes, and its cache. */
  private[graft] def dedupMinhashPortablePlan(docs: DataFrame,
                                              numHashes: Int, bands: Int,
                                              minSim: Double)
      : (DataFrame, DataFrame) = {
    val (pairs, sigs) = selfPairsPlan(Md5Affine, docs, numHashes, bands,
      minSim)
    val n = count(lit(1))
    (pairs.agg(n.cast(LongType).as("n_pairs"),
      coalesce(sum(col("matches")), lit(0L)).cast(LongType)
        .as("sum_matches"),
      when(n === 0, lit(0.0))
        .otherwise(sum(col("matches")).cast(DoubleType) /
          (n.cast(DoubleType) * numHashes))
        .as("avg_jaccard")), sigs)
  }

  /** `doc_fingerprint_portable` — ORACLE-CHECKABLE min-shingle doc
    * fingerprint ([[graft.ops.TextSim.docFingerprint]]'s shape under
    * the portable hash family): per doc, the minimum affine-permuted
    * md5-60 shingle hash — exactly the first MinHash signature slot —
    * plus the distinct-shingle count. The production fingerprint stays
    * on the in-row `array_min(ShingleHash)` zero-exchange form; this
    * twin trades that for hashes DuckDB recomputes, closing the
    * oracle gap on the fingerprint SEMANTICS (min over the doc's
    * shingle-hash set).
    */
  def docFingerprintPortable(s: SparkSession, dir: String): DataFrame =
    Md5Affine.shingleHashes(Sources.table(s, dir, "documents"))
      .groupBy("doc_id")
      .agg(Md5Affine.slot(0).as("fingerprint"),
        count(lit(1)).cast(LongType).as("n_shingles"))

  /** `dedup_minhash_incr` — ORACLE-CHECKABLE incremental near-dup:
    * a probe batch (`doc_id % 4 == 0`, the "new arrivals") banded
    * against the corpus (every other doc), per-pair agreement counts,
    * ≥ `minSim` cutoff. The incremental shape matters at 100 TB: the
    * corpus side's signatures are computed independently of the probe
    * batch, which is exactly what [[minhashIndexWrite]] /
    * [[minhashIndexProbe]] materialize — this query is the same
    * dataflow with both sides inline (and under [[Md5Affine]]) so
    * DuckDB can verify the probe-vs-corpus join, the agreement
    * arithmetic, and the cutoff end to end, per pair.
    */
  def dedupMinhashIncr(s: SparkSession, dir: String,
                       numHashes: Int = PortableNumHashes,
                       bands: Int = PortableBands,
                       minSim: Double = PortableMinSim): DataFrame =
    materialize(dedupMinhashIncrPlan(Sources.table(s, dir, "documents"),
      numHashes, bands, minSim))

  /** The plan [[dedupMinhashIncr]] materializes, and its cache. */
  private[graft] def dedupMinhashIncrPlan(docs: DataFrame, numHashes: Int,
                                          bands: Int, minSim: Double)
      : (DataFrame, DataFrame) = {
    // ONE signature pass over the whole table, split probe/corpus by a
    // cache filter (r18 fixed-cost pass): a doc's signature is a pure
    // per-doc function, so hashing the two halves separately ran the
    // shingle + md5 + 16-min aggregation pipeline — and carried its
    // whole expression tree through Catalyst — twice for identical
    // per-doc results. The incremental SEMANTICS are unchanged: the
    // probe side still bands against corpus-side signatures only.
    val sigs = signatures(Md5Affine, docs, numHashes, bands)
      .withColumn("is_probe", col("doc_id") % PortableProbeMod === 0)
      .persist(MEMORY_AND_DISK)
    val sigsP = sigs.filter(col("is_probe"))
    val sigsC = sigs.filter(!col("is_probe"))
    val cand = bandCandidates(bandRows(Md5Affine, sigsP, numHashes, bands),
      bandRows(Md5Affine, sigsC, numHashes, bands), "probe_doc",
      "corpus_doc", ordered = false)
    (agreement(cand, sigsP, sigsC, "probe_doc", "corpus_doc", numHashes,
      minSim).withColumn("matches", col("matches").cast(LongType)), sigs)
  }

  /** One-time banded MinHash index over a corpus — the materialized
    * form of [[dedupMinhash]]'s left side, so arriving batches probe
    * WITHOUT recomputing corpus signatures (the per-batch cost the
    * inline formulation pays at every run; at 100 TB the corpus
    * signature pass dominates everything else, and it amortizes to
    * zero here). Same pattern as `Ann.ivfIndexWrite/Probe`.
    *
    * Layout under `path`:
    *  - `bands/` — `(band_hash, doc_id)` partitioned by `band_idx`
    *    (16 self-contained subindexes: bounded file sizes, per-band
    *    rebuild, and partition pruning for schedulers that probe a
    *    band subset);
    *  - `sigs/` — `(doc_id, sig: array<bigint>)` for the
    *    agreement-count verification join.
    *
    * Production ([[Xxhash64]]) scheme, like [[dedupMinhash]] — the
    * index is a scale artifact, not an oracle query; MinhashIndexSpec
    * pins probe results against the inline formulation instead.
    */
  def minhashIndexWrite(s: SparkSession, docs: DataFrame, path: String,
                        numHashes: Int = 64, bands: Int = 16): Unit = {
    val sigs = signatures(Xxhash64, docs, numHashes, bands)
      .persist(MEMORY_AND_DISK)
    // released after both writes, or when one fails
    try {
      bandRows(Xxhash64, sigs, numHashes, bands)
        .write.mode("overwrite").partitionBy("band_idx")
        .parquet(s"$path/bands")
      sigs.write.mode("overwrite").parquet(s"$path/sigs")
    } finally sigs.unpersist(blocking = false)
    import s.implicits._
    Seq((numHashes, bands)).toDF("num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Probe a [[minhashIndexWrite]] index with a batch of new docs:
    * near-dup `(probe_doc, corpus_doc, est_jaccard)` pairs at
    * ≥ `minSim`. Only the BATCH is signature-hashed; the corpus enters
    * as two parquet scans. A small batch's band rows sit under the
    * broadcast threshold, so the candidate join streams the corpus
    * bands map-side — no corpus shuffle at any scale; the follow-up
    * signature joins touch only collision-sized pair sets.
    * `numHashes`/`bands` must match the values the index was written
    * with (checked against the index's `meta/` record — probing with
    * a mismatched family would silently band-collide on nothing).
    */
  def minhashIndexProbe(s: SparkSession, path: String,
                        newDocs: DataFrame, numHashes: Int = 64,
                        bands: Int = 16,
                        minSim: Double = 0.4): DataFrame = {
    val meta = Sources.parquet(s, s"$path/meta")
      .select("num_hashes", "bands").collect()(0)
    require(meta.getInt(0) == numHashes && meta.getInt(1) == bands,
      s"index at $path was written with numHashes=${meta.getInt(0)}, " +
        s"bands=${meta.getInt(1)}; probe asked for $numHashes/$bands")
    val newSigs = signatures(Xxhash64, newDocs, numHashes, bands)
      .persist(MEMORY_AND_DISK)
    // explicit broadcast: the batch band rows are small by contract
    // (a probe batch), but their sizeInBytes ESTIMATE flows from the
    // batch's upstream source through Generate — a filter over a big
    // scan would estimate large, and the planner would silently pick
    // a sort-merge join that shuffles the whole corpus bands table,
    // the exact per-batch cost this index exists to amortize away
    val cand = bandCandidates(
      broadcast(bandRows(Xxhash64, newSigs, numHashes, bands)),
      Sources.parquet(s, s"$path/bands"), "probe_doc", "corpus_doc",
      ordered = false)
    materialize(estJaccard(agreement(cand, newSigs,
      Sources.parquet(s, s"$path/sigs"), "probe_doc", "corpus_doc", numHashes,
      minSim), numHashes), newSigs)
  }

  /** Per-document SimHash `(doc_id, simhash, band0..band3)` from a
    * precomputed hash column `th`: `bits` separate builtin sums of
    * [[graft.functions.Signatures.simhashSign]] votes, positive votes
    * packed into one long in a post-aggregation projection by
    * [[graft.functions.Signatures.simhashPack]] — the vote and packing
    * the SQL `graft_simhash` assembles. Null hashes are filtered out
    * before the vote (a document without one is absent), so the sums
    * carry no null guard: on the nullable portable hashes the SQL
    * surface's guard would not fold away and would change the plan.
    * For `bits = 64`, slot 63's pack term is `1L << 63` =
    * Long.MinValue, so negative xxhash64 values round-trip.
    *
    * The 4-way band split is defined here once (r17 review: three
    * hand-copied shift/mask blocks had to stay consistent with the
    * band join and the oracle): band b holds bits [(3−b)·w, (4−b)·w)
    * (w = bits/4), matching the oracle's `(simhash // 2^((3-b)·w)) %
    * 2^w` arithmetic.
    */
  private def simhashOf(thDf: DataFrame, bits: Int): DataFrame = {
    val th = expression(col("th"))
    val votes = (0 until bits).map(p =>
      column(Sum(Signatures.simhashSign(th, p)).toAggregateExpression())
        .as(s"v$p"))
    val w = bits / 4
    thDf
      .filter(col("th").isNotNull)
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), column(Signatures.simhashPack(
        (0 until bits).map(p => expression(col(s"v$p"))))).as("simhash"))
      .select(col("doc_id") +: col("simhash") +: (0 to 3).map(b =>
        shiftright(col("simhash"), (3 - b) * w).bitwiseAND(lit((1L << w) - 1))
          .as(s"band$b")): _*)
  }

  /** Per-document SimHash over the distinct tokens' `scheme` hashes:
    * bit b of the signature is the sign of Σ_tokens (±1 by bit b of
    * the token hash). One row per distinct token map-side, one vote
    * row per (doc, map task) on the shuffle — see [[simhashOf]].
    * Near-dup candidates share a band (`band0..band3`), the standard
    * Hamming-space blocking.
    */
  private def tokenSimhash(scheme: HashScheme, docs: DataFrame): DataFrame =
    simhashOf(docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), scheme.tokenHash(col("token")).as("th")),
      scheme.simhashBits)

  /** Per-document 64-bit SimHash ([[Xxhash64]] token hashes). */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhash(Sources.table(s, dir, "documents"))

  /** [[simhash]] over any `(doc_id, text)` relation. */
  def simhash(docs: DataFrame): DataFrame = tokenSimhash(Xxhash64, docs)

  /** `dedup_simhash` — the declared-query wrapper around [[simhash]]. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhash(s, dir)

  /** `dedup_simhash_portable` — the ORACLE-CHECKABLE SimHash variant:
    * [[simhash]] under [[Md5Affine]], so the full 60-bit signature AND
    * the 15-bit band split get a hash-compare oracle. Bits 60–63 of
    * the aggregate always vote −1 and pack to 0 (see
    * [[graft.functions.Signatures.simhash]]).
    */
  def dedupSimhashPortable(s: SparkSession, dir: String): DataFrame =
    simhashPortable(Sources.table(s, dir, "documents"))

  /** [[dedupSimhashPortable]] over any `(doc_id, text)` relation. */
  def simhashPortable(docs: DataFrame): DataFrame =
    tokenSimhash(Md5Affine, docs)

  /** Per-document portable SimHash over 3-token SHINGLE hashes —
    * [[simhashPortable]]'s machinery with the feature space swapped.
    * Unigram-SET simhash is degenerate on a bounded-vocabulary corpus
    * (measured: 38k hamming-0 pairs among the 5000 sf0.1 fixture docs,
    * because every doc's distinct-token set covers most of the vocab);
    * shingle features separate real near-dups from noise (16
    * hamming-0 pairs on the same corpus), and hashing features rather
    * than words is the practical SimHash construction (Manku,
    * Jain & Das Sarma 2007, "Detecting near-duplicates for web
    * crawling").
    */
  def simhashShinglePortable(docs: DataFrame): DataFrame =
    simhashOf(Md5Affine.shingleHashes(docs), Md5Affine.simhashBits)

  /** `dedup_simhash_pairs` — ORACLE-CHECKABLE SimHash pair detection:
    * [[simhashShinglePortable]] signatures, candidates from 15-bit
    * band collisions (bucketed, never all-pairs — the [[simhashPairs]]
    * blocking), exact Hamming distance by `bit_count(xor)` with the
    * standard ≤ `maxHamming` cutoff — all re-derived bit for bit by
    * the DuckDB oracle.
    */
  def dedupSimhashPairsPortable(s: SparkSession, dir: String,
                                maxHamming: Int = PortableMaxHamming)
      : DataFrame =
    materialize(dedupSimhashPairsPlan(Sources.table(s, dir, "documents"),
      maxHamming))

  /** The plan [[dedupSimhashPairsPortable]] materializes, and its cache. */
  private[graft] def dedupSimhashPairsPlan(docs: DataFrame, maxHamming: Int)
      : (DataFrame, DataFrame) = {
    // persist: the signature aggregation feeds BOTH sides of the band
    // self-join — same discipline as dedupMinhashPortable's sigs (the
    // r17 posexplode fold in [[simhashBandPairs]] already cut the
    // per-side subplans 4× → 1×; the persist removes the remaining 2×)
    val sh = simhashShinglePortable(docs).persist(MEMORY_AND_DISK)
    (simhashBandPairs(sh, maxHamming), sh)
  }

  /** Band-blocked SimHash pair core shared by the production
    * [[simhashPairs]] and the portable [[dedupSimhashPairsPortable]]
    * (r17 review: the two hand-copied 4-way `unionByName` band
    * explodes could drift, and each embedded the signature
    * aggregation subplan 4× PER JOIN SIDE). One `posexplode` over the
    * band array emits the same (band_idx, band) rows from ONE
    * signature subplan per side; self-join on the bucket, exact
    * Hamming by `bit_count(xor)`, ≤ `maxHamming` cutoff. Identical
    * rows and band_idx numbering (posexplode positions = the old
    * `lit(b)` indices).
    */
  private def simhashBandPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(col("band0"), col("band1"), col("band2"),
        col("band3"))).as(Seq("band_idx", "band")))
    val a = bands.select(col("doc_id").as("doc_a"),
      col("simhash").as("sh_a"), col("band"), col("band_idx"))
    val b = bands.select(col("doc_id").as("doc_b"),
      col("simhash").as("sh_b"), col("band"), col("band_idx"))
    a.join(b, Seq("band", "band_idx"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sh_a ^ sh_b")).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup candidate pairs from simhash band collisions, with exact
    * Hamming distance ≤ `maxHamming`. Join is on the band value —
    * bucketed, not all-pairs.
    */
  def simhashPairs(s: SparkSession, dir: String,
                   maxHamming: Int = 8): DataFrame =
    simhashBandPairs(simhash(s, dir), maxHamming)

  /** `dedup_ngram` — exact Jaccard over *distinctive* 3-token shingles
    * (document frequency ≤ `maxDf`). Candidates come from an inverted
    * index: one groupBy builds the posting list per shingle, the df
    * cutoff drops stop-shingles, and pairs are generated INSIDE each
    * posting list (≤ maxDf²/2 combinations, array ops in codegen) —
    * one shuffle on the shingle, no self-join, fan-out bounded per
    * shingle regardless of corpus size. Materializes eagerly at call
    * time (see the note on [[dedupMinhash]]).
    */
  def dedupNgram(s: SparkSession, dir: String, n: Int = 3,
                 maxDf: Int = DefaultMaxDf,
                 minJaccard: Double = DefaultMinJaccard): DataFrame =
    dedupNgram(Sources.table(s, dir, "documents"), n, maxDf, minJaccard)

  /** [[dedupNgram]] over any `(doc_id, text)` relation. */
  def dedupNgram(docs: DataFrame, n: Int, maxDf: Int,
                 minJaccard: Double): DataFrame = {
    val (pairs, posts) = dedupNgramPlan(docs, n, maxDf, minJaccard)
    // runs the pipeline once (through the posting-list cache); the
    // checkpointed blocks are bounded by the surviving pair count and
    // are released by the ContextCleaner when the returned DataFrame
    // is dropped
    materialize(pairs, posts).orderBy("doc_a", "doc_b")
  }

  /** The un-materialized candidate-pair plan behind [[dedupNgram]]:
    * `(pairs, posts)` where `pairs` is the lazy `(doc_a, doc_b,
    * jaccard)` relation and `posts` is the persisted posting-list
    * cache the plan reads twice. The caller MUST run exactly one
    * action over `pairs` (a checkpoint, or a larger plan embedding
    * it) and then `posts.unpersist()` — exposing the lazy plan lets
    * a consumer fuse its own first materialization with the pair
    * build instead of paying two back-to-back jobs over the same
    * data ([[dedupCluster]] fuses edge symmetrization this way).
    */
  private[graft] def dedupNgramPlan(docs: DataFrame, n: Int,
                                    maxDf: Int, minJaccard: Double)
      : (DataFrame, DataFrame) = {
    // gram identity = its 64-bit shingle hash (sufficient for df
    // cutoff, posting lists and Jaccard counts; the gram string is
    // never needed downstream)
    val grams = shingleHashesOf(docs, n).withColumnRenamed("th", "gram")
    // posting lists, reused by two branches (pair gen + doc sizes):
    // persist so the explode+distinct+groupBy pipeline runs once. The
    // cache is released before returning — the result is materialized
    // through an eager localCheckpoint below, so nothing the caller
    // holds still depends on these blocks.
    val posts = grams.groupBy("gram")
      // collect_SET: posting lists are distinct doc ids (the input
      // shingle stream is not deduplicated)
      .agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= maxDf)
      .persist()
    val sizes = posts.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // pair expansion as two nested explodes: Generate is codegen'd,
    // whereas the `flatten(transform(docs, a -> transform(docs, b ->
    // struct(a, b))))` formulation it replaces ran interpreted (HOFs
    // don't codegen) and allocated a struct per pair — measured ~2×
    // slower on a 1.1M-pair expansion. Fan-out is still bounded by
    // maxDf² per shingle, never N².
    val shared = posts
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    (pairs, posts)
  }

  /** `dedup_containment` — asymmetric containment similarity
    * `C(A,B) = |A∩B| / |A|` over distinctive 3-token shingles: the
    * near-dup measure Jaccard misses. A short document wholly quoted
    * inside a long one has tiny Jaccard (union is dominated by the
    * long doc) but containment ≈ 1 in the short→long direction — the
    * standard detector for quote-inclusion / boilerplate-wrapping in
    * corpus curation. Same inverted-index discipline as [[dedupNgram]]
    * (posting lists + df cutoff, pair work bounded per shingle, never
    * N²); emits both directions' containment and keeps pairs whose
    * max ≥ `minContain`. Materializes eagerly at call time (see the
    * note on [[dedupMinhash]]).
    */
  def dedupContainment(s: SparkSession, dir: String, n: Int = 3,
                       maxDf: Int = DefaultMaxDf,
                       minContain: Double = DefaultMinContain): DataFrame =
    dedupContainment(Sources.table(s, dir, "documents"), n, maxDf,
      minContain)

  /** [[dedupContainment]] over any `(doc_id, text)` relation.
    *
    * Containment denominators count ALL distinct grams per doc (not
    * just distinctive ones) — a doc made of stop-shingles must not
    * inflate to 1.0. That count is computed as
    * `size(array_distinct(shingles))` in the SAME projection that
    * produces the posting stream, and rides the posting shuffle as a
    * struct field next to the doc id, so the denominators arrive
    * with each candidate pair. The r6 form ran the tokenize+shingle
    * stage twice (posting branch + sizes branch), paid a full
    * `(doc_id, gram)` distinct shuffle plus a per-doc aggregate for
    * the sizes, and joined them back onto the pairs twice; this form
    * is one shingle pass, two shuffles (posting groupBy, pair
    * groupBy), zero joins, and needs no persisted intermediate —
    * strictly less data movement at any scale (the extra int per
    * posting row is noise next to the eliminated exchanges).
    * Verified hash-identical at sf0.01 and sf0.1.
    */
  def dedupContainment(docs: DataFrame, n: Int, maxDf: Int,
                       minContain: Double): DataFrame =
    materialize(containmentPairsPlan(docs, n, maxDf, minContain))

  /** The un-materialized candidate-pair plan behind
    * [[dedupContainment]] — exposed (like [[dedupNgramPlan]]) so the
    * plan-shape audit and EXPLAINS.md can see the real pipeline; the
    * public entry point materializes it through an eager
    * `localCheckpoint`, which truncates the returned lineage to a
    * checkpoint scan.
    */
  private[graft] def containmentPairsPlan(docs: DataFrame, n: Int, maxDf: Int,
                                          minContain: Double): DataFrame = {
    // spread the per-token work (see [[shingleHashesOf]]; split-gated)
    val perDoc = Sources.spreadIfNarrow(docs)
      .select(col("doc_id"), array_distinct(graft.functions.VectorFunctions
        .shingle(split(lower(col("text")), "\\s+"), n)).as("grams"))
    val posts = perDoc
      .select(struct(col("doc_id"), size(col("grams")).as("ng")).as("d"),
        explode(col("grams")).as("gram"))
      .groupBy("gram")
      // collect_SET on (doc_id, ng) structs: doc_id is unique, so set
      // semantics match the r6 doc-id set (the posting stream is
      // already distinct per doc via array_distinct)
      .agg(collect_set(col("d")).as("docs"))
      .filter(size(col("docs")) <= maxDf)
    val pairs = posts
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      // na/nb are functionally dependent on the doc ids; grouping on
      // all four keeps them available without an aggregate or join
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ng").as("na"), col("b.ng").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast(DoubleType) / col("na").cast(DoubleType), 4)
          .as("contain_a_in_b"),
        round(col("shared").cast(DoubleType) / col("nb").cast(DoubleType), 4)
          .as("contain_b_in_a"))
      .filter(greatest(col("contain_a_in_b"), col("contain_b_in_a"))
        >= minContain)
    pairs
  }

  /** `decontaminate` — train/eval contamination detection: flag every
    * train-split document sharing a *distinctive* 3-token shingle
    * (document frequency ≤ `maxDf`) with any held-out document, with
    * the shared-shingle count as evidence. The split is the same
    * deterministic md5 rule as `sample_split` (nibble ≥ 'e' ⇒ eval),
    * so the whole check is self-contained and reproducible. Plan
    * shape (r7): the split flag is a pure function of the doc id, so
    * it is computed in the SAME projection that shingles the text
    * (the r6 form joined a label relation back on); per-doc shingle
    * dedup is `array_distinct` in that projection (the r6 form paid a
    * full (doc, shingle) distinct shuffle); and the df cutoff, the
    * any-eval flag, and the per-shingle train-doc lists come out of
    * ONE groupBy on the shingle (the r6 form aggregated, joined back,
    * and persisted the stream to feed both passes). Two shuffles
    * total, no joins, no persisted intermediate — see
    * [[decontaminateSplit]] for the scale bounds.
    */
  def decontaminate(s: SparkSession, dir: String,
                    maxDf: Int = DefaultMaxDf,
                    dfPrePass: Boolean = false): DataFrame =
    decontaminateSplit(Sources.table(s, dir, "documents"),
      Sampling.hexNibble(col("doc_id")) >= "e", maxDf, 3, dfPrePass)

  /** Decontamination against a caller-provided eval set: flag every
    * `train` document sharing a distinctive `n`-token shingle with any
    * `evalSet` document. Both inputs are `(doc_id, text)` relations
    * with ids disjoint across the two sides (they label the union).
    * This is the library entry point — the declared-query variant
    * [[decontaminate]] derives its eval split from the md5 rule so it
    * stays self-contained for the oracle.
    */
  def decontaminateAgainst(train: DataFrame, evalSet: DataFrame,
                           maxDf: Int = DefaultMaxDf, n: Int = 3,
                           dfPrePass: Boolean = false): DataFrame =
    decontaminateSplit(
      train.select(col("doc_id"), col("text"), lit(false).as("is_test"))
        .unionByName(evalSet.select(col("doc_id"), col("text"),
          lit(true).as("is_test"))),
      col("is_test"), maxDf, n, dfPrePass)

  /** Decontamination over ONE labeled `(doc_id, text)` relation, the
    * held-out side marked by the per-row Column `isTest`: one scan,
    * and one per-doc-distinct shingle stream `(doc_id, is_test, th)`.
    * A row whose `isTest` is null still counts toward shingle
    * document frequency but is never flagged. One groupBy on the
    * shingle computes the document frequency, the any-eval flag, AND
    * the train-doc posting list together; exploding the lists of the
    * surviving (distinctive ∧ contaminated) shingles and counting per
    * doc is the whole remaining plan. Two shuffles, zero joins, one
    * pass over the input. Per-group aggregation state: the stream is
    * per-doc-DISTINCT, so each doc contributes at most one element per
    * shingle and a group's list length equals the shingle's df —
    * exactly the state [[dedupNgramPlan]]'s `collect_set` posting
    * build holds for the same shingle before ITS df cutoff. The df
    * filter runs after aggregation in both places, so a stop-shingle
    * present in millions of docs does build a multi-million-element
    * buffer on one executor before being dropped — the accepted trade
    * for a one-shuffle build (the r6 count-then-join form avoided it
    * at the cost of an extra aggregate + join over the full stream).
    *
    * `dfPrePass = true` is the escape hatch for a corpus where that
    * buffer would OOM: a df-only pre-pass (`groupBy(th).count` — a
    * count-agg, constant state per group, map-side combined — filtered
    * to `df <= maxDf` and LEFT-SEMI joined back on the shingle) drops
    * stop-shingles from the stream BEFORE the posting-list build, so
    * no group ever buffers more than `maxDf` ids. It costs one extra
    * aggregate + one semi-join over the shingle stream, and the df
    * recomputed by the main aggregate over the filtered stream equals
    * the pre-pass df for every surviving shingle (the semi-join keeps
    * either ALL of a shingle's rows or none), so output is identical
    * — DecontaminateHatchSpec pins that equivalence over a
    * stop-shingle-heavy SyntheticDocs corpus and the fixture tables.
    * Default off: at bench scale the one-shuffle form wins.
    */
  def decontaminateSplit(docs: DataFrame, isTest: Column,
                         maxDf: Int = DefaultMaxDf, n: Int = 3,
                         dfPrePass: Boolean = false): DataFrame = {
    // spread the per-token work (see [[shingleHashesOf]]; split-gated)
    val gl = Sources.spreadIfNarrow(docs)
      .select(col("doc_id"), isTest.as("is_test"),
        explode(array_distinct(graft.functions.VectorFunctions
          .shingle(split(lower(col("text")), "\\s+"), n))).as("th"))
    val stream =
      if (!dfPrePass) gl
      else {
        val kept = gl.groupBy("th")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf)
          .select("th")
        gl.join(kept, Seq("th"), "left_semi")
      }
    stream.groupBy("th")
      // collect_list skips nulls, so the `when` keeps test docs out of
      // the posting list while df still counts them
      .agg(count(lit(1)).as("df"), bool_or(col("is_test")).as("has_test"),
        collect_list(when(!col("is_test"), col("doc_id"))).as("train_docs"))
      .filter(col("df") <= maxDf && col("has_test"))
      .select(explode(col("train_docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** `dedup_incremental` — new-batch dedup against an existing corpus:
    * the steady-state shape of corpus curation (a new crawl arrives;
    * only docs unseen in the accumulated corpus should survive).
    * Membership in the "new" batch is the deterministic md5-nibble
    * rule (≥ '8' ⇒ new, ~50%), so the query is self-contained and
    * reproducible. The check is [[newVsCorpus]], a left join on the
    * 32-byte content hash — shuffle keyed on the hash, identical to
    * [[TextSim.dedupText]]'s scale shape; the corpus side ships only
    * (hash) after a distinct, never the text. Output: every new doc
    * with its duplicate verdict.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = hashedSplit(Sources.table(s, dir, "documents"))
    newVsCorpus(d, corpusHashes(d)).select(col("doc_id"),
      coalesce(col("in_corpus"), lit(false)).as("dup_of_corpus"))
  }

  /** `dedup_bloom` — the sketch-side scale path for [[dedupIncremental]]:
    * build a Bloom filter over the accumulated corpus's content hashes
    * (driver-side sketch, broadcast to executors) and probe each
    * new-batch document against it — membership without shuffling the
    * corpus. At 100 TB the exact left-join ships the corpus hash set
    * through a shuffle every batch; the Bloom filter is a few hundred
    * MB broadcast once, at the cost of a bounded false-positive rate
    * (never false negatives — every true duplicate is flagged).
    * Output is a 1-row summary: new-batch size, Bloom-flagged count,
    * and the exact duplicate count (so the FP overshoot is visible).
    * NO ORACLE — the sketch is engine-specific; `dedup_incremental` is
    * the exact baseline and the unit spec asserts flagged ⊇ exact.
    *
    * The probe is the codegen'd [[graft.functions.BloomProbe]]
    * expression over the broadcast filter (Spark's own
    * `BloomFilterMightContain` is internal to runtime filtering, so
    * the library carries its own): the probe fuses into whole-stage
    * codegen and `ops/` stays entirely UDF-free.
    */
  def dedupBloom(s: SparkSession, dir: String, fpp: Double = 0.01): DataFrame =
    dedupBloom(s, Sources.table(s, dir, "documents"), fpp)

  /** [[dedupBloom]] over any `(doc_id, text)` relation.
    *
    * Eager (the result is a 1-row summary): builds the filter, runs
    * [[dedupBloomPlan]] over it through `localCheckpoint` and releases
    * the cached sides before returning.
    */
  def dedupBloom(s: SparkSession, docs: DataFrame, fpp: Double): DataFrame =
    dedupBloom(s, docs, fpp, None)

  /** [[dedupBloom]] with a caller-supplied corpus cardinality (r18
    * VERDICT ask #2 — job-count budget): an INCREMENTAL dedup pipeline
    * knows its accumulated corpus size (it is the pipeline's own
    * state), and passing it here removes the sizing `count()` job the
    * default path must run before the filter build. `expectedItems`
    * only shapes the filter's bit count: an overestimate wastes bits
    * proportionally, an underestimate raises the false-positive rate
    * above `fpp` — never correctness (flagged ⊇ exact holds at any
    * size; the summary's exact-dup column makes an overshoot visible).
    */
  def dedupBloom(s: SparkSession, docs: DataFrame, fpp: Double,
                 expectedItems: Option[Long]): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val (d, exact) = bloomSides(docs)
    // the two jobs of the entry point: the distinct corpus-hash count
    // that sizes the filter and the `stat.bloomFilter` build; the
    // broadcast filter must exist before the summary plan can probe it
    val bf = releasingOnFailure(exact, d) {
      exact.stat.bloomFilter("h",
        math.max(expectedItems.getOrElse(exact.count()), 1L), fpp)
    }
    materialize(dedupBloomPlan(d, exact, s.sparkContext.broadcast(bf)),
      exact, d)
  }

  /** The hashed corpus/new split every exact-membership surface
    * shares: `(doc_id, h = sha2-256 of the trimmed lowercased text,
    * is_new = md5-nibble ≥ '8')`. ONE definition so the production
    * plans and the oracle twin can never drift on the hash or the
    * split rule.
    */
  private def hashedSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sha2(trim(lower(col("text"))), 256).as("h"),
      (Sampling.hexNibble(col("doc_id")) >= "8").as("is_new"))

  /** The distinct corpus-side content hashes of a [[hashedSplit]]. */
  private def corpusHashes(d: DataFrame): DataFrame =
    d.filter(!col("is_new")).select("h").distinct()

  /** The exact membership join: every new-batch row of a
    * [[hashedSplit]] left-joined to the distinct `corpus` hashes, with
    * `in_corpus` true on a hit and null otherwise. */
  private def newVsCorpus(d: DataFrame, corpus: DataFrame): DataFrame =
    d.filter(col("is_new"))
      .join(corpus.withColumn("in_corpus", lit(true)), Seq("h"), "left")

  /** `dedup_bloom_portable` — the ORACLE TWIN for [[dedupBloom]]'s
    * semantics (r17 VERDICT #6): per new-arrival document, the EXACT
    * corpus-membership verdict `(doc_id, in_corpus)` — the predicate
    * the broadcast bloom filter approximates (no false negatives;
    * false positives at rate fpp), and DuckDB re-derives every row
    * (`sha256`/`md5` are identical hex in both engines). BloomTwinSpec
    * pins the production summary's `n_exact_dup` to this twin's
    * flagged count, closing the loop: oracle → twin → production.
    */
  def dedupBloomPortable(s: SparkSession, dir: String): DataFrame =
    dedupBloomPortableOn(Sources.table(s, dir, "documents"))

  /** [[dedupBloomPortable]] over any `(doc_id, text)` relation. */
  def dedupBloomPortableOn(docs: DataFrame): DataFrame = {
    val d = hashedSplit(docs)
    newVsCorpus(d, corpusHashes(d)).select(col("doc_id"),
      coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
  }

  /** The sides [[dedupBloom]] reads, both persisted: the hashed split
    * `d` feeds four consumers (distinct count, bloom build, exact join
    * side, probe side) and `exact`, its DISTINCT corpus hashes, sizes
    * and fills the filter (a dedup corpus is full of exact duplicates,
    * which the filter stores once) and is the exact join side.
    */
  private[graft] def bloomSides(docs: DataFrame): (DataFrame, DataFrame) = {
    val d = hashedSplit(docs).persist(MEMORY_AND_DISK)
    (d, corpusHashes(d).persist(MEMORY_AND_DISK))
  }

  /** The summary [[dedupBloom]] materializes over its [[bloomSides]]
    * and broadcast filter `bf`: every new-batch row probed against the
    * filter and left-joined to the exact corpus hashes. Runs no job.
    */
  private[graft] def dedupBloomPlan(d: DataFrame, exact: DataFrame,
      bf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    val probe = graft.functions.VectorFunctions.mightContain(col("h"), bf)
    newVsCorpus(d, exact)
      .agg(count(lit(1)).as("n_new"),
        sum(when(probe, 1L).otherwise(0L))
          .as("n_bloom_flagged"),
        sum(when(col("in_corpus").isNotNull, 1L).otherwise(0L))
          .as("n_exact_dup"))
  }

  /** `dedup_chunk` — span-level exact dedup: cut each document into
    * fixed-stride `chunk`-token windows and report every chunk text
    * appearing in ≥ `minDocs` distinct documents — the cheap form of
    * substring-level dedup (catches shared boilerplate spans inside
    * otherwise-distinct documents, which whole-doc hashing misses).
    * Explode → hash-aggregate on the chunk: shuffle volume ∝ distinct
    * chunks, map-side combined, never pairwise. The per-row chunk
    * builder is a `transform`+`slice` lambda (interpreted, but ~n/20
    * elements per row); the [[graft.functions.ShingleHash]] expression
    * is the codegen template to swap in if this map stage ever
    * dominates at corpus scale.
    */
  def dedupChunk(s: SparkSession, dir: String, chunk: Int = 20,
                 minDocs: Int = 2): DataFrame = {
    require(chunk >= 1, s"chunk must be positive, got $chunk")
    // `words` re-bound as `w` before per-element access — the
    // substitution-safety rule [[graft.ops.TextSim.textRepetition]]
    // documents (a slice per element over a substituted split would
    // re-split per chunk)
    val chunks = expr(
      s"transform(array(words), w ->" +
        s" transform(sequence(0, CAST(ceil(size(w) / $chunk.0) AS INT) - 1)," +
        s" c -> concat_ws(' ', slice(w, c * $chunk + 1, $chunk))))[0]")
    Sources.spreadIfNarrow(Sources.table(s, dir, "documents"))
      // lower() before splitting (r17 review): every other exact-dedup
      // path — [[TextSim.dedupText]], [[scrubSpans]], the shingle
      // family — is case-insensitive; without it "Terms Of Service"
      // and "terms of service" boilerplate spans hashed into different
      // chunk groups and the shared span was silently missed by the
      // op whose purpose is finding it
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("words"))
      .select(col("doc_id"), explode(chunks).as("chunk"))
      .groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** `dedup_cluster` — connected components over the n-gram near-dup
    * candidate pairs: the survivor-selection step that completes a
    * corpus dedup pipeline (candidates → clusters → keep one doc per
    * cluster, e.g. the component-min id). Algorithm and scale notes:
    * [[connectedComponents]].
    *
    * The pair build and the edge symmetrization materialize as ONE
    * job: [[dedupNgramPlan]] hands over the lazy pair plan, and the
    * symmetrize-and-checkpoint pass (the first materialization the
    * CC loop needs anyway) runs it — vs checkpointing pairs and then
    * re-reading them to checkpoint edges. One fewer job and one fewer
    * copy of the pair set, at every scale.
    */
  def dedupCluster(s: SparkSession, dir: String, maxIters: Int = 20): DataFrame =
    dedupCluster(Sources.table(s, dir, "documents"), maxIters)

  /** [[dedupCluster]] over any `(doc_id, text)` relation. */
  def dedupCluster(docs: DataFrame, maxIters: Int): DataFrame = {
    val (pairs, posts) = dedupNgramPlan(docs, 3, DefaultMaxDf,
      DefaultMinJaccard)
    val (edges, edgeCount) =
      try symmetrizeCheckpoint(pairs.select("doc_a", "doc_b"))
      finally posts.unpersist(blocking = false)
    ccOnEdges(edges, edgeCount, maxIters)
  }

  /** Connected components over an arbitrary undirected edge list
    * `(doc_a, doc_b)` — the reusable algorithm behind [[dedupCluster]],
    * exposed so any candidate-pair source (minhash bands, simhash
    * collisions, a user's own edges) can be clustered. Returns one row
    * per non-isolated node: `(doc_id, cluster_id)` where `cluster_id`
    * is the component-wide minimum node id.
    *
    * Min-label propagation: the edge set is symmetrized, labels start
    * at `min(self, direct neighbors)` (the first propagation round
    * fused into initialization), then each round takes the minimum
    * label over neighbors until fixpoint. Each iteration is one
    * equi-join + one hash aggregate on the node key (shuffle-bounded
    * by the edge count, never all-pairs); `localCheckpoint` truncates
    * lineage so plan size stays constant; convergence is detected by
    * counting changed labels via `observe()` INSIDE each round's
    * checkpoint job (labels are monotone non-increasing, so one
    * zero-change round proves the global fixpoint — no extra
    * confirmation round and zero extra jobs, where the r6 label-sum
    * comparison needed one more full round to see the sum repeat).
    * The fixpoint is schedule- and partitioning-independent, so
    * results are deterministic.
    *
    * Iteration shuffles are sized to the graph, not the session: the
    * mandatory symmetrize-and-checkpoint job also `observe()`s the
    * edge count (free), and the per-round joins/aggregates then run
    * at ~64k edges per partition, clamped to the session default.
    * A billion-edge graph keeps full parallelism; the few-hundred-edge
    * tail of a dedup pipeline collapses to single-task rounds instead
    * of paying (session partitions × stages/round) task launches per
    * iteration — the dominant cost of the iterative tail at small
    * scale, and exactly the coalescing AQE would pick shuffle-by-
    * shuffle if it were on. The shuffle-partition conf is set for the
    * duration of the loop and restored in a `finally` (every round
    * materializes inside the window; the returned relation is a
    * checkpoint scan, so nothing escapes planned under the override).
    *
    * Iterations are bounded by component diameter — near-dup clusters
    * are shallow, so this is normally the fastest path; when a
    * pathological graph (diameter > `maxIters`) fails to converge,
    * the computation FALLS BACK to [[connectedComponentsStar]], whose
    * round count is O(log² n) regardless of diameter — the
    * adversarial-input guarantee documented in SCALE.md, now
    * implemented rather than assumed away.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val (edges, edgeCount) = symmetrizeCheckpoint(pairs)
    ccOnEdges(edges, edgeCount, maxIters)
  }

  /** Symmetrize an undirected `(doc_a, doc_b)` edge list and
    * materialize it — the single pass the CC loop iterates over. Each
    * input row explodes to both directions (one Generate over the
    * upstream plan — the upstream runs ONCE, where a
    * union-with-swapped-columns would embed it twice), and the
    * mandatory checkpoint job also `observe()`s the edge count, so
    * graph size is known for free when the loop sizes its shuffles.
    */
  private def symmetrizeCheckpoint(pairs: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("a"), col("doc_b").as("b")),
        struct(col("doc_b").as("a"), col("doc_a").as("b")))).as("e"))
      .select(col("e.a").as("doc_a"), col("e.b").as("doc_b"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint() // bounded pair set; run the upstream pipeline once
    (edges, obs.get("n").asInstanceOf[Long])
  }

  /** Min-label propagation core over checkpointed symmetric edges —
    * see [[connectedComponents]] for the algorithm contract.
    *
    * Shuffle sizing is graph-sized ([[ShuffleWidth.forEdges]]:
    * `edgeCount / 65536 + 1`, capped at the session default) and
    * applied on an ISOLATED child session (r18 VERDICT ask #5):
    * `newSession()` shares the SparkContext and cached blocks but
    * owns its conf, so the loop's partition override
    * can never race a caller's concurrent queries on the shared
    * session. The edges move to the child, and the labels back, with
    * `graftbridge.Replan.onto`: a checkpointed frame's analyzed plan
    * IS its checkpoint's `LogicalRDD`, so the move re-encodes no row,
    * recomputes no lineage, and keeps the origin stats (the loop's
    * joins still plan broadcast) and the checkpoint's partitioning
    * (SCALE.md "Cross-session handoff"). One cached child per caller
    * session ([[SessionIso]]) spares the first-analysis warmup a fresh
    * `newSession()` per call re-paid (+0.3–0.5 s, NOTES_r19 #5).
    * Runtime session confs (timezone, ANSI flags) are copied onto the
    * child so plan semantics cannot drift; immutable/static keys are
    * skipped.
    */
  private def ccOnEdges(edges: DataFrame, edgeCount: Long,
                        maxIters: Int): DataFrame = {
    val sess = edges.sparkSession
    val parts = ShuffleWidth.forEdges(edgeCount, ShuffleWidth.cap(sess))
    // the isolated-child machinery (cached child, conf copy-AND-UNDO,
    // monitor held for the loop so concurrent CC calls serialize
    // their phases) lives in [[SessionIso]]; the chained k-means
    // trainer shares it
    SessionIso.withChild(sess,
      Map("spark.sql.shuffle.partitions" -> parts.toString)) { loopSess =>
      // the labels are the last round's checkpoint, computed at the
      // child's width; moved back, they join parent-session frames
      Replan.onto(sess, ccLoop(Replan.onto(loopSess, edges), maxIters))
    }
  }

  /** The label-propagation rounds themselves, running entirely at the
    * conf of `edges`' own session — [[ccOnEdges]] owns the sizing. */
  private def ccLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    // released at round-1 materialization; the finally covers the
    // exception path so a failed round can't leak the cached blocks
    var initLive: Option[DataFrame] = None
    try {
      // init labels are persisted, not checkpointed: round 1's plan
      // reads them twice (as the label side and inside the neighbor
      // min), and the cache's block-level get-or-compute makes the
      // first round's job materialize them exactly once — one fewer
      // job than a standalone init checkpoint, at every scale. The
      // cache is released as soon as round 1 has materialized.
      val init = edges.groupBy("doc_a")
        .agg(least(col("doc_a"), min(col("doc_b"))).as("label"))
        .select(col("doc_a").as("doc_id"), col("label"))
        .persist()
      initLive = Some(init)
      var labels: DataFrame = init
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val obs = org.apache.spark.sql.Observation()
        val neighborMin = edges.join(labels,
            edges("doc_b") === labels("doc_id"))
          .groupBy(edges("doc_a").as("nbr_of")).agg(min(col("label")).as("nmin"))
        val next = labels.join(neighborMin,
            labels("doc_id") === col("nbr_of"), "left")
          .select(col("doc_id"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nmin"), col("label")))
              .as("label"))
          .observe(obs, coalesce(sum(
              when(col("label") =!= col("old_label"), 1L).otherwise(0L)),
            lit(0L)).as("changed"))
          .select(col("doc_id"), col("label"))
          .localCheckpoint()
        if (iter == 0) { init.unpersist(blocking = false); initLive = None }
        labels = next
        converged = obs.get("changed").asInstanceOf[Long] == 0L
        iter += 1
      }
      if (converged)
        labels.select(col("doc_id"), col("label").as("cluster_id"))
      else
        // diameter > maxIters: switch to the O(log² n)-round algorithm
        // instead of erroring — `edges` is already symmetrized and
        // checkpointed, so the upstream pipeline does not re-run
        connectedComponentsStar(edges)
    } finally {
      // covers maxIters == 0 and any exception before round 1 finishes
      initLive.foreach(_.unpersist(blocking = false))
    }
  }

  /** Connected components via alternating large-star / small-star
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm): converges in O(log² n)
    * rounds REGARDLESS of component diameter, vs label propagation's
    * diameter-bounded iteration count. Same contract as
    * [[connectedComponents]]: one `(doc_id, cluster_id)` row per
    * non-isolated node, cluster id = component minimum.
    *
    * Each round is two join+aggregate passes over the edge set (the
    * exact shuffle shapes label propagation uses — nothing new has to
    * hold in memory):
    *
    *   - **large-star**: every node points its LARGER neighbors at
    *     the minimum of its closed neighborhood — long tails collapse
    *     toward small ids from every node simultaneously;
    *   - **small-star**: every node collapses its smaller-or-equal
    *     neighborhood onto that neighborhood's minimum — local stars
    *     flatten into one level.
    *
    * Both preserve connectivity; the fixpoint is one star per
    * component centered at its minimum node. Convergence is detected
    * by an `observe()`d multiset signature of the edge set (count +
    * two independent 64-bit hash sums in DECIMAL(38,0) — stable
    * signature ⟺ stable edge multiset, with no extra comparison job);
    * every round re-checkpoints, so plan depth stays constant.
    */
  def connectedComponentsStar(pairs: DataFrame,
                              maxRounds: Int = 64): DataFrame = {
    // nodes whose ONLY edges are self-loops would vanish with the
    // self-loop filter below; kept aside and re-added as their own
    // roots at the end so node coverage matches [[connectedComponents]]
    // exactly (same input ⇒ same node set on both code paths)
    val selfLoopNodes = pairs.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("doc_id")).distinct()
    // canonical directed edges: larger id -> smaller id, no self-loops
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    def checkpointWithSig(df: DataFrame)
        : (DataFrame, (Long, java.math.BigDecimal, java.math.BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val out = df.observe(obs,
          count(lit(1)).as("n"),
          coalesce(sum(dec(xxhash64(col("u"), col("v")))), dec(lit(0))).as("h1"),
          coalesce(sum(dec(xxhash64(col("v"), col("u"), lit(7)))), dec(lit(0))).as("h2"))
        .localCheckpoint()
      (out, (obs.get("n").asInstanceOf[Long],
        obs.get("h1").asInstanceOf[java.math.BigDecimal],
        obs.get("h2").asInstanceOf[java.math.BigDecimal]))
    }
    var prevSig: (Long, java.math.BigDecimal, java.math.BigDecimal) = null
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // ---- large-star ----
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val cnMin = sym.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(cnMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct() // (larger nbr -> neighborhood min); u > v invariant holds
      // ---- small-star (input edges all point large -> small) ----
      val nMin = large.groupBy("u").agg(min(col("v")).as("m"))
      val (next, sig) = checkpointWithSig(
        large.join(nMin, "u")
          .select(
            // the edge to the min neighbor rewires to (u, m) — kept as
            // is; every other smaller neighbor v re-points at m
            when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
            col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct())
      edges = next
      converged = prevSig != null && sig == prevSig
      prevSig = sig
      round += 1
    }
    require(converged,
      s"large-star/small-star did not converge in $maxRounds rounds")
    // fixpoint edge set IS the star: (member -> root) for every
    // non-root member; add the root's self-row to match the
    // label-propagation contract, plus self-loop-only nodes (their
    // own roots) that the edge canonicalization dropped
    val star = edges
      .select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"),
        col("v").as("cluster_id")).distinct())
    star.unionByName(
      selfLoopNodes.join(star.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
  }

  /** `dedup_fuzzy` — edit-distance fuzzy matching over the part-name
    * vocabulary: pairs of DISTINCT names within Levenshtein ≤
    * `maxDist`, blocked on the name's first and last tokens. The scale
    * moves that make string fuzzy-matching viable at 100 TB:
    *
    *   1. **Distinct-first.** Edit distance is a property of the
    *      VALUE, not the row — `p_name` draws from a small vocabulary,
    *      so the quadratic stage runs on the distinct set (vocabulary-
    *      sized, corpus-independent) after one map-side-combined
    *      distinct shuffle, never on rows.
    *   2. **Multi-key blocking.** Each name lands in TWO token blocks
    *      (first token, last token); a pair is compared iff some block
    *      matches. Single-key blocking silently loses typos in the key
    *      itself ("red widgit" vs "red widget" differ in the last
    *      token, so a last-token block never compares them); two keys
    *      catch an edit in either token. Pair work is Σ blockᵢ²,
    *      bounded by the largest block, not vocab².
    *   3. **Length-band sub-blocking.** A single high-frequency token
    *      (every "smith ..." in a name corpus) would still make one
    *      quadratic bucket, so each token block is cut by
    *      `⌊len/(maxDist+1)⌋`: names within Levenshtein ≤ maxDist
    *      differ in length by ≤ maxDist < the band width, so matching
    *      names sit in the same or adjacent bands — each name posts
    *      to its own band and band+1, which guarantees every true
    *      pair still shares a key while a hot token's bucket shatters
    *      across the length distribution. (Pairs whose lengths differ
    *      by more than maxDist are pruned before the DP ever runs —
    *      the band is a correct filter, not just a load split.)
    *
    * `a < b` keeps one direction; the pair-level `dropDuplicates`
    * collapses pairs that collide in both blocks. Levenshtein itself
    * is the codegen'd built-in. The same shape scales to trigram
    * blocking for free-text columns where token blocks are too coarse.
    *
    * RECALL CONTRACT (r17 review — the blocking's miss classes,
    * stated precisely; every pure blocking scheme has some): a true
    * ≤ maxDist pair is found iff its first tokens match exactly OR
    * its last tokens match exactly. Missed: pairs whose edits touch
    * BOTH anchor tokens — in particular every single-token pair
    * ("widget" vs "widgit": first == last == the edited token), and
    * multi-token pairs with one edit in the first AND one in the
    * last token. The oracle SQL blocks identically, so the declared
    * query's semantics are exactly this contract; corpora where
    * token-internal typos on short names matter should use q-gram
    * blocking (the trigram note above) or [[dedupNgram]] at small n
    * instead.
    */
  def dedupFuzzy(s: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    dedupFuzzy(
      Sources.table(s, dir, "part").select(col("p_name").as("name")),
      maxDist)

  /** Candidate pairs for [[dedupFuzzy]]: distinct unordered name
    * pairs sharing a `(token, length-band)` blocking key. Split out
    * so the blocking bound is testable independent of the DP stage.
    */
  private[graft] def fuzzyCandidates(names: DataFrame,
                                     maxDist: Int): DataFrame = {
    val toks = split(col("name"), "\\s+")
    // band width maxDist+1 so |len_a - len_b| <= maxDist implies
    // same-or-adjacent bands; posting each name to (band, band+1)
    // makes every true pair collide on at least one key
    val band = floor(length(col("name")) / lit(maxDist + 1))
      .cast(LongType)
    def key(tok: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws("|", tok, b)
    val vocab = names.filter(col("name").isNotNull).distinct()
      .select(col("name"), explode(array_distinct(array(
        key(element_at(toks, 1), band),
        key(element_at(toks, 1), band + 1),
        key(element_at(toks, -1), band),
        key(element_at(toks, -1), band + 1)))).as("block"))
    val a = vocab.select(col("name").as("name_a"), col("block"))
    val b = vocab.select(col("name").as("name_b"), col("block"))
    a.join(b, "block")
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").dropDuplicates("name_a", "name_b")
  }

  /** [[dedupFuzzy]] over any single-string-column relation `(name)`. */
  def dedupFuzzy(names: DataFrame, maxDist: Int): DataFrame =
    fuzzyCandidates(names, maxDist)
      // threshold form: the DP matrix only evaluates the |maxDist|
      // diagonal band and bails out early (returns -1 past the
      // threshold) — O(len·maxDist) per pair instead of O(len²),
      // the dominant cost of the candidate stage
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), maxDist).cast(LongType)
          .as("edit_dist"))
      .filter(col("edit_dist") =!= -1L)

  /** `dedup_survivor` — quality-priority survivor selection over the
    * near-dup clusters of [[dedupCluster]]: instead of the
    * component-min id, each cluster keeps the HIGHEST-QUALITY member
    * (here: max `n_chars`, doc_id ascending as the deterministic
    * tie-break) — the policy production dedup pipelines actually use
    * (keep the longest/cleanest copy, drop the fragments), where
    * min-id keep is only the textbook default. One row per cluster:
    * survivor, member count, and how many docs the policy drops.
    *
    * Cost on top of the cluster build: one join of the cluster
    * assignment against the doc metadata and one grouped argmax —
    * both keyed shuffles on bounded keys. The argmax maximizes
    * (n_chars, −doc_id) as ONE packed decimal,
    * `n_chars·2⁶² − doc_id`, rather than a struct-ordered
    * `max_by`/`max(struct)`: struct aggregation buffers force a
    * SortAggregate that sorts the input (the
    * [[graft.ops.Aggregates.aggMinmaxBy]] lesson), and at corpus
    * scale this input is the whole near-dup population. Decimal max
    * stays a map-side-combined HashAggregate; the id recovers as
    * `max(n_chars)·2⁶² − max(packed)`, exact because the packed
    * argmax carries exactly that n_chars.
    */
  def dedupSurvivor(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupCluster(s, dir) // (doc_id, cluster_id), eager
    val meta = Sources.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    clusters.join(meta, "doc_id")
      .select(col("cluster_id"), col("n_chars"),
        graft.ops.Num.packDesc(col("n_chars").cast(DecimalType(18, 0)),
          col("doc_id"), "dedup_survivor").as("packed"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_chars")).as("survivor_chars"),
        max(col("packed")).as("pmx"))
      .select(col("cluster_id"), col("n_docs"),
        graft.ops.Num.unpackIdDesc(
          col("survivor_chars").cast(DecimalType(18, 0)), col("pmx"))
          .as("survivor_id"),
        col("survivor_chars"), (col("n_docs") - lit(1L)).as("n_dropped"))
  }

  /** `scrub_spans` — corpus-level exact-substring scrub: every
    * occurrence of an `n`-token window that appears at least twice in
    * the corpus, EXCEPT the globally first occurrence (min
    * `(doc_id, position)`), has its `n` token positions dropped from
    * its document; the surviving tokens re-join in order. This is the
    * span-level companion to whole-doc dedup — boilerplate, quoted
    * passages, and template fragments are removed from every copy but
    * one while the distinct remainder of each document survives
    * (reference analog: the corpus generalization of
    * /root/reference/src/etl_2022.py:178's row-level dedup).
    *
    * Shape, not a suffix array: an n-gram inverted index. One
    * aggregate per gram finds the duplicate grams and their first
    * occurrence, a join back on the gram marks the non-first
    * occurrences, `sequence` explodes them into covered positions
    * (≤ n rows per scrubbed occurrence), and the per-doc REMOVAL SET
    * joins back to the words relation where an indexed `filter`
    * lambda drops the covered tokens in one projection. Every shuffle
    * is keyed (gram fingerprint / doc_id) and map-side combined;
    * nothing is pairwise in corpus size. Output is one row per
    * document with the scrub accounting and a hash of the scrubbed
    * text (the full text would dwarf the result at scale).
    *
    * Three representation choices keep the hot path in HashAggregate
    * codegen and off wide rows (1M-doc A/B: 279 → 202 → see
    * SCALE.md for the final number):
    *  - the gram travels as a 128-BIT FINGERPRINT (two independent
    *    xxhash64s of the gram text, computed map-side and shuffled as
    *    two longs) instead of the ~n-word string. Collision odds for
    *    10¹² distinct grams are ~10⁻¹⁵ — below any hardware error
    *    rate; the DuckDB oracle compares exact strings, so a fixture
    *    collision would surface as a hash mismatch.
    *  - the first occurrence is `min(doc_id·2²¹ + p)` — ONE long
    *    aggregate (map-side combined, hash-aggregable) instead of a
    *    struct-min, which Spark can only run as a SortAggregate. The
    *    packing bounds documents at 2²¹ tokens (enforced with
    *    `raise_error`, and far above any sane pre-chunking) and doc
    *    ids at 2⁴² (documented, not checked: id generation at that
    *    volume is itself the bigger problem).
    *  - reassembly never explodes the corpus into tokens: removal
    *    positions aggregate into one bounded array per AFFECTED doc
    *    (absent for the untouched majority), and the surviving text
    *    is rebuilt by an indexed `filter` over the in-row words array
    *    — the 1-token-per-row explode, its corpus-sized anti-join,
    *    and the collect_list re-sort all disappear.
    */
  def scrubSpans(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    scrubSpans(Sources.table(s, dir, "documents"), n)

  /** Max tokens per document under [[scrubSpans]]'s packed
    * first-occurrence key (2²¹; positions at or past it raise, as do
    * doc_ids outside [0, 2⁴²) — both halves of the
    * `shiftleft(doc_id, 21) + p` long are `raise_error`-enforced).
    */
  final val ScrubMaxDocTokens: Int = 1 << 21

  /** [[scrubSpans]] over any `(doc_id, text)` relation. */
  def scrubSpans(docs: DataFrame, n: Int): DataFrame =
    scrubSpansText(docs, n)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        sha2(col("scrubbed_text"), 256).as("scrubbed_hash"))

  /** The scrub with the surviving TEXT in the clear —
    * `(doc_id, n_tokens, n_removed, scrubbed_text)` — for pipeline
    * embedding ([[graft.Pipelines.curationOver]]'s `spanScrub`
    * stage). The declared query keeps only a hash of it: at corpus
    * scale the full text would dwarf the result relation, but a
    * pipeline consuming the scrub in place wants the text, not the
    * digest. Unordered (the caller re-keys or sorts).
    */
  def scrubSpansText(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens, got $n")
    // spread the per-token stages across tasks (single-file corpus =
    // one input split otherwise; split-gated since r22 — a many-split
    // scan passes through with no exchange)
    val words = Sources.spreadIfNarrow(docs)
      .select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("w"))
    // (doc_id, p, fingerprint) occurrences, p 0-based. The gram never
    // exists as a string: [[graft.functions.ShingleHash2]] hashes each
    // token once and emits the two chained fingerprints per window in
    // one tight primitive loop (a short doc yields an empty array —
    // no occurrences, no sequence(0, negative) pitfall).
    val occ = words.select(col("doc_id"), posexplode(
        graft.functions.VectorFunctions.shingle2(col("w"), n))
        .as(Seq("p", "hh")))
      .select(col("doc_id"), col("p"),
        col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        expr(s"IF(p >= $ScrubMaxDocTokens, raise_error(CONCAT(" +
          s"'scrub_spans: document ', doc_id, ' exceeds " +
          s"$ScrubMaxDocTokens tokens — chunk it first')), " +
          s"IF(doc_id < 0 OR doc_id >= ${1L << 42}L, raise_error(CONCAT(" +
          s"'scrub_spans: doc_id out of packable range [0, 2^42): ', " +
          s"doc_id)), shiftleft(doc_id, 21) + p))").as("packed"))
    val dupGrams = occ.groupBy("h1", "h2")
      .agg(count(lit(1)).as("cnt"),
        min(col("packed")).as("first_packed"))
      .filter(col("cnt") >= 2)
    // per-AFFECTED-doc removal set; bounded by the doc's own length
    val removedArr = occ.join(dupGrams, Seq("h1", "h2"))
      .filter(col("packed") =!= col("first_packed"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("rm"))
    words.join(removedArr, Seq("doc_id"), "left")
      // `w0` re-bind (substitution rule) + null-rm fast path: the
      // untouched majority of documents never pays reassembly at all.
      // Affected docs rebuild via array_except over the POSITION
      // list — ArrayExcept hashes its right side, so a doc costs
      // O(len + |rm|), where the earlier per-token
      // `array_contains(rm, i)` scan was O(len·|rm|): quadratic
      // exactly on the pathological fully-duplicated long documents
      // the operator must survive
      .select(col("doc_id"), col("rm"), expr(
        "transform(array(w), w0 -> struct(" +
          "size(w0) AS n_tokens, " +
          "CASE WHEN rm IS NULL THEN concat_ws(' ', w0) " +
          "ELSE concat_ws(' ', transform(" +
          "array_except(sequence(0, size(w0) - 1), rm), " +
          "p -> element_at(w0, p + 1))) END AS kept))[0]").as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").cast(LongType).as("n_tokens"),
        coalesce(size(col("rm")), lit(0)).cast(LongType).as("n_removed"),
        col("r.kept").as("scrubbed_text"))
  }

  /** `dedup_semantic` — SemDeDup-style semantic deduplication
    * (Abbas et al. 2023, arXiv:2303.09540): embedding near-dup at
    * corpus scale via k-means cluster BLOCKING. The exact formulation
    * ([[TextSim.dedupEmbed]]) scores all N² pairs; SemDeDup observes
    * that near-duplicate embeddings land in the same k-means cell, so
    * it clusters first and compares only WITHIN a cell — per the
    * paper, this keeps >99% of true pairs on real corpora while
    * cutting pair work from N² to Σ_c n_c² — where n_c counts
    * DISTINCT vectors: an exact-vector pre-collapse (see the overload)
    * keeps the massive exact-duplicate groups every real dedup corpus
    * contains from turning one cell quadratic.
    *
    * Plan shape: one Lloyd's run ([[Cluster.kmeansCentroids]] — per
    * iteration O(N·k·d) map work + a k·d-row shuffle), one broadcast
    * argmin assignment, then a self-join keyed on `cluster_id` (the
    * ONLY data-sized shuffle) with the codegen'd dot product scoring
    * pairs inside each cell. At 100 TB, k grows with N (SemDeDup used
    * 110k cells for LAION-440M) so cell sizes — and with them the
    * quadratic-in-cell pair work — stay bounded; a runaway cell is
    * the skew risk, mitigated by raising k (the cost of a finer
    * quantizer is linear, the saving quadratic). Recall loss is
    * exactly the cross-cell pairs, measured against the exact
    * formulation in SemanticDedupSpec.
    *
    * Drop policy (deterministic): a vector is dropped iff some
    * SMALLER-id vector in its cell has rounded cosine ≥ `minSim` —
    * the keep-lowest-id greedy the rest of the dedup surface uses
    * (e.g. [[TextSim.dedupText]]); the paper's keep-farthest-from-
    * centroid variant is one `orderBy` swap away and changes nothing
    * structural. Scoring filters on the ROUNDED similarity so the
    * boundary call matches [[TextSim.dedupEmbed]] bit for bit.
    * Zero-norm vectors are always kept — their cosine is undefined,
    * and they are excluded from the pair stage entirely (under ANSI
    * arithmetic the 0/0 division would throw, not NaN; found by the
    * SemanticDedupSpec zero-vector case).
    *
    * Returns `(vec_id, cluster_id, kept)` for every input vector.
    * NO ORACLE (iterative float k-means is not portably
    * SQL-expressible); SemanticDedupSpec proves precision 1 against
    * exact cosine, measures recall vs [[TextSim.dedupEmbed]], and
    * pins determinism.
    */
  def dedupSemantic(s: SparkSession, dir: String, k: Int = 8,
                    iters: Int = 3, minSim: Double = 0.4): DataFrame =
    dedupSemantic(s, Sources.table(s, dir, "embeddings"), k, iters, minSim)

  /** [[dedupSemantic]] over any `(vec_id, embedding)` relation. */
  def dedupSemantic(s: SparkSession, emb: DataFrame, k: Int,
                    iters: Int, minSim: Double): DataFrame =
    dedupSemantic(s, emb, k, iters, minSim, None)

  /** [[dedupSemantic]] with a Lloyd WARM START (r19 job-count pass):
    * a periodic re-dedup over a growing corpus passes the previous
    * round's centroids, skipping the seed-collect job and typically
    * most Lloyd iterations (the bit-exact fixed-point exit stops the
    * loop as soon as the means stabilize). Blocking quality — and so
    * recall — degrades gracefully with a stale warm start; drop
    * decisions stay exact within whatever cells the quantizer forms.
    */
  def dedupSemantic(s: SparkSession, emb: DataFrame, k: Int, iters: Int,
                    minSim: Double,
                    warmStart: Option[Array[Array[Double]]]): DataFrame = {
    // cos(u, u) = 1.0 exactly, so the exact pre-collapse below may
    // assume identical nonzero vectors always pair; a minSim above 1
    // would silently break that assumption
    require(minSim <= 1.0, s"dedupSemantic: minSim must be <= 1, got $minSim")
    // train once on the driver (k×d doubles), assign via ONE broadcast
    // argmin projection — vectors never pair during clustering. The
    // Lloyd train and the assignment share ONE persisted vector
    // relation (r18 fixed-cost pass: the assignment previously
    // re-derived the scan + cast + repartition the train had already
    // paid for); released after the localCheckpoint below, with the
    // rest of the entry point's caches.
    val vecs = Cluster.vectors(emb)
      .persist(MEMORY_AND_DISK)
    val centroids = releasingOnFailure(vecs) {
      Cluster.kmeansCentroidsOn(vecs, k, iters, warmStart)
    }
    val (plan, marked) = dedupSemanticPlan(s, vecs, centroids, k, minSim)
    materialize(plan, marked, vecs)
  }

  /** The `(vec_id, cluster_id, kept)` plan [[dedupSemantic]]
    * materializes over the `(vec_id, v)` relation `vecs` and its trained
    * `centroids`, and the cache it marks. Runs no job.
    */
  private[graft] def dedupSemanticPlan(s: SparkSession, vecs: DataFrame,
                                       centroids: Array[Array[Double]],
                                       k: Int, minSim: Double)
      : (DataFrame, DataFrame) = {
    val nd = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.VectorFunctions.dot(a, b)
    val assigned = Cluster.assignOn(vecs, centroids)
      .withColumn("nrm", sqrt(nd(col("v"), col("v"))))
    // EXACT-VECTOR PRE-COLLAPSE: a real dedup corpus has massive
    // exact-duplicate groups (the whole point of deduping), and every
    // copy lands in the SAME argmin cell — 100k copies of one page
    // would put a 5·10⁹-pair quadratic bucket inside one cell. Group
    // identical vectors via ONE v-keyed window (every row must cross
    // the wire once to meet its copies — a groupBy+join-back would
    // partial-aggregate map-side but then pay a SECOND full-width
    // v-keyed shuffle for the join, strictly more movement; the
    // 100k-copy group lands in one window partition, a linear min
    // scan) and let
    // only the min-id representative of each group into the pairwise
    // stage. Provably the same result: for any pair rule fires on,
    // the group representative is an equally-similar witness with an
    // id no larger (rep = group min), so drop decisions are
    // unchanged; non-representatives drop against their own rep
    // (cos = 1 ≥ minSim). Zero-norm vectors are exempt — their cosine
    // is NaN, which the pairwise rule never drops, so collapsing them
    // would change semantics.
    val grpMin = min(col("vec_id")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("v")))
    // persist: `marked` (k-means assignment + the full-width v-keyed
    // collapse window) feeds FOUR subtrees — both pair-join sides,
    // exactDropped, and the final verdict join. Without the persist
    // each re-runs the assignment and the window (r17 review); the
    // entry point's eager localCheckpoint releases the cache before
    // returning, the file's standard entry-point discipline.
    // `nrm > 0` alone is not the pair-stage health gate: NaN compares
    // GREATER than every double, so a NaN norm passes it AND its NaN
    // cosine passes `>= minSim` — a NaN vector would be silently
    // DROPPED by a comparison that never meant anything (measured).
    // Same finite-positive-norm rule as TextSim.nonZeroNorm.
    val pairable = col("nrm") > 0.0 && !isnan(col("nrm")) &&
      col("nrm") < lit(Double.PositiveInfinity)
    val marked = assigned.withColumn("rep_id",
        when(pairable, grpMin).otherwise(col("vec_id")))
      .persist(MEMORY_AND_DISK)
    // zero-norm (and NaN/Inf-norm) vectors never enter the pair stage
    // at all: their cosine is undefined (0/0 — under ANSI arithmetic
    // the division THROWS, it does not NaN) or meaningless, so they
    // can never satisfy the drop rule; they pass through as kept
    val reps = marked.filter(col("vec_id") === col("rep_id") && pairable)
    val a = reps.select(col("cluster_id"),
      col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = reps.select(col("cluster_id"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    // the blocked self-join: shuffle both sides on cluster_id, score
    // pairs in-cell only; `vec_a < vec_b` halves the pair scan and
    // makes "dropped" well-defined (the larger id of each hot pair).
    // cluster_id has only k distinct values, so the pair scoring
    // would run k-way wherever k < cores — fewKeySaltedJoin spreads
    // it (fan = cores/k; identical plain join once cluster counts
    // grow past core counts, the at-scale setting)
    val pairDropped = Relational.fewKeySaltedJoin(s, a, b,
        Seq("cluster_id"), col("vec_a"), k)
      .filter(col("vec_a") < col("vec_b") &&
        round(nd(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          >= minSim)
      .select(col("vec_b").as("vec_id")).distinct()
    // dropped = non-representatives (their rep is the witness) plus
    // pairwise-dropped representatives
    val exactDropped = marked.filter(col("vec_id") =!= col("rep_id"))
      .select(col("vec_id"))
    // disjoint by construction (pairDropped ⊆ representatives,
    // exactDropped = non-representatives), so plain union-all — a
    // distinct here would be a whole extra shuffle for nothing
    (marked
      .join(pairDropped.union(exactDropped)
        .withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id").cast(LongType),
        coalesce(!col("dup"), lit(true)).as("kept")),
      marked)
  }
}

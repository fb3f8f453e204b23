package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Numeric-determinism helpers (SURVEY.md §7.4.1).
  *
  * Floating-point SUMs are order-dependent: Spark's partial aggregation
  * merges partitions in a nondeterministic order, and the DuckDB oracle
  * sums in its own order, so `sum(double)` can differ in the last bits
  * between the two engines — enough to flip a `round(x, 4)` at a
  * boundary and fail the driver's hash compare.
  *
  * The fix used throughout the engine: cast the addend to an exact
  * DECIMAL first, sum exactly (associative, order-independent in both
  * engines), and cast the final result back to DOUBLE. The decimal is
  * identical on both sides, so the nearest-double conversion is
  * bit-identical. All test-data numerics carry ≤2 decimal digits, so a
  * scale-4/6 decimal is lossless for raw columns and captures products
  * of two/three 2-dp factors exactly.
  *
  * At 100 TB this stays safe: sum(DECIMAL(18,s)) widens to
  * DECIMAL(28,s) in Spark (38 in DuckDB) — room for ~1e10 rows of 1e14
  * magnitude before overflow, and decimal aggregation is codegen'd.
  */
object Num {

  /** Order-independent, engine-portable sum of a double column:
    * `CAST(SUM(CAST(c AS DECIMAL(18,scale))) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact mean: exact decimal sum over count, divided as doubles —
    * bit-identical across engines because both inputs are.
    */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  /** Exact percentiles of one column by distributed SORT + targeted
    * order statistics, bit-identical to the builtin `percentile`
    * aggregate (same `p·(n−1)` position and the same WEIGHTED
    * interpolation `lower·(1−frac) + upper·frac` — NOT the
    * algebraically-equal `lower + (upper−lower)·frac`, whose double
    * rounding differs in the last bit; ExactPercentilesSpec caught
    * exactly that), but ~6× faster on a high-cardinality column:
    * `percentile` builds a boxed value→count map per partial and
    * serializes it to the merge (measured 2.27 s warm for ONE median
    * of sf0.1's 600k-distinct `l_extendedprice`, vs 0.39 s for a full
    * range-partitioned sort of the same column). The sort IS the
    * scale-correct shape — a TeraSort-style range shuffle, no
    * single-partition funnel, and the driver collects only the
    * ≤ 2·|ps| targeted order statistics.
    *
    * Runs 2 jobs at CALL time (r19 job-count pass, down from 4): the
    * sorted relation is persisted, so ONE job both materializes the
    * sort and collects per-partition sizes (whose sum replaces the
    * former standalone `count()` job, and whose prefix sums replace
    * `zipWithIndex`'s separate partition-count pass), and the pick
    * job reads the cache — the former spelling re-executed the whole
    * sort (plus its internal range-boundary sample job) for the
    * second pass. At 100 TB that saves a full re-sort of the column,
    * not just driver latency. The per-partition index walk is the one
    * genuinely per-partition-imperative step (a global order index
    * over a sorted relation has no DataFrame spelling that avoids a
    * one-partition window). Callers embed the returned values as
    * literals, so the big-side transform stays a pure
    * broadcast-free projection.
    */
  def exactPercentiles(df: org.apache.spark.sql.DataFrame, c: String,
                       ps: Seq[Double]): Seq[Double] =
    exactPercentiles(df, c, ps, knownCount = -1L)

  /** [[exactPercentiles]] with the non-null count already known. The
    * count no longer saves a job (the single-sort spelling sizes
    * partitions for free), so the parameter is now a CONSISTENCY CHECK:
    * a caller-supplied count that disagrees with the relation fails
    * loudly instead of silently shifting every order statistic. Pass
    * -1 to skip the check.
    */
  def exactPercentiles(df: org.apache.spark.sql.DataFrame, c: String,
                       ps: Seq[Double], knownCount: Long): Seq[Double] = {
    val vals = df.select(col(c).cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)
    // Persist the sorted relation as the COLUMNAR (InMemoryRelation)
    // cache and run both passes off it via .rdd (r22, guide §5): the
    // former `.rdd.persist` retained one boxed external Row per value
    // for the lifetime of the two jobs — the sf1 probe charged 5.2 s
    // of GC to agg_profile_bound's percentile stages. The columnar
    // cache stores compact batches (primitives, no per-row objects);
    // the two passes decode transiently. Partition order and
    // intra-partition order of the sorted child are preserved by the
    // cache, so every order statistic is unchanged.
    val sortedDf = vals.sort("v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted = sortedDf.rdd
    val (n, picked) = try {
      // job 1: materialize the sorted cache and size every partition —
      // the sum IS the non-null count, the prefix sums are the global
      // offsets zipWithIndex used to compute in a pass of its own
      // count with a Long accumulator, NOT Iterator.size (an Int —
      // a >2^31-row partition would silently overflow and corrupt
      // every prefix offset; r20 ADVICE, and this path is pitched at
      // scales where such partitions are plausible)
      val sizes = sorted
        .mapPartitions({ it =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1L }
          Iterator(n)
        }, true).collect()
      val total = sizes.sum
      require(total > 0, s"exactPercentiles($c): no non-null rows")
      // a stale caller-supplied count would silently shift every order
      // statistic; the true count is now free, so verify instead of trust
      require(knownCount < 0 || knownCount == total,
        s"exactPercentiles($c): knownCount=$knownCount but the relation " +
          s"has $total non-null rows — stale count")
      val offsets = sizes.scanLeft(0L)(_ + _)
      val wanted = ps.flatMap { p =>
        val pos = p * (total - 1)
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }.toSet
      // job 2: targeted pick from the cached sorted partitions
      val m = sorted.mapPartitionsWithIndex { (pi, it) =>
        var i = offsets(pi)
        it.flatMap { r =>
          val idx = i; i += 1
          if (wanted.contains(idx)) Iterator(idx -> r.getDouble(0))
          else Iterator.empty
        }
      }.collect().toMap
      (total, m)
    } finally sortedDf.unpersist(blocking = false)
    ps.map { p =>
      val pos = p * (n - 1)
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      val frac = pos - lo
      // PercentileBase.getPercentile short-circuits to the lower order
      // statistic when the two straddling values are EQUAL (a percentile
      // landing inside a duplicate run); the weighted sum v·(1−frac)+v·frac
      // differs from v in the last bit for some (v, frac) pairs, so the
      // shortcut is required for bit-parity, not just speed.
      if (picked(lo) == picked(hi)) picked(lo)
      else picked(lo) * (1 - frac) + picked(hi) * frac
    }
  }

  // --- Long-units exact sums (r13) ---------------------------------------
  //
  // dsum's aggregation buffer is DECIMAL(28,s) — above the compact-long
  // threshold (precision 18), so EVERY row's add goes through
  // java.math.BigDecimal inside the hash aggregate. For columns whose
  // values are EXACTLY representable at `scale` decimal digits (the
  // fixture's lineitem/events numerics carry ≤2 dp; quantities are
  // integers), the same exact sum is computable as a primitive LONG sum
  // of "units" (value·10^scale), which codegens to one `+` per row.
  // The final units→double conversion goes through DECIMAL
  // multiplication by 10^-scale — NOT division and NOT
  // `long→double / pow10`: Spark's decimal division is exact here but
  // DuckDB's decimal division silently returns DOUBLE (measured: 25% of
  // random 63-bit unit sums differ in the last bit from the correctly
  // rounded value under `CAST(dec/10000 AS DOUBLE)`), while decimal
  // multiplication stays DECIMAL and exact in both engines. The decimal
  // value equals the exact rational sum, so the closing double cast is
  // bit-identical to dsum's.
  //
  // Exactness contract (callers must hold BOTH):
  //  1. every non-null input value is exactly n/10^scale for integer n
  //     (then `v·10^scale` in double arithmetic is within ~1e-4 of n —
  //      far from the .5 rounding boundary — and `units` recovers n
  //      exactly; verified against the fixture columns). ENFORCED
  //      since r14: `units` round-trip-checks every row and raises a
  //      descriptive error on violation — loud, never a silent
  //      misround (UnitSumSpec);
  //  2. the true sum of |units| stays under 2⁶³ (ANSI long-sum overflow
  //     THROWS, so a violation is loud, never silent). At 100 TB:
  //     price-scale cents (≤ ~10⁷ units/row) overflow past ~9·10¹¹ rows
  //     per GROUP — beyond that, fall back to [[dsum]] (exact at any
  //     count) or split the units with [[unitsHi]]/[[unitsLo]], which
  //     buys 2³² more rows. Σ(price²) in 10⁻⁴ units (~10¹⁴/row) needs
  //     the hi/lo split already at ~10⁵ rows/group — agg_corr uses it.

  /** Per-row long units `round(c·10^scale)` (HALF_UP, sign-symmetric —
    * matches BigDecimal HALF_UP away-from-zero for the values the
    * exactness contract admits, where the product never lands near a
    * .5 boundary). Null-preserving.
    *
    * ENFORCED contract (r13 VERDICT #3 — previously documented only,
    * so a >scale-dp input was SILENTLY misrounded): every non-null
    * value must round-trip, i.e. `units/10^scale` must recover the
    * value exactly (the division by an exactly-representable power of
    * ten is correctly rounded, so the check is precise). A violation
    * raises a descriptive error — loud, never silent; callers with a
    * wider column switch to [[lsumWide]] (bigger scale) or [[dsum]].
    * Cost: one extra divide + compare per row inside codegen,
    * measured invisible next to the scan.
    */
  // Magnitude bound: the recovery multiply `v·10^scale` is only
  // guaranteed to round to the right integer while |n| ≲ 2^51 (the
  // double's ulp at n stays under the 0.5 rounding margin); beyond
  // that the guard below RAISES on genuinely in-contract values —
  // loud, with dsum named as the escape (the unguarded r13 code
  // would have silently produced n±1 there). scale ≤ 6 keeps that
  // bound at |v| ≳ 2.2e9 for cent-scale data — far beyond the
  // fixture domains; for wider scales or magnitudes, dsum is the
  // right tool, not longer units.
  def units(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"units scale out of range: $scale")
    val p = lit(math.pow(10, scale))
    val u =
      when(c < 0, -((-c * p + lit(0.5)).cast(org.apache.spark.sql.types.LongType)))
        .otherwise((c * p + lit(0.5)).cast(org.apache.spark.sql.types.LongType))
    when(c.isNull, lit(null).cast(org.apache.spark.sql.types.LongType))
      .when(u.cast(DoubleType) / p === c, u)
      .otherwise(raise_error(concat(
        lit(s"Num.units: value is not exactly representable at $scale " +
          "decimal digits (exact-sum contract; use lsumWide or dsum): "),
        c.cast("string"))))
  }

  /** 10^-scale as an exact decimal literal (DECIMAL(scale,scale)). */
  private def pow10Inv(scale: Int): Column =
    lit(new java.math.BigDecimal(java.math.BigInteger.ONE, scale))

  /** Close a long unit-sum back to the dsum-identical double:
    * `CAST(CAST(s AS DECIMAL(38,0)) · 10^-scale AS DOUBLE)`. The
    * multiply result is DECIMAL(38,scale) and exact (≤ 19+scale
    * digits), so the double cast is the correctly rounded conversion
    * of the exact rational sum — the same value dsum produces.
    */
  def fromUnits(sumUnits: Column, scale: Int): Column =
    (sumUnits.cast(DecimalType(38, 0)) * pow10Inv(scale)).cast(DoubleType)

  /** Order-independent exact sum via long units: bit-identical to
    * `dsum(c, scale')` for any sufficient scale', ~codegen-primitive
    * instead of per-row BigDecimal. See the exactness contract above.
    */
  def lsum(c: Column, scale: Int): Column =
    fromUnits(sum(units(c, scale)), scale)

  /** Exact mean via long units — bit-identical to [[davg]]. */
  def lavg(c: Column, scale: Int): Column =
    lsum(c, scale) / count(c)

  /** Split accumulator for unit values too large for a plain long sum
    * (e.g. squared price cents ~10¹⁴/row): sum `unitsHi` and `unitsLo`
    * separately (each a primitive long sum with 2³² more headroom) and
    * recombine exactly with [[fromUnitsHiLo]]. Works for any sign:
    * `u = (u >> 32)·2³² + (u & 0xFFFFFFFF)` is a bit identity under
    * the ARITHMETIC shift, so the per-row split and the linear sums
    * recombine exactly for negative units too.
    */
  def unitsHi(u: Column, bits: Int = 32): Column = shiftright(u, bits)

  /** Low `bits` bits of a unit value (always in [0, 2^bits)) — see
    * [[unitsHi]].
    *
    * Split-point choice (r17 ADVICE on [[graft.ops.Aggregates]]'s
    * grouping-set pre-aggregate): the sum headroom of the split is
    * `2⁶³ / max(2^bits, u_max / 2^bits)` rows per group, maximized
    * when the two halves BALANCE at `bits ≈ log₂(u_max)/2` — the
    * default 32 only pays off for units near the 2⁵¹ magnitude bound,
    * and is provably dead weight for cent-scale money (hi ≡ 0, Σlo =
    * Σu, identical overflow bound to the plain sum — the r17 review's
    * observation). A 14-bit split of ≤ 2²⁸-unit money (prices to
    * ~$2.7M at 2 dp) bounds BOTH half-sums by n·2¹⁴, i.e. exactness
    * by construction to ~5.6·10¹⁴ rows per group (~50 PB of rows) —
    * past any 100 TB corpus slice. No runtime guard is needed for the
    * bits choice itself: `u = (u >> b)·2^b + (u & (2^b−1))` is a bit
    * identity at any magnitude or sign, every sum is exact or raises
    * (ANSI), so a mis-sized split can only shrink headroom, never
    * misround.
    */
  def unitsLo(u: Column, bits: Int = 32): Column =
    u.bitwiseAND(lit((1L << bits) - 1))

  /** General exact sum for any decimal scale ≤ 6 (r13 VERDICT #6):
    * the hi/lo split rides two primitive long sums, buying 2³² more
    * rows of headroom than [[lsum]] at the same per-row cost class —
    * the drop-in when the column is wider than 2 dp (where a
    * scale-2 contract raises) or the group row counts outgrow lsum's
    * overflow bound. Bit-identical to `dsum(c, scale)` (same exact
    * rational, same closing double cast); the round-trip guard in
    * [[units]] still applies, so a value wider than `scale` — or past
    * the ~2^51-unit magnitude bound documented there — raises rather
    * than misrounds. Columns needing > 6 dp use [[dsum]].
    */
  def lsumWide(c: Column, scale: Int): Column = {
    val u = units(c, scale)
    fromUnitsHiLo(sum(unitsHi(u)), sum(unitsLo(u)), scale)
  }

  /** [[lsum]] as a window aggregate: exact sum over the frame via one
    * primitive long window sum, bit-identical to
    * `sum(CAST(c AS DECIMAL(18,scale))).over(w).cast(double)` (same
    * exact rational, same closing cast) without the per-row decimal
    * buffer. Overflow bound is per FRAME, not per corpus: cent-scale
    * values overflow past ~9·10¹¹ frame rows, and window partitions
    * here are per-entity (a customer's orders, a user's events) —
    * bounded by entity activity at any corpus size. ANSI long-sum
    * overflow THROWS, so a violation is loud; a corpus-keyed frame
    * would use two hi/lo window sums instead (see [[lsumWide]]).
    */
  def lsumOver(c: Column, scale: Int, w: WindowSpec): Column =
    fromUnits(sum(units(c, scale)).over(w), scale)

  /** Recombine hi/lo unit sums: `(Σhi·2³² + Σlo)·10^-scale` as the
    * correctly rounded double — all decimal arithmetic exact
    * (≤ 19+10+scale digits inside DECIMAL(38,scale)).
    */
  def fromUnitsHiLo(sumHi: Column, sumLo: Column, scale: Int,
                    bits: Int = 32): Column =
    ((sumHi.cast(DecimalType(38, 0)) * lit(1L << bits) +
      sumLo.cast(DecimalType(38, 0))) * pow10Inv(scale)).cast(DoubleType)

  // --- Packed lexicographic argmax/argmin -------------------------------
  //
  // min/max over a STRUCT (or any var-length) aggregation buffer can
  // only plan as a SortAggregate — both partials sort their full input
  // by the group keys. Packing the (rank, id) pair into ONE
  // DECIMAL(38,0) keeps a first/best-per-group cut in an ordinary
  // map-side-combined HashAggregate. Shared here because the idiom
  // appeared in four operators and immediately drifted (one site got
  // the unsigned shift wrong, two sites dropped the range guard):
  // the ordering proof and the guards live in exactly one place now.
  //
  // Contract: `rank` is a NON-NEGATIVE decimal with
  // rank ≤ 21684043449710088679 = ⌊(10³⁸ − 2⁶²)/2⁶²⌋ (then
  // rank·2⁶² + (2⁶² − 1) < 10³⁸, so the packed value stays exact in
  // DECIMAL(38,0); the bound admits a full unsigned-64-bit rank,
  // 2⁶⁴ < 2.168·10¹⁹ — the graft_dbits caller needs exactly that).
  // Both rank and id are guarded at runtime with `raise_error`:
  // `id` into [0, 2^62), `rank` into [0, that bound].
  // packAsc orders by (rank asc, id asc); packDesc by (rank asc,
  // id DESC) — i.e. max(packDesc) is the argmax by (rank, -id),
  // the "largest rank, smallest id" tie-break.

  /** 2^62 as a decimal literal — the id field width of the packing. */
  val packShiftSql: String = "CAST('4611686018427387904' AS DECIMAL(19,0))"

  private val packShift = expr(packShiftSql)

  private def guardedId(id: Column, ctx: String): Column =
    when(id < 0 || id >= lit(1L << 62),
      raise_error(concat(lit(s"$ctx: id out of packable range [0, 2^62): "),
        id.cast("string"))))
      .otherwise(id)

  /** ⌊(10³⁸ − 2⁶²)/2⁶²⌋ — the largest rank whose packing is provably
    * exact in DECIMAL(38,0) for every legal id.
    */
  val packMaxRankSql: String =
    "CAST('21684043449710088679' AS DECIMAL(20,0))"

  private val packMaxRank = expr(packMaxRankSql)

  private def guardedRank(rank: Column, ctx: String): Column =
    when(rank < 0 || rank > packMaxRank,
      raise_error(concat(
        lit(s"$ctx: rank out of packable range [0, (10^38-2^62)/2^62]: "),
        rank.cast("string"))))
      .otherwise(rank)

  /** `rank·2⁶² + id` — min/max ranks by (rank, id) lexicographic. */
  def packAsc(rank: Column, id: Column, ctx: String): Column =
    guardedRank(rank, ctx) * packShift +
      guardedId(id, ctx).cast(DecimalType(19, 0))

  /** `rank·2⁶² − id` — max ranks by (rank, −id): largest rank wins,
    * ties break to the SMALLEST id.
    */
  def packDesc(rank: Column, id: Column, ctx: String): Column =
    guardedRank(rank, ctx) * packShift -
      guardedId(id, ctx).cast(DecimalType(19, 0))

  /** Recover the id from a [[packAsc]] value (requires rank ≥ 0, so
    * the packed value is non-negative and `%` is a true modulus).
    */
  def unpackIdAsc(packed: Column): Column =
    (packed % packShift).cast(org.apache.spark.sql.types.LongType)

  /** Recover the id from a [[packDesc]] value given the group's
    * max rank (exact: the packed argmax carries exactly that rank).
    */
  def unpackIdDesc(maxRank: Column, packedMax: Column): Column =
    (maxRank * packShift - packedMax)
      .cast(org.apache.spark.sql.types.LongType)

  // --- Sampled brackets (r14) --------------------------------------------
  //
  // A `percentile_approx` (GK) bracket probe is a TypedImperativeAggregate,
  // and ONE such function in a fused aggregate demotes the whole pass to
  // ObjectHashAggregateExec — no whole-stage codegen for any of the
  // caller's other metrics (measured at sf0.1: the 15-metric profile fit
  // runs 0.23 s codegen'd vs 0.72 s with the GK probe + two builtin
  // percentiles aboard). The sampled path keeps every scan codegen'd:
  //
  //   job A  fixed-seed Bernoulli sample of the column(s), collected and
  //          sorted driver-side; brackets = sample order statistics at
  //          rank p·m ∓ 2.5·√m (≈5σ of the sample quantile's true-rank
  //          deviation n·√(p(1−p)/m) — miss probability ~3e-7/side, and
  //          a miss only costs a fallback job, never correctness);
  //   job B  the caller's OWN fused aggregate (fully codegen) carrying
  //          [[refineCountAggs]]' four conditional sums per percentile;
  //   job C  [[percentileFromWindow]] over the strict interior, collected
  //          only for brackets whose `inwin` count is non-zero and under
  //          [[maxInterior]] (the count is known BEFORE collecting).
  //
  // Scale note: the interior grows as ~5n/√m, so a fixed driver-side
  // sample stops being collectable around n ≈ maxInterior·√m/5; past
  // that the caller falls back to [[exactPercentiles]] (range-partitioned
  // sort, no driver funnel).

  /** Interior-collect cap for the sampled-bracket path: past this the
    * caller must fall back to the sort path.
    */
  val maxInterior: Long = 2000000L

  /** Driver-side cap on the bracket sample collect: `fraction·n` rows
    * land on the driver, so at corpus scales the CALLER must shrink
    * `fraction` (≈ 10⁶/n); the guard below turns an OOM-in-waiting
    * into a descriptive error.
    */
  val maxBracketSample: Int = 4000000

  /** Sampled percentile brackets for several columns in ONE codegen'd
    * job, keyed by an integer group column (e.g. the profile-drift
    * snapshot half; `None` puts every row in group 0): per (group,
    * column), the (lo, hi) values guaranteed (up to the ~5σ sample
    * bound; violations are caught by the refine counts, not trusted)
    * to straddle percentile p. Columns with no non-null sampled rows
    * are absent from the result.
    */
  def sampleBracketsGrouped(df: org.apache.spark.sql.DataFrame,
                            groupCol: Option[Column], cols: Seq[String],
                            p: Double, fraction: Double = 0.02,
                            seed: Long = 42L,
                            cap: Int = maxBracketSample)
      : Map[(Int, String), (Double, Double)] = {
    val sel = groupCol.getOrElse(lit(0)).cast("int").as("g") +:
      cols.map(c => col(c).cast(DoubleType).as(c))
    // limit(cap + 1): when the sample fits the cap this returns every
    // sampled row (deterministic); when it does not, AUTO-SHRINK the
    // fraction (÷64, up to three times — covers n up to ~5e16 rows at
    // the default 2%) instead of collecting fraction·n rows at 100 TB.
    // A shrunk sample just widens the brackets; exactness never rests
    // on it (the caller's refine counts verify, misses fall back).
    var f = fraction
    var rows = Array.empty[org.apache.spark.sql.Row]
    var attempts = 0
    while ({
      rows = df.select(sel: _*).sample(f, seed)
        .limit(cap + 1).collect()
      attempts += 1
      rows.length > cap && attempts < 4
    }) f /= 64
    require(rows.length <= cap,
      s"sampleBracketsGrouped: ${rows.length} sampled rows exceed the driver " +
        s"cap $cap even at fraction $f — pass a smaller " +
        s"`fraction` (target ~$cap rows)")
    // getInt on a NULL key silently reads 0 and would merge the null
    // group into group 0 — reject loudly instead (current callers'
    // keys are non-null by construction; this guards future ones)
    require(rows.forall(!_.isNullAt(0)),
      "sampleBracketsGrouped: NULL group key in sample — filter or coalesce " +
        "the group column before fitting")
    (for {
      g <- rows.map(_.getInt(0)).distinct
      (c, i) <- cols.zipWithIndex
    } yield {
      val vs = rows.iterator
        .filter(r => r.getInt(0) == g && !r.isNullAt(i + 1))
        .map(_.getDouble(i + 1)).toArray
      java.util.Arrays.sort(vs)
      if (vs.isEmpty) None
      else {
        val m = vs.length
        val idx = (p * (m - 1)).toInt
        val delta = math.ceil(2.5 * math.sqrt(m.toDouble)).toInt
        Some((g, c) ->
          (vs(math.max(0, idx - delta)), vs(math.min(m - 1, idx + delta))))
      }
    }).flatten.toMap
  }

  /** Pre-counted exact-percentile input for a bounded-domain
    * fixed-scale column: group by the EXACT integer units (a
    * codegen'd hash aggregate — the pass over the data never touches
    * a TypedImperativeAggregate) and hand back `(__v, __cnt)` rows,
    * one per distinct value. A caller then runs the builtin
    * FREQUENCY-WEIGHTED `percentile(__v, p, __cnt)` over the distinct
    * values — the builtin's buffer IS a value→count map, so feeding
    * it the counted multiset builds the identical state from
    * |domain| rows instead of n, with bit-identical results by
    * construction (same multiset, same interpolation). `__v`
    * round-trips exactly (`fromUnits` of the guarded [[units]]), and
    * the [[units]] contract check makes a wider-than-scale value
    * fail loudly rather than mis-bucket. Shuffle rows = distinct
    * values (domain-bounded at any corpus size); the builtin's map
    * is the same size either way — the saving is n − |domain| hash
    * updates through the interpreted aggregate path.
    */
  def countedValues(df: org.apache.spark.sql.DataFrame, c: Column,
                    scale: Int): org.apache.spark.sql.DataFrame =
    df.filter(c.isNotNull)
      .select(units(c, scale).as("__u"))
      .groupBy("__u").agg(count(lit(1)).as("__cnt"))
      .select(fromUnits(col("__u"), scale).as("__v"), col("__cnt"))

  /** The four codegen'd conditional sums a caller embeds in its own
    * fused aggregate to refine a bracket exactly: rows below / equal-lo
    * / equal-hi / strictly-inside. `blo`/`bhi` may be any scalar
    * expressions (literals, or a CASE over a group column for grouped
    * fits). Nulls contribute to no bucket. The single authoritative
    * builder — profileOf and profileDriftQuery both reduce to this
    * shape (r13 ADVICE: the hand-duplicated copies could drift).
    */
  def refineCountAggs(v: Column, blo: Column, bhi: Column,
                      tag: String): Seq[Column] = Seq(
    sum(when(v < blo, 1L).otherwise(0L)).as(s"below_$tag"),
    sum(when(v === blo, 1L).otherwise(0L)).as(s"eqlo_$tag"),
    sum(when(v === bhi && bhi =!= blo, 1L).otherwise(0L)).as(s"eqhi_$tag"),
    sum(when(v > blo && v < bhi, 1L).otherwise(0L)).as(s"inwin_$tag"))

  /** Driver-side reconstruction step of the sampled-bracket path
    * (`Aggregates.profileFit`, behind profileOf and profile drift):
    * given the bracket's below/equal-edge counts and sorted interior,
    * return the exact percentile (builtin interpolation + equal-value
    * shortcut), or None if either straddling order statistic falls
    * outside the bracket (caller falls back to the sort path).
    */
  def percentileFromWindow(n: Long, p: Double, below: Long, eqLo: Long,
                           eqHi: Long, win: Seq[Double], blo: Double,
                           bhi: Double): Option[Double] = {
    val pos = p * (n - 1)
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val frac = pos - lo
    // order statistic at global index idx, if inside the bracket
    def pick(idx: Long): Option[Double] = {
      val r = idx - below
      if (r < 0) None
      else if (r < eqLo) Some(blo)
      else if (r - eqLo < win.length) Some(win((r - eqLo).toInt))
      else if (r - eqLo - win.length < eqHi) Some(bhi)
      else None
    }
    (pick(lo), pick(hi)) match {
      case (Some(vLo), Some(vHi)) =>
        Some(if (vLo == vHi) vLo else vLo * (1 - frac) + vHi * frac)
      case _ => None
    }
  }
}

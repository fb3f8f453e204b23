package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place graft decides shuffle width. The session's
  * `spark.sql.shuffle.partitions` is the CAP (a deployment sizes it
  * to its largest shuffles; the bench session runs 8); each operator
  * whose shuffles are sized by something it knows narrows its width
  * under that cap, on the caller's [[SessionIso]] child so the
  * caller's conf never moves. Each narrowing rule divides a size by
  * its measured unit and clamps the result to [1, cap]:
  *
  *  - [[forEdges]]: the CC loop, 65,536 symmetric edges per partition
  *    (`NearDup.ccOnEdges`, NOTES_r19 #5);
  *  - [[forCentroids]]: the chained k-means train, 64 centroids per
  *    partition (≈ k·d/65,536 at d≈1024, the CC rule in matrix slots;
  *    `Cluster.chainedCentroids`);
  *  - [[forInputBytes]]: the eager pipelines (`Pipelines.curationOver`,
  *    `Pipelines.quality2022`), [[BytesPerPartition]] of input
  *    relation per partition.
  *
  * One rule widens instead: [[forSaltedJoin]], the salted exchange
  * of `Relational.fewKeySaltedJoin`, never narrower than the cores
  * its salt exists to fill.
  *
  * The eager pipelines' child carries a second measured rule,
  * [[InterpretBelowBytes]]: below it, and only while the JVM's codegen
  * cache is Spark's default size, they run [[Interpreted]] — on inputs
  * that small, compiling their ~120 generated classes per call costs
  * more than the compiled code saves.
  */
private[graft] object ShuffleWidth {

  /** Input bytes per shuffle partition for the eager pipelines (T),
    * against the input relation's `optimizedPlan.stats.sizeInBytes`
    * (file bytes for a parquet or CSV scan).
    *
    * Measured with `curationOver` over `graft-docs` corpora (seed 7,
    * default vocabulary and length) written to 4 parquet files,
    * `local[4]`, AQE off, the whole call forced to width w. Wall
    * seconds per call, process CPU seconds in brackets; medians of 5
    * calls (3 for 0.44 and 6.85 MB), the widths interleaved in one
    * warmed JVM:
    *
    * {{{
    *  docs    MB    w=1          w=2          w=4          w=8
    *   2,000  0.44   3.20 ( 7.3)  3.02 ( 7.7)  3.07 ( 8.0)  3.88 (10.4)
    *   4,000  0.87   4.47 ( 9.8)  3.99 (10.2)  3.84 (10.6)  4.28 (11.6)
    *   8,000  1.72   6.73 (15.2)  6.77 (17.5)  6.17 (18.3)  6.71 (20.0)
    *  16,000  3.44  12.18 (26.5)  8.86 (26.5)  8.25 (26.8)  8.60 (28.9)
    *  32,000  6.85  20.52 (47.4) 16.28 (49.7) 14.16 (50.7) 15.42 (53.6)
    * }}}
    *
    * Narrower costs the same CPU or less (fewer tasks, each
    * deserializing its stage), but below the core count it also runs
    * the post-shuffle stages on fewer cores: width 1 keeps pace with 8
    * in wall time to ~1 MB, is level to 10 % behind at 1.7 MB and
    * loses 42 % at 3.4 MB. T = 1 MiB picks 1, 1, 2, 4 and 7 (next to
    * the cap) down the table: never slower than w=8 beyond the calls'
    * spread (+4 % at 0.87 MB, +1 % at 1.7 MB), 7–30 % less CPU below
    * 4 MB. Rejected: 2 MiB, whose width 1 at 1.7 MB ran 5 % and 26 %
    * slower than the parent code in two alternating before/after
    * rounds, and 8 MB, whose width 1 at 6.85 MB runs 33 % slower.
    *
    * Before and after at the session cap 8 (parent code at 8, this
    * rule at 1 MiB), one JVM per side, two alternating rounds, wall
    * seconds: 0.44 MB 4.20/4.07 → 5.07/3.99; 0.87 MB 4.82/4.72 →
    * 5.56/5.12; 1.72 MB 5.83/6.32 → 6.41/6.30; 3.44 MB 8.79/10.18 →
    * 8.18/9.20; 6.85 MB 14.27/14.40 → 14.79/14.89; 8.57 MB (width 8
    * on both sides) 19.49/15.97 → 16.69/18.74. The last row is the
    * cross-JVM spread; CPU and the full table are in SCALE.md
    * ("Shuffle width: one helper"). */
  val BytesPerPartition: Long = 1L << 20

  /** Input bytes below which the eager pipelines run [[Interpreted]]
    * (see [[atInputWidth]]), against the same size estimate as
    * [[BytesPerPartition]], while the JVM's codegen cache holds at
    * most [[InterpretMaxCacheEntries]] entries.
    *
    * Measured with the verdict forced each way ([[forcingInterpret]])
    * over the same inputs, `local[4]`, width cap 8, AQE off, one JVM
    * per cache size (`spark.sql.codegen.cache.maxEntries`):
    * `curationOver` over `graft-docs` corpora (seed 7, 4 parquet
    * files) and `quality2022` over one-file users drops (perfbench's
    * row mix). One warm-up call each way, then alternating pairs (3;
    * 5 for `quality2022` and the second `curationOver` JVM at 100).
    * Application-thread CPU seconds per call (the bench's metric),
    * median, interpreted / codegen:
    *
    * {{{
    *  curationOver
    *    MB    cache 100               cache 250     cache 1000
    *   0.11   1.70 /  2.94            1.66 / 1.60   2.10 /  2.04
    *   0.25   2.24 /  3.13            2.32 / 1.93   2.39 /  2.05
    *   0.50   3.39 /  3.86            4.04 / 2.90   3.65 /  3.28
    *   0.61   3.88 /  4.40
    *   0.72   4.63 /  4.88
    *   0.83   4.80 /  4.77   5.64 / 5.24
    *   0.90   5.10 /  5.25   5.40 / 5.60
    *   0.99   5.48 /  4.77   5.11 / 5.07   6.58 / 5.15   6.51 /  4.55
    *   1.10                  6.65 / 6.27
    *   1.96  10.48 /  9.20                          10.41 /  8.05
    *   3.89  20.30 / 17.93                          18.45 / 14.00
    *   7.76  41.82 / 33.56                          35.56 / 26.84
    *
    *  quality2022
    *    MB    cache 100, alone   cache 100, evicted   cache 1000
    *   0.09   0.33 / 0.37        0.36 / 0.69          0.34 / 0.42
    *   0.24   0.33 / 0.32        0.43 / 0.66          0.37 / 0.34
    *   0.48   0.39 / 0.34        0.54 / 0.79          0.44 / 0.39
    *   0.97   0.65 / 0.50        0.70 / 0.84          0.60 / 0.51
    *   1.96   0.97 / 0.74        1.15 / 1.31          1.08 / 0.80
    *   3.95   1.77 / 1.26        2.35 / 2.20          1.89 / 1.38
    *   8.00   3.23 / 2.09        4.86 / 4.60          3.68 / 2.69
    * }}}
    *
    * At cache 100 a warm codegen `curationOver` compiled 96–128
    * classes, an interpreted one 0–7; at 250 and 1000 both compiled
    * none. The second cache-100 column is a second JVM (±15 % call
    * spread). `quality2022` "evicted" runs a codegen `curationOver`
    * (450 docs) before each call, as in any JVM that also runs it:
    * codegen then compiles 38–40 classes a call, interpreted 4;
    * "alone" keeps its ~40 classes cached (1 compile a call).
    *
    * Interpreting wins while compiles outweigh data work.
    * `curationOver`, whose classes overflow the default cache on their
    * own, is no worse interpreted beyond the calls' spread through
    * 0.90 MB in both JVMs, and 15 % worse at 0.99 MB in one of them;
    * T = 900 KiB (0.92 MB) sits between. Wall time agrees: interpreted
    * was at or below codegen through 1.96 MB. `quality2022` evicted
    * wins interpreted to ~2 MB; alone, codegen wins from 0.48 MB, so
    * there the rule costs up to ~0.05 s a call between 0.48 MB and T.
    * At caches of 250 and 1000 codegen is no worse at any size and
    * 10–30 % cheaper from 0.25 MB, hence [[InterpretMaxCacheEntries]].
    */
  val InterpretBelowBytes: Long = 900L << 10

  /** The largest codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * a static conf fixed per JVM) under which [[InterpretBelowBytes]]
    * applies: measured at Spark's default 100, where one
    * `curationOver` call's ~108 entries evict each other; at 250 and
    * 1000 (the sweep above) cached codegen is no worse at any size.
    * Sizes between 100 and 250 are unmeasured and keep codegen. */
  val InterpretMaxCacheEntries: Int = 100

  private def clamp(w: BigInt, cap: Int): Int =
    w.max(BigInt(1)).min(BigInt(math.max(1, cap))).toInt

  /** The CC loop's width: 65,536 symmetric edges per partition. */
  def forEdges(edgeCount: Long, cap: Int): Int =
    clamp(BigInt(edgeCount / 65536 + 1), cap)

  /** The chained k-means train's width: 64 centroids per partition. */
  def forCentroids(k: Int, cap: Int): Int = clamp(BigInt(k / 64 + 1), cap)

  /** An eager pipeline's width: ⌈bytes / [[BytesPerPartition]]⌉. */
  def forInputBytes(bytes: BigInt, cap: Int): Int =
    clamp((bytes + BytesPerPartition - 1) / BytesPerPartition, cap)

  /** The salted few-key join's width: at least the cores. A
    * production conf is sized ≥ the cores, so at scale this IS the
    * conf. Measured at the sf1 rung (r22, 32 cores): at the bench's
    * 8, `sim_knn_bucketed`'s scoring stage ran 8 tasks × 14 s while
    * 24 cores idled; the un-capped width benched 109 → 62 s
    * (`sim_knn_bucketed_full`) and 30 → 17 s (`sim_knn_bucketed`). */
  def forSaltedJoin(sess: SparkSession): Int =
    math.max(cap(sess), sess.sparkContext.defaultParallelism)

  /** The session's width — the cap the narrowing rules clamp to. */
  def cap(sess: SparkSession): Int = sess.sessionState.conf.numShufflePartitions

  /** The confs that run a child interpreted: no whole-stage codegen,
    * and the expression factories (projections, predicates,
    * orderings) on their interpreted implementations. Whole-stage off
    * alone still compiled 109 classes per `curationOver` call. */
  private[graft] val Interpreted: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Forces [[interprets]]'s verdict for the calls `f` makes — the
    * seam the parity specs run both evaluations through. */
  private[graft] def forcingInterpret[A](on: Boolean)(f: => A): A =
    forced.withValue(Some(on))(f)
  private val forced = new scala.util.DynamicVariable[Option[Boolean]](None)

  /** Whether an eager pipeline over `bytes` of input on `sess` runs
    * [[Interpreted]]: below [[InterpretBelowBytes]], in a JVM whose
    * codegen cache holds at most [[InterpretMaxCacheEntries]]. */
  def interprets(sess: SparkSession, bytes: BigInt): Boolean =
    forced.value.getOrElse(bytes < InterpretBelowBytes &&
      sess.conf.get("spark.sql.codegen.cache.maxEntries").toInt <=
        InterpretMaxCacheEntries)

  /** Run `f` on `caller`'s [[SessionIso]] child at [[forInputBytes]]
    * of `input`'s size estimate, [[Interpreted]] when [[interprets]]
    * holds for it. Reading the estimate plans `input` and runs no job.
    * For EAGER calls only — `f` must plan, run and return results,
    * never a frame planned under the child's conf. The caller's
    * frames reach the child through `graftbridge.Replan.onto`; loops
    * that take their own child of it (the CC loop, the k-means train)
    * copy its conf, so they run at the same evaluation. Holds the
    * child's monitor (see [[SessionIso.withChild]]), so concurrent
    * calls on one session serialize. */
  def atInputWidth[A](caller: SparkSession, input: DataFrame)
                     (f: SparkSession => A): A = {
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val width = forInputBytes(bytes, cap(caller))
    SessionIso.withChild(caller,
      Map("spark.sql.shuffle.partitions" -> width.toString) ++
        (if (interprets(caller, bytes)) Interpreted else Map.empty))(f)
  }
}

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

  /** Run `f` on `caller`'s [[SessionIso]] child at [[forInputBytes]]
    * of `input`'s size estimate. Reading the estimate plans `input`
    * and runs no job. For EAGER calls only — `f` must plan, run and
    * return results, never a frame planned at the narrowed width. The
    * caller's frames reach the child through
    * `graftbridge.Replan.onto`. Holds the child's monitor (see
    * [[SessionIso.withChild]]), so concurrent calls on one session
    * serialize. */
  def atInputWidth[A](caller: SparkSession, input: DataFrame)
                     (f: SparkSession => A): A = {
    val width = forInputBytes(
      input.queryExecution.optimizedPlan.stats.sizeInBytes, cap(caller))
    SessionIso.withChild(caller,
      Map("spark.sql.shuffle.partitions" -> width.toString))(f)
  }
}

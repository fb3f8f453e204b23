package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative clustering over embedding columns — the trained
  * counterpart of [[Ann.simAnnIvf]]'s fixed coarse quantizer, and the
  * partitioning step of corpus curation pipelines (cluster → sample
  * per cluster / drop outlier clusters).
  *
  * Reference analog: none (the reference has no vector operations);
  * driven by the north-star extension tables (SURVEY §2.11).
  */
object Cluster {

  /** Lloyd's k-means over a `(vec_id, embedding)` relation, built the
    * broadcast way: centroids live on the driver (k × dims doubles —
    * KBs), each iteration broadcasts them into ONE codegen'd argmin
    * projection over the vectors ([[graft.functions.DotProduct]] per
    * centroid) followed by ONE per-dimension hash aggregate
    * (posexplode → avg per (cluster, dim)) to recompute means. No
    * vector ever pairs with another vector — per-iteration cost is
    * O(N·k·d) map work plus a shuffle bounded by k·d rows, the shape
    * that survives a billion-vector corpus.
    *
    * Determinism: init = the `k` lowest-id vectors (no RNG), an
    * iteration count bounded by `iters` with one data-dependent but
    * fully deterministic early exit — when a round reproduces the
    * previous centroids BIT-EXACTLY (possible because per-dimension
    * means use exact decimal sums), every later round would be a
    * no-op, so stopping is lossless and identical run to run. Ties in
    * the argmin break toward the lower cluster id, so centroids — and
    * therefore every assignment — are bit-identical run to run.
    *
    * Returns `(vec_id, cluster_id, dist2)` — the assignment under the
    * final centroids, with the squared euclidean distance as the
    * quality signal (sum over clusters = the k-means inertia).
    */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int = 5): DataFrame =
    kmeansAssign(emb, k, iters, loop = false)

  private[graft] def kmeansAssign(emb: DataFrame, k: Int, iters: Int,
                                  loop: Boolean): DataFrame = {
    // ONE persisted vector relation feeds both the Lloyd train and the
    // final assignment (r18 fixed-cost pass: the assignment previously
    // re-derived scan + cast + repartition that the train had already
    // paid for). Eager like the NearDup entry points: the result is
    // materialized through localCheckpoint so the cache is released
    // before returning — the file's standard entry-point discipline.
    val e = vectors(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansAssignPlan(e, kmeansCentroidsOn(e, k, iters, loop = loop))
      .localCheckpoint()
    finally e.unpersist(blocking = false)
  }

  /** The `(vec_id, cluster_id, dist2)` assignment [[kmeansAssign]]
    * materializes: the `(vec_id, v)` relation `e` under the trained
    * `centroids`. Runs no job.
    */
  private[graft] def kmeansAssignPlan(e: DataFrame,
                                      centroids: Array[Array[Double]])
      : DataFrame =
    e.select(col("vec_id"), col("v"),
        assignExpr(centroids).getField("cid").as("cluster_id"),
        assignExpr(centroids).getField("d2").as("vd2"))
      // d2 above omits |v|^2 (constant per vector, irrelevant to the
      // argmin); add it back so the reported distance is the true one
      .select(col("vec_id"), col("cluster_id"),
        (col("vd2") + expr(
          "aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"))
          .as("dist2"))

  private[graft] def vectors(emb: DataFrame): DataFrame =
    // spread off the single fixture split; split-gated (r22) so a
    // many-split embeddings scan feeds the train with no exchange
    Sources.spreadIfNarrow(
      emb.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v")))

  /** Assignment under GIVEN centroids — `(vec_id, v, cluster_id)` —
    * so a caller that already trained (e.g. [[graft.ops.Ann]]'s
    * materialized index) does not pay a second Lloyd run.
    */
  def assignWith(emb: DataFrame,
                 centroids: Array[Array[Double]]): DataFrame =
    assignOn(vectors(emb), centroids)

  /** [[assignWith]] over an already-derived `(vec_id, v)` relation —
    * the cache-sharing entry [[graft.ops.NearDup.dedupSemantic]] uses
    * to run train + assignment off one persisted vector relation.
    */
  private[ops] def assignOn(e: DataFrame,
                            centroids: Array[Array[Double]]): DataFrame =
    e.select(col("vec_id"), col("v"),
      assignExpr(centroids).getField("cid").as("cluster_id"))

  // argmin_c ||v - c||^2 = argmin_c (|c|^2 - 2 v·c): ONE codegen'd
  // loop over the packed centroid matrix, ties to the lower id.
  // The least(struct(d2, cid)…)-of-k-DotProducts form this replaces
  // generated O(k) code and collapsed at k >= 64 (4× slower than
  // k=32 on the same data — Janino gives up on the plan); the packed
  // expression is O(1) in k, which is what lets IVF/SemDeDup cell
  // counts grow with the corpus. Bit-exact parity with the old form
  // (same fold order, ties, NaN ordering) is pinned by
  // CentroidParitySpec.
  private def assignExpr(centroids: Array[Array[Double]]): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.centroidArgmin(col("v"), centroids)

  /** The Lloyd iteration alone: returns the trained centroids (k × d
    * doubles on the driver) — the coarse-quantizer training step
    * [[Ann.simAnnIvfTrained]] plugs into its search plan.
    */
  def kmeansCentroids(emb: DataFrame, k: Int,
                      iters: Int): Array[Array[Double]] =
    kmeansCentroids(emb, k, iters, None)

  /** [[kmeansCentroids]] with a WARM START (r19 job-count pass): a
    * production pipeline re-training periodically — the SemDedup /
    * IVF refresh cadence — passes its previous centroids and skips
    * the seed-collect job entirely (and usually converges in fewer
    * Lloyd rounds, each of which is a job; the bit-exact fixed-point
    * early exit then stops the loop). `init` must be k rows of the
    * embedding dimensionality; it only seeds the iteration, so a poor
    * warm start costs convergence speed, never correctness.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
                      init: Option[Array[Array[Double]]])
      : Array[Array[Double]] =
    kmeansCentroids(emb, k, iters, init, loop = false)

  private[graft] def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
                                     init: Option[Array[Array[Double]]],
                                     loop: Boolean): Array[Array[Double]] = {
    // persist across the Lloyd loop: every iteration re-reads the
    // vector relation otherwise (scan + cast per round). Standard
    // practice for iterative algorithms; released before returning.
    val e = vectors(emb).persist()
    // finally, not straight-line: a mid-loop failure (executor loss,
    // bad cast) must not leave the vector blocks pinned on the session
    try kmeansCentroidsOn(e, k, iters, init, loop)
    finally e.unpersist(blocking = false)
  }

  /** The Lloyd loop over an already-persisted `(vec_id, v)` relation —
    * split out (r18 fixed-cost pass) so [[kmeansAssign]] and
    * [[graft.ops.NearDup.dedupSemantic]] can share ONE cached vector
    * relation between the train and their own downstream stages
    * instead of re-deriving scan + cast + repartition per consumer.
    */
  private[ops] def kmeansCentroidsOn(e: DataFrame, k: Int, iters: Int,
                                     init: Option[Array[Array[Double]]] = None,
                                     loop: Boolean = false)
      : Array[Array[Double]] = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    require(init.forall(_.length == k),
      s"warm start must supply exactly k=$k centroids")
    // r20 ADVICE: a ragged warm start cannot be a valid centroid
    // matrix — the argmin would silently truncate every dot product.
    // Per-row dimensionality against the DATA is validated at round
    // 1's means (below), where the embedding dimensionality is free.
    init.foreach { m =>
      val dims = m.map(_.length).distinct
      require(dims.length == 1,
        "warm start centroids are ragged: lengths " +
          s"${dims.sorted.mkString(",")} — all k rows must share the " +
          "embedding dimensionality")
    }
    // train on HEALTHY vectors only (finite positive norm): a null
    // embedding NPEs the seed collect below, and a NaN/Inf element
    // would propagate through the per-dimension means into every
    // centroid, silently corrupting all k cells. The trainer's
    // exact-decimal mean accumulator (the determinism device below)
    // additionally bounds trainable elements to |x| < 10¹⁵ — the
    // Decimal(28, 12) cast is ANSI-loud at 10¹⁶, and one 10³⁰-element
    // vector would otherwise fail the whole train (real embedding
    // pipelines emit O(1)-magnitude vectors; a magnitude outlier is
    // upstream corruption, not signal). Assignment still covers every
    // input row (bad vectors get a null/edge cell from the argmin,
    // never a crash); both filters are inert on the committed
    // fixtures, which carry no such vectors.
    val healthy = e.filter(TextSim.nonZeroNorm(col("v")) &&
      expr("forall(v, x -> abs(x) < 1e15)"))
    // COLD start trains CHAINED (r19 VERDICT ask #3): the whole Lloyd
    // iteration — in-plan seed, `iters` rounds of column-matrix argmin
    // + SQL-re-nested means — compiles into ONE plan and ONE job,
    // replacing the seed collect plus one means collect PER ROUND.
    // Lossless vs the loop below: the fixed-point exit it gives up is
    // itself lossless (post-fixed-point rounds reproduce the centroids
    // bit-exactly), so both paths return identical matrices —
    // KmeansChainSpec pins the bit-parity. A WARM start keeps the
    // driver loop: its typical payoff IS the early exit after 1–2
    // rounds, worth more than the chained job saving. `loop` forces
    // the loop on a cold start: KmeansChainSpec's bit-parity reference.
    if (init.isEmpty && !loop) return chainedCentroids(healthy, k, iters)
    var centroids: Array[Array[Double]] = init.getOrElse(
      healthy.orderBy("vec_id").limit(k)
        .collect().map(_.getSeq[Double](1).toArray))
    // a corpus whose every embedding is null/NaN/Inf leaves nothing to
    // seed from — fail with the cause, not an obscure assignExpr error
    // on an empty centroid array downstream
    require(centroids.nonEmpty,
      "k-means: no healthy vectors (finite positive norm) to seed from")
    var converged = false
    var firstRound = true
    for (_ <- 1 to iters if !converged) {
      val assigned = healthy.select(col("vec_id"), col("v"),
        assignExpr(centroids).getField("cid").as("cid"))
      // per-dimension decimal-exact means: ONE k·d-row shuffle, the
      // (cid, dim, m) triples collected directly — the former second
      // groupBy (map_from_arrays re-assembly) was a whole extra
      // shuffle + job per iteration carrying the same k·d doubles the
      // driver receives either way (r18 fixed-cost pass)
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((sum(col("x").cast(DecimalType(28, 12))) / count(lit(1)))
          .cast(DoubleType).as("m"))
        .collect()
      // r20 ADVICE: a warm start from a DIFFERENT embedding model
      // (wrong dimensionality) must fail loudly at round 1, not
      // silently mis-assign through the argmin's min-length truncation
      // — the data's dimensionality is free here (max dim index + 1)
      if (firstRound && init.isDefined && means.nonEmpty) {
        val dataD = means.iterator.map(_.getInt(1)).max + 1
        val initD = init.get.head.length
        require(initD == dataD,
          s"warm start dimensionality $initD does not match the " +
            s"embedding dimensionality $dataD — centroids from a " +
            "different embedding model?")
      }
      firstRound = false
      val next = centroids.clone()
      means.groupBy(_.getInt(0)).foreach { case (cid, rows) =>
        val c = new Array[Double](rows.size)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
        next(cid) = c
      }
      // bit-exact fixed point (exact decimal means make this well-
      // defined): all further rounds would reproduce these centroids,
      // so the early exit is lossless AND deterministic
      converged = next.indices.forall(i =>
        java.util.Arrays.equals(next(i), centroids(i)))
      centroids = next
    }
    centroids
  }

  /** The whole Lloyd train as ONE Spark job (r19 VERDICT ask #3,
    * "Lloyd-chaining"): seed, `iters` assignment+means rounds and the
    * final matrix collect compile into a single plan.
    *
    * Construction per round, all on 1-row "matrix frames"
    * `(mat: array<double> row-major, norms, kk, d)`:
    *   - assignment: [[graft.functions.CentroidArgminCol]] reads the
    *     matrix/norms from COLUMNS, met via a `shuffle_replicate_nl`
    *     cartesian (CartesianProductExec keeps the 1-row side inside
    *     the SAME job — a broadcast side or a scalar subquery would
    *     each fire their own collect job per round, re-creating the
    *     per-round job cost chaining exists to delete);
    *   - means: the IDENTICAL decimal-exact aggregate the driver loop
    *     runs (posexplode → sum(Decimal(28,12))/count → double);
    *   - re-nest: means → `map_from_entries` keyed `cid·d+dim`, new
    *     matrix = `coalesce(mean, previous)` per slot (an EMPTY
    *     cluster keeps its previous centroid, the driver loop's
    *     `clone()` semantics; `try_element_at` everywhere — ANSI mode
    *     throws on plain subscripts at missing keys), norms re-derived
    *     by the same left-to-right sum-of-squares fold the literal
    *     argmin uses.
    *
    * Bit-parity with the driver loop is pinned by KmeansChainSpec; the
    * foregone fixed-point exit is lossless because post-fixed-point
    * rounds reproduce the centroids bit-exactly. Shape guards run on
    * the driver AFTER the single job: kk = 0 → the standard
    * no-healthy-vectors error; packed length ≠ kk·d → ragged
    * embedding dimensionality (the in-plan offsets were already
    * garbage, but nothing was returned). At scale the per-round cost
    * is the same O(N·d)-row means shuffle the loop pays — chaining
    * deletes only driver round-trips, never adds data movement.
    */
  private[ops] def chainedCentroids(healthy: DataFrame, k: Int,
                                    iters: Int): Array[Array[Double]] = {
    val caller = healthy.sparkSession
    // The train runs on an ISOLATED child session (the CC loop's r19
    // machinery, shared via SessionIso) with two overrides, both
    // stack-sample-measured at sf0.1:
    //  - TRAIN-SIZED shuffle partitions (ShuffleWidth.forCentroids:
    //    k/64+1 ≈ k·d/65536 at d≈1024, the CC loop's
    //    64k-rows-per-partition rule, clamped to the caller's
    //    sizing): every train exchange carries at most maps × k·d
    //    tiny rows, and caller-sized exchanges paid
    //    more in shuffle-file create/commit than they won (sampled:
    //    DiskBlockObjectWriter/writeMetadataFile dominated).
    //  - useIdInClassName=false: the per-round stages are identical
    //    text EXCEPT for the codegen stage id Spark embeds in the
    //    generated class NAME, so with ids on, every round recompiled
    //    and re-JIT-warmed its decimal-sum aggregate (sampled:
    //    BigDecimal.valueOf dominated).
    val parts = ShuffleWidth.forCentroids(k, ShuffleWidth.cap(caller))
    SessionIso.withChild(caller, Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.codegen.useIdInClassName" -> "false")) { s =>
      // the child re-plans `healthy` (Replan.onto, no job) and reads
      // the caller's persisted vectors through the shared cache
      chainedCentroidsOn(s,
        org.apache.spark.sql.graftbridge.Replan.onto(s, healthy), k, iters)
    }
  }

  /** The chained train itself, on a `healthy` moved to the session
    * that carries the train-sized conf. */
  private def chainedCentroidsOn(s: SparkSession, healthy: DataFrame,
                                 k: Int, iters: Int): Array[Array[Double]] = {
    def nl(df: DataFrame): DataFrame = df.hint("shuffle_replicate_nl")
    // norms from the packed matrix: same fold order as the literal
    // argmin's driver-side tabulate (left-to-right sum of squares).
    // The repartition(1) is LOAD-BEARING: it puts a shuffle boundary
    // at every matrix frame's output, so the frame's narrow tail is
    // "read one buffered row" for every consumer task. Without it the
    // tail is [final-agg ∘ cartesian ∘ interpreted HOF transforms]
    // NESTING the previous round's tail — a cartesian recomputes its
    // right side per left task, so each task re-ran EVERY earlier
    // round's pack arithmetic: measured 2.3 → 5.0 s/train at sf0.1
    // when this boundary was removed (and +0.5→1.0 s/round,
    // superlinear, in the pre-child-session spelling).
    def withNorms(m: DataFrame): DataFrame =
      m.select(col("mat"),
        expr("transform(sequence(0, greatest(kk, 1) - 1), " +
          "c -> aggregate(slice(mat, c * d + 1, d), " +
          "cast(0.0 as double), (acc, x) -> acc + x * x))").as("norms"),
        col("kk"), col("d"))
        .repartition(1)
    // seed matrix: the k lowest-id healthy vectors, row-major — the
    // exact init the driver loop collects, packed in-plan instead
    val seed = withNorms(healthy.orderBy("vec_id").limit(k)
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("es"))
      .select(expr("transform(array_sort(es), e -> e.v)").as("vs"))
      .select(flatten(col("vs")).as("mat"),
        size(col("vs")).as("kk"),
        coalesce(size(expr("try_element_at(vs, 1)")), lit(0)).as("d")))
    // One Lloyd round = ONE global fused aggregate (r21 re-plan,
    // guide §2.3/§2.4): the codegen'd argmin projection feeds
    // [[graft.functions.CentroidSumAgg]], which folds every vector's
    // components straight into per-slot decimal sums + counts and
    // emits one row carrying (old, kk, d, sums, cnts). vs the r20
    // posexplode → groupBy(cid, dim) → collect_list spelling this
    // removes the N·d row explosion, drops one exchange per round
    // (two → one), and — because the matrix frame is referenced ONCE
    // per round (the buffer captures it from the constant cartesian
    // side) — the chained plan now grows LINEARLY with rounds instead
    // of doubling per round. The division sums[i]/cnts[i] stays in
    // SQL with the identical operand types (decimal(38,12) ÷ bigint)
    // and the identical coalesce-to-old fallback, so means are
    // bit-exact with the old plan (KmeansChainSpec + CentroidSumSpec).
    def round(matDf: DataFrame): DataFrame = {
      val assigned = healthy.crossJoin(nl(matDf))
        .select(graft.functions.VectorFunctions
            .centroidArgminCol(col("v"), col("mat"), col("norms"),
              cached = true)
            .getField("cid").as("cid"),
          col("v"), col("mat"), col("kk"), col("d"))
      withNorms(assigned
        .agg(graft.functions.VectorFunctions.centroidSums(col("cid"), col("v"),
          col("mat"), col("kk"), col("d")).as("st"))
        .select(expr("transform(sequence(0, greatest(size(st.old), 1) - 1), " +
            "i -> coalesce(" +
            "cast(try_element_at(st.sums, i + 1) / " +
            "try_element_at(st.cnts, i + 1) as double), " +
            "try_element_at(st.old, i + 1)))").as("mat"),
          coalesce(col("st.kk"), lit(0)).as("kk"),
          coalesce(col("st.d"), lit(0)).as("d")))
    }
    // SEGMENTED chaining. r20 context: each round then referenced the
    // previous matrix frame TWICE (assignment cartesian + re-nest
    // cartesian), so an unbroken chain doubled the PLAN TREE per
    // round — 2^iters embedded copies wedged analysis at iters=50 —
    // and segments of 5 bounded the tree at 2^5 copies. The r21 fused
    // round ([[graft.functions.CentroidSumAgg]]) references the frame
    // ONCE, so the tree now grows LINEARLY in rounds and the
    // segmenting is no longer a correctness guard; it is kept because
    // (a) the fixed-point exit at segment granularity stops a
    // converged train early (a segment that reproduces the previous
    // matrix bit-exactly proves every later round is a no-op — the
    // legacy loop's losslessness argument), and (b) it bounds the
    // single-job stage chain a scheduler must track. Every DECLARED
    // query trains within one segment (iters 3–5 → 1 job, the
    // JOBCOUNT_r20 criterion).
    val chainSegment = 5
    var cur = seed
    var prevMat: Option[Seq[Double]] = None
    var result: Array[Array[Double]] = null
    var done = 0
    while (done < iters && result == null) {
      val span = math.min(chainSegment, iters - done)
      val fin = (1 to span).foldLeft(cur)((m, _) => round(m))
      val row = fin.select(col("mat"), col("kk"), col("d")).head()
      val kk = row.getInt(1)
      require(kk >= 1,
        "k-means: no healthy vectors (finite positive norm) to seed from")
      val d = row.getInt(2)
      val mat = row.getSeq[Double](0)
      require(mat.length == kk * d,
        s"k-means chained train: ragged embedding dimensionality " +
          s"(packed ${mat.length} values for $kk x $d centroids) — " +
          "embeddings must share one dimensionality")
      done += span
      if (done >= iters || prevMat.contains(mat)) {
        result = Array.tabulate(kk)(c =>
          mat.slice(c * d, (c + 1) * d).toArray)
      } else {
        prevMat = Some(mat)
        // re-seed the next segment from a LITERAL matrix frame (fresh
        // 1-row plan, no lineage carried); norms re-derived by the
        // same withNorms SQL fold, so the bits cannot drift
        cur = withNorms(s.range(1).select(
          lit(mat.toArray).as("mat"), lit(kk).as("kk"), lit(d).as("d")))
      }
    }
    result
  }

  /** `cluster_kmeans` — the declared-query wrapper: cluster the
    * embeddings table and report per-cluster size and inertia. NO
    * ORACLE (iterative float arithmetic is not SQL-expressible in a
    * portable way); the unit spec proves exact recovery of crafted
    * separable clusters and the size/inertia invariants, and
    * [[clusterAssignPortable]] is the oracle-checked twin for the
    * assignment core.
    */
  def clusterKmeans(s: SparkSession, dir: String, k: Int = 8,
                    iters: Int = 3): DataFrame =
    kmeansAssign(Sources.table(s, dir, "embeddings"), k, iters)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist2")), 2).as("inertia"))

  /** `dedup_semantic_portable` — the ORACLE TWIN for
    * [[graft.ops.NearDup.dedupSemantic]]'s whole shape: cell
    * assignment under the deterministic init centroids
    * ([[clusterAssignPortable]], no Lloyd rounds) followed by the
    * SAME in-cell drop rule as production — a vector is dropped iff
    * some smaller-id vector in its cell has rounded cosine ≥
    * `minSim`. Pair cosines go through the graft_dot ↔
    * `list_dot_product` portable pairing that `sim_search` already
    * proves hash-identical, so the boundary calls match with no
    * tolerance. Same blocked shape as production (pairs only within
    * cells), minus the Lloyd training and the exact-duplicate
    * pre-collapse (a pure performance device — the drop set is
    * provably unchanged by it). Zero-norm vectors are always kept
    * and never pair, exactly the production rule.
    */
  def dedupSemanticPortable(s: SparkSession, dir: String, k: Int = 8,
                            minSim: Double = 0.4): DataFrame = {
    require(minSim <= 1.0, s"minSim must be <= 1, got $minSim")
    val nd = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.VectorFunctions.dot(a, b)
    val assigned = clusterAssignPortable(s, dir, k)
      .select(col("vec_id"), col("cluster_id"))
    val m = Sources.table(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .join(assigned, Seq("vec_id"))
      .withColumn("nrm", sqrt(nd(col("v"), col("v"))))
    // finite-positive-norm gate, mirroring the production pair stage
    // (NaN compares greater than every double — see dedupSemantic)
    val reps = m.filter(col("nrm") > 0.0 && !isnan(col("nrm")) &&
      col("nrm") < lit(Double.PositiveInfinity))
    val a = reps.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = reps.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // same few-key spread as the production dedupSemantic pair stage
    // (k blocks < cores on the fixture; identical plain join at scale)
    val dropped = Relational.fewKeySaltedJoin(s, a, b,
        Seq("cluster_id"), col("vec_a"), k)
      .filter(col("vec_a") < col("vec_b") &&
        round(nd(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          >= minSim)
      .select(col("vec_b").as("vec_id")).distinct()
    m.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id").cast(LongType),
        coalesce(!col("dup"), lit(true)).as("kept"))
  }

  /** `cluster_assign_portable` — the ORACLE TWIN for the
    * kmeans/SemDedup assignment core (r13 VERDICT #7: the last
    * unit-only corpus pair), mirroring the minhash/simhash twin
    * pattern: fix the centroids to the k lowest-`vec_id` embeddings
    * (the same deterministic init [[kmeansCentroids]] uses, no Lloyd
    * rounds) and emit every vector's argmin cluster and squared
    * distance. Bit-portability rests on SEQUENTIAL index-order folds:
    * `aggregate(zip_with(v, c, (x−y)²), 0.0, +)` here and DuckDB's
    * `list_reduce` in the oracle SQL perform the identical chain of
    * double adds over identical doubles (float32 inputs cast exactly;
    * (x−y)² of two float32-as-doubles carries ≤48 mantissa bits,
    * exact), so distances — and therefore the (d2, cid)-lexicographic
    * argmin — hash-match with NO rounding tolerance. Cross-checked
    * against python folds bit-for-bit before wiring.
    *
    * Scale shape: centroids enter the plan as k·d literals (no join,
    * no shuffle) — one codegen'd projection per vector, the same
    * O(N·k·d) map-only shape as [[kmeansAssign]]; the oracle's
    * e×c cross join is the SQL-side spelling only.
    */
  def clusterAssignPortable(s: SparkSession, dir: String,
                            k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val e = Sources.table(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val cents = e.orderBy("vec_id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](1).toArray }
    val candidates = cents.map { case (cid, c) =>
      val cLit = array(c.toIndexedSeq.map(lit): _*)
      struct(
        aggregate(zip_with(col("v"), cLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("d2"),
        lit(cid).as("cid"))
    }
    // Split-gate-spread (r22, reversing the r21 "not spread" call on
    // sf1 evidence): the O(N·k·d) interpreted fold ran as 2.2 s + 1.5 s
    // SINGLE-TASK stages at the sf1 rung (one input split) — the r21
    // sf0.1 A/B (0.28 → 0.32 s) only priced the exchange at a scale
    // where the fold costs ~0.1 s. At >= cores splits the gate
    // passes the scan through untouched, so real-scale plans are
    // unchanged.
    Sources.spreadIfNarrow(e)
      .select(col("vec_id"),
        array_min(array(candidates.toIndexedSeq: _*)).as("best"))
      .select(col("vec_id"), col("best.cid").as("cluster_id"),
        col("best.d2").as("dist2"))
  }
}

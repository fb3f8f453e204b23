package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate nearest-neighbor search over the `embeddings` table —
  * the scale path beyond TextSim.simSearch's brute-force scan.
  *
  * Design: sign-random-projection LSH built from deterministic
  * hash-derived hyperplanes (no RNG, no fitted model — the "planes"
  * are a pure function of (plane id, dimension), so the query is
  * reproducible and needs no persisted state). Vectors land in a
  * 2^nBits-bucket code; the query probes only its own bucket and its
  * single-bit-flip neighbors (multi-probe), so the scan touches
  * O(candidates) instead of O(N). At 100 TB the bucket code is the
  * shuffle/partition key; brute force within a bucket is bounded.
  */
object Ann {

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d): a splitmix64-style integer mix mapped to [-1, 1] — fixed,
    * engine-independent, no RNG state.
    */
  private def planeComponent(p: Int, d: Int): Double = {
    val z = graft.functions.SplitMix64.avalanche(
      p.toLong * 1000003L + d.toLong + graft.functions.SplitMix64.Gamma)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** All `nBits` hyperplanes as one literal array-of-arrays column —
    * a single constant in the plan (vs unrolling nBits × dims terms
    * into SQL text, which bloated codegen enough to dominate runtime
    * at small scale).
    */
  private def planesLit(nBits: Int, dims: Int): Column =
    typedLit((0 until nBits).map(p =>
      (0 until dims).map(d => planeComponent(p, d))))

  /** The LSH bucket code of a double-array embedding column:
    * bit p = sign of ⟨v, plane_p⟩ — one codegen'd dot per plane
    * against the literal plane matrix, no UDF.
    */
  def bucketCode(vec: Column, dims: Int, nBits: Int): Column = {
    val signBits = zip_with(
      planesLit(nBits, dims),
      sequence(lit(0), lit(nBits - 1)),
      (plane, p) => when(graft.functions.VectorFunctions.dot(vec, plane) >= 0d,
        call_function("shiftleft", lit(1L), p)).otherwise(0L))
    aggregate(signBits, lit(0L), (acc, b) => acc + b)
  }

  /** The similarity surface's vector relation: embedding cast to
    * double, zero-norm vectors excluded — they have no cosine, and
    * under ANSI arithmetic the 0/0 THROWS rather than NaNs (the same
    * rule `TextSim.simSearch`/`simKnn`/`dedupEmbed` and their oracle
    * CTEs apply).
    */
  private def nonZero(emb: DataFrame): DataFrame =
    emb.filter(TextSim.nonZeroNorm(col("embedding")))
      // native array CAST, not a transform(x -> cast(x)) lambda — the
      // lambda is CodegenFallback and split the scan's codegen span
      // (bit-identical value, see TextSim.nonZeroNorm). Deliberately
      // NOT repartitioned here (r21 A/B): every ANN query re-derives
      // this relation for several branches (centroid sample, probe
      // row, candidate side), so a spread exchange is paid per branch
      // while the per-vector assignment work is small — measured
      // net-WORSE on all six ANN queries at sf0.1 (e.g. sim_ann_ivf
      // 0.29 → 0.46 s); the pair-scoring stage is already spread by
      // fewKeySaltedJoin.
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))

  /** `sim_ann_ivf` — IVF (inverted-file) cosine top-k: the other
    * classic ANN layout. A fixed set of `nLists` coarse centroids
    * partitions the corpus (each vector assigned to its nearest
    * centroid — one argmax over nLists codegen'd dots per vector);
    * the query scans only the `nProbe` lists nearest to it. At scale
    * the list id is the partition/cluster key, so a probe touches
    * nProbe/nLists of the data. Centroids here are deterministic:
    * the corpus vectors with the lowest ids (a fixed sample — no
    * k-means state to persist; swap in trained centroids without
    * changing the query). NO ORACLE (rows-only): list membership is
    * engine-specific; brute-force `sim_search` is the accuracy
    * baseline.
    */
  def simAnnIvf(s: SparkSession, dir: String, queryId: Long = 0L,
                k: Int = 10, nLists: Int = 16, nProbe: Int = 4): DataFrame =
    simAnnIvf(Sources.table(s, dir, "embeddings"), queryId, k, nLists,
      nProbe)

  /** [[simAnnIvf]] over any `(vec_id, embedding)` relation. */
  def simAnnIvf(emb: DataFrame, queryId: Long, k: Int, nLists: Int,
                nProbe: Int): DataFrame = {
    val e = nonZero(emb)
    // deterministic coarse centroids: the nLists lowest-id vectors;
    // assignment divides each dot by the centroid's norm (|v| is
    // constant across candidates, so this argmax IS argmax of cosine)
    val centroids = e.orderBy("vec_id").limit(nLists)
      .select(collect_list(col("v")).as("cs"))
    ivfSearch(e, centroids, queryId, k, nProbe)
  }

  /** IVF with a TRAINED coarse quantizer: centroids come from
    * [[Cluster.kmeansAssign]]'s Lloyd iterations instead of a fixed
    * corpus sample, which tightens the lists (fewer near-boundary
    * vectors filed far from their neighbors) and so improves recall at
    * the same `nProbe`. Same search plan — only the quantizer changes,
    * exactly the swap the fixed-sample variant's doc promises.
    */
  def simAnnIvfTrained(s: SparkSession, emb: DataFrame, queryId: Long = 0L,
                       k: Int = 10, nLists: Int = 16, nProbe: Int = 4,
                       iters: Int = 3): DataFrame = {
    val e = nonZero(emb)
    val trained = Cluster.kmeansCentroids(emb, nLists, iters)
    val centroids = s.range(1).select(
      array(trained.toIndexedSeq.map(c =>
        array(c.toIndexedSeq.map(lit): _*)): _*).as("cs"))
    ivfSearch(e, centroids, queryId, k, nProbe)
  }

  /** Shared centroid-assignment projection over a 1-row `cs`
    * centroid-list relation: per-centroid cosine, the filing list
    * (argmax, ties to the lower index via `array_position`) and —
    * when `nProbe` is set — the top-nProbe probe lists per vector.
    * ONE authoritative spelling (r14 review: [[ivfSearch]] and
    * [[simKnnBucketed]] carried verbatim copies that could silently
    * drift on a tie-break or NaN-guard change).
    */
  private def assignLists(e: DataFrame, centroids: DataFrame,
                          nProbe: Option[Int]): DataFrame = {
    // the SQL-text lambda below resolves graft_dot by name (kept over
    // the DSL so the plan text and its lambda names stay fixed)
    graft.functions.VectorFunctions.registerAll(e.sparkSession)
    val base = e.crossJoin(broadcast(centroids))
      .withColumn("norms", expr(
        "transform(cs, c -> graft_dot(v, c) / sqrt(graft_dot(c, c)))"))
      .withColumn("list_id",
        expr("array_position(norms, array_max(norms))"))
    nProbe.fold(base) { np =>
      base.withColumn("probe_lists", expr(
        "transform(slice(array_sort(zip_with(norms, sequence(1, size(norms)), " +
          s"(sim, i) -> struct(-sim AS negsim, i AS idx))), 1, $np), " +
          "p -> CAST(p.idx AS BIGINT))"))
    }.drop("cs", "norms")
  }

  /** Shared IVF search body over a 1-row `cs` centroid-list relation. */
  private def ivfSearch(e: DataFrame, centroids: DataFrame,
                        queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val assigned = assignLists(e, centroids, None)
    val q = assignLists(e.filter(col("vec_id") === queryId), centroids,
        Some(nProbe))
      .select(col("v").as("qv"), col("probe_lists"))
    assigned.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(array_contains(col("probe_lists"), col("list_id")))
      .select(col("vec_id"),
        round(nd(col("v"), col("qv")) /
          (sqrt(nd(col("v"), col("v"))) * sqrt(nd(col("qv"), col("qv")))), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** `sim_ann_lsh` — LSH-bucketed cosine top-k for the query vector
    * `queryId`: code the corpus once, keep only vectors whose bucket
    * is within Hamming distance 1 of the query's bucket (multi-probe),
    * brute-force cosine inside that candidate set, top-k. NO ORACLE
    * (not SQL-expressible in DuckDB at reasonable effort); the
    * brute-force `sim_search` is the accuracy baseline it is
    * property-tested against.
    */
  def simAnnLsh(s: SparkSession, dir: String, queryId: Long = 0L,
                k: Int = 10, nBits: Int = 8, dims: Int = 64): DataFrame =
    simAnnLsh(Sources.table(s, dir, "embeddings"), queryId, k, nBits, dims)

  /** [[simAnnLsh]] over any `(vec_id, embedding)` relation. */
  def simAnnLsh(emb: DataFrame, queryId: Long, k: Int, nBits: Int,
                dims: Int): DataFrame = {
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val e = nonZero(emb)
      .withColumn("bucket", bucketCode(col("v"), dims, nBits))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(bit_count(expr("bucket ^ qbucket")) <= 1)
      .select(col("vec_id"),
        round(nd(col("v"), col("qv")) /
          (sqrt(nd(col("v"), col("v"))) * sqrt(nd(col("qv"), col("qv")))), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** `sim_knn_bucketed` — the composed IVF + exact-rerank k-NN JOIN
    * (r13 VERDICT #9: TextSim.simKnn's scaladoc promised "per-bucket
    * exact join at scale"; this is that promise as code). Every vector
    * is filed into its nearest of `nLists` coarse lists once, every
    * vector probes its `nProbe` nearest lists, and the exact
    * cosine-top-k join runs ONLY within (probe list × candidate list)
    * matches — the pair stream shrinks from N² to ~N²·nProbe/nLists,
    * and the join key is `list_id`, so at 100 TB the within-list pairs
    * co-locate under an ordinary shuffle-hash join (no broadcast of
    * the full corpus, which is what caps [[TextSim.simKnn]]).
    * Per-query top-k rides the same rounded-similarity rank window as
    * simKnn (WindowGroupLimit keeps partial heaps map-side).
    *
    * `nProbe = nLists` makes the candidate set all pairs, so the
    * output EQUALS the brute-force [[TextSim.simKnn]] row-for-row —
    * AnnRecallSpec pins that equality plus a partial-probe recall
    * floor. NO ORACLE at partial probe (list membership is
    * engine-specific); the brute-force sim_knn is the baseline.
    */
  def simKnnBucketed(s: SparkSession, dir: String, k: Int = 5,
                     nLists: Int = 8, nProbe: Int = 2): DataFrame =
    simKnnBucketed(s, Sources.table(s, dir, "embeddings"), k, nLists, nProbe)

  /** [[simKnnBucketed]] over any `(vec_id, embedding)` relation.
    *
    * The self-join's two branches re-derive the (uncached) assignment
    * projection, so the O(N·k·d) centroid-cosine map work runs twice
    * — acceptable for the declared on-the-fly query, and exactly what
    * the materialized path exists to avoid: at corpus scale, build
    * the assignments ONCE with [[ivfIndexWrite]] (list_id becomes a
    * parquet partition column) and run the per-list exact join over
    * the stored index.
    */
  def simKnnBucketed(s: SparkSession, emb: DataFrame, k: Int,
                     nLists: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in [1, $nLists], got $nProbe")
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val e = nonZero(emb)
      .withColumn("nrm", sqrt(nd(col("v"), col("v"))))
    val centroids = e.orderBy("vec_id").limit(nLists)
      .select(collect_list(col("v")).as("cs"))
    val assigned = assignLists(e, centroids, Some(nProbe))
    val cand = assigned.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"), col("list_id"))
    val probes = assigned.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"), explode(col("probe_lists")).as("list_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    // `list_id` has only nLists distinct values, so a plain shuffle
    // join caps the expensive stage (the per-pair dot products) at
    // nLists-way parallelism whenever nLists < available cores —
    // [[Relational.fewKeySaltedJoin]] spreads it (fan = cores/nLists,
    // collapsing to the identical plain join at real IVF scale where
    // nLists ≫ cores). Each (qid, nid) pair appears at most once: a
    // candidate lives in exactly one list and probe lists are
    // distinct.
    Relational.fewKeySaltedJoin(s, probes, cand,
        Seq("list_id"), col("qid"), nLists)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(nd(col("qv"), col("nv")) / (col("qn") * col("nn")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "nid", "cos_sim")
  }

  // ---- materialized IVF index (the stored-codes path) ----------------

  /** Build and persist an IVF index under `indexDir`: train centroids
    * once (broadcast Lloyd's), assign every vector to its nearest
    * list, and write the assignments as parquet PARTITIONED BY
    * `list_id`, plus the tiny centroid table. This is the stored-codes
    * layout the on-the-fly ANN queries can't exploit (SCALE.md
    * measured them at brute-force speed): once list membership is on
    * disk as a partition column, a probe's `list_id IN (…)` filter is
    * a PARTITION filter — Spark plans the scan over only the probed
    * directories and the other (nLists − nProbe)/nLists of the corpus
    * is never read. Index build is one training run + one write pass;
    * at 100 TB it re-runs only on re-index, not per query.
    */
  def ivfIndexWrite(s: SparkSession, emb: DataFrame, indexDir: String,
                    nLists: Int = 16, iters: Int = 3): Unit = {
    val trained = Cluster.kmeansCentroids(emb, nLists, iters)
    Cluster.assignWith(emb, trained)
      // a stored zero-norm vector would make every later probe throw
      // on its 0/0 cosine — exclude at build time (same nonZero rule)
      .filter(graft.functions.VectorFunctions
        .dot(col("v"), col("v")) > 0.0)
      .withColumnRenamed("cluster_id", "list_id")
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    val rows = trained.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      (i, c.toIndexedSeq)
    }
    s.createDataFrame(rows).toDF("list_id", "centroid")
      // coalesce(1) is safe ONLY because this is the nLists-row
      // centroid table (bounded metadata, one tiny file beats nLists
      // footers on the probe path) — never copy this onto a data write
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Probe a materialized IVF index: rank lists by cosine between the
    * query vector and the stored centroids (driver-side — nLists·dims
    * doubles), then scan ONLY the `nProbe` nearest lists' partitions
    * and return the exact top-k within them. `nProbe = nLists` scans
    * everything and is exactly brute force — the accuracy baseline the
    * unit test pins the probe against.
    */
  def ivfIndexProbe(s: SparkSession, indexDir: String,
                    queryVec: Seq[Double], k: Int = 10,
                    nProbe: Int = 4): DataFrame = {
    val nd = (a: Column, b: Column) => graft.functions.VectorFunctions.dot(a, b)
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    // a zero-norm query has no direction to rank by: every cosine is
    // 0/0, the centroid sort order would be NaN-unspecified and every
    // cos_sim null — refuse loudly instead (matches simSearch)
    require(qNorm > 0, "ivfIndexProbe needs a non-zero query vector")
    val probed = Sources.parquet(s, s"$indexDir/centroids").collect()
      .map { r =>
        val c = r.getSeq[Double](r.fieldIndex("centroid"))
        val cos = c.zip(queryVec).map { case (a, b) => a * b }.sum /
          (math.sqrt(c.map(x => x * x).sum) * qNorm)
        // a zero-norm centroid (empty-list placeholder) ranks last
        // deterministically rather than NaN-poisoning the sort
        (r.getInt(r.fieldIndex("list_id")),
          if (cos.isNaN) Double.NegativeInfinity else cos)
      }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(nProbe).map(_._1)
    val qLit = array(queryVec.map(lit): _*)
    Sources.parquet(s, s"$indexDir/lists")
      .filter(col("list_id").isin(probed.toIndexedSeq: _*))
      .select(col("vec_id"),
        round(nd(col("v"), qLit) /
          (sqrt(nd(col("v"), col("v"))) * lit(qNorm)), 4).as("cos_sim"))
      // zero-norm stored vectors yield null cos_sim — drop them from
      // the ranking rather than floating nulls into the top-k
      .filter(col("cos_sim").isNotNull)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}

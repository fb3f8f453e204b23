package graft

import graft.ops.{Ann, Cluster, NearDup, TextSim}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pathological-embeddings sweep — the vector-side sibling of
  * PathologicalCorpusSpec: a 100 TB embedding corpus WILL contain
  * null vectors (failed encoder calls), empty arrays, zero vectors,
  * NaN/±Inf elements (fp overflow upstream) and magnitude extremes.
  * Before this sweep, each of those broke a vector operator in a
  * different way, all measured on this fixture:
  *
  *  - a NaN or +Inf NORM passed the `dot > 0` health check (Spark
  *    orders NaN above every double), and its NaN cos_sim then ranked
  *    FIRST under ORDER BY DESC — one bad vector put 3 NaN rows at
  *    the head of sim_search's top-5 and a NaN row in EVERY query's
  *    k-NN list;
  *  - a null embedding NPE'd the Lloyd seed collect, killing
  *    kmeans/SemDedup outright;
  *  - an empty array index-errored embedQuantize (SQL
  *    `sequence(0, -1)` DESCENDS to [0, -1] — it is not empty).
  *
  * The contract now: similarity/clustering train+pair stages admit
  * only vectors with a FINITE POSITIVE norm ([[TextSim.nonZeroNorm]];
  * the oracle CTEs mirror the rule with `isfinite`); verdict-per-row
  * operators (dedupSemantic) still emit one row per input, bad
  * vectors passing through as kept; every operator below must
  * process this relation without throwing and deterministically.
  */
class PathologicalEmbeddingsSpec extends SparkSpec {

  import spark.implicits._

  // healthy ids: 0 (query), 7 (huge but finite), 8 (denormals),
  // 9/10 (exact dup pair), 11, 12
  private val healthyIds = Set(0L, 7L, 8L, 9L, 10L, 11L, 12L)

  private lazy val vecs: DataFrame = Seq[(Long, Array[Float])](
    (0L, Array(1f, 0f, 0f, 0f)),                      // clean query vector
    (1L, null),                                       // null embedding
    (2L, Array[Float]()),                             // empty array
    (3L, Array(0f, 0f, 0f, 0f)),                      // zero norm
    (4L, Array(Float.NaN, 1f, 0f, 0f)),               // NaN element
    (5L, Array(Float.PositiveInfinity, 0f, 0f, 0f)),  // +Inf element
    (6L, Array(Float.NegativeInfinity, 1f, 0f, 0f)),  // -Inf element
    (7L, Array(1e30f, 1e30f, 0f, 0f)),                // huge, norm finite
    (8L, Array(1e-40f, 0f, 0f, 1e-45f)),              // denormals
    (9L, Array(0.6f, 0.8f, 0f, 0f)),
    (10L, Array(0.6f, 0.8f, 0f, 0f)),                 // exact dup of 9
    (11L, Array(0f, 0f, 1f, 0f)),
    (12L, Array(0f, 0f, 0.9f, 0.1f))
  ).toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def deterministic(name: String, f: => DataFrame): Seq[String] = {
    val a = rows(f); val b = rows(f)
    assert(a == b, s"$name: nondeterministic on pathological embeddings")
    a
  }

  test("sim_search admits only finite-positive-norm vectors, no NaN ranks") {
    val out = TextSim.simSearch(vecs, 0L, 5).collect()
    assert(out.nonEmpty && out.length <= 5)
    out.foreach { r =>
      val id = r.getLong(0); val cos = r.getDouble(1)
      assert(healthyIds.contains(id), s"unhealthy vector $id in top-k")
      assert(!cos.isNaN && !cos.isInfinite, s"non-finite cos_sim for $id")
    }
    // the clean neighbors outrank everything: vec 7 aligns at 0.7071
    assert(out.head.getLong(0) == 8L || out.head.getDouble(1) >= 0.7,
      s"top hit looks wrong: ${out.head}")
  }

  test("exact and bucketed k-NN agree row-for-row and stay finite") {
    val knn = deterministic("sim_knn", TextSim.simKnn(vecs, 3))
    val bucketed = deterministic("sim_knn_bucketed_full",
      Ann.simKnnBucketed(spark, vecs, 3, 4, 4))
    assert(knn == bucketed,
      "full-probe bucketed k-NN diverged from brute force on pathological input")
    val ids = TextSim.simKnn(vecs, 3).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids.subsetOf(healthyIds), s"unhealthy ids in k-NN pairs: $ids")
    assert(TextSim.simKnn(vecs, 3).collect()
      .forall(r => !r.getDouble(2).isNaN), "NaN cos_sim in k-NN output")
  }

  test("ANN searches survive and return only healthy finite-scored rows") {
    Seq(
      "sim_ann_lsh" -> Ann.simAnnLsh(vecs, 0L, 5, 8, 4),
      "sim_ann_ivf" -> Ann.simAnnIvf(vecs, 0L, 5, 2, 2),
      "sim_ann_ivf_trained" -> Ann.simAnnIvfTrained(spark, vecs, 0L, 5, 2, 2, 2)
    ).foreach { case (name, df) =>
      val out = deterministic(name, df)
      val ids = df.collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(healthyIds - 0L), s"$name: unhealthy ids $ids")
      assert(df.collect().forall(r => !r.getDouble(1).isNaN),
        s"$name: NaN cos_sim")
      assert(out.size <= 5)
    }
  }

  test("dedup_embed pairs only healthy vectors") {
    val pairs = deterministic("dedup_embed",
      TextSim.dedupEmbed(vecs, 0.4))
    val ids = TextSim.dedupEmbed(vecs, 0.4).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids.subsetOf(healthyIds), s"unhealthy ids in pairs: $ids")
    assert(pairs.nonEmpty, "the exact-dup pair (9, 10) must be found")
  }

  test("semantic dedup emits a verdict per row; bad vectors pass through kept") {
    val out = NearDup.dedupSemantic(spark, vecs, 3, 2, 0.4)
    val got = deterministic("dedup_semantic",
      NearDup.dedupSemantic(spark, vecs, 3, 2, 0.4))
    assert(got.size == 13, s"expected 13 verdicts, got ${got.size}")
    val kept = out.collect().map(r =>
      r.getLong(0) -> r.getBoolean(2)).toMap
    // the lowest-id witness always survives; 9 drops against 0
    // (cos(0, 9) = 0.6 ≥ minSim) and its exact copy 10 drops via the
    // pre-collapse — both verdicts are the declared semantics
    assert(kept(0L), "the minimum-id vector can never be dropped")
    assert(!kept(9L) && !kept(10L),
      s"near/exact dup verdicts: ${kept(9L)}, ${kept(10L)}")
    // vectors outside the pair stage can never be dropped
    (Seq(1L, 2L, 3L, 4L, 5L, 6L)).foreach(id =>
      assert(kept(id), s"unpairable vector $id must be kept"))
  }

  test("kmeans trains on healthy vectors only and assigns every row") {
    val out = Cluster.kmeansAssign(vecs, 2, 2)
    deterministic("cluster_kmeans", Cluster.kmeansAssign(vecs, 2, 2))
    assert(out.count() == 13, "assignment must cover every input row")
    // healthy rows land in a real cell
    val healthyCells = out.filter(col("vec_id").isin(healthyIds.toSeq: _*))
      .select("cluster_id").collect().map(_.getInt(0))
    assert(healthyCells.forall(c => c >= 0 && c < 2))
  }

  test("quantization skips malformed vectors instead of throwing") {
    val out = deterministic("embed_quantize", TextSim.embedQuantize(vecs))
    val ids = TextSim.embedQuantize(vecs).collect()
      .map(_.getLong(0)).toSet
    // null, empty and NaN/Inf-element vectors are excluded; the zero
    // vector and extremes quantize fine
    assert(ids == Set(0L, 3L, 7L, 8L, 9L, 10L, 11L, 12L), s"got $ids")
    assert(out.nonEmpty)
  }
}

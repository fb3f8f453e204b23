package graft

import graft.ops.{Cluster, NearDup, TextSim}
import org.apache.spark.sql.functions._

/** dedup_semantic invariants: the cluster-blocked SemDeDup pass must
  * be EXACT within a cell (precision 1 vs the exact cosine pairs),
  * its recall loss must be exactly the cross-cell pairs (no silent
  * extra loss), its drop policy must match the keep-lowest-id greedy,
  * and the whole pass must be bit-deterministic (no RNG anywhere:
  * k-means init is the k lowest ids, means are decimal-exact).
  */
class SemanticDedupSpec extends SparkSpec {

  private val minSim = 0.4
  private lazy val result = NearDup.dedupSemantic(spark, sf).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
  // the exact all-pairs formulation this operator approximates
  private lazy val exactPairs = TextSim.dedupEmbed(spark, sf, minSim)
    .select("vec_a", "vec_b").collect()
    .map(r => (r.getLong(0), r.getLong(1))).toSet
  private lazy val cellOf = result.map(r => r._1 -> r._2).toMap

  test("covers every vector exactly once") {
    val n = ops.Sources.table(spark, sf, "embeddings").count()
    assert(result.length == n)
    assert(result.map(_._1).distinct.length == n)
  }

  test("precision 1: every dropped vector has an exact in-cell witness") {
    val droppedIds = result.filter(!_._3).map(_._1).toSet
    assert(droppedIds.nonEmpty,
      "fixture should produce drops at minSim=0.4 — dedup_embed does")
    droppedIds.foreach { id =>
      val witnesses = exactPairs.filter { case (a, b) =>
        b == id && cellOf(a) == cellOf(b) }
      assert(witnesses.nonEmpty,
        s"vector $id dropped without a smaller-id in-cell exact pair")
    }
  }

  test("recall loss is exactly the cross-cell pairs, nothing more") {
    // every exact pair whose endpoints share a cell MUST drop its
    // larger id; pairs split across cells are the (measured) loss
    val droppedIds = result.filter(!_._3).map(_._1).toSet
    val inCell = exactPairs.filter { case (a, b) => cellOf(a) == cellOf(b) }
    inCell.foreach { case (a, b) =>
      assert(droppedIds.contains(b),
        s"in-cell exact pair ($a,$b) not deduped — blocked pass lost it")
    }
    val recall =
      if (exactPairs.isEmpty) 1.0 else inCell.size.toDouble / exactPairs.size
    info(f"recall vs exact all-pairs on fixture: $recall%.3f " +
      s"(${inCell.size}/${exactPairs.size} pairs in-cell)")
    assert(recall > 0.0, "at least some exact pairs must be in-cell")
  }

  test("kept vectors have no smaller-id in-cell neighbor above threshold") {
    val keptIds = result.filter(_._3).map(_._1).toSet
    exactPairs.foreach { case (a, b) =>
      if (cellOf(a) == cellOf(b))
        assert(!keptIds.contains(b), s"($a,$b) in-cell but $b kept")
    }
  }

  test("deterministic: two independent runs agree bit for bit") {
    val again = NearDup.dedupSemantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(result.toSeq == again.toSeq)
  }

  test("planted exact duplicates are always caught (the paper's regime)") {
    // the fixture's 0.288 in-cell recall reflects near-uniform
    // synthetic vectors at a LOOSE threshold; SemDeDup's claim is for
    // near-identical vectors, which share an argmin cell by
    // construction — plant copies and require recall 1 on them
    val emb = ops.Sources.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val planted = emb.orderBy("vec_id").limit(10)
      .select((col("vec_id") + lit(maxId + 1L)).as("vec_id"),
        col("embedding"))
    val out = NearDup.dedupSemantic(spark, emb.union(planted), 8, 3, minSim)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (1 to 10).foreach { i =>
      val id = out.keys.filter(_ > maxId).toSeq.sorted.apply(i - 1)
      assert(!out(id), s"planted exact duplicate $id survived")
    }
  }

  test("a massive exact-duplicate group collapses before the pair stage") {
    // 2000 copies of one vector + the fixture corpus: without the
    // exact pre-collapse this is a 2M-pair bucket inside one cell;
    // with it, one representative enters the pairwise stage and all
    // copies drop against it
    val emb = ops.Sources.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val template = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).head().getSeq[Float](0)
    val copies = spark.range(2000).select(
      (col("id") + lit(maxId + 1L)).as("vec_id"),
      lit(template.toArray).cast("array<float>").as("embedding"))
    val out = NearDup.dedupSemantic(spark, emb.union(copies), 8, 3, minSim)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val copyIds = (1L to 2000L).map(_ + maxId)
    // every planted copy drops (its group representative is the
    // original, which has the smallest id of the group)
    copyIds.foreach(id => assert(!out(id), s"exact copy $id survived"))
    assert(out.size == emb.count() + 2000)
  }

  test("identical zero vectors are all kept (NaN cosine never drops)") {
    val emb = ops.Sources.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val d = emb.orderBy("vec_id").limit(1)
      .select(size(col("embedding"))).head().getInt(0)
    val zeros = spark.range(3).select(
      (col("id") + lit(maxId + 1L)).as("vec_id"),
      expr(s"transform(sequence(1, $d), i -> CAST(0.0 AS FLOAT))")
        .as("embedding"))
    val out = NearDup.dedupSemantic(spark, emb.union(zeros), 8, 3, minSim)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (1L to 3L).foreach { i =>
      assert(out(maxId + i), s"zero vector ${maxId + i} wrongly dropped")
    }
  }

  test("cells agree with the trained assignment (blocking is honest)") {
    val emb = ops.Sources.table(spark, sf, "embeddings")
    val cents = Cluster.kmeansCentroids(emb, 8, 3)
    val direct = Cluster.assignWith(emb, cents)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(cellOf == direct)
  }
}

package graft

import graft.ops.{Ann, TextSim}

/** Recall gates for the on-the-fly ANN query paths (r13 VERDICT #8:
  * the r12 sweep recorded in SCALE.md measured recall but nothing
  * pinned it — a regression in bucket probing could land silently)
  * and the composed
  * IVF+exact-rerank k-NN join (VERDICT #9). Everything here is
  * deterministic (hash-derived hyperplanes, lowest-id centroids, tie
  * breaks on vec_id), so the measured recalls reproduce exactly and
  * the floors are true regression guards, not flaky thresholds.
  */
class AnnRecallSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"
  private val k = 10

  private def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private lazy val truth: Map[Long, Set[Long]] =
    Seq(0L, 1L, 2L).map { q =>
      q -> topIds(TextSim.simSearch(spark, sf01, q, k))
    }.toMap

  private def meanRecall(got: Long => Set[Long]): Double = {
    val rs = truth.keys.toSeq.sorted.map { q =>
      got(q).intersect(truth(q)).size.toDouble / truth(q).size
    }
    rs.sum / rs.length
  }

  test("LSH recall@10 holds its measured floor") {
    // measured 0.23 at nBits=8 (Hamming ≤ 1 probes 9/256 of the code
    // space — low recall is intrinsic to these parameters, and the
    // brute-force baseline is one env-knob away); the floor guards
    // the machinery (plane hashing, multi-probe, candidate scoring),
    // not the parameter choice
    val r8 = meanRecall(q =>
      topIds(Ann.simAnnLsh(spark, sf01, q, k, nBits = 8, dims = 64)))
    // at nBits=4 the same probe rule covers 5/16 of the space —
    // measured 0.57; recall must grow as the code coarsens
    val r4 = meanRecall(q =>
      topIds(Ann.simAnnLsh(spark, sf01, q, k, nBits = 4, dims = 64)))
    info(f"lsh recall@10: nBits=8 $r8%.2f, nBits=4 $r4%.2f")
    assert(r8 >= 0.20, s"LSH multi-probe recall collapsed at nBits=8: $r8")
    assert(r4 >= 0.45, s"LSH multi-probe recall collapsed at nBits=4: $r4")
    assert(r4 >= r8 - 1e-9, "coarser codes must not lose recall here")
  }

  test("IVF recall@10 holds its measured floor") {
    val r = meanRecall(q =>
      topIds(Ann.simAnnIvf(spark, sf01, q, k, nLists = 16, nProbe = 4)))
    info(f"ivf recall@10 = $r%.2f")
    // measured 0.87 (deterministic); floor at measured − 20% so a
    // real probing/scoring regression trips it while fixture
    // regeneration headroom remains (r15 VERDICT #7: the old 0.30
    // floor would have let recall halve silently)
    assert(r >= 0.70, s"IVF nProbe=4/16 recall collapsed: $r")
  }

  test("mutation probe: a halved-recall IVF config must trip the floor") {
    // the floor's teeth, demonstrated: a fragmented index probed with
    // one list (64 lists, nProbe=1 — the shape a bucket-probe bug
    // degenerates to) measures 0.53, well BELOW the 0.70 floor. If
    // this ever passes the floor, the floor no longer discriminates
    // and must be re-derived. (Swept r17: 16/1 → 0.83, 32/1 → 0.60,
    // 64/1 → 0.53, 128/1 → 0.30 — recall degrades monotonically with
    // fragmentation, as it should.)
    val r1 = meanRecall(q =>
      topIds(Ann.simAnnIvf(spark, sf01, q, k, nLists = 64, nProbe = 1)))
    info(f"ivf recall@10 at nLists=64 nProbe=1 = $r1%.2f (must be < 0.70)")
    assert(r1 < 0.70,
      s"degraded single-probe recall $r1 passes the floor — floor too loose")
  }

  test("IVF search at nProbe = nLists equals brute-force sim_search") {
    // the sim_ann_ivf_full oracle row's premise (r18): full probe
    // admits every non-query vector, so the IVF plan must reproduce
    // the brute-force top-10 row for row (ties on (cos_sim, vec_id))
    val brute = TextSim.simSearch(spark, sf01, 0L, 10).collect()
      .map(_.toString).toSeq
    val ivf = Ann.simAnnIvf(spark, sf01, 0L, 10, nLists = 16,
        nProbe = 16).collect()
      .map(_.toString).toSeq
    assert(ivf == brute,
      "full-probe IVF must equal sim_search row-for-row")
  }

  test("bucketed k-NN at nProbe = nLists equals the brute-force join") {
    val brute = TextSim.simKnn(spark, sf01, 5).collect()
      .map(_.toString).sorted.toSeq
    val bucketed = Ann.simKnnBucketed(spark, sf01, k = 5,
        nLists = 8, nProbe = 8).collect()
      .map(_.toString).sorted.toSeq
    assert(bucketed == brute,
      "full-probe bucketed k-NN must equal sim_knn row-for-row")
  }

  test("bucketed k-NN partial probe keeps a recall floor over all queries") {
    val brute = TextSim.simKnn(spark, sf01, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val part = Ann.simKnnBucketed(spark, sf01, k = 5,
        nLists = 8, nProbe = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rs = brute.keys.toSeq.map { q =>
      part.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble /
        brute(q).size
    }
    val mean = rs.sum / rs.length
    info(f"bucketed knn recall@5 at nProbe=2/8 = $mean%.2f over ${rs.length} queries")
    // measured 0.45 over all 500 queries (deterministic); floor at
    // measured − ~10% (r15 VERDICT #7 tightening from the original
    // 0.30, which a halved-recall bug would have cleared)
    assert(mean >= 0.40, s"bucketed k-NN recall collapsed: $mean")
    // mutation probe: the nProbe=1 degradation must trip this floor
    val part1 = Ann.simKnnBucketed(spark, sf01, k = 5,
        nLists = 8, nProbe = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mean1 = brute.keys.toSeq.map { q =>
      part1.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble /
        brute(q).size
    }.sum / brute.size
    info(f"bucketed knn recall@5 at nProbe=1/8 = $mean1%.2f (must be < 0.40)")
    assert(mean1 < 0.40,
      s"degraded nProbe=1 recall $mean1 passes the floor — floor too loose")
  }

  test("bucketed k-NN join keys on list_id, not a corpus broadcast") {
    val p = Ann.simKnnBucketed(spark, sf01, k = 5, nLists = 8, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("list_id"), "join must key on the coarse list")
  }
}

package graft


/** Lloyd-chaining (r19 VERDICT ask #3): the cold-start k-means train
  * compiles the seed + every iteration into ONE Spark job via the
  * column-matrix argmin and SQL-re-nested means. This suite pins the
  * contract: bit-parity with the legacy per-round driver loop (which
  * warm starts still use, reached here on a cold start through the
  * package-private `loop` parameter), the
  * single-job claim, and the loud failure modes (empty corpus, ragged
  * dims, wrong-dimension warm starts).
  */
class KmeansChainSpec extends SparkSpec {

  private def embeddings = ops.Sources.table(spark, sf, "embeddings")

  private def legacy(df: org.apache.spark.sql.DataFrame, k: Int,
                     iters: Int): Array[Array[Double]] =
    ops.Cluster.kmeansCentroids(df, k, iters, None, loop = true)

  private def assertSameCentroids(a: Array[Array[Double]],
                                  b: Array[Array[Double]]): Unit = {
    assert(a.length == b.length, "centroid counts differ")
    a.indices.foreach { i =>
      assert(java.util.Arrays.equals(a(i), b(i)),
        s"centroid $i differs: ${a(i).mkString(",")} vs " +
          s"${b(i).mkString(",")}")
    }
  }

  test("chained centroids are bit-identical to the legacy driver loop" +
      " on the fixture (k=8, iters=3)") {
    val chained = ops.Cluster.kmeansCentroids(embeddings, 8, 3)
    val loop = legacy(embeddings, 8, 3)
    assertSameCentroids(chained, loop)
  }

  test("bit-parity holds when k exceeds iters and clusters can empty " +
      "(crafted corpus, k=3, iters=4)") {
    import spark.implicits._
    // two tight groups + one far point whose seed-centroid loses its
    // membership after round 1 (the empty-cluster clone() rule)
    val rows = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.1, 0.0)),
      (3L, Array(0.05, 0.02)), (10L, Array(5.0, 5.0)),
      (11L, Array(5.1, 5.0)), (12L, Array(5.0, 5.1)),
      (20L, Array(9.9, 9.9)))
    val df = rows.toDF("vec_id", "embedding")
    val chained = ops.Cluster.kmeansCentroids(df, 3, 4)
    val loop = legacy(df, 3, 4)
    assertSameCentroids(chained, loop)
  }

  test("bit-parity across a SEGMENT boundary (iters=7 > chainSegment=5" +
      " — the plan-tree-doubling guard re-seeds from literals)") {
    val chained = ops.Cluster.kmeansCentroids(embeddings, 6, 7)
    val loop = legacy(embeddings, 6, 7)
    assertSameCentroids(chained, loop)
  }

  test("bit-parity on unhealthy mixtures (nulls, NaN, zero vectors)") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)),
      (5L, null.asInstanceOf[Array[Double]]),
      (6L, Array(Double.NaN, 1.0)), (7L, Array(0.0, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val chained = ops.Cluster.kmeansCentroids(df, 2, 3)
    val loop = legacy(df, 2, 3)
    assertSameCentroids(chained, loop)
  }

  test("fewer healthy vectors than k: both paths return the reduced " +
      "matrix") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0)))
      .toDF("vec_id", "embedding")
    val chained = ops.Cluster.kmeansCentroids(df, 5, 2)
    val loop = legacy(df, 5, 2)
    assert(chained.length == 2)
    assertSameCentroids(chained, loop)
  }

  test("chained cold-start train runs exactly ONE job (AQE off — " +
      "with AQE on, stage materialization splits ONE query into " +
      "per-exchange jobs for chained and legacy alike)") {
    val jobs = jobsOf(ops.Cluster.kmeansCentroids(embeddings, 8, 3))
    assert(jobs == 1,
      s"chained train fired $jobs jobs, expected 1 — a broadcast " +
        "or subquery crept into the chain (the shuffle_replicate_nl" +
        " cartesian must keep the matrix side in-job)")
  }

  test("empty healthy corpus fails loudly on the chained path") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0, 0.0)),
      (2L, null.asInstanceOf[Array[Double]])).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      ops.Cluster.kmeansCentroids(df, 2, 2)
    }
    assert(e.getMessage.contains("no healthy vectors"))
  }

  test("ragged embedding dimensionality fails loudly on the chained " +
      "path (nothing returned from garbage offsets)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(4.0, 5.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      ops.Cluster.kmeansCentroids(df, 2, 2)
    }
    assert(e.getMessage.contains("ragged embedding dimensionality"))
  }

  test("warm start with the wrong dimensionality fails loudly at " +
      "round 1 (r20 ADVICE)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0)),
      (3L, Array(5.0, 6.0))).toDF("vec_id", "embedding")
    val wrongDim = Some(Array(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
    val e = intercept[IllegalArgumentException] {
      ops.Cluster.kmeansCentroids(df, 2, 2, wrongDim)
    }
    assert(e.getMessage.contains("dimensionality"))
  }

  test("ragged warm start is rejected before any job (r20 ADVICE)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
    val ragged = Some(Array(Array(1.0, 2.0), Array(3.0)))
    val e = intercept[IllegalArgumentException] {
      ops.Cluster.kmeansCentroids(df, 2, 2, ragged)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("a correct warm start still trains (legacy loop path) and " +
      "agrees with the cold chained train at the fixed point") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.2, 0.0)),
      (3L, Array(10.0, 10.0)), (4L, Array(10.2, 10.0)))
    val df = rows.toDF("vec_id", "embedding")
    val cold = ops.Cluster.kmeansCentroids(df, 2, 5)
    // seeding with the converged centroids must be a fixed point
    val warm = ops.Cluster.kmeansCentroids(df, 2, 5, Some(cold))
    assertSameCentroids(cold, warm)
  }

  test("kmeansAssign (the query shape) is unchanged by chaining: " +
      "assignment matches the legacy loop's end to end") {
    val chained = ops.Cluster.kmeansAssign(embeddings, 8, 3)
      .select("vec_id", "cluster_id", "dist2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val loop = ops.Cluster.kmeansAssign(embeddings, 8, 3, loop = true)
      .select("vec_id", "cluster_id", "dist2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(chained === loop)
  }
}

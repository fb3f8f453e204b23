package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The centroid argmin (`CentroidArgminCol`, through
  * `VectorFunctions.centroidArgmin`) must be a drop-in for the
  * least(struct(d2, cid)…) expression tree it replaced: same fold order, same tie-break, same
  * NaN ordering, same short-vector rule — bit for bit, so every
  * recorded k-means/IVF/SemDeDup artifact reproduces across the swap.
  */
class CentroidParitySpec extends SparkSpec {

  // the r6–r12 formulation, verbatim: one DotProduct per centroid
  // under least(struct(d2, cid))
  private def oldAssign(centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.toIndexedSeq.map(lit): _*)
      val d2 = lit(c.map(x => x * x).sum) -
        lit(2.0) * VectorFunctions.dot(col("v"), cLit)
      struct(d2.as("d2"), lit(i).as("cid"))
    }
    least(scored.toIndexedSeq: _*)
  }

  private def vecs = {
    import org.apache.spark.sql.types._
    ops.Sources.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
  }

  test("bit-identical to the least(struct) form on the fixture, k=8") {
    val cents = ops.Cluster.kmeansCentroids(
      ops.Sources.table(spark, sf, "embeddings"), 8, 3)
    val both = vecs.select(col("vec_id"),
        oldAssign(cents).as("o"),
        VectorFunctions.centroidArgmin(col("v"), cents).as("n"))
      .select(col("vec_id"),
        col("o.cid").as("ocid"), col("n.cid").as("ncid"),
        graft.functions.VectorFunctions.dbits(col("o.d2")).as("od2"),
        graft.functions.VectorFunctions.dbits(col("n.d2")).as("nd2"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"cid drift on vec ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4),
        s"d2 bit drift on vec ${r.getLong(0)}")
    }
  }

  test("exact-tie between duplicate centroids resolves to the lower cid") {
    val cents = Array(Array(1.0, 0.0), Array(0.5, 0.5), Array(1.0, 0.0))
    val df = spark.range(1).select(
      expr("array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))").as("v"))
    val got = df.select(
      VectorFunctions.centroidArgmin(col("v"), cents)
        .getField("cid")).head().getInt(0)
    assert(got == 0, s"tie should keep the lower cid, got $got")
  }

  test("NaN centroid loses to any real centroid (struct-ordering rule)") {
    val cents = Array(Array(Double.NaN, 0.0), Array(10.0, 10.0))
    val df = spark.range(1).select(
      expr("array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))").as("v"))
    val both = df.select(
      oldAssign(cents).getField("cid").as("o"),
      VectorFunctions.centroidArgmin(col("v"), cents)
        .getField("cid").as("n")).head()
    assert(both.getInt(0) == both.getInt(1),
      s"NaN handling drift: old=${both.getInt(0)} new=${both.getInt(1)}")
    assert(both.getInt(1) == 1)
  }

  test("null vector propagates to a null assignment") {
    val df = spark.range(1)
      .select(lit(null).cast("array<double>").as("v"))
    val r = df.select(VectorFunctions
      .centroidArgmin(col("v"), Array(Array(1.0)))).head()
    assert(r.isNullAt(0))
  }

  test("independently built assignments are value-equal (CSE-able)") {
    // kmeansAssign builds the expression once per projected field;
    // if Array-field reference equality leaked into equals, Catalyst
    // subexpression elimination would see two distinct expressions
    // and evaluate the k·d loop twice per row
    val m = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val df = spark.range(1)
      .select(expr("array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))").as("v"))
      .select(
        VectorFunctions.centroidArgmin(col("v"), m.map(_.clone()))
          .getField("cid").as("a"),
        VectorFunctions.centroidArgmin(col("v"), m.map(_.clone()))
          .getField("d2").as("b"))
    val nodes = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case c: graft.functions.CentroidArgminCol => c })
    assert(nodes.length == 2)
    assert(nodes(0) == nodes(1), "content equality")
    assert(nodes(0).semanticEquals(nodes(1)), "semantic equality")
  }

  test("interpreted evaluation reads a per-call matrix without copying " +
      "it per row") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.{CallValue, CentroidArgminCol}
    // a matrix that counts its flat copies
    final class Counted(xs: Array[Double]) extends GenericArrayData(
        xs.map(x => x: Any)) {
      var copies = 0
      override def toDoubleArray(): Array[Double] = {
        copies += 1; super.toDoubleArray()
      }
    }
    val t = ArrayType(DoubleType, containsNull = false)
    def run(cached: Boolean): (Seq[Int], Int) = {
      val mat = new Counted(Array(0.0, 0.0, 4.0, 4.0))
      val norms = new Counted(Array(0.0, 32.0))
      val e = CentroidArgminCol(BoundReference(0, t, nullable = true),
        CallValue("centroids", mat, t), CallValue("centroid_norms", norms, t),
        cached)
      val cids = (0 until 64).map { i =>
        val v = new GenericArrayData(Array[Any](i / 16.0, i / 16.0))
        e.eval(InternalRow(v)).asInstanceOf[InternalRow].getInt(1)
      }
      (cids, mat.copies + norms.copies)
    }
    val (cached, cachedCopies) = run(cached = true)
    val (copied, rowCopies) = run(cached = false)
    assert(cached == copied, "cached and copying spellings disagree")
    assert(cached.toSet == Set(0, 1))
    assert(rowCopies == 128, s"the copying spelling copied $rowCopies times")
    assert(cachedCopies == 2,
      s"the cached spelling copied the matrix and norms $cachedCopies " +
        "times over 64 rows; once each per task is the contract")
  }

  test("generated code size is O(1) in k: k=256 plans and evaluates") {
    val cents = Array.tabulate(256, 16) { (c, i) =>
      (c * 16 + i).toDouble / 4096.0 }
    val df = spark.range(64).select(col("id"), expr(
      "transform(sequence(1, 16), i -> CAST(id * i AS DOUBLE) / 16.0)")
      .as("v"))
    val out = df.select(col("id"), VectorFunctions
        .centroidArgmin(col("v"), cents).getField("cid").as("cid"))
      .collect()
    assert(out.length == 64)
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 256))
    // and it matches the old form where the old form still compiles
    val old = df.select(col("id"),
      oldAssign(cents.map(_.toArray)).getField("cid").as("cid")).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      old.map(r => (r.getLong(0), r.getInt(1))).toSeq)
  }

  test("public column-matrix argmin is correct on a PER-ROW-VARYING " +
      "matrix (no flat-array cache on the public spelling)") {
    // r20 ADVICE: the storage-keyed per-task cache could serve a stale
    // matrix image when a recycled row buffer presents the old key
    // over new bytes. The public registration now copies per row; a
    // matrix that varies row to row must therefore always yield the
    // per-row-correct assignment. 64 rows, each row's 2x2 matrix puts
    // centroid 1 at the row's own vector, so cid must be 1 everywhere
    // (centroid 0 is fixed far away) — a stale cache would leave some
    // rows assigned to a neighbour row's matrix instead.
    val df = spark.range(64).select(col("id"),
      expr("array(CAST(id AS DOUBLE), CAST(id AS DOUBLE))").as("v"),
      expr("array(CAST(-1000.0 AS DOUBLE), CAST(-1000.0 AS DOUBLE), " +
        "CAST(id AS DOUBLE), CAST(id AS DOUBLE))").as("mat"),
      expr("array(CAST(2000000.0 AS DOUBLE), " +
        "CAST(2.0 * id * id AS DOUBLE))").as("norms"))
    val out = df.select(col("id"),
      VectorFunctions.centroidArgminCol(col("v"), col("mat"),
        col("norms")).getField("cid").as("cid")).collect()
    assert(out.length == 64)
    out.foreach { r =>
      assert(r.getInt(1) == 1,
        s"row ${r.getLong(0)}: per-row matrix ignored (cid=${r.getInt(1)})")
    }
  }

  test("trainer spelling (cached) matches the public spelling on a " +
      "partition-constant matrix") {
    val df = spark.range(128).repartition(2)
      .select(col("id"),
        expr("transform(sequence(1, 4), i -> CAST(id * i AS DOUBLE) / 8.0)")
          .as("v"),
        // constant matrix + norms per row (what the 1-row nl-join side
        // produces in the chained trainer)
        expr("array(CAST(0.5 AS DOUBLE), CAST(1.0 AS DOUBLE), " +
          "CAST(1.5 AS DOUBLE), CAST(2.0 AS DOUBLE), " +
          "CAST(8.0 AS DOUBLE), CAST(6.0 AS DOUBLE), " +
          "CAST(4.0 AS DOUBLE), CAST(2.0 AS DOUBLE))").as("mat"),
        expr("array(CAST(7.5 AS DOUBLE), CAST(120.0 AS DOUBLE))")
          .as("norms"))
    val both = df.select(col("id"),
      VectorFunctions.centroidArgminCol(col("v"), col("mat"),
        col("norms")).as("pub"),
      VectorFunctions.centroidArgminCol(col("v"), col("mat"),
        col("norms"), cached = true).as("tr"))
      .select(col("id"),
        col("pub.cid").as("pc"), col("tr.cid").as("tc"),
        graft.functions.VectorFunctions.dbits(col("pub.d2")).as("pd"),
        graft.functions.VectorFunctions.dbits(col("tr.d2")).as("td"))
      .collect()
    assert(both.length == 128)
    both.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"cid drift on row ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"d2 drift on row ${r.getLong(0)}")
    }
  }

  test("warm start: converged centroids are a fixed point and skip the seed") {
    val emb = ops.Sources.table(spark, sf, "embeddings")
    // generous cap so the fixed-point early exit, not the cap, ends
    // the train — the assertion below needs a genuinely converged fit
    val trained = ops.Cluster.kmeansCentroids(emb, 8, 50)
    // re-training FROM the trained centroids must reproduce them
    // bit-for-bit in one round (the decimal-exact means make the
    // fixed point well-defined), regardless of how many extra rounds
    // the caller allows
    val warm = ops.Cluster.kmeansCentroids(emb, 8, 50, Some(trained))
    assert(warm.length == trained.length)
    warm.indices.foreach { i =>
      assert(java.util.Arrays.equals(warm(i), trained(i)),
        s"centroid $i drifted under a converged warm start")
    }
    // a wrong-sized warm start fails loudly, not with a shape error
    intercept[IllegalArgumentException] {
      ops.Cluster.kmeansCentroids(emb, 8, 2,
        Some(trained.take(3)))
    }
  }
}

package graft

import graft.ops.Num
import org.apache.spark.sql.functions._

/** [[Num.exactPercentiles]] (sort + targeted order statistics) must be
  * BIT-IDENTICAL to the builtin `percentile` aggregate — same
  * `p·(n−1)` position, same WEIGHTED `lower·(1−frac) + upper·frac`
  * interpolation (NOT the algebraically-equal
  * `lower + (upper − lower)·frac`, whose double rounding differs in
  * the last bit), same equal-straddle shortcut, same null handling —
  * since oracle queries embed its results as literals where the
  * builtin's values used to flow.
  */
class ExactPercentilesSpec extends SparkSpec {

  private val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)

  private def builtin(df: org.apache.spark.sql.DataFrame,
                      c: String): Seq[Double] = {
    val arr = ps.mkString("array(", ",", ")")
    df.agg(expr(s"percentile($c, $arr)")).collect()(0)
      .getSeq[Double](0)
  }

  test("matches the builtin on duplicates, negatives, and irrational " +
    "interpolation positions") {
    import spark.implicits._
    // deterministic pseudo-random doubles with planted duplicates and
    // sign changes; 1003 rows (odd) exercises non-integral positions
    val vals = (0 until 1003).map { i =>
      val x = math.sin(i * 12.9898) * 43758.5453
      val frac = x - math.floor(x)
      (if (i % 7 == 0) -1 else 1) * (if (i % 13 == 0) 0.5 else frac) * 100
    }
    val df = vals.toDF("v")
    val got = Num.exactPercentiles(df, "v", ps)
    val want = builtin(df, "v")
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: exact $g != builtin $w")
    }
  }

  test("equal straddling order statistics short-circuit like the " +
    "builtin (duplicate run at a non-integral position)") {
    import spark.implicits._
    // 11 rows, p=0.52 → pos = 5.2, lo=5, hi=6, frac=0.2; sorted
    // positions 5 and 6 both hold v=0.84, for which
    // v·(1−0.2) + v·0.2 = 0.8400000000000001 ≠ v — without the
    // equal-value shortcut this test fails on the last bit.
    val v = 0.84
    assert(v * (1 - 0.2) + v * 0.2 != v,
      "fixture no longer exercises the last-bit case")
    val df = Seq(0.0, 0.1, 0.2, 0.3, 0.4, v, v, 0.9, 1.0, 1.1, 1.2)
      .toDF("v")
    val psDup = Seq(0.52)
    val got = Num.exactPercentiles(df, "v", psDup)
    val want = df.agg(expr("percentile(v, 0.52)")).collect()(0)
      .getDouble(0)
    assert(got == Seq(want) && got.head == v,
      s"got $got want $want (v=$v)")
  }

  test("ignores nulls exactly like the aggregate; single-row and " +
    "two-row interpolation agree") {
    import spark.implicits._
    val withNulls = Seq[Option[Double]](Some(3.0), None, Some(1.0),
      Some(2.0), None).toDF("v")
    assert(Num.exactPercentiles(withNulls, "v", ps) ==
      builtin(withNulls, "v"))
    val one = Seq(42.5).toDF("v")
    assert(Num.exactPercentiles(one, "v", ps) == builtin(one, "v"))
    val two = Seq(1.0, 2.0).toDF("v")
    assert(Num.exactPercentiles(two, "v", ps) == builtin(two, "v"))
  }

  test("refuses an all-null column (the aggregate would return null; " +
    "callers embed literals and must not embed NaN silently)") {
    import spark.implicits._
    val empty = Seq[Option[Double]](None, None).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Num.exactPercentiles(empty, "v", Seq(0.5))
    }
    assert(e.getMessage.contains("no non-null rows"))
  }

  test("percentileFromWindow reconstructs duplicate runs covering the " +
    "bracket (edge values enter as counts, including the equal-straddle " +
    "shortcut)") {
    import spark.implicits._
    // half the column is one value: the upper percentiles' brackets
    // land INSIDE the run, so both edges equal the run value and the
    // interior window is empty — the count-based reconstruction (and
    // at p=0.75, pos 751.5, the equal-value shortcut) must still be
    // exact. Brackets are order statistics 3 ranks either side of the
    // target, counted the way Num.refineCountAggs counts them.
    val vals = Seq.fill(500)(7.77) ++ (0 until 503).map(_ * 0.013)
    val sorted = vals.sorted.toIndexedSeq
    val n = vals.length.toLong
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val got = qs.map { p =>
      val pos = p * (n - 1)
      val blo = sorted(math.max(0, math.floor(pos).toInt - 3))
      val bhi = sorted(math.min(n.toInt - 1, math.ceil(pos).toInt + 3))
      Num.percentileFromWindow(n, p,
        below = vals.count(_ < blo).toLong,
        eqLo = vals.count(_ == blo).toLong,
        eqHi = vals.count(v => v == bhi && bhi != blo).toLong,
        win = sorted.filter(v => v > blo && v < bhi),
        blo = blo, bhi = bhi)
        .getOrElse(fail(s"p=$p: bracket ($blo, $bhi) missed"))
    }
    val arr = qs.mkString("array(", ",", ")")
    val want = vals.toDF("v").agg(expr(s"percentile(v, $arr)")).collect()(0)
      .getSeq[Double](0)
    assert(got == want)
    assert(got(3) == 7.77 && got(4) == 7.77)
  }
}

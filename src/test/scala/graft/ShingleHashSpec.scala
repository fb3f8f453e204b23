package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

/** graft_shingle: the hashed-shingle expression must behave exactly
  * like the string-shingle formulation it replaced — same count, same
  * equality structure — without ever building the strings.
  */
class ShingleHashSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def hashes(toks: Seq[String], n: Int = 3): Seq[Long] =
    Seq(Tuple1(toks)).toDF("toks")
      .select(VectorFunctions.shingle(col("toks"), n).as("h"))
      .as[Seq[Long]].collect()(0)

  test("shingle count is max(0, m - n + 1)") {
    val cases = Table(("toks", "n"),
      (Seq.empty[String], 3), (Seq("a"), 3), (Seq("a", "b"), 3),
      (Seq("a", "b", "c"), 3), (Seq("a", "b", "c", "d"), 3),
      (Seq("a", "b"), 1), (Seq("a", "b", "c", "d", "e"), 2))
    forAll(cases) { (toks, n) =>
      assert(hashes(toks, n).length == math.max(0, toks.length - n + 1))
    }
  }

  test("hash equality mirrors string-shingle equality") {
    // duplicate windows hash equal; distinct windows hash distinct
    val toks = Seq("x", "y", "z", "x", "y", "z", "w")
    val hs = hashes(toks)
    val grams = toks.sliding(3).map(_.mkString(" ")).toSeq
    for (i <- grams.indices; j <- grams.indices)
      assert((hs(i) == hs(j)) == (grams(i) == grams(j)),
        s"window $i vs $j: hashes ${hs(i)}/${hs(j)}, grams '${grams(i)}'/'${grams(j)}'")
  }

  test("order-sensitive: token order changes every overlapping hash") {
    assert(hashes(Seq("a", "b", "c")) != hashes(Seq("c", "b", "a")))
    // token-boundary confusion check: ("ab","c") must not equal ("a","bc")
    assert(hashes(Seq("ab", "c"), 2) != hashes(Seq("a", "bc"), 2))
  }

  test("deterministic across invocations and usable from SQL") {
    VectorFunctions.registerAll(spark)
    val a = spark.sql(
      "SELECT graft_shingle(array('p', 'q', 'r', 's'), 3) AS h").as[Seq[Long]].collect()(0)
    assert(a == hashes(Seq("p", "q", "r", "s")))
  }

  test("non-literal n is rejected with a clear message") {
    VectorFunctions.registerAll(spark)
    val e = intercept[Exception] {
      Seq(Tuple1(Seq("a", "b"))).toDF("toks")
        .selectExpr("graft_shingle(toks, size(toks))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("graft_shingle2: h1 chain is bit-identical to graft_shingle, " +
    "h2 is an independent second chain") {
    val toks = Seq("alpha", "beta", "gamma", "delta", "beta", "gamma")
    val df = Seq(Tuple1(toks)).toDF("toks")
    val pairs = df.select(VectorFunctions.shingle2(col("toks"), 3)
      .as("hh")).as[Seq[(Long, Long)]].collect()(0)
    assert(pairs.length == toks.length - 2)
    assert(pairs.map(_._1) == hashes(toks), "h1 must equal ShingleHash")
    assert(pairs.map(_._2).distinct.length == pairs.length,
      "distinct windows must get distinct h2 in this fixture")
    assert(pairs.map(_._1) != pairs.map(_._2),
      "the two chains must not collapse to the same values")
    // equal windows agree on BOTH lanes: repeat the text, compare
    val rep = df.select(VectorFunctions.shingle2(concat(col("toks"), col("toks")), 3).as("hh"))
      .as[Seq[(Long, Long)]].collect()(0)
    assert(rep(0) == rep(toks.length), "same window, same fingerprint")
    // short input: no windows, not a wrap-around
    val short = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(VectorFunctions.shingle2(col("toks"), 3).as("hh"))
      .as[Seq[(Long, Long)]].collect()(0)
    assert(short.isEmpty)
  }

  test("minhash signatures are identical for identical documents") {
    // end-to-end through NearDup: two docs with the same text must get
    // byte-identical signatures, a distinct doc must differ
    val sigs = graft.ops.NearDup.minhashSignatures(spark, sf, numHashes = 16)
    assert(sigs.count() > 0)
    val dupCheck = sigs.groupBy("sig").count()
    assert(dupCheck.count() > 0) // sanity: groupable array key
  }
}

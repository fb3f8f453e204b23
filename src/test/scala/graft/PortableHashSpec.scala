package graft

import graft.functions.VectorFunctions
import graft.ops.NearDup
import org.apache.spark.sql.functions._

/** The portable (md5-nibble 60-bit, oracle-checkable) twins of the
  * xxhash64 SimHash / MinHash production paths. The DuckDB oracle
  * proves cross-engine value parity at every SF; these specs pin the
  * algorithmic invariants the per-doc / 1-row outputs can't express:
  * the long-child `graft_simhash` contract, band recomposition, exact-dup
  * collision, and the no-false-candidate floor. Everything here is
  * md5-deterministic — no tolerance, no flake.
  */
class PortableHashSpec extends SparkSpec {

  test("graft_simhash over a precomputed long child equals the " +
    "per-bit vote formulation") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val hashes = Seq((1L, 0x0FAB1234L), (1L, 0x7FFFL), (1L, 3L),
      (2L, 0L), (2L, 1L << 59), (3L, (1L << 60) - 1))
      .toDF("doc_id", "th").repartition(3)
    val agg = hashes.groupBy("doc_id")
      .agg(call_function("graft_simhash", col("th")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bits = (0 until 64).map(lit(_))
    val expected = hashes
      .select(col("doc_id"), col("th").as("h"),
        explode(array(bits: _*)).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(h >> bit) & 1") === 1, 1L).otherwise(-1L))
        .as("vote"))
      .groupBy("doc_id")
      .agg(sum(when(col("vote") > 0, expr("shiftleft(1L, bit)"))
        .otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == expected, s"\nagg:      $agg\nexpected: $expected")
  }

  test("decomposed simhash query path equals the SQL graft_simhash " +
    "(production xxhash64 tokens, incl. negative hashes)") {
    import spark.implicits._
    VectorFunctions.registerAll(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow"))
      .toDF("doc_id", "text")
    val q = NearDup.simhash(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sql = docs
      .select(col("doc_id"), explode(array_distinct(
        split(lower(col("text")), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id")
      .agg(call_function("graft_simhash", col("token")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q == sql, s"\ndecomposed: $q\nsql:        $sql")
  }

  test("portable simhash: bands recompose, 60-bit range, exact dups " +
    "agree, tokenless docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content about spark engines"),
      (4L, "")).toDF("doc_id", "text")
    val out = NearDup.simhashPortable(docs).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    out.foreach { r =>
      val sh = r.getLong(1)
      assert(sh >= 0 && sh < (1L << 60), s"simhash out of 60-bit range: $sh")
      val b = (2 to 5).map(r.getLong)
      assert((b(0) << 45 | b(1) << 30 | b(2) << 15 | b(3)) == sh,
        s"bands ${b.mkString(",")} do not recompose $sh")
      b.foreach(x => assert(x >= 0 && x < 32768))
    }
    val m = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L), "exact duplicates must share the signature")
    assert(m(1L) != m(3L), "unrelated docs sharing a signature would " +
      "make every band a collision")
  }

  test("shingle simhash: exact dups share the signature (hamming 0), " +
    "disjoint docs land no shared band") {
    import spark.implicits._
    val a = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a),
      (3L, (1 to 20).map(i => s"zz$i").mkString(" ")),
      (4L, "too short")).toDF("doc_id", "text")
    val out = NearDup.simhashShinglePortable(docs).collect()
    // doc 4 has < 3 tokens -> no shingles -> absent
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val m = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L), "exact dups must share the shingle simhash")
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 8,
      s"unrelated shingle sets landed within the hamming cutoff: " +
        s"${java.lang.Long.bitCount(m(1L) ^ m(3L))}")
    out.foreach { r =>
      val sh = r.getLong(1)
      val b = (2 to 5).map(r.getLong)
      assert((b(0) << 45 | b(1) << 30 | b(2) << 15 | b(3)) == sh
        && sh >= 0 && sh < (1L << 60))
    }
  }

  test("portable minhash: exact dups collide in every slot; disjoint " +
    "corpora produce no pairs") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val dup = Seq((1L, a), (2L, a),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val r1 = NearDup.dedupMinhashPortable(dup, 16, 4, 0.4)
      .collect()(0)
    assert(r1.getLong(0) == 1L, s"expected exactly the (1,2) pair: $r1")
    assert(r1.getLong(1) == 16L, "an exact dup must agree in all 16 slots")
    assert(r1.getDouble(2) == 1.0)
    val disj = Seq((1L, "aa bb cc dd ee ff"), (2L, "gg hh ii jj kk ll"))
      .toDF("doc_id", "text")
    val r0 = NearDup.dedupMinhashPortable(disj, 16, 4, 0.4)
      .collect()(0)
    assert(r0.getLong(0) == 0L && r0.getLong(1) == 0L
      && r0.getDouble(2) == 0.0, s"disjoint docs produced pairs: $r0")
  }

  test("affineHashSql: the overflow-safe decomposition equals BigInt " +
    "(a*x + b) mod (2^61 - 1) across the x range and every seed") {
    import spark.implicits._
    val p = BigInt(NearDup.MersenneP)
    val xs = Seq(0L, 1L, (1L << 30) - 1, 1L << 30, (1L << 30) + 1,
      (1L << 59) + 12345L, (1L << 60) - 1, 987654321987L,
      NearDup.MersenneP % (1L << 60))
    val df = xs.toDF("th")
    NearDup.PortableSeeds.foreach { case (a, b) =>
      val got = df.selectExpr("th",
        NearDup.affineHashSql("th", a, b, "div") + " AS h")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      xs.foreach { x =>
        val want = ((BigInt(a) * BigInt(x) + BigInt(b)) mod p).toLong
        assert(got(x) == want,
          s"a=$a b=$b x=$x: got ${got(x)}, want $want")
      }
    }
  }

  test("ShingleStrings is bit-identical to the transform/concat_ws " +
    "lambda spelling, including nulls and short arrays") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("x", "y")),            // shorter than n -> empty
      (3L, Seq("", "q", "", "r")),    // empty tokens preserved
      (4L, Seq[String]())
    ).toDF("doc_id", "toks")
      .union(Seq((5L, Seq("u", null, "w", "v")))
        .toDF("doc_id", "toks"))      // null token: concat_ws skips
    val gen = df.select(col("doc_id"),
      graft.functions.VectorFunctions
        .shingleStrings(col("toks"), 3).as("sh"))
    val lam = df.select(col("doc_id"),
      transform(
        when(size(col("toks")) >= 3,
          sequence(lit(0), size(col("toks")) - 3))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))).as("sh"))
    val g = gen.collect().map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    val l = lam.collect().map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    assert(g == l, s"\ngen: $g\nlam: $l")
  }

  test("portable minhash: a one-token tail edit on a 30-token doc is " +
    "still caught (md5-deterministic)") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val edited = (1 to 29).map(i => s"tok$i").mkString(" ") + " CHANGED"
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val r = NearDup.dedupMinhashPortable(docs, 16, 4, 0.4)
      .collect()(0)
    // 27 of 29 union shingles shared (true jaccard 0.931): with 16
    // fixed md5 permutations the outcome is deterministic — the pair
    // banded together and passed the 0.4 estimate cutoff.
    assert(r.getLong(0) == 1L, s"near-dup pair not found: $r")
    assert(r.getLong(1) >= 7L, s"estimate below the declared cutoff: $r")
  }
}

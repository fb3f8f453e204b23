package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The winnowing guarantees: identical text → identical fingerprints;
  * a shared substring of length ≥ k+w−1 → at least one shared
  * fingerprint; short/empty text → empty set.
  */
class WinnowSpec extends SparkSpec {

  private def fps(texts: Seq[String], k: Int = 12, w: Int = 4): Seq[Set[Long]] = {
    import spark.implicits._
    texts.toDF("text")
      .select(VectorFunctions.winnow(col("text"), k, w).as("f"))
      .collect().toSeq.map(_.getSeq[Long](0).toSet)
  }

  test("identical documents yield identical fingerprint sets") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val Seq(a, b) = fps(Seq(t, t))
    assert(a == b && a.nonEmpty)
  }

  test("a long shared substring yields shared fingerprints") {
    val shared = "copied passage that appears verbatim in both documents"
    val Seq(a, b, c) = fps(Seq(
      s"unique prefix one $shared unique suffix one",
      s"totally different beginning $shared and a different end",
      "no overlap at all with either of the other two documents here"))
    assert((a intersect b).nonEmpty, "shared substring must collide")
    assert((a intersect c).isEmpty && (b intersect c).isEmpty,
      "unrelated text should not collide")
  }

  test("text shorter than k yields no fingerprints; null yields null") {
    val Seq(short) = fps(Seq("tiny"))
    assert(short.isEmpty)
    import spark.implicits._
    val r = Seq[Option[String]](None).toDF("text")
      .select(VectorFunctions.winnow(col("text")).as("f")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("doc_winnow is deterministic across runs") {
    val a = graft.ops.TextSim.docWinnow(spark, sf).collect().toSeq
    val b = graft.ops.TextSim.docWinnow(spark, sf).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("portable twin holds the winnowing guarantees on crafted docs") {
    import spark.implicits._
    val shared = "copied passage that appears verbatim in both documents " +
      "and is long enough to guarantee a shared winnow pick"
    val docs = Seq(
      (1L, s"unique prefix one $shared unique suffix one"),
      (2L, s"unique prefix one $shared unique suffix one"), // exact dup of 1
      (3L, "no overlap at all with either of the other two documents here"),
      (4L, "tiny")) // shorter than k: excluded
      .toDF("doc_id", "text")
    val out = graft.ops.TextSim.docWinnowPortable(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // identical text → identical (count, digest); short doc excluded
    assert(out(1L) == out(2L) && out(1L)._1 > 0)
    assert(out.contains(3L) && out(3L) != out(1L))
    assert(!out.contains(4L))
  }

  test("portable kernel equals the declarative pipeline row-for-row") {
    // the r17 kernel re-plan's referee: same (count, digest) for every
    // fixture doc plus crafted edges (multi-byte chars, len == k)
    import spark.implicits._
    val crafted = Seq(
      (9001L, "abcdefghijkl"),                      // exactly k chars
      (9002L, "café au lait avec des caractères accentués ici"),
      (9003L, "x" * 50),                            // degenerate: all equal
      (9004L, "the quick brown fox jumps over the lazy dog"),
      // astral (4-byte, surrogate-pair) chars: the kernel's byte-offset
      // table must agree with Spark substring's code-point indexing
      (9005L, "emoji 😀 mixed 🍕 text with astral 🚀 characters here"))
      .toDF("doc_id", "text")
    val fixture = graft.ops.Sources.table(spark, sf, "documents")
      .select("doc_id", "text")
    for (d <- Seq(crafted, fixture)) {
      val kern = graft.ops.TextSim.docWinnowPortable(d)
        .collect().map(_.toString).sorted.toSeq
      val decl = graft.ops.TextSim.docWinnowPortableDeclarative(d)
        .collect().map(_.toString).sorted.toSeq
      assert(kern == decl, s"kernel != declarative on ${d.schema}")
      assert(kern.nonEmpty)
    }
  }

  test("portable kernel equals the declarative pipeline on random docs") {
    // fixed-seed randomized equivalence: 80 docs over a mixed
    // alphabet (ASCII, 2-byte, 3-byte, astral), lengths 0..200 chars
    // — every (count, digest) must agree between the kernel and the
    // declarative explode/aggregate/window pipeline
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val alphabet: IndexedSeq[String] =
      ('a' to 'z').map(_.toString) ++ Seq(" ", " ", " ", "é", "ü", "中",
        "😀", "🚀")
    val docs = (1 to 80).map { i =>
      val len = rnd.nextInt(201)
      (i.toLong, (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString)
    }.toDF("doc_id", "text")
    val kern = graft.ops.TextSim.docWinnowPortable(docs)
      .collect().map(_.toString).sorted.toSeq
    val decl = graft.ops.TextSim.docWinnowPortableDeclarative(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(kern == decl,
      s"kernel != declarative on random docs: ${kern.size} vs ${decl.size}")
    assert(kern.size > 40, "most random docs should exceed k chars")
  }

  test("portable twin pick positions are sane on a hand-sized doc") {
    import spark.implicits._
    // one doc of 20 chars, k=12 → 9 windows of hashes, w=4 → 6
    // winnow windows: fingerprint count must be in [1, 6] and the
    // digest must be stable across runs
    val d = Seq((7L, "abcdefghijklmnopqrst")).toDF("doc_id", "text")
    val r1 = graft.ops.TextSim.docWinnowPortable(d).collect()(0)
    val r2 = graft.ops.TextSim.docWinnowPortable(d).collect()(0)
    assert(r1.getLong(1) >= 1 && r1.getLong(1) <= 6)
    assert(r1 == r2)
  }
}

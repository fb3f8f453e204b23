package graft

import org.scalatest.funsuite.AnyFunSuite

/** EXPLAINS.md staleness guard (r8 VERDICT #1): stale plans shipped
  * two rounds running because the document was refreshed by hand.
  * This spec regenerates the document from HEAD under ExplainDump's
  * canonical session config and fails on ANY diff — a plan-affecting
  * change cannot land without `sbt "runMain graft.ExplainDump"`
  * rewriting the committed file. ID normalization inside
  * `ExplainDump.render` is what makes this comparison JVM-order
  * independent (expression ids are global counters).
  *
  * Deliberately NOT extending SparkSpec: the recorded plans are the
  * bench session's static shapes (AQE off, 8 shuffle partitions),
  * not the test session's. `ExplainDump.acquire()` hands back an
  * isolated `newSession()` child when the shared test session is
  * active (owned = false) — the shared session's confs are never
  * touched and it is never stopped from here.
  */
class ExplainsSyncSpec extends AnyFunSuite {

  test("EXPLAINS.md matches the plans regenerated from HEAD") {
    val committedPath = java.nio.file.Paths.get("EXPLAINS.md")
    assert(java.nio.file.Files.exists(committedPath),
      "EXPLAINS.md missing — run: sbt \"runMain graft.ExplainDump\"")
    val committed = java.nio.file.Files.readString(committedPath)
    val (spark, owned) = ExplainDump.acquire()
    spark.sparkContext.setLogLevel("ERROR")
    val regenerated =
      try ExplainDump.render(spark, ExplainDump.DefaultSf)
      finally if (owned) spark.stop()
    if (committed != regenerated) {
      val cl = committed.linesIterator.toVector
      val rl = regenerated.linesIterator.toVector
      val firstDiff = cl.zip(rl).indexWhere { case (a, b) => a != b } match {
        case -1 => math.min(cl.size, rl.size) // one is a prefix of the other
        case i  => i
      }
      val ctx = (math.max(0, firstDiff - 2) until
        math.min(math.max(cl.size, rl.size), firstDiff + 4)).map { i =>
        f"$i%5d | ${cl.lift(i).getOrElse("<EOF>")}%-60.60s | ${rl.lift(i).getOrElse("<EOF>")}"
      }.mkString("\n")
      fail(
        s"""EXPLAINS.md is stale: a plan or note changed without regenerating the doc.
           |Refresh it with: sbt "runMain graft.ExplainDump"   (then commit the diff)
           |First divergence at line $firstDiff (committed | regenerated):
           |$ctx""".stripMargin)
    }
  }

  test("normalize masks typed-Dataset closure identities") {
    // one plan with two closures, as two JVMs render it: the hidden-
    // class number, address and identity hash all differ, ids too
    def plan(f: String, g: String, id: Int): String =
      "(3) MapElements\nArguments: graft.ops.Multimodal$$$Lambda$" + f +
        ", obj#" + id + ": struct<doc_id:bigint>\n" +
        "(4) MapElements\nArguments: graft.ops.Multimodal$$$Lambda$" + g +
        "\n(5) MapElements\nArguments: graft.ops.Multimodal$$$Lambda$" + f +
        "\n"
    val a = ExplainDump.normalize(plan("6196/0x00007effb17422b0@2ffc3d5e",
      "6197/0x00007effb17424c8@51a3b1f0", 41))
    val b = ExplainDump.normalize(plan("812/0x000071c2a0b3c9f8@6d1b0a77",
      "813/0x000071c2a0b3cc10@1f2e3d4c", 7))
    assert(a == b)
    assert(a == plan("1", "2", 1), s"unexpected masking:\n$a")
  }

  test("normalize masks RDD ids and call-site lines of checkpointed scans") {
    // a checkpointed scan as two runs render it: the RDD id is a
    // SparkContext counter and the line moves with edits to the file
    def plan(rdd: Int, line: Int, id: Int): String =
      "(1) Scan ExistingRDD\nOutput [2]: [doc_a#" + id + "L, doc_b#" +
        (id + 1) + "L]\nArguments: [doc_a#" + id + "L, doc_b#" + (id + 1) +
        "L], MapPartitionsRDD[" + rdd + "] at localCheckpoint at " +
        "NearDup.scala:" + line + ", ExistingRDD, UnknownPartitioning(0)\n"
    val a = ExplainDump.normalize(plan(302, 182, 41))
    assert(a == ExplainDump.normalize(plan(17, 1219, 7)))
    assert(a == plan(1, 0, 1).replace("NearDup.scala:0", "NearDup.scala:_"),
      s"unexpected masking:\n$a")
  }
}

package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The plan gate: regenerates both plan records from HEAD — EXPLAINS.md
  * and the `plans/current/` corpus, one file per declared query and
  * per `ExplainDump.pipelines` entry — by running ExplainDump's main
  * in a fresh JVM, and fails on ANY difference. A plan-affecting
  * change cannot land without `sbt "runMain graft.ExplainDump"`
  * rewriting the committed records, and the PR diff under
  * `plans/current/` shows the change. (The gate exists because stale
  * EXPLAINS.md plans shipped two rounds running when the document was
  * refreshed by hand.) ID normalization inside `ExplainDump.formatted`
  * makes the text a function of plan shape, not of id values. The
  * in-JVM case builds on the shared test session: it is the same
  * [[EngineSession]] the dump runs on, at 4 cores.
  */
class ExplainsSyncSpec extends SparkSpec {
  import ExplainsSyncSpec.corpusDiff

  private val Regen =
    "sbt \"runMain graft.ExplainDump\"   (then: git diff --stat plans/current, and commit)"

  /** Both records as `sbt "runMain graft.ExplainDump"` writes them:
    * the same main, in a fresh JVM with this JVM's options and class
    * path, run in a scratch directory. Not in this JVM: expression ids
    * are JVM-global counters and Spark orders some plan parts by
    * hashes of them (RewriteDistinctAggregates' distinct groups, so
    * `agg_distinct`'s Expand), so after the suite's other specs the
    * same plan can render reordered. A fresh JVM builds every plan
    * from the same ids every time. */
  private lazy val regenerated: Path = {
    val dir = Files.createTempDirectory("explaindump")
    scratch = Some(dir)
    val log = dir.resolve("explaindump.log")
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Paths.get(sys.props("java.home"), "bin", "java").toString +:
      jvm.toSeq :++ Seq("-cp", sys.props("java.class.path"), "graft.ExplainDump")
    val proc = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    val done = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) proc.destroyForcibly()
    assert(done && proc.exitValue == 0, s"ExplainDump failed:\n" +
      Files.readAllLines(log).asScala.takeRight(40).mkString("\n"))
    dir
  }
  private var scratch: Option[Path] = None

  override def afterAll(): Unit = try scratch.foreach { dir =>
    val paths = Files.walk(dir)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally paths.close()
  } finally super.afterAll()

  /** Fails listing every file of `committed` (text by file name) that
    * differs from `generated`, with the regen command. */
  private def gate(committed: Map[String, String],
                   generated: Map[String, String]): Unit = {
    val problems = corpusDiff(committed, generated)
    if (problems.nonEmpty)
      fail(s"${problems.size} plan record(s) differ from the plans " +
        "regenerated from HEAD:\n" + problems.mkString("\n") +
        s"\nRegenerate with: $Regen")
  }

  test("EXPLAINS.md matches the plans regenerated from HEAD") {
    val committed = Paths.get("EXPLAINS.md")
    assert(Files.exists(committed), s"EXPLAINS.md missing — run: $Regen")
    gate(Map("EXPLAINS.md" -> Files.readString(committed)),
      Map("EXPLAINS.md" -> Files.readString(regenerated.resolve("EXPLAINS.md"))))
  }

  test("plans/current matches the plans regenerated from HEAD") {
    val dir = Paths.get(ExplainDump.CorpusDir)
    assert(Files.isDirectory(dir), s"${ExplainDump.CorpusDir} missing — run: $Regen")
    gate(ExplainDump.readCorpus(dir),
      ExplainDump.readCorpus(regenerated.resolve(ExplainDump.CorpusDir)))
  }

  test("the stand-in kernels render the same text in two independently " +
    "built frames") {
    // a broadcast id and a matrix identity hash differ per frame (and
    // per JVM); the bloom probe and the centroid argmin render neither
    val names = Set("dedup_bloom_pipeline", "dedup_semantic_pipeline",
      "cluster_kmeans_pipeline")
    def build() = ExplainDump.pipelines(spark, ExplainDump.DefaultSf)
      .collect { case (n, mk) if names(n) => n -> ExplainDump.formatted(mk()) }
    val (a, b) = (build(), build())
    assert(a.map(_._1).toSet == names)
    val differing = a.zip(b).collect { case ((n, x), (_, y)) if x != y => n }
    assert(differing.isEmpty,
      s"rendered differently in two frames: ${differing.mkString(", ")}")
  }

  test("corpusDiff names every missing, extra and changed file with its " +
    "first differing line") {
    val committed = Map("a.txt" -> "x\ny\nz\n", "b.txt" -> "same\n",
      "gone.txt" -> "old\n")
    val regenerated = Map("a.txt" -> "x\nY\nz\n", "b.txt" -> "same\n",
      "new.txt" -> "fresh\n")
    assert(corpusDiff(committed, regenerated) == Seq(
      "changed a.txt at line 2: committed `y`, regenerated `Y`",
      "extra   gone.txt (committed, no longer generated)",
      "missing new.txt (generated, not committed)"))
    assert(corpusDiff(regenerated, regenerated).isEmpty)
    // a file that only grew differs where the shorter one ends
    assert(corpusDiff(Map("c.txt" -> "x\n"), Map("c.txt" -> "x\ny\n")) ==
      Seq("changed c.txt at line 2: committed `<EOF>`, regenerated `y`"))
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

object ExplainsSyncSpec {

  /** One line per file that differs between the committed and the
    * regenerated records (text by file name), sorted by file name:
    * a changed file with its first differing line (1-based), a
    * committed file no longer generated, a generated file not
    * committed. Empty when the two agree. */
  def corpusDiff(committed: Map[String, String],
                 regenerated: Map[String, String]): Seq[String] =
    (committed.keySet ++ regenerated.keySet).toSeq.sorted.flatMap { f =>
      (committed.get(f), regenerated.get(f)) match {
        case (Some(c), Some(r)) if c != r =>
          val (cl, rl) = (c.linesIterator.toVector, r.linesIterator.toVector)
          val i = cl.indices.find(i => rl.lift(i) != Some(cl(i)))
            .getOrElse(cl.size)
          def at(ls: Vector[String]) = ls.lift(i).getOrElse("<EOF>")
          Some(s"changed $f at line ${i + 1}: committed `${at(cl)}`, " +
            s"regenerated `${at(rl)}`")
        case (Some(_), None) =>
          Some(s"extra   $f (committed, no longer generated)")
        case (None, Some(_)) =>
          Some(s"missing $f (generated, not committed)")
        case _ => None
      }
    }
}

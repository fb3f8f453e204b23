package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark itself (run with `perfbench/run.py --selftest`):
  * the digest, the input generator, failure accounting and the printed
  * metrics. Prints one line per test; exits non-zero on any failure. */
object SelfTest {
  private val results = ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case t: Throwable => Some(String.valueOf(t)) }
    results += name -> r
    System.out.println(s"${if (r.isEmpty) "ok  " else "FAIL"} $name${r.map(" — " + _).getOrElse("")}")
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** An operation with a scripted behaviour, for the failure accounting test. */
  private final class Scripted(name: String, body: () => Unit, wrong: Boolean)
      extends Op(name, "SelfTest") {
    def execute(spark: SparkSession, phase: Phases): AnyRef = phase("execute") { body(); "out" }
    def check(spark: SparkSession, out: AnyRef): Option[String] =
      if (wrong) Some("scripted mismatch") else None
  }

  def run(a: Args): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.out.resolve("tmp/selftest").toAbsolutePath.toString)
      .getOrCreate()
    val base = spark.range(0, 2000).selectExpr("id", "CAST(id AS DOUBLE) * 0.37 AS x",
      "CAST(id % 13 AS STRING) AS s", "array(id, id + 1) AS arr")

    test("digest ignores row order, partitioning and column order") {
      val d = Digest.of(base)
      check(Digest.of(base.orderBy(desc("id")).repartition(7)) == d, "reordered rows changed it")
      check(Digest.of(base.select("s", "arr", "x", "id")) == d, "column order changed it")
    }
    test("digest absorbs float noise below 6 dp and sees real changes") {
      val d = Digest.of(base)
      check(Digest.of(base.withColumn("x", col("x") + 1e-9)) == d, "1e-9 noise changed it")
      check(Digest.of(base.withColumn("x", col("x") + 1e-4)) != d, "1e-4 change went unseen")
      check(Digest.of(base.union(base.limit(1))) != d, "a duplicated row went unseen")
      check(Digest.of(base).rows == 2000L, "row count")
    }
    test("generator: same seed, identical bytes; other seed, other bytes") {
      def bytes(u: Gen.Users) = u.files.map(_.getBytes(UTF_8).toSeq)
      def text(c: Gen.Corpus) = c.docs.map(d => (d.id, d.text.getBytes(UTF_8).toSeq, d.source))
      check(bytes(Gen.users(7, 5000, 16)) == bytes(Gen.users(7, 5000, 16)), "users differ")
      check(bytes(Gen.users(7, 5000, 16)) != bytes(Gen.users(8, 5000, 16)), "seed ignored (users)")
      check(text(Gen.corpus(7, 300)) == text(Gen.corpus(7, 300)), "corpus differs")
      check(Gen.corpus(7, 300).expected == Gen.corpus(7, 300).expected, "expected counts differ")
      check(text(Gen.corpus(7, 300)) != text(Gen.corpus(8, 300)), "seed ignored (corpus)")
      val u = Gen.users(7, 5000, 16)
      check(u.valid < u.total && u.distinctValid < u.valid, s"no planted rejects/duplicates: $u")
      val e = Gen.corpus(7, 300).expected
      check(e.input > e.afterExactDedup && e.afterExactDedup > e.afterNearDedup &&
        e.afterNearDedup > e.afterDecontamination && e.afterDecontamination > e.afterQuality,
        s"a planted class is missing: $e")
    }
    test("stream check reads every consumed file and its batch from the source log") {
      val ck = Files.createTempDirectory(a.out.resolve("tmp"), "selftest-ck")
      val log = Files.createDirectories(ck.resolve("sources/0"))
      def entry(f: String, b: Int) =
        s"""{"path":"file:///x/in/$f","timestamp":1,"batchId":$b}"""
      Files.write(log.resolve("0"), Seq("v1", entry("a.parquet", 0), entry("b.parquet", 0))
        .mkString("\n").getBytes(UTF_8))
      Files.write(log.resolve("1"), Seq("v1", entry("c.parquet", 1), "").mkString("\n").getBytes(UTF_8))
      Files.write(log.resolve(".1.crc"), Array[Byte](1, 2))
      val got = StreamCheck.sourceLog(ck).sorted
      Fs.rm(ck)
      check(got == Seq("a.parquet" -> 0L, "b.parquet" -> 0L, "c.parquet" -> 1L), s"read $got")
    }
    test("a throwing, hanging or mismatching operation counts as failed and is not timed") {
      val r = new Runner(a.copy(opTimeoutS = 1.0))
      val ops = Seq(
        new Scripted("fine", () => Thread.sleep(50), wrong = false),
        new Scripted("throws", () => throw new IllegalStateException("boom"), wrong = false),
        new Scripted("hangs", () => Thread.sleep(30000), wrong = false),
        new Scripted("mismatches", () => (), wrong = true))
      val execs = for (p <- 0 to 1; op <- ops)
        yield r.runOnce(spark, op, p, check = p == 0, None, -1, "selftest")
      val failed = execs.filterNot(_.ok)
      check(execs.size == 8, "attempted")
      check(failed.map(e => (e.op.name, e.pass)).toSet ==
        Set(("throws", 0), ("hangs", 0), ("mismatches", 0), ("throws", 1), ("hangs", 1)),
        s"failed: ${failed.map(e => (e.op.name, e.pass, e.error))}")
      check(failed.forall(_.error.nonEmpty), "failure without a cause")
      val s = Runner.summarize(execs, timed = Seq(1))
      check(s.excluded == Set("throws", "hangs", "mismatches"), s"excluded ${s.excluded}")
      val fine = execs.filter(_.op.name == "fine").map(_.wallNs / 1e9)
      check(s.coldS == fine(0) && s.warmOpS == Seq(fine(1)) && s.warmPasses == Seq(fine(1)),
        s"timings include failed operations: $s vs $fine")
      val fineCpu = execs.filter(_.op.name == "fine").map(_.cpuNs / 1e9)
      check(s.coldCpuS == fineCpu(0) && s.warmCpuPasses == Seq(fineCpu(1)),
        s"CPU times include failed operations: $s vs $fineCpu")
    }
    test("every metric prints by name with its unit, as BENCHMARK.json declares") {
      val spec = Json.parse(new String(Files.readAllBytes(Paths.get(a.root, "BENCHMARK.json")), UTF_8))
        .asInstanceOf[Map[String, Any]]
      def declared(k: String) = spec(k).asInstanceOf[Seq[Map[String, Any]]]
        .map(m => m("name").asInstanceOf[String] -> m("unit").asInstanceOf[String])
      for ((key, metrics) <- Seq("end_to_end" -> Runner.EndToEnd, "per_layer" -> Runner.PerLayer)) {
        check(declared(key) == metrics, s"$key: harness $metrics vs BENCHMARK.json ${declared(key)}")
        val o = Runner.Outcome(correct = true, attempted = 3, failed = 0,
          metrics.map { case (n, u) => n -> (1.25, u) })
        val line = Json.parse(Main.result(o)).asInstanceOf[Map[String, Any]]
        check(line.keySet == Set("correct", "attempted", "failed", "metrics"), s"keys ${line.keySet}")
        val printed = line("metrics").asInstanceOf[Map[String, Map[String, Any]]]
        check(printed.keySet == metrics.map(_._1).toSet, s"$key names")
        metrics.foreach { case (n, u) =>
          check(printed(n)("unit") == u && printed(n)("value") == 1.25, s"$n printed ${printed(n)}")
        }
      }
    }
    spark.stop()
    val bad = results.count(_._2.nonEmpty)
    System.out.println(s"selftest: ${results.size - bad} passed, $bad failed")
    if (bad > 0) sys.exit(1)
  }
}

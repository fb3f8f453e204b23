package graft

import graft.ops.ShuffleWidth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Era-parity: each reference pipeline generation runs end-to-end on
  * reference-shaped users CSV data and reproduces its behavior
  * (counts, splits, cleaning, metrics, alerts, streaming loop).
  */
class PipelinesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeCsv(dir: String, name: String, rows: Seq[String]): String = {
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    w.write(("name,age,email" +: rows).mkString("", "\n", "\n"))
    w.close()
    f.getPath
  }

  private val goodRows = Seq(
    "alice,30,alice@example.com",
    "bob,41,bob@example.com",
    "carol,25,carol@example.com")
  private val badRows = Seq(
    ",19,missing-name@example.com",   // blank name
    "dan,notanint,dan@example.com",   // unparseable age
    "erin,200,erin@example.com",      // age out of range
    "frank,33,no-at-sign")            // bad email

  test("2016: extract-transform-load uppercases and casts") {
    val in = writeCsv(tmp("p16"), "users.csv", goodRows)
    val out = tmp("p16o")
    assert(Pipelines.basic2016(spark, in, out) == 3)
    val names = spark.read.parquet(out).select("name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("ALICE", "BOB", "CAROL"))
    assert(spark.read.parquet(out).schema("age").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("2018: validation splits valid rows from reasoned rejects") {
    val in = writeCsv(tmp("p18"), "users.csv", goodRows ++ badRows)
    val (out, rej) = (tmp("p18o"), tmp("p18r"))
    val r = Pipelines.validated2018(spark, in, out, rej)
    assert(r == Pipelines.ValidatedLoad(3, 4))
    val reasons = spark.read.parquet(rej).select("reason")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(reasons == Seq("invalid_age", "invalid_age", "invalid_email",
      "invalid_name"))
  }

  test("2020: glob union + observe metrics count both branches") {
    val dir = tmp("p20")
    writeCsv(dir, "input_1.csv", goodRows)
    writeCsv(dir, "input_2.csv", badRows)
    writeCsv(dir, "output.csv", Seq("x,1,x@y"))  // skipped by glob
    val metrics = Pipelines.parallel2020(spark, dir, tmp("p20o"))
    assert(metrics("n_rows") == 7L)
    assert(metrics("n_valid") == 3L)
    assert(metrics("n_invalid") == 4L)
  }

  test("2022: dedup + impute + report + alerts") {
    val in = writeCsv(tmp("p22"), "users.csv",
      goodRows ++ goodRows ++ badRows) // duplicates + rejects
    val r = Pipelines.quality2022(spark, in, tmp("p22o"))
    assert(r.loaded == 3, "duplicates must collapse")
    assert(r.report.totalRows == 10)
    assert(r.report.validRows == 6)
    assert(r.report.dupRows == 3)
    // 60% valid < 90% threshold -> alert fires
    assert(r.alerts.exists(_.startsWith("low_valid_rate")))
  }

  test("2025: streaming loop applies the same transform per micro-batch") {
    val (in, out, ck, arch) = (tmp("p25i"), tmp("p25o"), tmp("p25c"),
      tmp("p25a"))
    writeCsv(in, "batchfile.csv", goodRows ++ badRows)
    // file source reads CSV dirs of matching schema? fileStream is
    // parquet-based — feed it parquet like the driver's queue would
    val users = Pipelines.usersSchema
    spark.read.schema(users).option("header", "true")
      .csv(s"$in/batchfile.csv").write.mode("overwrite")
      .parquet(s"$in/stream")
    val q = Pipelines.streaming2025(spark, s"$in/stream", out, ck, arch)
      .start()
    q.processAllAvailable()
    q.stop()
    val loaded = spark.read.parquet(s"$out/batch_id=0")
    assert(loaded.count() == 3)
    assert(loaded.filter(col("name") === "ALICE").count() == 1)
  }

  test("2016/2018/2022 over a header-only CSV load 0 rows (no hang)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the eras count rows on the write; an empty input must still
    // report a count instead of blocking on it forever
    def within[T](body: => T): T = Await.result(Future(body), 120.seconds)
    val in = writeCsv(tmp("p0"), "users.csv", Nil)
    assert(within(Pipelines.basic2016(spark, in, tmp("p0a"))) == 0L)
    assert(within(Pipelines.validated2018(spark, in, tmp("p0b"),
      tmp("p0r"))) == Pipelines.ValidatedLoad(0, 0))
    assert(within(Pipelines.quality2022(spark, in, tmp("p0c"))).loaded == 0L)
  }

  /** Asserts `run` fails writing under `blocked` (a regular file, so
    * no directory can be created beneath it) and leaves the session's
    * cached plan count where it was. */
  private def releasesOnFailedWrite(run: String => Any): Unit = {
    def cachedPlans: Int = org.apache.spark.sql.grafttest.CachedPlans.count(spark)
    val blocked = java.io.File.createTempFile("blocked", ".file")
    val before = cachedPlans
    intercept[Exception](run(new java.io.File(blocked, "out").getPath))
    assert(cachedPlans == before,
      s"cached plans went from $before to $cachedPlans")
  }

  test("2018: a failed load releases the input cache") {
    val in = writeCsv(tmp("pf18"), "users.csv", goodRows ++ badRows)
    releasesOnFailedWrite(out =>
      Pipelines.validated2018(spark, in, out, tmp("pf18r")))
  }

  test("2022: a failed load releases the input cache") {
    val in = writeCsv(tmp("pf22"), "users.csv", goodRows ++ badRows)
    releasesOnFailedWrite(out => Pipelines.quality2022(spark, in, out))
  }

  /** `body` with `confs` set on the shared session, each key restored
    * (or unset) afterwards. */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The packed rows `curationOver` wrote to `dir`, sorted. */
  private def packed(dir: String): Seq[(Long, String, Long)] =
    spark.read.parquet(dir).select("doc_id", "text", "bin_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted

  test("each era and curationOver count what they write: job budget") {
    val in = writeCsv(tmp("pj"), "users.csv", goodRows ++ badRows)
    assert(jobsOf(Pipelines.basic2016(spark, in, tmp("pja"))) == 1)
    assert(jobsOf(Pipelines.validated2018(spark, in, tmp("pjb"),
      tmp("pjr"))) == 2)
    assert(jobsOf(Pipelines.quality2022(spark, in, tmp("pjq"))) == 3)
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val n = jobsOf(Pipelines.curationOver(spark, docs, None, tmp("pjc")))
    assert(n <= 11, s"curationOver ran $n jobs")
  }

  /** curationOver as a chain of per-stage joins: `docs ⋈ exactKeep`,
    * left-anti the near-dup drops and the contaminated ids, inner
    * joins with the three TextSim operators' keep sets, one count per
    * stage — the semantics the verdict must reproduce. */
  private def curationByJoins(docs: DataFrame, embeddings: Option[DataFrame],
                              outDir: String, clusterCap: Option[Int],
                              survivorPolicy: String,
                              spanScrub: Option[Int]): Pipelines.CurationRun = {
    import graft.ops.{Cluster, NearDup, Sampling, TextSim}
    import org.apache.spark.sql.expressions.Window
    val exactKeep = docs
      .select(col("doc_id"), sha2(trim(lower(col("text"))), 256).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id")).select("doc_id")
    val d1 = docs.join(exactKeep, "doc_id")
    val cc = NearDup.connectedComponents(
      NearDup.dedupNgram(docs, 3, 20, 0.2).select("doc_a", "doc_b"))
    val nearDrop = survivorPolicy match {
      case "min-id" =>
        cc.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      case _ =>
        val withLen = cc
          .join(docs.select(col("doc_id"), length(col("text")).as("len")),
            "doc_id")
          .select(col("cluster_id"), col("doc_id"),
            graft.ops.Num.packDesc(col("len").cast("decimal(18,0)"),
              col("doc_id"), "test").as("packed"))
        withLen.join(withLen.groupBy("cluster_id")
            .agg(max(col("packed")).as("pmx")), "cluster_id")
          .filter(col("packed") =!= col("pmx")).select("doc_id")
    }
    val d2 = d1.join(nearDrop, Seq("doc_id"), "left_anti")
    val isEval = Sampling.hexNibble(col("doc_id")) >= "e"
    val contaminated = NearDup.decontaminateAgainst(
        docs.filter(!isEval).select("doc_id", "text"),
        docs.filter(isEval).select("doc_id", "text"))
      .select("doc_id")
    val d3 = d2.join(contaminated, Seq("doc_id"), "left_anti")
    val d4 = d3
      .join(TextSim.textQuality(docs).filter(col("quality_ok"))
        .select("doc_id"), "doc_id")
      .join(TextSim.textRepetition(docs).filter(!col("repetitive"))
        .select("doc_id"), "doc_id")
      .join(TextSim.textEntropy(docs).filter(col("entropy") > 1.0)
        .select("doc_id"), "doc_id")
    val d4b = clusterCap match {
      case None => d4
      case Some(cap) =>
        val assign = Cluster.kmeansAssign(embeddings.get, k = 8,
            iters = 3)
          .select(col("vec_id").as("doc_id"), col("cluster_id"))
        val overCap = d4.select("doc_id").join(assign, "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("cluster_id").orderBy("doc_id")))
          .filter(col("rn") > cap).select("doc_id")
        d4.join(overCap, Seq("doc_id"), "left_anti")
    }
    val train0 = d4b.filter(Sampling.hexNibble(col("doc_id")) < "c")
    val train = spanScrub match {
      case None => train0
      case Some(nSpan) =>
        train0.drop("text")
          .join(NearDup.scrubSpansText(
              train0.select("doc_id", "text"), nSpan)
            .select(col("doc_id"), col("scrubbed_text").as("text")),
            "doc_id")
          .filter(length(trim(col("text"))) > 0)
    }
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    train
      .withColumn("text", regexp_replace(col("text"), "[0-9]{4,}", "<ID>"))
      .withColumn("n_tokens",
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("bin_id", floor(
        (sum(col("n_tokens")).over(w) - col("n_tokens")) / 256.0))
      .write.mode("overwrite").parquet(outDir)
    val out = spark.read.parquet(outDir)
    Pipelines.CurationRun(docs.count(), d1.count(), d2.count(), d3.count(),
      d4.count(), out.count(),
      out.select("source", "bin_id").distinct().count())
  }

  test("2026: the one-verdict run equals the per-stage join chain") {
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val emb = graft.ops.Sources.table(spark, sf, "embeddings")
    // the fixture sits under the interpret rule, so this compares an
    // interpreted run with a codegen join chain
    assert(ShuffleWidth.interprets(spark,
      docs.queryExecution.optimizedPlan.stats.sizeInBytes))
    val runs = Seq[(String, Option[Int], String, Option[Int])](
      ("min-id", None, "min-id", None),
      ("quality", None, "quality", None),
      ("spanScrub", None, "min-id", Some(8)),
      ("clusterCap", Some(3), "min-id", None)).map {
      case (label, cap, policy, scrub) =>
        val (got, want) = (tmp("cv"), tmp("cj"))
        val run = Pipelines.curationOver(spark, docs, cap.map(_ => emb), got,
          clusterCap = cap, survivorPolicy = policy, spanScrub = scrub)
        val expected = curationByJoins(docs, cap.map(_ => emb), want, cap,
          policy, scrub)
        assert(run == expected, label)
        assert(packed(got) == packed(want), label)
        label -> run
    }.toMap
    // these options change the run on this fixture, so their cases
    // test something (its train split holds no duplicated 8-token
    // span, so spanScrub is pinned by equality alone)
    Seq("quality", "clusterCap").foreach { label =>
      assert(runs(label) != runs("min-id"), s"$label changed nothing")
    }
  }

  test("2022/2026: results do not depend on the caller's width or AQE") {
    // the pipelines size their own shuffles from their input; the
    // caller's width is only the cap, so 1, 8 and 200 and AQE on must
    // give the same runs, counts and packed rows
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val emb = graft.ops.Sources.table(spark, sf, "embeddings")
    val in = writeCsv(tmp("pw"), "users.csv", goodRows ++ goodRows ++ badRows)
    val options = Seq[(Option[Int], String, Option[Int])](
      (None, "min-id", None), (None, "quality", None),
      (None, "min-id", Some(8)), (Some(3), "min-id", None))
    def runsAt(confs: (String, String)*) = withConfs(confs: _*) {
      val q = Pipelines.quality2022(spark, in, tmp("pwq"))
      (q.loaded, q.report.totalRows, q.report.validRows,
        q.report.dupRows) +: options.map { case (cap, policy, scrub) =>
        val out = tmp("pwc")
        (Pipelines.curationOver(spark, docs, cap.map(_ => emb), out,
          clusterCap = cap, survivorPolicy = policy, spanScrub = scrub),
          packed(out))
      }
    }
    def width(n: Int) = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.enabled" -> "false")
    val base = runsAt(width(8): _*)
    Seq("width 1" -> width(1), "width 200" -> width(200),
      "AQE on" -> Seq("spark.sql.adaptive.enabled" -> "true"))
      .foreach { case (label, confs) =>
        assert(runsAt(confs: _*) == base, label)
      }
  }

  test("2022/2026: interpreted and codegen evaluation give the same runs") {
    // the rule's verdict forced each way over the same inputs: every
    // run, count and written row must match
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val emb = graft.ops.Sources.table(spark, sf, "embeddings")
    val in = writeCsv(tmp("pi"), "users.csv", goodRows ++ goodRows ++ badRows)
    // processed_at and batch_id are wall-clock stamps
    def loaded(dir: String): Seq[String] =
      spark.read.parquet(dir).drop("processed_at", "batch_id").collect()
        .map(_.toString).toSeq.sorted
    def runs(interpret: Boolean) = ShuffleWidth.forcingInterpret(interpret) {
      val qOut = tmp("piq")
      val q = Pipelines.quality2022(spark, in, qOut)
      (q, loaded(qOut)) -> Seq[(Option[Int], String, Option[Int])](
        (None, "min-id", None), (None, "quality", None),
        (None, "min-id", Some(8)), (Some(3), "min-id", None)).map {
        case (cap, policy, scrub) =>
          val out = tmp("pic")
          (Pipelines.curationOver(spark, docs, cap.map(_ => emb), out,
            clusterCap = cap, survivorPolicy = policy, spanScrub = scrub),
            packed(out))
      }
    }
    val (interpreted, codegen) = (runs(true), runs(false))
    assert(interpreted._1 == codegen._1, "quality2022")
    interpreted._2.zip(codegen._2).zipWithIndex.foreach { case ((i, c), n) =>
      assert(i == c, s"curationOver option set $n")
    }
  }

  test("2026: curation pipeline filters monotonically and packs the train set") {
    val out = java.nio.file.Files.createTempDirectory("graft-cur").toString
    val run = Pipelines.curation2026(spark, sf, out)
    // each stage can only remove documents
    assert(run.input >= run.afterExactDedup)
    assert(run.afterExactDedup >= run.afterNearDedup)
    assert(run.afterNearDedup >= run.afterDecontamination)
    assert(run.afterDecontamination >= run.afterQuality)
    assert(run.afterQuality >= run.trainDocs)
    assert(run.trainDocs > 0 && run.bins > 0)
    val packed = spark.read.parquet(out)
    // the held-out split never leaks into the packed train set
    assert(packed.filter(
      graft.ops.Sampling.hexNibble(col("doc_id")) >= "c").count() == 0)
    // no unmasked long digit runs survive the scrub
    assert(packed.filter(col("text").rlike("[0-9]{4,}")).count() == 0)
    // deterministic: a second run reproduces the same stage counts
    val out2 = java.nio.file.Files.createTempDirectory("graft-cur2").toString
    assert(Pipelines.curation2026(spark, sf, out2) == run)
  }

  test("2026: quality survivor policy keeps each cluster's longest doc") {
    import graft.ops.{NearDup, Sources}
    val docs = Sources.table(spark, sf, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft-curq").toString
    val run = Pipelines.curationOver(spark, docs, None, out,
      survivorPolicy = "quality")
    // recompute the expected survivor set independently
    val cc = NearDup.connectedComponents(
      NearDup.dedupNgram(docs, 3, 20, 0.2).select("doc_a", "doc_b"))
      .join(docs.select(col("doc_id"), length(col("text")).as("len")),
        "doc_id")
      .collect().groupBy(_.getLong(1))
    assert(cc.nonEmpty, "fixture must have near-dup clusters")
    val expectedDrops = cc.values.flatMap { rows =>
      val keep = rows.map(r => (r.getInt(2), -r.getLong(0)))
        .max
      rows.map(_.getLong(0)).filterNot(_ == -keep._2)
    }.toSet
    // the quality run must differ from min-id exactly by the clusters
    // whose longest member is not the min id
    val minIdDrops = cc.values.flatMap { rows =>
      val m = rows.map(_.getLong(0)).min
      rows.map(_.getLong(0)).filterNot(_ == m)
    }.toSet
    assert(expectedDrops != minIdDrops,
      "fixture must exercise the policy difference (longest != min-id " +
        "in at least one cluster), else this test is vacuous")
    val outMin = java.nio.file.Files.createTempDirectory("graft-curm")
      .toString
    val runMin = Pipelines.curationOver(spark, docs, None, outMin)
    assert(run.afterNearDedup == runMin.afterNearDedup,
      "both policies drop the same COUNT (one survivor per cluster)")
    val idsQ = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(expectedDrops.intersect(idsQ).isEmpty,
      "no quality-dropped cluster member may reach the packed train set")
    // min-id-dropped docs that the quality policy KEEPS are exactly
    // the policy difference; none of the quality policy's own drops
    // may leak in either run
    val idsM = spark.read.parquet(outMin).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(minIdDrops.intersect(idsM).isEmpty)
  }

  test("2026: spanScrub stage applies exactly scrubSpansText to the " +
    "train split") {
    import graft.ops.{NearDup, Sources}
    val docs = Sources.table(spark, sf, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft-curs").toString
    val run = Pipelines.curationOver(spark, docs, None, out,
      spanScrub = Some(8))
    assert(run.trainDocs > 0)
    val baseline = java.nio.file.Files.createTempDirectory("graft-curb")
      .toString
    val runB = Pipelines.curationOver(spark, docs, None, baseline)
    // stage counts BEFORE the scrub are untouched by it
    assert((run.input, run.afterExactDedup, run.afterNearDedup,
      run.afterDecontamination, run.afterQuality) ==
      (runB.input, runB.afterExactDedup, runB.afterNearDedup,
        runB.afterDecontamination, runB.afterQuality))
    // mechanism: the packed text must BE scrubSpansText over the same
    // train universe (the baseline run's packed ids), with the digit
    // mask applied after — doc for doc. (Whether the tiny sf0.001
    // train set actually holds duplicated spans is the fixture's
    // business; scrub non-vacuity is pinned on crafted corpora in
    // Round13Spec. Empty-scrub drops would surface as a missing id.)
    val trainIds = spark.read.parquet(baseline).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = NearDup.scrubSpansText(
        docs.filter(col("doc_id").isInCollection(trainIds))
          .select("doc_id", "text"), 8)
      .select(col("doc_id"),
        regexp_replace(col("scrubbed_text"), "[0-9]{4,}", "<ID>")
          .as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val actual = spark.read.parquet(out).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(actual.keySet ==
      expected.filter(_._2.trim.nonEmpty).keySet)
    actual.foreach { case (id, text) =>
      assert(text == expected(id), s"doc $id text diverges from scrub")
    }
  }
}

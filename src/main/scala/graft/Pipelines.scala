package graft

import graft.functions.VectorFunctions.callValue
import graft.ops.{ShuffleWidth, Sinks, Sources, TimeOps}
import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Replan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's five pipeline generations, each as one composed
  * engine call — the drop-in replacements a user of
  * `ironey/ETL-Jobs` would switch to. Every era reuses the operator
  * modules; nothing here is new logic, only composition:
  *
  *  - 2016 (`src/etl_2016.py`): CSV → uppercase/cast → load
  *  - 2018 (`src/etl_2018.py:14-36,50-63`): + validate-and-split with
  *    reject reasons, processing timestamp
  *  - 2020 (`src/etl_2020.py:86-106,147-158`): + multi-file glob,
  *    union, run metrics (Spark's task model replaces the hand-rolled
  *    process pool)
  *  - 2022 (`src/etl_2022.py:46-144,176-188`): + dedup, imputation,
  *    quality report, threshold alerts, batch id
  *  - 2025 (`src/etl_2025.py:233-263`): the same transform as a
  *    Structured Streaming micro-batch loop with archive
  */
object Pipelines {

  /** The reference's `users` schema (name, age, email). */
  val usersSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("age", StringType),    // raw CSV: validated, then cast
    StructField("email", StringType)))

  /** 2016/2018-era validation predicate (etl_2018.py:14-36 +
    * etl_2020.py:47-49): required fields, non-blank name, parseable
    * age in [0, 150], email contains '@'.
    */
  /** ANSI-safe age parse: malformed strings become null, mirroring
    * the reference's try/except int() (etl_2018.py:26-31) — a plain
    * cast would THROW under Spark 4's ANSI mode.
    */
  private val ageInt: Column = expr("try_cast(age AS INT)")

  val validUser: Column =
    col("name").isNotNull && trim(col("name")) =!= "" &&
      col("age").isNotNull && ageInt.isNotNull &&
      ageInt.between(0, 150) &&
      col("email").isNotNull && col("email").contains("@")

  /** Reject reason, first failing check (etl_2018.py:34-36). */
  val userRejectReason: Column =
    when(col("name").isNull || trim(col("name")) === "", "invalid_name")
      .when(col("age").isNull || ageInt.isNull ||
        !ageInt.between(0, 150), "invalid_age")
      .otherwise("invalid_email")

  /** The per-row transform every era applies (etl_2016.py:12-18,
    * etl_2022.py:186-188): uppercase name, int age, processing
    * timestamp — one instant for every row of the call, as
    * `current_timestamp()` gives one per query.
    */
  def transformUsers(df: DataFrame): DataFrame =
    transformUsers(df, Instant.now())

  /** [[transformUsers]] stamped `at`. The instant is read at run time
    * ([[graft.functions.CallValue]]), not written into the generated
    * source, so every call reuses the classes the first one compiled.
    */
  private def transformUsers(df: DataFrame, at: Instant): DataFrame =
    df.select(
      upper(col("name")).as("name"),
      expr("try_cast(age AS INT)").as("age"),
      col("email"),
      callValue("processed_at", at).as("processed_at"))

  /** 2016: extract one CSV, transform, load. Returns rows loaded,
    * counted on the write ([[graft.ops.Sinks.parquetCounted]]), as
    * every era below counts its outputs.
    */
  def basic2016(spark: SparkSession, inCsv: String, outDir: String): Long =
    Sinks.parquetCounted(
      transformUsers(Sources.csv(spark, inCsv, usersSchema)), outDir)

  case class ValidatedLoad(loaded: Long, rejected: Long)

  /** 2018: validate-and-split; valid rows load, rejects land in a
    * side output with reasons (one cached pass, both branches).
    */
  def validated2018(spark: SparkSession, inCsv: String, outDir: String,
                    rejectDir: String): ValidatedLoad = {
    val raw = Sources.csv(spark, inCsv, usersSchema).cache()
    val good = transformUsers(raw.filter(validUser))
    val bad = raw.filter(!validUser)
      .withColumn("reason", userRejectReason)
    // release the shared scan cache once both branches are written, or
    // when a write fails
    try ValidatedLoad(Sinks.parquetCounted(good, outDir),
      Sinks.parquetCounted(bad, rejectDir))
    finally raw.unpersist(blocking = false)
  }

  /** 2020: multi-file glob (keep `input_*`, skip prior output),
    * implicit union, validated transform, metrics via observe() —
    * the process-pool parallelism of the reference is Spark's own
    * task model.
    */
  def parallel2020(spark: SparkSession, inDir: String,
                   outDir: String): Map[String, Any] = {
    val raw = Sources.csvGlob(spark, inDir, "input_*.csv", usersSchema)
    val (observed, obs) = Quality.observed(raw, validUser,
      when(validUser, 1.0).otherwise(0.0))
    val good = transformUsers(observed.filter(validUser))
    Sinks.parquet(good).save(outDir)
    obs.get
  }

  case class QualityRun(loaded: Long, report: Quality.QualityReport,
                        alerts: Seq[String])

  /** 2022: dedup → impute → quality report → alerts → load with a
    * batch id formatted from the call's processing instant, the one
    * every row's `processed_at` carries (`strftime('%Y%m%d_%H%M%S')`,
    * etl_2022.py:217).
    *
    * Runs at the drop's width ([[graft.ops.ShuffleWidth.atInputWidth]]):
    * on the caller's isolated child session, its shuffles sized to the
    * CSV bytes, and interpreted, not compiled, under
    * [[graft.ops.ShuffleWidth.InterpretBelowBytes]]. Concurrent calls
    * on one session serialize there, with [[curationOver]] and the CC
    * loop.
    */
  def quality2022(spark: SparkSession, inCsv: String,
                  outDir: String): QualityRun = {
    val drop = Sources.csv(spark, inCsv, usersSchema)
    ShuffleWidth.atInputWidth(spark, drop)(s =>
      qualityRun(Replan.onto(s, drop), outDir))
  }

  private def qualityRun(drop: DataFrame, outDir: String): QualityRun = {
    val raw = drop.cache()
    // the report, alerts and load all read the cache; it is released
    // once they are materialized, or when one of them fails
    try {
      // report over the PARSED age (percentile would ANSI-throw on a
      // malformed string); try_cast is idempotent on the int column
      val typed = raw.withColumn("age", ageInt)
      // the mean age over valid rows (the impute value) rides the
      // report's first job
      val (report, meanAge) = Quality.reportWith(typed, validUser,
        dupKeys = Seq("name", "email"), outlierCol = "age",
        extra = Seq(avg(when(validUser, col("age")))))
      val alerts = Quality.alerts(report)
      val fillAge = if (meanAge.isNullAt(0)) 0 else meanAge.getDouble(0).toInt
      val at = Instant.now()
      val cleaned = transformUsers(
        raw.filter(validUser)
          .dropDuplicates("name", "email")
          .na.fill(Map("name" -> "UNKNOWN", "email" -> "unknown@example.com")),
        at)
        // the drop's own figures are per-call values too: as literals,
        // every new drop would compile new classes
        .withColumn("age", coalesce(col("age"), callValue("fill_age", fillAge)))
        .withColumn("quality_score", callValue("quality_score", report.validRate))
        // folds to a string literal, which codegen passes by reference
        .withColumn("batch_id", date_format(lit(at), "yyyyMMdd_HHmmss"))
      QualityRun(Sinks.parquetCounted(cleaned, outDir), report, alerts)
    } finally raw.unpersist(blocking = false)
  }

  /** 2025: the same validated transform as a streaming micro-batch
    * loop — file source (archive on consume) → foreachBatch →
    * idempotent parquet per batch. Caller starts/stops the query.
    */
  def streaming2025(spark: SparkSession, inDir: String, outDir: String,
                    checkpoint: String, archiveDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    streaming2025(spark, inDir, outDir, checkpoint, archiveDir, None)

  /** [[streaming2025]] with a `maxFilesPerTrigger` cap — see the
    * measured sizing guidance on [[graft.ops.TimeOps.fileStream]]
    * (per-batch fixed cost ≈ 0.26 s on a real drop directory at 4
    * cores, so None/large caps amortize best; small caps are a latency
    * choice). Each batch is stamped with its own `processed_at`.
    */
  def streaming2025(spark: SparkSession, inDir: String, outDir: String,
                    checkpoint: String, archiveDir: String,
                    maxFilesPerTrigger: Option[Int])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val stream = TimeOps.fileStream(spark, inDir, usersSchema,
      archiveDir = Some(archiveDir),
      maxFilesPerTrigger = maxFilesPerTrigger)
    TimeOps.foreachBatchSink(stream, outDir, checkpoint)(batch =>
      transformUsers(batch.filter(validUser)))
  }

  case class CurationRun(input: Long, afterExactDedup: Long,
                         afterNearDedup: Long, afterDecontamination: Long,
                         afterQuality: Long, trainDocs: Long, bins: Long)

  /** 2026 — the era after the reference: an LLM-training-data curation
    * pipeline over a document corpus, composed entirely from the
    * engine's operators. Exact dedup (content hash, keep min doc) →
    * near-dup survivor selection (cluster canonicals from
    * [[graft.ops.NearDup.dedupCluster]]) → eval-set decontamination
    * ([[graft.ops.NearDup.decontaminateSplit]]) → quality gate
    * ([[graft.ops.TextSim.qualityGate]]: the rule thresholds of
    * `textQuality`, the repetition rules of `textRepetition` and a
    * token-entropy floor) → deterministic train split (md5 nibble) →
    * PII scrub → fixed-token-budget sequence packing → parquet load.
    * Every stage is a hash-keyed filter/join, so the run is one
    * per-document verdict plus the final write — no driver-side
    * materialization, same shapes at 100 TB.
    *
    * `clusterCap` optionally adds embedding-cluster balancing after
    * the quality gate: documents are k-means-clustered in embedding
    * space ([[graft.ops.Cluster.kmeansAssign]]) and each cluster keeps
    * at most `cap` docs (lowest ids — deterministic), flattening
    * topic-density skew the way curation recipes balance web-crawl
    * duplication at the semantic level. Docs without a vector pass
    * through uncapped.
    *
    * [[curationOver]] adds two more options: `survivorPolicy =
    * "quality"` keeps each near-dup cluster's LONGEST member instead
    * of the min-id canonical, and `spanScrub = Some(n)` runs the
    * corpus exact-substring scrub over the train split (duplicated
    * n-token windows keep their first occurrence only) before PII
    * scrub and packing.
    *
    * On the bundled sf fixtures this run packs nothing: the fixture
    * text shares distinctive 3-grams (df ≤ 20) between almost every
    * train document and some eval document, so decontamination leaves
    * only the held-out documents (sf0.1: 4,756 near-dedup survivors →
    * 598, `trainDocs` 0) and the pack and write run empty. Time the
    * pipeline on a corpus whose stage outcomes are planted instead —
    * perfbench's seeded corpus (`graftbench.Gen.corpus`, the
    * `pipelines` workload's `curationOver`).
    */
  def curation2026(spark: SparkSession, sfDir: String, outDir: String,
                   budget: Long = 256L,
                   clusterCap: Option[Int] = None): CurationRun =
    curationOver(spark, Sources.table(spark, sfDir, "documents"),
      clusterCap.map(_ => Sources.table(spark, sfDir, "embeddings")),
      outDir, budget, clusterCap)

  /** [[curation2026]] over ANY `(doc_id, text, source)` corpus — the
    * generalized capstone, so the same pipeline runs on the fixtures,
    * on the `graft-docs` connector at millions of documents, or on a
    * user's crawl. `embeddings` is required only when `clusterCap`
    * asks for semantic balancing.
    *
    * `doc_id` is the corpus key: every stage decides per id, and the
    * packed rows are `docs` joined to the surviving ids. Duplicate ids
    * are outside the contract: each copy joins every verdict row of
    * its id, so the stage counts and the packed rows fan out.
    *
    * The whole run is sized to `docs`
    * ([[graft.ops.ShuffleWidth.atInputWidth]]): it plans on the
    * caller's isolated child session, every exchange at
    * ⌈docs bytes / 1 MiB⌉ partitions capped at the caller's width, and
    * returns only counts. A corpus under
    * [[graft.ops.ShuffleWidth.InterpretBelowBytes]] runs interpreted:
    * its ~120 generated classes cost more to compile than they save,
    * and at Spark's default codegen cache they are compiled again on
    * every call. Concurrent calls on one session serialize on that
    * child, as the CC loop inside always did; the loop itself runs on
    * the child's own child, under the same conf.
    */
  def curationOver(spark: SparkSession, docs: DataFrame,
                   embeddings: Option[DataFrame], outDir: String,
                   budget: Long = 256L,
                   clusterCap: Option[Int] = None,
                   survivorPolicy: String = "min-id",
                   spanScrub: Option[Int] = None): CurationRun = {
    require(survivorPolicy == "min-id" || survivorPolicy == "quality",
      s"survivorPolicy must be 'min-id' or 'quality', got '$survivorPolicy'")
    ShuffleWidth.atInputWidth(spark, docs)(s =>
      curationRun(Replan.onto(s, docs), embeddings.map(Replan.onto(s, _)),
        outDir, budget, clusterCap, survivorPolicy, spanScrub))
  }

  private def curationRun(docs: DataFrame,
                          embeddings: Option[DataFrame], outDir: String,
                          budget: Long, clusterCap: Option[Int],
                          survivorPolicy: String,
                          spanScrub: Option[Int]): CurationRun = {
    import graft.ops.{Cluster, NearDup, Sampling, TextSim}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    // 1. exact dedup: canonical = min doc id per normalized content hash
    val exactKeep = docs
      .select(col("doc_id"), sha2(trim(lower(col("text"))), 256).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("exact_keep"))
    // 2. near-dup survivors: every cluster member except the survivor
    //    drops. Policies: "min-id" keeps the component canonical
    //    (cluster_id == min doc_id, free from the CC output);
    //    "quality" keeps the LONGEST member (text length, min-id
    //    tie-break) — the NearDup.dedupSurvivor policy, running on any
    //    corpus (no n_chars column needed). The clusters come back
    //    checkpointed, so ranking them re-reads no pair build.
    val cc = NearDup.dedupCluster(docs.select("doc_id", "text"),
      maxIters = 20)
    val nearDrop = survivorPolicy match {
      case "min-id" =>
        cc.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      case _ =>
        cc.join(docs.select(col("doc_id"), length(col("text")).as("len")),
            "doc_id")
          .withColumn("rn", row_number().over(Window.partitionBy("cluster_id")
            .orderBy(col("len").desc, col("doc_id"))))
          .filter(col("rn") > 1).select("doc_id")
    }
    // 3. decontamination: train docs sharing distinctive grams with the
    //    held-out split (same md5 rule as the declared query), in one
    //    labeled scan. A null id is on neither side, so its grams do
    //    not count toward document frequency either
    val contaminated = NearDup.decontaminateSplit(
        docs.filter(col("doc_id").isNotNull).select("doc_id", "text"),
        Sampling.hexNibble(col("doc_id")) >= "e")
      .select(col("doc_id"), lit(true).as("contaminated"))
    // The verdict: one (doc_id, stage) row per document, `stage` = the
    // number of stages it passed (0 = dropped by exact dedup … 4 =
    // passed the quality gate). The run both counts every stage and
    // packs the survivors from this one PERSISTED relation — ~12
    // bytes per doc (the id and an int; the text never caches) — so
    // the decontamination, the quality rules and the joins run once,
    // not once per stage count. Unpersisted on exit.
    val verdict = docs
      // 4. quality gate: heuristic thresholds + Gopher repetition rules
      //    (looping/boilerplate text) + an information-density floor
      //    (near-zero token entropy = degenerate text both rule sets
      //    miss), one per-row predicate in the scan that carries the id
      .select(col("doc_id"),
        TextSim.qualityGate.as("quality_ok"))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop.select(col("doc_id"), lit(true).as("near_drop")),
        Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_keep").isNull, 0)
          .when(col("near_drop").isNotNull, 1)
          .when(col("contaminated").isNotNull, 2)
          .when(!col("quality_ok"), 3)
          .otherwise(4).as("stage"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val c = verdict.agg(count(lit(1)),
          (1 to 4).map(k => count_if(col("stage") >= k)): _*)
        .head()
      val d4 = docs.join(verdict.filter(col("stage") === 4).select("doc_id"),
        "doc_id")
      // 4b. optional semantic balance: cap each embedding cluster
      val d4b = clusterCap match {
        case None => d4
        case Some(cap) =>
          val emb = embeddings.getOrElse(throw new IllegalArgumentException(
            "clusterCap requires an embeddings relation"))
          val assign = Cluster.kmeansAssign(emb, k = 8, iters = 3)
            .select(col("vec_id").as("doc_id"), col("cluster_id"))
          val overCap = d4.select("doc_id").join(assign, "doc_id")
            .withColumn("rn", row_number().over(
              Window.partitionBy("cluster_id").orderBy("doc_id")))
            .filter(col("rn") > cap).select("doc_id")
          d4.join(overCap, Seq("doc_id"), "left_anti")
      }
      // 5. train split (eval nibbles are >= 'c'; see Sampling.sampleSplit)
      val train0 = d4b.filter(Sampling.hexNibble(col("doc_id")) < "c")
      // 5b. optional exact-substring scrub WITHIN the train split:
      //     duplicated spanScrub-token windows keep their first train
      //     occurrence only (NearDup.scrubSpansText). Text comes back
      //     whitespace/case-normalized; a doc whose every token sat
      //     under duplicate spans scrubs to empty and drops here
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
      // 6. PII scrub + 7. sequence packing within each source shard
      val shard = Window.partitionBy("source").orderBy("doc_id")
      val packed = train
        .withColumn("text", regexp_replace(col("text"), "[0-9]{4,}", "<ID>"))
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("bin_id", floor(
          (sum(col("n_tokens")).over(shard.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)) -
            col("n_tokens")) / budget.toDouble))
        // a shard's bin ids rise with doc_id and are never null (the
        // quality gate drops null text), so a row opens a bin exactly
        // where its bin_id differs from the previous row's — the
        // shard's first row included, whose lag is null
        .withColumn("new_bin", !(col("bin_id") <=> lag("bin_id", 1).over(shard)))
      // rows and bins are counted in the write's own result stage: no
      // read-back of the output
      val written = org.apache.spark.sql.Observation()
      Sinks.parquet(packed.observe(written, count(lit(1)).as("n"),
        count_if(col("new_bin")).as("bins")).drop("new_bin")).save(outDir)
      val m = written.get
      CurationRun(c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
        c.getLong(4), m("n").asInstanceOf[Long], m("bins").asInstanceOf[Long])
    } finally verdict.unpersist(blocking = false)
  }
}

package graft

import graft.ops.{Ann, NearDup, Sources}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerDrain

/** [[Sources.parquet]]: a parquet table opens with its schema read
  * from one footer on the driver — no Spark job, no SQL execution —
  * and that schema is the one Spark's own inference finds.
  */
class FooterSchemaSpec extends SparkSpec {

  /** `body`'s result, the call site of every job it runs, and how many
    * SQL executions it posts, over a drained window. */
  private def eventsOf[T](body: => T): (T, Seq[String], Int) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).name): Unit // the result stage
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet(): Unit
        case _ =>
      }
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val r =
      try { val r = body; ListenerDrain.drain(spark.sparkContext); r }
      finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (r, jobs.asScala.toSeq, execs.get)
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // expression ids differ between two reads; everything else must not
  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  private def assertSameRead(opened: DataFrame, inferred: DataFrame,
                             what: String): Unit = {
    assert(opened.schema == inferred.schema,
      s"$what: ${opened.schema.treeString} vs ${inferred.schema.treeString}")
    assert(planText(opened) == planText(inferred), s"$what: plan differs")
  }

  test("opening all 10 fixture tables runs no job and no SQL execution, " +
      "and each schema equals Spark's inference") {
    val names = Sources.declaredTables.keys.toSeq.sorted
    val path = (n: String) => s"$sf/$n.parquet"
    val inferred = names.map(n => n -> spark.read.parquet(path(n))).toMap
    Sources.evictCache(spark)
    val (_, jobs, execs) = eventsOf(Sources.assertFixtureSchemas(spark, sf))
    assert(jobs.isEmpty && execs == 0,
      s"opening the fixture tables ran jobs $jobs and $execs SQL executions")
    names.filter(_ != "events").foreach(n =>
      assertSameRead(Sources.table(spark, sf, n), inferred(n), n))
    // events' raw read, under both nanosAsLong settings (the table
    // itself normalizes `ts` on top of it)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    try Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      assertSameRead(Sources.parquet(spark, path("events")),
        spark.read.parquet(path("events")), s"events ($key=$v)")
    } finally spark.conf.set(key, was)
  }

  test("a hive-partitioned index opens with the partition column last, " +
      "typed as Spark infers it") {
    val dir = tmpDir("graft-footer-ivf")
    Ann.ivfIndexWrite(spark, Sources.table(spark, sf, "embeddings"), dir,
      nLists = 4, iters = 1)
    Seq("lists", "centroids").foreach { t =>
      val (opened, jobs, _) = eventsOf(Sources.parquet(spark, s"$dir/$t"))
      assert(jobs.isEmpty, s"$t: opening ran jobs $jobs")
      assertSameRead(opened, spark.read.parquet(s"$dir/$t"), t)
    }
    assert(spark.read.parquet(s"$dir/lists").schema.last.name == "list_id")
  }

  test("an empty directory still fails with Spark's UNABLE_TO_INFER_SCHEMA") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Sources.parquet(spark, tmpDir("graft-footer-empty")))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }

  test("the index probes run only the jobs they run on purpose") {
    val emb = Sources.table(spark, sf, "embeddings")
    val ivf = tmpDir("graft-footer-probe")
    Ann.ivfIndexWrite(spark, emb, ivf, nLists = 4, iters = 1)
    // the centroid collect; the list scan stays lazy
    val (_, ivfJobs, _) =
      eventsOf(Ann.ivfIndexProbe(spark, ivf, Seq.fill(64)(1.0), k = 5, nProbe = 2))
    assert(ivfJobs.size == 1 && ivfJobs.head.startsWith("collect at Ann.scala"),
      s"ivfIndexProbe ran jobs $ivfJobs")
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, (1 to 20).map(j => s"w${i}_$j")
      .mkString(" "))).toDF("doc_id", "text")
    val mh = tmpDir("graft-footer-mh")
    NearDup.minhashIndexWrite(spark, docs, mh)
    // the meta collect, then the materialize: its three broadcast
    // builds and the checkpoint job
    val (_, mhJobs, _) = eventsOf(
      NearDup.minhashIndexProbe(spark, mh, docs.filter($"doc_id" <= 2L)))
    assert(mhJobs.size == 5 &&
      mhJobs.count(_.startsWith("collect at NearDup.scala")) == 1 &&
      mhJobs.count(_.startsWith("localCheckpoint at NearDup.scala")) == 1 &&
      !mhJobs.exists(_.startsWith("parquet at")),
      s"minhashIndexProbe ran jobs $mhJobs")
  }
}

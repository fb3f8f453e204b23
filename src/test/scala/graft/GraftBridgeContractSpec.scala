package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Columns, Replan}

/** The upgrade contract for the `private[sql]` bridges the library
  * ships (r19 VERDICT ask #4), so a Spark upgrade that silently
  * changes their semantics fails this suite with a message pointing
  * at the bridge, not as a mystery perf regression three layers up.
  * (A SIGNATURE change fails the bridge's compile, which is the
  * loudest possible message.) `Columns` is the expression <-> Column
  * bridge every graft Column helper builds its kernel through.
  * `Replan.onto` is the one session hand-off: the eager pipelines run
  * their child session on it, the stream batches return to their
  * starting session through it, and the CC loop and the chained
  * k-means train move CHECKPOINTED and PERSISTED frames to their
  * child with it — what those two rely on (rows, no recompute,
  * stats, partitioning, the shared cache) is asserted case by case.
  */
class GraftBridgeContractSpec extends SparkSpec {

  /** A parquet read on the shared session. */
  private def parquetFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("replan").toString
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def replanDrift(what: String): String =
    s"graftbridge upgrade contract violated: $what — the " +
      "Dataset.ofRows/analyzed-plan surface drifted under this Spark " +
      "version; see Replan.scala"

  /** A session with plain, predictable physical planning: AQE off,
    * 4 shuffle partitions, and broadcast as `broadcast` says. */
  private def planned(broadcast: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (!broadcast) s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The CC loop's edge shape, hash-partitioned by `doc_a` and
    * checkpointed on `home`. */
  private def checkpointed(home: SparkSession): DataFrame = {
    import home.implicits._
    Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 2L)).toDF("doc_a", "doc_b")
      .repartition(4, col("doc_a")).localCheckpoint()
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("Replan.onto a checkpointed frame: row parity on the child " +
      "session") {
    val src = checkpointed(spark)
    val child = spark.newSession()
    val re = Replan.onto(child, src)
    assert(re.sparkSession eq child)
    assert(pairs(re) == pairs(src),
      replanDrift("moved checkpoint rows differ from the source frame"))
  }

  test("Replan.onto a checkpointed frame re-reads its checkpoint: same " +
      "RDD, no lineage recompute") {
    val runs = spark.sparkContext.longAccumulator("upstream rows")
    val upstream = udf((x: Long) => { runs.add(1); x })
    val src = spark.range(8).select(upstream(col("id")).as("doc_a"),
      (col("id") + 1).as("doc_b")).localCheckpoint()
    val srcRdd = src.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => fail(replanDrift("localCheckpoint no longer plans a " +
        s"LogicalRDD (got ${other.getClass.getSimpleName})"))
    }
    val computed = runs.value
    assert(computed >= 8L)
    val re = Replan.onto(spark.newSession(), src)
    re.queryExecution.analyzed match {
      case lr: LogicalRDD => assert(lr.rdd eq srcRdd, replanDrift(
        "the moved frame no longer reads the checkpoint's own RDD"))
      case other => fail(replanDrift("the moved checkpoint no longer " +
        s"plans a LogicalRDD (got ${other.getClass.getSimpleName})"))
    }
    assert(pairs(re) == pairs(src))
    assert(runs.value == computed, replanDrift(
      s"re-reading the moved checkpoint ran its lineage again " +
        s"(${runs.value - computed} upstream rows recomputed)"))
  }

  test("Replan.onto a checkpointed frame carries its stats: a join on " +
      "the child plans broadcast, as on the home session") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the checkpoint is tiny, the other side is 80 MB by estimate: only
    // the checkpoint's origin stats make it the broadcast side (a
    // stats-less LogicalRDD estimates defaultSizeInBytes, measured in
    // r19 to degrade the CC round joins to sort-merge and double them)
    def broadcasts(df: DataFrame): Boolean = df.join(
        df.sparkSession.range(10000000L).select(col("id").as("doc_b")),
        "doc_b").queryExecution.executedPlan
      .collect { case j: BroadcastHashJoinExec => j }.nonEmpty
    val home = planned(broadcast = true)
    val src = checkpointed(home)
    val child = planned(broadcast = true)
    val re = Replan.onto(child, src)
    assert(broadcasts(src), "the home session no longer broadcasts the " +
      "checkpoint; the case is moot")
    assert(re.queryExecution.optimizedPlan.stats.sizeInBytes ==
      src.queryExecution.optimizedPlan.stats.sizeInBytes,
      replanDrift("the moved checkpoint lost its origin sizeInBytes"))
    assert(re.queryExecution.optimizedPlan.stats.rowCount ==
      src.queryExecution.optimizedPlan.stats.rowCount,
      replanDrift("the moved checkpoint lost its origin rowCount"))
    assert(broadcasts(re), replanDrift("a join of the moved checkpoint " +
      "no longer plans broadcast on the child"))
  }

  test("Replan.onto a checkpointed frame keeps its partitioning: a join " +
      "keyed on it adds no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // sort-merge on doc_a: the checkpoint is hash-partitioned on it,
    // so only the other side needs an exchange
    def exchanges(df: DataFrame): Int = df.join(
        df.sparkSession.range(100).select(col("id").as("doc_a")),
        "doc_a").queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }.length
    val src = checkpointed(planned(broadcast = false))
    val re = Replan.onto(planned(broadcast = false), src)
    assert(exchanges(src) == 1,
      s"the home session plans ${exchanges(src)} exchanges; the case is moot")
    assert(exchanges(re) == 1, replanDrift(s"the child plans " +
      s"${exchanges(re)} exchanges: the checkpoint's partitioning was " +
      "dropped in the move"))
  }

  test("Replan.onto keeps the shared cache: the chained k-means train " +
      "reads the persisted vectors, not parquet") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    // the leaves a plan reads, not descending into a cached relation's
    // own plan (which the plan info may carry below the scan)
    def leaves(p: SparkPlanInfo): Seq[String] =
      if (p.nodeName.startsWith("InMemoryTableScan")) Seq(p.nodeName)
      else if (p.children.isEmpty) Seq(p.nodeName)
      else p.children.toSeq.flatMap(leaves)
    val emb = ops.Sources.table(spark, sf, "embeddings")
    org.apache.spark.sql.graftbridge.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      ops.Cluster.kmeansCentroids(emb, 8, 3)
      org.apache.spark.sql.graftbridge.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val read = plans.asScala.toSeq.map(leaves)
    assert(read.nonEmpty && read.forall(_.exists(
      _.startsWith("InMemoryTableScan"))),
      s"a train execution read no cached relation: $read")
    assert(!read.flatten.exists(_.toLowerCase.contains("parquet")),
      replanDrift(s"the train on its child session scanned parquet " +
        s"again: $read"))
  }

  test("Columns: a graft kernel built through column/expression " +
      "resolves, returns the right rows, and round-trips by identity") {
    val drift = "graftbridge upgrade contract violated: the " +
      "classic.ExpressionUtils column/expression surface drifted under " +
      "this Spark version; see Columns.scala"
    val e = graft.functions.DotProduct(Columns.expression(col("a")),
      Columns.expression(col("b")))
    assert(Columns.expression(Columns.column(e)) eq e,
      s"$drift (expression(column(e)) is no longer e)")
    // a fresh child session: nothing registered, nothing needed
    val child = spark.newSession()
    val df = child.createDataFrame(Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)), (Seq(0.5), Seq(4.0, 9.0))))
      .toDF("a", "b")
    val got = df.select(Columns.column(e).as("d")).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(11.0, 2.0), s"$drift (rows: ${got.toSeq})")
  }

  test("Replan.onto: the child's rows equal the parent's") {
    val src = parquetFrame.filter(col("v") > 1.5).select("id", "k")
    val re = Replan.onto(spark.newSession(), src)
    assert(re.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      === src.collect().map(r => (r.getLong(0), r.getString(1))).sorted,
      replanDrift("replanned rows differ from the source frame"))
  }

  test("Replan.onto a lazily-planned (non-checkpointed) frame: rows and " +
      "stats still carried") {
    import spark.implicits._
    val src = Seq((1L, 10L), (2L, 20L)).toDF("a", "b")
      .filter(col("a") > 0)
    val child = spark.newSession()
    val re = Replan.onto(child, src)
    assert(re.sparkSession eq child)
    assert(re.collect().map(_.getLong(1)).sorted === Array(10L, 20L),
      replanDrift("moved rows differ (lazy-plan path)"))
    assert(re.queryExecution.optimizedPlan.stats.sizeInBytes ==
      src.queryExecution.optimizedPlan.stats.sizeInBytes,
      replanDrift("stats dropped on the lazy-plan path"))
  }

  test("Replan.onto runs no job: handoff and planning on the child") {
    val src = parquetFrame
    val child = spark.newSession()
    val n = jobsOf {
      Replan.onto(child, src).groupBy("k").count().queryExecution
        .executedPlan
    }
    assert(n == 0, replanDrift(s"handoff and planning ran $n jobs " +
      "(re-analysis re-inferred the relation's schema?)"))
  }

  test("Replan.onto: the child plans at its own width") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val src = parquetFrame
    val child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", "3")
    val widths = Replan.onto(child, src).groupBy("k").count()
      .queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
      }
    assert(widths == Seq(3), replanDrift(
      s"child exchanges planned at $widths, not the child's 3"))
  }

  test("Replan.onto a foreachBatch batch's starting session: same rows, " +
      "no job added") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, "a"), (2L, "b"), (3L, "a"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    @volatile var seen: Option[(Boolean, Boolean, Int, Int, Int)] = None
    val q = stream.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (seen.isEmpty) {
          // the batch frame lives on the clone the query started on
          val moved = Replan.onto(spark, batch)
          val handoff = jobsOf(moved.queryExecution.executedPlan)
          seen = Some((batch.sparkSession ne spark,
            (moved.sparkSession eq spark) && rows(moved) == rows(batch),
            handoff, jobsOf(rows(batch)), jobsOf(rows(moved))))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val (onClone, sameRows, handoff, direct, replanned) =
      seen.getOrElse(fail("no batch ran"))
    assert(onClone, "the batch frame is no longer on the query's clone")
    assert(sameRows, replanDrift("the moved batch's rows differ"))
    assert(handoff == 0 && replanned == direct, replanDrift(
      s"the moved batch ran $handoff jobs to plan and $replanned to " +
        s"collect, the batch itself $direct"))
  }
}

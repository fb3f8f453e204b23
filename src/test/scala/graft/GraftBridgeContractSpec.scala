package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Columns, InternalRows, Replan}

/** The upgrade contract for the `private[sql]` bridges the library
  * ships (r19 VERDICT ask #4): every behavioral promise
  * `InternalRows.rebind` makes is asserted HERE, against a
  * checkpointed frame — the exact shape the CC loop hands across
  * sessions — so a Spark upgrade that silently changes `LogicalRDD` /
  * `internalCreateDataFrame` semantics fails this suite with a message
  * pointing at the bridge and its fallback, not as a mystery perf
  * regression three layers up. (A SIGNATURE change fails the bridge's
  * compile, which is the loudest possible message.) The last case
  * pins `Columns`, the expression <-> Column bridge every graft Column
  * helper builds its kernel through; the `Replan` cases pin the
  * analyzed-plan handoff the eager pipelines run their child session
  * on.
  */
class GraftBridgeContractSpec extends SparkSpec {

  private def upgrade(what: String): String =
    s"graftbridge upgrade contract violated: $what — the LogicalRDD/" +
      "internalCreateDataFrame surface drifted under this Spark " +
      "version; see InternalRows.scala's scaladoc (fallback: " +
      "InternalRows.rebindPortable, public API, slower but correct)"

  private def checkpointed = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 2L))
      .toDF("doc_a", "doc_b").localCheckpoint()
  }

  test("rebind a checkpointed frame: row parity on the child session") {
    val src = checkpointed
    val child = spark.newSession()
    val re = InternalRows.rebind(child, src)
    assert(re.sparkSession eq child)
    assert(re.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === src.collect().map(r => (r.getLong(0), r.getLong(1))).sorted,
      upgrade("rebound rows differ from the source frame"))
  }

  test("rebind reuses the checkpointed LogicalRDD verbatim: same RDD," +
      " same attribute ids, partitioning and ordering carried") {
    val src = checkpointed
    val srcLr = src.queryExecution.logical match {
      case lr: LogicalRDD => lr
      case other => fail(upgrade(
        s"localCheckpoint no longer plans a LogicalRDD (got " +
          s"${other.getClass.getSimpleName})"))
    }
    val child = spark.newSession()
    val re = InternalRows.rebind(child, src)
    re.queryExecution.logical match {
      case lr: LogicalRDD =>
        assert(lr.rdd eq srcLr.rdd,
          upgrade("rebind recomputed the RDD instead of reusing the " +
            "checkpointed one — the no-recompute promise is broken"))
        assert(lr.output.map(_.exprId) == srcLr.output.map(_.exprId),
          upgrade("attribute ids were re-minted; downstream exchange " +
            "elision on the reused partitioning is broken"))
        assert(lr.outputPartitioning == srcLr.outputPartitioning,
          upgrade("outputPartitioning was dropped"))
        assert(lr.outputOrdering == srcLr.outputOrdering,
          upgrade("outputOrdering was dropped"))
      case other => fail(upgrade(
        s"rebind no longer plans a LogicalRDD (got " +
          s"${other.getClass.getSimpleName})"))
    }
  }

  test("rebind carries the source stats (broadcast decisions survive " +
      "the handoff)") {
    val src = checkpointed
    val srcStats = src.queryExecution.optimizedPlan.stats
    val child = spark.newSession()
    val re = InternalRows.rebind(child, src)
    val reStats = re.queryExecution.optimizedPlan.stats
    assert(reStats.sizeInBytes == srcStats.sizeInBytes,
      upgrade(s"sizeInBytes ${reStats.sizeInBytes} != source " +
        s"${srcStats.sizeInBytes}; a stats-less handoff degrades " +
        "downstream broadcast joins to sort-merge (measured 2x on " +
        "the CC round job)"))
    assert(reStats.rowCount == srcStats.rowCount,
      upgrade("rowCount was dropped from the handoff stats"))
  }

  test("rebind of a lazily-planned (non-checkpointed) frame: rows and " +
      "stats still carried") {
    import spark.implicits._
    val src = Seq((1L, 10L), (2L, 20L)).toDF("a", "b")
      .filter(col("a") > 0)
    val child = spark.newSession()
    val re = InternalRows.rebind(child, src)
    assert(re.collect().map(_.getLong(1)).sorted === Array(10L, 20L),
      upgrade("rebound rows differ (lazy-plan path)"))
    assert(re.queryExecution.optimizedPlan.stats.sizeInBytes ==
      src.queryExecution.optimizedPlan.stats.sizeInBytes,
      upgrade("stats dropped on the lazy-plan path"))
  }

  test("rebindPortable (the public-API fallback) row-matches rebind") {
    val src = checkpointed
    val child = spark.newSession()
    val a = InternalRows.rebind(child, src).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = InternalRows.rebindPortable(child, src).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a === b,
      "rebindPortable diverged from rebind — the documented fallback " +
        "is not a drop-in")
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

  test("Replan.onto: the child's rows equal the parent's") {
    val src = parquetFrame.filter(col("v") > 1.5).select("id", "k")
    val re = Replan.onto(spark.newSession(), src)
    assert(re.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      === src.collect().map(r => (r.getLong(0), r.getString(1))).sorted,
      replanDrift("replanned rows differ from the source frame"))
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

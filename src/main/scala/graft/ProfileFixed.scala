package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Fixed-cost decomposition for the bench composite (r12 VERDICT #3:
  * ~24 s of the 51.4 s sf0.1 composite was per-query FIXED cost). Runs
  * every declared query in [[Bench.session]] — so an A/B of Bench's
  * session knobs probes the config it benches — once warm (codegen +
  * JIT, Bench's pair rule), then once measured, and splits the
  * measured wall time into
  *   - `buildMs`: building the DataFrame and forcing `executedPlan` —
  *     Catalyst PLUS any eager helper jobs the builder runs (collected
  *     brackets, order statistics),
  *   - `execMs`: the noop write (job scheduling + task run),
  * with each phase's jobs and the true Catalyst wall. The write is
  * drilled down per stage (tasks, stage wall, summed task run /
  * deserialize / scheduler-delay / GC ms) plus the driver time outside
  * the span of stages (planning, codegen, commit). On sf0.001 the
  * numbers are ~pure fixed cost.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileFixed"
  * (optional SPARK_GRAFT_ONLY=a,b).
  */
object ProfileFixed {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session(sfDir)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val recs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (n, f) =>
        try Some(record(spark, sfDir, n, f))
        catch { case e: Throwable =>
          println(s"profile: $n FAILED: ${e.getMessage}"); None }
      }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    println(f"${"query"}%-28s${"buildMs"}%9s${"execMs"}%9s${"catMs"}%7s${"bJobs"}%7s${"eJobs"}%7s${"tasks"}%7s")
    recs.sortBy(r => -(r.buildMs + r.execMs)).foreach { r =>
      println(f"${r.name}%-28s${num(r.buildMs)}%9s${num(r.execMs)}%9s${r.catalystMs}%7d${r.buildJobs}%7d${r.execJobs}%7d${r.execTasks}%7d")
      r.stages.foreach { s =>
        println(f"   st${s.id}%-5d tasks=${s.tasks}%-4d wall=${s.wallMs}%-5d " +
          f"run=${s.runMs}%-5d deser=${s.deserMs}%-4d " +
          f"sched=${s.schedMs}%-4d gc=${s.gcMs}%-3d ${s.name}")
      }
      println(s"   stages=${r.stages.size} driverOutside=${num(r.driverOutsideMs)} ms")
    }
    // Committed per-query job-count artifact (r18 VERDICT ask #2): the
    // table above scrolls away; the JSON below is the durable record a
    // job-count budget is graded against. Path overridable so a scratch
    // run can't clobber the committed artifact by accident.
    val outName = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT",
      "PROFILE_FIXED_RUN.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName),
      recs.sortBy(r => -(r.buildJobs + r.execJobs)).map { r =>
        s"""  "${r.name}": {"jobs": ${r.buildJobs + r.execJobs}, """ +
          s""""buildJobs": ${r.buildJobs}, "execJobs": ${r.execJobs}, """ +
          s""""tasks": ${r.execTasks}, "buildMs": ${num(r.buildMs)}, """ +
          s""""execMs": ${num(r.execMs)}, "catalystMs": ${r.catalystMs}}"""
      }.mkString(s"""{\n "sf": "$sfDir",\n "queries": {\n""", ",\n",
        "\n }\n}\n"))
    catch { case _: Throwable => () }
    val n = recs.size.max(1)
    println(s"summary: n=$n buildMs total=${num(recs.map(_.buildMs).sum)} " +
      s"(avg ${num(recs.map(_.buildMs).sum / n)}) " +
      s"execMs total=${num(recs.map(_.execMs).sum)} " +
      s"(avg ${num(recs.map(_.execMs).sum / n)}) " +
      s"catalystMs total=${recs.map(_.catalystMs).sum} " +
      s"buildJobs=${recs.map(_.buildJobs).sum} execJobs=${recs.map(_.execJobs).sum} " +
      s"tasks=${recs.map(_.execTasks).sum}")
    spark.stop()
  }

  /** One stage of the measured write; task sums in ms. */
  final case class StageRow(id: Int, name: String, var tasks: Int = 0,
                            var submitMs: Long = 0, var completeMs: Long = 0,
                            var runMs: Long = 0, var deserMs: Long = 0,
                            var schedMs: Long = 0, var gcMs: Long = 0) {
    def wallMs: Long = completeMs - submitMs
  }

  final case class Rec(name: String, buildMs: Double, execMs: Double,
                       buildJobs: Int, execJobs: Int, catalystMs: Long,
                       stages: Seq[StageRow]) {
    def execTasks: Int = stages.map(_.tasks).sum
    /** Write wall time not covered by any stage's submit → complete span. */
    def driverOutsideMs: Double =
      if (stages.isEmpty) execMs
      else execMs - (stages.map(_.completeMs).max - stages.map(_.submitMs).min)
  }

  /** The one listener: job, stage and task events from the scheduler,
    * and — as a QueryExecutionListener — the Catalyst phase wall of
    * every action (r18: the heavy build entries are EAGER builders,
    * so build time alone conflates plan compilation with job
    * execution; localCheckpoint/collect/noop-write all run through
    * Dataset.withAction, which fires this). Events arrive on the
    * listener-bus threads; every read happens after a drain.
    */
  private final class Listener extends SparkListener with QueryExecutionListener {
    private val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    private var jobs, catalystMs = 0L

    def counters: (Long, Long) = synchronized((jobs, catalystMs))
    def clearStages(): Unit = synchronized(stages.clear())
    def stageRows: Seq[StageRow] =
      synchronized(stages.values.map(_.copy()).toList)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      synchronized {
        val i = s.stageInfo
        stages.getOrElseUpdate(i.stageId, StageRow(i.stageId, i.name.take(40)))
          .submitMs = i.submissionTime.getOrElse(0L)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages.get(s.stageInfo.stageId)
          .foreach(_.completeMs = s.stageInfo.completionTime.getOrElse(0L))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      for (a <- stages.get(t.stageId) if m != null) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        val wall = t.taskInfo.finishTime - t.taskInfo.launchTime
        a.schedMs += math.max(0L, wall - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      synchronized(catalystMs += trackedMs(qe))
    override def onFailure(funcName: String, qe: QueryExecution,
                           error: Exception): Unit = ()
  }

  private def trackedMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  /** Profile one query: a warm run, then the measured run. `drain`
    * must let the async listener bus deliver every queued event; the
    * default short sleep sits OUTSIDE the timed windows, and a ±1
    * race on a 100-job count is immaterial to a diagnostic.
    */
  def record(spark: SparkSession, sfDir: String, name: String,
             fn: (SparkSession, String) => DataFrame,
             drain: () => Unit = () => Thread.sleep(60)): Rec = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    def phase[A](f: => A): (A, Double, Long, Long) = {
      drain()
      val (j0, c0) = l.counters
      val t = System.nanoTime()
      val r = f
      val ms = (System.nanoTime() - t) / 1e6
      drain()
      val (j1, c1) = l.counters
      (r, ms, j1 - j0, c1 - c0)
    }
    def run(): Rec = {
      // build + force full planning; eager helper jobs (collects inside
      // the builder, e.g. exactPercentiles) are charged here
      val (df, buildMs, bj, bCat) = phase {
        val d = fn(spark, sfDir)
        d.queryExecution.executedPlan // force analyze/optimize/plan
        d
      }
      // the executedPlan force above fires no action, so its tracker
      // never reaches the listener — read it directly; for eager
      // builders it is the trivial plan over the checkpointed result
      val directCat = trackedMs(df.queryExecution)
      l.clearStages()
      val (_, execMs, ej, eCat) = phase {
        df.write.format("noop").mode("overwrite").save()
      }
      Rec(name, buildMs, execMs, bj.toInt, ej.toInt,
        bCat + directCat + eCat, l.stageRows)
    }
    try { run(); run() } // warm, then measure
    finally {
      spark.listenerManager.unregister(l)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}

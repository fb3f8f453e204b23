package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job-group prefix the runner sets around every timed operation; the
  * listeners below count only jobs carrying it. */
object Groups {
  val Exec = "perfbench-exec-"
  def exec(id: Int): String = Exec + id
}

/** Counts input rows over every timed job. Always on: it feeds the
  * end-to-end `rows_per_cpu_s` of the query workloads. */
final class RowCounter extends SparkListener {
  val rows = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
}

/** Per-execution tallies of Spark's listener events. */
final class Tally {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, taskWaitMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inRows, inBytes, outRows, outBytes = 0L
  var planMs = 0L
  var codegenCompiles, codegenNs = 0L
  var batches, batchMsMax, batchRows, batchMs = 0L
  /** Wall-clock intervals (epoch ms) during which a stage ran. */
  val stageRuns = ArrayBuffer.empty[(Long, Long)]
}

/** A timed interval. Spans nest workload → pass → operation → phase and
  * share the operation's execution id. */
final case class Span(id: Int, parent: Int, name: String, exec: Int,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** The traced run's recorder: spans held in memory, plus Spark's public
  * listener events (SparkListener, QueryExecutionListener,
  * StreamingQueryListener) and the codegen counters, attributed to the
  * execution whose job group is active. */
final class Tracer(spark: SparkSession, t0Ns: Long) {
  val spans = ArrayBuffer.empty[Span]
  private val tallies = new ConcurrentHashMap[Int, Tally]()
  private val jobExec = new ConcurrentHashMap[Int, Int]()
  private val stageExec = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var current = -1

  def tally(exec: Int): Tally = tallies.computeIfAbsent(exec, _ => new Tally)

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  def span(name: String, parent: Int, exec: Int, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, parent, name, exec, startMs, endMs)
      id
    }

  /** Reserve a span id now (for a parent whose end is not known yet). */
  def open(name: String, parent: Int, exec: Int): Int = span(name, parent, exec, nowMs, Double.NaN)

  def close(id: Int): Unit = synchronized { spans(id) = spans(id).copy(endMs = nowMs) }

  /** Make `exec` the target of query-execution events, after draining
    * the events of the previous one. */
  def switchTo(exec: Int): Unit = { drain(); current = exec }

  def drain(): Unit = GraftBenchBus.drain(spark.sparkContext)

  /** Codegen counters: (compiles, compile nanoseconds), process-wide. */
  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def execOfGroup(g: String): Int =
    if (g != null && g.startsWith(Groups.Exec)) g.drop(Groups.Exec.length).toInt else -1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val exec = if (p == null) -1 else execOfGroup(p.getProperty("spark.jobGroup.id"))
      if (exec >= 0) {
        jobExec.put(e.jobId, exec)
        e.stageIds.foreach(stageExec.put(_, exec))
        val t = tally(exec)
        t.synchronized {
          t.jobs += 1
          if (p.getProperty(Runner.PhaseProperty) == "build") t.buildJobs += 1
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val exec = stageExec.getOrDefault(e.stageInfo.stageId, -1)
      if (exec >= 0) {
        stageSubmitMs.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        val t = tally(exec)
        t.synchronized { t.stages += 1 }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val exec = stageExec.getOrDefault(e.stageInfo.stageId, -1)
      if (exec >= 0) {
        val s = e.stageInfo.submissionTime.getOrElse(0L)
        val c = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        val t = tally(exec)
        t.synchronized { t.stageRuns += ((s, c)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val exec = stageExec.getOrDefault(e.stageId, -1)
      if (exec >= 0) {
        val t = tally(exec)
        val m = e.taskMetrics
        t.synchronized {
          t.tasks += 1
          if (e.reason != Success) t.failedTasks += 1
          val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          t.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
          if (m != null) {
            t.taskRunMs += m.executorRunTime
            t.taskCpuNs += m.executorCpuTime
            t.gcMs += m.jvmGCTime
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            t.inRows += m.inputMetrics.recordsRead
            t.inBytes += m.inputMetrics.bytesRead
            t.outRows += m.outputMetrics.recordsWritten
            t.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = {
      val exec = current
      if (exec >= 0) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        val t = tally(exec)
        t.synchronized { t.planMs += ms }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val exec = current
      if (exec >= 0) {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val t = tally(exec)
        t.synchronized {
          t.batches += 1
          t.batchMsMax = math.max(t.batchMsMax, ms)
          t.batchRows += p.numInputRows
          t.batchMs += ms
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def talliesByExec: Map[Int, Tally] = tallies.asScala.toMap

  /** Milliseconds of `[startMs, endMs]` (epoch) covered by no running
    * stage of `t`. */
  def uncoveredMs(t: Tally, startMs: Long, endMs: Long): Long = {
    val runs = t.synchronized(t.stageRuns.toList)
      .map { case (s, c) => (math.max(s, startMs), math.min(c, endMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var edge = startMs
    runs.foreach { case (s, c) =>
      if (c > edge) { covered += c - math.max(s, edge); edge = c }
    }
    math.max(0L, (endMs - startMs) - covered)
  }
}

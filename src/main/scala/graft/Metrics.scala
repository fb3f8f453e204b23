package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** Operational metrics — the engine analog of the reference's
  * Prometheus counters/histograms (`etl_2025.py:27-29,169,181`:
  * processed-records counter, processing-seconds histogram, errors
  * counter) and ETLMetrics (`etl_2020.py:20-34`).
  *
  * The engine's one listener, on both buses:
  *  - as a QueryExecutionListener it rides every action on the
  *    session: query count, cumulative duration, failure count,
  *    Catalyst phase ms (the action's `qe.tracker`), plus every named
  *    `observe()` metric (see [[Quality.observed]]) keyed by
  *    observation name — executor-side accumulators the job already
  *    carries, zero extra scans;
  *  - as a SparkListener it counts the scheduler's work: jobs, stages,
  *    tasks, and the tasks' summed run, deserialize, scheduler-delay
  *    and GC ms;
  *  - Janino compiles and their ms, which no bus carries: read off
  *    Spark's process-wide codegen counters ([[Metrics.codegen]]),
  *    counted from the listener's construction.
  * The same counters serve `/metrics` ([[Metrics.serveMetrics]]) and
  * Bench's per-query layers ([[Metrics.measure]] deltas).
  */
final class MetricsListener extends SparkListener with QueryExecutionListener {

  // DoubleAdder, not LongAdder: observed metrics can be fractional
  // (e.g. avg_quality in [0, 1] — longValue() would truncate them to
  // 0); counts stay exact as doubles up to 2^53.
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  private val (compiles0, compileNs0) = Metrics.codegen

  private def add(key: String, v: Double): Unit =
    counters.computeIfAbsent(key, _ => new DoubleAdder()).add(v)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    add("queries_total", 1.0)
    add("query_duration_ms_sum", durationNs / 1e6)
    add("catalyst_ms_sum", Metrics.catalystMs(qe).toDouble)
    qe.observedMetrics.foreach { case (obsName, row) =>
      row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
        row.get(i) match {
          case n: Number => add(s"observed.$obsName.$f", n.doubleValue())
          case _ => // non-numeric observed metric — skip
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    add("errors_total", 1.0)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    add("jobs_total", 1.0)

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    add("stages_total", 1.0)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      add("tasks_total", 1.0)
      add("task_run_ms_sum", m.executorRunTime.toDouble)
      add("task_deserialize_ms_sum", m.executorDeserializeTime.toDouble)
      add("task_gc_ms_sum", m.jvmGCTime.toDouble)
      // launch-to-finish wall not spent deserializing, running or
      // serializing the result: waiting on the scheduler
      val wall = t.taskInfo.finishTime - t.taskInfo.launchTime
      add("task_scheduler_delay_ms_sum", math.max(0L, wall -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime).toDouble)
    }
  }

  /** Point-in-time view of all counters. */
  def snapshot: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    counters.forEach((k, v) => b += k -> v.sum())
    val (compiles, compileNs) = Metrics.codegen
    b += "codegen_compiles_total" -> (compiles - compiles0).toDouble
    b += "codegen_ms_sum" -> (compileNs - compileNs0) / 1e6
    b.result()
  }
}

object Metrics {
  /** The listeners registered on each session's query bus: [[install]]ed
    * ones, and on a [[graft.ops.SessionIso]] child those it
    * [[inherit]]ed. Weak on the session. */
  private val registered =
    new java.util.WeakHashMap[SparkSession, Set[MetricsListener]]()

  private def registeredOn(spark: SparkSession): Set[MetricsListener] =
    Option(registered.get(spark)).getOrElse(Set.empty)

  /** Install a listener on both of the session's buses; returns it for
    * scraping. The scheduler bus is the SparkContext's, so it sees
    * every session's jobs; the query bus is per session, and the
    * session's [[graft.ops.SessionIso]] children (the CC loop, the
    * k-means train, the eager pipelines) [[inherit]] the listener on
    * their next use. */
  def install(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    registered.synchronized {
      spark.listenerManager.register(l)
      registered.put(spark, registeredOn(spark) + l): Unit
    }
    l
  }

  /** Remove an [[install]]ed listener from both buses. Children drop
    * it on their next use. */
  def uninstall(spark: SparkSession, l: MetricsListener): Unit = {
    registered.synchronized {
      spark.listenerManager.unregister(l)
      registered.put(spark, registeredOn(spark) - l): Unit
    }
    spark.sparkContext.removeSparkListener(l)
  }

  /** Make `child`'s query bus carry exactly the listeners on
    * `parent`'s: register the missing ones, unregister the ones
    * `parent` no longer has. [[graft.ops.SessionIso.withChild]] calls
    * it on every use, as it copies the parent's conf, so a child's
    * actions reach the parent's `queries_total` and observed metrics,
    * and a grandchild's reach them through its parent. */
  private[graft] def inherit(parent: SparkSession, child: SparkSession): Unit =
    registered.synchronized {
      val want = registeredOn(parent)
      val have = registeredOn(child)
      (have -- want).foreach(l => child.listenerManager.unregister(l))
      (want -- have).foreach(l => child.listenerManager.register(l))
      registered.put(child, want): Unit
    }

  /** Spark's codegen counters: classes compiled and compile ns, over
    * the whole JVM (driver and local executors alike). */
  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Wall ms of an action's Catalyst phases (analysis, optimization,
    * planning), as its tracker recorded them. Reading the tracker
    * forces nothing. */
  def catalystMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  /** Run `body`; return its result, its wall ms and the listener's
    * counter deltas over it. The listener bus is drained before and
    * after `body`, outside the timed span, so every event `body`
    * caused — and none from before it — is in the delta.
    */
  def measure[A](spark: SparkSession, l: MetricsListener)(body: => A)
      : (A, Double, Map[String, Double]) = {
    ListenerDrain.drain(spark.sparkContext)
    val before = l.snapshot
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    ListenerDrain.drain(spark.sparkContext)
    val delta = l.snapshot.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    (r, ms, delta)
  }

  /** Serve a listener's [[MetricsListener.snapshot]] in Prometheus
    * text exposition format (text/plain; version=0.0.4) on
    * `http://<host>:<port>/metrics` — the engine analog of the
    * reference's `start_http_server(9090)`
    * (`etl_2025.py:268`). Pure-JDK
    * `com.sun.net.httpserver`, no new dependencies; port 0 binds an
    * ephemeral port (tests). Metric names are sanitized to the
    * Prometheus charset ([a-zA-Z0-9_:]) and prefixed `graft_`.
    * Binds loopback by default — the endpoint has no auth, so
    * exposing it beyond the host is an explicit choice: pass the
    * interface (e.g. `"0.0.0.0"` behind a scrape-only network) as
    * `host`. Returns the server; call [[stopMetricsServer]] (or
    * `.stop(0)`) to release the port.
    */
  def serveMetrics(listener: MetricsListener, port: Int = 9090,
                   host: String = "127.0.0.1")
      : com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(host, port), 0)
    server.createContext("/metrics",
      new com.sun.net.httpserver.HttpHandler {
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          // two raw keys may sanitize to the same metric name; a
          // duplicate name makes Prometheus reject the WHOLE scrape,
          // so collisions get a stable per-key hash suffix instead
          val snap = listener.snapshot.toSeq.sortBy(_._1)
          val sanitized = snap.map { case (k, _) =>
            "graft_" + k.replaceAll("[^a-zA-Z0-9_:]", "_") }
          val counts = sanitized.groupBy(identity).view.mapValues(_.size)
          val body = snap.zip(sanitized)
            .map { case ((k, v), base) =>
              val name = if (counts(base) > 1)
                f"${base}_${k.hashCode & 0xffffff}%06x" else base
              s"# TYPE $name counter\n$name $v"
            }.mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type",
            "text/plain; version=0.0.4; charset=utf-8")
          ex.sendResponseHeaders(200, body.length.toLong)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
        }
      })
    server.start()
    server
  }

  def stopMetricsServer(server: com.sun.net.httpserver.HttpServer): Unit =
    server.stop(0)
}

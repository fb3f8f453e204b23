package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line settings of one benchmark run (`opTimeoutS` is fixed;
  * the self-tests lower it). */
final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
                      trace: Boolean = false, root: String = ".", cores: Int = 4,
                      commit: String = "unknown", opTimeoutS: Double = 60.0) {
  def bench: Path = java.nio.file.Paths.get(root, "perfbench")
  def out: Path = java.nio.file.Paths.get(root, ".bench_out")
  def fixture: String = bench.resolve("data/sf0.01").toAbsolutePath.toString
}

/** One execution of one operation: its wall time, and the CPU time the
  * whole process spent meanwhile (all threads: tasks, driver, JIT, GC). */
final case class Exec(id: Int, op: Op, pass: Int, ok: Boolean, error: Option[String],
                      wallNs: Long, cpuNs: Long, phaseNs: Map[String, Long],
                      execPhase: (Long, Long))

object Runner {
  /** Job-local property naming the phase a job was started in. */
  val PhaseProperty = "perfbench.phase"

  val Workloads = Seq("queries", "pipelines")

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed passes between the cold pass and the timed window. After a
    * `queries` cold pass the JIT is far from done (7–10 s of compilation
    * in the next pass, 5–6 s in the one after), and until it settles the
    * panel's code runs slower; the window holds fewer passes when the host
    * is slow, which would let those passes set the median. A `pipelines`
    * cold pass is 2–3× the CPU of a warm one, and its first warm pass is
    * already steady. */
  val WarmupPasses = Map("queries" -> 2, "pipelines" -> 0)
  /** Pipelines input size: users rows in the drop, base documents of the
    * corpus (planted copies and extras come on top). */
  val UserRows = 30000
  val CorpusBase = 300
  /** No new warm pass starts after this many seconds of the run, so a run
    * stays inside its time limit on a slow host. */
  val MaxRunS = 150.0

  /** End-to-end metrics: (name, unit). Pass costs are application CPU
    * time ([[AppCpu]]): on a shared virtual host, stolen CPU stretches
    * wall time by up to 2× for minutes at a time, while CPU time leaves
    * steal out. Wall times of the passes, and operation latency
    * percentiles (5–24 warm samples, too few for a steady p90), go to the
    * result record. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_pass_cpu_s" -> "cpu_s", "warm_pass_cpu_s" -> "cpu_s",
    "rows_per_cpu_s" -> "rows/cpu_s", "live_heap_mb" -> "MB")

  val Modules = Seq("Transforms", "Aggregates", "Relational", "TimeOps", "AsOf",
    "Sampling", "Features", "NearDup", "TextSim", "Ann", "Cluster", "Multimodal")
  val PipeCalls = Seq("basic2016", "validated2018", "parallel2020", "quality2022",
    "streaming2025", "curationOver")

  /** Per-layer metrics: (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "ops.build_ms" -> "ms", "ops.build_jobs" -> "count",
    "catalyst.plan_ms" -> "ms", "catalyst.codegen_compiles" -> "count",
    "catalyst.codegen_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.failed_tasks" -> "count", "sched.driver_gap_ms" -> "ms",
    "sched.task_wait_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.core_util" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "bytes",
    "sources.input_rows" -> "rows", "sources.input_bytes" -> "bytes",
    "sinks.output_rows" -> "rows", "sinks.output_bytes" -> "bytes",
    "stream.batches" -> "count", "stream.batch_ms_max" -> "ms",
    "stream.rows_per_s" -> "rows/s") ++
    Modules.map(m => s"mod.$m.op_s" -> "s") ++ PipeCalls.map(c => s"pipe.$c.s" -> "s")

  final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
                           metrics: Seq[(String, (Double, String))])

  /** Pass timings of a run. An operation that failed any execution (threw,
    * timed out, or failed its output check) is excluded from every
    * timing, so a broken operation never reads as a fast one. */
  final case class Summary(excluded: Set[String], coldS: Double, warmPasses: Seq[Double],
                           warmOpS: Seq[Double], coldCpuS: Double, warmCpuPasses: Seq[Double]) {
    def warmPassS: Double = Stats.median(warmPasses)
    def warmPassCpuS: Double = Stats.median(warmCpuPasses)
  }

  def summarize(execs: Seq[Exec], timed: Seq[Int]): Summary = {
    val excluded = execs.filterNot(_.ok).map(_.op.name).toSet
    val good = execs.filter(e => !excluded(e.op.name))
    def passS(p: Int): Double = good.filter(_.pass == p).map(_.wallNs).sum / 1e9
    def passCpuS(p: Int): Double = good.filter(_.pass == p).map(_.cpuNs).sum / 1e9
    Summary(excluded, passS(0), timed.map(passS),
      good.filter(e => timed.contains(e.pass)).map(_.wallNs / 1e9), passCpuS(0),
      timed.map(passCpuS))
  }
}

/** Runs one workload in one fresh session and reports its metrics. */
final class Runner(a: Args) {
  import Runner._

  private val t0Ns = System.nanoTime()
  private val heapReadings = ArrayBuffer.empty[Double]
  private val overheadS = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var pool: ExecutorService = Executors.newSingleThreadExecutor()
  private val appCpu = new AppCpu
  private var nextExec = 0

  /** Heap in use after full collections, MB, taken once after the last
    * pass (the live heap only grows over a run: relation caches, codegen
    * and plan caches). Collected three times, a moment apart: Spark's
    * ContextCleaner frees the blocks and broadcasts of dropped DataFrames
    * only after a collection has enqueued their references. */
  def sampleHeap(): Unit = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    heapReadings += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Builds a bench session and readies it: extensions registered, every
    * fixture table listed and its schema asserted. Returns seconds taken. */
  def setup(fromJvmStart: Boolean): (SparkSession, Double) = {
    val start = if (fromJvmStart) ManagementFactory.getRuntimeMXBean.getStartTime
      else System.currentTimeMillis()
    val spark = Session.build(a)
    graft.ops.Sources.assertFixtureSchemas(spark, a.fixture)
    (spark, (System.currentTimeMillis() - start) / 1000.0)
  }

  /** One execution of `op`, in a worker thread under its own job group,
    * bounded by the operation timeout. The output check (when asked for)
    * runs after the timed call and outside its job group. */
  def runOnce(spark: SparkSession, op: Op, pass: Int, check: Boolean,
              tracer: Option[Tracer], parentSpan: Int, workload: String): Exec = {
    val id = nextExec
    nextExec += 1
    val prep0 = System.nanoTime()
    op.prepare()
    overheadS("prepare") += (System.nanoTime() - prep0) / 1e9
    val sc = spark.sparkContext
    val group = Groups.exec(id)
    tracer.foreach(_.switchTo(id))
    val phaseNs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var execPhase = (0L, 0L)
    val opSpan = tracer.map(_.open("operation:" + op.name, parentSpan, id)).getOrElse(-1)
    val phases = new Phases {
      def apply[T](name: String)(body: => T): T = {
        sc.setLocalProperty(PhaseProperty, name)
        val cg0 = tracer.map(_.codegen)
        val s0 = tracer.map(_.nowMs)
        val e0 = System.currentTimeMillis()
        val p0 = System.nanoTime()
        val r = body
        val dt = System.nanoTime() - p0
        phaseNs(name) = phaseNs.getOrElse(name, 0L) + dt
        if (name == "execute") execPhase = (e0, System.currentTimeMillis())
        tracer.foreach { tr =>
          tr.span(name, opSpan, id, s0.get, tr.nowMs)
          val (c1, n1) = tr.codegen
          val t = tr.tally(id)
          t.synchronized {
            t.codegenCompiles += c1 - cg0.get._1
            t.codegenNs += n1 - cg0.get._2
          }
        }
        r
      }
    }
    val cpu0 = appCpu.nowNs()
    val wall0 = System.nanoTime()
    val timed = pool.submit(new Callable[AnyRef] {
      def call(): AnyRef = {
        sc.setJobGroup(group, s"perfbench:$workload:${op.name}:pass$pass",
          interruptOnCancel = true)
        try op.execute(spark, phases)
        finally { sc.clearJobGroup(); sc.setLocalProperty(PhaseProperty, null) }
      }
    })
    val result: Either[String, AnyRef] =
      try Right(timed.get((a.opTimeoutS * 1e9).toLong, TimeUnit.NANOSECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          timed.cancel(true)
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor()
          Left(s"timed out after ${a.opTimeoutS} s")
        case e: java.util.concurrent.ExecutionException =>
          Left(s"threw ${describe(e.getCause)}")
      }
    val wallNs = System.nanoTime() - wall0
    val cpuNs = appCpu.nowNs() - cpu0
    tracer.foreach { tr =>
      tr.close(opSpan)
      tr.drain()
      result.foreach {
        case df: DataFrame @unchecked =>
          // planning of the query itself (the actions' own plans arrive
          // through the QueryExecutionListener)
          val ms = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
          val t = tr.tally(id)
          t.synchronized { t.planMs += ms }
        case _ =>
      }
    }
    val check0 = System.nanoTime()
    val error = result match {
      case Left(err) => Some(err)
      case Right(out) if check =>
        val c = pool.submit(new Callable[Option[String]] {
          def call(): Option[String] = op.check(spark, out)
        })
        try c.get((a.opTimeoutS * 1e9).toLong, TimeUnit.NANOSECONDS).map("wrong output: " + _)
        catch {
          case _: TimeoutException =>
            c.cancel(true); pool.shutdownNow(); pool = Executors.newSingleThreadExecutor()
            Some("output check timed out")
          case e: java.util.concurrent.ExecutionException =>
            Some(s"output check threw ${describe(e.getCause)}")
        }
      case _ => None
    }
    overheadS("check") += (System.nanoTime() - check0) / 1e9
    Exec(id, op, pass, error.isEmpty, error, wallNs, cpuNs, phaseNs.toMap, execPhase)
  }

  private def describe(t: Throwable): String =
    (t.getClass.getName + ": " + String.valueOf(t.getMessage)).linesIterator.take(3).mkString(" | ")

  def elapsedS: Double = (System.nanoTime() - t0Ns) / 1e9

  /** The panel of the `queries` workload, after checking that every
    * declared query is assigned and has an expected output, and that the
    * panel holds one query of every module. Fails loudly otherwise. */
  def queryPanel(): Seq[Op] = {
    val entries = Queries.entries(a.bench.resolve("data/queries.tsv"))
    val (unassigned, vanished) = Queries.drift(entries)
    if (unassigned.nonEmpty || vanished.nonEmpty)
      throw new IllegalStateException(
        "query assignment out of date (perfbench/data/queries.tsv): " +
          s"unassigned ${unassigned.toSeq.sorted.mkString("[", ", ", "]")}, " +
          s"vanished ${vanished.toSeq.sorted.mkString("[", ", ", "]")}")
    val expected = Queries.expected(a.bench.resolve("data/expected_sf0.01.json"))
    val missing = entries.map(_.name).filterNot(expected.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"no expected output for ${missing.sorted.mkString(", ")}; regenerate it " +
          "with perfbench/tools/make_expected.py")
    val byName = entries.map(e => e.name -> e).toMap
    val panel = Queries.panel(a.bench.resolve("data/panel.txt")).map { n =>
      byName.getOrElse(n, throw new IllegalStateException(s"panel query $n is not declared"))
    }
    val uncovered = entries.map(_.module).distinct.filterNot(panel.map(_.module).contains)
    if (uncovered.nonEmpty || panel.map(_.module).distinct.size != panel.size)
      throw new IllegalStateException("perfbench/data/panel.txt must hold one query per " +
        s"module; uncovered: ${uncovered.sorted.mkString(", ")}")
    panel.map(e => new QueryOp(e.name, e.module, a.fixture, expected(e.name)))
  }

  /** The whole run: set up, build the workload, cold pass with checks,
    * warm passes for `seconds`, then metrics. */
  def run(): Outcome = {
    require(Workloads.contains(a.workload),
      s"unknown workload '${a.workload}' (expected one of ${Workloads.mkString(", ")})")
    Files.createDirectories(a.out)
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { i =>
      if (spark != null) Session.stop(spark)
      val (s, secs) = setup(fromJvmStart = i == 0)
      spark = s
      setupS += secs
    }
    val work = a.out.resolve("work").resolve(a.workload)
    Fs.rm(work)
    Files.createDirectories(work)

    val inputs0 = System.nanoTime()
    val (ops, info) = a.workload match {
      case "pipelines" =>
        val in = new PipelineInputs(spark, work, a.seed, UserRows, CorpusBase)
        (PipelineOps.all(spark, in, work),
          Seq("users_rows" -> in.users.total, "corpus_docs" -> in.corpus.docs.size,
            "expected_stages" -> in.corpus.expected.toString))
      case _ => (queryPanel(), Nil)
    }
    overheadS("inputs") += (System.nanoTime() - inputs0) / 1e9
    System.err.println(s"perfbench: ${a.workload} seed ${a.seed}: ${ops.size} ops " +
      s"(${ops.map(_.name).mkString(", ")})")

    val rows = new RowCounter
    spark.sparkContext.addSparkListener(rows)
    val tracer = if (a.trace) Some(new Tracer(spark, t0Ns)) else None
    val root = tracer.map(_.open("workload:" + a.workload, -1, -1)).getOrElse(-1)
    val execs = ArrayBuffer.empty[Exec]
    val passWallS = ArrayBuffer.empty[Double]
    val passJitGcMs = ArrayBuffer.empty[(Long, Long)]
    def jitGcMs: (Long, Long) = (
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
    def pass(p: Int): Unit = {
      val jg0 = jitGcMs
      val order = new scala.util.Random(a.seed * 7919L + p).shuffle(ops)
      val ps = tracer.map(_.open(s"pass:$p", root, -1)).getOrElse(-1)
      val w0 = System.nanoTime()
      order.foreach(op => execs += runOnce(spark, op, p, check = p == 0, tracer, ps, a.workload))
      passWallS += (System.nanoTime() - w0) / 1e9
      val jg1 = jitGcMs
      passJitGcMs += ((jg1._1 - jg0._1, jg1._2 - jg0._2))
      tracer.foreach(_.close(ps))
    }
    pass(0)
    val warmup = WarmupPasses(a.workload)
    (1 to warmup).foreach(pass)
    GraftBenchBus.drain(spark.sparkContext)
    val rows0 = rows.rows.get
    val window0 = System.nanoTime()
    var p = warmup + 1
    while (p == warmup + 1 ||
        ((System.nanoTime() - window0) / 1e9 < a.seconds && elapsedS < MaxRunS)) {
      pass(p)
      p += 1
    }
    GraftBenchBus.drain(spark.sparkContext)
    val warmRows = rows.rows.get - rows0
    val timed = (warmup + 1) until p
    val nWarm = timed.size
    sampleHeap()
    tracer.foreach(_.close(root))

    val failedExecs = execs.filterNot(_.ok)
    val s = summarize(execs.toSeq, timed)
    // input rows one pass consumes: the generated inputs for pipelines,
    // the fixture rows the panel reads (measured) for queries
    val rowsPerPass = a.workload match {
      case "pipelines" => ops.filterNot(o => s.excluded(o.name)).map(_.inputRows).sum.toDouble
      case _ => warmRows.toDouble / nWarm
    }
    val e2e = Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "cold_pass_cpu_s" -> s.coldCpuS,
      "warm_pass_cpu_s" -> s.warmPassCpuS,
      "rows_per_cpu_s" -> rowsPerPass / s.warmPassCpuS,
      "live_heap_mb" -> heapReadings.max)
    val units = EndToEnd.toMap
    val e2eOut = e2e.map { case (k, v) => k -> (v, units(k)) }

    // ---- report ----
    val attempted = execs.size
    val warmOps = s.warmOpS
    val warmPass = s.warmPasses
    val good = execs.filter(e => !s.excluded(e.op.name))
    System.err.println(f"perfbench: passes 1 cold + $warmup warm-up + $nWarm warm, " +
      f"${warmOps.size} warm " +
      f"operation samples, fail_frac ${failedExecs.size.toDouble / attempted}%.4f " +
      s"(${failedExecs.size}/$attempted)")
    System.err.println(f"perfbench: wall time cold pass ${s.coldS}%.2f s, warm pass " +
      f"${s.warmPassS}%.2f s, ${rowsPerPass / s.warmPassS}%.0f rows/s")
    failedExecs.foreach { e =>
      System.err.println(s"perfbench: FAILED ${e.op.name} (pass ${e.pass}): ${e.error.get}")
    }
    val perLayer = tracer.map { tr =>
      tr.stop()
      val layers = Layers.compute(tr, execs.toSeq, p, a.cores)
      writeSpans(tr, layers, execs.toSeq)
      layers
    }
    val metrics = perLayer match {
      case Some(l) =>
        val u = PerLayer.toMap
        PerLayer.map { case (k, _) => k -> (l.getOrElse(k, 0.0), u(k)) }
      case None => e2eOut
    }
    val runInfo = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "spark" -> spark.version,
      "commit" -> a.commit, "ops" -> ops.map(_.name), "warmup_passes" -> warmup, "warm_passes" -> nWarm,
      "warm_samples" -> warmOps.size, "setups_s" -> setupS.toSeq,
      "input_rows_per_pass" -> rowsPerPass, "op_p50_s" -> Stats.quantile(s.warmOpS, 0.5),
      "op_p90_s" -> Stats.quantile(s.warmOpS, 0.9),
      "cold_pass_s" -> s.coldS, "warm_pass_s" -> s.warmPassS,
      "rows_per_s" -> rowsPerPass / s.warmPassS,
      "untimed_s" -> overheadS.toSeq.sortBy(_._1),
      "pass_wall_s" -> passWallS.toSeq,
      "pass_jit_ms" -> passJitGcMs.map(_._1).toSeq, "pass_gc_ms" -> passJitGcMs.map(_._2).toSeq) ++ info
    val record = Seq(
      "run" -> runInfo,
      "end_to_end" -> e2e,
      "per_layer" -> perLayer.map(_.toSeq.sortBy(_._1)).getOrElse(Nil),
      "failed" -> failedExecs.map(e => Seq("op" -> e.op.name, "pass" -> e.pass,
        "cause" -> e.error.get)),
      "samples" -> Seq(
        "op" -> good.filter(e => timed.contains(e.pass)).map(e => Seq("op" -> e.op.name, "s" -> e.wallNs / 1e9)),
        "warm_pass_s" -> warmPass, "warm_pass_cpu_s" -> s.warmCpuPasses))
    val tag = if (a.trace) "trace" else "untraced"
    Files.write(a.out.resolve(s"result_${a.workload}_$tag.json"),
      Json.render(record).getBytes("UTF-8"))
    if (a.trace) overhead(e2e)
    Session.stop(spark)
    pool.shutdownNow()
    appCpu.stop()
    Outcome(failedExecs.isEmpty, attempted, failedExecs.size, metrics)
  }

  /** Traced minus untraced, per end-to-end metric, against the latest
    * untraced run of this workload in the same checkout. */
  private def overhead(traced: Seq[(String, Double)]): Unit = {
    val f = a.out.resolve(s"result_${a.workload}_untraced.json")
    if (!Files.exists(f)) {
      System.out.println("tracing overhead: no untraced run of this workload to compare with")
    } else {
      val base = Json.parse(new String(Files.readAllBytes(f), "UTF-8"))
        .asInstanceOf[Map[String, Any]]("end_to_end").asInstanceOf[Map[String, Any]]
      val units = EndToEnd.toMap
      traced.foreach { case (k, v) =>
        val u = base(k).asInstanceOf[Double]
        System.out.println(f"tracing overhead $k: traced $v%.4f - untraced $u%.4f = ${v - u}%+.4f ${units(k)}")
      }
    }
  }

  private def writeSpans(tr: Tracer, layers: Map[String, Double], execs: Seq[Exec]): Unit = {
    val spans = tr.spans.toSeq
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    val opOf = execs.map(e => e.id -> e.op.name).toMap
    val spanJson = spans.map { s =>
      Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "exec" -> s.exec,
        "op" -> opOf.getOrElse(s.exec, ""), "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durMs, "self_ms" -> math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0)))
    }
    val selfByKind = spans.groupBy(_.name.takeWhile(_ != ':')).map { case (k, ss) =>
      k -> ss.map(s => math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0))).sum
    }
    val talliesJson = tr.talliesByExec.toSeq.sortBy(_._1).map { case (id, t) =>
      Seq("exec" -> id, "op" -> opOf.getOrElse(id, ""), "jobs" -> t.jobs,
        "build_jobs" -> t.buildJobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "task_run_ms" -> t.taskRunMs, "plan_ms" -> t.planMs,
        "codegen_compiles" -> t.codegenCompiles, "shuffle_write" -> t.shuffleWrite,
        "input_rows" -> t.inRows, "output_rows" -> t.outRows, "batches" -> t.batches)
    }
    val doc = Seq("workload" -> a.workload, "seed" -> a.seed, "layers" -> layers,
      "self_ms_by_kind" -> selfByKind, "tallies" -> talliesJson, "spans" -> spanJson)
    Files.write(a.out.resolve(s"spans_${a.workload}.json"), Json.render(doc).getBytes("UTF-8"))
  }
}

/** Per-layer metrics from a traced run, as means per pass. */
object Layers {
  def compute(tr: Tracer, execs: Seq[Exec], passes: Int, cores: Int): Map[String, Double] = {
    val ts = tr.talliesByExec
    def sumT(f: Tally => Double): Double = execs.flatMap(e => ts.get(e.id)).map(f).sum
    def perPass(x: Double): Double = x / passes
    val opWallMs = execs.map(_.wallNs / 1e6).sum
    val gapMs = execs.map { e =>
      val (s, c) = e.execPhase
      ts.get(e.id).map(t => tr.uncoveredMs(t, s, c)).getOrElse(math.max(0L, c - s))
    }.sum.toDouble
    val batchMs = sumT(_.batchMs.toDouble)
    val base = Map(
      "ops.build_ms" -> perPass(execs.map(_.phaseNs.getOrElse("build", 0L) / 1e6).sum),
      "ops.build_jobs" -> perPass(sumT(_.buildJobs.toDouble)),
      "catalyst.plan_ms" -> perPass(sumT(_.planMs.toDouble)),
      "catalyst.codegen_compiles" -> perPass(sumT(_.codegenCompiles.toDouble)),
      "catalyst.codegen_ms" -> perPass(sumT(_.codegenNs / 1e6)),
      "sched.jobs" -> perPass(sumT(_.jobs.toDouble)),
      "sched.stages" -> perPass(sumT(_.stages.toDouble)),
      "sched.tasks" -> perPass(sumT(_.tasks.toDouble)),
      "sched.failed_tasks" -> perPass(sumT(_.failedTasks.toDouble)),
      "sched.driver_gap_ms" -> perPass(gapMs),
      "sched.task_wait_ms" -> perPass(sumT(_.taskWaitMs.toDouble)),
      "exec.task_run_ms" -> perPass(sumT(_.taskRunMs.toDouble)),
      "exec.task_cpu_ms" -> perPass(sumT(_.taskCpuNs / 1e6)),
      "exec.gc_ms" -> perPass(sumT(_.gcMs.toDouble)),
      "exec.core_util" -> (if (opWallMs > 0) sumT(_.taskRunMs.toDouble) / (opWallMs * cores) else 0.0),
      "shuffle.write_bytes" -> perPass(sumT(_.shuffleWrite.toDouble)),
      "shuffle.read_bytes" -> perPass(sumT(_.shuffleRead.toDouble)),
      "shuffle.fetch_wait_ms" -> perPass(sumT(_.fetchWaitMs.toDouble)),
      "shuffle.spill_bytes" -> perPass(sumT(_.spill.toDouble)),
      "sources.input_rows" -> perPass(sumT(_.inRows.toDouble)),
      "sources.input_bytes" -> perPass(sumT(_.inBytes.toDouble)),
      "sinks.output_rows" -> perPass(sumT(_.outRows.toDouble)),
      "sinks.output_bytes" -> perPass(sumT(_.outBytes.toDouble)),
      "stream.batches" -> perPass(sumT(_.batches.toDouble)),
      "stream.batch_ms_max" -> execs.flatMap(e => ts.get(e.id)).map(_.batchMsMax.toDouble)
        .foldLeft(0.0)(math.max),
      "stream.rows_per_s" -> (if (batchMs > 0) sumT(_.batchRows.toDouble) / batchMs * 1000 else 0.0))
    val byModule = Runner.Modules.map { m =>
      s"mod.$m.op_s" -> perPass(execs.filter(_.op.module == m).map(_.wallNs / 1e9).sum)
    }
    val byCall = Runner.PipeCalls.map { c =>
      s"pipe.$c.s" -> perPass(execs.filter(_.op.name == c).map(_.wallNs / 1e9).sum)
    }
    base ++ byModule ++ byCall
  }
}

/** CPU time of the application's Java threads: Spark tasks, the driver
  * thread of each operation, stream execution and Spark's service
  * threads. The JIT compiler and GC worker threads are not Java threads,
  * so they are left out; so is time a virtual CPU was held by the
  * hypervisor (steal). A sampler thread reads every thread each 50 ms
  * and keeps the last reading of threads that end, so a stream's
  * execution thread still counts after its query stops. */
final class AppCpu {
  private val mx = ManagementFactory.getThreadMXBean
  private val last = scala.collection.mutable.Map.empty[Long, Long]
  private var ended = 0L
  @volatile private var running = true
  private val sampler = new Thread(() =>
    while (running) { nowNs(); Thread.sleep(50) }, "perfbench-cpu-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Application CPU time so far, ns (the sampler's own time excluded). */
  def nowNs(): Long = synchronized {
    val now = mx.getAllThreadIds.iterator
      .filter(_ != sampler.getId)
      .map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    last.keys.filterNot(now.contains).toSeq.foreach { id => ended += last(id); last -= id }
    last ++= now
    ended + last.values.sum
  }

  def stop(): Unit = { running = false; sampler.join() }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN without samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The documented bench session (graft.Bench's settings). */
object Session {
  def build(a: Args): SparkSession = {
    val tmp = a.out.resolve("tmp").toAbsolutePath
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

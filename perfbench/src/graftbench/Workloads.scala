package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Pipelines, SparkEntry}

/** Times one phase of an operation. */
trait Phases {
  def apply[T](name: String)(body: => T): T
}

/** One timed operation of a workload. */
abstract class Op(val name: String, val module: String) {
  /** Untimed work before each execution (fresh output directories). */
  def prepare(): Unit = ()
  /** The timed call, split into phases; returns what [[check]] reads. */
  def execute(spark: SparkSession, phase: Phases): AnyRef
  /** Untimed output check: `None` when the output is correct. */
  def check(spark: SparkSession, out: AnyRef): Option[String]
  /** Generated input rows one execution consumes (pipelines only). */
  def inputRows: Long = 0L
}

/** A declared query: build through `SparkEntry.queries`, plan, then
  * materialize every column through the noop sink (never `count()`,
  * which lets the optimizer prune columns). */
final class QueryOp(name: String, module: String, fixture: String,
                    expected: Digest.Value) extends Op(name, module) {
  def execute(spark: SparkSession, phase: Phases): AnyRef = {
    val df = phase("build")(SparkEntry.queries(name)(spark, fixture))
    phase("plan")(df.queryExecution.executedPlan)
    phase("execute")(df.write.format("noop").mode("overwrite").save())
    df
  }
  def check(spark: SparkSession, out: AnyRef): Option[String] = {
    val got = Digest.of(out.asInstanceOf[DataFrame])
    if (got == expected) None
    else Some(s"rows ${got.rows} digest ${got.digest} != expected rows " +
      s"${expected.rows} digest ${expected.digest}")
  }
}

/** The `queries` workload. Every declared query is assigned in
  * `queries.tsv` (group `etl` or `curation`, by the module its builder
  * lives in); a run times the fixed panel in `panel.txt`, one query per
  * ops module. */
object Queries {
  final case class Entry(name: String, group: String, module: String)

  private def lines(file: Path): Seq[Array[String]] =
    Files.readAllLines(file).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  def entries(assignFile: Path): Seq[Entry] = lines(assignFile).map(f => Entry(f(0), f(1), f(2)))

  def panel(panelFile: Path): Seq[String] = lines(panelFile).map(_(0))

  /** Names declared but unassigned, and assigned but no longer declared. */
  def drift(entries: Seq[Entry]): (Set[String], Set[String]) = {
    val declared = SparkEntry.queries.keySet
    val assigned = entries.map(_.name)
    val dup = assigned.diff(assigned.distinct).toSet
    require(dup.isEmpty, s"queries assigned twice: ${dup.toSeq.sorted.mkString(", ")}")
    (declared -- assigned, assigned.toSet -- declared)
  }

  def expected(file: Path): Map[String, Digest.Value] = {
    val m = Json.parse(new String(Files.readAllBytes(file), "UTF-8"))
      .asInstanceOf[Map[String, Any]]("queries").asInstanceOf[Map[String, Any]]
    m.map { case (k, v) =>
      val o = v.asInstanceOf[Map[String, Any]]
      k -> Digest.Value(o("rows").asInstanceOf[Double].toLong, o("digest").asInstanceOf[String])
    }
  }
}

/** The `pipelines` workload: the five ETL eras over a seeded users drop,
  * and `curationOver` over a seeded corpus. */
final class PipelineInputs(spark: SparkSession, work: Path, seed: Long,
                           userRows: Int, corpusBase: Int) {
  val nFiles = 16
  val users: Gen.Users = Gen.users(seed, userRows, nFiles)
  val corpus: Gen.Corpus = Gen.corpus(seed, corpusBase)
  val drop: Path = work.resolve("drop")
  val streamPristine: Path = work.resolve("stream_pristine")
  val corpusDir: Path = work.resolve("corpus")

  {
    Files.createDirectories(drop)
    users.files.zipWithIndex.foreach { case (text, i) =>
      Files.write(drop.resolve(f"input_$i%02d.csv"), text.getBytes("UTF-8"))
    }
    // the stream reads the same rows as 16 parquet files
    val tmp = work.resolve("stream_tmp")
    spark.read.schema(Pipelines.usersSchema).option("header", "true")
      .csv(drop.toString).repartition(nFiles).write.parquet(tmp.toString)
    Files.createDirectories(streamPristine)
    Files.list(tmp).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString).zipWithIndex.foreach { case (part, i) =>
        Files.move(part, streamPristine.resolve(f"part_$i%02d.parquet"))
      }
    Fs.rm(tmp)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    spark.createDataFrame(
        corpus.docs.map(d => Row(d.id, d.text, d.source)).asJava, schema)
      .repartition(4).write.parquet(corpusDir.toString)
  }
}

object PipelineOps {
  def all(spark: SparkSession, in: PipelineInputs, work: Path): Seq[Op] = {
    val u = in.users
    def out(name: String): Path = work.resolve("out").resolve(name)
    def expect(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)

    abstract class Call(name: String) extends Op(name, "Pipelines") {
      override def prepare(): Unit = Fs.rm(out(name))
      override def inputRows: Long = u.total
    }
    Seq(
      new Call("basic2016") {
        def execute(s: SparkSession, p: Phases): AnyRef =
          p("execute")(Long.box(Pipelines.basic2016(s, in.drop.toString, out(name).resolve("o").toString)))
        def check(s: SparkSession, r: AnyRef): Option[String] =
          expect(r == Long.box(u.total), s"loaded $r != ${u.total}")
      },
      new Call("validated2018") {
        def execute(s: SparkSession, p: Phases): AnyRef = p("execute")(Pipelines.validated2018(
          s, in.drop.toString, out(name).resolve("o").toString, out(name).resolve("rej").toString))
        def check(s: SparkSession, r: AnyRef): Option[String] = {
          val want = Pipelines.ValidatedLoad(u.valid, u.total - u.valid)
          expect(r == want, s"$r != $want")
        }
      },
      new Call("parallel2020") {
        def execute(s: SparkSession, p: Phases): AnyRef =
          p("execute")(Pipelines.parallel2020(s, in.drop.toString, out(name).resolve("o").toString))
        def check(s: SparkSession, r: AnyRef): Option[String] = {
          val m = r.asInstanceOf[Map[String, Any]]
          val counts = Seq("n_rows", "n_valid", "n_invalid").map(k => m(k))
          val want = Seq(u.total, u.valid, u.total - u.valid)
          val q = m("avg_quality").asInstanceOf[Double]
          expect(counts == want && math.abs(q - u.valid.toDouble / u.total) < 1e-9,
            s"observed $m != counts $want, avg_quality ${u.valid.toDouble / u.total}")
        }
      },
      new Call("quality2022") {
        def execute(s: SparkSession, p: Phases): AnyRef =
          p("execute")(Pipelines.quality2022(s, in.drop.toString, out(name).resolve("o").toString))
        def check(s: SparkSession, r: AnyRef): Option[String] = {
          val q = r.asInstanceOf[Pipelines.QualityRun]
          expect(q.loaded == u.distinctValid && q.report.totalRows == u.total &&
            q.report.validRows == u.valid,
            s"loaded ${q.loaded} total ${q.report.totalRows} valid ${q.report.validRows} != " +
              s"${u.distinctValid} ${u.total} ${u.valid}")
        }
      },
      new Call("streaming2025") {
        private def dir(d: String) = out(name).resolve(d)
        override def prepare(): Unit = {
          super.prepare()
          Files.createDirectories(dir("in"))
          Files.list(in.streamPristine).iterator.asScala.foreach { f =>
            Files.copy(f, dir("in").resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
          }
        }
        def execute(s: SparkSession, p: Phases): AnyRef = p("execute") {
          // catch-up mode: drain what is there in 8-file micro-batches, stop
          val q = Pipelines.streaming2025(s, dir("in").toString, dir("o").toString,
              dir("ck").toString, dir("arch").toString, Some(8))
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          "done"
        }
        def check(s: SparkSession, r: AnyRef): Option[String] = {
          val rows = s.read.parquet(dir("o").toString).count()
          def names(d: Path): Seq[String] =
            if (!Files.exists(d)) Nil
            else Files.walk(d).iterator.asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSeq.sorted
          // Spark's file source archives a batch's files when it plans the
          // next batch (see StreamingSpec's cleanSource test), so the last
          // batch's files stay in the input until a later run: every file
          // is consumed once, in 8-file batches, and exactly the files of
          // the batches before the last are archived.
          val consumed = StreamCheck.sourceLog(dir("ck"))
          val last = if (consumed.isEmpty) -1L else consumed.map(_._2).max
          val wantArch = consumed.collect { case (f, b) if b < last => f }.sorted
          val wantLeft = consumed.collect { case (f, b) if b == last => f }.sorted
          // archiving runs on a cleaner thread; give it a moment to finish
          val deadline = System.nanoTime() + 2000000000L
          while (names(dir("arch")) != wantArch && System.nanoTime() < deadline)
            Thread.sleep(100)
          val all = names(in.streamPristine)
          val batches = (in.nFiles + 7) / 8
          expect(rows == u.valid && consumed.map(_._1).sorted == all && last == batches - 1 &&
            names(dir("arch")) == wantArch && names(dir("in")) == wantLeft,
            s"stream wrote $rows rows (want ${u.valid}), consumed ${consumed.size} of " +
              s"${all.size} files in ${last + 1} batches (want $batches), archived " +
              s"${names(dir("arch")).size} (want ${wantArch.size}), " +
              s"${names(dir("in")).size} left (want ${wantLeft.size})")
        }
      },
      new Op("curationOver", "Pipelines") {
        override def prepare(): Unit = Fs.rm(out(name))
        override def inputRows: Long = in.corpus.docs.size.toLong
        def execute(s: SparkSession, p: Phases): AnyRef = p("execute")(Pipelines.curationOver(
          s, s.read.parquet(in.corpusDir.toString), None, out(name).toString))
        def check(s: SparkSession, r: AnyRef): Option[String] = {
          val c = r.asInstanceOf[Pipelines.CurationRun]
          val e = in.corpus.expected
          val got = Gen.Stages(c.input, c.afterExactDedup, c.afterNearDedup,
            c.afterDecontamination, c.afterQuality, c.trainDocs, c.bins)
          expect(got == e, s"stages $got != expected $e")
        }
      })
  }
}

/** Reads a file stream's checkpoint. */
object StreamCheck {
  /** (file name, batch id) of every file the file source consumed, from
    * its metadata log under `checkpoint/sources/0` (a `v1` line, then one
    * JSON entry per file). */
  def sourceLog(checkpoint: Path): Seq[(String, Long)] = {
    val log = checkpoint.resolve("sources").resolve("0")
    if (!Files.exists(log)) Nil
    else Files.list(log).iterator.asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).filter(_.trim.nonEmpty))
      .map { line =>
        val e = Json.parse(line).asInstanceOf[Map[String, Any]]
        val path = e("path").toString
        (path.substring(path.lastIndexOf('/') + 1), e("batchId").asInstanceOf[Double].toLong)
      }
  }
}

/** Small filesystem helpers. */
object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(Files.delete)
}

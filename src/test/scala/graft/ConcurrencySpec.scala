package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Concurrent use of the shared session — the engine analog of the
  * reference's process-pool era (etl_2020.py): many queries submitted
  * simultaneously against one SparkSession must return exactly the
  * serial results. Exercises the thread-safety of the library surface
  * (Sources' relation cache, function registration, plan construction)
  * on top of Spark's own concurrent-job scheduler.
  */
class ConcurrencySpec extends SparkSpec {

  private val names = Seq("agg_group", "join_dim", "text_tokens",
    "sort_topk", "sim_search", "window_rank", "dedup_text", "src_scan")

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  test("8 queries racing on one session return the serial results") {
    val serial = names.map(n => n -> run(n)).toMap
    val racing = Await.result(
      Future.sequence(names.map(n => Future(n -> run(n)))),
      5.minutes).toMap
    names.foreach { n =>
      assert(racing(n) == serial(n), s"$n diverged under concurrency")
    }
  }

  test("two curationOver calls and a quality2022 racing on one session " +
    "return their serial results") {
    // all three run on the session's one SessionIso child (and the CC
    // loop inside curationOver on the child's own child), so they
    // serialize on its monitor: this pins that they neither deadlock
    // nor leak one call's conf or caches into another's result
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val csv = new java.io.File(tmp("cq"), "users.csv")
    java.nio.file.Files.writeString(csv.toPath, "name,age,email\n" +
      "alice,30,a@x.com\nbob,41,b@x.com\nbob,41,b@x.com\n,19,c@x.com\n")
    val docs = graft.ops.Sources.table(spark, sf, "documents")
    val calls: Seq[() => Any] = Seq(
      () => Pipelines.curationOver(spark, docs, None, tmp("cc1")),
      () => Pipelines.curationOver(spark, docs, None, tmp("cc2"),
        survivorPolicy = "quality"),
      () => {
        val q = Pipelines.quality2022(spark, csv.getPath, tmp("cq1"))
        (q.loaded, q.report, q.alerts)
      })
    val serial = calls.map(_())
    val racing = Await.result(
      Future.sequence(calls.map(c => Future(c()))), 5.minutes)
    assert(racing == serial)
  }
}

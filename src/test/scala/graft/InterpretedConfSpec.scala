package graft

import graft.ops.{SessionIso, ShuffleWidth, Sources}
import org.apache.spark.metrics.source.CodegenMetrics

/** The upgrade contract for the confs the eager pipelines run
  * interpreted under ([[ShuffleWidth.Interpreted]]).
  * `spark.sql.codegen.factoryMode` is an INTERNAL Spark conf, so a
  * Spark upgrade may stop honouring it without a compile error; this
  * suite fails then, with a message pointing at the rule, rather than
  * as a silent return of the per-call recompiles. It also pins that
  * the confs live only on the pipeline's child session and only for
  * the calls that set them.
  */
class InterpretedConfSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def callerCarriesNone(when: String): Unit =
    ShuffleWidth.Interpreted.keys.foreach { k =>
      assert(!spark.conf.getAll.contains(k), s"the caller's conf gained $k $when")
    }

  test("under the rule a warm curationOver compiles nothing, and the " +
      "interpreted confs are undone by the next call over it") {
    val docs = Sources.table(spark, sf, "documents")
    assert(ShuffleWidth.interprets(spark,
      docs.queryExecution.optimizedPlan.stats.sizeInBytes),
      "the sf fixture's documents must sit under InterpretBelowBytes")
    Pipelines.curationOver(spark, docs, None, tmp("ic1"))
    callerCarriesNone("after an interpreted call")
    val before = compiles
    Pipelines.curationOver(spark, docs, None, tmp("ic2"))
    assert(compiles == before,
      s"a warm interpreted curationOver compiled ${compiles - before} " +
        "classes: Spark no longer honours spark.sql.codegen.factoryMode=" +
        "NO_CODEGEN or wholeStage=false — re-measure ShuffleWidth's rule")
    ShuffleWidth.Interpreted.foreach { case (k, v) =>
      assert(SessionIso.childConf(spark, k).contains(v),
        s"the interpreted call's child did not carry $k=$v")
    }
    ShuffleWidth.forcingInterpret(false)(
      Pipelines.curationOver(spark, docs, None, tmp("ic3")))
    ShuffleWidth.Interpreted.keys.foreach { k =>
      assert(SessionIso.childConf(spark, k).isEmpty,
        s"$k survived on the reused child into a codegen call")
    }
    callerCarriesNone("after a codegen call")
  }
}

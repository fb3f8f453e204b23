package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the [[EngineSession]]
  * Verify checks and Bench times, at 4 cores, so the tests run the
  * same static plans (AQE off, 8 shuffle partitions). One session per
  * JVM — scalatest suites reuse it via getOrCreate, so the fixture
  * cost is paid once.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = EngineSession.build(4)

  /** Smallest scale factor — fast enough for unit tests. */
  val sf = "/root/testdata/sf0.001"

  /** Jobs `body` runs, read from the engine's listener
    * ([[MetricsListener]], `jobs_total`) over a drained window. */
  def jobsOf(body: => Any): Int = {
    val l = Metrics.install(spark)
    try Metrics.measure(spark, l)(body)._3.getOrElse("jobs_total", 0.0).toInt
    finally Metrics.uninstall(spark, l)
  }

  override def afterAll(): Unit = {
    // deliberately do NOT stop the shared session (other suites use it)
    super.afterAll()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all suites (one JVM per `sbt test` run). The
  * graft extensions are installed the same way the driver-facing queries do
  * it, so every e2e spec exercises the real wiring.
  */
trait SparkTestBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` and counts the Spark jobs it started. */
  def jobsRun[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCounter.jobsRun(spark.sparkContext)(body)

  /** Runs `body` and counts the Spark stages it submitted. */
  def stagesRun[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCounter.stagesRun(spark.sparkContext)(body)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.install(s)
    s
  }
}

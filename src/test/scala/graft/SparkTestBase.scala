package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. One session per JVM (getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** `local[4]` through the shared `GraftSession` setup, which sizes
    * shuffles to the 4 cores and registers graft's SQL functions. */
  lazy val session: SparkSession = {
    val s = GraftSession.getOrCreate("graft-test", "local[4]", Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
      // no nanosAsLong — match Local.session: a ns-precision source
      // must fail loudly, not read as misinterpreted raw longs
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

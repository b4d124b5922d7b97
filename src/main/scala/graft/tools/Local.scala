package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session of Bench, Verify and the tools: `local[cpus]`
  * (default `GraftSession.localCores`) through the shared
  * `GraftSession` setup, which sizes shuffles to those cores. Only the
  * settings below are Local's own. */
object Local {
  def session(cpus: Int = graft.GraftSession.localCores,
      logLevel: String = "WARN"): SparkSession = {
    val s = graft.GraftSession.getOrCreate("graft-local", s"local[$cpus]", Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
      // NO nanosAsLong: every timestamp consumer assumes a real
      // timestamp column. Reading a ns-precision source as raw longs
      // would silently shift event-time math by 9 orders of magnitude;
      // a loud read failure is the correct behavior until a consumer
      // actually handles long-nanos columns.
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}

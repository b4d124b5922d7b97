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
      "spark.ui.enabled" -> "false",
      // guide §3.1/§9 (r16): let the planner pick shuffled-hash over
      // sort-merge when its per-partition size conditions hold — both
      // sides are shuffled either way, SHJ just skips the two sorts.
      // Scale note: this is the guide's recommended baseline, not a
      // local[32] trick; the planner still requires the build side to
      // fit per partition (canBuildLocalHashMapBySize), so partition
      // sizing (shuffle.partitions, AQE) keeps it spill-safe on a
      // cluster, and SMJ remains the fallback when the conditions fail.
      "spark.sql.join.preferSortMergeJoin" -> "false"))
      // NO nanosAsLong: every timestamp consumer assumes a real
      // timestamp column. Reading a ns-precision source as raw longs
      // would silently shift event-time math by 9 orders of magnitude;
      // a loud read failure is the correct behavior until a consumer
      // actually handles long-nanos columns.
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}

package graft.tools

/** Dev probe: split a query's wall time into plan-build, analysis+
  * optimization (executedPlan force), and execution (noop write), warm
  * (second iteration). Usage: runMain graft.tools.PhaseProbe <q1,q2,...> [sfDir]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    System.setProperty("graft.aux.skip", "1")
    val spark = Local.session(logLevel = "ERROR")
    def ms[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    names.foreach { name =>
      (1 to 2).foreach { it =>
        spark.catalog.clearCache()
        val (df, tBuild) = ms(graft.SparkEntry.queries(name)(spark, sfDir))
        val (_, tPlan) = ms(df.queryExecution.executedPlan)
        val (_, tExec) = ms(df.write.format("noop").mode("overwrite").save())
        println(f"[phase] $name it=$it build=${tBuild}%.0f ms plan=${tPlan}%.0f ms exec=${tExec}%.0f ms")
      }
    }
    spark.stop()
  }
}

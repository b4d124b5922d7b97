package graft.tools

import java.io.{File, PrintWriter}

/** Dev tool: dump `.explain("formatted")` for a list of SparkEntry
  * queries into files, one JVM for the whole list (Explain.scala pays
  * a session per query). Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * writes <outDir>/<query>_<suffix>.txt for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = new File(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    outDir.mkdirs()
    // production form: plans must reflect what Bench times
    System.setProperty("graft.aux.skip", "1")
    val spark = Local.session(logLevel = "ERROR")
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new PrintWriter(new File(outDir, s"${name}_$suffix.txt"), "UTF-8")
        try w.println(plan) finally w.close()
        println(s"[plandump] $name -> ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

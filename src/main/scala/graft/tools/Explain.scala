package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one SparkEntry query and
  * time two materializations (cold + warm). Usage:
  *   runMain graft.tools.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Local.session(logLevel = "ERROR")
    def run(): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    println(f"run1 ${run()}%.3f s")
    println(f"run2 ${run()}%.3f s")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: quantify the single-row-group serialization of the local
  * testdata — same per-row-heavy projection with and without a
  * post-read repartition. */
object ParProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Local.session(logLevel = "ERROR")
    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime(); f
      println(f"[par] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val strip = (d: org.apache.spark.sql.DataFrame) => {
      val p0 = trim(regexp_replace(regexp_replace(col("text"),
        "[\\]\\[()*_`#>|\\\\=:.~{}!+<-]", ""), "[ \\t\\n\\r\\f\\x0B]+", " "))
      val p = when(length(p0) === 0, lit("x")).otherwise(p0)
      val md = concat_ws("\n", lit("# H"), concat(lit("**"), p, lit("** mid *"), p, lit("*")),
        concat(lit("["), p, lit("](http://ex.com/a) and `"), p, lit("`")),
        concat(lit("> "), p), concat(lit("- item "), p))
      d.select(col("doc_id"), graft.functions.GraftFunctions.markdownStrip(md).as("t"))
        .write.format("noop").mode("overwrite").save()
    }
    time("scan only") {
      docs.write.format("noop").mode("overwrite").save()
    }
    time("strip 1-task") { strip(docs) }
    time("strip repart32") { strip(docs.repartition(32)) }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    time("lineitem agg 1-task") {
      li.groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    }
    time("lineitem agg repart32") {
      li.repartition(32).groupBy("l_returnflag").agg(sum("l_quantity"), avg("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

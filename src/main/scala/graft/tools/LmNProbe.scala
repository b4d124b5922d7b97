package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: order-4 LM table-size accounting at a given SF — the
  * bytes-per-corpus-token number DESIGN.md cites (the observability
  * the round-7 verdict asked for before anyone ships a 5-gram).
  * Usage: runMain graft.tools.LmNProbe [sfDir] [order] [minCount] */
object LmNProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val order = args.lift(1).map(_.toInt).getOrElse(4)
    val minCount = args.lift(2).map(_.toLong).getOrElse(2L)
    val spark = Local.session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nTokens = docs.select(sum(graft.llm.TextAnalysis.wsTokenCount(col("text"))))
      .head().getLong(0)
    val t0 = System.nanoTime()
    val lm = graft.llm.LangModel.trainNgram(docs, "text", order, minCount)
    val path = java.io.File.createTempFile("graft_lmn_probe", s".lm$order").getAbsolutePath
    graft.llm.LangModel.saveNgram(lm, path)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    graft.functions.NgramRegistry.invalidate(path)
    val table = graft.functions.NgramRegistry.get(path) // prints the size line
    val loadSec = (System.nanoTime() - t1) / 1e9
    val fileBytes = new java.io.File(path).length()
    println(f"[probe] sf=$sfDir order=$order minCount=$minCount corpusTokens=$nTokens " +
      f"trainSec=$trainSec%.1f loadSec=$loadSec%.2f fileBytes=$fileBytes " +
      f"(order in table: ${table.order})")
    spark.stop()
  }
}

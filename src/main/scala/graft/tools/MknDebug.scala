package graft.tools

import org.apache.spark.sql.functions._
import graft.llm.LangModel

object MknDebug {
  def main(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainKneserNeyNMod(all.filter(col("doc_id") < 200), "text", 4)
    val path = "/tmp/mkn_debug.lm4"
    LangModel.saveNgram(lm.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val slow = LangModel.logProbPerDocKneserNeyNMod(held, lm, "doc_id", "text")
      .select(col("doc_id"), col("mkn_logp").as("s"))
    val fast = held.select(col("doc_id"),
      graft.functions.GraftFunctions.knModLogProb(col("text"), path).as("f"))
    val j = slow.join(fast, "doc_id")
      .withColumn("d", abs(col("s") - col("f")))
      .orderBy(desc("d"))
    val top = j.limit(5).collect()
    top.foreach(r =>
      println(s"doc=${r.getLong(0)} slow=${r.getDouble(1)} fast=${r.getDouble(2)} diff=${r.getDouble(3)}"))
    val worstId = top(0).getLong(0)
    val text = held.filter(col("doc_id") === worstId).head().getString(1)
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    println(s"worst doc $worstId ntoks=${toks.length}")
    val tbl = graft.functions.KnModRegistry.get(path)
    var prevN = 0.0
    var prevC = 0.0
    (1 to toks.length).foreach { k =>
      val pre = toks.take(k).mkString(" ")
      val n = tbl.avgLogProb(
        org.apache.spark.unsafe.types.UTF8String.fromString(pre)).doubleValue() * k
      val c = LangModel.logProbPerDocKneserNeyNMod(
        Seq((1L, pre)).toDF("doc_id", "text"), lm, "doc_id", "text")
        .head().getDouble(1) * k
      val dn = n - prevN; val dc = c - prevC
      if (math.abs(dn - dc) > 1e-12)
        println(f"pos $k tok='${toks(k - 1)}' native=$dn%.15f composable=$dc%.15f")
      prevN = n; prevC = c
    }
    spark.stop()
  }
}

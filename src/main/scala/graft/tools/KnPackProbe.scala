package graft.tools

import org.apache.spark.sql.functions._
import graft.llm.LangModel

/** Scoring-throughput probe for the KN registries: exact string-keyed
  * vs packed fingerprint/float32 (interpolated and modified), on a
  * replicated sf0.01 corpus — measures the SCORING path in isolation
  * (model trains once, registries warm once, then three timed passes
  * each). Run: `sbt "runMain graft.tools.KnPackProbe"`. */
object KnPackProbe {
  def main(args: Array[String]): Unit = {
    val spark = Local.session()
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainKneserNeyN(
      docs.filter(col("doc_id") < 100), "text", order = 4)
    val path = "/tmp/knpack_probe.lm4"
    LangModel.saveNgram(lm.ngram, path)
    // 500 docs x 100 = 50k scoring rows, cached so timing is pure score
    val corpus = docs.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select(col("text")).cache()
    val n = corpus.count()
    import graft.functions.GraftFunctions._
    def time(label: String, c: org.apache.spark.sql.Column): Unit = {
      // warm (registry load + codegen)
      corpus.select(c.as("s")).agg(sum("s")).head()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        corpus.select(c.as("s")).agg(sum("s")).head()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[knpack] $label%-14s median ${times(1)}%.3f s over $n docs " +
        f"(${n / times(1) / 1000}%.0f kdocs/s)")
    }
    time("kn exact", knNLogProb(col("text"), path))
    time("kn packed", knNLogProbPacked(col("text"), path))
    time("mkn exact", knModLogProb(col("text"), path))
    time("mkn packed", knModLogProbPacked(col("text"), path))
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev micro-benchmark: native Catalyst expressions vs the
  * higher-order-function formulations, on sf0.1 data. */
object FnBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Local.session(logLevel = "ERROR")

    def time(label: String)(df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-28s best ${runs.min}%.3f s  (runs: ${runs.map(r => f"$r%.3f").mkString(", ")})")
    }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    emb.count()
    val q = emb.limit(200).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = emb.crossJoin(broadcast(q)) // 2000 × 200 = 400k pairs

    // NB: Similarity.cosine / Dedup.simHash now DELEGATE to the native
    // expressions — the HOF rows must call the private[graft] reference
    // formulations or this benchmark compares native against itself.
    time("cosine HOF")(pairs.select(
      graft.llm.Similarity.cosineHof(col("embedding"), col("qv")).as("c")))
    time("cosine native")(pairs.select(
      call_function("graft_cosine", col("embedding"), col("qv")).as("c")))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
    docs.count()
    time("simhash HOF")(docs.select(graft.llm.Dedup.simHashHof(col("text")).as("s")))
    time("simhash native")(docs.select(call_function("graft_simhash", col("text")).as("s")))

    // chunking: the HOF form is its own public reference (q26) — no
    // delegation, so this comparison stays honest. 20× replication so
    // the numbers measure the expression, not fixed job overhead.
    val docs20 = (1 to 20).map(_ => docs).reduce(_ union _).cache()
    docs20.count()
    time("chunking HOF")(
      graft.llm.CorpusPrep.chunkByTokens(docs20, "doc_id", "text", 64, 16))
    time("chunking native")(
      graft.llm.CorpusPrep.chunkByTokensFast(docs20, "doc_id", "text", 64, 16))

    // repetition: HOF reference (q64) vs native (q65) — same program,
    // one oracle; the gap is per-gram String construction + distinct
    time("repetition HOF")(docs20.select(
      graft.llm.TextAnalysis.repetitionScore(col("text"), 3).as("r")))
    time("repetition native")(docs20.select(
      call_function("graft_repetition", col("text"), lit(3)).as("r")))

    // gram hashes vs HOF string shingles (the decontamination explode
    // inputs): construction cost, before any join
    time("shingles HOF (strings)")(docs20.select(
      graft.llm.Dedup.shingles(col("text"), 8).as("g")))
    time("gram hashes native")(docs20.select(
      call_function("graft_gram_hashes", col("text"), lit(8)).as("g")))

    // span hashes (q76/q77 inputs): per-offset string spans (slice +
    // concat_ws per offset, O(tokens·n) chars) vs the rolling
    // polynomial hash (O(tokens), no String ever built)
    val spanToks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
    time("span strings HOF")(docs20.select(
      when(size(spanToks) >= 10,
        transform(sequence(lit(0), size(spanToks) - 10),
          i => concat_ws(" ", slice(spanToks, i + 1, lit(10)))))
        .otherwise(array()).as("s")))
    time("span hashes native")(docs20.select(
      call_function("graft_span_hashes", col("text"), lit(10)).as("s")))

    // round-8 scan stages: HTML extraction + normalization throughput
    // (regex/replace chains over ~200-char docs; ASCII fast path for
    // NFC since the corpus is already normalized — the common case)
    val html = docs20.select(concat(
      lit("<html><body><p>"), col("text"),
      lit("</p><script>var x=1;</script><div>tail</div></body></html>")).as("text"))
      .cache()
    html.count()
    time("stripHtml (core chain)")(html.select(
      graft.llm.TextAnalysis.stripHtml(col("text")).as("t")))
    time("stripHtmlFull (WHATWG)")(html.select(
      graft.llm.TextAnalysis.stripHtmlFull(col("text")).as("t")))
    time("normalizeText (chain)")(docs20.select(
      graft.llm.TextAnalysis.normalizeText(col("text")).as("t")))
    time("normalizeTextFull (algo)")(docs20.select(
      graft.llm.TextAnalysis.normalizeTextFull(col("text")).as("t")))
    // the decode/repair kernels alone (no regex pipeline around them)
    time("htmlEntities native")(html.select(
      graft.functions.GraftFunctions.htmlEntities(col("text")).as("t")))
    time("fixMojibake native")(docs20.select(
      graft.functions.GraftFunctions.fixMojibake(col("text")).as("t")))
    time("langId composable")(docs20.select(
      graft.llm.TextAnalysis.langId(col("text")).as("l")))
    time("langIdFast (textstats)")(docs20.select(
      graft.llm.TextAnalysis.langIdFast(graft.llm.TextAnalysis.stats(col("text"))).as("l")))
    html.unpersist()

    // PQ kernels: native vs HOF reference (encode is the index-build
    // cost per vector; ADC the probe cost per code row)
    val cb = graft.llm.Similarity.pqTrain(emb, m = 8, k = 32, maxIter = 4)
    val emb20 = (1 to 20).map(_ => emb).reduce(_ union _).cache()
    emb20.count()
    time("pqEncode HOF")(graft.llm.Similarity.pqEncodeRef(emb20, cb))
    time("pqEncode native")(graft.llm.Similarity.pqEncode(emb20, cb))
    val codes = graft.llm.Similarity.pqEncode(emb, cb).cache()
    codes.count()
    val qlut = emb.limit(50)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      .withColumn("__lut", graft.llm.Similarity.adcLut(col("__qv"), cb))
      .withColumn("__qnorm", graft.llm.Similarity.norm2(col("__qv")))
      .select("query_id", "__lut", "__qnorm")
    val adcPairs = codes.crossJoin(broadcast(qlut)).cache()
    adcPairs.count()
    time("pqAdc HOF")(adcPairs.select(
      graft.llm.Similarity.adcCosineRef(col("pq_codes"), col("__lut"), col("__qnorm"), cb).as("c")))
    time("pqAdc native")(adcPairs.select(
      graft.functions.PqAdc.cosine(col("pq_codes"), col("__lut"), col("__qnorm"), cb.normSqArr).as("c")))
    adcPairs.unpersist(); codes.unpersist(); emb20.unpersist()

    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: stress the scale-critical operators on synthetic data well
  * beyond the testdata SFs (generated distributed via spark.range — no
  * driver materialization), and print wall times. Deterministic seeds.
  *
  *   runMain graft.tools.ScaleProbe [rows] [vectors]
  *
  * Defaults: 5M rows for dedup/histogram paths, 200k 64-dim vectors for
  * the ANN paths (≈100× the sf0.1 corpus).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 5000000L
    val nVecs = if (args.length > 1) args(1).toLong else 200000L
    val cpus = graft.GraftSession.localCores
    val spark = Local.session(cpus, logLevel = "ERROR")
    import spark.implicits._

    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"$label%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // --- synthetic documents: 26-word vocabulary, 40 tokens; every 10
    // consecutive ids share identical text (built-in dup factor 10)
    val words = array(('a' to 'z').map(c => lit(c.toString)): _*)
    val docs = spark.range(nRows).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        element_at(words,
          (pmod(xxhash64((col("id") / 10).cast("long"), lit(i)), lit(26)) + 1).cast("int"))): _*).as("text"))
    println(s"rows=$nRows vectors=$nVecs cpus=$cpus")

    val dedupCount = time("exact dedup groups (1 shuffle)") {
      graft.llm.Dedup.exactDuplicateGroups(docs, "text", "doc_id").count()
    }
    println(s"  distinct contents: $dedupCount")

    time("simhash fingerprints (codegen scan)") {
      docs.select(graft.llm.Dedup.simHash(col("text"), gramSize = 3).as("sig"))
        .write.format("noop").mode("overwrite").save()
    }

    time("quality + langid + tokens (composable)") {
      docs.select(
        graft.llm.TextAnalysis.qualityScore(col("text")),
        graft.llm.TextAnalysis.langId(col("text")),
        graft.llm.TextAnalysis.wsTokenCount(col("text")))
        .write.format("noop").mode("overwrite").save()
    }

    time("quality + langid + tokens (one-pass stats)") {
      val st = graft.llm.TextAnalysis.stats(col("text"))
      docs.select(
        graft.llm.TextAnalysis.qualityScoreFast(st),
        graft.llm.TextAnalysis.langIdFast(st),
        st.getField("n_tokens"))
        .write.format("noop").mode("overwrite").save()
    }

    time("histogram sketch (one-pass agg)") {
      docs.select(length(col("text")).as("x"))
        .agg(graft.functions.HistogramSketch.sketch(col("x"))).head()
    }

    time("doc fingerprints (native one-pass)") {
      docs.select(graft.llm.TextAnalysis.docFingerprint(col("text")).as("fp"))
        .write.format("noop").mode("overwrite").save()
    }

    time("context-window chunking (map + explode)") {
      graft.llm.CorpusPrep.chunkByTokens(docs, "doc_id", "text", chunkSize = 16, overlap = 4)
        .write.format("noop").mode("overwrite").save()
    }

    time("deterministic mixture sample (scan predicate)") {
      graft.llm.CorpusPrep.mixtureSample(
        docs.withColumn("source", pmod(col("doc_id"), lit(20)).cast("string")),
        "doc_id", "source", Map("0" -> 1.0, "1" -> 0.5), defaultFraction = 0.1)
        .write.format("noop").mode("overwrite").save()
    }

    time("as-of join (self, 1 shuffle)") {
      val l = docs.select(col("doc_id"), pmod(col("doc_id"), lit(100000)).as("k"),
        col("doc_id").as("t"))
      val r = docs.select(pmod(col("doc_id"), lit(100000)).as("k"),
        (col("doc_id") - 1).as("t"), col("doc_id").as("payload"))
      graft.operators.Ops.asofJoin(l, r, Seq("k"), "t", Seq("payload" -> "prior"))
        .write.format("noop").mode("overwrite").save()
    }

    time("BM25 scoring, 3 terms (stats + scoring scan)") {
      graft.llm.TextAnalysis.bm25Score(docs, "doc_id", "text", Seq("a", "b", "c"))
        .write.format("noop").mode("overwrite").save()
    }

    time("PII redaction, 3 rules (regex scan)") {
      docs.select(graft.llm.TextAnalysis.redact(col("text")))
        .write.format("noop").mode("overwrite").save()
    }

    time("heavy hitters k=64 (MG partial/final agg)") {
      docs.select(explode(graft.llm.Dedup.tokens(col("text"))).as("t"))
        .agg(graft.functions.FreqSketch.sketch(col("t"), 64))
        .write.format("noop").mode("overwrite").save()
    }

    time("train/val/test hashSplit (scan projection)") {
      graft.llm.CorpusPrep.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .write.format("noop").mode("overwrite").save()
    }

    time("sessionize 100k keys (1 shuffle, 2 window fns)") {
      graft.operators.Ops.sessionize(
        docs.select(pmod(col("doc_id"), lit(100000)).as("k"),
          col("doc_id").as("t")),
        Seq("k"), "t", maxGap = 3L)
        .write.format("noop").mode("overwrite").save()
    }

    time("repetition score HOF (array_distinct)") {
      docs.select(graft.llm.TextAnalysis.repetitionScore(col("text"), 3))
        .write.format("noop").mode("overwrite").save()
    }

    time("repetition score native (one-pass)") {
      docs.select(graft.llm.TextAnalysis.repetitionScoreFast(col("text"), 3))
        .write.format("noop").mode("overwrite").save()
    }

    time("BPE-budget chunking (registry + explode)") {
      val merges = java.io.File.createTempFile("scaleprobe_merges", ".txt")
      java.nio.file.Files.write(merges.toPath,
        "a b\nab c\nc d\ne f\ng h\n".getBytes("UTF-8"))
      graft.llm.CorpusPrep.chunkByBpeBudget(docs, "doc_id", "text",
        bpeBudget = 24, mergesPath = merges.getAbsolutePath)
        .write.format("noop").mode("overwrite").save()
    }

    time("decontamination vs 1k-doc benchmark (string grams)") {
      graft.llm.TextAnalysis.contaminationHits(
        docs, docs.filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0),
        "doc_id", "text", "text", n = 8)
        .write.format("noop").mode("overwrite").save()
    }

    time("decontamination vs 1k-doc benchmark (hashed grams)") {
      graft.llm.TextAnalysis.contaminationHits(
        docs, docs.filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0),
        "doc_id", "text", "text", n = 8, hashGrams = true)
        .write.format("noop").mode("overwrite").save()
    }

    // span dedup: DISTINCT 40-token docs (per-id hash, not the /10 dup
    // factor — exact dedup runs before this in any real pipeline) with
    // a 12-token passage planted on every 100th doc. Measures the real
    // shape: the full-corpus per-offset occurrence shuffle (~31 rows/
    // doc) plus reassembly for the ~1% touched slice.
    val spanDocs = spark.range(nRows).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        element_at(words,
          (pmod(xxhash64(col("id"), lit(i)), lit(26)) + 1).cast("int"))): _*).as("text"))
      .withColumn("text",
        when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again and again")))
          .otherwise(col("text")))
    val spanCut = time("span dedup, distinct docs + 1% planted passage") {
      graft.llm.Dedup.removeDuplicateSpans(spanDocs, "doc_id", "text", n = 10)
        .agg(sum((col("n_removed") > 0).cast("long")), sum("n_removed")).head()
    }
    println(s"  touched docs: ${spanCut.getLong(0)}, tokens cut: ${spanCut.getLong(1)}")

    // bigram LM scoring: composable (explode + joins + aggregate) vs
    // the saved-file native projection — trained once on a 100k-doc
    // slice, scoring the full corpus
    val lm2 = time("bigram LM train (100k-doc slice)") {
      graft.llm.LangModel.trainBigram(
        docs.filter(col("doc_id") < 100000L), "text", minCount = 2)
    }
    time("bigram scoring, composable (joins + agg)") {
      graft.llm.LangModel.logProbPerDocBigram(docs, lm2, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    val lm2Path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "scaleprobe.lm2").toString
    graft.llm.LangModel.saveBigram(lm2, lm2Path)
    time("bigram scoring, native (registry projection)") {
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions.lm2LogProb(col("text"), lm2Path).as("l"))
        .write.format("noop").mode("overwrite").save()
    }

    // quantile filter: group skew mirrors a real corpus (one dominant
    // language) — the window form would sort the dominant group in ONE
    // task; the threshold form stays a tiny aggregate + broadcast filter
    val grouped = docs.withColumn("grp",
      when(pmod(col("doc_id"), lit(10)) < 7, lit("en"))
        .when(pmod(col("doc_id"), lit(10)) < 9, lit("de")).otherwise(lit("fr")))
      .withColumn("score", pmod(xxhash64(col("doc_id"), lit(99)), lit(100000L)).cast("double"))
    time("per-group top-25% (approx threshold + broadcast)") {
      graft.llm.Curation.keepTopQuantile(grouped, "grp", "score", 0.25)
        .write.format("noop").mode("overwrite").save()
    }
    time("per-group top-25% (exact window — verification form)") {
      graft.llm.Curation.keepTopQuantileExact(grouped, "grp", "score", 0.25)
        .write.format("noop").mode("overwrite").save()
    }

    time("deterministic shuffle (range sort on md5 key)") {
      graft.llm.CorpusPrep.deterministicShuffle(docs, "doc_id", salt = "ep0")
        .write.format("noop").mode("overwrite").save()
    }

    // --- synthetic embeddings: 64-dim, deterministic
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id"), i), lit(1000L)).cast("float") / 500f - 1f)).as("embedding"))
      .cache()
    vecs.count()

    val queries = vecs.filter(col("vec_id") < 16)
    time(s"brute-force KNN 16 queries x $nVecs corpus") {
      graft.llm.Similarity.bruteForceTopK(queries, vecs, k = 10).count()
    }

    val (model, tagged0) = time("IVF build (KMeans 64 cells)") {
      graft.llm.Similarity.ivfBuild(vecs, numCells = 64)
    }
    val tagged = tagged0.cache(); tagged.count()
    time("IVF KNN 16 queries (nprobe 8/64)") {
      graft.llm.Similarity.ivfTopK(queries, tagged, model, k = 10, nprobe = 8).count()
    }

    time(s"SRP signatures, $nVecs vectors (codegen scan)") {
      graft.llm.Similarity.srpSignatures(vecs)
        .write.format("noop").mode("overwrite").save()
    }

    // random vectors: no natural near-dups, so this measures the banded
    // join + verify machinery cost at zero-candidate density
    val srpPairs = time(s"SRP near-dup self-join, $nVecs vectors") {
      graft.llm.Similarity.srpNearDupPairs(vecs, minCosine = 0.95).count()
    }
    println(s"  pairs found: $srpPairs")

    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path}
import graft.cli.Cli
import graft.conf.GraftConfig

/** CLI e2e shard B (of 4) — see CliSpecBase. */
class CliSpecB extends CliSpecBase {

  test("curator contamination budget: lifetime hit grams accumulate across " +
      "batches; report carries the fraction next to the distinct estimates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // two 10-token benchmark snippets of unique tokens → 3 distinct
    // 8-gram shingles each; batch 1 quotes snippet A, batch 2 snippet B
    val snipA = (1 to 10).map(i => s"zqa$i").mkString(" ")
    val snipB = (1 to 10).map(i => s"zqb$i").mkString(" ")
    val benchDir = base.resolve("bench.parquet").toString
    Seq(snipA, snipB).toDF("text").write.parquet(benchDir)
    val b1 = base.resolve("cb1.parquet").toString
    val b2 = base.resolve("cb2.parquet").toString
    docs.filter(col("doc_id") < 50)
      .withColumn("text", when(col("doc_id") === 0, concat(col("text"), lit(" " + snipA)))
        .otherwise(col("text"))).write.parquet(b1)
    docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .withColumn("text", when(col("doc_id") === 50, concat(col("text"), lit(" " + snipB)))
        .otherwise(col("text"))).write.parquet(b2)
    def conf(run: Int, src: String, stateIn: Option[String]) =
      write(base.resolve(s"cont$run.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"cout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"cstate$run")}
           |  cardinality-group-columns = [source]
           |  cardinality-gram-size = 8
           |  benchmark-dir = $benchDir
           |  contamination-min-hits = 1000000
           |  cardinality-report-dir = ${base.resolve(s"contrep$run")}
           |}
           |""".stripMargin)
    // (contamination-min-hits set sky-high so the decontamination FILTER
    // keeps the planted docs — this test is about the BUDGET numbers)
    graft.cli.Curator.main(Array("--conf", conf(1, b1, None)))
    assert(new java.io.File(base.resolve("cstate1").resolve("benchhits").toString).exists(),
      "hit-gram state must ride the commit")
    val rep1 = spark.read.parquet(base.resolve("contrep1").toString)
    assert(rep1.columns.toSet.contains("contaminated_fraction") &&
      rep1.columns.toSet.contains("shared_grams"))
    assert(rep1.agg(sum("shared_grams")).head().getLong(0) == 3L,
      "snippet A contributes exactly its 3 interior 8-gram shingles")
    graft.cli.Curator.main(Array("--conf",
      conf(2, b2, Some(base.resolve("cstate1").toString))))
    val rep2 = spark.read.parquet(base.resolve("contrep2").toString).persist()
    // lifetime: batch 1's snippet-A hits persist even though batch 2
    // never contained snippet A
    assert(rep2.agg(sum("shared_grams")).head().getLong(0) == 6L,
      "lifetime hit grams must accumulate across batches")
    // fraction arithmetic: shared / estimated distinct, per group
    rep2.collect().foreach { r =>
      val est = r.getAs[Long]("distinct_grams")
      val shared = r.getAs[Long]("shared_grams")
      val frac = r.getAs[Double]("contaminated_fraction")
      if (est > 0)
        assert(math.abs(frac - shared.toDouble / est) < 1e-9,
          s"${r.getAs[String]("source")}: $frac vs $shared/$est")
    }
    rep2.unpersist()
    ()
  }

  test("curator target write honors the DataIO layout knobs (range-by disjoint files)") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = tmp()
    val out = base.resolve("ranged").toString
    // the write-layout knobs live on the TARGET config — the same K0
    // surface every DataIO sink gets — so curated corpora lay out for
    // data skipping without a separate pass
    val f = write(base.resolve("curator_layout.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target {
         |  storage-type = local, dataset-dir = $out,
         |  dataset-store-format = parquet, write-mode = overwrite,
         |  range-by = [doc_id], n-partitions = 4,
         |}
         |curation { min-quality = 0.2 }
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val spans = spark.read.parquet(out).groupBy(input_file_name())
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .select("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(spans.length >= 2, s"expected multiple ranged files, got ${spans.length}")
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges overlap: $spans")
    }
    // z-order layout also flows through (doc_id × n_tokens curve)
    val zout = base.resolve("zordered").toString
    val fz = write(base.resolve("curator_zorder.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target {
         |  storage-type = local, dataset-dir = $zout,
         |  dataset-store-format = parquet, write-mode = overwrite,
         |  zorder-by = [doc_id, n_tokens], zorder-bits = 4, n-partitions = 4,
         |}
         |curation { min-quality = 0.2 }
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fz))
    assert(spark.read.parquet(zout).count() ==
      spark.read.parquet(out).count(), "layout must be a pure reordering")
  }

  test("curator quality-quantile keeps a per-group top-prefix; shuffle-salt " +
      "emits the deterministic export permutation") {
    import org.apache.spark.sql.functions.{col, concat, input_file_name, lit, max, md5, min}
    val base = tmp()
    // run 1: plain curation — the reference survivor set
    val out1 = base.resolve("all").toString
    val f1 = write(base.resolve("curator_all.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out1, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-quality = 0.2 }
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f1))
    // run 2: same curation + top-50% by n_chars within each lang + a
    // shuffled export. Score/group columns ride on documents natively,
    // so the top-prefix check below is independent of the annotators.
    val out2 = base.resolve("quantiled").toString
    val f2 = write(base.resolve("curator_quant.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out2, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.2
         |  quality-quantile = 0.5
         |  quantile-group-column = lang
         |  quantile-score-column = n_chars
         |  shuffle-salt = ep0
         |  shuffle-partitions = 3
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f2))
    val all = spark.read.parquet(out1).select("doc_id", "lang", "n_chars")
    val kept = spark.read.parquet(out2)
    // quantile stage: kept ⊂ all, and within each lang the kept set is a
    // top-prefix of the n_chars order (lowest kept ≥ highest dropped)
    assert(kept.count() > 0 && kept.count() < all.count(),
      s"quantile must drop some but not all: ${kept.count()} of ${all.count()}")
    val dropped = all.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val bad = kept.groupBy("lang").agg(min("n_chars").as("kmin"))
      .join(dropped.groupBy("lang").agg(max("n_chars").as("dmax")), Seq("lang"))
      .filter(col("kmin") < col("dmax")).count()
    assert(bad == 0, "kept set is not a per-lang top-prefix of n_chars")
    // shuffle stage: the key column landed and matches the shared md5
    // digest of the doc id (no chunking → row identity is the doc)
    assert(kept.columns.contains("shuffle_key"))
    assert(kept.filter(col("shuffle_key") =!= md5(concat(
      col("doc_id").cast("string"), lit("|"), lit("ep0")))).count() == 0)
    // file layout IS the permutation: each file holds a disjoint
    // ascending key range (range partition), readable in file order
    val spans = kept.groupBy(input_file_name())
      .agg(min("shuffle_key").as("lo"), max("shuffle_key").as("hi"))
      .select("lo", "hi").collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1)
    assert(spans.length >= 2, s"expected multiple shuffled files, got ${spans.length}")
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"shuffled file key ranges overlap: ${spans.mkString(",")}")
    }
    // combining the shuffle with a target layout knob is rejected up
    // front — a post-shuffle repartition would destroy the permutation
    val fBad = write(base.resolve("curator_badshuffle.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target {
         |  storage-type = local, dataset-dir = ${base.resolve("nope")},
         |  dataset-store-format = parquet, write-mode = overwrite,
         |  range-by = [doc_id],
         |}
         |curation { min-quality = 0.2, shuffle-salt = ep0 }
         |""".stripMargin)
    intercept[IllegalArgumentException](graft.cli.Curator.main(Array("--conf", fBad)))
    // partition-by regroups rows into per-value subdirectories — just as
    // order-destroying as the K0 layouts, and guarded by the same
    // DataIO-owned knob list
    val fBad2 = write(base.resolve("curator_badshuffle2.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target {
         |  storage-type = local, dataset-dir = ${base.resolve("nope2")},
         |  dataset-store-format = parquet, write-mode = overwrite,
         |  partition-by = [lang],
         |}
         |curation { min-quality = 0.2, shuffle-salt = ep0 }
         |""".stripMargin)
    intercept[IllegalArgumentException](graft.cli.Curator.main(Array("--conf", fBad2)))
    // and the conflict fires from config alone — before any Spark work
    val fBad3 = write(base.resolve("curator_badquant.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("nope3")}, dataset-store-format = parquet }
         |curation { quality-quantile = 25 }
         |""".stripMargin)
    intercept[IllegalArgumentException](graft.cli.Curator.main(Array("--conf", fBad3)))
  }

  test("curator drops stuffed docs (max-repetition) and benchmark-contaminated docs") {
    import spark.implicits._
    val base = tmp()
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    Seq((900L, benchText)).toDF("doc_id", "text")
      .write.parquet(base.resolve("bench").toString)
    val corpus = Seq(
      (1L, "w1a w1b w1c w1d w1e w1f w1g w1h w1i w1j w1k w1l"), // clean prose
      (2L, Seq.fill(30)("buy now").mkString(" ")),              // stuffed: rep ≈ 0.97
      (3L, s"intro words $benchText outro words"))              // contaminated
      .toDF("doc_id", "text")
    corpus.write.parquet(base.resolve("corpus").toString)
    val f = write(base.resolve("curator_filters.conf"),
      s"""source { storage-type = local, dataset-dir = ${base.resolve("corpus")} }
         |target { storage-type = local, dataset-dir = ${base.resolve("fout")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  max-repetition = 0.5
         |  benchmark-dir = ${base.resolve("bench")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val out = spark.read.parquet(base.resolve("fout").toString)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L),
      "only the clean doc may survive repetition + contamination filters")
    // the annotation rides along for observability
    assert(out.columns.contains("repetition"))
  }

  test("curator contamination-near-dup: a paraphrased benchmark copy the " +
      "n-gram tier misses is dropped by the SimHash tier") {
    import spark.implicits._
    val base = tmp()
    def hex(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
    val benchWords = (0 until 50).map(j => hex(s"cb-$j"))
    Seq((900L, benchWords.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(base.resolve("ndbench").toString)
    // near-copy: case-reformatted token stream (identical shingles ->
    // hamming 0; different bytes -> no exact-hash or 8-gram-cased match
    // for the disabled tier); unrelated: fresh vocabulary
    val corpus = Seq(
      (1L, benchWords.zipWithIndex.map { case (w, i) =>
        if (i % 7 == 0) w.toUpperCase else w }.mkString(" ")),
      (2L, (0 until 50).map(j => hex(s"clean-$j")).mkString(" ")))
      .toDF("doc_id", "text")
    corpus.write.parquet(base.resolve("ndcorpus").toString)
    def conf(name: String, nearDup: Boolean) = write(base.resolve(s"$name.conf"),
      s"""source { storage-type = local, dataset-dir = ${base.resolve("ndcorpus")} }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"out_$name")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  benchmark-dir = ${base.resolve("ndbench")}
         |  contamination-min-hits = 999
         |${if (nearDup) "  contamination-near-dup = true" else ""}
         |}
         |""".stripMargin)
    // min-hits 999 disables the exact tier: without the near-dup tier
    // the paraphrase sails through...
    graft.cli.Curator.main(Array("--conf", conf("ndoff", nearDup = false)))
    assert(spark.read.parquet(base.resolve("out_ndoff").toString)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // ...and with it, only the genuinely clean doc survives
    graft.cli.Curator.main(Array("--conf", conf("ndon", nearDup = true)))
    assert(spark.read.parquet(base.resolve("out_ndon").toString)
      .select("doc_id").as[Long].collect().toSet == Set(2L),
      "the SimHash tier must catch what the n-gram tier was blinded to")
  }

  test("curator vector tier: planted embedding echoes converge across runs") {
    import org.apache.spark.sql.functions.{col, lit, transform => tf}
    import spark.implicits._
    val base = tmp()
    // distinct-token texts so the TEXT tiers never fire — every drop in
    // this test must come from the vector tier
    def texts(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, s"t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f t${i}g t${i}h"))
        .toDF("doc_id", "text")
    val allEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def withEmb(t: org.apache.spark.sql.DataFrame, vecFrom: Long => Long) = {
      val ids = t.select("doc_id").as[Long].collect().toSeq
      val m = ids.map(i => i -> vecFrom(i)).toDF("doc_id", "vec_id")
      t.join(m, "doc_id").join(allEmb, "vec_id").drop("vec_id")
    }
    def conf(run: Int, in: String, stateIn: Option[String]) = write(base.resolve(s"vec$run.conf"),
      s"""source { storage-type = local, dataset-dir = $in }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"vout$run")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  embedding-column = embedding
         |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
         |  state-out-dir = ${base.resolve(s"vstate$run")}
         |}
         |""".stripMargin)
    // run 1: docs 0..19 carry embeddings 0..19
    val in1 = base.resolve("vin1").toString
    withEmb(texts(0L until 20L), identity).write.parquet(in1)
    graft.cli.Curator.main(Array("--conf", conf(1, in1, None)))
    val n1 = spark.read.parquet(base.resolve("vout1").toString).count()
    assert(n1 == 20, s"run 1 should keep all 20 distinct docs, kept $n1")
    assert(spark.read.parquet(base.resolve("vstate1").resolve("vecsigs").toString).count() == 20)
    // run 2: 10 ECHOES (new ids/texts, embeddings 0..9 perturbed ~1e-4
    // in direction -> cosine ~1) + 10 FRESH rows (embeddings 40..49)
    val in2 = base.resolve("vin2").toString
    val echoes = withEmb(texts(1000L until 1010L), i => i - 1000L)
      .withColumn("embedding", tf(col("embedding"),
        x => (x * lit(1.0f) + x * lit(1e-4f)).cast("float")))
    val fresh = withEmb(texts(2000L until 2010L), i => i - 1960L)
    echoes.unionByName(fresh).write.parquet(in2)
    graft.cli.Curator.main(Array("--conf",
      conf(2, in2, Some(base.resolve("vstate1").toString))))
    val out2 = spark.read.parquet(base.resolve("vout2").toString)
    val kept2 = out2.select("doc_id").as[Long].collect().toSet
    assert(kept2 == (2000L until 2010L).toSet,
      s"vector tier must drop exactly the 10 echoes, kept $kept2")
    // state accumulated under the commit marker
    assert(spark.read.parquet(base.resolve("vstate2").resolve("vecsigs").toString).count() == 30)
    assert(new java.io.File(base.resolve("vstate2").resolve("_COMMITTED").toString).exists())
    // run 3: echoes of run 2's fresh vectors -> converges to zero
    val in3 = base.resolve("vin3").toString
    withEmb(texts(3000L until 3010L), i => i - 2960L).write.parquet(in3)
    graft.cli.Curator.main(Array("--conf",
      conf(3, in3, Some(base.resolve("vstate2").toString))))
    assert(spark.read.parquet(base.resolve("vout3").toString).count() == 0)
    // seed/band drift against committed vector state is rejected
    val drift = write(base.resolve("vecdrift.conf"),
      s"""source { storage-type = local, dataset-dir = $in3 }
         |target { storage-type = local, dataset-dir = ${base.resolve("voutZ")} }
         |curation { min-quality = 0.0, embedding-column = embedding,
         |  srp-seed = 99, state-dir = ${base.resolve("vstate2")} }
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", drift)) }
  }

  test("curator LM filter: lm-path + min-lm-logp drop off-distribution docs; floor alone rejects") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    // train + save an LM on the corpus' own reference slice
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val lm = graft.llm.LangModel.trainUnigram(
      docs.filter(col("doc_id") < 200), "text", minCount = 2)
    val lmPath = base.resolve("ref.lm").toString
    graft.llm.LangModel.save(lm, lmPath)
    // corpus with a planted off-distribution doc
    val src = base.resolve("src").toString
    import spark.implicits._
    docs.filter(col("doc_id") < 50)
      .unionByName(
        Seq((80000L, "zxqv kwpj vrtn qplm wxyz bcdf " * 8)).toDF("doc_id", "text"))
      .write.parquet(src)
    val out = base.resolve("curated").toString
    val f = write(base.resolve("curator_lm.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  lm-path = "$lmPath"
         |  min-lm-logp = -2.5
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val curated = spark.read.parquet(out)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(80000L), "off-distribution doc survived the curator LM filter")
    assert(ids.contains(0L))
    assert(curated.columns.contains("lm_logp"))

    // the bigram filter stacks on the same pipeline: a doc built from
    // REAL in-distribution tokens in scrambled order passes the
    // unigram filter but fails the order-aware bigram one
    val bi = graft.llm.LangModel.trainBigram(
      docs.filter(col("doc_id") < 200), "text", minCount = 2)
    val lm2Path = base.resolve("ref.lm2").toString
    graft.llm.LangModel.saveBigram(bi, lm2Path)
    val sample = docs.filter(col("doc_id") === 0L)
      .head().getString(1).split("\\s+").filter(_.nonEmpty)
    val scrambled = sample.reverse.mkString(" ")
    val src2 = base.resolve("src2").toString
    docs.filter(col("doc_id") < 50)
      .unionByName(Seq((90000L, scrambled)).toDF("doc_id", "text"))
      .write.parquet(src2)
    // floor = the scrambled doc's unigram-equivalent would pass; pick
    // the bigram floor between the natural docs' scores and scrambled's
    val probe = spark.read.parquet(src2)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.lm2LogProb(col("text"), lm2Path).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val floor2 = (probe(90000L) + probe.filter(_._1 < 50).values.min) / 2
    val f2 = write(base.resolve("curator_lm2.conf"),
      s"""source { storage-type = local, dataset-dir = $src2 }
         |target { storage-type = local, dataset-dir = ${base.resolve("curated2")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  lm2-path = "$lm2Path"
         |  min-lm2-logp = $floor2
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f2))
    val ids2 = spark.read.parquet(base.resolve("curated2").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(90000L), "scrambled doc survived the bigram filter")
    assert(ids2.contains(0L), "the in-order original must survive")

    // min-lm-logp without lm-path is a config error, caught UP FRONT
    val bad = write(base.resolve("curator_lm_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-lm-logp = -2.5 }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("lm-path"))
  }

  test("curator ppl buckets: CCNet head+middle keep drops the per-group " +
      "worst scorers; bucket label rides the output; keep-list validated") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val lm = graft.llm.LangModel.trainUnigram(
      docs.filter(col("doc_id") < 200), "text", minCount = 2)
    val lmPath = base.resolve("ppl_ref.lm").toString
    graft.llm.LangModel.save(lm, lmPath)
    // one group of 30 real docs + 3 planted extreme off-distribution
    // docs: the planted rows are the group's worst scorers, so with
    // thirds they are guaranteed inside the tail bucket
    val src = base.resolve("pplsrc").toString
    docs.filter(col("doc_id") < 30)
      .unionByName((0 until 3).map(i =>
        (70000L + i, s"zxqv$i kwpj vrtn qplm wxyz bcdf " * 8))
        .toDF("doc_id", "text"))
      .withColumn("source", lit("web"))
      .write.parquet(src)
    val out = base.resolve("pplcurated").toString
    val f = write(base.resolve("curator_ppl.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  lm-path = "$lmPath"
         |  ppl-bucket-keep = [head, middle]
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val curated = spark.read.parquet(out)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(70000L, 70001L, 70002L)).isEmpty,
      "planted worst scorers must fall in the dropped tail bucket")
    assert(ids.nonEmpty && ids.exists(_ < 30),
      "head+middle docs must survive")
    assert(curated.columns.contains("ppl_bucket"),
      "bucket label must ride the output as provenance")
    assert(curated.select("ppl_bucket").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("head", "middle")))
    // keep-list without lm-path rejected up front; unknown bucket too
    val bad1 = write(base.resolve("curator_ppl_bad1.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { ppl-bucket-keep = [head] }
         |""".stripMargin)
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad1))
    }.getMessage.contains("lm-path"))
    val bad2 = write(base.resolve("curator_ppl_bad2.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { lm-path = "$lmPath", ppl-bucket-keep = [head, bogus] }
         |""".stripMargin)
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad2))
    }.getMessage.contains("bogus"))
    // `ppl-bucket-model = mkn`: CCNet's ACTUAL configuration — buckets
    // by the KenLM-class modified-KN score over the knn-path artifact.
    // The planted gibberish has no seen n-grams at any order, so it
    // bottoms out at the OOV floor per position and lands in the
    // dropped tail under the stronger model too.
    val kn = graft.llm.LangModel.trainKneserNeyNMod(
      docs.filter(col("doc_id") < 200), "text", order = 4)
    val knPath = base.resolve("ppl_mkn.lm4").toString
    graft.llm.LangModel.saveNgram(kn.ngram, knPath)
    val outM = base.resolve("pplmkn").toString
    val fm = write(base.resolve("curator_ppl_mkn.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $outM, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  knn-path = "$knPath"
         |  ppl-bucket-model = mkn
         |  ppl-bucket-keep = [head, middle]
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fm))
    val idsM = spark.read.parquet(outM).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsM.intersect(Set(70000L, 70001L, 70002L)).isEmpty,
      "planted gibberish must fall in the tail under the mkn model too")
    assert(idsM.nonEmpty && idsM.exists(_ < 30))
    // model knob without the keep list is dead config; knn model
    // without knn-path rejected up front
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("curator_ppl_bad3.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = $outM, dataset-store-format = parquet, write-mode = overwrite }
           |curation { ppl-bucket-model = mkn }
           |""".stripMargin)))
    }.getMessage.contains("ppl-bucket-keep"))
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("curator_ppl_bad4.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = $outM, dataset-store-format = parquet, write-mode = overwrite }
           |curation { ppl-bucket-model = knn, ppl-bucket-keep = [head] }
           |""".stripMargin)))
    }.getMessage.contains("knn-path"))
  }

  test("curator order-n LM filter: lmn-path + min-lmn-logp drop a scrambled " +
      "doc under the 4-gram; floor alone rejects up front") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val lm = graft.llm.LangModel.trainNgram(
      docs.filter(col("doc_id") < 100), "text", order = 4, minCount = 2)
    val lmnPath = base.resolve("ref.lm4").toString
    graft.llm.LangModel.saveNgram(lm, lmnPath)
    // plant the SAME tokens twice: in corpus order (91001) and reversed
    // (91000) — identical unigrams, so only the higher-order
    // continuations separate them; the floor sits between THEIR scores
    // (real docs vary too much for a global floor, the whole reason the
    // filter is a knob)
    val sample = docs.filter(col("doc_id") === 0).head().getString(1)
      .split("\\s+").filter(_.nonEmpty).take(40)
    val ordered = sample.mkString(" ")
    val scrambled = sample.reverse.mkString(" ")
    val src = base.resolve("lmnsrc").toString
    // doc 0 itself stays OUT of the corpus: 91001 is its 40-token
    // prefix and would near-dup against it in curation
    docs.filter(col("doc_id") > 0 && col("doc_id") < 50)
      .unionByName(Seq((91000L, scrambled), (91001L, ordered)).toDF("doc_id", "text"))
      .write.parquet(src)
    val probe = spark.read.parquet(src)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.lmNLogProb(col("text"), lmnPath).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probe(91001L) > probe(91000L),
      "the 4-gram must score ordered text above its scramble")
    val floor = (probe(91000L) + probe(91001L)) / 2
    val f = write(base.resolve("curator_lmn.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("lmncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  lmn-path = "$lmnPath"
         |  min-lmn-logp = $floor
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val out = spark.read.parquet(base.resolve("lmncur").toString)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(91000L), "scrambled doc survived the 4-gram filter")
    assert(ids.contains(91001L), "the in-order twin must survive the same floor")
    assert(out.columns.contains("lmn_logp"))
    val bad = write(base.resolve("curator_lmn_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("lmncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-lmn-logp = -2.5 }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("lmn-path"))
  }

  test("curator epoch-weights: sources repeat with epoch tags that ride " +
      "chunking and join the shuffle row identity") {
    import org.apache.spark.sql.functions._
    val base = tmp()
    val src = base.resolve("epochsrc").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 40).write.parquet(src)
    val out = base.resolve("epochout").toString
    val f = write(base.resolve("epoch.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  epoch-weights { src0 = 2.0 }
         |  chunk-size = 32
         |  shuffle-salt = es
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.contains("epoch"), chunks.columns.mkString(","))
    val srcOf = spark.read.parquet(src)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perChunk = chunks.groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("k"),
        collect_set("epoch").as("es"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getSeq[Long](3).toSet))
    assert(perChunk.nonEmpty)
    perChunk.foreach { case (id, k, es) =>
      if (srcOf(id) == "src0")
        assert(k == 2 && es == Set(0L, 1L), s"doc $id: k=$k epochs=$es")
      else assert(k == 1 && es == Set(0L), s"doc $id: k=$k epochs=$es")
    }
    // the shuffle key includes the epoch: both copies emitted, distinct
    // key positions (no collapsed duplicates), shuffle_key column dropped
    // from user-facing output only if the writer drops it — here it rides
    assert(chunks.filter(col("chunk_text").isNull).count() == 0)
  }

  test("curator KN3 filter: kn3-path + min-kn3-logp drop a scrambled doc " +
      "under interpolated Kneser-Ney; floor alone rejects up front") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    // a legacy-format artifact: the minCount=1 saveTrigram file
    val lm = graft.llm.LangModel.trainTrigram(
      docs.filter(col("doc_id") < 100), "text", minCount = 1L)
    val kn3Path = base.resolve("ref_kn.lm3").toString
    graft.llm.LangModel.saveTrigram(lm, kn3Path)
    // ordered prefix vs its reverse: identical unigrams, trigram
    // continuations separate them; the floor sits between THEIR scores
    val sample = docs.filter(col("doc_id") === 0).head().getString(1)
      .split("\\s+").filter(_.nonEmpty).take(40)
    val ordered = sample.mkString(" ")
    val scrambled = sample.reverse.mkString(" ")
    val src = base.resolve("kn3src").toString
    docs.filter(col("doc_id") > 0 && col("doc_id") < 50)
      .unionByName(Seq((91000L, scrambled), (91001L, ordered)).toDF("doc_id", "text"))
      .write.parquet(src)
    val probe = spark.read.parquet(src)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.kn3LogProb(col("text"), kn3Path).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probe(91001L) > probe(91000L),
      "KN3 must score ordered text above its scramble")
    val floor = (probe(91000L) + probe(91001L)) / 2
    val f = write(base.resolve("curator_kn3.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("kn3cur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  kn3-path = "$kn3Path"
         |  min-kn3-logp = $floor
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val out = spark.read.parquet(base.resolve("kn3cur").toString)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(91000L), "scrambled doc survived the KN3 filter")
    assert(ids.contains(91001L), "the in-order twin must survive the same floor")
    assert(out.columns.contains("kn3_logp"))
    val bad = write(base.resolve("curator_kn3_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("kn3cur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-kn3-logp = -2.5 }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("kn3-path"))
  }

  test("curator KN-n filter: knn-path + min-knn-logp drop a scrambled doc " +
      "under order-4 interpolated Kneser-Ney; floor alone rejects up front") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val lm = graft.llm.LangModel.trainKneserNeyN(
      docs.filter(col("doc_id") < 100), "text", order = 4)
    val knnPath = base.resolve("ref_kn.lm4").toString
    graft.llm.LangModel.saveNgram(lm.ngram, knnPath)
    val sample = docs.filter(col("doc_id") === 0).head().getString(1)
      .split("\\s+").filter(_.nonEmpty).take(40)
    val ordered = sample.mkString(" ")
    val scrambled = sample.reverse.mkString(" ")
    val src = base.resolve("knnsrc").toString
    docs.filter(col("doc_id") > 0 && col("doc_id") < 50)
      .unionByName(Seq((91000L, scrambled), (91001L, ordered)).toDF("doc_id", "text"))
      .write.parquet(src)
    val probe = spark.read.parquet(src)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.knNLogProb(col("text"), knnPath).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probe(91001L) > probe(91000L),
      "KN-4 must score ordered text above its scramble")
    val floor = (probe(91000L) + probe(91001L)) / 2
    val f = write(base.resolve("curator_knn.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("knncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  knn-path = "$knnPath"
         |  min-knn-logp = $floor
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val out = spark.read.parquet(base.resolve("knncur").toString)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(91000L), "scrambled doc survived the KN-4 filter")
    assert(ids.contains(91001L), "the in-order twin must survive the same floor")
    assert(out.columns.contains("knn_logp"))
    // the PACKED registry path (`knn-packed = true`) judges the same
    // floor identically: exact and quantized scores agree to ~1e-5,
    // the floor sits mid-gap between the twins
    val fp = write(base.resolve("curator_knn_packed.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("knncurp")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  knn-path = "$knnPath"
         |  knn-packed = true
         |  min-knn-logp = $floor
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fp))
    val idsP = spark.read.parquet(base.resolve("knncurp").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsP == ids, "packed and exact KN-4 registries must agree at the floor")
    val bad = write(base.resolve("curator_knn_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("knncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-knn-logp = -2.5 }
         |""".stripMargin)
    val err2 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err2.getMessage.contains("knn-path"))
    // knn-packed without knn-path is dead config
    val bad2 = write(base.resolve("curator_knn_bad2.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("knncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { knn-packed = true }
         |""".stripMargin)
    val err3 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad2))
    }
    assert(err3.getMessage.contains("knn-packed"))
    // MODIFIED KN over the SAME artifact (`knn-modified = true` — the
    // smoothing is load-time derivation, not a file format): the
    // scramble still drops at a mod-score floor
    val probeM = spark.read.parquet(src)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.knModLogProb(col("text"), knnPath).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probeM(91001L) > probeM(91000L),
      "modified KN must also score ordered text above its scramble")
    val floorM = (probeM(91000L) + probeM(91001L)) / 2
    val fm = write(base.resolve("curator_mkn.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("mkncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  knn-path = "$knnPath"
         |  knn-modified = true
         |  min-knn-logp = $floorM
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fm))
    val idsM = spark.read.parquet(base.resolve("mkncur").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!idsM.contains(91000L) && idsM.contains(91001L),
      "modified-KN floor must drop the scramble and keep the twin")
    // knn-modified without knn-path is dead config
    val bad3 = write(base.resolve("curator_knn_bad3.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("knncur")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { knn-modified = true }
         |""".stripMargin)
    val err4 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad3))
    }
    assert(err4.getMessage.contains("knn-modified"))
  }

  test("curator learned classifier: outfilters stopword-stuffed hex gibberish " +
      "that the heuristic quality filter PASSES") {
    import org.apache.spark.sql.functions._
    val base = tmp()
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    // adversarial construction: enough stopwords for a perfect heuristic
    // stop-score, enough tokens for a perfect length score, zero
    // punctuation — qualityScore ≈ 1.0 — but long uniform hex tokens
    // and in-doc repetition, which only the LEARNED boundary penalizes
    val stops = "the of and to in is that it for a"
    def stuffed(src: org.apache.spark.sql.DataFrame) = src.withColumn("text",
      concat_ws(" ", lit(stops), md5(col("text")),
        md5(concat(col("text"), lit("a"))), lit(stops), md5(col("text")),
        md5(concat(col("text"), lit("a")))))
    // train reference-vs-random on the corpus vs the same construction
    // (disjoint doc ids from the planted cohort below)
    val clf = graft.llm.QualityClassifier.train(
      docs.filter(col("doc_id") < 200),
      stuffed(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)),
      "text")
    val clfPath = base.resolve("quality.clf").toString
    clf.save(spark, clfPath)
    // corpus: 50 real docs + 3 planted stuffed docs (fresh ids/text)
    val planted = stuffed(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 403)
        .withColumn("doc_id", col("doc_id") + lit(80000L)))
    val src = base.resolve("src").toString
    docs.filter(col("doc_id") < 50).unionByName(planted).write.parquet(src)
    // the planted cohort PASSES the heuristic filter it will be run under
    val hq = planted.select(min(graft.llm.TextAnalysis.qualityScoreFast(
      graft.llm.TextAnalysis.stats(col("text"))))).head().getDouble(0)
    assert(hq >= 0.9, s"planted docs must pass the heuristic, quality=$hq")
    val out = base.resolve("curated").toString
    val f = write(base.resolve("curator_clf.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.3
         |  classifier-path = "$clfPath"
         |  min-classifier-score = 0.5
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val curated = spark.read.parquet(out)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(80400L, 80401L, 80402L)).isEmpty,
      "stuffed docs survived the learned classifier filter")
    assert(ids.contains(0L), "real docs must survive")
    assert(curated.columns.contains("clf_score"))

    // min-classifier-score without classifier-path is caught up front
    val bad = write(base.resolve("curator_clf_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-classifier-score = 0.5 }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("classifier-path"))
  }

  test("curator gopher-rules: the published rule set drops planted violators " +
      "the heuristic quality floor alone would keep") {
    val base = tmp()
    import spark.implicits._
    // 20 good docs: 6 Gopher stopwords + 48 distinct hex tokens each —
    // pass every rule, and per-doc-unique hex keeps SimHash far apart
    def hex(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
    val good = (0L until 20L).map(i => (i,
      "the of and that have with " +
        (0 until 48).map(j => hex(s"$i-$j")).mkString(" ")))
    val planted = Seq(
      (90001L, (0 until 60).map(j => s"- item ${hex(s"b$j")}").mkString("\n")),
      (90002L, "the cat sat"),
      (90003L, (0 until 54).map(j => hex(s"s$j")).mkString(" ")))
    val src = base.resolve("src").toString
    (good ++ planted).toDF("doc_id", "text").write.parquet(src)
    val out = base.resolve("curated").toString
    val f = write(base.resolve("curator_gopher.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  gopher-rules = true
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val ids = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(90001L, 90002L, 90003L)).isEmpty,
      s"bullet-list / too-short / stopword-free docs must drop: $ids")
    assert((0L until 20L).forall(ids.contains),
      s"all rule-passing docs must survive: $ids")
  }

  test("curator c4-rules: line retention rewrites surviving text; page rules " +
      "drop planted brace/lorem/badword/thin pages") {
    val base = tmp()
    import spark.implicits._
    def hex(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
    // 10 good pages: five sentences of per-doc-unique hex prose (keeps
    // SimHash far apart) + a junk trailer line C4 must strip
    def prose(i: Long) = (0 until 5).map(j =>
      s"${hex(s"$i-$j-a")} ${hex(s"$i-$j-b")} ${hex(s"$i-$j-c")} " +
        s"${hex(s"$i-$j-d")} stands firmly.").mkString(" ")
    val good = (0L until 10L).map(i =>
      (i, prose(i) + "\ntrailing junk without punctuation"))
    val planted = Seq(
      (90001L, prose(101L) + "\ncode block { x } inside."),
      (90002L, prose(102L) + "\nmore lorem ipsum filler text."),
      (90003L, prose(103L) + "\nwell shit happens sometimes."),
      (90004L, s"Only one sentence of ${hex("thin")} prose here."))
    val src = base.resolve("c4src").toString
    (good ++ planted).toDF("doc_id", "text").write.parquet(src)
    val out = base.resolve("c4out").toString
    val f = write(base.resolve("curator_c4.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  c4-rules = true
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val rows = spark.read.parquet(out).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(rows.keySet == (0L until 10L).toSet,
      s"brace/lorem/badword/thin pages must drop, good pages survive: ${rows.keySet}")
    (0L until 10L).foreach(i => assert(rows(i) == prose(i),
      s"doc $i text must be rewritten to the retained lines"))
  }

  test("curator normalize-text: mojibake repaired before hashing, so a later " +
      "batch arriving in canonical form dedups against the repaired state") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    import spark.implicits._
    def hex(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
    def prose(i: Long) = (0 until 40).map(j => hex(s"$i-$j")).mkString(" ")
    // batch 1 carries doc 5 in MOJIBAKE form; batch 2 carries the SAME
    // doc in clean canonical form plus one genuinely new doc
    val dirty = "caf\u00c3\u00a9 \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d " + prose(5L)
    val clean = "caf\u00e9 \u201cquoted\u201d " + prose(5L)
    val b1 = base.resolve("nb1").toString
    val b2 = base.resolve("nb2").toString
    ((0L until 5L).map(i => (i, prose(i))) :+ (5L, dirty)).toDF("doc_id", "text")
      .write.parquet(b1)
    Seq((105L, clean), (106L, prose(106L))).toDF("doc_id", "text").write.parquet(b2)
    def conf(run: Int, src: String, stateIn: Option[String]) =
      write(base.resolve(s"norm$run.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"nout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"nstate$run")}
           |  min-quality = 0.0
           |  normalize-text = true
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, b1, None)))
    val out1 = spark.read.parquet(base.resolve("nout1").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out1(5L) == clean, "emitted text must be the repaired form")
    graft.cli.Curator.main(Array("--conf",
      conf(2, b2, Some(base.resolve("nstate1").toString))))
    val ids2 = spark.read.parquet(base.resolve("nout2").toString)
      .select("doc_id").as[Long].collect().toSet
    assert(ids2 == Set(106L),
      s"the canonical-form echo of the mojibake doc must dedup against " +
        s"state hashed over NORMALIZED text: $ids2")
  }

  test("curator strip-html + max-pii-hits: markup extracted before any text " +
      "stage; PII-dense directory pages dropped, light PII scrubbed") {
    import spark.implicits._
    val base = tmp()
    // letters-only filler: digit runs would trip the phone/IP rules
    // and make the PII count depend on hash luck
    def word(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
        .map(c => if (c.isDigit) ('g' + (c - '0')).toChar else c)
    def prose(i: Long) = (0 until 30).map(j => word(s"h$i-$j")).mkString(" ")
    val docs = Seq(
      // HTML page: markup must be gone from the output text
      (1L, s"<html><body><p>${prose(1L)}</p><script>var x=1;</script></body></html>"),
      // light PII (1 email): survives the gate, gets scrubbed
      (2L, s"${prose(2L)} contact bob@example.com thanks"),
      // PII-dense directory page (6 emails): dropped by the gate
      (3L, (0 until 6).map(k => s"user$k@example.com").mkString(" ") + " " + prose(3L)))
      .toDF("doc_id", "text")
    val src = base.resolve("hsrc").toString
    docs.write.parquet(src)
    val out = base.resolve("hout").toString
    val f = write(base.resolve("curator_html.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  strip-html = true
         |  max-pii-hits = 3
         |  redact = true
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val rows = spark.read.parquet(out).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L, 2L), s"directory page must drop: ${rows.keySet}")
    assert(rows(1L) == prose(1L), s"markup must be extracted: '${rows(1L).take(60)}'")
    assert(rows(2L).contains("<EMAIL>") && !rows(2L).contains("bob@"),
      "light PII scrubbed after the density gate")
  }

  test("curator strip-markdown: markup stripped at ingest (after strip-html — " +
      "an HTML-rendered markdown doc sheds both layers), code kept verbatim") {
    import spark.implicits._
    val base = tmp()
    val docs = Seq(
      (1L, "# Readme\n**install** with [pip](https://x)\n```\npip install x\n```"),
      // both layers: html wrapping markdown
      (2L, "<html><body><p># Title and **bold** words here</p></body></html>"),
      (3L, "plain prose document with no markup at all"))
      .toDF("doc_id", "text")
    val src = base.resolve("mdsrc").toString
    docs.write.parquet(src)
    val out = base.resolve("mdout").toString
    val f = write(base.resolve("curator_md.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  strip-html = true
         |  strip-markdown = true
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val rows = spark.read.parquet(out).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(rows(1L) == "Readme\ninstall with pip\npip install x",
      s"markdown must strip with code kept: '${rows(1L)}'")
    assert(rows(2L).contains("Title and bold words here") &&
      !rows(2L).contains("**") && !rows(2L).contains("#"),
      s"both layers must shed: '${rows(2L)}'")
    assert(rows(3L) == "plain prose document with no markup at all")
  }

  test("curator strip-markdown + normalize-text: normalization runs on the " +
      "markdown-stripped text, not on the text before the strip") {
    import spark.implicits._
    val base = tmp()
    val src = base.resolve("mdnsrc").toString
    Seq((1L, "# Heading\nsome **bold** words in a short markdown note"))
      .toDF("doc_id", "text").write.parquet(src)
    val out = base.resolve("mdnout").toString
    val f = write(base.resolve("curator_mdn.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  strip-markdown = true
         |  normalize-text = true
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val text = spark.read.parquet(out).select("text").as[String].collect().toSeq
    assert(text == Seq("Heading\nsome bold words in a short markdown note"),
      s"markdown must stay stripped through normalization: $text")
  }

  test("curator web-ingest chain: strip-html + normalize-text + c4 + gopher " +
      "+ budget compose in one config, each stage catching its own class") {
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    val base = tmp()
    // C4/Gopher-passing prose: stopworded sentences, terminal punct
    def prose(i: Long) = (0 until 8).map(j =>
      s"the data value v$i$j holds with care and that is good to have.").mkString(" ")
    val docs = Seq(
      // 1: healthy page wrapped in markup + mojibake — must survive,
      // fully cleaned
      (1L, s"<html><body><p>${prose(1L)} caf\u00c3\u00a9 bonus.</p>" +
        "<script>var x=1;</script></body></html>"),
      // 2: page whose text is one long unterminated line — C4 drops it
      (2L, prose(2L).replace(".", "")),
      // 3: bullet-list page — Gopher drops it
      (3L, (0 until 60).map(j => s"- item v3$j the of and that with have").mkString("\n")),
      // 4: healthy page in a zero-budget source
      (4L, prose(4L)))
      .toDF("doc_id", "text")
      .withColumn("source",
        org.apache.spark.sql.functions.when(col("doc_id") === 4L, "blocked")
          .otherwise("web"))
    val src = base.resolve("wsrc").toString
    docs.write.parquet(src)
    val out = base.resolve("wout").toString
    val f = write(base.resolve("curator_web.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  strip-html = true
         |  normalize-text = true
         |  c4-rules = true
         |  gopher-rules = true
         |  token-budgets { blocked = 0 }
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val rows = spark.read.parquet(out).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L),
      s"unterminated/bullet/zero-budget pages must drop: ${rows.keySet}")
    val t = rows(1L)
    assert(!t.contains("<") && !t.contains("var x"), "markup extracted")
    assert(t.contains("caf\u00e9") && !t.contains("caf\u00c3"),
      "mojibake repaired before hashing")
    assert(t.endsWith("caf\u00e9 bonus."), s"retained lines rejoined: '${t.takeRight(40)}'")
  }

  test("curator config-loadable lists: custom mojibake/entity/badword files " +
      "change the outcome; a loaded rewrite list fingerprints into state and " +
      "drift is rejected") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = tmp()
    def prose(i: Long) = (0 until 8).map(j =>
      s"the data value v$i$j holds with care and that is good to have.").mkString(" ")
    // &copy;/&eacute; are OUTSIDE the old 7-entity core list (the r10
    // defaults decode the full WHATWG table); Ã¿/Ã± are OUTSIDE the
    // core repair list (the r10 default repairs algorithmically);
    // 'gubbins' is outside the shipped badword stand-in. The custom
    // lists below cover only &copy;/&nbsp; and Ã¿ — so under them
    // &eacute; and Ã± must SURVIVE RAW, proving the override actually
    // switches decode/repair to the listed chain
    val docs = Seq(
      (1L, s"<p>${prose(1L)} marker &copy; caf&eacute; sign Ã¿ and Ã± here.</p>"),
      (2L, s"${prose(2L)} gubbins appears here."))
      .toDF("doc_id", "text")
    val src = base.resolve("lsrc").toString
    docs.write.parquet(src)
    val entityList = base.resolve("entities.tsv")
    write(entityList, "# extra entities\n&copy;\t©\n&nbsp;\t \n")
    val mojiList = base.resolve("mojibake.tsv")
    write(mojiList, "Ã¿\tÿ\n")
    val badList = base.resolve("badwords.txt")
    write(badList, "# custom\ngubbins\n")
    def conf(run: Int, extra: String, stateIn: Option[String] = None) =
      write(base.resolve(s"lists$run.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"lout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"lstate$run")}
           |  min-quality = 0.0
           |  strip-html = true
           |  normalize-text = true
           |  c4-rules = true
           |$extra
           |}
           |""".stripMargin)
    // run 1: shipped defaults (full WHATWG decode + algorithmic
    // repair since r10) — everything decodes/repairs, 'gubbins' not a
    // bad word → both docs survive with clean text
    graft.cli.Curator.main(Array("--conf", conf(1, "")))
    val out1 = spark.read.parquet(base.resolve("lout1").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out1.keySet == Set(1L, 2L))
    assert(out1(1L).contains("©") && !out1(1L).contains("&copy;"),
      s"default full-table decode: '${out1(1L).takeRight(60)}'")
    assert(out1(1L).contains("café") && !out1(1L).contains("&eacute;"))
    assert(out1(1L).contains("ÿ") && !out1(1L).contains("Ã¿"),
      "default algorithmic repair")
    assert(out1(1L).contains("ñ") && !out1(1L).contains("Ã±"))
    // run 2: custom lists RESTRICT decode/repair to the listed pairs —
    // listed forms transform, unlisted ones survive raw, and the
    // custom bad word drops doc 2
    graft.cli.Curator.main(Array("--conf", conf(2,
      s"""  entity-list-path = "$entityList"
         |  mojibake-list-path = "$mojiList"
         |  badword-list-path = "$badList"""".stripMargin)))
    val out2 = spark.read.parquet(base.resolve("lout2").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out2.keySet == Set(1L), s"custom bad word must drop doc 2: ${out2.keySet}")
    assert(out2(1L).contains("©") && !out2(1L).contains("&copy;"),
      s"listed entity must decode: '${out2(1L).takeRight(60)}'")
    assert(out2(1L).contains("&eacute;"),
      "an entity OUTSIDE the custom list must survive raw under the override")
    assert(out2(1L).contains("ÿ") && !out2(1L).contains("Ã¿"),
      "listed mojibake pair must repair")
    assert(out2(1L).contains("Ã±"),
      "a rendering OUTSIDE the custom repair list must survive raw under the override")
    // run 3: continuing run 2's state lineage with the DEFAULT lists is
    // a canonical-bytes drift — rejected via the commit fingerprint
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(3, "", Some(base.resolve("lstate2").toString))))
    }
    assert(e.getMessage.contains("parameters"), e.getMessage)
    // run 4: same custom lists against the same state → accepted
    graft.cli.Curator.main(Array("--conf", conf(4,
      s"""  entity-list-path = "$entityList"
         |  mojibake-list-path = "$mojiList"
         |  badword-list-path = "$badList"""".stripMargin,
      Some(base.resolve("lstate2").toString))))
    // a list path without its stage on is dead config — rejected
    val bad = write(base.resolve("lists_dead.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("ldead")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { badword-list-path = "$badList" }
         |""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(e2.getMessage.contains("c4-rules"), e2.getMessage)
  }

  test("curator domain gate: blocklisted domains (and their subdomains) drop " +
      "BEFORE any text stage — dedup state covers admitted docs only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 40)
      .withColumn("url",
        when(col("doc_id") % 10 === 0, concat(lit("https://ads.badsite.com/p/"), col("doc_id")))
          .when(col("doc_id") % 10 === 1, concat(lit("http://tracker.net/x"), col("doc_id")))
          .otherwise(concat(lit("https://www.goodnews.org/a/"), col("doc_id"))))
    val src = base.resolve("dsrc").toString
    docs.write.parquet(src)
    val bl = base.resolve("blocklist.txt")
    write(bl, "# test list\nbadsite.com\ntracker.net\n")
    val out = base.resolve("dout").toString
    val f = write(base.resolve("curator_dom.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  domain-column = url
         |  blocklist-path = "$bl"
         |  state-out-dir = ${base.resolve("dstate")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty && ids.forall(i => i % 10 >= 2),
      s"blocked-domain docs must not survive: ${ids.filter(i => i % 10 < 2)}")
    // the gate ran before state: hashes cover ONLY admitted docs
    val nState = spark.read.parquet(base.resolve("dstate").resolve("hashes").toString).count()
    assert(nState == ids.size,
      s"state must hash admitted docs only: $nState hashes vs ${ids.size} docs")
    // blocked-tlds without domain-column is rejected up front
    val bad = write(base.resolve("curator_dom_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { blocked-tlds = [xxx] }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("domain-column"))
  }

  test("curator bag-of-words classifier: outfilters planted reversed-text docs " +
      "by word identity; floor without model path rejected up front") {
    import org.apache.spark.sql.functions._
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    // reversed text: shape features (length/punct/repetition) can't see
    // it, word identity can — the BOW model's distinctive value; the
    // pseudo-vocabulary is stable, so the model generalizes to planted
    // docs it never trained on
    def reversed(src: org.apache.spark.sql.DataFrame) =
      src.withColumn("text", reverse(col("text")))
    val model = graft.llm.QualityClassifier.trainBow(
      docs.filter(col("doc_id") < 200),
      reversed(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)),
      "text", numFeatures = 1 << 16)
    val modelPath = base.resolve("bow_clf").toString
    graft.llm.QualityClassifier.saveBow(model, modelPath)
    val planted = reversed(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 403)
        .withColumn("doc_id", col("doc_id") + lit(90000L)))
    val src = base.resolve("bsrc").toString
    docs.filter(col("doc_id") < 50).unionByName(planted).write.parquet(src)
    val out = base.resolve("bcurated").toString
    val f = write(base.resolve("curator_bow.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  bow-classifier-path = "$modelPath"
         |  min-bow-score = 0.5
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val curated = spark.read.parquet(out)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(90400L, 90401L, 90402L)).isEmpty,
      "planted gibberish survived the BOW classifier filter")
    assert(ids.contains(0L), "real docs must survive")
    assert(curated.columns.contains("bow_score"))
    val bad = write(base.resolve("curator_bow_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation { min-bow-score = 0.5 }
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(err.getMessage.contains("bow-classifier-path"))
    // a Platt sidecar in the artifact flows through the same knob: the
    // emitted bow_score becomes the calibrated probability (monotone, so
    // the same docs drop at the same floor, and the score provably went
    // through the transform)
    val cal = graft.llm.QualityClassifier.calibrateBow(model,
      docs.filter(col("doc_id") >= 403 && col("doc_id") < 450),
      reversed(docs.filter(col("doc_id") >= 450 && col("doc_id") < 500)),
      "text")
    val calPath = base.resolve("bow_clf_cal").toString
    graft.llm.QualityClassifier.saveBow(model, calPath, Some(cal))
    val outC = base.resolve("bcurated_cal").toString
    val fc = write(base.resolve("curator_bow_cal.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $outC, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  bow-classifier-path = "$calPath"
         |  min-bow-score = 0.5
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fc))
    val curatedCal = spark.read.parquet(outC)
    assert(curatedCal.select("doc_id").collect().map(_.getLong(0)).toSet == ids,
      "calibration is monotone — the same docs survive the same floor")
    // scores differ from the raw run on every surviving doc (the
    // sidecar was actually applied, not silently ignored)
    val rawScores = curated.select(col("doc_id"), col("bow_score").as("raw"))
    val diffCount = curatedCal.select(col("doc_id"), col("bow_score").as("cal"))
      .join(rawScores, "doc_id")
      .filter(col("cal") === col("raw")).count()
    assert(diffCount == 0,
      "calibrated run must emit transformed scores, not the raw sigmoid")
  }

  test("curator boilerplate stage: shared lines stripped BEFORE dedup state, " +
      "all-boilerplate docs dropped, state matches cleaned re-runs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = tmp()
    val in = base.resolve("bin").toString
    // 12 docs share a header+footer (df 12 ≥ 10); bodies are distinct
    // multi-token lines; doc 99 is NOTHING BUT boilerplate
    val docs = ((0 until 12).map { i =>
      (i.toLong, s"graft shared header\nunique body $i alpha beta gamma delta\ngraft shared footer")
    } :+ (99L, "graft shared header\ngraft shared footer")).toDF("doc_id", "text")
    docs.write.parquet(in)
    def conf(run: Int, stateIn: Option[String]) = write(base.resolve(s"bp$run.conf"),
      s"""source { storage-type = local, dataset-dir = $in }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"bout$run")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  boilerplate-min-doc-freq = 10
         |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
         |  state-out-dir = ${base.resolve(s"bstate$run")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, None)))
    val out1 = spark.read.parquet(base.resolve("bout1").toString)
    val texts = out1.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(texts.keySet == (0 until 12).map(_.toLong).toSet,
      s"12 body docs survive, all-boilerplate doc 99 is dropped: ${texts.keySet}")
    (0 until 12).foreach(i => assert(
      texts(i.toLong) == s"unique body $i alpha beta gamma delta", s"doc $i: ${texts(i.toLong)}"))
    // the dedup state was hashed over the CLEANED text: re-running the
    // same RAW batch (boilerplate re-stripped to identical bodies)
    // against it keeps nothing — the design reason the stage runs first
    graft.cli.Curator.main(Array("--conf", conf(2, Some(base.resolve("bstate1").toString))))
    assert(spark.read.parquet(base.resolve("bout2").toString).count() == 0,
      "re-run of the same raw batch against state must converge to zero")
  }

  test("curator boilerplate accumulates evidence across batches: a header below " +
      "the threshold in EVERY batch is stripped once the corpus has seen enough") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = tmp()
    val header = "graft cross batch header"
    def mk(ids: Range, tag: String) = ids.map { i =>
      (i.toLong, s"$header\n$tag body $i alpha beta gamma delta epsilon")
    }.toDF("doc_id", "text")
    val inA = base.resolve("xa").toString
    val inB = base.resolve("xb").toString
    mk(0 until 6, "first").write.parquet(inA)
    mk(100 until 106, "second wholly different content").write.parquet(inB)
    def conf(run: Int, in: String, stateIn: Option[String]) =
      write(base.resolve(s"xb$run.conf"),
        s"""source { storage-type = local, dataset-dir = $in }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"xout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |  boilerplate-min-doc-freq = 10
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"xstate$run")}
           |}
           |""".stripMargin)
    // run 1: the header appears in 6 docs — below min-doc-freq=10, so
    // per-batch evidence keeps it; the evidence table commits with state
    graft.cli.Curator.main(Array("--conf", conf(1, inA, None)))
    val out1 = spark.read.parquet(base.resolve("xout1").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out1.size == 6 && out1.values.forall(_.startsWith(header)),
      s"run 1 must keep the under-threshold header: $out1")
    assert(new java.io.File(
      base.resolve("xstate1").resolve("linefreqs").toString).exists(),
      "line-frequency evidence must ride the committed state")
    // run 2: a DIFFERENT batch where the header again appears only 6
    // times — per-batch evidence would keep it again, but accumulated
    // evidence (6 + 6 = 12 ≥ 10) strips it
    graft.cli.Curator.main(Array("--conf",
      conf(2, inB, Some(base.resolve("xstate1").toString))))
    val out2 = spark.read.parquet(base.resolve("xout2").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out2.nonEmpty, "batch 2's distinct bodies must survive dedup")
    assert(out2.values.forall(!_.contains(header)),
      s"accumulated evidence must strip the cross-batch header: $out2")
    // the accumulated table records the full cross-batch count
    val acc = spark.read.parquet(base.resolve("xstate2").resolve("linefreqs").toString)
      .filter(col("__line") === header).head().getLong(1)
    assert(acc == 12L, s"accumulated header doc-frequency must be 12, got $acc")
  }

  test("curator span-dedup stage: duplicated passage survives only at its first " +
      "occurrence, fully-duplicated docs drop, state hashes the cut text") {
    import spark.implicits._
    val base = tmp()
    val in = base.resolve("sin").toString
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // docs 0..9 all end with the same 12-token passage; doc 50 is ONLY
    // the passage; doc 100 shares nothing
    val docs = ((0 until 10).map { i =>
      (i.toLong, s"own body $i one two three four five six $passage")
    } ++ Seq((50L, passage), (100L, "completely unrelated body text here okay")))
      .toDF("doc_id", "text")
    docs.write.parquet(in)
    val f = write(base.resolve("span.conf"),
      s"""source { storage-type = local, dataset-dir = $in }
         |target { storage-type = local, dataset-dir = ${base.resolve("sout")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  span-dedup-tokens = 10
         |  state-out-dir = ${base.resolve("sstate")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val out = spark.read.parquet(base.resolve("sout").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // doc 0 holds the globally-first occurrence and keeps it verbatim
    assert(out(0L).endsWith(passage), s"doc 0 must keep the passage: ${out(0L)}")
    (1 until 10).foreach { i =>
      assert(!out(i.toLong).contains("alpha beta"), s"doc $i still has the passage")
      assert(out(i.toLong).contains(s"own body $i"), s"doc $i lost its own text")
    }
    assert(!out.contains(50L), "the all-passage doc must be dropped")
    assert(out(100L) == "completely unrelated body text here okay")
    // the dedup state hashed the POST-cut text (the ordering argument):
    // state row count covers exactly the emitted docs
    assert(spark.read.parquet(base.resolve("sstate").resolve("hashes").toString)
      .count() == out.size)
  }

  test("curator span-dedup accumulates evidence across batches: a passage " +
      "duplicated only ACROSS batches is cut in batch 2; parameters are pinned") {
    import spark.implicits._
    val base = tmp()
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val inA = base.resolve("spa").toString
    val inB = base.resolve("spb").toString
    // batch 1: the passage appears ONCE (kept — it is the corpus's
    // first copy); batch 2: the passage again appears ONCE, in a doc
    // that shares nothing else with batch 1
    (Seq((1L, s"first batch owner doc carries the quoted text $passage"),
      (2L, "plain first batch document nothing shared at all")): Seq[(Long, String)])
      .toDF("doc_id", "text").write.parquet(inA)
    (Seq((200L, "second batch quoting entity reuses verbatim material " +
        s"$passage trailing words continue afterwards"),
      (201L, "another clean second batch document full of fresh words")): Seq[(Long, String)])
      .toDF("doc_id", "text").write.parquet(inB)
    def conf(run: Int, in: String, stateIn: Option[String], spanTokens: Int) =
      write(base.resolve(s"sp$run.conf"),
        s"""source { storage-type = local, dataset-dir = $in }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"spout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |  span-dedup-tokens = $spanTokens
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"spstate$run")}
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, inA, None, 10)))
    val out1 = spark.read.parquet(base.resolve("spout1").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out1(1L).endsWith(passage), "batch 1's single copy must be kept verbatim")
    val st1 = base.resolve("spstate1")
    assert(new java.io.File(st1.resolve("spans").toString).exists(), "span table must commit")
    assert(new java.io.File(st1.resolve("spanbloom").toString).exists(), "bloom must commit")
    assert(new java.io.File(st1.resolve("spanparams").toString).exists(), "params must commit")
    // batch 2 vs state: the passage occurs once IN THE BATCH — per-batch
    // span dedup keeps it; accumulated evidence cuts it
    graft.cli.Curator.main(Array("--conf", conf(2, inB, Some(st1.toString), 10)))
    val out2 = spark.read.parquet(base.resolve("spout2").toString)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(!out2(200L).contains("alpha beta"),
      s"cross-batch duplicated passage must be cut: ${out2(200L)}")
    assert(out2(200L).contains("second batch quoting entity") &&
      out2(200L).contains("trailing words continue afterwards"),
      s"doc 200 must keep its own text: ${out2(200L)}")
    assert(out2(201L) == "another clean second batch document full of fresh words")
    // the accumulated table is a superset of batch 1's
    val st2 = base.resolve("spstate2")
    assert(spark.read.parquet(st2.resolve("spans").toString).count() >
      spark.read.parquet(st1.resolve("spans").toString).count() / 2,
      "batch 2's state must accumulate, not replace")
    // parameter drift is rejected: same state, different span width
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", conf(3, inB, Some(st2.toString), 12)))
    }
    assert(e.getMessage.contains("span"), e.getMessage)
    // stage toggled OFF for one batch: evidence carries forward unchanged
    val f4 = write(base.resolve("sp4.conf"),
      s"""source { storage-type = local, dataset-dir = $inB }
         |target { storage-type = local, dataset-dir = ${base.resolve("spout4")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  state-dir = $st2
         |  state-out-dir = ${base.resolve("spstate4")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f4))
    assert(spark.read.parquet(base.resolve("spstate4").resolve("spans").toString).count() ==
      spark.read.parquet(st2.resolve("spans").toString).count(),
      "span evidence must carry forward when the stage is off")
  }
}

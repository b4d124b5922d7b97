package graft

import java.nio.file.{Files, Path}
import graft.cli.Cli
import graft.conf.GraftConfig

/** CLI e2e shard D (of 4) — see CliSpecBase. */
class CliSpecD extends CliSpecBase {

  test("streamer near-dedup-cluster with embedding-column: vector tiers ride " +
      "the same per-batch commit and accrete vecsigs state") {
    import spark.implicits._
    val base = tmp()
    // distinct texts (no text-tier collisions) whose VECTORS collide:
    // 101/102 share a vector in batch 1 (in-batch vector tier,
    // cosine-verified keep-lower-id); batch 2 re-sends the same vector
    // under a new text (vs-corpus signature tier over accreted vecsigs)
    val vA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val vC = Seq(0.0f, 0.0f, 1.0f, 0.0f)
    val landing = base.resolve("vlanding").toString
    def land(rows: Seq[(Long, String, Seq[Float])]): Unit =
      rows.toDF("doc_id", "text", "embedding")
        .write.mode("append").parquet(landing)
    land(Seq(
      (101L, "first document about estuarine sediment transport", vA),
      (102L, "second and textually unrelated note on glass frit", vA),
      (103L, "third piece concerning migratory shorebird counts", vB)))
    val out = base.resolve("vclustered").toString
    val clusterState = base.resolve("vcluster_state").toString
    val conf = write(base.resolve("vndc.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $out
         |  checkpoint-location = ${base.resolve("vndcckpt")}
         |  operation = near-dedup-cluster
         |  cluster-state-dir = $clusterState
         |  embedding-column = embedding
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)
    graft.cli.Streamer.main(Array("--conf", conf))
    val batch0 = spark.read.parquet(s"$out/batch-0")
      .select("doc_id").as[Long].collect().toSet
    assert(batch0 == Set(101L, 103L),
      s"the in-batch vector twin must collapse to the lower id: $batch0")
    land(Seq(
      (201L, "entirely new words yet the same embedding as before", vA),
      (202L, "genuinely novel vector and novel text about karst", vC)))
    graft.cli.Streamer.main(Array("--conf", conf))
    val batch1 = spark.read.parquet(s"$out/batch-1")
      .select("doc_id").as[Long].collect().toSet
    assert(batch1 == Set(202L),
      s"the vector echo of an accreted survivor must drop vs-corpus: $batch1")
    // the commit carries the vector lineage: vecsigs manifest + marker
    // params (embedding/srp-seed/srp-bands — the Curator contract)
    assert(Cli.readStateTable(spark, clusterState, "vecsigs").count() == 3,
      "vecsigs must cover the 3 vector-distinct survivors")
    val marker = scala.io.Source.fromFile(
      new java.io.File(clusterState, "_COMMITTED")).mkString
    assert(marker.contains("embedding=embedding") && marker.contains("srp-seed="),
      marker)
    // a vector-seeded lineage refuses to continue without its tier
    val noVec = intercept[IllegalArgumentException] {
      graft.cli.Streamer.main(Array("--conf", write(base.resolve("vndc_novec.conf"),
        s"""streaming {
           |  events-dir = $landing
           |  target-dir = ${base.resolve("vout2")}
           |  checkpoint-location = ${base.resolve("vckpt2")}
           |  operation = near-dedup-cluster
           |  state-dir = $clusterState
           |  cluster-state-dir = ${base.resolve("vcluster2")}
           |}
           |""".stripMargin)))
    }
    assert(noVec.getMessage.contains("vector-seeded"), noVec.getMessage)
  }

  test("streamer media-near-dedup drops a re-encoded corpus image at the door " +
      "against MediaDedup state; modality drift rejected") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import graft.llm.Multimodal
    import spark.implicits._
    val base = tmp()
    // 1. a MediaDedup run commits image fingerprint state
    val corpusDir = base.resolve("media_corpus").toString
    Multimodal.reencodeAsSmoothImage(
      Multimodal.asMediaTable(
        spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 10),
        "doc_id", "text", "image", Map.empty), jpeg = false)
      .write.parquet(corpusDir)
    val stateDir = base.resolve("media_state").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("md_seed.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $corpusDir }
         |  target { storage-type = local, dataset-dir = ${base.resolve("md_out")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  mode = filter
         |  state-out-dir = $stateDir
         |}
         |""".stripMargin)))
    // 2. landing dir: a JPEG re-encode of corpus plate 3 (near, must
    //    drop) + a fresh plate
    val landing = base.resolve("media_landing").toString
    Seq(
      (900001L, Multimodal.Avi.encodeJpegFrame(Multimodal.smoothImage(3L)), 1L),
      (900002L, Multimodal.encodePng(Multimodal.smoothImage(77L)), 2L)
    ).toDF("asset_id", "content", "ts")
      .withColumn("ts", timestamp_micros(col("ts") * 3600L * 1000000L))
      .write.parquet(landing)
    val out = base.resolve("media_survivors").toString
    graft.cli.Streamer.main(Array("--conf", write(base.resolve("mnd.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $out
         |  checkpoint-location = ${base.resolve("mndckpt")}
         |  operation = media-near-dedup
         |  state-dir = $stateDir
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)))
    val ids = spark.read.parquet(out).select("asset_id").as[Long].collect().toSet
    assert(ids == Set(900002L), s"re-encoded corpus image must drop at the door: $ids")
    // modality drift (explicit audio vs image state) is rejected
    intercept[IllegalArgumentException] {
      graft.cli.Streamer.main(Array("--conf", write(base.resolve("mnd_bad.conf"),
        s"""streaming {
           |  events-dir = $landing
           |  target-dir = ${base.resolve("outC")}
           |  checkpoint-location = ${base.resolve("ckptC")}
           |  operation = media-near-dedup
           |  modality = audio
           |  state-dir = $stateDir
           |}
           |""".stripMargin)))
    }
  }

  test("streamer media-near-dedup VIDEO: a re-encoded corpus clip drops at " +
      "the door via the first-k-frames array; fresh clips land") {
    import org.apache.spark.sql.functions.{col, timestamp_micros, when}
    import graft.llm.Multimodal
    import spark.implicits._
    val base = tmp()
    // 1. a video MediaDedup run commits per-frame fingerprint state
    val corpusDir = base.resolve("vid_corpus").toString
    Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(
        spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 8),
        "doc_id", "text", "video", Map.empty), nFrames = 4, mjpeg = false)
      .write.parquet(corpusDir)
    val stateDir = base.resolve("vid_state").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("vmd_seed.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $corpusDir }
         |  target { storage-type = local, dataset-dir = ${base.resolve("vmd_out")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = video
         |  mode = filter
         |  state-out-dir = $stateDir
         |}
         |""".stripMargin)))
    // 2. landing dir: an MJPEG re-encode of corpus clip 3 + a fresh clip
    val landing = base.resolve("vid_landing").toString
    Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(
        Seq((900001L, "x"), (900002L, "x")).toDF("asset_id", "payload"),
        "asset_id", "payload", "video", Map.empty)
        .withColumn("seed", when(col("asset_id") === 900001L, 3L).otherwise(77L)),
      nFrames = 4, mjpeg = true, seedCol = "seed")
      .drop("seed")
      .withColumn("ts", timestamp_micros(col("asset_id") % 100 * 3600L * 1000000L))
      .write.parquet(landing)
    val out = base.resolve("vid_survivors").toString
    graft.cli.Streamer.main(Array("--conf", write(base.resolve("vmnd.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $out
         |  checkpoint-location = ${base.resolve("vmndckpt")}
         |  operation = media-near-dedup
         |  state-dir = $stateDir
         |  first-k-frames = 3
         |  min-frames = 2
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)))
    val ids = spark.read.parquet(out).select("asset_id").as[Long].collect().toSet
    assert(ids == Set(900002L),
      s"the re-encoded corpus clip must drop at the door: $ids")
  }

  test("curator dedup-lines: first-occurrence-wins line dedup with " +
      "accumulated cross-batch state; exemption-parameter drift rejected; " +
      "stage-off batches carry the evidence forward") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val nl = "\n"
    val promo = "this exact promotional line repeats across many documents"
    // batch 1: the promo line on docs 1 AND 2 (first-wins in-batch),
    // unique long bodies, a short line everywhere
    val src1 = base.resolve("lsrc1").toString
    Seq(
      (1L, Seq(promo, "-", "unique body of document one with plenty of words").mkString(nl)),
      (2L, Seq("unique body of document two with plenty of words", "-", promo).mkString(nl)),
      (3L, Seq("unique body of document three with plenty of words").mkString(nl))
    ).toDF("doc_id", "text").write.parquet(src1)
    def conf(n: Int, src: String, stateIn: Option[String], extra: String = "") =
      write(base.resolve(s"ldcur$n.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"ldout$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |  dedup-lines = true
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"ldstate$n")}
           |$extra
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, src1, None)))
    val out1 = spark.read.parquet(base.resolve("ldout1").toString)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out1(1L).contains(promo), "doc 1 holds the first copy")
    assert(!out1(2L).contains(promo), "doc 2's later copy must be cut")
    assert(out1(2L).split(nl).toSeq ==
      Seq("unique body of document two with plenty of words", "-"),
      "order + exempt short line preserved")
    assert(new java.io.File(base.resolve("ldstate1").resolve("lines").toString).exists())
    // batch 2 against state: the promo line's first copy lives in
    // batch 1 -> cut at arrival even at its batch-first occurrence;
    // a NEW repeated line still dedups first-wins within the batch
    val fresh = "a brand new line arriving for the first time in batch two"
    val src2 = base.resolve("lsrc2").toString
    Seq(
      (100L, Seq(promo, fresh, "unique body of document one hundred").mkString(nl)),
      (101L, Seq(fresh, "unique body of document one hundred one").mkString(nl))
    ).toDF("doc_id", "text").write.parquet(src2)
    graft.cli.Curator.main(Array("--conf",
      conf(2, src2, Some(base.resolve("ldstate1").toString))))
    val out2 = spark.read.parquet(base.resolve("ldout2").toString)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(!out2(100L).contains(promo), "prior-corpus line must be cut at arrival")
    assert(out2(100L).contains(fresh), "doc 100 holds the batch-first copy")
    assert(!out2(101L).contains(fresh), "doc 101's later copy must be cut")
    // exemption-threshold drift against committed state is rejected
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(3, src2, Some(base.resolve("ldstate2").toString),
          extra = "  dedup-lines-min-len = 20")))
    }
    assert(err.getMessage.contains("dedup-lines-min-len"), err.getMessage)
    // a stage-off batch carries the lines state forward unchanged
    val offConf = write(base.resolve("ldoff.conf"),
      s"""source { storage-type = local, dataset-dir = $src2 }
         |target { storage-type = local, dataset-dir = ${base.resolve("ldoutOff")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  state-dir = ${base.resolve("ldstate2")}
         |  state-out-dir = ${base.resolve("ldstateOff")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", offConf))
    assert(spark.read.parquet(base.resolve("ldstateOff").resolve("lines").toString).count() ==
      spark.read.parquet(base.resolve("ldstate2").resolve("lines").toString).count(),
      "toggling the stage off must not discard accumulated line state")
    // min-len without the stage is dead config
    val bad = write(base.resolve("ldbad.conf"),
      s"""source { storage-type = local, dataset-dir = $src1 }
         |target { storage-type = local, dataset-dir = ${base.resolve("ldoutB")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { dedup-lines-min-len = 20 }
         |""".stripMargin)
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }.getMessage.contains("dedup-lines"))
  }

  test("curator dedup-urls: canonical-URL first-seen-wins dedup with " +
      "accumulated cross-batch state; null urls pass; dead config rejected") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    // batch 1: three spellings of ONE page + a distinct page + no-url
    val src1 = base.resolve("usrc1").toString
    Seq(
      (1L, "HTTPS://WWW.Example.COM/a?utm_source=x", "body one"),
      (2L, "https://example.com/a/", "body two"),
      (3L, "https://example.com/a#frag", "body three"),
      (4L, "https://example.com/b", "body four"),
      (5L, null: String, "body five")
    ).toDF("doc_id", "url", "text").write.parquet(src1)
    def conf(n: Int, src: String, stateIn: Option[String], extra: String = "") =
      write(base.resolve(s"ud$n.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"udout$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |  dedup-urls = true
           |  url-column = url
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"udstate$n")}
           |$extra
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, src1, None)))
    val ids1 = spark.read.parquet(base.resolve("udout1").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == Set(1L, 4L, 5L),
      s"one survivor per canonical URL (smallest id), null passes: $ids1")
    assert(new java.io.File(base.resolve("udstate1").resolve("urls").toString).exists())
    // batch 2: yet another spelling of the batch-1 page -> cut at
    // arrival; a genuinely new page survives
    val src2 = base.resolve("usrc2").toString
    Seq(
      (100L, "https://example.com:443/a", "refetched body"),
      (101L, "https://example.com/c", "new page body")
    ).toDF("doc_id", "url", "text").write.parquet(src2)
    graft.cli.Curator.main(Array("--conf",
      conf(2, src2, Some(base.resolve("udstate1").toString))))
    val ids2 = spark.read.parquet(base.resolve("udout2").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(101L), s"prior-corpus URL must be cut at arrival: $ids2")
    // stage-off batch carries the urls state forward unchanged
    val offConf = write(base.resolve("udoff.conf"),
      s"""source { storage-type = local, dataset-dir = $src2 }
         |target { storage-type = local, dataset-dir = ${base.resolve("udoutOff")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  state-dir = ${base.resolve("udstate2")}
         |  state-out-dir = ${base.resolve("udstateOff")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", offConf))
    assert(spark.read.parquet(base.resolve("udstateOff").resolve("urls").toString).count() ==
      spark.read.parquet(base.resolve("udstate2").resolve("urls").toString).count())
    // the Streamer's near-dedup gains the same URL tier: a refetched
    // canonical URL is cut at ARRIVAL, before any text-tier work
    val landing = base.resolve("udland").toString
    Seq(
      (900L, "https://example.com:443/a?utm_campaign=z", "totally different text one", 1L),
      (901L, "https://example.com/z", "totally different text two", 2L)
    ).toDF("doc_id", "url", "text", "ts")
      .withColumn("ts", timestamp_micros(col("ts") * 3600L * 1000000L))
      .write.parquet(landing)
    val sconf = write(base.resolve("udstream.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = ${base.resolve("udsurv")}
         |  checkpoint-location = ${base.resolve("udckpt")}
         |  operation = near-dedup
         |  state-dir = ${base.resolve("udstate2")}
         |  url-column = url
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)
    graft.cli.Streamer.main(Array("--conf", sconf))
    val surv = spark.read.parquet(base.resolve("udsurv").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(901L), s"URL-refetched arrival must be cut in-stream: $surv")
    // dead configs rejected up front, both directions
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("udbad1.conf"),
        s"""source { storage-type = local, dataset-dir = $src1 }
           |target { storage-type = local, dataset-dir = ${base.resolve("udoutB")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation { dedup-urls = true }
           |""".stripMargin)))
    }.getMessage.contains("url-column"))
    assert(intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("udbad2.conf"),
        s"""source { storage-type = local, dataset-dir = $src1 }
           |target { storage-type = local, dataset-dir = ${base.resolve("udoutB")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation { url-column = url }
           |""".stripMargin)))
    }.getMessage.contains("dedup-urls"))
  }

  test("streamer filter: LM floors/knobs without their path are rejected " +
      "up front (the batch Curator's dead-config rules)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val landing = base.resolve("fland").toString
    Seq((1L, "a doc", 1L)).toDF("doc_id", "text", "ts")
      .withColumn("ts", timestamp_micros(col("ts") * 3600L * 1000000L))
      .write.parquet(landing)
    def conf(extra: String) = write(base.resolve(s"sf${extra.length}.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = ${base.resolve("fout")}
         |  checkpoint-location = ${base.resolve("fckpt")}
         |  operation = filter
         |$extra
         |}
         |""".stripMargin)
    for ((knob, needle) <- Seq(
        ("  min-knn-logp = -2.0", "knn-path"),
        ("  knn-packed = true", "knn-path"),
        ("  knn-modified = true", "knn-path"),
        ("  min-kn3-logp = -2.0", "kn3-path"),
        ("  min-lm-logp = -2.0", "lm-path"),
        ("  min-classifier-score = 0.5", "classifier-path"))) {
      val e = intercept[IllegalArgumentException] {
        graft.cli.Streamer.main(Array("--conf", conf(knob)))
      }
      assert(e.getMessage.contains(needle), s"$knob: ${e.getMessage}")
    }
  }

  test("curator bpe-vocab emits token_ids on chunks (trained tokenizer end-to-end)") {
    import org.apache.spark.sql.functions.{col, explode, size => asize}
    val base = tmp()
    // train a small tokenizer on the corpus and save both artifacts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 32)
    val mPath = base.resolve("merges.txt").toString
    val vPath = base.resolve("vocab.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, mPath, merges)
    graft.llm.BpeTrainer.saveVocab(spark, vPath,
      graft.llm.BpeTrainer.buildVocab(docs, "text", merges))
    val out = base.resolve("chunks").toString
    val f = write(base.resolve("enc.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  chunk-size = 32
         |  bpe-merges = $mPath
         |  bpe-vocab = $vPath
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.contains("token_ids"))
    assert(chunks.filter(asize(col("token_ids")) === 0).count() ==
      chunks.filter(col("chunk_tokens") === 0).count())
    // the tokenizer was trained on this corpus → no <unk> ids anywhere
    assert(chunks.select(explode(col("token_ids")).as("i"))
      .filter(col("i") === 0).count() == 0)
    // ids are consistent with the independent count expression
    val bad = chunks.withColumn("__n",
      graft.functions.GraftFunctions.bpeCount(col("chunk_text"), mPath))
      .filter(asize(col("token_ids")) =!= col("__n")).count()
    assert(bad == 0, "token_ids length diverged from graft_bpe_count on chunk_text")
    // bpe-special-tokens: plant the spelling into the corpus, append it
    // to the vocab tail, and the Curator's token_ids export must emit
    // its single fixed id per occurrence (never split or merged across)
    val eot = "<|endoftext|>"
    val srcSp = base.resolve("sp_docs").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", org.apache.spark.sql.functions.concat(
        col("text"), org.apache.spark.sql.functions.lit(s" tail$eot")))
      .write.parquet(srcSp)
    val vSp = base.resolve("vocab_sp.txt").toString
    graft.llm.BpeTrainer.saveVocab(spark, vSp,
      graft.llm.BpeTrainer.buildVocab(docs, "text", merges) :+ eot)
    val eotId = scala.io.Source.fromFile(vSp, "UTF-8").getLines().size - 1
    val outSp = base.resolve("sp_out").toString
    val fSp = write(base.resolve("enc_sp.conf"),
      s"""source { storage-type = local, dataset-dir = $srcSp }
         |target { storage-type = local, dataset-dir = $outSp, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  bpe-merges = $mPath
         |  bpe-vocab = $vSp
         |  bpe-special-tokens = ["$eot"]
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", fSp))
    val spRows = spark.read.parquet(outSp)
    val nRows = spRows.count()
    assert(nRows > 0)
    assert(spRows.select(explode(col("token_ids")).as("i"))
      .filter(col("i") === eotId).count() == nRows,
      "every doc plants one spelling -> exactly one fixed id per doc")
  }

  test("curator pack-seq-len emits packed input_ids sequences with <eos> " +
      "separators and doc boundaries (the trainer-facing export)") {
    import org.apache.spark.sql.functions.{col, explode, sum => asum, size => asize}
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 32)
    val mPath = base.resolve("merges.txt").toString
    val vPath = base.resolve("vocab.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, mPath, merges)
    graft.llm.BpeTrainer.saveVocab(spark, vPath,
      graft.llm.BpeTrainer.buildVocab(docs, "text", merges))
    val eos = graft.functions.BpeVocabIdRegistry.get(vPath).eosId
    assert(eos == 1, "byte-fallback layout carries <eos> at id 1")
    // run 1: the SAME curation with packing off — the per-doc token_ids
    // export is the conservation baseline (default curation drops docs,
    // so raw-corpus totals would not be comparable)
    val flat = base.resolve("flat").toString
    def conf(out: String, extra: String) = write(base.resolve(s"pack${extra.length}.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  bpe-merges = $mPath
         |  bpe-vocab = $vPath
         |$extra
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(flat, "")))
    val flatRows = spark.read.parquet(flat)
    val nDocs = flatRows.count()
    val nIds = flatRows.select(asum(asize(col("token_ids")) + 1)).head().getLong(0)
    // run 2: identical curation + packing (+ the 1-row report artifact)
    val out = base.resolve("packed").toString
    val repDir = base.resolve("packrep").toString
    graft.cli.Curator.main(Array("--conf",
      conf(out, "  pack-seq-len = 256\n  pack-buckets = 4\n" +
        s"  pack-report-dir = $repDir")))
    val packed = spark.read.parquet(out)
    assert(packed.columns.toSet ==
      Set("seq_id", "input_ids", "doc_boundaries", "n_tokens", "n_docs_started"))
    // token conservation vs the unpacked export: every surviving doc's
    // ids + one <eos> each, nothing lost or duplicated
    assert(packed.select(asum(col("n_tokens"))).head().getLong(0) == nIds)
    // every surviving doc started exactly once; non-tail sequences full
    assert(packed.select(asum(col("n_docs_started"))).head().getLong(0) == nDocs)
    assert(packed.filter(col("n_tokens") =!= 256).count() <= 4)
    // the separator between docs is the vocab's <eos> id, one per doc
    assert(packed.select(explode(col("input_ids")).as("i"))
      .filter(col("i") === eos).count() == nDocs)
    // the report artifact re-verifies against the export
    val rep = spark.read.parquet(repDir).head()
    assert(rep.getAs[Long]("n_sequences") == packed.count())
    assert(rep.getAs[Long]("tokens_packed") == nIds)
    assert(rep.getAs[Long]("n_docs_started") == nDocs)
    // with splits, the split label partitions the packing and rides the
    // output — train/val docs must never share a sequence (review
    // finding: packing across the split would contaminate evaluation)
    val outS = base.resolve("packed_split").toString
    graft.cli.Curator.main(Array("--conf",
      conf(outS, "  pack-seq-len = 256\n  pack-buckets = 4\n" +
        "  splits = [\"train:0.8\", \"val:0.2\"]")))
    val packedS = spark.read.parquet(outS)
    assert(packedS.columns.contains("split"), "split label must ride the export")
    assert(packedS.select("split").distinct().count() == 2)
    // token conservation still holds across the partitioned packing
    assert(packedS.select(asum(col("n_tokens"))).head().getLong(0) == nIds)
    // ≤ 1 partial tail per (split, bucket)
    assert(packedS.filter(col("n_tokens") =!= 256).count() <= 8)
    // with epochs, the digest-led stream order still conserves every
    // copy's tokens (each doc's ids + EOS, times its multiplicity)
    val outE = base.resolve("packed_epoch").toString
    graft.cli.Curator.main(Array("--conf",
      conf(outE, "  pack-seq-len = 256\n" +
        "  epoch-weights { src0 = 2 }\n  epoch-default-weight = 2")))
    assert(spark.read.parquet(outE).select(asum(col("n_tokens")))
      .head().getLong(0) == 2 * nIds,
      "epoch copies must pack with exact multiplicity")
    // pack-eos-token: a declared special (appended to the vocab tail)
    // replaces <eos> as the separator — the GPT-2-style export where
    // the separator has a spelling. Conservation math is unchanged.
    val eot = "<|endoftext|>"
    val vSp = base.resolve("vocab_eot.txt").toString
    graft.llm.BpeTrainer.saveVocab(spark, vSp,
      graft.llm.BpeTrainer.buildVocab(docs, "text", merges) :+ eot)
    val eotId = scala.io.Source.fromFile(vSp, "UTF-8").getLines().size - 1
    val outT = base.resolve("packed_eot").toString
    graft.cli.Curator.main(Array("--conf",
      conf(outT, s"  pack-seq-len = 256\n  pack-eos-token = \"$eot\"\n" +
        s"  bpe-vocab = $vSp")))
    val packedT = spark.read.parquet(outT)
    assert(packedT.select(explode(col("input_ids")).as("i"))
      .filter(col("i") === eotId).count() == nDocs,
      "every doc ends with the named separator's fixed id")
    assert(packedT.select(explode(col("input_ids")).as("i"))
      .filter(col("i") === eos).count() == 0,
      "the control <eos> must not appear when a named separator is set")
    assert(packedT.select(asum(col("n_tokens"))).head().getLong(0) == nIds)
    // a separator missing from the vocab is rejected up front
    val eMiss = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(base.resolve("nope2").toString,
          "  pack-seq-len = 256\n  pack-eos-token = \"<|nope|>\"")))
    }
    assert(eMiss.getMessage.contains("pack-eos-token"), eMiss.getMessage)
    // a packing run without a vocab is rejected up front
    val badConf = write(base.resolve("pack_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("nope")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { pack-seq-len = 256 }
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", badConf))
    }
    assert(e.getMessage.contains("bpe-vocab"), e.getMessage)
  }

  test("curator bpe-byte-level: token_ids, budget chunking, and the packed " +
      "export speak the GPT-2-style byte-level tokenizer — byte-exact " +
      "round trips through the CLI path; dead config rejected up front") {
    import org.apache.spark.sql.functions.{col, explode, sum => asum, size => asize}
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.llm.BpeTrainer.learnByteMerges(docs, "text", numMerges = 32)
    val mPath = base.resolve("bmerges.txt").toString
    val vPath = base.resolve("bvocab.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, mPath, merges)
    graft.llm.BpeTrainer.saveVocab(spark, vPath,
      graft.llm.BpeTrainer.buildByteVocab(merges))
    val eos = graft.functions.BpeByteVocabRegistry.get(vPath).eosId
    assert(eos == 1, "byte-level layout carries <eos> at id 1")
    def conf(out: String, extra: String) = write(base.resolve(s"bl${extra.length}.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  bpe-merges = $mPath
         |  bpe-vocab = $vPath
         |  bpe-byte-level = true
         |$extra
         |}
         |""".stripMargin)
    // flat run: per-doc token_ids decode byte-exactly back to the text
    val flat = base.resolve("blflat").toString
    graft.cli.Curator.main(Array("--conf", conf(flat, "")))
    val flatRows = spark.read.parquet(flat)
    assert(flatRows.columns.contains("token_ids"))
    val broken = flatRows.filter(
      graft.functions.GraftFunctions.bpeByteDecode(col("token_ids"), vPath)
        =!= col("text")).count()
    assert(broken == 0, s"$broken docs failed decode(token_ids) == text")
    // byte-level never emits <unk> (id 0) — totality is structural
    assert(flatRows.select(explode(col("token_ids")).as("i"))
      .filter(col("i") === 0).count() == 0)
    val nDocs = flatRows.count()
    val nIds = flatRows.select(asum(asize(col("token_ids")) + 1)).head().getLong(0)
    // packed run: same structure contract as the byte-fallback export,
    // conservation against the flat run, <eos> separator per doc
    val out = base.resolve("blpacked").toString
    graft.cli.Curator.main(Array("--conf", conf(out, "  pack-seq-len = 128\n  pack-buckets = 4")))
    val packed = spark.read.parquet(out)
    assert(packed.columns.toSet ==
      Set("seq_id", "input_ids", "doc_boundaries", "n_tokens", "n_docs_started"))
    assert(packed.select(asum(col("n_tokens"))).head().getLong(0) == nIds)
    assert(packed.select(asum(col("n_docs_started"))).head().getLong(0) == nDocs)
    assert(packed.select(explode(col("input_ids")).as("i"))
      .filter(col("i") === eos).count() == nDocs)
    // byte-level + bpe-budget: chunks cut at pretoken boundaries under
    // a byte-level id budget, and each chunk's encoding emits EXACTLY
    // the budget it was sized under (chunk_bpe_tokens == size(ids))
    val chunked = base.resolve("blchunks").toString
    graft.cli.Curator.main(Array("--conf", conf(chunked,
      "  bpe-budget = 48\n  chunk-overlap = 0")))
    val chunkRows = spark.read.parquet(chunked)
    assert(chunkRows.columns.contains("chunk_text") &&
      chunkRows.columns.contains("token_ids"))
    assert(chunkRows.filter(col("chunk_bpe_tokens") > 48)
      .filter(col("chunk_tokens") > 1).count() == 0,
      "multi-pretoken chunks must respect the byte-level budget")
    assert(chunkRows.filter(asize(col("token_ids")) =!= col("chunk_bpe_tokens"))
      .count() == 0,
      "byte-level encoding of a chunk must emit exactly its sized budget")
    // overlap-0 lossless property THROUGH the CLI: per doc, the chunks
    // concatenate back to the curated text byte-for-byte
    val rebuilt = chunkRows
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.concat_ws("",
        org.apache.spark.sql.functions.array_sort(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct(col("chunk_id"), col("chunk_text"))))
          .getField("chunk_text")).as("rebuilt"))
    val srcTexts = flatRows.select(col("doc_id"), col("text"))
    assert(rebuilt.join(srcTexts, "doc_id")
      .filter(col("rebuilt") =!= col("text")).count() == 0,
      "overlap-0 byte-level chunks must concatenate back to the document")
    // byte-level without a vocab is dead config
    val badConf = write(base.resolve("bl_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("nope2")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation { bpe-byte-level = true }
         |""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", badConf))
    }
    assert(e2.getMessage.contains("bpe-byte-level"), e2.getMessage)
  }

  test("scorer with model-expr scores without a saved model (U5 through E2)") {
    val base = tmp()
    val out = base.resolve("scores").toString
    val f = write(base.resolve("s.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/orders.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet }
         |uid-column = o_orderkey
         |model-expr = "o_totalprice * 2"
         |model-name = doubler
         |cols-to-save = [o_orderkey]
         |current-dt = 2026-01-01T00-00
         |""".stripMargin)
    graft.cli.Scorer.main(Array("--conf", f))
    val scores = spark.read.parquet(out)
    assert(scores.columns.toSeq == Seq("model_name", "current_dt", "o_orderkey", "pred"))
    assert(scores.select("model_name").head().getString(0) == "doubler")
  }

  test("trainer validation holdout: deterministic digest split, AUC on the " +
      "holdout, report lands and the model saves even when the gate trips") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    // separable data: label = x > 0.5 + a noise feature
    val src = base.resolve("tv_src").toString
    spark.range(400).select(
        col("id").as("uid"),
        (col("id") / 400.0).as("x"),
        (col("id") % 7 / 7.0).as("noise"),
        (col("id") >= 200).cast("int").as("label"))
      .write.parquet(src)
    val rep = base.resolve("tv_rep").toString
    val modelDir = base.resolve("tv_model").toString
    def conf(name: String, gate: String) = write(base.resolve(s"tv_$name.conf"),
      s"""model-definition {
         |  dataset { storage-type = local, dataset-dir = $src }
         |  target-column = label
         |  estimator = logistic-regression
         |  feature-columns = [x, noise]
         |}
         |model-path = $modelDir
         |validation {
         |  fraction = 0.25
         |  id-column = uid
         |  report-dir = $rep
         |$gate
         |}
         |""".stripMargin)
    graft.cli.Trainer.main(Array("--conf", conf("ok", "  min-auc = 0.95")))
    val m1 = spark.read.parquet(rep).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m1("auc") > 0.95, s"separable data must validate cleanly: $m1")
    assert(m1("n") > 60 && m1("n") < 140, s"~25% holdout of 400: ${m1("n")}")
    // determinism: the same salt carves the same holdout
    graft.cli.Trainer.main(Array("--conf", conf("ok2", "  min-auc = 0.95")))
    assert(spark.read.parquet(rep).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap == m1)
    // an impossible gate trips AFTER the report and the model save
    val e = intercept[IllegalStateException] {
      graft.cli.Trainer.main(Array("--conf", conf("bad", "  min-auc = 1.01")))
    }
    assert(e.getMessage.contains("below the"), e.getMessage)
    assert(new java.io.File(modelDir).exists(), "model must save even on a gate trip")
    assert(spark.read.parquet(rep).count() > 0, "the failing run's report must land")
    // fraction without an id column is rejected up front
    val g = intercept[IllegalArgumentException] {
      graft.cli.Trainer.main(Array("--conf", write(base.resolve("tv_noid.conf"),
        s"""model-definition {
           |  dataset { storage-type = local, dataset-dir = $src }
           |  target-column = label
           |}
           |model-path = ${base.resolve("nope_tv")}
           |validation { fraction = 0.25 }
           |""".stripMargin)))
    }
    assert(g.getMessage.contains("id-column"), g.getMessage)
    // single-class data: the holdout AUC is a vacuous 1.0 (MLlib with
    // no negatives) — the gate must refuse to apply, never silently
    // pass a meaningless validation (the model still saves;
    // report-then-gate)
    val oneSrc = base.resolve("tv_one").toString
    spark.range(400).select(
        col("id").as("uid"), (col("id") / 400.0).as("x"),
        (col("id") % 7 / 7.0).as("noise"),
        org.apache.spark.sql.functions.lit(1).as("label"))
      .write.parquet(oneSrc)
    val nanE = intercept[IllegalStateException] {
      graft.cli.Trainer.main(Array("--conf", write(base.resolve("tv_one.conf"),
        s"""model-definition {
           |  dataset { storage-type = local, dataset-dir = $oneSrc }
           |  target-column = label
           |  estimator = logistic-regression
           |  feature-columns = [x, noise]
           |}
           |model-path = ${base.resolve("tv_one_model")}
           |validation {
           |  fraction = 0.25
           |  id-column = uid
           |  report-dir = $rep
           |  min-auc = 0.5
           |}
           |""".stripMargin)))
    }
    assert(nanE.getMessage.contains("single label class"), nanE.getMessage)
    assert(new java.io.File(base.resolve("tv_one_model").toString).exists(),
      "the model still saves when the gate refuses (report-then-gate)")
    assert(spark.read.parquet(rep).count() > 0,
      "the refusing run's report must still land")
  }

  test("scorer evaluate block: AUC/accuracy metrics + report artifact; " +
      "min-auc gate trips AFTER the report; regression kind; guards") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    // dataset: feature x in [0,1], label = x > 0.5 — scoring with
    // pred = x ranks perfectly (AUC 1.0, accuracy@0.5 = 1.0)
    val src = base.resolve("eval_src").toString
    spark.range(200).select(
        col("id").as("uid"),
        (col("id") / 200.0).as("x"),
        (col("id") >= 100).cast("int").as("label"))
      .write.parquet(src)
    val rep = base.resolve("eval_rep").toString
    def conf(name: String, expr: String, extra: String) = write(base.resolve(s"ev_$name.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"sc_$name")}, dataset-store-format = parquet }
         |uid-column = uid
         |model-expr = "$expr"
         |model-name = m
         |cols-to-save = [uid, label]
         |current-dt = 2026-01-01T00-00
         |evaluate {
         |  label-column = label
         |  report-dir = $rep
         |$extra
         |}
         |""".stripMargin)
    // perfect ranking: AUC = 1, gate passes
    graft.cli.Scorer.main(Array("--conf", conf("ok", "x", "  min-auc = 0.99")))
    val m1 = spark.read.parquet(rep).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m1("auc") == 1.0 && m1("accuracy_at_0.5") == 1.0 && m1("n") == 200.0, s"$m1")
    // anti-correlated scores: AUC = 0, gate trips — but the report
    // must land FIRST (Differ convention)
    val e = intercept[IllegalStateException] {
      graft.cli.Scorer.main(Array("--conf", conf("bad", "1.0 - x", "  min-auc = 0.5")))
    }
    assert(e.getMessage.contains("below the"), e.getMessage)
    val m2 = spark.read.parquet(rep).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m2("auc") == 0.0, "the failing run's report must still land")
    // regression kind: pred == label -> rmse 0; max-rmse gate enforced
    graft.cli.Scorer.main(Array("--conf",
      conf("reg", "CAST(uid >= 100 AS DOUBLE)", "  kind = regression\n  max-rmse = 0.01")))
    val m3 = spark.read.parquet(rep).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m3("rmse") == 0.0 && m3("mae") == 0.0, s"$m3")
    // guard: min-auc with regression kind is rejected
    val g = intercept[IllegalArgumentException] {
      graft.cli.Scorer.main(Array("--conf",
        conf("guard", "x", "  kind = regression\n  min-auc = 0.5")))
    }
    assert(g.getMessage.contains("min-auc"), g.getMessage)
    // single-class labels: MLlib reports a vacuous AUC of 1.0 (no
    // negatives → every floor passes) — before the guard this gate
    // went GREEN on the most broken input. It must fail loudly, after
    // the report lands.
    val oneSrc = base.resolve("eval_one").toString
    spark.range(100).select(col("id").as("uid"), (col("id") / 100.0).as("x"),
      org.apache.spark.sql.functions.lit(1).as("label")).write.parquet(oneSrc)
    def degenConf(name: String, srcDir: String) = write(base.resolve(s"ev_$name.conf"),
      s"""source { storage-type = local, dataset-dir = $srcDir }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"sc_$name")}, dataset-store-format = parquet }
         |uid-column = uid
         |model-expr = "x"
         |model-name = m
         |cols-to-save = [uid, label]
         |current-dt = 2026-01-01T00-00
         |evaluate {
         |  label-column = label
         |  report-dir = $rep
         |  min-auc = 0.5
         |}
         |""".stripMargin)
    val oneE = intercept[IllegalStateException] {
      graft.cli.Scorer.main(Array("--conf", degenConf("one", oneSrc)))
    }
    assert(oneE.getMessage.contains("single class"), oneE.getMessage)
    assert(spark.read.parquet(rep).count() > 0,
      "the refusing run's report must still land (report-then-gate)")
    // all-null labels: zero (score, label) pairs — same loud refusal
    // (the aggregate path would otherwise NPE or report nothing)
    val nullSrc = base.resolve("eval_null").toString
    spark.range(100).select(col("id").as("uid"), (col("id") / 100.0).as("x"),
      org.apache.spark.sql.functions.lit(null).cast("int").as("label"))
      .write.parquet(nullSrc)
    val emptyE = intercept[IllegalStateException] {
      graft.cli.Scorer.main(Array("--conf", degenConf("null", nullSrc)))
    }
    assert(emptyE.getMessage.contains("zero non-null"), emptyE.getMessage)
  }

  test("mediadedup: report mode writes the pair evidence; filter mode collapses " +
      "each near-dup cluster to its minimum id; bad modality rejected") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    // media table: 20 smooth plates as PNGs + JPEG twins of every 4th
    // under id+100000 (5 clusters of 2)
    val seedTable = Multimodal.asMediaTable(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 20),
      "doc_id", "text", "image", Map.empty)
    val png = Multimodal.reencodeAsSmoothImage(seedTable, jpeg = false)
    val twins = Multimodal.reencodeAsSmoothImage(
      seedTable.filter(col("asset_id") % 4 === 0), jpeg = true)
      .withColumn("asset_id", col("asset_id") + 100000)
    val src = base.resolve("media").toString
    png.unionByName(twins).write.parquet(src)
    val out = base.resolve("deduped").toString
    val pairsDir = base.resolve("pairs").toString
    def conf(mode: String, modality: String = "image") = write(
      base.resolve(s"md_$mode$modality.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = $modality
         |  mode = $mode
         |  pairs-dir = $pairsDir
         |}
         |""".stripMargin)
    // report mode: pairs written, nothing filtered
    graft.cli.MediaDedup.main(Array("--conf", conf("report")))
    val pairs = spark.read.parquet(pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 5 && pairs.forall(p => p._2 - p._1 == 100000),
      s"want exactly the 5 planted twins: ${pairs.toSeq}")
    assert(!new java.io.File(out).exists(), "report mode must not write a target")
    // filter mode: each 2-asset cluster keeps its minimum id
    graft.cli.MediaDedup.main(Array("--conf", conf("filter")))
    val kept = spark.read.parquet(out).select("asset_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.size == 20, s"25 assets -> 20 survivors, got ${kept.size}")
    assert(kept == (0L until 20L).toSet,
      s"every cluster keeps its MINIMUM id (the PNG original): $kept")
    // modality validation
    val e = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", conf("report", "hologram")))
    }
    assert(e.getMessage.contains("modality"), e.getMessage)
    // verify-pairs: pixel confirmation keeps the same pair set on the
    // clean corpus, and the report rows carry the evidence column
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("md_vp.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  modality = image
         |  mode = report
         |  verify-pairs = true
         |  pairs-dir = $pairsDir
         |}
         |""".stripMargin)))
    val vRows = spark.read.parquet(pairsDir)
    assert(vRows.columns.contains("mean_diff"),
      "confirmed pairs must carry the pixel evidence")
    assert(vRows.count() == 5 &&
      vRows.collect().forall(_.getAs[Double]("mean_diff") <= 0.1))
    // verification covers image tiers + scalar audio; offset-matched
    // windowed pairs stay signature-gated (their evidence would need
    // window alignment)
    val vg = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("md_vpa.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = audio
           |  windowed = true
           |  mode = report
           |  verify-pairs = true
           |}
           |""".stripMargin)))
    }
    assert(vg.getMessage.contains("signature-gated"), vg.getMessage)
    // INCREMENTAL: run 1 filters and writes fingerprint state; run 2
    // feeds the SAME corpus against it -> every asset is near a stored
    // fingerprint and drops (the text-tier incremental contract)
    val st1 = base.resolve("mdstate1").toString
    val out2 = base.resolve("dedup2").toString
    def confInc(n: Int, stateIn: Option[String], stateOut: String, outDir: String) =
      write(base.resolve(s"md_inc$n.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  target { storage-type = local, dataset-dir = $outDir, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = image
           |  mode = filter
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = $stateOut
           |}
           |""".stripMargin)
    graft.cli.MediaDedup.main(Array("--conf",
      confInc(1, None, st1, base.resolve("dedup1").toString)))
    assert(new java.io.File(s"$st1/sigs").exists() &&
      new java.io.File(s"$st1/fingerprint").exists())
    // state holds exactly the 20 survivors' fingerprints
    assert(spark.read.parquet(s"$st1/sigs").count() == 20)
    graft.cli.MediaDedup.main(Array("--conf",
      confInc(2, Some(st1), base.resolve("mdstate2").toString, out2)))
    assert(spark.read.parquet(out2).count() == 0,
      "re-feeding the same corpus against its own state must drop everything")
    // fingerprint-geometry drift is rejected loudly
    val badState = write(base.resolve(s"md_drift.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = ${base.resolve("nope_md")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = audio
         |  mode = filter
         |  state-dir = $st1
         |}
         |""".stripMargin)
    val de = intercept[Throwable] {
      graft.cli.MediaDedup.main(Array("--conf", badState))
    }
    val msgs = Iterator.iterate(de)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("not comparable"), msgs)
  }

  /** md5 of every data file under a dir, keyed by relative path — the
    * "prior parts stay byte-identical" witness. */

  test("mediadedup parts-mode lineage: per-batch write-once sig parts (prior " +
      "parts byte-identical across commits), mergeable hotcounts equal the " +
      "direct aggregate, the Compactor consolidates media state, and " +
      "parts/rewrite mode mixing is rejected loudly") {
    import org.apache.spark.sql.functions.col
    import graft.llm.{Dedup, Multimodal}
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def plates(lo: Int, hi: Int) = Multimodal.reencodeAsSmoothImage(
      Multimodal.asMediaTable(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", "image", Map.empty), jpeg = false)
    // batch 1: plates 0..19; batch 2: NEW plates 20..29 + JPEG re-encodes
    // of 0/4/8 under shifted ids (near the STORED fingerprints -> drop)
    val src1 = base.resolve("mb1").toString
    val src2 = base.resolve("mb2").toString
    plates(0, 20).write.parquet(src1)
    val reenc = Multimodal.reencodeAsSmoothImage(
      Multimodal.asMediaTable(
        docs.filter(col("doc_id").isin(0, 4, 8)), "doc_id", "text", "image",
        Map.empty), jpeg = true)
      .withColumn("asset_id", col("asset_id") + 100000)
    plates(20, 30).unionByName(reenc).write.parquet(src2)
    val parts = base.resolve("mdparts").toString
    val (st1, st2, st3) = (base.resolve("pst1").toString,
      base.resolve("pst2").toString, base.resolve("pst3").toString)
    def conf(n: Int, src: String, stateIn: Option[String], stateOut: String,
        partsDir: Option[String] = Some(parts)) =
      write(base.resolve(s"mdp_$n.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  target { storage-type = local, dataset-dir = ${base.resolve(s"mdout$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = image
           |  mode = filter
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = $stateOut
           |${partsDir.map(d => s"  state-parts-dir = $d").getOrElse("")}
           |}
           |""".stripMargin)
    // ---- batch 1: fresh parts lineage
    graft.cli.MediaDedup.main(Array("--conf", conf(1, src1, None, st1)))
    def manifest(d: String, t: String): Seq[String] =
      scala.io.Source.fromFile(s"$d/${t}manifest", "UTF-8")
        .getLines().filter(_.nonEmpty).toSeq
    assert(manifest(st1, "sigs").length == 1 &&
      manifest(st1, "hotcounts").length == 1,
      "batch 1 commits one write-once part per table")
    assert(new java.io.File(s"$st1/hot").exists(), "derived hot keys materialize")
    val part0Sums = dirChecksums(s"$parts/sigs/part-0")
    assert(spark.read.parquet(manifest(st1, "sigs"): _*).count() == 20)
    // ---- batch 2: appends ONLY its own rows; batch-1 part untouched
    graft.cli.MediaDedup.main(Array("--conf", conf(2, src2, Some(st1), st2)))
    assert(dirChecksums(s"$parts/sigs/part-0") == part0Sums,
      "a later commit must leave prior sig parts byte-identical")
    assert(manifest(st2, "sigs") == manifest(st1, "sigs") :+
      s"file:$parts/sigs/part-1",
      s"batch 2's manifest = batch 1's + its own part: ${manifest(st2, "sigs")}")
    val unionSigs = spark.read.parquet(manifest(st2, "sigs"): _*)
    assert(unionSigs.count() == 30,
      "state = 20 batch-1 survivors + 10 new batch-2 survivors (re-encodes dropped)")
    assert(spark.read.parquet(s"${base.resolve("mdout2")}").count() == 10,
      "the 3 JPEG re-encodes of stored plates drop at the door")
    // mergeable-counts contract: summing the per-batch count parts
    // equals one aggregate over the signature union
    val merged = Dedup.mergeBucketCounts(
      spark.read.parquet(manifest(st2, "hotcounts"): _*))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val direct = Dedup.bucketCounts(unionSigs, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(merged == direct,
      "merged per-batch hotcounts must equal the direct aggregate over the union")
    // ---- Compactor consolidates the media lineage (same sigs/hotcounts
    // semantics as Curator state; the fingerprint line rides along)
    graft.cli.Compactor.main(Array("--conf", write(base.resolve("mdp_c.conf"),
      s"""compaction {
         |  state-dir = $st2
         |  state-out-dir = $st3
         |}
         |""".stripMargin)))
    assert(manifest(st3, "sigs").length == 1 &&
      manifest(st3, "sigs").head.contains("part-c"),
      s"compaction rewrites to one fresh-generation part: ${manifest(st3, "sigs")}")
    assert(spark.read.parquet(manifest(st3, "sigs"): _*).count() == 30)
    assert(new java.io.File(s"$st3/fingerprint").exists(),
      "the modality/geometry fingerprint must survive compaction")
    // the compacted lineage continues: re-feeding batch 1 drops all
    graft.cli.MediaDedup.main(Array("--conf", conf(4, src1, Some(st3), base.resolve("pst4").toString)))
    assert(spark.read.parquet(s"${base.resolve("mdout4")}").count() == 0,
      "every batch-1 asset is near its own stored fingerprint")
    // ---- mode mixing is rejected loudly (a lineage never switches)
    val mix = intercept[Throwable] {
      graft.cli.MediaDedup.main(Array("--conf",
        conf(5, src1, Some(st3), base.resolve("nope_st").toString, partsDir = None)))
    }
    val mixMsgs = Iterator.iterate(mix)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(mixMsgs.contains("never changes mode"), mixMsgs)
  }

  test("mediadedup audio windowed tier: trimmed twins collapse in-batch, a " +
      "trimmed arrival drops against windowed state, scalar state is not " +
      "comparable") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.asMediaTable(docs.filter(col("doc_id") < 12),
      "doc_id", "text", "audio", Map.empty)
    val full = Multimodal.reencodeAsSmoothAudio(media)
    val twins = Multimodal.reencodeAsSmoothAudio(
      media.filter(col("asset_id") % 4 === 0), trimFrames = 1024)
      .withColumn("asset_id", col("asset_id") + 100000)
    val src1 = base.resolve("aw_src1").toString
    full.unionByName(twins).write.parquet(src1)
    val st1 = base.resolve("aw_st1").toString
    def conf(n: Int, src: String, stateIn: Option[String], stateOut: String) =
      write(base.resolve(s"aw_$n.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  target { storage-type = local, dataset-dir = ${base.resolve(s"aw_out$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = audio
           |  windowed = true
           |  mode = filter
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = $stateOut
           |}
           |""".stripMargin)
    graft.cli.MediaDedup.main(Array("--conf", conf(1, src1, None, st1)))
    val kept1 = spark.read.parquet(base.resolve("aw_out1").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == (0L until 12L).toSet,
      s"every trimmed twin collapses onto its original: $kept1")
    assert(scala.io.Source.fromFile(s"$st1/fingerprint", "UTF-8").mkString.trim ==
      "audio-windowed|wf=2048|hop=512|bands=4|maxHamming=3",
      "the windowed state shape gets its own fingerprint line")
    // incremental: a NEW trimmed rendering of stored recording 3 drops
    // at the increment; a fresh recording lands
    val src2 = base.resolve("aw_src2").toString
    val arrivals = Multimodal.asMediaTable(
      docs.filter(col("doc_id").isin(3, 499)), "doc_id", "text", "audio", Map.empty)
    Multimodal.reencodeAsSmoothAudio(arrivals.filter(col("asset_id") === 3), trimFrames = 1024)
      .withColumn("asset_id", col("asset_id") + 200000)
      .unionByName(Multimodal.reencodeAsSmoothAudio(arrivals.filter(col("asset_id") === 499)))
      .write.parquet(src2)
    graft.cli.MediaDedup.main(Array("--conf",
      conf(2, src2, Some(st1), base.resolve("aw_st2").toString)))
    val kept2 = spark.read.parquet(base.resolve("aw_out2").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(499L),
      s"the trimmed arrival is near stored windowed state: $kept2")
    // a windowed run cannot read scalar audio state (shape drift)
    val scalarState = base.resolve("aw_scalar_st").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("aw_scalar.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src1 }
         |  target { storage-type = local, dataset-dir = ${base.resolve("aw_outs")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = audio
         |  mode = filter
         |  state-out-dir = $scalarState
         |}
         |""".stripMargin)))
    val de = intercept[Throwable] {
      graft.cli.MediaDedup.main(Array("--conf",
        conf(3, src2, Some(scalarState), base.resolve("aw_nope").toString)))
    }
    assert(Iterator.iterate(de)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      .contains("not comparable"))
  }

  test("mediadedup video shift-tolerant tier: temporally shifted twins " +
      "collapse in-batch and a shifted arrival drops against the SAME " +
      "frame-sig state an aligned run wrote") {
    import org.apache.spark.sql.functions.{col, when}
    import graft.llm.Multimodal
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.asMediaTable(docs.filter(col("doc_id") < 10),
      "doc_id", "text", "video", Map.empty)
    val dib = Multimodal.reencodeAsSmoothAvi(media, nFrames = 6, mjpeg = false)
    val shifted = Multimodal.reencodeAsSmoothAvi(
      media.filter(col("asset_id") % 5 === 0), nFrames = 6, mjpeg = true,
      frameOffset = 2).withColumn("asset_id", col("asset_id") + 100000)
    val src = base.resolve("vs_src").toString
    dib.unionByName(shifted).write.parquet(src)
    val st = base.resolve("vs_st").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("vs_1.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = ${base.resolve("vs_out1")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = video
         |  shift-tolerant = true
         |  min-frames = 3
         |  mode = filter
         |  state-out-dir = $st
         |}
         |""".stripMargin)))
    val kept = spark.read.parquet(base.resolve("vs_out1").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 10L).toSet,
      s"shifted twins collapse onto their originals: $kept")
    // the state is plain frame sigs — the fingerprint line is tier-free
    assert(scala.io.Source.fromFile(s"$st/fingerprint", "UTF-8").mkString.trim
      .startsWith("video|"), "shift tolerance is matching-time, not a state shape")
    // a shifted arrival of stored clip 7 drops; a fresh clip lands
    val src2 = base.resolve("vs_src2").toString
    Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(docs.filter(col("doc_id").isin(7, 499)),
        "doc_id", "text", "video", Map.empty)
        .withColumn("seed", when(col("asset_id") === 7L, 7L).otherwise(col("asset_id"))),
      nFrames = 6, mjpeg = true, seedCol = "seed",
      frameOffset = 2)
      .drop("seed")
      .withColumn("asset_id", when(col("asset_id") === 7L, 200007L).otherwise(col("asset_id")))
      .write.parquet(src2)
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("vs_2.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src2 }
         |  target { storage-type = local, dataset-dir = ${base.resolve("vs_out2")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = video
         |  shift-tolerant = true
         |  min-frames = 3
         |  mode = filter
         |  state-dir = $st
         |  state-out-dir = ${base.resolve("vs_st2")}
         |}
         |""".stripMargin)))
    val kept2 = spark.read.parquet(base.resolve("vs_out2").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(499L),
      s"the shifted arrival shares 4 frames at one delta with stored clip 7: $kept2")
  }

  test("mediadedup image crop-tier: the CROP side drops regardless of id " +
      "order (directional collapse, not min-id), and a crop arrival drops " +
      "against stored tile state") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // originals under HIGH ids (1000+), crops under LOW ids (1..3) of
    // seeds 1000/1004/1008 — min-id collapse would keep the CROPS; the
    // directional collapse must keep the ORIGINALS
    val originals = Multimodal.reencodeAsSmoothImage(
      Multimodal.asMediaTable(docs.filter(col("doc_id") < 12), "doc_id", "text",
        "image", Map.empty)
        .withColumn("asset_id", col("asset_id") + 1000), jpeg = false)
    val crops = Multimodal.reencodeAsSmoothImageCrop(
      Multimodal.asMediaTable(docs.filter(col("doc_id").isin(0, 4, 8)), "doc_id",
        "text", "image", Map.empty)
        .withColumn("seed", col("asset_id") + 1000)
        .withColumn("asset_id", (col("asset_id") / 4 + 1).cast("long")), seedCol = "seed")
      .drop("seed")
    val src = base.resolve("ct_src").toString
    originals.unionByName(crops).write.parquet(src)
    val st = base.resolve("ct_st").toString
    def conf(n: Int, src0: String, stateIn: Option[String], stateOut: String) =
      write(base.resolve(s"ct_$n.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src0 }
           |  target { storage-type = local, dataset-dir = ${base.resolve(s"ct_out$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = image
           |  crop-tier = true
           |  mode = filter
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = $stateOut
           |}
           |""".stripMargin)
    graft.cli.MediaDedup.main(Array("--conf", conf(1, src, None, st)))
    val kept = spark.read.parquet(base.resolve("ct_out1").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1000L until 1012L).toSet,
      s"originals survive, crops drop — even at lower ids: $kept")
    assert(scala.io.Source.fromFile(s"$st/fingerprint", "UTF-8").mkString.trim ==
      "image-tiles|bands=4|maxHamming=3")
    // a crop ARRIVAL of stored original 1006 drops (batch_is_crop); a
    // fresh plate lands
    val src2 = base.resolve("ct_src2").toString
    Multimodal.reencodeAsSmoothImageCrop(
      Multimodal.asMediaTable(docs.filter(col("doc_id") === 6), "doc_id", "text",
        "image", Map.empty)
        .withColumn("seed", col("asset_id") + 1000)
        .withColumn("asset_id", col("asset_id") + 200000), seedCol = "seed")
      .drop("seed")
      .unionByName(Multimodal.reencodeAsSmoothImage(
        Multimodal.asMediaTable(docs.filter(col("doc_id") === 7), "doc_id", "text",
          "image", Map.empty)
          .withColumn("asset_id", col("asset_id") + 700000), jpeg = false))
      .write.parquet(src2)
    graft.cli.MediaDedup.main(Array("--conf",
      conf(2, src2, Some(st), base.resolve("ct_st2").toString)))
    val kept2 = spark.read.parquet(base.resolve("ct_out2").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(700007L),
      s"the crop arrival is near stored tile state: $kept2")
  }

  test("mediadedup image rotation-tier: rotated/mirrored twins collapse " +
      "in-batch (both directional witnesses), a rotated arrival drops " +
      "against stored dihedral state, tile state is not comparable") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.asMediaTable(docs.filter(col("doc_id") < 12),
      "doc_id", "text", "image", Map.empty)
    val originals = Multimodal.reencodeAsSmoothImageRotated(media, k = 0)
    // twins: a quarter-turn AND a mirror (k=4) under shifted ids
    val rotTwins = Multimodal.reencodeAsSmoothImageRotated(
      media.filter(col("asset_id") % 4 === 0), k = 1)
      .withColumn("asset_id", col("asset_id") + 100000)
    val mirTwins = Multimodal.reencodeAsSmoothImageRotated(
      media.filter(col("asset_id") % 4 === 1), k = 4)
      .withColumn("asset_id", col("asset_id") + 200000)
    val src = base.resolve("rt_src").toString
    originals.unionByName(rotTwins).unionByName(mirTwins).write.parquet(src)
    val st = base.resolve("rt_st").toString
    def conf(n: Int, src0: String, stateIn: Option[String], stateOut: String) =
      write(base.resolve(s"rt_$n.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src0 }
           |  target { storage-type = local, dataset-dir = ${base.resolve(s"rt_out$n")}, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = image
           |  rotation-tier = true
           |  mode = filter
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = $stateOut
           |}
           |""".stripMargin)
    graft.cli.MediaDedup.main(Array("--conf", conf(1, src, None, st)))
    val kept = spark.read.parquet(base.resolve("rt_out1").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 12L).toSet,
      s"rotated AND mirrored twins collapse onto their originals: $kept")
    assert(scala.io.Source.fromFile(s"$st/fingerprint", "UTF-8").mkString.trim ==
      "image-dihedral|bands=4|maxHamming=3")
    // a 180°-rotated arrival of stored plate 5 drops; a fresh plate lands
    val src2 = base.resolve("rt_src2").toString
    Multimodal.reencodeAsSmoothImageRotated(
      Multimodal.asMediaTable(docs.filter(col("doc_id") === 5), "doc_id", "text",
        "image", Map.empty)
        .withColumn("asset_id", col("asset_id") + 300000)
        .withColumn("seed", col("asset_id") - 300000), k = 2, seedCol = "seed")
      .drop("seed")
      .unionByName(Multimodal.reencodeAsSmoothImageRotated(
        Multimodal.asMediaTable(docs.filter(col("doc_id") === 450), "doc_id",
          "text", "image", Map.empty), k = 0))
      .write.parquet(src2)
    graft.cli.MediaDedup.main(Array("--conf",
      conf(2, src2, Some(st), base.resolve("rt_st2").toString)))
    val kept2 = spark.read.parquet(base.resolve("rt_out2").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(450L),
      s"the rotated arrival is near stored dihedral state: $kept2")
    // crop-tier state (different shape) is rejected loudly; so is
    // running both image tiers in one lineage
    val g = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("rt_both.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  rotation-tier = true
           |  crop-tier = true
           |  mode = report
           |}
           |""".stripMargin)))
    }
    assert(g.getMessage.contains("separate lineages"), g.getMessage)
  }

  test("mediadedup rotation-tier image-hash = dct: blur+JPEG rotated twins " +
      "outside the dHash envelope collapse through the probed dihedral-dct " +
      "lineage; its fingerprint line keeps the kernels apart; crop+dct " +
      "stays refused (the measured negative)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.llm.Multimodal
    import spark.implicits._
    val base = tmp()
    def png(s: Long) = Multimodal.encodePng(Multimodal.texturedImage(s))
    def rotDegraded(s: Long) = {
      val d = Multimodal.ImageIoDecoder.decode(png(s), Map.empty)
      Multimodal.jpegBytesAtQuality(
        Multimodal.boxBlur3(Multimodal.dihedral(d, 1)), 0.3f)
    }
    val src = base.resolve("rdct_src").toString
    // twins of seeds 0 and 19 measure dHash min-witness 6 and 7 — both
    // OUTSIDE the dHash tier's radius 3; pHash holds them at 0
    ((0L until 20L).map(s => s -> png(s)) ++
      Seq(0L, 19L).map(s => (s + 100000L) -> rotDegraded(s)))
      .toDF("asset_id", "content")
      .withColumn("meta", lit(null).cast("map<string,string>"))
      .write.parquet(src)
    val st = base.resolve("rdct_st").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("rdct.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = ${base.resolve("rdct_out")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  rotation-tier = true
         |  image-hash = dct
         |  mode = filter
         |  state-out-dir = $st
         |}
         |""".stripMargin)))
    // NO bands/max-hamming/probe knobs above: the dihedral-dct lineage
    // must default to the probed radius-7 geometry
    val kept = spark.read.parquet(base.resolve("rdct_out").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 20L).toSet,
      s"blur+JPEG rotated twins must collapse onto their originals: $kept")
    assert(scala.io.Source.fromFile(s"$st/fingerprint", "UTF-8").mkString.trim ==
      "image-dihedral-dct|bands=4|maxHamming=7")
    // the incremental tier rides the same lineage: a degraded rotated
    // arrival of stored plate 5 drops, a fresh plate lands
    val src2 = base.resolve("rdct_src2").toString
    Seq((300005L, rotDegraded(5L)), (777L, png(777L)))
      .toDF("asset_id", "content")
      .withColumn("meta", lit(null).cast("map<string,string>"))
      .write.parquet(src2)
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("rdct2.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src2 }
         |  target { storage-type = local, dataset-dir = ${base.resolve("rdct_out2")}, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  rotation-tier = true
         |  image-hash = dct
         |  mode = filter
         |  state-dir = $st
         |  state-out-dir = ${base.resolve("rdct_st2")}
         |}
         |""".stripMargin)))
    val kept2 = spark.read.parquet(base.resolve("rdct_out2").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(777L),
      s"the degraded rotated arrival must drop against dihedral-dct state: $kept2")
    // a dHash dihedral run cannot consume the dct lineage
    val drift = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("rdct_drift.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src2 }
           |  modality = image
           |  rotation-tier = true
           |  mode = report
           |  state-dir = $st
           |}
           |""".stripMargin)))
    }
    assert(drift.getMessage.contains("image-dihedral-dct"), drift.getMessage)
    // crop + dct: the measured negative stays a loud refusal
    val crop = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("rdct_crop.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  crop-tier = true
           |  image-hash = dct
           |  mode = report
           |}
           |""".stripMargin)))
    }
    assert(crop.getMessage.contains("NEITHER kernel"), crop.getMessage)
  }

  test("mediadedup calibrate mode + card-dir: per-corpus twin/stranger " +
      "Hamming evidence lands first, the separation gate trips on a radius " +
      "that cannot separate; the data card rides any mode") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val src = base.resolve("cal_media").toString
    Multimodal.reencodeAsSmoothImage(
      Multimodal.asMediaTable(
        spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 40),
        "doc_id", "text", "image", Map.empty), jpeg = false)
      .write.parquet(src)
    val rep = base.resolve("cal_rep").toString
    val card = base.resolve("cal_card").toString
    def conf(name: String, radius: Int, extra: String = "") =
      write(base.resolve(s"cal_$name.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  mode = calibrate
           |  max-hamming = $radius
           |  calibrate-sample = 30
           |  calibrate-report-dir = $rep
           |$extra
           |}
           |""".stripMargin)
    // the q129 radius separates this corpus: JPEG twins within 3 bits,
    // strangers beyond — the run PASSES with the gate on
    graft.cli.MediaDedup.main(Array("--conf",
      conf("ok", 3, s"  calibrate-require-separation = true\n  card-dir = $card\n")))
    val rows = spark.read.parquet(rep).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val twins = rows.filter(_._1 == "twin")
    val strangers = rows.filter(_._1 == "stranger")
    assert(twins.map(_._3).sum == 30L, s"one twin distance per sampled asset: ${twins.toSeq}")
    assert(strangers.map(_._3).sum == 30L * 29 / 2, "all sampled stranger pairs")
    assert(twins.map(_._2).max <= 3 && strangers.map(_._2).min > 3,
      s"the evidence itself must show the separation: ${rows.toSeq}")
    // the card rode along
    val cardRow = spark.read.parquet(card).head()
    assert(cardRow.getAs[Long]("n_assets") == 40L &&
      cardRow.getAs[Long]("n_decode_failed") == 0L)
    // a radius of 0 cannot separate (JPEG twins drift) -> report still
    // lands, THEN the gate trips
    spark.read.parquet(rep).count() // warm check below re-reads
    val e = intercept[IllegalStateException] {
      graft.cli.MediaDedup.main(Array("--conf",
        conf("bad", 0, "  calibrate-require-separation = true\n")))
    }
    assert(e.getMessage.contains("does not separate"), e.getMessage)
    assert(spark.read.parquet(rep).count() > 0, "report-then-gate")
    // calibrate-report-dir is required in calibrate mode
    val g = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("cal_norep.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  mode = calibrate
           |}
           |""".stripMargin)))
    }
    assert(g.getMessage.contains("calibrate-report-dir"), g.getMessage)

    // ---- max-hamming = auto closes the loop: filter mode derives the
    // radius from the calibration report above (max-margin midpoint of
    // the twin/stranger gap) and that radius separates THIS corpus —
    // exactly the planted JPEG twins drop, every original survives
    val twinSrc = base.resolve("cal_twin_media").toString
    val plates = spark.read.parquet(src)
    plates.unionByName(
      Multimodal.reencodeAsSmoothImage(
          plates.filter(col("asset_id") < 20), jpeg = true, seedCol = "asset_id")
        .withColumn("asset_id", col("asset_id") + 100000))
      .write.parquet(twinSrc)
    val autoOut = base.resolve("cal_auto_out").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("cal_auto.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $twinSrc }
         |  target { storage-type = local, dataset-dir = $autoOut, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  mode = filter
         |  max-hamming = auto
         |  calibrate-report-dir = $rep
         |}
         |""".stripMargin)))
    val surv = spark.read.parquet(autoOut).select("asset_id")
      .collect().map(_.getLong(0))
    assert(surv.length == 40 && !surv.exists(_ >= 100000L),
      s"auto radius must drop exactly the 20 planted twins: ${surv.sorted.toSeq}")
    // auto in calibrate mode is circular and rejected
    val circ = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf",
        write(base.resolve("cal_auto_circ.conf"),
          s"""media-dedup {
             |  source { storage-type = local, dataset-dir = $src }
             |  modality = image
             |  mode = calibrate
             |  max-hamming = auto
             |  calibrate-report-dir = $rep
             |}
             |""".stripMargin)))
    }
    assert(circ.getMessage.contains("CONSUMES"), circ.getMessage)
    // auto without a report dir is rejected up front
    val norep = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("cal_auto_norep.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $twinSrc }
           |  modality = image
           |  mode = report
           |  max-hamming = auto
           |}
           |""".stripMargin)))
    }
    assert(norep.getMessage.contains("calibrate-report-dir"), norep.getMessage)
    // a report with NO separating gap fails loudly instead of picking a
    // radius that would silently false-drop or miss
    val badRep = base.resolve("cal_bad_rep").toString
    locally {
      import spark.implicits._
      Seq(("twin", 5, 1L), ("stranger", 3, 1L)).toDF("kind", "hamming", "n_pairs")
        .write.parquet(badRep)
    }
    val nogap = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("cal_auto_nogap.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $twinSrc }
           |  modality = image
           |  mode = report
           |  max-hamming = auto
           |  calibrate-report-dir = $badRep
           |}
           |""".stripMargin)))
    }
    assert(nogap.getMessage.contains("NO separating gap"), nogap.getMessage)
  }

  test("mediadedup image-hash = dct256: the WIDE lineage defaults to its own " +
      "16x16-bit radius-15 geometry, drops degraded twins, runs the full " +
      "incremental state protocol, and keeps its 256-bit state apart by " +
      "fingerprint line") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val media = Multimodal.asMediaTable(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 40),
      "doc_id", "text", "image", Map.empty)
    // 40 wide-spectrum plates + 20 blur+JPEG-q30 twins under id+100000
    // (measured wide envelope: twin max 10 vs stranger min 98)
    val src = base.resolve("w_media").toString
    Multimodal.reencodeAsTexturedImageWide(media)
      .unionByName(Multimodal.reencodeAsTexturedImageWideDegraded(
          media.filter(col("asset_id") < 20))
        .withColumn("asset_id", col("asset_id") + 100000))
      .write.parquet(src)
    // NO bands/max-hamming knobs: dct256 must default to ITS geometry
    // (radius 15 / 16 bands / probe 0), not inherit a 64-bit one
    val out = base.resolve("w_out").toString
    val stOut = base.resolve("w_st").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("w.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  image-hash = dct256
         |  mode = filter
         |  state-out-dir = $stOut
         |}
         |""".stripMargin)))
    val surv = spark.read.parquet(out).select("asset_id").collect().map(_.getLong(0))
    assert(surv.length == 40 && !surv.exists(_ >= 100000L),
      s"wide lineage must drop exactly the 20 degraded twins: ${surv.sorted.toSeq}")
    // the state carries the width-versioned fingerprint line and the
    // wide sig schema (array<bigint>), plus mergeable hotcounts + hot
    val fpLine = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stOut, "fingerprint")), "UTF-8").trim
    assert(fpLine == "image-dct256|sigBits=256|bands=16|maxHamming=15", fpLine)
    val stSigs = spark.read.parquet(s"$stOut/sigs")
    // parquet round-trips arrays containsNull-relaxed — element type is
    // the contract
    assert(stSigs.schema("sig").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.LongType)
    assert(stSigs.count() == 40)
    // INCREMENTAL: a second batch of degraded echoes of stored plates
    // + fresh wide plates — echoes drop against the persisted state
    // (hot guard from the persisted counts), fresh survive
    val media2 = Multimodal.asMediaTable(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") >= 20 && col("doc_id") < 30),
      "doc_id", "text", "image", Map.empty)
    val src2 = base.resolve("w_media2").toString
    Multimodal.reencodeAsTexturedImageWideDegraded(media2)
      .withColumn("asset_id", col("asset_id") + 300000) // echoes of 20..29
      .unionByName(Multimodal.reencodeAsTexturedImageWide(
          media2.withColumn("asset_id", col("asset_id") + 500000))) // fresh seeds
      .write.parquet(src2)
    val out2 = base.resolve("w_out2").toString
    val stOut2 = base.resolve("w_st2").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("w2.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src2 }
         |  target { storage-type = local, dataset-dir = $out2, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  image-hash = dct256
         |  mode = filter
         |  state-dir = $stOut
         |  state-out-dir = $stOut2
         |}
         |""".stripMargin)))
    val surv2 = spark.read.parquet(out2).select("asset_id").collect().map(_.getLong(0))
    assert(surv2.forall(_ >= 500000L) && surv2.length == 10,
      s"echoes of stored plates must drop, fresh survive: ${surv2.sorted.toSeq}")
    assert(spark.read.parquet(s"$stOut2/sigs").count() == 50)
    // a 64-bit dct run refuses the wide state by fingerprint line
    val fp = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("w_fp.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  image-hash = dct
           |  mode = report
           |  state-dir = $stOut
           |}
           |""".stripMargin)))
    }
    assert(fp.getMessage.contains("image-dct256"), fp.getMessage)
    // wide is the SCALAR lineage — no dihedral/crop composition knob
    val tier = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("w_tier.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  image-hash = dct256
           |  rotation-tier = true
           |  mode = report
           |}
           |""".stripMargin)))
    }
    assert(tier.getMessage.contains("SCALAR wide lineage"), tier.getMessage)
    // the streaming arrival filter refuses the wide lineage loudly
    // (64-bit kernels only — the fingerprint line is the gate)
    val arr = intercept[IllegalArgumentException] {
      graft.cli.Streamer.main(Array("--conf", write(base.resolve("w_arr.conf"),
        s"""streaming {
           |  events-dir = $src
           |  target-dir = ${base.resolve("w_arr_out")}
           |  checkpoint-location = ${base.resolve("w_arr_ckpt")}
           |  operation = media-near-dedup
           |  state-dir = $stOut
           |  shuffle-partitions = 4
           |}
           |""".stripMargin)))
    }
    assert(arr.getMessage.contains("SCALAR fingerprints"), arr.getMessage)
  }

  test("mediadedup image-hash = dct: blur+requantized twins outside dHash's " +
      "radius drop through the DCT lineage; the state fingerprint keeps the " +
      "kernels apart") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    val media = Multimodal.asMediaTable(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 40),
      "doc_id", "text", "image", Map.empty)
    // 40 textured PNG plates + 20 blur+JPEG-q30 twins under id+100000 —
    // the degradation the per-seed probe measured: 11 of these 20 twins
    // sit OUTSIDE dHash radius 3 while all 20 stay within pHash 2
    val src = base.resolve("dct_media").toString
    Multimodal.reencodeAsTexturedImage(media)
      .unionByName(Multimodal.reencodeAsTexturedImageDegraded(
          media.filter(col("asset_id") < 20))
        .withColumn("asset_id", col("asset_id") + 100000))
      .write.parquet(src)
    // the dct lineage at the probe's radius drops ALL planted twins
    val out = base.resolve("dct_out").toString
    val stOut = base.resolve("dct_st").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("dct.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  image-hash = dct
         |  mode = filter
         |  state-out-dir = $stOut
         |}
         |""".stripMargin)))
    // NO bands/max-hamming knobs above: the dct kernel must DEFAULT to
    // its own geometry (radius 7 / 8 bands — the measured pHash twin
    // envelope), not inherit dHash's — a dHash-geometry default here
    // silently misses the very twins the tier exists for
    val surv = spark.read.parquet(out).select("asset_id").collect().map(_.getLong(0))
    assert(surv.length == 40 && !surv.exists(_ >= 100000L),
      s"dct lineage must drop exactly the 20 degraded twins: ${surv.sorted.toSeq}")
    // the dHash scalar kernel at ITS radius measurably misses twins on
    // this corpus — the knob's reason to exist, pinned at the CLI level
    val dhOut = base.resolve("dh_out").toString
    graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("dh.conf"),
      s"""media-dedup {
         |  source { storage-type = local, dataset-dir = $src }
         |  target { storage-type = local, dataset-dir = $dhOut, dataset-store-format = parquet, write-mode = overwrite }
         |  modality = image
         |  mode = filter
         |}
         |""".stripMargin)))
    val dhSurv = spark.read.parquet(dhOut).select("asset_id").collect().map(_.getLong(0))
    assert(dhSurv.count(_ >= 100000L) > 0,
      "expected dHash radius 3 to miss blur twins on the textured corpus")
    // the dct state carries its own fingerprint line: a dHash run
    // refuses it loudly instead of silently under-matching
    val fp = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("dct_fp.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  mode = report
           |  state-dir = $stOut
           |}
           |""".stripMargin)))
    }
    assert(fp.getMessage.contains("image-dct"), fp.getMessage)
    // dct is the SCALAR lineage — tier states are dHash kernels
    val tier = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("dct_tier.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = image
           |  image-hash = dct
           |  crop-tier = true
           |  mode = report
           |}
           |""".stripMargin)))
    }
    assert(tier.getMessage.contains("SCALAR image lineage"), tier.getMessage)
    // and the kernel knob is image-only
    val mod = intercept[IllegalArgumentException] {
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve("dct_mod.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  modality = audio
           |  image-hash = dct
           |  mode = report
           |}
           |""".stripMargin)))
    }
    assert(mod.getMessage.contains("image kernel"), mod.getMessage)
    // the dct lineage feeds the streaming arrival filter end to end:
    // the state line's modality selects the pHash kernel column
    // (graft_media_hash 'image-dct') AND supplies the lineage's own
    // radius/bands as defaults (7/8 here — the hand-typed dHash
    // defaults would silently under-match), so a blur+requantized
    // arrival of a stored plate drops at the door
    import org.apache.spark.sql.functions.timestamp_micros
    import spark.implicits._
    val landing = base.resolve("dct_landing").toString
    Seq(
      (910001L, Multimodal.jpegBytesAtQuality(
        Multimodal.boxBlur3(Multimodal.texturedImage(5L)), 0.3f), 1L),
      (910002L, Multimodal.encodePng(Multimodal.texturedImage(450L)), 2L)
    ).toDF("asset_id", "content", "ts")
      .withColumn("ts", timestamp_micros(col("ts") * 3600L * 1000000L))
      .write.parquet(landing)
    val arrOut = base.resolve("dct_arrivals").toString
    graft.cli.Streamer.main(Array("--conf", write(base.resolve("dct_arr.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $arrOut
         |  checkpoint-location = ${base.resolve("dct_arr_ckpt")}
         |  operation = media-near-dedup
         |  state-dir = $stOut
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)))
    val arrIds = spark.read.parquet(arrOut).select("asset_id")
      .as[Long].collect().toSet
    assert(arrIds == Set(910002L),
      s"the degraded arrival of a stored plate must drop through the dct " +
        s"kernel at the state's own radius: $arrIds")
  }

  test("streamer media-near-dedup-cluster: in-batch and cross-batch degraded " +
      "image twins collapse through the DCT kernel; the state feeds the " +
      "arrival filter") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import graft.llm.Multimodal
    import spark.implicits._
    val base = tmp()
    def png(seed: Long) = Multimodal.encodePng(Multimodal.texturedImage(seed))
    def degraded(seed: Long) = Multimodal.jpegBytesAtQuality(
      Multimodal.boxBlur3(Multimodal.texturedImage(seed)), 0.3f)
    val landing = base.resolve("mc_landing").toString
    def land(rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("asset_id", "content")
        .withColumn("ts", timestamp_micros(col("asset_id") * 1000000L))
        .write.mode("append").parquet(landing)
    // batch 1: 10 textured plates + an in-batch blur+JPEG-q30 twin of
    // plate 0 under a higher id — outside dHash's radius, inside pHash 7
    land((0L until 10L).map(s => s -> png(s)) :+ (100000L -> degraded(0L)))
    val out = base.resolve("mc_out").toString
    val state = base.resolve("mc_state").toString
    val conf = write(base.resolve("mc.conf"),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $out
         |  checkpoint-location = ${base.resolve("mc_ckpt")}
         |  operation = media-near-dedup-cluster
         |  modality = image
         |  image-hash = dct
         |  cluster-state-dir = $state
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)
    // what the Streamer printed, checked against the batch's log line
    def runLogs(batchId: Int, assets: Int, dropped: Int, kept: Int): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      try Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.Streamer.main(Array("--conf", conf))
      } finally print(buf.toString("UTF-8"))
      val line = s"media-near-dedup-cluster batch $batchId (image-dct): $assets assets, " +
        s"dropped $dropped (vs-corpus + in-batch keep-lower-id), $kept survivors"
      assert(buf.toString("UTF-8").contains(line), s"missing log line: $line")
    }
    runLogs(0, 11, 1, 10)
    val b0 = spark.read.parquet(s"$out/batch-0").select("asset_id")
      .as[Long].collect().toSet
    assert(b0 == (0L until 10L).toSet,
      s"the in-batch degraded twin must collapse to the lower id: $b0")
    // batch 2 (same checkpoint): fresh plates + a degraded echo of
    // plate 1 — near the ACCRETED state, drops vs-corpus
    land(Seq(10L -> png(10L), 11L -> png(11L), 100001L -> degraded(1L)))
    runLogs(1, 3, 1, 2)
    val b1 = spark.read.parquet(s"$out/batch-1").select("asset_id")
      .as[Long].collect().toSet
    assert(b1 == Set(10L, 11L),
      s"the cross-batch echo must drop against accreted state: $b1")
    // the cluster state dir IS a media-near-dedup state: the stateless
    // arrival filter consumes it directly (kernel + radius/bands from
    // the fingerprint line) and drops a degraded echo of a survivor
    val landing2 = base.resolve("mc_arr").toString
    Seq((200001L, degraded(11L), 1L), (200002L, png(300L), 2L))
      .toDF("asset_id", "content", "ts")
      .withColumn("ts", timestamp_micros(col("ts") * 3600L * 1000000L))
      .write.parquet(landing2)
    val arrOut = base.resolve("mc_arr_out").toString
    graft.cli.Streamer.main(Array("--conf", write(base.resolve("mc_arr.conf"),
      s"""streaming {
         |  events-dir = $landing2
         |  target-dir = $arrOut
         |  checkpoint-location = ${base.resolve("mc_arr_ckpt")}
         |  operation = media-near-dedup
         |  state-dir = $state
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)))
    val arr = spark.read.parquet(arrOut).select("asset_id")
      .as[Long].collect().toSet
    assert(arr == Set(200002L),
      s"the arrival echo must drop via the cluster state: $arr")
    // video is scalar-incompatible and pointed at the batch increment
    val vid = intercept[IllegalArgumentException] {
      graft.cli.Streamer.main(Array("--conf", write(base.resolve("mc_vid.conf"),
        s"""streaming {
           |  events-dir = $landing
           |  target-dir = ${base.resolve("mc_x")}
           |  checkpoint-location = ${base.resolve("mc_xc")}
           |  operation = media-near-dedup-cluster
           |  modality = video
           |  cluster-state-dir = ${base.resolve("mc_xs")}
           |}
           |""".stripMargin)))
    }
    assert(vid.getMessage.contains("SCALAR"), vid.getMessage)
    // verify-pairs: signatures nominate, pixels CONFIRM — an absurdly
    // strict bar rejects the blur+JPEG twin (its pixel diff is real),
    // the default bar confirms it
    def vconf(name: String, extra: String) = write(base.resolve(s"$name.conf"),
      s"""streaming {
         |  events-dir = ${base.resolve(s"${name}_land")}
         |  target-dir = ${base.resolve(s"${name}_out")}
         |  checkpoint-location = ${base.resolve(s"${name}_ckpt")}
         |  operation = media-near-dedup-cluster
         |  modality = image
         |  image-hash = dct
         |  cluster-state-dir = ${base.resolve(s"${name}_state")}
         |  verify-pairs = true
         |$extra
         |  shuffle-partitions = 4
         |}
         |""".stripMargin)
    for ((name, bar, wantDrop) <- Seq(
        ("vstrict", "  max-mean-diff = 0.000001\n", false),
        ("vloose", "", true))) {
      Seq(5L -> png(5L), 100005L -> degraded(5L))
        .toDF("asset_id", "content")
        .withColumn("ts", timestamp_micros(col("asset_id")))
        .write.parquet(base.resolve(s"${name}_land").toString)
      graft.cli.Streamer.main(Array("--conf", vconf(name, bar)))
      val kept = spark.read.parquet(s"${base.resolve(s"${name}_out")}/batch-0")
        .select("asset_id").as[Long].collect().toSet
      if (wantDrop) assert(kept == Set(5L),
        s"$name: confirmed twin must drop: $kept")
      else assert(kept == Set(5L, 100005L),
        s"$name: unconfirmed nomination must NOT drop: $kept")
    }
    // a restart that swaps the seed dir is refused (the line alone
    // cannot see that drift)
    val swap = intercept[IllegalArgumentException] {
      graft.cli.Streamer.main(Array("--conf", write(base.resolve("mc_swap.conf"),
        s"""streaming {
           |  events-dir = $landing
           |  target-dir = $out
           |  checkpoint-location = ${base.resolve("mc_ckpt")}
           |  operation = media-near-dedup-cluster
           |  modality = image
           |  image-hash = dct
           |  cluster-state-dir = $state
           |  state-dir = $state
           |}
           |""".stripMargin)))
    }
    assert(swap.getMessage.contains("never swaps its seed"), swap.getMessage)
  }

  test("differ over media fingerprint state: a shifted media batch shows as " +
      "sig-histogram drift and breaches the gate; an identical batch does not") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val base = tmp()
    // two MediaDedup state dirs: plates 0..19 vs plates 10..29 (half
    // the corpus replaced — the nightly drift shape)
    def seed(name: String, lo: Int, hi: Int): String = {
      val src = base.resolve(s"dm_src_$name").toString
      Multimodal.reencodeAsSmoothImage(
        Multimodal.asMediaTable(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .filter(col("doc_id") >= lo && col("doc_id") < hi),
          "doc_id", "text", "image", Map.empty), jpeg = false)
        .write.parquet(src)
      val st = base.resolve(s"dm_state_$name").toString
      graft.cli.MediaDedup.main(Array("--conf", write(base.resolve(s"dm_$name.conf"),
        s"""media-dedup {
           |  source { storage-type = local, dataset-dir = $src }
           |  target { storage-type = local, dataset-dir = ${base.resolve(s"dm_out_$name")}, dataset-store-format = parquet, write-mode = overwrite }
           |  modality = image
           |  mode = filter
           |  state-out-dir = $st
           |}
           |""".stripMargin)))
      st
    }
    val stA = seed("a", 0, 20)
    val stB = seed("b", 10, 30)
    val rep = base.resolve("dm_rep").toString
    def diffConf(name: String, cur: String, refc: String, gate: String) =
      write(base.resolve(s"dmdiff_$name.conf"),
        s"""source { storage-type = local, dataset-dir = $cur/sigs }
           |reference { storage-type = local, dataset-dir = $refc/sigs }
           |diff {
           |  discrete-columns = [sig]
           |  report-dir = $rep
           |$gate
           |}
           |""".stripMargin)
    // identical fingerprint table: zero drift, gate passes
    graft.cli.Differ.main(Array("--conf", diffConf("same", stA, stA, "  max-drift = 0.01")))
    val same = spark.read.parquet(rep).head()
    assert(same.getAs[Double]("drift") == 0.0)
    // half the assets replaced: TVD ~0.5 over the sig histogram — the
    // report lands, then the gate breaches
    val e = intercept[IllegalStateException] {
      graft.cli.Differ.main(Array("--conf", diffConf("moved", stB, stA, "  max-drift = 0.2")))
    }
    assert(e.getMessage.contains("distribution moved"), e.getMessage)
    val moved = spark.read.parquet(rep).head()
    assert(moved.getAs[Double]("drift") > 0.4 && moved.getAs[Double]("drift") < 0.6,
      s"10 of 20 fingerprints replaced: ${moved.getAs[Double]("drift")}")
  }

  test("curator fim-rate without chunking: doc-level n_tokens is recounted " +
      "over the emitted sentinel-bearing text, never left describing the " +
      "pre-FIM document; degenerate sentinels refuse before any corpus pass") {
    import org.apache.spark.sql.functions.{col, length, size, split}
    val base = tmp()
    val out = base.resolve("fim_doc").toString
    graft.cli.Curator.main(Array("--conf", write(base.resolve("fd.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  fim-rate = 1.0
         |}
         |""".stripMargin)))
    val rows = spark.read.parquet(out)
    assert(rows.filter(!col("fim_applied")).count() == 0)
    // every row's n_tokens equals the annotate pass's own definition
    // (TextAnalysis.stats) applied to the text actually emitted
    def statCount(c: org.apache.spark.sql.Column) =
      graft.llm.TextAnalysis.stats(c).getField("n_tokens")
    val bad = rows.filter(col("n_tokens") =!= statCount(col("text"))).count()
    assert(bad == 0, s"$bad rows carry an n_tokens that does not describe " +
      "the emitted FIM text")
    // and the recount is real: cuts split words, so some rows' counts
    // moved vs the pre-FIM annotate pass
    val pre = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), statCount(col("text")).as("pre_n"))
    val moved = rows.select(col("doc_id"), col("n_tokens"))
      .join(pre, Seq("doc_id"))
      .filter(col("n_tokens") =!= col("pre_n")).count()
    assert(moved > 0, "fixture must exercise the recount (no cut split a token?)")
    // an empty sentinel must refuse up front — before the collision
    // count aggregate could burn a corpus pass on contains("")
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("fd_bad.conf"),
        s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
           |target { storage-type = local, dataset-dir = ${base.resolve("x")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  fim-rate = 1.0
           |  fim-prefix-token = ""
           |}
           |""".stripMargin)))
    }
    assert(e.getMessage.contains("whitespace-free"), e.getMessage)
  }

  test("curator fim-rate: each chunk becomes a sentinel-delimited PSM " +
      "infilling example that reassembles to the untransformed chunk, the " +
      "sentinels export as their single fixed ids, misconfigs fail loudly") {
    import org.apache.spark.sql.functions.{col, explode}
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 32)
    val mPath = base.resolve("merges.txt").toString
    val vPath = base.resolve("vocab.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, mPath, merges)
    val sentinels = Seq("<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>")
    val vocab = graft.llm.BpeTrainer.buildVocab(docs, "text", merges) ++ sentinels
    graft.llm.BpeTrainer.saveVocab(spark, vPath, vocab)
    val sentinelIds = sentinels.map(sp => sp -> vocab.indexOf(sp)).toMap
    def conf(out: String, name: String, extra: String) = write(base.resolve(name),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  chunk-size = 32
         |  bpe-merges = $mPath
         |  bpe-vocab = $vPath
         |$extra
         |}
         |""".stripMargin)
    // baseline: same curation, FIM off — the reassembly comparator
    val flat = base.resolve("flat").toString
    graft.cli.Curator.main(Array("--conf", conf(flat, "f0.conf", "")))
    // FIM on at rate 1.0, sentinels declared protected
    val out = base.resolve("fim").toString
    graft.cli.Curator.main(Array("--conf", conf(out, "f1.conf",
      s"""  fim-rate = 1.0
         |  bpe-special-tokens = ["<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>"]""".stripMargin)))
    val fimRows = spark.read.parquet(out)
    assert(fimRows.count() > 0)
    assert(fimRows.filter(!col("fim_applied")).count() == 0)
    // reassembly per (doc, chunk) against the FIM-off baseline
    val baseline = spark.read.parquet(flat)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text").as("orig"))
    val joined = fimRows.select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      .join(baseline, Seq("doc_id", "chunk_id")).collect()
    assert(joined.length == fimRows.count())
    joined.foreach { r =>
      val s = r.getAs[String]("chunk_text")
      assert(s.startsWith("<|fim_prefix|>"), s)
      val sufAt = s.indexOf("<|fim_suffix|>")
      val midAt = s.indexOf("<|fim_middle|>")
      assert(sufAt >= 0 && midAt > sufAt, s)
      val prefix = s.substring("<|fim_prefix|>".length, sufAt)
      val suffix = s.substring(sufAt + "<|fim_suffix|>".length, midAt)
      val middle = s.substring(midAt + "<|fim_middle|>".length)
      assert(prefix + middle + suffix == r.getAs[String]("orig"),
        s"reassembly broke for (${r.getAs[Long]("doc_id")}, ${r.getAs[Long]("chunk_id")})")
    }
    // every sentinel encodes to its single fixed vocab id, once per row
    val n = fimRows.count()
    sentinels.foreach { sp =>
      assert(fimRows.select(explode(col("token_ids")).as("i"))
        .filter(col("i") === sentinelIds(sp)).count() == n,
        s"sentinel $sp must emit exactly one fixed id per row")
    }
    // misconfig 1: token-id export without the sentinels declared special
    val e1 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(base.resolve("x1").toString, "x1.conf", "  fim-rate = 1.0")))
    }
    assert(e1.getMessage.contains("bpe-special-tokens"), e1.getMessage)
    // misconfig 2: whitespace in an overridden sentinel
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(base.resolve("x2").toString, "x2.conf",
          "  fim-rate = 1.0\n  fim-prefix-token = \"<|fim pre|>\"")))
    }
    assert(e2.getMessage.contains("whitespace-free"), e2.getMessage)
    // misconfig 3: FIM + unigram id export must trip the FIM-specific
    // refusal (no protected-specials path on that encoder). The conf
    // carries NO bpe-* knobs — with any of those the earlier
    // unigram/bpe mutual-exclusion require fires first and this
    // refusal would never be exercised — and the dummy model path
    // proves the refusal is up-front (never opened).
    val e3 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", write(base.resolve("x3.conf"),
        s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
           |target { storage-type = local, dataset-dir = ${base.resolve("x3")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  fim-rate = 1.0
           |  unigram-model = ${base.resolve("no_such_model.tsv")}
           |  pack-seq-len = 128
           |}
           |""".stripMargin)))
    }
    assert(e3.getMessage.contains("fim-rate is not supported with unigram"),
      e3.getMessage)
  }

  test("curator fim-rate after byte-budget chunking: chunk_tokens recounts " +
      "in PRETOKENS (the byte chunker's own unit, specials atomic), not " +
      "whitespace tokens (advice finding)") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.llm.BpeTrainer.learnByteMerges(docs, "text", numMerges = 32)
    val mPath = base.resolve("bmerges.txt").toString
    val vPath = base.resolve("bvocab.txt").toString
    val sentinels = Seq("<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>")
    graft.llm.BpeTrainer.saveMerges(spark, mPath, merges)
    graft.llm.BpeTrainer.saveVocab(spark, vPath,
      graft.llm.BpeTrainer.buildByteVocab(merges) ++ sentinels)
    val out = base.resolve("bfim").toString
    graft.cli.Curator.main(Array("--conf", write(base.resolve("bfim.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  bpe-merges = $mPath
         |  bpe-vocab = $vPath
         |  bpe-byte-level = true
         |  bpe-budget = 48
         |  chunk-overlap = 0
         |  fim-rate = 1.0
         |  bpe-special-tokens = ["<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>"]
         |}
         |""".stripMargin)))
    val rows = spark.read.parquet(out)
    assert(rows.count() > 0)
    assert(rows.filter(!col("fim_applied")).count() == 0)
    // the recounted column must be the byte chunker's unit: pretokens
    // with the declared sentinels atomic — a whitespace recount
    // disagrees on every sentinel-glued boundary
    val drift = rows.filter(col("chunk_tokens") =!=
      graft.functions.GraftFunctions.pretokenCount(
        col("chunk_text"), sentinels).cast("long")).count()
    assert(drift == 0, s"$drift FIM rows recounted in the wrong unit")
    // and it genuinely differs from the old whitespace recount on a
    // meaningful fraction of rows (the bug this pins was silent)
    val ws = org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.filter(
        org.apache.spark.sql.functions.split(col("chunk_text"), "\\s+"),
        t => org.apache.spark.sql.functions.length(t) > 0)).cast("long")
    assert(rows.filter(col("chunk_tokens") =!= ws).count() > 0,
      "fixture too weak: pretoken and whitespace counts agree everywhere")
  }
}

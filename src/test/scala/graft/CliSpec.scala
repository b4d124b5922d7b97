package graft

import java.nio.file.{Files, Path}
import graft.cli.Cli
import graft.conf.GraftConfig

/** CLI e2e shard A (of 4) — see CliSpecBase. */
class CliSpec extends CliSpecBase {
  test("parseConf merges --conf file with k=v overrides (B3, scorer.py:71-76)") {
    val f = write(tmp().resolve("c.conf"),
      """source { storage-type = local, dataset-dir = /a }
        |target { storage-type = local, dataset-dir = /b }
        |""".stripMargin)
    val conf = Cli.parseConf(Array("--conf", f, "target.dataset-dir=/c", "spark.app=x"))
    assert(conf.string("source.dataset-dir") == "/a")
    assert(conf.string("target.dataset-dir") == "/c") // override wins
    assert(conf.string("spark.app") == "x")
  }

  test("include \"file\" splices shared config blocks (reference README.md:92)") {
    val dir = tmp()
    write(dir.resolve("shared.conf"),
      """spark-prop { spark.sql.shuffle.partitions = 4 }
        |app = shared-app
        |""".stripMargin)
    val main = write(dir.resolve("main.conf"),
      """spark {
        |  include "shared.conf"
        |  app = main-app
        |}
        |source { storage = local, query = /x }
        |""".stripMargin)
    val conf = GraftConfig.parseFile(main)
    assert(conf.string("spark.spark-prop.spark.sql.shuffle.partitions") == "4")
    assert(conf.string("spark.app") == "main-app") // later key wins
    assert(conf.string("source.query") == "/x")
  }

  test("session folds spark-prop into the builder (B1/B2)") {
    // shared session already exists; getOrCreate returns it — assert the
    // config path on a value that is safe to set redundantly.
    val conf = GraftConfig.parse(
      """spark {
        |  app = graft-test
        |  spark-prop { spark.sql.shuffle.partitions = 4 }
        |}""".stripMargin)
    val s = Cli.session(conf, "fallback")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("a fresh local[N] CLI session shuffles N ways unless spark-prop sets " +
      "the width") {
    // a fresh session needs its own JVM: this one already runs the
    // suites' local[4] session
    val dir = tmp()
    val plain = write(dir.resolve("plain.conf"),
      """spark.spark-prop { spark.master = "local[3]" }""")
    val explicitWidth = write(dir.resolve("explicit.conf"),
      """spark.spark-prop {
        |  spark.master = "local[3]"
        |  spark.sql.shuffle.partitions = 5
        |}""".stripMargin)
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx768m",
      "-Dspark.ui.enabled=false", s"-Djava.io.tmpdir=${dir.toAbsolutePath}") ++
      addOpens ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.ShuffleWidthMain", plain, explicitWidth)
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out ++= l + "\n", l => out ++= l + "\n"))
    val widths = out.toString.split("\n").collect {
      case l if l.startsWith("width ") => l.stripPrefix("width ")
    }.toSeq
    assert(rc == 0 && widths == Seq("3", "5"), s"rc=$rc\n$out")
  }

  test("a running session's explicit shuffle width is left alone") {
    val key = GraftSession.ShufflePartitions
    assert(spark.conf.get(key) == "4") // the suites' session, set by setup
    spark.conf.set(key, "7")
    try {
      val s = Cli.session(GraftConfig.parse("spark { app = graft-test }"), "fallback")
      assert(s eq spark)
      assert(s.conf.get(key) == "7")
    } finally spark.conf.set(key, "4")
  }

  test("the shuffle-width decision leaves cluster masters and explicit " +
      "widths alone") {
    import GraftSession.shufflePartitions
    assert(shufflePartitions("local[3]", explicit = false, parallelism = 3).contains(3))
    assert(shufflePartitions("local[*]", explicit = false, parallelism = 4).contains(4))
    assert(shufflePartitions("local", explicit = false, parallelism = 1).contains(1))
    assert(shufflePartitions("local[3]", explicit = true, parallelism = 3).isEmpty)
    Seq("yarn", "spark://host:7077", "k8s://https://host:6443", "mesos://host:5050")
      .foreach(m => assert(shufflePartitions(m, explicit = false, parallelism = 64).isEmpty, m))
  }

  test("mover copies source parquet to target directory (E1)") {
    val out = tmp().resolve("moved").toString
    val f = write(tmp().resolve("mover.conf"),
      s"""source {
         |  storage-type = local
         |  dataset-dir = $sfDir/nation.parquet
         |  dataset-store-format = parquet
         |}
         |target {
         |  storage-type = local
         |  dataset-dir = $out
         |  dataset-store-format = parquet
         |  write-mode = overwrite
         |}
         |""".stripMargin)
    graft.cli.Mover.main(Array("--conf", f))
    val moved = spark.read.parquet(out)
    assert(moved.count() == 25)
    assert(moved.columns.sameElements(spark.read.parquet(s"$sfDir/nation.parquet").columns))
  }

  test("mover applies post-read transform-sql + limit (S6/S8 through E1)") {
    val out = tmp().resolve("moved2").toString
    val f = write(tmp().resolve("mover2.conf"),
      s"""source {
         |  storage-type = local
         |  dataset-dir = $sfDir/orders.parquet
         |  transform-sql = "select o_orderkey, o_totalprice from dataset_temp where o_totalprice > 100"
         |  limit = 10
         |}
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet }
         |""".stripMargin)
    graft.cli.Mover.main(Array("--conf", f))
    val moved = spark.read.parquet(out)
    assert(moved.count() == 10)
    assert(moved.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
  }

  test("trainer trains from config and scorer scores with the saved model (E2+E3)") {
    val base = tmp()
    val modelPath = base.resolve("model").toString
    val scoresOut = base.resolve("scores").toString

    // train: label = high-value order, features = price-ish numerics
    import org.apache.spark.sql.functions._
    val trainData = base.resolve("train_data").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("uid"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_cust"),
        (col("o_totalprice") > 150000).cast("double").as("label"))
      .write.mode("overwrite").parquet(trainData)

    val trainerConf = write(base.resolve("trainer.conf"),
      s"""model-definition {
         |  dataset { storage-type = local, dataset-dir = $trainData }
         |  target-column = label
         |  estimator = logistic-regression
         |  feature-columns = [o_totalprice, o_cust]
         |  params { maxIter = 20 }
         |}
         |model-path = $modelPath
         |""".stripMargin)
    graft.cli.Trainer.main(Array("--conf", trainerConf))
    assert(Files.exists(java.nio.file.Paths.get(modelPath)))

    val scorerConf = write(base.resolve("scorer.conf"),
      s"""source { storage-type = local, dataset-dir = $trainData }
         |target { storage-type = local, dataset-dir = $scoresOut, dataset-store-format = parquet }
         |model-path = $modelPath
         |cols-to-save = [uid, label]
         |current-dt = 2026-01-01T00-00
         |""".stripMargin)
    graft.cli.Scorer.main(Array("--conf", scorerConf))

    val scores = spark.read.parquet(scoresOut)
    assert(scores.columns.toSeq ==
      Seq("model_name", "current_dt", "uid", "label", "target_proba"))
    assert(scores.count() == spark.read.parquet(trainData).count())
    assert(scores.select("model_name").head().getString(0) == "model")
    // the model actually separates: high-value orders score higher
    val hi = scores.filter(col("label") === 1.0).agg(avg("target_proba")).head().getDouble(0)
    val lo = scores.filter(col("label") === 0.0).agg(avg("target_proba")).head().getDouble(0)
    assert(hi > lo, s"hi=$hi lo=$lo")
  }

  test("curator runs the full curation pipeline config-driven") {
    val base = tmp()
    val out = base.resolve("curated").toString
    val f = write(base.resolve("curator.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.2
         |  shingle-size = 3
         |  near-dup-strategy = simhash
         |  report-dir = ${base.resolve("report")}
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val curated = spark.read.parquet(out)
    assert(curated.count() > 0)
    assert(curated.count() <= spark.read.parquet(s"$sfDir/documents.parquet").count())
    assert(Seq("quality", "lang_id", "n_tokens").forall(curated.columns.contains))
    // the data card rides along: per-lang rows whose doc counts sum to
    // the curated corpus
    val report = spark.read.parquet(base.resolve("report").toString)
    assert(report.columns.toSeq == Seq("lang_id", "n_docs", "total_chars",
      "total_tokens", "min_doc_tokens", "max_doc_tokens", "n_empty"))
    val totalDocs = report.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0)
    assert(totalDocs == curated.count(), s"report must cover the curated corpus")
  }

  test("curator with mixture + chunking emits training-ready chunk rows") {
    val base = tmp()
    val out = base.resolve("chunks").toString
    val f = write(base.resolve("curator2.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.2
         |  mixture-weights { src0 = 1.0, src1 = 1.0 }
         |  mixture-default-fraction = 0.5
         |  chunk-size = 32
         |  chunk-overlap = 8
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_id", "chunk_text", "chunk_tokens"))
    assert(chunks.count() > 0)
    assert(chunks.filter(org.apache.spark.sql.functions.col("chunk_tokens") > 32).count() == 0)
    // mixture dropped roughly half the unlisted sources before chunking
    val docsKept = chunks.select("doc_id").distinct().count()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(docsKept < total, s"mixture should drop some docs ($docsKept vs $total)")
  }

  test("curator chunks to a BPE subword budget when bpe-budget + bpe-merges are set") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val merges = write(base.resolve("merges.txt"), "#version: 0.2\nl o\nlo w\ne r")
    val out = base.resolve("bpe_chunks").toString
    val f = write(base.resolve("curator_bpe.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.2
         |  bpe-budget = 48
         |  bpe-merges = "$merges"
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.toSeq ==
      Seq("doc_id", "chunk_id", "chunk_text", "chunk_tokens", "chunk_bpe_tokens"))
    assert(chunks.count() > 0)
    // the budget binds on the SUBWORD count: no multi-token chunk above
    // it, and the recorded counts replay under graft_bpe_count
    assert(chunks.filter(col("chunk_tokens") > 1 && col("chunk_bpe_tokens") > 48).count() == 0)
    val mismatch = chunks.withColumn("recount",
      graft.llm.TextAnalysis.bpeTokenCount(col("chunk_text"), merges).cast("long"))
      .filter(col("recount") =!= col("chunk_bpe_tokens")).count()
    assert(mismatch == 0)
    // chunk-size and bpe-budget cannot combine
    val bad = write(base.resolve("curator_bad.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("nope")}, dataset-store-format = parquet }
         |curation { chunk-size = 32, bpe-budget = 48, bpe-merges = "$merges" }
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", bad))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("curator with redact + splits labels every chunk and scrubs planted PII") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val base = tmp()
    // corpus with planted PII in every doc
    val src = base.resolve("pii_docs").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", concat(col("text"), lit(" mail bob@example.com now")))
      .write.parquet(src)
    val out = base.resolve("split_chunks").toString
    val f = write(base.resolve("curator3.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = $out, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  redact = true
         |  splits = ["train:0.8", "val:0.1", "test:0.1"]
         |  split-salt = s1
         |  chunk-size = 32
         |  chunk-overlap = 8
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.toSeq ==
      Seq("doc_id", "split", "chunk_id", "chunk_text", "chunk_tokens"))
    val bySplit = chunks.select("doc_id", "split").distinct()
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")) && bySplit.contains("train"),
      s"$bySplit")
    // each doc carries exactly one split label
    assert(chunks.select("doc_id", "split").distinct().count() ==
      chunks.select("doc_id").distinct().count())
    // the PII never reaches the training output (scrubbed pre-curation)
    assert(chunks.filter(col("chunk_text").contains("bob@example.com")).count() == 0)
    assert(chunks.filter(col("chunk_text").contains("<EMAIL>")).count() > 0)
  }

  test("curator incremental mode: re-running the same corpus against state keeps nothing") {
    val base = tmp()
    def conf(run: Int, stateIn: Option[String]) = write(base.resolve(s"cur$run.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"out$run")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.2
         |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
         |  state-out-dir = ${base.resolve(s"state$run")}
         |}
         |""".stripMargin)
    // run 1: no prior state — curates the corpus, writes state1
    graft.cli.Curator.main(Array("--conf", conf(1, None)))
    val n1 = spark.read.parquet(base.resolve("out1").toString).count()
    assert(n1 > 0)
    assert(new java.io.File(base.resolve("state1").resolve("hashes").toString).exists())
    assert(new java.io.File(base.resolve("state1").resolve("hot").toString).exists())
    // run 2: SAME corpus against run 1's state — everything exact-seen
    // or SimHash-near the corpus is dropped. A handful of chain remnants
    // may survive (doc B near dropped-doc X near corpus, with B itself
    // beyond the radius — triangle inequality only bounds B at 2×radius)
    graft.cli.Curator.main(Array("--conf", conf(2, Some(base.resolve("state1").toString))))
    val n2 = spark.read.parquet(base.resolve("out2").toString).count()
    assert(n2 <= n1 / 50, s"run 2 kept $n2 of $n1 — incremental dedup not effective")
    // state accumulated: run 1's survivors plus run 2's remnants
    assert(spark.read.parquet(base.resolve("state2").resolve("hashes").toString).count() == n1 + n2)
    // run 3: remnants are now IN the state → converges to zero new docs
    graft.cli.Curator.main(Array("--conf", conf(3, Some(base.resolve("state2").toString))))
    assert(spark.read.parquet(base.resolve("out3").toString).count() == 0)
    assert(new java.io.File(base.resolve("state2").resolve("_COMMITTED").toString).exists())
    // writing state over the dir being read is rejected, even via a
    // path alias (trailing slash) the raw-string compare would miss
    val bad = write(base.resolve("bad.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("outX")} }
         |curation { state-dir = ${base.resolve("state1")}, state-out-dir = "${base.resolve("state1")}/" }
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", bad)) }
    // an uncommitted / nonexistent state dir fails loudly instead of
    // silently skipping dedup and clobbering accumulated state
    val missing = write(base.resolve("missing.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("outY")} }
         |curation { state-dir = ${base.resolve("no-such-state")} }
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", missing)) }
    // parameter drift between increments is rejected (stored sigs are
    // only comparable under the parameters that built them)
    val drift = write(base.resolve("drift.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("outZ")} }
         |curation { state-dir = ${base.resolve("state1")}, shingle-size = 5 }
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", drift)) }
    // max-bucket rides stateParams too: persisted hotcounts thresholds
    // only mean anything under the cap that built the lineage
    val bdrift = write(base.resolve("bdrift.conf"),
      s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
         |target { storage-type = local, dataset-dir = ${base.resolve("outW")} }
         |curation { state-dir = ${base.resolve("state1")}, max-bucket = 7 }
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", bdrift)) }
    // a pre-counts state dir (no hotcounts table) bootstraps from the
    // signature union once, then the lineage is incremental
    val fs = java.nio.file.Paths.get(base.resolve("state2").resolve("hotcounts").toString)
    assert(fs.toFile.exists())
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    deleteRec(fs.toFile)
    graft.cli.Curator.main(Array("--conf", conf(4, Some(base.resolve("state2").toString))))
    assert(new java.io.File(base.resolve("state4").resolve("hotcounts").toString).exists())
    val counts4 = spark.read.parquet(base.resolve("state4").resolve("hotcounts").toString)
    val sigs4 = spark.read.parquet(base.resolve("state4").resolve("sigs").toString)
    assert(counts4.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) ==
      sigs4.count() * 4, "bootstrapped counts must cover the full signature union")
  }

  test("curator state-parts-dir: hashes/sigs become immutable parts + manifests; " +
      "incremental convergence identical, prior parts untouched, drift rejected") {
    val base = tmp()
    val partsDir = base.resolve("stparts").toString
    def conf(run: Int, stateIn: Option[String], partsLine: String) =
      write(base.resolve(s"pcur$run.conf"),
        s"""source { storage-type = local, dataset-dir = $sfDir/documents.parquet }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"pout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.2
           |$partsLine
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"pstate$run")}
           |}
           |""".stripMargin)
    val partsLine = s"  state-parts-dir = $partsDir"
    graft.cli.Curator.main(Array("--conf", conf(1, None, partsLine)))
    val n1 = spark.read.parquet(base.resolve("pout1").toString).count()
    assert(n1 > 0)
    val st1 = base.resolve("pstate1")
    for (t <- Seq("hashes", "sigs")) {
      assert(new java.io.File(st1.resolve(s"${t}manifest").toString).exists(),
        s"$t manifest must commit")
      assert(!new java.io.File(st1.resolve(t).toString).exists(),
        s"parts mode must not materialize $t in the state dir")
    }
    // hot buckets stay a materialized aggregate either way — but they
    // derive from the mergeable hotcounts parts, not a re-band of the
    // full signature union
    assert(new java.io.File(st1.resolve("hot").toString).exists())
    assert(new java.io.File(st1.resolve("hotcountsmanifest").toString).exists())
    def partFiles(t: String, i: Int): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$partsDir/$t", s"part-$i")
      assert(d.exists(), s"$t/part-$i must exist")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    }
    val hashes0 = partFiles("hashes", 0)
    val sigs0 = partFiles("sigs", 0)
    // run 2: same corpus against state — drops to remnants, same
    // convergence contract as rewrite mode
    graft.cli.Curator.main(Array("--conf",
      conf(2, Some(st1.toString), partsLine)))
    val n2 = spark.read.parquet(base.resolve("pout2").toString).count()
    assert(n2 <= n1 / 50, s"run 2 kept $n2 of $n1 — incremental dedup not effective")
    assert(partFiles("hashes", 0) == hashes0 && partFiles("sigs", 0) == sigs0,
      "prior parts must be byte-identical after run 2 — immutability is the point")
    // hotcounts appended a batch part (counts merge by sum; no corpus
    // signature re-band), and the derived hot table equals the direct
    // aggregate over the full signature union
    assert(new java.io.File(s"$partsDir/hotcounts", "part-1").exists())
    val st2 = base.resolve("pstate2")
    val sigsAll = graft.cli.Cli.readStateTable(spark, st2.toString, "sigs")
    def hotSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bits").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(hotSet(spark.read.parquet(st2.resolve("hot").toString)) ==
      hotSet(graft.llm.Dedup.simHashHotBuckets(sigsAll, 4, 10000)))
    // manifest union covers corpus + remnants, exactly like the
    // rewrite-mode accumulated table
    val manifest2 = scala.io.Source.fromFile(
      base.resolve("pstate2").resolve("hashesmanifest").toString).mkString
      .split("\n").filter(_.nonEmpty)
    assert(manifest2.length == 2, s"manifest: ${manifest2.toSeq}")
    assert(spark.read.parquet(manifest2.toIndexedSeq: _*).count() == n1 + n2)
    // run 3 converges to zero
    graft.cli.Curator.main(Array("--conf",
      conf(3, Some(base.resolve("pstate2").toString), partsLine)))
    assert(spark.read.parquet(base.resolve("pout3").toString).count() == 0)
    // dropping state-parts-dir against a parts-mode state = param drift
    val e = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(4, Some(base.resolve("pstate2").toString), "")))
    }
    assert(e.getMessage.contains("state-parts-dir"), e.getMessage)
    // a crashed commit's orphan part beyond the manifest is swept by the
    // next successful commit (a param-compatible retry overwrites its
    // own index; anything higher is dead weight within the lineage)
    val orphan = new java.io.File(s"$partsDir/hashes", "part-7")
    orphan.mkdirs()
    val orphanFile = new java.io.File(orphan, "junk.parquet")
    orphanFile.createNewFile()
    graft.cli.Curator.main(Array("--conf",
      conf(5, Some(base.resolve("pstate3").toString), partsLine)))
    assert(!orphan.exists(), "orphan part beyond the manifest must be swept")
    // a FRESH lineage (no state-dir) refuses a non-empty parts table dir
    // instead of silently clobbering it from part-0
    val fresh = intercept[IllegalStateException] {
      graft.cli.Curator.main(Array("--conf", conf(6, None, partsLine)))
    }
    assert(fresh.getMessage.contains("not empty"), fresh.getMessage)
  }

  test("curator cardinality state accumulates lifetime distincts across batches") {
    import org.apache.spark.sql.functions.{col, countDistinct, explode}
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b1 = base.resolve("b1.parquet").toString
    val b2 = base.resolve("b2.parquet").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(b1)
    docs.filter(col("doc_id") % 2 === 1).write.parquet(b2)
    def conf(run: Int, src: String, stateIn: Option[String]) =
      write(base.resolve(s"card$run.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"out$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"state$run")}
           |  cardinality-group-columns = [lang]
           |  cardinality-report-dir = ${base.resolve(s"cardrep$run")}
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, b1, None)))
    assert(new java.io.File(base.resolve("state1").resolve("cardsketch").toString).exists())
    graft.cli.Curator.main(Array("--conf",
      conf(2, b2, Some(base.resolve("state1").toString))))
    // lifetime estimates after batch 2 track EXACT distincts over the
    // union of what the two runs actually emitted — not batch 2 alone,
    // and not the (overlap-inflated) sum of per-batch distincts
    val got = spark.read.parquet(base.resolve("cardrep2").toString)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("distinct_docs"), r.getAs[Long]("distinct_tokens"))).toMap
    val emitted = spark.read.parquet(base.resolve("out1").toString)
      .unionByName(spark.read.parquet(base.resolve("out2").toString))
    val exact = emitted
      .select(col("lang"), col("text"),
        explode(graft.llm.Dedup.tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(countDistinct("text").as("d"), countDistinct("tok").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == exact.keySet, s"langs ${got.keySet} vs ${exact.keySet}")
    got.foreach { case (lang, (dd, dt)) =>
      val (ed, et) = exact(lang)
      assert(math.abs(dd - ed) <= math.max(2.0, 0.05 * ed), s"$lang docs: $dd vs $ed")
      assert(math.abs(dt - et) <= math.max(2.0, 0.05 * et), s"$lang tokens: $dt vs $et")
      // accumulation is real: the lifetime doc estimate exceeds what
      // batch 2 alone could account for
      val n2 = spark.read.parquet(base.resolve("out2").toString)
        .filter(col("lang") === lang).count()
      assert(dd > n2 * 0.9, s"$lang lifetime $dd does not exceed batch-2-only $n2")
    }
    // group-column drift between increments is rejected loudly
    val drift = write(base.resolve("carddrift.conf"),
      s"""source { storage-type = local, dataset-dir = $b1 }
         |target { storage-type = local, dataset-dir = ${base.resolve("outD")} }
         |curation {
         |  state-dir = ${base.resolve("state2")}
         |  cardinality-group-columns = [source]
         |}
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", drift)) }
    // gram-size drift is rejected too (token and n-gram sketches do
    // not mean anything merged)
    val gdrift = write(base.resolve("cardgdrift.conf"),
      s"""source { storage-type = local, dataset-dir = $b1 }
         |target { storage-type = local, dataset-dir = ${base.resolve("outG")} }
         |curation {
         |  state-dir = ${base.resolve("state2")}
         |  cardinality-group-columns = [lang]
         |  cardinality-gram-size = 3
         |}
         |""".stripMargin)
    intercept[IllegalArgumentException] { graft.cli.Curator.main(Array("--conf", gdrift)) }
    // shingle mode: distinct trigram estimate exceeds distinct tokens
    // (each doc contributes ~as many trigrams as tokens, far fewer repeats)
    import org.apache.spark.sql.functions.sum
    val tokTotal = spark.read.parquet(base.resolve("cardrep2").toString)
      .agg(sum("distinct_tokens")).head().getLong(0)
    val g3 = graft.llm.Cardinality.report(
      graft.llm.Cardinality.sketchState(docs, Seq("lang"), gramSize = 3), Seq("lang"))
      .agg(sum("distinct_tokens")).head().getLong(0)
    assert(g3 > tokTotal, s"distinct trigrams $g3 should exceed distinct tokens $tokTotal")
  }

  test("curator freq state: lifetime heavy hitters accumulate exactly across " +
      "batches, carry forward on stage-off, reject column-set and k drift") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b1 = base.resolve("fb1.parquet").toString
    val b2 = base.resolve("fb2.parquet").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(b1)
    docs.filter(col("doc_id") % 2 === 1).write.parquet(b2)
    def conf(run: Int, src: String, stateIn: Option[String], knobs: String) =
      write(base.resolve(s"freq$run.conf"),
        s"""source { storage-type = local, dataset-dir = $src }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"fout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"fstate$run")}
           |$knobs
           |}
           |""".stripMargin)
    val freqKnobs =
      s"""  freq-value-columns = [source, lang]
         |  freq-report-dir = ${base.resolve("freqrep")}""".stripMargin
    graft.cli.Curator.main(Array("--conf", conf(1, b1, None, freqKnobs)))
    assert(new java.io.File(base.resolve("fstate1").resolve("freqsketch").toString).exists())
    graft.cli.Curator.main(Array("--conf",
      conf(2, b2, Some(base.resolve("fstate1").toString), freqKnobs)))
    // k=64 exceeds the lifetime distinct sources/langs, so no MG trim
    // ever fires: the lifetime report must EQUAL the exact group-by
    // over the union of what the two runs actually emitted
    val emitted = spark.read.parquet(base.resolve("fout1").toString)
      .unionByName(spark.read.parquet(base.resolve("fout2").toString))
    val rep = spark.read.parquet(base.resolve("freqrep").toString)
    Seq("source", "lang").foreach { cn =>
      val got = rep.filter(col("value_column") === cn)
        .select("item", "estimate")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = emitted.groupBy(cn).count()
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
      assert(got == exact, s"$cn lifetime: $got vs exact $exact")
    }
    // stage off in run 3: the lifetime sketch carries forward unchanged
    graft.cli.Curator.main(Array("--conf",
      conf(3, b1, Some(base.resolve("fstate2").toString), "")))
    val carried = spark.read.parquet(base.resolve("fstate3").resolve("freqsketch").toString)
    val prior = spark.read.parquet(base.resolve("fstate2").resolve("freqsketch").toString)
    assert(carried.collect().toSet == prior.collect().toSet,
      "stage-off run must carry the freqsketch state forward unchanged")
    // column-set drift between increments is rejected loudly
    val cdrift = conf(4, b1, Some(base.resolve("fstate2").toString),
      "  freq-value-columns = [lang]")
    val e1 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", cdrift))
    }
    assert(e1.getMessage.contains("per-column sketches"), e1.getMessage)
    // k drift is rejected inside the merge
    val kdrift = conf(5, b1, Some(base.resolve("fstate2").toString),
      "  freq-value-columns = [source, lang]\n  freq-k = 8")
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf", kdrift))
    }
    assert(e2.getMessage.contains("mixed k"), e2.getMessage)
  }

  test("curator cardinality-hash-grams: hashed sketch+hit state accumulates; " +
      "representation drift against string state is rejected") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b1 = base.resolve("hb1.parquet").toString
    docs.filter(col("doc_id") < 100).write.parquet(b1)
    val benchDir = base.resolve("hbench").toString
    docs.filter(col("doc_id") < 10).select("doc_id", "text").write.parquet(benchDir)
    def conf(run: Int, stateIn: Option[String], hashed: Boolean) =
      write(base.resolve(s"hash$run.conf"),
        s"""source { storage-type = local, dataset-dir = $b1 }
           |target { storage-type = local, dataset-dir = ${base.resolve(s"hout$run")}, dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |${stateIn.map(d => s"  state-dir = $d").getOrElse("")}
           |  state-out-dir = ${base.resolve(s"hstate$run")}
           |  cardinality-group-columns = [source]
           |  cardinality-gram-size = 8
           |  cardinality-hash-grams = $hashed
           |  benchmark-dir = $benchDir
           |  contamination-min-hits = 999
           |  cardinality-report-dir = ${base.resolve(s"hrep$run")}
           |}
           |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf(1, None, hashed = true)))
    // the hit state is 8-byte hashes, not strings
    val hits = spark.read.parquet(base.resolve("hstate1").resolve("benchhits").toString)
    assert(hits.columns.contains("gram_hash") && !hits.columns.contains("gram"))
    assert(hits.count() > 0)
    val rep = spark.read.parquet(base.resolve("hrep1").toString)
    assert(rep.filter(col("shared_grams") > 0).count() > 0,
      "benchmark drawn from the corpus must overlap")
    // toggling the representation against committed hashed state fails
    // loudly (cardsketch schema compare catches it first)
    val err = intercept[IllegalArgumentException] {
      graft.cli.Curator.main(Array("--conf",
        conf(2, Some(base.resolve("hstate1").toString), hashed = false)))
    }
    assert(err.getMessage.contains("do not merge"), err.getMessage)
  }

  test("curator token-budgets: per-source token caps bite in docs-in-digest " +
      "order; unbudgeted sources pass whole; scale knob avoids the window") {
    import org.apache.spark.sql.functions.{col, sum}
    val base = tmp()
    val src = base.resolve("tbsrc").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").write.parquet(src)
    def conf(name: String, extra: String) = write(base.resolve(s"$name.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve(s"out_$name")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  token-budgets { src0 = 300, src1 = 0 }
         |$extra
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", conf("tb", "")))
    val out = spark.read.parquet(base.resolve("out_tb").toString)
    val tok = out.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxDoc = out.filter(col("source") === "src0")
      .agg(org.apache.spark.sql.functions.max("n_tokens").cast("long")).head().getLong(0)
    assert(tok("src0") >= 300 && tok("src0") < 300 + maxDoc,
      s"budget with crossing-doc overshoot: ${tok.get("src0")}")
    assert(!tok.contains("src1"), "zero budget keeps nothing")
    val full = spark.read.parquet(src).filter(col("source") === "src2").count()
    assert(out.filter(col("source") === "src2").count() == full,
      "unbudgeted source passes whole")
    // scale form: approximate mass, same knobs
    graft.cli.Curator.main(Array("--conf", conf("tbs", "  token-budget-scale = true")))
    val gotS = spark.read.parquet(base.resolve("out_tbs").toString)
      .filter(col("source") === "src0").agg(sum("n_tokens")).head().getLong(0)
    assert(gotS > 0 && math.abs(gotS - 300) <= 300,
      s"scale form lands in the budget band: $gotS")
  }

  test("differ: zero drift on identical data passes; a shifted dataset " +
      "breaches the gate AFTER the report is written") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val refDir = base.resolve("dref").toString
    val sameDir = base.resolve("dsame").toString
    val shiftDir = base.resolve("dshift").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_quantity")
    li.write.parquet(refDir)
    li.write.parquet(sameDir)
    // shifted copy: quantities doubled, flags collapsed to one value
    li.select(org.apache.spark.sql.functions.lit("X").as("l_returnflag"),
        (col("l_quantity") * 2).as("l_quantity"))
      .write.parquet(shiftDir)
    def conf(name: String, srcDir: String, extra: String) =
      write(base.resolve(s"$name.conf"),
        s"""source { storage-type = local, dataset-dir = $srcDir }
           |reference { storage-type = local, dataset-dir = $refDir }
           |diff {
           |  discrete-columns = [l_returnflag]
           |  continuous-columns = [l_quantity]
           |  report-dir = ${base.resolve(s"rep_$name")}
           |  max-drift = 0.1
           |$extra
           |}
           |""".stripMargin)
    graft.cli.Differ.main(Array("--conf", conf("same", sameDir, "")))
    val rep = spark.read.parquet(base.resolve("rep_same").toString)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rep.keySet == Set("l_returnflag", "l_quantity"))
    assert(rep.values.forall(_ == 0.0), s"identical data must show zero drift: $rep")
    val err = intercept[IllegalStateException] {
      graft.cli.Differ.main(Array("--conf", conf("shift", shiftDir, "")))
    }
    assert(err.getMessage.contains("l_returnflag"), err.getMessage)
    // the artifact landed BEFORE the breach was raised
    val rep2 = spark.read.parquet(base.resolve("rep_shift").toString)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rep2("l_returnflag") > 0.5, s"collapsed flags must drift hard: $rep2")
    // degenerate reference: an all-constant continuous column must
    // fail loudly, never read as zero drift (review finding)
    val constDir = base.resolve("dconst").toString
    li.select(col("l_returnflag"),
        org.apache.spark.sql.functions.lit(1.0).as("l_quantity"))
      .write.parquet(constDir)
    val badConf = write(base.resolve("dbad.conf"),
      s"""source { storage-type = local, dataset-dir = $sameDir }
         |reference { storage-type = local, dataset-dir = $constDir }
         |diff { continuous-columns = [l_quantity], max-drift = 0.1 }
         |""".stripMargin)
    val degen = intercept[IllegalArgumentException] {
      graft.cli.Differ.main(Array("--conf", badConf))
    }
    assert(degen.getMessage.contains("distinct"), degen.getMessage)
    // sketch form agrees on the continuous column within tolerance
    graft.cli.Differ.main(Array("--conf",
      conf("sk", sameDir, "  sketch = true")))
    val rep3 = spark.read.parquet(base.resolve("rep_sk").toString)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rep3("l_quantity") <= 0.05, s"sketch drift on identical data: $rep3")
  }

  test("differ edges-dir: run 1 persists bin edges, run 2 reuses them so " +
      "nightly TVDs compare even as the reference range drifts; a shifted " +
      "copy still breaches under pinned edges") {
    import org.apache.spark.sql.functions.col
    val base = tmp()
    val refDir = base.resolve("eref").toString
    val ref2Dir = base.resolve("eref2").toString
    val shiftDir = base.resolve("eshift").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_quantity")
    li.write.parquet(refDir)
    // a DIFFERENT reference snapshot with a wider range — without
    // pinned edges this run would re-bin everything
    li.select((col("l_quantity") * 10).as("l_quantity")).write.parquet(ref2Dir)
    li.select((col("l_quantity") * 2).as("l_quantity")).write.parquet(shiftDir)
    val edges = base.resolve("edges").toString
    def conf(name: String, srcDir: String, refD: String, extra: String = "") =
      write(base.resolve(s"e$name.conf"),
        s"""source { storage-type = local, dataset-dir = $srcDir }
           |reference { storage-type = local, dataset-dir = $refD }
           |diff {
           |  continuous-columns = [l_quantity]
           |  report-dir = ${base.resolve(s"erep_$name")}
           |  edges-dir = $edges
           |  max-drift = 0.1
           |$extra
           |}
           |""".stripMargin)
    // run 1: derives and persists the reference edges; identical data
    // shows zero drift
    graft.cli.Differ.main(Array("--conf", conf("r1", refDir, refDir)))
    val stored = spark.read.parquet(s"$edges/edges").collect()
    assert(stored.length == 1 && stored.head.getString(0) == "l_quantity")
    val run1Edges = stored.head.getSeq[Double](1)
    assert(run1Edges.length >= 2)
    val rep1 = spark.read.parquet(base.resolve("erep_r1").toString).head()
    assert(rep1.getString(1) == "tvd_continuous" && rep1.getDouble(2) == 0.0)
    // run 2: reuses run-1 edges (metric says so, file unchanged) even
    // though THIS run's reference has a 10x range — without the pin the
    // shifted source below would be rebinned into looking closer
    val err = intercept[IllegalStateException] {
      graft.cli.Differ.main(Array("--conf", conf("r2", shiftDir, ref2Dir)))
    }
    assert(err.getMessage.contains("l_quantity"), err.getMessage)
    val rep2 = spark.read.parquet(base.resolve("erep_r2").toString).head()
    assert(rep2.getString(1) == "tvd_fixed_edges", rep2.toString)
    assert(rep2.getDouble(2) > 0.1, s"shifted copy must breach under pinned edges: $rep2")
    val stored2 = spark.read.parquet(s"$edges/edges").head().getSeq[Double](1)
    assert(stored2 == run1Edges, "run 2 must not rewrite the pinned edges")
    // a changed column set does not compare longitudinally — rejected
    val badCols = write(base.resolve("ebad.conf"),
      s"""source { storage-type = local, dataset-dir = $refDir }
         |reference { storage-type = local, dataset-dir = $refDir }
         |diff {
         |  continuous-columns = [l_quantity, l_missing]
         |  edges-dir = $edges
         |}
         |""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      graft.cli.Differ.main(Array("--conf", badCols))
    }
    assert(e1.getMessage.contains("l_missing"), e1.getMessage)
    // edges-dir + sketch is contradictory config — rejected
    val e2 = intercept[IllegalArgumentException] {
      graft.cli.Differ.main(Array("--conf",
        conf("sk", refDir, refDir, "  sketch = true")))
    }
    assert(e2.getMessage.contains("sketch"), e2.getMessage)
  }

  test("curator stage log: the artifact covers every enabled stage in run " +
      "order with seconds and observed row counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp()
    val src = base.resolve("slsrc").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 60)
      .withColumn("url", concat(lit("https://ok.example.org/"), col("doc_id")))
      .write.parquet(src)
    val bl = base.resolve("sl_block.txt")
    write(bl, "blocked.example.net\n")
    val logPath = base.resolve("stage_log.json").toString
    val f = write(base.resolve("curator_sl.conf"),
      s"""source { storage-type = local, dataset-dir = $src }
         |target { storage-type = local, dataset-dir = ${base.resolve("slout")}, dataset-store-format = parquet, write-mode = overwrite }
         |curation {
         |  min-quality = 0.0
         |  domain-column = url
         |  blocklist-path = "$bl"
         |  redact = true
         |  boilerplate-min-doc-freq = 50
         |  span-dedup-tokens = 20
         |  quality-quantile = 0.9
         |  splits = ["train:0.9", "val:0.1"]
         |  chunk-size = 64
         |  shuffle-salt = e1
         |  state-out-dir = ${base.resolve("slstate")}
         |  report-dir = ${base.resolve("slrep")}
         |  cardinality-group-columns = [source]
         |  stage-log-path = "$logPath"
         |}
         |""".stripMargin)
    graft.cli.Curator.main(Array("--conf", f))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(logPath)), "UTF-8")
    val enabled = Seq("domain-gate", "redact", "boilerplate", "span-dedup",
      "curate", "quality-quantile", "splits", "chunking", "shuffle",
      "target-write", "corpus-report", "cardinality", "state-write")
    enabled.foreach { st =>
      assert(json.contains(s""""$st":{"sec":"""), s"stage '$st' missing from: $json")
    }
    // disabled stages are absent; counted stages carry their rows
    Seq("decontaminate", "mixture", "dsir", "encode-ids", "incremental-text-tiers")
      .foreach { st => assert(!json.contains(s""""$st""""), s"'$st' should be absent") }
    assert(json.contains(""""curate":{"sec":""") && json.contains(""""rows":"""))
    // run order is preserved: the gate precedes the write
    assert(json.indexOf("domain-gate") < json.indexOf("target-write"))
  }

  test("stage log: seconds are written with a '.' under a comma-decimal " +
      "default locale, so the artifact stays valid JSON") {
    val path = tmp().resolve("stages.json").toString
    val log = new Cli.StageLog
    log.timed("curate")(Thread.sleep(5))
    log.rows("curate", 3L)
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try log.writeJson(spark, path)
    finally java.util.Locale.setDefault(saved)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("curate")
    assert(node.get("sec").isNumber && node.get("sec").asDouble() > 0.0, node.toString)
    assert(node.get("rows").asLong() == 3L, node.toString)
  }

  /** `stage -> rows` for every entry of a stage-log artifact, `None`
    * for an entry without a row count. */
  private def stageRows(path: String): Seq[(String, Option[Long])] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    """"([a-z-]+)":\{"sec":[0-9.]+(?:,"rows":([0-9]+))?\}""".r
      .findAllMatchIn(json).map(m => m.group(1) -> Option(m.group(2)).map(_.toLong))
      .toSeq
  }

  /** Run the Curator on `conf`, returning what it printed. */
  private def curatorOut(conf: String): String = {
    val buf = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.cli.Curator.main(Array("--conf", conf))
    } finally print(buf.toString("UTF-8"))
    buf.toString("UTF-8")
  }

  test("curator funnel: every counted stage's rows and logged figures equal " +
      "an independent count of that stage's output") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.llm.{Curation, Dedup, DomainFilter, Similarity, TextAnalysis}
    // Five runs: the gates, the line and span cuts, the selection
    // stages, then a seed batch and a second batch against its state for
    // the incremental tiers. (One run with every stage on builds a
    // logical plan the analyzer cannot hold in a test heap.)
    val base = tmp()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val boiler = "Subscribe to the weekly newsletter today"
    val span = texts(32L).split(" ").take(25).mkString(" ")
    // docs 0..59, each text-rewriting stage with something planted to drop
    val in1 = base.resolve("fin1").toString
    (0L until 60L).map { i =>
      val url =
        if (i < 4) s"https://blocked.example.net/$i" // domain gate
        else if (i >= 56) s"https://ok.example.org/${i - 4}" // url-dedup: copies of 52..55
        else s"https://ok.example.org/$i"
      val text = i match {
        case 26L => boiler // nothing left once the boilerplate line goes
        case 30L => texts(30L) + "\n" + texts(29L) // one duplicate line cut
        case 31L => texts(29L) // every line a duplicate
        case 33L => texts(33L) + " " + span // one duplicate span cut
        case 34L => span // every token in a duplicate span
        case _ if i >= 4 && i < 26 => texts(i) + "\n" + boiler
        case _ => texts(i)
      }
      (i, text, url)
    }.toDF("doc_id", "text", "url").join(docs.select("doc_id", "source"), "doc_id")
      .write.parquet(in1)
    def run(name: String, in: String, stages: String): (String, String, Seq[(String, Long)]) = {
      val out = base.resolve(s"fout_$name").toString
      val log = base.resolve(s"fstages_$name.json").toString
      val printed = curatorOut(write(base.resolve(s"funnel_$name.conf"),
        s"""source { storage-type = local, dataset-dir = "$in" }
           |target { storage-type = local, dataset-dir = "$out", dataset-store-format = parquet, write-mode = overwrite }
           |curation {
           |  min-quality = 0.0
           |  stage-log-path = "$log"
           |$stages
           |}
           |""".stripMargin))
      (out, printed, stageRows(log).collect { case (k, Some(r)) => k -> r })
    }
    def expectLines(printed: String, lines: String*): Unit =
      lines.foreach(l => assert(printed.contains(l), s"missing '$l' in:\n$printed"))
    val cc = Curation.Config(minQuality = 0.0)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def step(df: DataFrame) = { cached += df.cache(); df }

    // run 1: the gates
    val bl = write(base.resolve("fblock.txt"), "blocked.example.net\n")
    val (_, printed1, rows1) = run("gates", in1,
      s"""  domain-column = url
         |  blocklist-path = "$bl"
         |  dedup-urls = true
         |  url-column = url
         |  boilerplate-min-doc-freq = 10""".stripMargin)
    val src1 = spark.read.parquet(in1)
    val gated = step(DomainFilter.filterByDomains(src1, "doc_id", "url",
      DomainFilter.loadDomainList(spark, bl)))
    val firstSeen = gated.groupBy(DomainFilter.normalizeUrl(col("url")))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val urlKept = step(gated.join(firstSeen, "doc_id"))
    val unBoiled = step(TextAnalysis.stripBoilerplateAgainst(urlKept,
      TextAnalysis.combineLineFreqs(Seq(TextAnalysis.lineDocFreqs(urlKept, "doc_id", "text"))),
      "doc_id", "text", minDocFreq = 10).filter(col("n_kept") > 0).drop("n_kept"))
    val n1 = Map("src" -> src1.count(), "domain-gate" -> gated.count(),
      "url-dedup" -> urlKept.count(), "boilerplate" -> unBoiled.count(),
      "curate" -> step(Curation.curate(unBoiled, "doc_id", "text", cc)).count())
    // every planted drop happened, so each stage is exercised
    assert(n1("src") == 60 && n1("domain-gate") == 56 && n1("url-dedup") == 52 &&
      n1("boilerplate") == 51, s"planted drops: $n1")
    assert(rows1 == Seq("domain-gate", "url-dedup", "boilerplate", "curate").map(k => k -> n1(k)))
    expectLines(printed1,
      s"domain gate: ${n1("domain-gate")} of ${n1("src")} docs admitted",
      s"url-dedup: ${n1("url-dedup")} of ${n1("domain-gate")} docs hold a first-seen URL",
      s"boilerplate: ${n1("boilerplate")} of ${n1("url-dedup")} docs keep at least one line",
      s"curated corpus size: ${n1("curate")}")
    cached.foreach(_.unpersist())

    // run 2: the line and span cuts
    val (_, printed2, rows2) = run("cuts", in1,
      s"""  dedup-lines = true
         |  span-dedup-tokens = 20""".stripMargin)
    val lineCut = step(Dedup.dedupLinesAgainst(src1, "doc_id", "text", None, minLineLen = 15))
    val spanCut = step(Dedup.removeDuplicateSpans(
      lineCut.filter(col("n_lines_removed") === 0 || length(col("text")) > 0)
        .drop("n_lines_removed"), "doc_id", "text", n = 20))
    val curatedCuts = step(Curation.curate(
      spanCut.filter(col("n_removed") === 0 || length(col("text")) > 0).drop("n_removed"),
      "doc_id", "text", cc)).count()
    def sums(df: DataFrame, c: String): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), sum((col(c) > 0).cast("long")), sum(col(c).cast("long")))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (lineDocs, lineTouched, lines) = sums(lineCut, "n_lines_removed")
    val (spanDocs, spanTouched, toks) = sums(spanCut, "n_removed")
    assert(lineTouched >= 2 && spanTouched >= 2, s"planted cuts: $lineTouched, $spanTouched")
    assert(rows2 == Seq("curate" -> curatedCuts))
    expectLines(printed2,
      s"line-dedup: $lines duplicate lines cut from $lineTouched of $lineDocs docs",
      s"span-dedup: $toks duplicate tokens cut from $spanTouched of $spanDocs docs",
      s"curated corpus size: $curatedCuts")
    cached.foreach(_.unpersist())

    // run 3: the selection stages, with the export shuffle behind them
    // (its range partitioner samples its input in a job of its own)
    val benchDir = base.resolve("fbench").toString
    docs.filter(col("doc_id").between(40L, 48L)).select("doc_id", "text")
      .write.parquet(benchDir)
    val lmPath = base.resolve("fppl.lm").toString
    graft.llm.LangModel.save(graft.llm.LangModel.trainUnigram(
      docs.filter(col("doc_id") < 200), "text", minCount = 2), lmPath)
    val (out3, printed3, rows3) = run("select", in1,
      s"""  quality-quantile = 0.6
         |  benchmark-dir = "$benchDir"
         |  lm-path = "$lmPath"
         |  ppl-bucket-keep = [head, middle]
         |  shuffle-salt = funnel""".stripMargin)
    val curated3 = step(Curation.curate(src1, "doc_id", "text", cc))
    val quantiled = step(Curation.keepTopQuantile(curated3, "lang_id", "quality", 0.6))
    val n3 = Map("curate" -> curated3.count(), "quality-quantile" -> quantiled.count(),
      "decontaminate" -> TextAnalysis.decontaminate(quantiled,
        spark.read.parquet(benchDir), "doc_id", "text", "text").count(),
      "ppl-buckets" -> spark.read.parquet(out3).count())
    assert(n3("decontaminate") < n3("quality-quantile") &&
      n3("ppl-buckets") < n3("decontaminate"), s"planted drops: $n3")
    assert(rows3 == Seq("curate", "quality-quantile", "decontaminate", "ppl-buckets")
      .map(k => k -> n3(k)))
    expectLines(printed3,
      s"curated corpus size: ${n3("curate")}",
      s"quality-quantile: ${n3("quality-quantile")} of ${n3("curate")} survive",
      s"decontamination: ${n3("decontaminate")} of ${n3("quality-quantile")} survive",
      s"ppl buckets: ${n3("ppl-buckets")} docs kept")
    cached.foreach(_.unpersist())

    // run 4: a seed batch with embeddings (vector tiers on their first
    // run — no corpus state yet, only the in-batch tier can drop: 21
    // carries 20's embedding, scaled)
    def withVecs(rows: Seq[(Long, String, Long)], scaled: Set[Long] = Set.empty): DataFrame =
      rows.toDF("doc_id", "text", "vec_id").join(vecs, "vec_id").drop("vec_id")
        .withColumn("embedding", when(col("doc_id").isin(scaled.toSeq: _*),
          transform(col("embedding"), x => (x * lit(1.001f)).cast("float")))
          .otherwise(col("embedding")))
    val seedIn = base.resolve("fseed").toString
    withVecs((100L until 130L).map(i => (i, texts(i), if (i == 121) 120L else i)),
      scaled = Set(121L)).write.parquet(seedIn)
    val state = base.resolve("fstate").toString
    val vecStages = "  embedding-column = embedding"
    val (outSeed, printed4, rows4) = run("seed", seedIn,
      vecStages + s"""\n  state-out-dir = "$state"""")
    val seed = spark.read.parquet(seedIn)
    def vectorTiers(in: DataFrame, corpus: DataFrame, hot: Option[DataFrame],
        inBatch: Boolean) =
      step(Similarity.dropSeenVectors(in, corpus, 0.99, "doc_id", "embedding", 4,
        cc.simHashMaxBucket, hot, 4233L, inBatchNear = inBatch))
    val noVecState = Similarity.srpSignatures(seed.limit(0), "doc_id", "embedding", 4233L)
    val n4 = Map("src" -> seed.count(),
      "vector-fresh" -> vectorTiers(seed, noVecState, None, inBatch = false).count(),
      "vector-tiers" -> vectorTiers(seed, noVecState, None, inBatch = true).count(),
      "curate" -> spark.read.parquet(outSeed).count())
    assert(n4("vector-fresh") == 30 && n4("vector-tiers") == 29, s"planted drops: $n4")
    assert(rows4 == Seq("vector-tiers", "curate").map(k => k -> n4(k)))
    expectLines(printed4,
      s"vector tiers: batch=${n4("src")} rows, corpus tier dropped 0 ",
      s"in-batch tier dropped 1 (cosine-verified), ${n4("vector-tiers")} rows continue",
      s"curated corpus size: ${n4("curate")}")

    // run 5 against the seed's state: exact copies and case-changed
    // copies of curated docs (text tiers), fresh texts carrying curated
    // docs' embeddings (vector corpus tier), an in-batch vector pair
    val kept = spark.read.parquet(outSeed).select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    val batch2 = withVecs((
      kept.take(3).zipWithIndex.map { case ((i, t), k) => (i + 1000, t, 300L + k) } ++
      kept.slice(3, 6).zipWithIndex.map { case ((i, t), k) => (i + 2000, t.toUpperCase, 303L + k) } ++
      kept.slice(6, 9).map { case (i, _) => (i + 3000, texts(i + 300), i) } ++
      (309L until 320L).map(i => (i, texts(i), i)) :+ ((4319L, texts(199L), 319L))).toSeq,
      scaled = Set(4319L))
    val in5 = base.resolve("fin5").toString
    batch2.write.parquet(in5)
    val (out5, printed5, rows5) = run("incremental", in5,
      vecStages + s"""\n  state-dir = "$state"""")
    val src5 = spark.read.parquet(in5)
    val hashes = Cli.readStateTable(spark, state, "hashes")
    val textKept = step(Dedup.dropSeen(src5, "text", "doc_id", hashes,
      Cli.readStateTable(spark, state, "sigs"), maxHamming = cc.simHashMaxHamming,
      bands = cc.simHashBands, gramSize = cc.shingleSize, maxBucketSize = cc.simHashMaxBucket,
      corpusHotBuckets = Some(spark.read.parquet(s"$state/hot")), inBatchNear = false))
    val vecState = Cli.readStateTable(spark, state, "vecsigs")
    val vecHot = Some(spark.read.parquet(s"$state/vechot"))
    val n5 = Map("src" -> src5.count(),
      "exact" -> Dedup.dropSeenExact(src5, "text", "doc_id", hashes).count(),
      "incremental-text-tiers" -> textKept.count(),
      "vector-fresh" -> vectorTiers(textKept, vecState, vecHot, inBatch = false).count(),
      "vector-tiers" -> vectorTiers(textKept, vecState, vecHot, inBatch = true).count(),
      "curate" -> spark.read.parquet(out5).count())
    cached.foreach(_.unpersist())
    assert(n5("src") == 21 && n5("exact") == 18 && n5("incremental-text-tiers") == 15 &&
      n5("vector-fresh") == 12 && n5("vector-tiers") == 11, s"planted drops: $n5")
    assert(rows5 == Seq("incremental-text-tiers", "vector-tiers", "curate").map(k => k -> n5(k)))
    val t = n5("incremental-text-tiers")
    expectLines(printed5,
      s"incremental tiers: batch=${n5("src")} rows, exact tier dropped " +
        s"${n5("src") - n5("exact")} (seen in corpus or in-batch exact dup), " +
        s"corpus-near tier dropped ${n5("exact") - t} (signature-only, unverified), " +
        s"$t rows continue to curation",
      s"vector tiers: batch=$t rows, corpus tier dropped ${t - n5("vector-fresh")} ",
      s"in-batch tier dropped ${n5("vector-fresh") - n5("vector-tiers")} (cosine-verified), " +
        s"${n5("vector-tiers")} rows continue to curation",
      s"curated corpus size: ${n5("curate")}")
    // counting leaves the session serializable: MLlib training
    // summaries capture it in task closures
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)
  }
}

/** Child-JVM probe for CliSpec: builds a CLI session from each HOCON
  * file in turn, prints its shuffle width, and stops it. */
object ShuffleWidthMain {
  def main(args: Array[String]): Unit = args.foreach { f =>
    val s = Cli.session(Cli.parseConf(Array("--conf", f)), "shuffle-width")
    println(s"width ${s.conf.get(GraftSession.ShufflePartitions)}")
    s.stop()
  }
}

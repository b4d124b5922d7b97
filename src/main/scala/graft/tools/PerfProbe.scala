package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The historical perf probes (rounds 5-9), one per investigation,
  * consolidated behind a single main: `runMain graft.tools.PerfProbe <n>`
  * runs probe n (1-9). Each probe keeps its original doc comment —
  * DESIGN.md cites them as "PerfProbeN" with measured numbers; the
  * bodies are unchanged so those measurements stay reproducible.
  * Manual tools, never part of the gate. */
object PerfProbe {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("1") => probe1(args.drop(1))
    case Some("2") => probe2(args.drop(1))
    case Some("3") => probe3(args.drop(1))
    case Some("4") => probe4(args.drop(1))
    case Some("5") => probe5(args.drop(1))
    case Some("6") => probe6(args.drop(1))
    case Some("7") => probe7(args.drop(1))
    case Some("8") => probe8(args.drop(1))
    case Some("9") => probe9(args.drop(1))
    case Some("10") => probe10(args.drop(1))
    case Some("11") => probe11(args.drop(1))
    case Some("12") => probe12(args.drop(1))
    case Some("13") => probe13(args.drop(1))
    case Some("14") => probe14(args.drop(1))
    case Some("15") => probe15(args.drop(1))
    case Some("16") => probe16(args.drop(1))
    case Some("17") => probe17(args.drop(1))
    case Some("18") => probe18(args.drop(1))
    case Some("19") => probe19(args.drop(1))
    case Some("20") => probe20(args.drop(1))
    case Some("21") => probe21(args.drop(1))
    case other => sys.error(
      s"usage: runMain graft.tools.PerfProbe <1-21> [probe args]; got $other")
  }

  /** Throwaway-style perf probe for round-5 tuning experiments (kept in
    * tools/ like ScaleProbe; run manually, never part of the gate).
    *
    * Round-5 questions:
    *  1. does q36 cost ~0.3 s when run in ISOLATION at sf0.1 (verdict:
    *     3.61 s inside the 59-query bench with unchanged code)?
    *  2. where do q39's 8 s go — persist materialization, LSH fit,
    *     candidate join, or the summary collect?
    *  3. what does q38 cost broken into fit/join/verify stages?
    */
  private def probe1(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[perf] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: same shapes Bench warms
    Seq("q1_pricing_summary", "q6_join_agg", "q15_knn_brute").foreach { q =>
      noop(graft.SparkEntry.queries(q)(spark, sfDir))
    }

    // ---- 1. q36 in isolation (3 passes, like the bench)
    (1 to 3).foreach { i =>
      time(s"q36 isolated pass $i") {
        noop(graft.SparkEntry.queries("q36_supplier_region")(spark, sfDir))
      }
    }

    // ---- 2. q39 stage breakdown
    time("q39 whole") { noop(graft.SparkEntry.queries("q39_vector_near_dup")(spark, sfDir)) }
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 1000)
    val noisy = emb.filter(col("vec_id") < 500)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => (x * (lit(1.0) + lit(0.1) * sin(col("vec_id") * 7919 + i * 104729))).cast("float")))
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val all = emb.unionByName(noisy)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("q39 persist materialize") { all.count(); () }
    time("q39 lshNearDupPairs count") {
      val n = graft.llm.Similarity.lshNearDupPairs(all,
        maxCosineDistance = 0.05, bucketLength = 0.02).count()
      println(s"[perf]   pairs: $n")
    }
    time("q39 lshNearDupPairs again (model refit)") {
      graft.llm.Similarity.lshNearDupPairs(all,
        maxCosineDistance = 0.05, bucketLength = 0.02).count(); ()
    }
    all.unpersist()

    // ---- 3. q38 stage breakdown
    time("q38 whole") { noop(graft.SparkEntry.queries("q38_transitive_dedup")(spark, sfDir)) }
    import graft.llm.Dedup
    val planted = graft.SparkEntry.q38Planted(
      spark.read.parquet(s"$sfDir/documents.parquet"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("q38 planted materialize") { println(s"[perf]   planted: ${planted.count()}") }
    time("q38 minhash candidates (5 tables)") {
      val n = Dedup.minHashNearDups(planted, "doc_id", "text",
        maxJaccardDistance = 0.2).count()
      println(s"[perf]   candidates: $n")
    }
    time("q38 minhash candidates (3 tables)") {
      val n = Dedup.minHashNearDups(planted, "doc_id", "text",
        maxJaccardDistance = 0.2, numHashTables = 3).count()
      println(s"[perf]   candidates: $n")
    }
    time("q38 candidates + verify (3 tables)") {
      val n = Dedup.verifyPairs(
        Dedup.minHashNearDups(planted, "doc_id", "text",
          maxJaccardDistance = 0.2, numHashTables = 3),
        planted, "doc_id", "text", 0.8).count()
      println(s"[perf]   verified: $n")
    }
    planted.unpersist()

    // ---- q36 again at the END of a session that ran LSH persists —
    // does neighbourhood pressure reproduce the bench regression?
    (1 to 3).foreach { i =>
      time(s"q36 after-LSH pass $i") {
        noop(graft.SparkEntry.queries("q36_supplier_region")(spark, sfDir))
      }
    }
    spark.stop()
  }

  /** Round-5 probe #2: q38 tail cost (CC + survivor counts) and q39 trim
    * variants. Manual tool, never part of the gate. */
  private def probe2(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[perf] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // warmup
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    import graft.llm.Dedup
    val planted = graft.SparkEntry.q38Planted(
      spark.read.parquet(s"$sfDir/documents.parquet"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    planted.count()
    val verified = Dedup.verifyPairs(
      Dedup.minHashNearDups(planted, "doc_id", "text", maxJaccardDistance = 0.2,
        numHashTables = 3),
      planted, "doc_id", "text", 0.8)
      .select("id1", "id2").persist(StorageLevel.MEMORY_AND_DISK)
    time("q38 verified materialize (3 tables)") { println(s"[perf]   pairs: ${verified.count()}") }
    time("q38 connectedComponents") {
      Dedup.connectedComponents(verified).count(); ()
    }
    time("q38 countSurvivors x2") {
      def countSurvivors(dropIds: org.apache.spark.sql.DataFrame): Unit = {
        planted.join(dropIds, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)),
            count(when(col("doc_id") >= 10000 && col("doc_id") < 20000, 1)),
            count(when(col("doc_id") >= 20000, 1))).head()
        ()
      }
      countSurvivors(verified.select(col("id2").as("doc_id")).distinct())
      countSurvivors(Dedup.connectedComponents(verified)
        .filter(col("id") =!= col("label")).select(col("id").as("doc_id")))
    }
    verified.unpersist(); planted.unpersist()

    // smaller base slice: doc_id < 48
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = size(Dedup.tokens(col("text")))
    val base = docs.filter(col("doc_id") < 48 && n.between(40, 300))
    val k = floor((n - lit(2)) / lit(6)).cast("int")
    def extras(to: org.apache.spark.sql.Column) = concat_ws(" ",
      transform(sequence(lit(1), to), i => concat(lit("zzq"), col("doc_id"), lit("x"), i)))
    val prepped = base
      .withColumn("__textB", concat_ws(" ", col("text"), extras(k)))
      .withColumn("__textC", concat_ws(" ", col("text"), extras(k * 2)))
    val planted2 = base
      .unionByName(prepped.select((col("doc_id") + 10000).as("doc_id"), col("__textC").as("text")))
      .unionByName(prepped.select((col("doc_id") + 20000).as("doc_id"), col("__textB").as("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    time("q38-small planted materialize") { println(s"[perf]   planted: ${planted2.count()}") }
    time("q38-small full pipeline (3 tables)") {
      val v2 = Dedup.verifyPairs(
        Dedup.minHashNearDups(planted2, "doc_id", "text", maxJaccardDistance = 0.2,
          numHashTables = 3),
        planted2, "doc_id", "text", 0.8)
        .select("id1", "id2").persist(StorageLevel.MEMORY_AND_DISK)
      v2.count()
      Dedup.connectedComponents(v2).count()
      v2.unpersist()
    }
    planted2.unpersist()

    // ---- q39 variants
    def q39Variant(label: String, corpusCap: Int, plantCap: Int): Unit = {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).filter(col("vec_id") < corpusCap)
      val noisy = emb.filter(col("vec_id") < plantCap)
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.1) * sin(col("vec_id") * 7919 + i * 104729))).cast("float")))
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val all = emb.unionByName(noisy).persist(StorageLevel.MEMORY_AND_DISK)
      all.count()
      time(s"q39 $label lshNearDupPairs") {
        val pairs = graft.llm.Similarity.lshNearDupPairs(all,
          maxCosineDistance = 0.05, bucketLength = 0.02)
        val planted = pairs.filter(col("id2") - col("id1") === 100000).count()
        println(s"[perf]   planted found: $planted / $plantCap")
      }
      all.unpersist()
    }
    q39Variant("1000/500 (current)", 1000, 500)
    q39Variant("500/500 (no extra naturals)", 500, 500)
    q39Variant("600/300", 600, 300)
    spark.stop()
  }

  /** Round-5 probe #3: where do q38's remaining seconds go with the new
    * tagged-union CC and the trimmed corpus? Manual tool, not in the gate. */
  private def probe3(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[perf] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warmup

    import graft.llm.Dedup
    (1 to 2).foreach { pass =>
      val planted = graft.SparkEntry.q38Planted(
        spark.read.parquet(s"$sfDir/documents.parquet"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      time(s"[$pass] planted materialize") { planted.count(); () }
      var cands: org.apache.spark.sql.DataFrame = null
      time(s"[$pass] minhash fit+join (3 tables)") {
        cands = Dedup.minHashNearDups(planted, "doc_id", "text",
          maxJaccardDistance = 0.2, numHashTables = 3)
        cands.count(); ()
      }
      val verified = Dedup.verifyPairs(cands, planted, "doc_id", "text", 0.8)
        .select("id1", "id2").persist(StorageLevel.MEMORY_AND_DISK)
      time(s"[$pass] verify materialize") { verified.count(); () }
      var cc: org.apache.spark.sql.DataFrame = null
      time(s"[$pass] connectedComponents (new)") {
        cc = Dedup.connectedComponents(verified)
        cc.count(); ()
      }
      time(s"[$pass] survivors x2") {
        def countSurvivors(dropIds: org.apache.spark.sql.DataFrame): Unit = {
          planted.join(dropIds, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)),
              count(when(col("doc_id") >= 10000 && col("doc_id") < 20000, 1)),
              count(when(col("doc_id") >= 20000, 1))).head()
          ()
        }
        countSurvivors(verified.select(col("id2").as("doc_id")).distinct())
        countSurvivors(cc.filter(col("id") =!= col("label")).select(col("id").as("doc_id")))
      }
      verified.unpersist(); planted.unpersist()
    }
    spark.stop()
  }

  /** Round-6 probe: where does a single q62/q73 pass spend its ~3 s at
    * sf0.1, given that the marker-gated state cache (r5 verdict #3)
    * removed the state-construction cost but the wall time barely moved?
    * Decomposes each query into its dataflow stages and times them
    * individually (warm JVM, warm state). */
  private def probe4(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[perf] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup
    Seq("q1_pricing_summary", "q6_join_agg", "q15_knn_brute").foreach { q =>
      noop(graft.SparkEntry.queries(q)(spark, sfDir))
    }
    // warm the state markers
    noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir))
    noop(graft.SparkEntry.queries("q73_semdedup")(spark, sfDir))

    // ---- q62 whole, then stages
    (1 to 2).foreach { i =>
      time(s"q62 whole pass $i") {
        noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir))
      }
    }
    import graft.llm.{Dedup, Similarity}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 1000)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val stateDir = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_state"),
      s"${sfDir.replaceAll("[^A-Za-z0-9.-]", "_")}_q62_sigs").toString
    val sigs0 = spark.read.parquet(s"$stateDir/data")
    time("q62/a state read+persist+count") {
      sigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    }
    val hot = Dedup.simHashHotBuckets(sigs0)
    time("q62/b hotBuckets materialize") { noop(hot) }
    val echoes = corpus.filter(col("vec_id") < 100)
      .select((col("vec_id") + 30000).as("vec_id"),
        transform(col("embedding"), x => (x * 0.5f).cast("float")).as("embedding"))
    val batch = emb.filter(col("vec_id") % 2 === 1).unionByName(echoes)
    time("q62/c batch persist+count") {
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    }
    val dropped = Similarity.dropSeenVectors(batch, sigs0, corpusHotBuckets = Some(hot))
    time("q62/d dropSeenVectors materialize") { noop(dropped) }
    time("q62/e final groupBy+summary") {
      noop(dropped.groupBy(when(col("vec_id") >= 30000, "echo")
        .otherwise("fresh").as("cohort")).agg(count(lit(1)).as("n_survivors")))
    }
    sigs0.unpersist(); batch.unpersist()

    // ---- q73 whole, then stages
    (1 to 2).foreach { i =>
      time(s"q73 whole pass $i") {
        noop(graft.SparkEntry.queries("q73_semdedup")(spark, sfDir))
      }
    }
    val emb2 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 100000L)
    val rescaled = emb2.filter(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => (x * 2.0f).cast("float")).as("embedding"))
    val noisy = emb2.filter(col("vec_id") < 30)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val corpus2 = emb2.unionByName(rescaled).unionByName(noisy)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("q73/a corpus persist+count") { corpus2.count(); () }
    val ivfDir = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_state"),
      s"${sfDir.replaceAll("[^A-Za-z0-9.-]", "_")}_q73_ivf").toString
    var model: org.apache.spark.ml.clustering.KMeansModel = null
    var tagged: org.apache.spark.sql.DataFrame = null
    time("q73/b ivfLoad (model+corpus read)") {
      val mt = Similarity.ivfLoad(spark, ivfDir)
      model = mt._1; tagged = mt._2
      tagged.count(); ()
    }
    var surv: org.apache.spark.sql.DataFrame = null
    time("q73/c semDedupWithIndex") {
      surv = Similarity.semDedupWithIndex(corpus2, model, tagged,
        minCosine = 0.99, keepPolicy = "far-from-centroid")
    }
    time("q73/d final groupBy+summary") {
      noop(surv.groupBy(when(col("vec_id") < 30 || col("vec_id") >= 100000L, "triple")
        .otherwise("untouched").as("vec_class"))
        .agg(count(lit(1)).as("n")))
    }
    corpus2.unpersist()
    spark.stop()
  }

  /** Round-6 probe: job/stage accounting for one q62 pass. Counts Spark
    * jobs, stages, tasks and sums task runtimes — if wall time >> summed
    * task time, the cost is DAG scheduling/planning, not execution. */
  private def probe5(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    Seq("q1_pricing_summary", "q6_join_agg", "q15_knn_brute").foreach { q =>
      noop(graft.SparkEntry.queries(q)(spark, sfDir))
    }
    noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir))

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir))
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // listener drain
    println(f"[probe5] q62: wall=$wall%.2f s jobs=$jobs stages=$stages tasks=$tasks taskTime=${taskMs / 1000.0}%.2f s")

    jobs = 0; stages = 0; tasks = 0; taskMs = 0L
    val t1 = System.nanoTime()
    noop(graft.SparkEntry.queries("q73_semdedup")(spark, sfDir))
    val wall2 = (System.nanoTime() - t1) / 1e9
    Thread.sleep(500)
    println(f"[probe5] q73: wall=$wall2%.2f s jobs=$jobs stages=$stages tasks=$tasks taskTime=${taskMs / 1000.0}%.2f s")

    // ---- q62 sub-step job accounting
    def acct(label: String)(body: => Unit): Unit = {
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L
      val s0 = System.nanoTime()
      body
      val w = (System.nanoTime() - s0) / 1e9
      Thread.sleep(300)
      println(f"[probe5] $label: wall=$w%.2f s jobs=$jobs stages=$stages tasks=$tasks taskTime=${taskMs / 1000.0}%.2f s")
    }
    import graft.llm.{Dedup, Similarity}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 1000)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val stateDir = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_state"),
      s"${sfDir.replaceAll("[^A-Za-z0-9.-]", "_")}_q62_sigs").toString
    val sigs = spark.read.parquet(s"$stateDir/data")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    acct("q62/sigs persist")(sigs.count())
    val hot = Dedup.simHashHotBuckets(sigs)
    acct("q62/hot noop")(noop(hot))
    val echoes = corpus.filter(col("vec_id") < 100)
      .select((col("vec_id") + 30000).as("vec_id"),
        transform(col("embedding"), x => (x * 0.5f).cast("float")).as("embedding"))
    val batch = emb.filter(col("vec_id") % 2 === 1).unionByName(echoes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    acct("q62/batch persist")(batch.count())
    val batchSigs = Similarity.srpSignatures(batch)
    acct("q62/batchSigs noop")(noop(batchSigs))
    val seen = Similarity.srpNearDupsAgainst(batchSigs, sigs, 0.99, 4, 10000, Some(hot))
      .select(col("batch_id").as("vec_id")).distinct()
    acct("q62/seen(corpus tier) noop")(noop(seen))
    val fresh = batch.join(seen, Seq("vec_id"), "left_anti")
    acct("q62/fresh anti noop")(noop(fresh))
    val full = Similarity.dropSeenVectors(batch, sigs, corpusHotBuckets = Some(hot))
    acct("q62/full dropSeenVectors noop")(noop(full))
    sigs.unpersist(); batch.unpersist()
    spark.stop()
  }

  /** Round-6 probe: top stages by summed task time for one q62 and one
    * q73 pass — names the actual compute sink that job-count accounting
    * (PerfProbe5) cannot see. */
  private def probe6(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    Seq("q1_pricing_summary", "q6_join_agg", "q15_knn_brute").foreach { q =>
      noop(graft.SparkEntry.queries(q)(spark, sfDir))
    }
    noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir))
    noop(graft.SparkEntry.queries("q73_semdedup")(spark, sfDir))

    val stages = scala.collection.concurrent.TrieMap.empty[Int, (String, Long, Int)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (s <- si.submissionTime; e <- si.completionTime) yield e - s).getOrElse(0L)
        stages(si.stageId) = (si.name.take(120), dur, si.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def top(label: String)(body: => Unit): Unit = {
      stages.clear()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[probe6] ==== $label wall=$wall%.2f s, ${stages.size} stages; top by stage wall-duration:")
      stages.toSeq.sortBy(-_._2._2).take(12).foreach { case (id, (name, dur, nt)) =>
        println(f"[probe6]   stage $id%4d dur=${dur / 1000.0}%6.2f s tasks=$nt%4d  $name")
      }
    }
    top("q62")(noop(graft.SparkEntry.queries("q62_incremental_vector_dedup")(spark, sfDir)))
    top("q73")(noop(graft.SparkEntry.queries("q73_semdedup")(spark, sfDir)))
    spark.stop()
  }

  /** Stage accounting for q38's regression on the regenerated testdata:
    * where do the seconds go — planted-frame build, MinHash fit, LSH
    * candidate join, Jaccard verify, or the survivor cross-tab? */
  private def probe7(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Local.session()
    import graft.llm.Dedup
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe7] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val planted = graft.SparkEntry.q38Planted(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("planted count")(println(s"  rows=${planted.count()}"))
    timed("planted token stats") {
      planted.select(size(Dedup.tokens(col("text"))).as("n"))
        .agg(min("n"), avg("n"), max("n")).show()
    }
    val (featured, model) = timed("fitMinHash") {
      val r = Dedup.fitMinHash(planted, "text", 3, numHashTables = 5)
      r._1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      r
    }
    val cand = timed("approxSimilarityJoin") {
      val c = model.approxSimilarityJoin(featured, featured, 0.2, "jaccard_distance")
        .select(col("datasetA.doc_id").as("id1"), col("datasetB.doc_id").as("id2"),
          col("jaccard_distance"))
        .filter(col("id1") < col("id2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"  candidates=${c.count()}")
      c
    }
    val verified = timed("verifyPairs") {
      val v = Dedup.verifyPairs(cand, planted, "doc_id", "text", minJaccard = 0.8)
        .select("id1", "id2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"  verified=${v.count()}")
      v
    }
    timed("connectedComponents")(
      println(s"  cc=${Dedup.connectedComponents(verified).count()}"))
    s.stop()
  }

  /** Quantify the hot-bucket upkeep change: per-commit cost of deriving
    * the hot tables from the FULL signature union (the old path: band
    * every corpus signature, shuffle, count) vs merging the persisted
    * cumulative bucket counts with one batch's pre-aggregated counts
    * (the new path). Synthetic corpus so the signature count scales
    * beyond what sf0.1 holds: `SPARK_GRAFT_PROBE8_CORPUS` signatures
    * (default 5M) against a `SPARK_GRAFT_PROBE8_BATCH` batch (default
    * 50k), bands = 4 → a counts table capped at 4·2^16 rows. */
  private def probe8(args: Array[String]): Unit = {
    val corpusN = sys.env.getOrElse("SPARK_GRAFT_PROBE8_CORPUS", "5000000").toLong
    val batchN = sys.env.getOrElse("SPARK_GRAFT_PROBE8_BATCH", "50000").toLong
    val s = Local.session()
    import graft.llm.Dedup
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe8] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    val base = java.nio.file.Files.createTempDirectory("probe8").toString
    // synthetic signatures: xxhash64 of the id is as uniform as SimHash
    // bits over real text for banding purposes
    def sigs(n: Long, seed: Int) = s.range(n)
      .select(col("id"), xxhash64(col("id"), lit(seed)).as("sig"))
    timed(s"write corpus sigs ($corpusN)") {
      sigs(corpusN, 1).write.mode("overwrite").parquet(s"$base/sigs")
    }
    val corpus = s.read.parquet(s"$base/sigs")
    timed("write cumulative counts (once)") {
      Dedup.bucketCounts(corpus, 4).write.mode("overwrite").parquet(s"$base/counts")
    }
    val prior = s.read.parquet(s"$base/counts")
    val batch = sigs(batchN, 2)
    // old path: re-band the full union every commit
    val oldHot = timed("OLD: hot from full sig union") {
      val h = Dedup.simHashHotBuckets(corpus.unionByName(batch), 4, 100)
      println(s"  hot keys=${h.count()}"); h
    }
    // new path: batch counts + bounded-table merge
    val newHot = timed("NEW: hot from counts merge") {
      val h = Dedup.hotFromCounts(Dedup.mergeBucketCounts(
        prior.unionByName(Dedup.bucketCounts(batch, 4))), 100)
      println(s"  hot keys=${h.count()}"); h
    }
    val diff = oldHot.unionByName(newHot)
      .groupBy("band", "bits").count().filter(col("count") =!= 2).count()
    println(s"[probe8] hot-set symmetric difference = $diff (must be 0)")
    println(s"[probe8] counts table rows = ${prior.count()} (bounded by 4*2^16 = ${4 << 16})")
    s.stop()
  }

  /** Round-9 dev probe: throughput of the byte-fallback encode paths and
    * the packed token-id export on the sf0.1 corpus (numbers cited in
    * DESIGN.md). Usage: runMain graft.tools.PerfProbe9 [sfDir] */
  private def probe9(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Local.session(logLevel = "ERROR")
    import graft.llm.BpeTrainer
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val n = docs.count()
    val dir = java.nio.file.Files.createTempDirectory("probe9").toString
    val (mPath, vPath) = (s"$dir/merges.txt", s"$dir/vocab.txt")
    val t0 = System.nanoTime()
    val merges = BpeTrainer.learnMerges(docs, "text", numMerges = 512)
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, BpeTrainer.buildVocab(docs, "text", merges))
    println(f"train 512 merges + byte-fallback vocab over $n docs: " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    def time(tag: String)(f: => Unit): Unit = {
      f // warm
      val t = System.nanoTime(); f
      println(f"$tag: ${(System.nanoTime() - t) / 1e9}%.2f s over $n docs")
    }
    time("bpeEncode (plain)") {
      docs.select(sum(size(graft.functions.GraftFunctions.bpeEncode(
        col("text"), mPath, vPath)))).head()
    }
    time("bpeEncodeLossless") {
      docs.select(sum(size(graft.functions.GraftFunctions.bpeEncodeLossless(
        col("text"), mPath, vPath)))).head()
    }
    time("lossless round-trip (encode+decode+compare)") {
      docs.select(count(when(graft.functions.GraftFunctions.bpeDecode(
        graft.functions.GraftFunctions.bpeEncodeLossless(col("text"), mPath, vPath),
        vPath) === col("text"), 1))).head()
    }
    val ids = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.bpeEncode(col("text"), mPath, vPath).as("ids"))
      .cache()
    val tok = ids.select(sum(size(col("ids")))).head().getLong(0)
    time(s"packTokenIds seqLen=2048 over $tok ids") {
      graft.llm.CorpusPrep.packTokenIds(ids, "doc_id", "ids",
        seqLen = 2048, eosId = 1, buckets = 64)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }


  /** Round-11 dHash calibration (thresholds in MultimodalSpec and the
    * q129 gate come from this run): PNG-vs-orig max 2, PNG-vs-JPEG max
    * 2 (smooth plates), cross-seed min 4 with 0 pairs <= 3 over 150
    * split-mixed seeds, 64x64-vs-32x32 rescale max 5. */
  private def probe10(args: Array[String]): Unit = {

    import graft.llm.Multimodal._
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val seeds = (0L until 150L)
    val orig = seeds.map(s => s -> smoothImage(s)).toMap
    val pngH = seeds.map(s => s -> dHash64(ImageIoDecoder.decode(encodePng(orig(s)), Map.empty))).toMap
    val jpgH = seeds.map(s => s -> dHash64(ImageIoDecoder.decode(Avi.encodeJpegFrame(orig(s)), Map.empty))).toMap
    val origH = seeds.map(s => s -> dHash64(orig(s))).toMap
    val pngVsOrig = seeds.map(s => ham(pngH(s), origH(s)))
    val pngVsJpg = seeds.map(s => ham(pngH(s), jpgH(s)))
    println(s"png-vs-orig max=${pngVsOrig.max} avg=${pngVsOrig.sum/150.0}")
    println(s"png-vs-jpg  max=${pngVsJpg.max} avg=${pngVsJpg.sum/150.0}")
    // cross-seed collisions at radius 6 over png hashes
    val cross = for (a <- seeds; b <- seeds if a < b) yield ham(pngH(a), pngH(b))
    println(s"cross-seed min=${cross.min} avg=${cross.sum/cross.size.toDouble} n_le6=${cross.count(_ <= 6)} n_le3=${cross.count(_ <= 3)}")
    // resize robustness: 64x64 vs 32x32
    val rs = seeds.take(30).map(s => ham(dHash64(smoothImage(s, 64, 64)), origH(s)))
    println(s"scale-64-vs-32 max=${rs.max}")
    }

  /** Round-11 audio-fingerprint calibration (thresholds in
    * MultimodalSpec and the q130 gate come from this run). */
  private def probe11(args: Array[String]): Unit = {
    import graft.llm.Multimodal._
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val seeds = 0L until 150L
    val orig = seeds.map(s => s -> smoothAudio(s)).toMap
    val h = seeds.map(s => s -> audioHash64(orig(s))).toMap
    // 16-bit WAV render + real decode
    val wavH = seeds.map { s =>
      s -> audioHash64(WavDecoder.decode(encodeWav(orig(s)), Map.empty))
    }.toMap
    // half-volume twin
    val halfH = seeds.map { s =>
      val d = orig(s)
      s -> audioHash64(Decoded(d.width, 1, 1, d.data.map(_ * 0.5f)))
    }.toMap
    val wavD = seeds.map(s => ham(h(s), wavH(s)))
    val halfD = seeds.map(s => ham(wavH(s), halfH(s)))
    println(s"orig-vs-wav  max=${wavD.max} avg=${wavD.sum / 150.0}")
    println(s"wav-vs-half  max=${halfD.max} avg=${halfD.sum / 150.0}")
    val cross = for (a <- seeds; b <- seeds if a < b) yield ham(wavH(a), wavH(b))
    println(s"cross-seed min=${cross.min} avg=${cross.sum / cross.size.toDouble} " +
      s"n_le6=${cross.count(_ <= 6)} n_le3=${cross.count(_ <= 3)}")
  }

  /** Round-11 banded-join scale probe: `Dedup.sigNearDups` over 1M
    * synthetic 64-bit fingerprints (split-mixed ids -> uniform hashes,
    * plus 10k planted twins at Hamming <= 2), timed at local[32] —
    * the media near-dup join shape at corpus scale, decode excluded
    * (hashing is embarrassingly parallel scan work; the join is the
    * part whose scale behavior needs evidence). */
  private def probe12(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    val n = args.headOption.map(_.toInt).getOrElse(1 << 20)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val base = spark.range(n).map(i => (i, mix(i))).toDF("id", "sig")
    // 10k twins: flip 2 low bits of the source's sig under id+n
    val twins = spark.range(10000).map { i =>
      (i + n, mix(i * 97L % n) ^ 3L)
    }.toDF("id", "sig")
    val sigs = base.unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe12] sigs: ${sigs.count()}")
    val t0 = System.nanoTime()
    val pairs = graft.llm.Dedup.sigNearDups(sigs, maxHamming = 3, bands = 4)
    val found = pairs.count()
    println(f"[probe12] pairs=$found in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      s"(expect ~10k planted + uniform-collision noise)")
    sigs.unpersist()
    spark.stop()
  }

  /** Round-12 probe: the OFFSET-CONSISTENT engine (`seqSigNearDups`) at
    * scale — 200k synthetic clips × 5 sub-signatures (1M rows) plus 10k
    * planted twins whose sub-sigs are the source's shifted by 2 window
    * indices with 2 low bits flipped. Measures the candidate-join +
    * delta-group wall time and verifies exactly the planted pairs come
    * back at the planted delta — the q133/q134 shape at 1000× the gate
    * corpus. `args(0)` overrides the clip count. */
  private def probe13(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    val clips = args.headOption.map(_.toInt).getOrElse(200000)
    val k = 5
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // clip c window w -> sub-sig mix(c*16+w): unique content per window
    val base = spark.range(clips.toLong * k)
      .map(i => (i / k, (i % k).toInt, mix((i / k) * 16 + i % k)))
      .toDF("id", "seq_idx", "sig")
    // twin of clip c (every 20th): windows 0..2 = source windows 2..4
    // with 2 bits flipped (the trimmed-arrival shape, delta +2)
    val twins = spark.range(10000)
      .flatMap { i =>
        val src = i * 20 % clips
        (0 until 3).map(w => (clips + i, w, mix(src * 16 + w + 2) ^ 3L))
      }.toDF("id", "seq_idx", "sig")
    val sigs = base.unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe13] sub-sigs: ${sigs.count()}")
    val t0 = System.nanoTime()
    val pairs = graft.llm.Dedup.seqSigNearDups(sigs, minMatches = 2,
      maxHamming = 3, bands = 4)
    val found = pairs.count()
    val planted = pairs.filter(col("id2") >= clips && col("delta") === 2).count()
    println(f"[probe13] pair-deltas=$found (planted-at-delta-2=$planted, " +
      f"expect 10k) in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    sigs.unpersist()
    spark.stop()
  }

  /** Round-12 probe: `proportionSamplesByDigest` vs the plain window
    * form on a dominant-stratum frame (the q132 scale risk) — `args(0)`
    * rows (default 5M) over 4 strata where one holds 85%. Reports both
    * wall times and the survivor-pool size the exact window actually
    * sorts (vs the full corpus for the plain form). */
  private def probe14(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    import graft.operators.Ops
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val df = spark.range(n)
      .select(col("id"),
        when(pmod(col("id"), lit(100)) < 85, "dominant")
          .when(pmod(col("id"), lit(100)) < 92, "mid")
          .when(pmod(col("id"), lit(100)) < 99, "small")
          .otherwise("tail").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe14] rows: ${df.count()}")
    val props = Seq(("dominant", 1000), ("mid", 1000), ("small", 1000), ("tail", 1000))
      .toDF("k", "rows_count")
    val digest = Ops.hashDigestCol(col("id").cast("string"), "p14")
    val t0 = System.nanoTime()
    val slow = Ops.proportionSamples(df, props, Seq("k"), Seq(digest, col("id"))).count()
    val tSlow = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val fast = Ops.proportionSamplesByDigest(df, props, Seq("k"), digest, col("id")).count()
    val tFast = (System.nanoTime() - t1) / 1e9
    // the pool the exact window sorts under the fast form
    val pool = df.withColumn("__d", digest)
      .join(broadcast(props), Seq("k"))
      .filter(col("__d") < lit(Ops.hashThresholdHex(8.0 * 1000 / (n * 0.85))))
      .count()
    println(f"[probe14] window form: $slow rows kept in $tSlow%.2f s " +
      f"(sorts all $n); digest form: $fast rows kept in $tFast%.2f s " +
      s"(window pool ≈ $pool rows)")
    df.unpersist()
    spark.stop()
  }

  /** Probe 15 (round 12): the unigram tokenizer at corpus scale.
    * (a) TRAINING with the distributed E-step forced (`maxWords = 1`):
    * a synthetic corpus whose distinct-pretoken count (~26^4 4-char
    * words plus a Zipf head) far exceeds any honest driver cut — the
    * probe demonstrates the shuffle width stays at the PIECE count
    * (driver collects ≤ seed-size rows per E-step) while the corpus
    * only ever streams. (b) ENCODE throughput of the trained model over
    * the full corpus through the codegen'd `graft_unigram_encode` scan,
    * plus the in-heap/distributed agreement on the same corpus. */
  private def probe15(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    import graft.llm.UnigramTrainer
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    // deterministic pseudo-text: every doc is 8 words drawn from a
    // Zipf-ish mix of a small hot head and a 26^4 cold tail — millions
    // of rows, ~460k distinct pretokens
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val word = udf { (seed: Long) =>
      if (seed % 3 != 0) s"w${seed % 97}" // hot head: 97 spellings
      else {
        val x = seed * 2654435761L
        val sb = new StringBuilder
        var v = if (x < 0) -x else x
        var i = 0
        while (i < 4) { sb.append(letters((v % 26).toInt)); v /= 26; i += 1 }
        sb.toString
      }
    }
    val docs = spark.range(nDocs)
      .select(col("id"), concat_ws(" ",
        (0 until 8).map(k => word(col("id") * 8 + lit(k))): _*).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe15] docs: ${docs.count()}")
    val t0 = System.nanoTime()
    val pieces = UnigramTrainer.train(docs, "text",
      targetPieces = 400, maxPieceLen = 6, maxWords = 1)
    val tTrain = (System.nanoTime() - t0) / 1e9
    println(f"[probe15] distributed train: ${pieces.size} pieces in $tTrain%.2f s")
    val dir = java.nio.file.Files.createTempDirectory("probe15")
    val model = s"$dir/unigram.tsv"
    UnigramTrainer.save(spark, model, pieces)
    val t1 = System.nanoTime()
    val ids = docs.select(
      sum(size(graft.functions.GraftFunctions.unigramEncode(col("text"), model))))
      .head().getLong(0)
    val tEnc = (System.nanoTime() - t1) / 1e9
    println(f"[probe15] encode: $ids ids over $nDocs docs in $tEnc%.2f s " +
      f"(${nDocs / tEnc}%.0f docs/s, ${ids / tEnc}%.0f ids/s)")
    docs.unpersist()
    spark.stop()
  }

  /** Probe 16 (round 12): the DISTRIBUTED WordPiece merge loop at
    * corpus scale — the probe15 corpus (1M docs, ~310k distinct
    * pretokens) with `maxWords = 1` forcing the aggregate-per-round
    * path: each round is one pair-count + one symbol-count aggregate
    * over the cached word table, scores joined against the
    * broadcast-small symbol table, non-interacting-prefix batches
    * applied in one pass. Reports wall time for 200 merges and the
    * trained vocab's greedy-encode throughput. */
  private def probe16(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    import graft.llm.WordPieceTrainer
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val word = udf { (seed: Long) =>
      if (seed % 3 != 0) s"w${seed % 97}"
      else {
        val x = seed * 2654435761L
        val sb = new StringBuilder
        var v = if (x < 0) -x else x
        var i = 0
        while (i < 4) { sb.append(letters((v % 26).toInt)); v /= 26; i += 1 }
        sb.toString
      }
    }
    val docs = spark.range(nDocs)
      .select(col("id"), concat_ws(" ",
        (0 until 8).map(k => word(col("id") * 8 + lit(k))): _*).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe16] docs: ${docs.count()}")
    val t0 = System.nanoTime()
    val vocab = WordPieceTrainer.learnVocab(docs, "text",
      vocabSize = 5 + 2 * 36 + 200, maxWords = 1, batchK = 8)
    val tTrain = (System.nanoTime() - t0) / 1e9
    println(f"[probe16] distributed wordpiece: ${vocab.size}-token vocab " +
      f"in $tTrain%.2f s")
    val dir = java.nio.file.Files.createTempDirectory("probe16")
    val path = s"$dir/vocab.txt"
    WordPieceTrainer.save(spark, path, vocab)
    val t1 = System.nanoTime()
    val ids = docs.select(
      sum(graft.functions.GraftFunctions.wordPieceCount(col("text"), path)))
      .head().getLong(0)
    val tEnc = (System.nanoTime() - t1) / 1e9
    println(f"[probe16] encode: $ids ids over $nDocs docs in $tEnc%.2f s " +
      f"(${nDocs / tEnc}%.0f docs/s)")
    docs.unpersist()
    spark.stop()
  }

  /** Streaming near-dedup-cluster at scale: K micro-batches of M docs
    * through the Streamer CLI (the production daily-arrival shape),
    * each with 10% planted in-batch near twins and, from batch 1 on,
    * 5% echoes of the PRIOR batch's docs. Reports per-batch wall time
    * and asserts the drop counts land exactly on the planted structure.
    * The claim under test: per-batch cost is the batch's own work plus
    * one scan of the bounded state tables (16 B/doc sigs + the
    * hot-count tables) — the same profile as a batch Curator
    * increment — so time per batch grows only with the state-scan
    * term as the corpus accretes, never with a corpus-vs-corpus
    * join. Output quoted in DESIGN.md. */
  private def probe17(args: Array[String]): Unit = {
    val spark = Local.session()
    val m = args.headOption.map(_.toInt).getOrElse(200000)
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val root = java.nio.file.Files.createTempDirectory("probe17")
    val landing = s"$root/landing"
    val conf = s"$root/streamer.conf"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(conf),
      s"""streaming {
         |  events-dir = $landing
         |  target-dir = $root/out
         |  checkpoint-location = $root/ckpt
         |  operation = near-dedup-cluster
         |  cluster-state-dir = $root/state
         |}
         |""".stripMargin)
    // sha2-chunk texts: pairwise far in shingle space by construction,
    // so the planted twins/echoes are the ONLY near structure
    def baseDocs(b: Int) = spark.range(m)
      .select((col("id") + b.toLong * m).as("doc_id"))
      .select(col("doc_id"), concat_ws(" ", (0 until 8).map(i =>
        substring(sha2(col("doc_id").cast("string"), 256), i * 8 + 1, 8)): _*)
        .as("text"))
    for (b <- 0 until k) {
      val base = baseDocs(b)
      val nearTwins = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"),
          upper(col("text")).as("text"))
      val echoes =
        if (b == 0) Nil
        else Seq(baseDocs(b - 1).filter(col("doc_id") % 20 === 3)
          .select((col("doc_id") + 200000000L + b.toLong * m).as("doc_id"),
            upper(col("text")).as("text")))
      (Seq(base, nearTwins) ++ echoes).reduce(_.unionByName(_))
        .write.mode("append").parquet(landing)
      val t0 = System.nanoTime()
      graft.cli.Streamer.main(Array("--conf", conf))
      val sec = (System.nanoTime() - t0) / 1e9
      val survivors = spark.read.parquet(s"$root/out/batch-$b").count()
      println(f"[probe17] batch $b: $sec%.2f s, $survivors survivors " +
        f"(want $m), state after = ${(b + 1).toLong * m} docs")
      require(survivors == m, s"batch $b kept $survivors, want $m")
    }
    spark.stop()
  }

  /** Round-13 session-4 question: does fimTransform hold scan speed at
    * corpus scale (it is one md5 + two hex parses + three substrs per
    * row — the claim is "no measurable stage", ~the cost of the
    * sampling digest alone)? `args(0)` docs (default 5M), ~60-token
    * synthetic texts; reports docs/s for the transform at rate 0.5 vs
    * the bare md5-predicate filter on the same frame (the floor). */
  private def probe18(args: Array[String]): Unit = {
    val spark = Local.session()
    val m = args.headOption.map(_.toLong).getOrElse(5000000L)
    val docs = spark.range(m).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(i =>
        substring(sha2(col("id").cast("string"), 256), i * 8 + 1, 8)): _*)
        .as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe18] corpus ${docs.count()} docs materialized")
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe18] $label: $sec%.2f s, ${m / sec / 1e6}%.2f M docs/s ($n rows)")
    }
    // the floor: the digest predicate alone (one md5 per row)
    time("md5-predicate floor") {
      docs.filter(graft.operators.Ops.hashSamplePredicate(
        col("doc_id"), 0.5, "fim")).count()
    }
    // the transform: count rows AND force the concat (length sum reads
    // every transformed byte — the projection cannot be pruned away)
    time("fimTransform rate 0.5") {
      graft.llm.CorpusPrep.fimTransform(docs, "doc_id", "text", rate = 0.5)
        .agg(sum(length(col("fim_text")))).head().getLong(0)
    }
    docs.unpersist()
    spark.stop()
  }

  /** Round-14 probe (verdict item 1): the dct tier's banding geometry
    * at corpus scale. Round 13 ran radius 7 as 8 unprobed bands →
    * 8-bit bucket keys, only 256 possible buckets per band: with the
    * default 10k hot-bucket cap, any corpus beyond ~2.56M images
    * saturates EVERY bucket, `dropHotBuckets` discards them all, and
    * the tier silently finds nothing. The replacement is 4 bands of 16
    * bits with the Hamming-<=1 multi-probe (pigeonhole still covers
    * radius 7; 65,536-valued bucket keys the guard can discriminate).
    * This probe measures both on `args(0)` (default 5M) uniform
    * synthetic sigs + `args(1)` (default 1000) planted twins at the
    * adversarial 1/2/2/2 bit spread (no band matches exactly — the
    * probe, not luck, must find them):
    *   old geometry → hot buckets 2048/2048, planted recall 0;
    *   new geometry → hot buckets 0, planted recall 100%.
    * The new form's honest cost is also printed: uniform sigs collide
    * on a 16-bit band key at n²/2^16 pairs/band × 17 probe keys — the
    * popcount-verify volume a cluster absorbs but a laptop feels. That
    * growth is intrinsic to 64-bit signatures, not to the probe:
    * beyond ~10^8 images widen the fingerprint (256-bit pHash family),
    * don't narrow the bands. */
  private def probe19(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val twins = args.drop(1).headOption.map(_.toLong).getOrElse(1000L)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // 7 bits spread 1/2/2/2 over the four 16-bit bands: defeats exact
    // 4-band banding by construction; inside pHash's radius-7 envelope
    val spread = (1L << 2) | (1L << 18) | (1L << 21) | (1L << 35) |
      (1L << 38) | (1L << 55) | (1L << 58)
    val base = spark.range(n).map(i => (i, mix(i))).toDF("id", "sig")
    val planted = spark.range(twins)
      .map(i => (i + n, mix(i * 4999L % n) ^ spread)).toDF("id", "sig")
    val sigs = base.unionByName(planted).persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe19] sigs: ${sigs.count()} ($twins planted at hamming 7)")
    def occupancy(bands: Int): Unit = {
      val possible = bands.toLong << (64 / bands) // bands × 2^width keys
      val occ = graft.llm.Dedup.bucketCounts(sigs, bands)
        .agg(count(lit(1)).as("buckets"), max(col("n")).as("max_occ"),
          sum(when(col("n") > 10000, 1L).otherwise(0L)).as("hot"))
        .head()
      println(s"[probe19] bands=$bands: occupied=${occ.getLong(0)} " +
        s"of $possible possible buckets, max_occupancy=${occ.getLong(1)}, " +
        s"hot(>10k)=${occ.getLong(2)}")
    }
    // -- old geometry: radius 7 / 8 unprobed bands
    occupancy(8)
    var t0 = System.nanoTime()
    val oldPairs = graft.llm.Dedup.sigNearDups(sigs, maxHamming = 7, bands = 8)
    val oldPlanted = oldPairs.filter(col("id2") >= n).count()
    println(f"[probe19] OLD 8x8bit: planted recall $oldPlanted/$twins " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (guard saturation " +
      "silently discards every bucket)")
    // -- new geometry: radius 7 / 4 bands of 16 bits, Hamming-<=1 probe
    occupancy(4)
    t0 = System.nanoTime()
    val newPairs = graft.llm.Dedup.sigNearDups(sigs, maxHamming = 7,
      bands = 4, probe = 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newPlanted = newPairs.filter(col("id2") >= n).count()
    val newTotal = newPairs.count()
    println(f"[probe19] NEW 4x16bit probe=1: planted recall " +
      f"$newPlanted/$twins, total pairs $newTotal " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      f"(~${4.0 * n * n / 65536 * 17 / 1e9}%.1f B candidate popcounts at " +
      "uniform density — scan-shaped verify work, embarrassingly parallel)")
    newPairs.unpersist()
    // -- the INCREMENTAL shape at the new geometry: a 100k arrival
    // batch (every row a radius-7 twin of a corpus sig at the same
    // adversarial spread) probes against the 5M corpus, with the guard
    // riding PERSISTED mergeable counts — the daily-increment
    // production path (batch x 68 probe rows vs corpus exact keys:
    // linear in corpus occupancy, never corpus-vs-corpus).
    val batchN = math.max(1000L, n / 50)
    val batch = spark.range(batchN)
      .map(i => (2 * n + i, mix(i * 7919L % n) ^ spread)).toDF("id", "sig")
    val corpusCounts = graft.llm.Dedup.bucketCounts(base, 4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpusCounts.count() // the persisted state a production lineage carries
    val hot = Some(graft.llm.Dedup.hotFromCounts(corpusCounts, 10000))
    t0 = System.nanoTime()
    val arrivalHits = graft.llm.Dedup.sigNearDupsAgainst(batch, base,
      maxHamming = 7, bands = 4, maxBucketSize = 10000,
      corpusHotBuckets = hot, probe = 1)
      .select(col("batch_id")).distinct().count()
    println(f"[probe19] INCREMENTAL 4x16bit probe=1: $arrivalHits/$batchN " +
      f"arrivals matched vs the ${n / 1000000}M corpus " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (guard from persisted " +
      "mergeable counts — no corpus re-band)")
    corpusCounts.unpersist()
    sigs.unpersist()
    spark.stop()
  }

  /** Round-15 (the r14 verdict's top item): does the WIDE (256-bit)
    * engine hold recall at a (radius, corpus size) where EVERY legal
    * 64-bit geometry saturates the hot-bucket guard?
    *
    * Scenario: a corpus whose twins need radius 15. On 64-bit sigs the
    * legal geometries are 16×4-bit bands at probe 0 (16 possible
    * buckets per band — all hot past cap×16 rows) and 8×8-bit bands at
    * probe 1 (256 per band — all hot past cap×256 ≈ 2.5M, the
    * PerfProbe-19 class). On 256-bit sigs the same radius runs probe 0
    * on SIXTEEN 16-bit bands: 65,536 buckets per band, ~n/65536
    * expected occupancy — the guard keeps discriminating for ~3 more
    * orders of magnitude. Twins are planted ADVERSARIALLY for each
    * representation (64-bit: 2 bits in 7 bands + 1 in the eighth, so
    * probe-1 completeness holds through exactly one witness band;
    * 256-bit: 1 bit in 15 of 16 bands, one clean witness at probe 0) —
    * recall loss measured here is guard saturation, never pigeonhole.
    * Phase 3 is the production shape: an arrival batch against the
    * wide corpus with the guard riding PERSISTED mergeable
    * wideBucketCounts. */
  private def probe20(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    val n = args.headOption.map(_.toLong).getOrElse(3000000L)
    val twins = args.drop(1).headOption.map(_.toLong).getOrElse(1000L)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // ---- 64-bit representation at radius 15: both legal geometries
    val spread64 = { // 2/2/2/2/2/2/2/1 over eight 8-bit bands
      var s = 0L
      for (b <- 0 until 7) s |= (1L << (b * 8)) | (1L << (b * 8 + 3))
      s | (1L << 58)
    }
    val base64 = spark.range(n).map(i => (i, mix(i))).toDF("id", "sig")
    val planted64 = spark.range(twins)
      .map(i => (i + n, mix(i * 4999L % n) ^ spread64)).toDF("id", "sig")
    val sigs64 = base64.unionByName(planted64).persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe20] 64-bit sigs: ${sigs64.count()} ($twins planted at hamming 15)")
    for ((bands, probe) <- Seq((16, 0), (8, 1))) {
      val occ = graft.llm.Dedup.bucketCounts(sigs64, bands)
        .agg(count(lit(1)).as("buckets"), max(col("n")).as("max_occ"),
          sum(when(col("n") > 10000, 1L).otherwise(0L)).as("hot")).head()
      val t0 = System.nanoTime()
      val found = graft.llm.Dedup.sigNearDups(sigs64, maxHamming = 15,
        bands = bands, probe = probe).filter(col("id2") >= n).count()
      println(f"[probe20] 64-bit ${bands}x${64 / bands}bit probe=$probe: " +
        f"planted recall $found/$twins in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"(occupied=${occ.getLong(0)} of ${bands.toLong << (64 / bands)} " +
        s"possible buckets, max_occ=${occ.getLong(1)}, hot(>10k)=${occ.getLong(2)})")
    }
    sigs64.unpersist()
    // ---- 256-bit representation, same radius: 16x16-bit, probe 0
    def wideSig(seed: Long): Seq[Long] =
      Seq(mix(seed), mix(seed ^ 0x5555AAAA5555AAAAL),
        mix(seed + 0x0123456789ABCDEFL), mix(~seed))
    def flip15(s: Seq[Long]): Seq[Long] = {
      val v = s.toArray // 1 bit in bands 0..14 (bit b*16+5), band 15 clean
      for (b <- 0 until 15) v((b * 16) / 64) ^= 1L << ((b * 16 + 5) % 64)
      v.toSeq
    }
    val baseW = spark.range(n).map(i => (i, wideSig(i))).toDF("id", "sig")
    val plantedW = spark.range(twins)
      .map(i => (i + n, flip15(wideSig(i * 4999L % n)))).toDF("id", "sig")
    val sigsW = baseW.unionByName(plantedW).persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe20] 256-bit sigs: ${sigsW.count()} ($twins planted at hamming 15)")
    val occW = graft.llm.Dedup.wideBucketCounts(sigsW, 16, 256)
      .agg(count(lit(1)).as("buckets"), max(col("n")).as("max_occ"),
        sum(when(col("n") > 10000, 1L).otherwise(0L)).as("hot")).head()
    var t0 = System.nanoTime()
    val wideFound = graft.llm.Dedup.wideSigNearDups(sigsW, maxHamming = 15,
      bands = 16, probe = 0, sigBits = 256).filter(col("id2") >= n).count()
    println(f"[probe20] 256-bit 16x16bit probe=0: planted recall " +
      f"$wideFound/$twins in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      s"(occupied=${occW.getLong(0)} of ${16L << 16} possible buckets, " +
      s"max_occ=${occW.getLong(1)}, hot(>10k)=${occW.getLong(2)})")
    // ---- incremental production shape: arrival batch vs wide corpus,
    // guard from persisted mergeable wide counts
    val batchN = math.max(1000L, n / 50)
    val batch = spark.range(batchN)
      .map(i => (2 * n + i, flip15(wideSig(i * 7919L % n)))).toDF("id", "sig")
    val corpusCounts = graft.llm.Dedup.wideBucketCounts(baseW, 16, 256)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpusCounts.count()
    val hot = Some(graft.llm.Dedup.hotFromCounts(corpusCounts, 10000))
    t0 = System.nanoTime()
    val arrivalHits = graft.llm.Dedup.wideSigNearDupsAgainst(batch, baseW,
      maxHamming = 15, bands = 16, maxBucketSize = 10000,
      corpusHotBuckets = hot, probe = 0, sigBits = 256)
      .select(col("batch_id")).distinct().count()
    println(f"[probe20] INCREMENTAL 256-bit 16x16bit: $arrivalHits/$batchN " +
      f"arrivals matched vs the ${n / 1000000}M corpus " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (guard from persisted " +
      "mergeable wide counts — no corpus re-band)")
    corpusCounts.unpersist()
    sigsW.unpersist()
    spark.stop()
  }

  /** Round-15 (the r14 verdict's streaming nit): what does the probed
    * dct arrival filter pay PER MICRO-BATCH for its static side, and
    * what does preparing it once (cached bucket arrays —
    * `Streams.prepareNearSigState`) save? A stream-static join
    * re-executes its static subtree every micro-batch, so the
    * unprepared probe-1 plan re-bands the corpus and re-pays the
    * ×(width+1) probe explosion per batch; the prepared plan reads
    * the cached ≤ bands×2^16-row bucket frame. Measured as `batches`
    * single-file micro-batches (maxFilesPerTrigger=1, AvailableNow)
    * of PNG arrivals against an n-sig state at the dct lineage's
    * geometry (radius 7, 4 bands, probe 1). */
  private def probe21(args: Array[String]): Unit = {
    val spark = Local.session()
    import spark.implicits._
    import graft.llm.Multimodal
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val sigs = spark.range(n).map(i => (i, mix(i))).toDF("id", "sig")
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[probe21] corpus state: ${sigs.count()} sigs; " +
      s"$batches single-file arrival micro-batches of 20 assets")
    val base = java.nio.file.Files.createTempDirectory("probe21")
    val dir = s"$base/assets"
    val h = 3600L * 1000000L
    for (b <- 0 until batches)
      (0 until 20).map { i =>
        (b * 100L + i,
          Multimodal.encodePng(Multimodal.texturedImage(b * 100L + i)), (b + 1) * h)
      }.toDF("asset_id", "content", "ts")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("ts")))
        .coalesce(1).write.mode("append").parquet(dir)
    val sch = spark.read.parquet(dir).schema
    var run = 0
    def timeRun(prepared: Option[org.apache.spark.sql.DataFrame]): Double = {
      run += 1
      val out = s"$base/out$run"
      val t0 = System.nanoTime()
      graft.streaming.Streams.runToFiles(
        graft.streaming.Streams.dropNearSeenMediaStream(
          spark.readStream.option("maxFilesPerTrigger", 1).schema(sch).parquet(dir),
          sigs, "image-dct", maxHamming = 7, bands = 4, probe = 1,
          preparedState = prepared),
        out, s"$base/ckpt$run")
      (System.nanoTime() - t0) / 1e9
    }
    timeRun(None) // warmup: stream bootstrap + codegen, charged to neither
    val unprepared = timeRun(None)
    println(f"[probe21] UNPREPARED probe=1: $unprepared%.2f s total " +
      f"(${unprepared / batches}%.2f s/batch — corpus re-bands + x17 " +
      "probe explode every micro-batch)")
    val prepared = graft.streaming.Streams.prepareNearSigState(
      sigs, bands = 4, probe = 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tPrep0 = System.nanoTime()
    val nBuckets = prepared.count()
    val prepBuild = (System.nanoTime() - tPrep0) / 1e9
    val preparedTime = timeRun(Some(prepared))
    println(f"[probe21] PREPARED probe=1: $preparedTime%.2f s total " +
      f"(${preparedTime / batches}%.2f s/batch) + one-time build " +
      f"$prepBuild%.2f s ($nBuckets buckets cached)")
    prepared.unpersist()
    sigs.unpersist()
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams

/** Structured Streaming over the events table: each query runs the
  * stream to completion (AvailableNow) and is compared against the
  * equivalent batch computation — streaming/batch parity. */
class StreamsSpec extends SparkTestBase {

  private def eventsDir = s"$sfDir"
  private lazy val batchEvents = spark.read
    .option("pathGlobFilter", "events.parquet").parquet(eventsDir)

  test("readEventStream discovers the events file and is a streaming plan") {
    val s = Streams.readEventStream(spark, eventsDir, "events.parquet")
    assert(s.isStreaming)
    assert(s.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("windowed event stats: streaming result == batch result (event time + watermark)") {
    val stream = Streams.windowedEventStats(
      Streams.readEventStream(spark, eventsDir, "events.parquet"),
      windowLength = "1 hour", watermarkDelay = "2 hours")
    // window starts are NTZ → collect as epoch millis via the UTC cast
    val got = Streams.runToMemory(stream, "win_stats", OutputMode.Append())
      .select(col("window_start").cast("timestamp").cast("long") * 1000,
        col("event_type"), col("n_events"), col("avg_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = batchEvents
      .withColumn("event_time", Streams.eventTime(col("ts")))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("av"))
      .select(col("window.start").cast("timestamp").cast("long") * 1000,
        col("event_type"), col("n"), col("av"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // Append mode emits a window only once the watermark passes it; at
    // end-of-stream the youngest windows (within watermarkDelay of the
    // max event time) are still open and correctly withheld.
    assert(got.subsetOf(want), s"stream emitted groups batch does not have: ${got -- want}")
    val horizon = batchEvents
      .agg(max(unix_millis(Streams.eventTime(col("ts")).cast("timestamp")))).head().getLong(0) -
      (2 * 3600 * 1000L) // watermarkDelay
    val missing = want -- got
    assert(missing.forall(_._1 >= horizon - 3600 * 1000L),
      s"finalized windows missing from stream output: ${missing.filter(_._1 < horizon - 3600 * 1000L)}")
    assert(got.size > want.size / 2)
  }

  test("stream-stream attribution join == batch interval self-join (inner emits all)") {
    val got = Streams.runToMemory(
      Streams.attributionJoin(
        Streams.readEventStream(spark, eventsDir, "events.parquet")),
      "attr_join", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet // (click_id, view_id)
    // batch frames make the watermark a no-op → plain interval self-join
    val want = Streams.attributionJoin(batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    // inner-join matches emit immediately (no watermark withholding),
    // and the single AvailableNow batch runs below any cutoff
    assert(got == want, s"stream-only: ${got -- want}; batch-only: ${want -- got}")
    assert(got.nonEmpty, "expected at least one click with a prior view")
  }

  test("stream dedup drops planted duplicate event ids (bounded state)") {
    // stage a dir with the events file twice → every event_id duplicated
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val n0 = spark.read.parquet(dir).count()
    batchEvents.write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 2 * n0)
    val deduped = Streams.runToMemory(
      Streams.dedupEventStream(Streams.readEventStream(spark, dir)),
      "dedup_stream", OutputMode.Append())
    assert(deduped.count() == n0)
    assert(deduped.select("event_id").distinct().count() == n0)
  }

  test("streaming scorer applies expression models stateless (batch parity)") {
    val stream = Streams.scoreEventStream(
      Streams.readEventStream(spark, eventsDir, "events.parquet"),
      Seq("pred" -> (col("value") * 2)), Seq("event_id"))
    val got = Streams.runToMemory(stream, "scored_stream", OutputMode.Append())
    assert(got.columns.toSeq == Seq("event_id", "pred"))
    assert(got.count() == batchEvents.count())
    val sample = got.orderBy("event_id").limit(1).head()
    val want = batchEvents.orderBy("event_id").limit(1).head()
    assert(math.abs(sample.getFloat(1) - want.getAs[Double]("value") * 2) < 1e-4)
  }

  test("sessionStats merges events within the gap; batch and known-input checks") {
    import spark.implicits._
    // user 1: two bursts 10min apart then a 2h gap; user 2: one event
    val h = 3600L * 1000000L // us
    val rows = Seq(
      (1L, 0L * h, 1L, "view", 1.0, "{}"),
      (2L, 0L * h + 600L * 1000000L, 1L, "view", 2.0, "{}"),
      (3L, 3L * h, 1L, "view", 4.0, "{}"),
      (4L, 1L * h, 2L, "view", 8.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
    val out = graft.streaming.Streams.sessionStats(rows, gap = "30 minutes")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("sessionStats streaming == batch on the events table") {
    val stream = graft.streaming.Streams.sessionStats(
      Streams.readEventStream(spark, eventsDir, "events.parquet"), gap = "30 minutes")
    val got = Streams.runToMemory(stream, "session_stats", OutputMode.Append())
    val want = graft.streaming.Streams.sessionStats(batchEvents, gap = "30 minutes")
    // append-mode watermark holds back only the youngest sessions
    assert(got.count() > 0 && got.count() <= want.count())
  }

  test("RocksDB state store provider: windowed stats match the default provider") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rocks-ckpt").toString
    val stream = Streams.windowedEventStats(
      Streams.readEventStream(spark, eventsDir, "events.parquet"),
      windowLength = "1 hour", watermarkDelay = "2 hours")
    val rocks = Streams.runToMemory(stream, "win_stats_rocks", OutputMode.Append(),
      Streams.RunOptions(checkpointLocation = Some(ckpt), useRocksDB = true))
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    val default = Streams.runToMemory(stream, "win_stats_default", OutputMode.Append())
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rocks == default)
    // RocksDB provider setting was restored after the run
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
    // the checkpoint is durable: offset + state dirs exist
    val sub = new java.io.File(ckpt).list().toSet
    assert(sub.contains("offsets") && sub.contains("state"), s"checkpoint dirs: $sub")
  }

  test("runToFiles: checkpointed file sink is exactly-once across restarts") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-files")
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val stream = Streams.windowedEventStats(
      Streams.readEventStream(spark, eventsDir, "events.parquet"))
    Streams.runToFiles(stream, out, ckpt)
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    // same checkpoint, no new input files → the restart appends nothing
    Streams.runToFiles(stream, out, ckpt)
    assert(spark.read.parquet(out).count() == n1)
  }

  test("filterDocStream strip-markdown: markup stripped at arrival before any " +
      "signal; stream/batch parity") {
    import spark.implicits._
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_md")}/docs"
    Seq(
      (1L, "# Title\n**bold** [link](http://x) `code()`"),
      (2L, "plain prose stays untouched"))
      .toDF("doc_id", "text").write.parquet(dir)
    def stream() = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text", stripMarkdown = true),
      "md_docs", OutputMode.Append())
    val byId = got.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == "Title\nbold link code()")
    assert(byId(2L) == "plain prose stays untouched")
    // batch parity through the same code path
    val batch = Streams.filterDocStream(
      spark.read.parquet(dir), "text", stripMarkdown = true)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch == byId)
  }

  test("filterDocStream: stateless curation-lite drops gibberish and " +
      "low-LM docs at arrival; batch parity; annotate-only keeps all") {
    import spark.implicits._
    import graft.llm.LangModel
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // a legacy-format artifact: the minCount=1 saveTrigram file
    val lm = LangModel.trainTrigram(
      corpus.filter(col("doc_id") < 100), "text", minCount = 1L)
    val lmPath = s"${java.nio.file.Files.createTempDirectory("stream_filter")}/kn.lm3"
    LangModel.saveTrigram(lm, lmPath)
    val prose = corpus.filter(col("doc_id") === 150).head().getString(1)
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_filter")}/docs"
    Seq(
      (1L, prose),                                // reference-like: keep
      (2L, "zq9 xv3 qq7 zz1 kj2 pw9 vv3 mm1 xx7 rr4 tt2 yy8"), // gibberish
      (3L, prose.split("\\s+").take(30).mkString(" "))          // prose prefix: keep
    ).toDF("doc_id", "text").write.parquet(dir)
    def stream() = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    // floors: quality catches symbol soup, the KN floor catches
    // off-distribution token sequences; both planted on the probes
    val probe = spark.read.parquet(dir).select(col("doc_id"),
      graft.functions.GraftFunctions.kn3LogProb(col("text"), lmPath).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val floor = (probe(2L) + math.min(probe(1L), probe(3L))) / 2
    assert(probe(1L) > floor && probe(3L) > floor && probe(2L) < floor)
    val got = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text",
        minQuality = Some(0.0), kn3Path = Some(lmPath), minKn3LogP = Some(floor)),
      "filtered_docs", OutputMode.Append())
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"filter stream kept: $ids")
    assert(got.columns.contains("quality") && got.columns.contains("kn3_logp")
      && got.columns.contains("lang_id"))
    // batch parity: identical rows through the same code path
    val batchIds = Streams.filterDocStream(spark.read.parquet(dir), "text",
      minQuality = Some(0.0), kn3Path = Some(lmPath), minKn3LogP = Some(floor))
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds == ids)
    // no floors = annotate only, every doc survives with its signals
    // (the order-n KN knob rides the same stateless path)
    val kn4 = LangModel.trainKneserNeyN(
      corpus.filter(col("doc_id") < 100), "text", order = 4)
    val knnPath = s"${java.nio.file.Files.createTempDirectory("stream_filter")}/kn.lm4"
    LangModel.saveNgram(kn4.ngram, knnPath)
    val all = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text", kn3Path = Some(lmPath),
        knnPath = Some(knnPath), knnModified = true),
      "annotated_docs", OutputMode.Append())
    assert(all.count() == 3 && all.columns.contains("kn3_logp")
      && all.columns.contains("knn_logp"))
    // the whole thing is stateless: projections and filters only — no
    // stateful operator (aggregate/dedup/join) anywhere in the plan
    val plan = Streams.filterDocStream(stream(), "text",
      minQuality = Some(0.0), kn3Path = Some(lmPath), minKn3LogP = Some(floor))
      .queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Deduplicate") &&
      !plan.contains("Join"), s"filter stream must be stateless:\n$plan")
  }

  test("multimodal decode rides a stream unchanged: AVI frames decode per " +
      "microbatch, stateless, batch parity") {
    import graft.llm.Multimodal
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_mm")}/assets"
    // real 2-frame AVI clips as the stream payload
    val media = Multimodal.asMediaTable(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 6),
      "doc_id", "text", "video", Map("width" -> "8", "height" -> "4"))
    Multimodal.reencodeAsAvi(media, nFrames = 2).write.parquet(dir)
    def decode(df: org.apache.spark.sql.DataFrame) =
      Multimodal.decodeAndFeaturize(
        Multimodal.frameIdxIntoMeta(Multimodal.sampleFrames(df, everyN = 1)),
        Multimodal.AviDecoder, featureDim = 4, batchSize = 4)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = Streams.runToMemory(decode(stream), "mm_decoded", OutputMode.Append())
    assert(got.count() == 12, "6 assets x 2 frames per microbatch")
    assert(got.collect().forall(r => r.getInt(1) == 8 && r.getInt(2) == 4 &&
      r.getInt(3) == 3 && !r.getBoolean(5)))
    // batch parity: identical features through the same code path
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("asset_id", "features").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).mkString(","))).toSeq.sorted
    assert(rows(decode(spark.read.parquet(dir))) == rows(got))
    // stateless: the decode pipeline has no stateful operator
    val plan = decode(stream).queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Deduplicate") &&
      !plan.contains("Join"), s"decode stream must be stateless:\n$plan")
  }

  test("filterDocStream c4-rules: in-stream line retention rewrites text, " +
      "page rules drop; the stream stays stateless") {
    import spark.implicits._
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_c4")}/docs"
    Seq(
      (1L, prose + "\ntrailing junk without punctuation"), // keep, rewritten
      (2L, prose + "\ncode block { x } inside."),          // brace: drop
      (3L, "Only one sentence in this page.")              // thin: drop
    ).toDF("doc_id", "text").write.parquet(dir)
    def stream() = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text", c4Rules = true),
      "c4_docs", OutputMode.Append())
    val rows = got.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L), s"c4 stream kept: ${rows.keySet}")
    assert(rows(1L) == prose, "text must be rewritten to the retained lines")
    val plan = Streams.filterDocStream(stream(), "text", c4Rules = true)
      .queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Deduplicate") &&
      !plan.contains("Join"), s"c4 stream must be stateless:\n$plan")
    // the batch Curator's custom-list knob mirrored in-stream: a custom
    // bad word (outside the shipped stand-in) drops the page at arrival
    val custom = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text", c4Rules = true,
        badwordList = Some(Seq("barked"))),
      "c4_docs_custom", OutputMode.Append())
    assert(custom.count() == 0,
      "custom badword list must drop every page containing it in-stream")
  }

  test("filterDocStream strip-html + normalize: markup extracted and mojibake " +
      "repaired in-stream before any signal; still stateless") {
    import spark.implicits._
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_html")}/docs"
    Seq(
      (1L, s"<html><body><p>$prose caf\u00c3\u00a9 bonus.</p>" +
        "<script>var x=1;</script></body></html>"))
      .toDF("doc_id", "text").write.parquet(dir)
    def stream() = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = Streams.runToMemory(
      Streams.filterDocStream(stream(), "text",
        stripHtml = true, normalizeText = true, c4Rules = true),
      "html_docs", OutputMode.Append())
    val rows = got.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L))
    assert(rows(1L) == s"$prose caf\u00e9 bonus.",
      s"extracted+repaired in-stream: '${rows(1L).take(60)}'")
    val plan = Streams.filterDocStream(stream(), "text",
      stripHtml = true, normalizeText = true, c4Rules = true)
      .queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Join"),
      s"the ingest chain must stay stateless:\n$plan")
  }

  test("dropSeenUrlsStream: refetched canonical URLs dropped in-stream " +
      "against committed urls state; nulls pass; batch parity; stateless") {
    import spark.implicits._
    import graft.llm.DomainFilter
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_urls")}/docs"
    val h = 3600L * 1000 * 1000
    Seq(
      (1L, "HTTPS://WWW.Example.COM/a?utm_source=x", "refetched spelling", 1 * h),
      (2L, "https://example.com/c", "genuinely new page", 2 * h),
      (3L, null: String, "no url metadata", 3 * h)
    ).toDF("doc_id", "url", "text", "ts")
      .withColumn("ts", timestamp_micros(col("ts"))).write.parquet(dir)
    // committed state: hash of the CANONICAL form of page /a
    val state = Seq("https://example.com/a").toDF("u")
      .select(xxhash64(DomainFilter.normalizeUrl(col("u"))).as("url_hash"))
    def stream() = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val got = Streams.runToMemory(
      Streams.dropSeenUrlsStream(stream(), "url", state),
      "stream_urls", OutputMode.Append())
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L),
      s"canonical refetch must drop, new page and null-url pass: $got")
    // batch parity
    val batch = Streams.dropSeenUrlsStream(spark.read.parquet(dir), "url", state)
      .select("doc_id").as[Long].collect().toSet
    assert(batch == got)
    // stateless: no stateful operator in the plan
    val plan = Streams.dropSeenUrlsStream(stream(), "url", state)
      .queryExecution.analyzed.toString
    assert(!plan.contains("Deduplicate") && !plan.contains("Aggregate"),
      s"URL tier must stay stateless:\n$plan")
  }

  test("dropSeenStream: corpus-seen and in-stream duplicate texts dropped; batch parity") {
    import spark.implicits._
    import graft.llm.Dedup
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_dedup")}/docs"
    // ts is a timestamp column like events.ts
    val h = 3600L * 1000 * 1000 // us
    Seq(
      (1L, "fresh alpha doc", 1 * h),
      (2L, "fresh beta doc", 2 * h),
      (3L, "seen corpus doc one", 3 * h),   // echo of corpus state
      (4L, "arriving twice tonight", 4 * h),
      (5L, "arriving twice tonight", 5 * h) // in-stream duplicate
    ).toDF("doc_id", "text", "ts")
      .withColumn("ts", timestamp_micros(col("ts"))).write.parquet(dir)
    val seen = Seq("seen corpus doc one", "seen corpus doc two").toDF("t")
      .select(Dedup.contentHash(col("t")).as("content_hash"))
    val got = Streams.runToMemory(
      Streams.dropSeenStream(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        seen, "text"),
      "stream_dedup", OutputMode.Append())
      .select("doc_id").as[Long].collect().toSet
    // corpus echo gone; exactly ONE of the in-stream pair survives
    assert(got.intersect(Set(1L, 2L)) == Set(1L, 2L), s"fresh docs lost: $got")
    assert(!got.contains(3L), s"corpus-seen doc survived: $got")
    assert(got.count(Set(4L, 5L)) == 1, s"in-stream dup not collapsed to one: $got")
    // batch parity: same code path on a batch frame keeps the same TEXT
    // set (dropDuplicates may pick either id of the duplicate pair)
    val batch = Streams.dropSeenStream(spark.read.parquet(dir), seen, "text")
      .select("text").as[String].collect().toSet
    val streamTexts = spark.table("stream_dedup").select("text").as[String].collect().toSet
    assert(batch == streamTexts)
  }

  test("dropNearSeenStream: SimHash-near corpus echo dropped in-stream; batch parity") {
    import spark.implicits._
    import graft.llm.Dedup
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_neardup")}/docs"
    val h = 3600L * 1000 * 1000 // us
    // the echo is a CASE-CHANGED copy of a corpus doc: SimHash tokenizes
    // lowercased, so the signature matches at Hamming 0 — exact-hash
    // tier (dropSeenStream) would MISS it, the near tier must not
    val corpusTexts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "completely different corpus material about spark shuffles")
    Seq(
      (1L, "fresh alpha doc about windows", 1 * h),
      (2L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TONIGHT", 2 * h), // near echo
      (3L, "fresh beta doc about joins", 3 * h),
      (4L, "arriving twice with the same words", 4 * h),
      (5L, "arriving twice with the same words", 5 * h) // in-stream sig duplicate
    ).toDF("doc_id", "text", "ts")
      .withColumn("ts", timestamp_micros(col("ts"))).write.parquet(dir)
    val sigs = Dedup.simHashSignatures(
      corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "doc_id", "text")
    val got = Streams.runToMemory(
      Streams.dropNearSeenStream(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        sigs, "text", maxHamming = 3, bands = 4),
      "stream_neardup", OutputMode.Append())
      .select("doc_id").as[Long].collect().toSet
    assert(got.intersect(Set(1L, 3L)) == Set(1L, 3L), s"fresh docs lost: $got")
    assert(!got.contains(2L), s"case-changed corpus echo survived the near tier: $got")
    assert(got.count(Set(4L, 5L)) == 1, s"in-stream sig dup not collapsed: $got")
    // batch parity: the same code path on a batch frame keeps the same
    // text set (dropDuplicates may pick either id of the dup pair)
    val batch = Streams.dropNearSeenStream(spark.read.parquet(dir), sigs, "text",
      maxHamming = 3, bands = 4).select("text").as[String].collect().toSet
    val streamTexts = spark.table("stream_neardup").select("text").as[String].collect().toSet
    assert(batch == streamTexts, s"batch $batch vs stream $streamTexts")
  }

  test("dropNearSeenVectorStream: rescaled corpus-vector echo dropped in-stream; batch parity") {
    import spark.implicits._
    import graft.llm.Similarity
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_vecdup")}/vecs"
    val h = 3600L * 1000 * 1000 // us
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i * 7).toFloat)
    // corpus state: SRP signatures of two vectors (default seed)
    val corpus = Seq((100L, vec(1)), (101L, vec(2))).toDF("vec_id", "embedding")
    val sigs = Similarity.srpSignatures(corpus)
    // stream: a 0.5-rescaled echo of corpus vec 1 (cosine exactly 1 →
    // identical SRP signature), plus two fresh vectors
    Seq(
      (1L, vec(3), 1 * h),
      (2L, vec(1).map(_ * 0.5f), 2 * h), // echo of corpus 100
      (3L, vec(4), 3 * h)
    ).toDF("vec_id", "embedding", "ts")
      .withColumn("ts", timestamp_micros(col("ts"))).write.parquet(dir)
    val got = Streams.runToMemory(
      Streams.dropNearSeenVectorStream(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        sigs, minCosine = 0.99),
      "stream_vecdup", OutputMode.Append())
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"expected fresh {1,3}, got: $got")
    // batch parity on the same code path
    val batch = Streams.dropNearSeenVectorStream(spark.read.parquet(dir), sigs,
      minCosine = 0.99).select("vec_id").as[Long].collect().toSet
    assert(batch == got, s"batch $batch vs stream $got")
  }

  test("dropNearSeenMediaStream: re-encoded corpus image dropped in-stream; " +
      "fresh assets kept; batch parity") {
    import spark.implicits._
    import graft.llm.Multimodal
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_mediadup")}/assets"
    val h = 3600L * 1000 * 1000 // us
    // corpus state: dHash fingerprints of two PNG plates (seeds 1, 2) —
    // what a MediaDedup run persists to state-out-dir/sigs
    val corpus = Seq(
      (100L, Multimodal.encodePng(Multimodal.smoothImage(1L))),
      (101L, Multimodal.encodePng(Multimodal.smoothImage(2L)))).toDF("id", "content")
    val sigs = corpus.select(col("id"),
      graft.functions.GraftFunctions.mediaHash(col("content"), "image").as("sig"))
    // stream: a JPEG re-encode of corpus plate 1 (near, must drop) plus
    // two fresh plates
    Seq(
      (1L, Multimodal.Avi.encodeJpegFrame(Multimodal.smoothImage(7L)), 1 * h),
      (2L, Multimodal.Avi.encodeJpegFrame(Multimodal.smoothImage(1L)), 2 * h), // echo
      (3L, Multimodal.encodePng(Multimodal.smoothImage(8L)), 3 * h)
    ).toDF("asset_id", "content", "ts")
      .withColumn("ts", timestamp_micros(col("ts"))).write.parquet(dir)
    val stream = Streams.dropNearSeenMediaStream(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
      sigs, "image")
    // stateless contract: no aggregation/join state on the stream side
    // beyond the watermarked in-stream dedup
    val got = Streams.runToMemory(stream, "stream_mediadup", OutputMode.Append())
      .select("asset_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"expected fresh {1,3}, got: $got")
    val batch = Streams.dropNearSeenMediaStream(spark.read.parquet(dir), sigs, "image")
      .select("asset_id").as[Long].collect().toSet
    assert(batch == got, s"batch $batch vs stream $got")
    // preparedState parity: the cached bucket-array frame the CLI
    // builds once per run substitutes the in-plan static subtree
    // row-for-row — including at probe depth 1, where the corpus side
    // carries the probe expansion (the r14-nit shape this exists for)
    for (probe <- Seq(0, 1)) {
      val prepared = Streams.prepareNearSigState(sigs, bands = 4, probe = probe)
        .persist()
      val withPrep = Streams.dropNearSeenMediaStream(
        spark.read.parquet(dir), sigs, "image",
        maxHamming = if (probe == 1) 7 else 3, probe = probe,
        preparedState = Some(prepared))
        .select("asset_id").as[Long].collect().toSet
      val without = Streams.dropNearSeenMediaStream(
        spark.read.parquet(dir), sigs, "image",
        maxHamming = if (probe == 1) 7 else 3, probe = probe)
        .select("asset_id").as[Long].collect().toSet
      assert(withPrep == without, s"probe=$probe: $withPrep vs $without")
      prepared.unpersist()
    }
  }

  test("dropNearSeenVideoStream: re-encoded corpus clip dropped at the door " +
      "(frame-aligned, minFrames honored); fresh clips kept; batch parity " +
      "with videoNearDupsAgainst over the first k frames") {
    import spark.implicits._
    import graft.llm.Multimodal
    val dir = s"${java.nio.file.Files.createTempDirectory("stream_videodup")}/assets"
    val h = 3600L * 1000 * 1000 // us
    // corpus state: per-frame sigs of two 4-frame DIB clips (seeds
    // 100/101) — what a video MediaDedup run persists
    val corpusMedia = Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(
        Seq((100L, "x"), (101L, "x")).toDF("asset_id", "payload"),
        "asset_id", "payload", "video", Map.empty),
      nFrames = 4, mjpeg = false)
    val stateSigs = Multimodal.videoFrameHashes(corpusMedia)
    // stream: an MJPEG re-encode of corpus clip 100 (every frame near a
    // stored sig — must drop) + two fresh clips (seeds 7 and 8)
    val streamMedia = Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(
        Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("asset_id", "payload"),
        "asset_id", "payload", "video", Map.empty)
        .withColumn("seed",
          when(col("asset_id") === 2L, 100L)
            .when(col("asset_id") === 1L, 7L).otherwise(8L)),
      nFrames = 4, mjpeg = true, seedCol = "seed")
      .withColumn("ts", timestamp_micros(col("asset_id") * h))
      .drop("seed")
    streamMedia.write.parquet(dir)
    val stream = Streams.dropNearSeenVideoStream(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
      stateSigs, firstKFrames = 3, minFrames = 2, maxHamming = 5, bands = 8)
    val got = Streams.runToMemory(stream, "stream_videodup", OutputMode.Append())
      .select("asset_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"expected fresh {1,3}, got: $got")
    // batch parity 1: the same filter on the batch frame
    val batch = Streams.dropNearSeenVideoStream(spark.read.parquet(dir),
      stateSigs, firstKFrames = 3, minFrames = 2, maxHamming = 5, bands = 8)
      .select("asset_id").as[Long].collect().toSet
    assert(batch == got, s"batch $batch vs stream $got")
    // batch parity 2: the batch increment tier's drop set over the same
    // first-k frames agrees with the arrival filter's
    val batchDrops = Multimodal.videoNearDupsAgainst(
      Multimodal.videoFrameHashes(streamMedia).filter(col("frame_idx") < 3),
      stateSigs, minFrames = 2, maxHamming = 5, bands = 8)
      .select("batch_id").as[Long].collect().toSet
    assert(batchDrops == Set(2L),
      s"the batch tier must drop exactly the echo clip: $batchDrops")
    // k must cover minFrames (a gate the filter could never reach is
    // dead config — rejected at construction)
    val e = intercept[IllegalArgumentException](
      Streams.dropNearSeenVideoStream(spark.read.parquet(dir),
        stateSigs, firstKFrames = 3, minFrames = 4, maxHamming = 5, bands = 8))
    assert(e.getMessage.contains("cover"), e.getMessage)
    val loose = Streams.dropNearSeenVideoStream(spark.read.parquet(dir),
      stateSigs, firstKFrames = 4, minFrames = 4, maxHamming = 5, bands = 8)
      .select("asset_id").as[Long].collect().toSet
    assert(loose == Set(1L, 3L), "all 4 frames of the echo match -> still drops")
  }

  test("userRunningStats keeps per-key state across the stream") {
    val stream = Streams.userRunningStats(
      Streams.readEventStream(spark, eventsDir, "events.parquet"))
    val got = Streams.runToMemory(stream, "user_stats", OutputMode.Update())
    val want = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s"),
        max(unix_micros(col("ts").cast("timestamp"))).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // final state per user (AvailableNow may emit one update per user)
    val finalState = got.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    assert(finalState.keySet == want.keySet)
    finalState.foreach { case (uid, (n, s, t)) =>
      val (wn, ws, wt) = want(uid)
      assert(n == wn && t == wt && math.abs(s - ws) < 1e-6, s"user $uid: ($n,$s,$t) vs ($wn,$ws,$wt)")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.llm.{Dedup, Similarity}

/** Native expressions: bit/value parity with the HOF formulations and
  * codegen integration. */
class GraftFunctionsSpec extends SparkTestBase {

  override def sfDir: String = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sfDir/../sf0.01/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val bpeMergesPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-fn")
      .resolve("bmerges.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, p,
      graft.llm.BpeTrainer.learnByteMerges(docs.limit(50), "text", numMerges = 16))
    p
  }

  GraftFunctions.register(spark)

  test("graft_cosine == HOF cosine on real embeddings (value parity)") {
    val pairs = emb.limit(50).select(col("vec_id").as("id1"), col("embedding").as("e1"))
      .crossJoin(emb.limit(10).select(col("vec_id").as("id2"), col("embedding").as("e2")))
    val diff = pairs.select(
      abs(call_function("graft_cosine", col("e1"), col("e2")) -
        Similarity.cosineHof(col("e1"), col("e2"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff < 1e-12, s"max divergence $diff")
  }

  test("graft_simhash == HOF simHash bit-for-bit on real documents") {
    val cmp = docs.select(
      call_function("graft_simhash", col("text")).as("native"),
      Dedup.simHashHof(col("text")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("both expressions run via SQL after registration") {
    docs.limit(5).createOrReplaceTempView("gf_docs")
    val r = spark.sql("SELECT graft_simhash(text) AS s FROM gf_docs").collect()
    assert(r.length == 5 && r.forall(!_.isNullAt(0)))
  }

  test("graft_html_entities and graft_fix_mojibake run via SQL and stay in codegen") {
    val r = spark.sql(
      "SELECT graft_html_entities('Caf&eacute; &amp; more &#33;') AS e, " +
        "graft_fix_mojibake('cafÃ© itâ€™s') AS m").head()
    assert(r.getString(0) == "Café & more !")
    assert(r.getString(1) == "café it’s")
    val plan = docs.select(
        call_function("graft_html_entities", col("text")).as("e"),
        call_function("graft_fix_mojibake", col("text")).as("m"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
  }

  test("graft_deflate_ratio: repetition compresses, prose does not, empty is 1.0") {
    val r = spark.sql(
      "SELECT graft_deflate_ratio(repeat('spam template line ', 50)) AS tpl, " +
        "graft_deflate_ratio('The quick brown fox jumps over the lazy dog near the riverbank.') AS prose, " +
        "graft_deflate_ratio('') AS empty").head()
    assert(r.getDouble(0) < 0.1, s"heavy repetition must compress hard: ${r.getDouble(0)}")
    assert(r.getDouble(1) > 0.4, s"one prose sentence barely compresses: ${r.getDouble(1)}")
    assert(r.getDouble(2) == 1.0)
    // deterministic across invocations (thresholds rely on it)
    val twice = docs.limit(50).select(
      call_function("graft_deflate_ratio", col("text")).as("a"),
      call_function("graft_deflate_ratio", col("text")).as("b"))
    assert(twice.filter(col("a") =!= col("b")).count() == 0)
  }

  test("expressions stay inside whole-stage codegen (no fallback)") {
    val plan = docs.select(call_function("graft_simhash", col("text")).as("s"))
      .queryExecution.executedPlan.toString
    // the *(n) prefix marks a WholeStageCodegen stage containing the Project
    assert(plan.contains("*(1) Project [graft_simhash"), s"no codegen span:\n$plan")
  }

  test("graft_span_hashes: per-offset count, rolling parity with a fresh " +
      "computation, case-sensitive, short docs empty") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT graft_span_hashes('a b c d e', 2) AS h5, " +
      "graft_span_hashes('b c d e', 2) AS h4, " +
      "graft_span_hashes('a b', 3) AS short, " +
      "graft_span_hashes('A b c', 2) AS upper, " +
      "graft_span_hashes('a b c', 2) AS lower").head()
    val h5 = r.getSeq[Long](0); val h4 = r.getSeq[Long](1)
    assert(h5.length == 4 && h4.length == 3)
    // the ROLLING update at offset i must equal a FRESH hash of the
    // suffix: h5[1..] covers the same spans as h4[0..]
    assert(h5.drop(1) == h4, s"rolling drift: ${h5.drop(1)} vs $h4")
    assert(r.getSeq[Long](2).isEmpty, "doc shorter than n must have no span")
    assert(r.getSeq[Long](3).head != r.getSeq[Long](4).head,
      "span hashes must be case-sensitive (unlike graft_gram_hashes)")
    // duplicate spans collide exactly: "a b" at two offsets
    val d = spark.sql("SELECT graft_span_hashes('a b x a b', 2) AS h").head().getSeq[Long](0)
    assert(d.length == 4 && d(0) == d(3) && d.distinct.length == 3)
  }

  test("graft_span_hashes stays inside whole-stage codegen") {
    val plan = docs.select(GraftFunctions.spanHashes(col("text"), 10).as("h"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_span_hashes"), s"no codegen span:\n$plan")
  }

  test("type errors are caught at analysis time") {
    val ex = intercept[Exception] {
      docs.select(call_function("graft_cosine", col("text"), col("text"))).collect()
    }
    assert(ex.getMessage.contains("graft_cosine"))
  }

  test("null inputs yield null, empty arrays yield 0") {
    val r = spark.sql(
      "SELECT graft_cosine(cast(null AS array<float>), array(cast(1.0 AS float))), " +
      "graft_cosine(array(cast(1.0 AS float)), array(cast(0.0 AS float))), " +
      "graft_simhash(cast(null AS string))").head()
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 0.0) // zero vector → 0 by convention
    assert(r.isNullAt(2))
  }

  test("sketch aggregates run via SQL (analyzer wraps the bare AggregateFunction)") {
    import spark.implicits._
    Seq("a", "b", "a", 1.0.toString).toDF("s").createOrReplaceTempView("__sk_t")
    val freq = spark.sql("SELECT graft_freq_sketch(s, 8) FROM __sk_t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(freq.map(r => (r.getString(0), r.getLong(1))).toList ==
      List(("a", 2L), ("1.0", 1L), ("b", 1L)))
    Seq(1.0, 2.0, 3.0).toDF("x").createOrReplaceTempView("__hs_t")
    val hist = spark.sql("SELECT graft_hist_sketch(x, 16) FROM __hs_t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hist.map(r => (r.getDouble(0), r.getLong(1))).toList ==
      List((1.0, 1L), (2.0, 1L), (3.0, 1L)))
    // 1-arg hist form (default centroids) parses too
    assert(spark.sql("SELECT graft_hist_sketch(x) FROM __hs_t").head().getSeq[Any](0).size == 3)
  }

  test("graft_media_hash: column form matches the batched hashers; SQL form; guards") {
    import spark.implicits._
    import graft.llm.Multimodal
    val rows = Seq(
      (1L, Multimodal.encodePng(Multimodal.smoothImage(5L)), Multimodal.encodeWav(Multimodal.smoothAudio(5L))),
      (2L, Multimodal.encodePng(Multimodal.smoothImage(6L)), Multimodal.encodeWav(Multimodal.smoothAudio(6L))))
      .toDF("id", "img", "wav")
    val got = rows.select(col("id"),
        GraftFunctions.mediaHash(col("img"), "image").as("ih"),
        GraftFunctions.mediaHash(col("wav"), "audio").as("ah"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // parity with the library hashers on the same decoded bytes
    for (seed <- Seq(5L, 6L)) {
      val wantI = Multimodal.dHash64(Multimodal.ImageIoDecoder.decode(
        Multimodal.encodePng(Multimodal.smoothImage(seed)), Map.empty))
      val wantA = Multimodal.audioHash64(Multimodal.WavDecoder.decode(
        Multimodal.encodeWav(Multimodal.smoothAudio(seed)), Map.empty))
      assert(got(seed - 4) == ((wantI, wantA)))
    }
    // SQL registration path
    rows.createOrReplaceTempView("mh_assets")
    val viaSql = spark.sql(
      "SELECT graft_media_hash(img, 'image') AS ih FROM mh_assets WHERE id = 1")
      .head().getLong(0)
    assert(viaSql == got(1L)._1)
    // the DCT kernel ('image-dct') is pHash64 bit-for-bit — and NOT the
    // dHash column (the lineages must stay apart)
    val dct = rows.select(col("id"),
        GraftFunctions.mediaHash(col("img"), "image-dct").as("dh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (seed <- Seq(5L, 6L)) {
      val wantD = Multimodal.pHash64(Multimodal.ImageIoDecoder.decode(
        Multimodal.encodePng(Multimodal.smoothImage(seed)), Map.empty))
      assert(dct(seed - 4) == wantD)
      assert(dct(seed - 4) != got(seed - 4)._1)
    }
    assert(spark.sql(
      "SELECT graft_media_hash(img, 'image-dct') AS dh FROM mh_assets WHERE id = 1")
      .head().getLong(0) == dct(1L))
    // guards: bad modality, wrong input type
    intercept[IllegalArgumentException](GraftFunctions.mediaHash(col("img"), "video"))
    intercept[org.apache.spark.sql.AnalysisException] {
      rows.select(GraftFunctions.mediaHash(col("id"), "image")).collect()
    }
  }

  test("graft_media_video_hash: slot i equals frame i's batched dHash; short " +
      "clips emit their actual frame count; SQL form; guards") {
    import spark.implicits._
    import graft.llm.Multimodal
    // real 4-frame DIB AVIs keyed by seed (the videoFrameHashes fixture)
    val media = Multimodal.reencodeAsSmoothAvi(
      Multimodal.asMediaTable(
        Seq((10L, "x"), (11L, "x")).toDF("asset_id", "payload"),
        "asset_id", "payload", "video", Map.empty),
      nFrames = 4, mjpeg = false)
    val got = media.select(col("asset_id"),
        GraftFunctions.mediaVideoHash(col("content"), 3).as("fh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // parity with the frame-exploding batch path, slot for slot
    val want = Multimodal.videoFrameHashes(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (id <- Seq(10L, 11L)) {
      assert(got(id).length == 3, "k=3 of a 4-frame clip")
      for (f <- 0 until 3)
        assert(got(id)(f) == want((id, f)), s"clip $id slot $f drift")
    }
    // k beyond the clip: the actual frame count, never padding
    assert(media.select(GraftFunctions.mediaVideoHash(col("content"), 9))
      .head().getSeq[Long](0).length == 4)
    // SQL registration path
    media.createOrReplaceTempView("mvh_assets")
    assert(spark.sql(
      "SELECT graft_media_video_hash(content, 2) FROM mvh_assets WHERE asset_id = 10")
      .head().getSeq[Long](0) == got(10L).take(2))
    // guards: non-positive k, wrong input type
    intercept[IllegalArgumentException](GraftFunctions.mediaVideoHash(col("content"), 0))
    intercept[org.apache.spark.sql.AnalysisException] {
      media.select(GraftFunctions.mediaVideoHash(col("asset_id"), 2)).collect()
    }
  }

  test("graft_pretoken_count == the byte-budget chunker's chunk_tokens unit " +
      "(specials atomic, carve-order parity); SQL form; empty -> 0") {
    // parity on real documents: a budget no doc exceeds -> one chunk per
    // doc, whose chunk_tokens IS the doc's pretoken count
    val one = docs.limit(40).select(
      explode(GraftFunctions.bpeByteChunks(col("text"),
        bpeMergesPath, 1 << 20, 0, Nil)).as("c"),
      GraftFunctions.pretokenCount(col("text")).as("n"))
    assert(one.filter(col("c.chunk_tokens") =!= col("n")).count() == 0,
      "pretoken count must equal the single-chunk chunk_tokens")
    // specials carve atomically, exactly like the chunker
    val sp = Seq("<|fim_prefix|>", "<|fim_middle|>")
    val planted = docs.limit(10).select(
      concat(lit("<|fim_prefix|>"), col("text"), lit("<|fim_middle|>")).as("t"))
    val cmp = planted.select(
      explode(GraftFunctions.bpeByteChunks(col("t"),
        bpeMergesPath, 1 << 20, 0, sp)).as("c"),
      GraftFunctions.pretokenCount(col("t"), sp).as("n"))
    assert(cmp.filter(col("c.chunk_tokens") =!= col("n")).count() == 0,
      "specials-atomic pretoken count must match the chunker's carve")
    // an UNDECLARED sentinel counts as ordinary text in both
    val undecl = planted.select(
      explode(GraftFunctions.bpeByteChunks(col("t"),
        bpeMergesPath, 1 << 20, 0, Nil)).as("c"),
      GraftFunctions.pretokenCount(col("t")).as("n"))
    assert(undecl.filter(col("c.chunk_tokens") =!= col("n")).count() == 0)
    // SQL registration + degenerate input
    assert(spark.sql("SELECT graft_pretoken_count('')").head().getInt(0) == 0)
    assert(spark.sql("SELECT graft_pretoken_count('a b', 'a')").head().getInt(0)
      == spark.sql("SELECT graft_pretoken_count('a b')").head().getInt(0))
  }

  test("graft_hamming == HOF wide hamming bit-for-bit; lineage mismatch reads " +
      "Int.MaxValue (never inside a radius); SQL form; codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(4233)
    val rows = Seq.fill(200)((Seq.fill(4)(rnd.nextLong()), Seq.fill(4)(rnd.nextLong())))
    val df = rows.toDF("a", "b")
    val drift = df.select(
      (GraftFunctions.hammingLongs(col("a"), col("b")) =!=
        graft.llm.Dedup.hammingWideHof(col("a"), col("b"))).as("d"))
      .filter(col("d")).count()
    assert(drift == 0, s"$drift rows diverge from the HOF formulation")
    // identity and single-bit sanity
    assert(df.select(GraftFunctions.hammingLongs(col("a"), col("a")).as("h"))
      .filter(col("h") =!= 0).count() == 0)
    // mismatched word counts = different width lineages: the sentinel
    // must be un-matchable, not a silent prefix distance
    val mixed = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L))).toDF("a", "b")
    assert(mixed.select(GraftFunctions.hammingLongs(col("a"), col("b")))
      .head().getInt(0) == Int.MaxValue)
    // SQL registration path
    assert(spark.sql(
      "SELECT graft_hamming(array(0L, -1L), array(0L, 0L))").head().getInt(0) == 64)
    // type error caught at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_hamming(array('x'), array('y'))").collect()
    }
  }
}

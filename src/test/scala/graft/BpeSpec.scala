package graft

import org.apache.spark.sql.functions._
import graft.functions.{BpeRegistry, BpeVocab, GraftFunctions}

/** Real BPE token counting from a config-loaded merge table: the
  * classic `low/lower/newer` fixture hand-computed, merge-priority
  * order sensitivity, merge-all-occurrences semantics, and the Spark
  * surface (Column + SQL forms, codegen, null handling). */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def mergesFile(lines: String*): String = {
    val f = java.nio.file.Files.createTempFile("graft_bpe_merges", ".txt")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  // the standard BPE textbook fixture: merges learned as l+o, lo+w, e+r
  private lazy val classicPath =
    mergesFile("#version: 0.2", "l o", "lo w", "e r")

  test("classic fixture: low/lower/newer counts match hand-applied merges") {
    val v = BpeRegistry.get(classicPath)
    // low:   l,o,w -> lo,w -> low            = 1 token
    // lower: l,o,w,e,r -> lo,w,e,r -> low,e,r -> low,er = 2 tokens
    // newer: n,e,w,e,r -> n,e,w,er           = 4 tokens (no n/e merges)
    assert(v.countWord("low") == 1)
    assert(v.countWord("lower") == 2)
    assert(v.countWord("newer") == 4)
    assert(v.countText("low lower newer") == 7)
    // case-sensitive: 'L o' is not in the table
    assert(v.countWord("Low") == 3)
  }

  test("merge priority order changes the result (rank = line order)") {
    // a+b first: abc -> ab,c -> abc = 1 token
    val ab = BpeRegistry.get(mergesFile("a b", "ab c", "b c"))
    assert(ab.countWord("abc") == 1)
    // b+c first: abc -> a,bc (a+bc not in table) = 2 tokens
    val bc = BpeRegistry.get(mergesFile("b c", "a b", "ab c"))
    assert(bc.countWord("abc") == 2)
  }

  test("the best pair merges at ALL occurrences, then iterates") {
    // aaaa -> aa,aa -> aaaa = 1 token
    val v = BpeRegistry.get(mergesFile("a a", "aa aa"))
    assert(v.countWord("aaaa") == 1)
    assert(v.countWord("aaa") == 2)  // aa,a (left-to-right, no overlap)
  }

  test("pretokenizer: letter/digit/symbol runs, whitespace free") {
    val v = BpeRegistry.get(mergesFile("s t"))
    // don't stop! -> don / ' / t / stop / ! ; st merges inside 'stop'
    assert(v.countText("don't stop!") == 3 + 1 + 1 + 3 + 1)
    // digits are their own runs: 'ab12' -> ab | 12
    val empty = BpeRegistry.get(mergesFile("q q"))
    assert(empty.countText("ab12") == 4)
    assert(empty.countText("   ") == 0)
    assert(empty.countText("") == 0)
  }

  test("malformed merge lines are rejected") {
    intercept[IllegalArgumentException] {
      BpeVocab.parse(Iterator("a b c"))
    }
    intercept[IllegalArgumentException] {
      BpeVocab.parse(Iterator("single"))
    }
  }

  test("Column + SQL surfaces agree; null stays null; codegen survives") {
    val df = Seq((1L, "low lower newer"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val viaColumn = df.select(col("id"),
      graft.llm.TextAnalysis.bpeTokenCount(col("text"), classicPath).as("n"))
    val rows = viaColumn.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(rows == Map(1L -> 7, 2L -> -1))
    df.createOrReplaceTempView("bpe_docs")
    val viaSql = spark.sql(
      s"SELECT id, graft_bpe_count(text, '$classicPath') AS n FROM bpe_docs WHERE text IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == Map(1L -> 7))
    // stays inside whole-stage codegen (spans show as the *(n) prefix);
    // a parquet-backed scan — local relations fold before codegen
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.llm.TextAnalysis.bpeTokenCount(col("text"), classicPath))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected WholeStageCodegen:\n$plan")
  }

  test("bpe segments: hand-applied merges, count parity, Column + SQL surfaces") {
    val v = BpeRegistry.get(classicPath)
    assert(v.segmentWord("lower").toSeq == Seq("low", "er"))
    assert(v.segmentWord("newer").toSeq == Seq("n", "e", "w", "er"))
    assert(v.segmentText("low lower newer").toArray.toSeq ==
      Seq("low", "low", "er", "n", "e", "w", "er"))
    val df = Seq((1L, "low lower newer"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val rows = df.select(col("id"),
      GraftFunctions.bpeSegments(col("text"), classicPath).as("segs"),
      GraftFunctions.bpeCount(col("text"), classicPath).as("n"))
      .collect()
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getSeq[String](1) == Seq("low", "low", "er", "n", "e", "w", "er"))
    assert(r1.getSeq[String](1).size == r1.getInt(2)) // size(segments) == count
    assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1))
    df.createOrReplaceTempView("bpe_seg_docs")
    val viaSql = spark.sql(
      s"SELECT graft_bpe_segments(text, '$classicPath') FROM bpe_seg_docs WHERE id = 1")
      .head().getSeq[String](0)
    assert(viaSql == Seq("low", "low", "er", "n", "e", "w", "er"))
  }

  test("id encoding: vocab round-trip decodes to the segments; unseen chars hit <unk>") {
    import graft.functions.BpeVocabIdRegistry
    val merges = classicPath
    val vocabFile = java.nio.file.Files.createTempFile("graft_bpe_vocab", ".txt")
    // <unk>, base chars of the fixture corpus, merge products in order
    val vocab = Seq("<unk>", "e", "l", "n", "o", "r", "w", "lo", "low", "er")
    java.nio.file.Files.write(vocabFile, vocab.mkString("\n").getBytes("UTF-8"))
    val df = Seq((1L, "low lower newer"), (2L, "zzz low")).toDF("id", "text")
    val got = df.select(col("id"),
        GraftFunctions.bpeEncode(col("text"), merges, vocabFile.toString).as("ids"),
        GraftFunctions.bpeSegments(col("text"), merges).as("segs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getSeq[String](2))).toList
    val byId = got.map(t => t._1 -> (t._2, t._3)).toMap
    // decode(ids) == segments wherever the segment is in-vocab
    val (ids1, segs1) = byId(1L)
    assert(ids1.map(vocab(_)) == segs1, s"round trip: $ids1 vs $segs1")
    assert(!ids1.contains(0), "no <unk> expected for covered text")
    // 'z' was never in the vocab → each z maps to <unk>=0; 'low' still encodes
    val (ids2, segs2) = byId(2L)
    assert(segs2 == Seq("z", "z", "z", "low"))
    assert(ids2 == Seq(0, 0, 0, vocab.indexOf("low")))
    // SQL surface agrees with the Column surface
    df.createOrReplaceTempView("bpe_enc_t")
    val sqlIds = spark.sql(
      s"SELECT graft_bpe_encode(text, '$merges', '$vocabFile') FROM bpe_enc_t WHERE id = 1")
      .head().getSeq[Int](0)
    assert(sqlIds == ids1)
    // a vocab without <unk> at line 0 is rejected loudly
    val bad = java.nio.file.Files.createTempFile("graft_bpe_vocab_bad", ".txt")
    java.nio.file.Files.write(bad, "a\nb\n".getBytes("UTF-8"))
    val e = intercept[Exception] {
      df.select(GraftFunctions.bpeEncode(col("text"), merges, bad.toString)).collect()
    }
    assert(e.getMessage != null)
  }

  test("buildVocab covers the training corpus: trainer-learned table encodes it unk-free") {
    import graft.llm.BpeTrainer
    val corpus = Seq("the quick brown fox", "the lazy dog", "quick quick the")
      .toDF("text")
    val merges = BpeTrainer.learnMerges(corpus, "text", numMerges = 10)
    val vocab = BpeTrainer.buildVocab(corpus, "text", merges)
    assert(vocab.head == "<unk>" && vocab.distinct == vocab)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_enc")
    val mPath = s"$dir/merges.txt"
    val vPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, vocab)
    val unks = corpus.select(
        GraftFunctions.bpeEncode(col("text"), mPath, vPath).as("ids"))
      .select(explode(col("ids")).as("i")).filter(col("i") === 0).count()
    assert(unks == 0, s"training corpus produced $unks <unk> ids")
  }

  test("buildVocab covers supplementary-plane characters (codepoint alphabet)") {
    // 😀 = U+1F600, a surrogate pair in UTF-16. Trainer, segmenter, and
    // vocab builder all split into CODEPOINTS, so a single occurrence —
    // no merge ever covers it — segments to the whole emoji, which the
    // base alphabet must carry; a UTF-16-unit split would emit lone
    // surrogates that can't round-trip through the UTF-8 vocab file
    // and the training corpus itself would encode to <unk>.
    import graft.llm.BpeTrainer
    val corpus = Seq("hello world 😀", "hello hello world").toDF("text")
    val merges = BpeTrainer.learnMerges(corpus, "text", numMerges = 10)
    val vocab = BpeTrainer.buildVocab(corpus, "text", merges)
    assert(vocab.contains("😀"), "base alphabet must hold the emoji codepoint")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_sup")
    val mPath = s"$dir/merges.txt"
    val vPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, vocab)
    val unks = corpus.select(
        GraftFunctions.bpeEncode(col("text"), mPath, vPath).as("ids"))
      .select(explode(col("ids")).as("i")).filter(col("i") === 0).count()
    assert(unks == 0, s"supplementary-plane corpus produced $unks <unk> ids")
  }

  test("byte fallback: unseen characters encode to byte tokens, never <unk>; " +
      "legacy vocab keeps <unk>; lossless round-trips byte-for-byte") {
    import graft.llm.BpeTrainer
    import graft.functions.IdVocab
    val corpus = Seq("the quick brown fox", "the lazy dog", "quick quick the")
      .toDF("text")
    val merges = BpeTrainer.learnMerges(corpus, "text", numMerges = 10)
    val vocab = BpeTrainer.buildVocab(corpus, "text", merges)
    // layout: <unk>, <eos>, 256 byte tokens, base chars, merge products
    assert(vocab.take(2) == Seq("<unk>", "<eos>"))
    assert(vocab.slice(2, 258) == (0 until 256).map(IdVocab.byteToken))
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_fb")
    val mPath = s"$dir/merges.txt"
    val vPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, vocab)
    // held-out doc with characters the training corpus never saw:
    // 'z' (BMP letter), 'ü' (2-byte UTF-8), '☃' (3-byte), '😀'
    // (supplementary plane, 4-byte) — plus covered words
    val heldOut = "the zügel ☃ quick 😀"
    val df = Seq((1L, heldOut)).toDF("id", "text")
    val ids = df.select(
        GraftFunctions.bpeEncode(col("text"), mPath, vPath).as("ids"))
      .head().getSeq[Int](0)
    assert(!ids.contains(0), s"byte-fallback vocab must never emit <unk>: $ids")
    // the unseen chars really did go through byte tokens (ids 2..257)
    assert(ids.exists(i => i >= 2 && i < 258), s"no byte-fallback ids in $ids")
    // lossless: decode(encode(x)) == x byte-for-byte, whitespace included
    val rt = df.select(GraftFunctions.bpeDecode(
        GraftFunctions.bpeEncodeLossless(col("text"), mPath, vPath), vPath).as("t"))
      .head().getString(0)
    assert(rt == heldOut, s"round trip: '$rt' vs '$heldOut'")
    // round-trip parity over messier inputs: CRLF, tabs, runs of spaces,
    // leading/trailing whitespace, mixed scripts
    val messy = Seq(
      "  leading and trailing  ",
      "tabs\tand\r\nCRLF\rlines\n",
      "mixed Ωμέγα and 中文 text",
      "")
    messy.zipWithIndex.foreach { case (s, i) =>
      val got = Seq((i.toLong, s)).toDF("id", "text")
        .select(GraftFunctions.bpeDecode(
          GraftFunctions.bpeEncodeLossless(col("text"), mPath, vPath), vPath))
        .head().getString(0)
      assert(got == s, s"round trip failed on ${s.getBytes("UTF-8").toSeq}")
    }
    // SQL surface agrees
    df.createOrReplaceTempView("bpe_fb_t")
    val viaSql = spark.sql(
      s"""SELECT graft_bpe_decode(
         |  graft_bpe_encode_lossless(text, '$mPath', '$vPath'), '$vPath')
         |FROM bpe_fb_t""".stripMargin).head().getString(0)
    assert(viaSql == heldOut)
    // a LEGACY vocab (byteFallback = false) keeps the <unk> = 0 contract
    val legacy = BpeTrainer.buildVocab(corpus, "text", merges, byteFallback = false)
    assert(legacy.head == "<unk>" && !legacy.contains("<0x00>"))
    val lPath = s"$dir/vocab_legacy.txt"
    BpeTrainer.saveVocab(spark, lPath, legacy)
    val legacyIds = df.select(
        GraftFunctions.bpeEncode(col("text"), mPath, lPath).as("ids"))
      .head().getSeq[Int](0)
    assert(legacyIds.contains(0), "legacy vocab must map unseen chars to <unk>")
    // lossless encode on a legacy vocab fails loudly (silent <unk>
    // whitespace would break the round-trip contract)
    val e = intercept[Exception] {
      df.select(GraftFunctions.bpeEncodeLossless(col("text"), mPath, lPath)).collect()
    }
    assert(String.valueOf(e.getMessage).contains("byte-fallback") ||
      String.valueOf(e.getCause).contains("byte-fallback"), s"got $e")
  }

  test("graft_bpe_id_count: the TRUE id count — equals size(encode) on every " +
      "doc and exceeds the segment count exactly when byte fallback fires") {
    import graft.llm.BpeTrainer
    val corpus = Seq("the quick brown fox", "the lazy dog").toDF("text")
    val merges = BpeTrainer.learnMerges(corpus, "text", numMerges = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_idcount")
    val mPath = s"$dir/merges.txt"
    val vPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, BpeTrainer.buildVocab(corpus, "text", merges))
    // doc 1 is fully covered (id count == segment count); doc 2 carries
    // OOV multi-byte chars (☃ = 3 ids, ü = 2 ids — one segment each)
    val df = Seq((1L, "the quick dog"), (2L, "the ☃ü dog"),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    val got = df.select(col("id"),
        GraftFunctions.bpeIdCount(col("text"), mPath, vPath).as("n_id"),
        GraftFunctions.bpeCount(col("text"), mPath).as("n_seg"),
        size(GraftFunctions.bpeEncode(col("text"), mPath, vPath)).as("n_enc"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(3L) == null)
    val (id1, seg1, enc1) = got(1L).asInstanceOf[(Int, Int, Int)]
    assert(id1 == enc1 && id1 == seg1, s"covered doc: $id1/$seg1/$enc1")
    val (id2, seg2, enc2) = got(2L).asInstanceOf[(Int, Int, Int)]
    assert(id2 == enc2, s"id count must equal size(encode): $id2 vs $enc2")
    // ☃ (3 bytes) + ü (2 bytes) = 5 ids from 2 segments → +3
    assert(id2 == seg2 + 3, s"byte fallback gap: ids=$id2 segments=$seg2")
    // SQL surface agrees
    df.createOrReplaceTempView("bpe_idc_t")
    val viaSql = spark.sql(
      s"SELECT graft_bpe_id_count(text, '$mPath', '$vPath') FROM bpe_idc_t WHERE id = 2")
      .head().getInt(0)
    assert(viaSql == id2)
  }

  test("id-aware BPE budget: with a byte-fallback vocab the chunker budgets " +
      "in token ids, so exported chunks never silently exceed the context " +
      "window the segment count would claim") {
    import graft.llm.BpeTrainer
    val corpus = Seq("the quick brown fox", "the lazy dog").toDF("text")
    val merges = BpeTrainer.learnMerges(corpus, "text", numMerges = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_idbudget")
    val mPath = s"$dir/merges.txt"
    val vPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mPath, merges)
    BpeTrainer.saveVocab(spark, vPath, BpeTrainer.buildVocab(corpus, "text", merges))
    // unseen multi-byte characters: each costs SEVERAL byte-fallback ids
    // but only ONE segment — the gap between the two budget units
    val doc = Seq((1L, Array.fill(12)("☃ü the").mkString(" ")))
      .toDF("doc_id", "text")
    def overBudget(vocab: Option[String]): Long =
      graft.llm.CorpusPrep.chunkByBpeBudget(doc, "doc_id", "text",
          bpeBudget = 12, mergesPath = mPath, vocabPath = vocab)
        .select(size(GraftFunctions.bpeEncode(col("chunk_text"), mPath, vPath))
          .as("n_ids"))
        .filter(col("n_ids") > 12).count()
    // segment-counted budget: chunks silently overflow in id units
    assert(overBudget(None) > 0,
      "precondition: the segment budget must under-count ids here")
    // id-counted budget: every exported chunk fits the context window
    assert(overBudget(Some(vPath)) == 0,
      "id-aware budget must bound size(token_ids) per chunk")
    // and chunk_bpe_tokens reports the id count exactly in vocab mode
    val rows = graft.llm.CorpusPrep.chunkByBpeBudget(doc, "doc_id", "text",
        bpeBudget = 12, mergesPath = mPath, vocabPath = Some(vPath))
      .select(col("chunk_bpe_tokens"),
        size(GraftFunctions.bpeEncode(col("chunk_text"), mPath, vPath))
          .cast("long").as("n_ids"))
    assert(rows.filter(col("chunk_bpe_tokens") =!= col("n_ids")).count() == 0)
  }

  test("BPE-budget chunking cuts at hand-computed subword boundaries") {
    // classic fixture: low=1, lower=2, newer=4 subwords
    // budget 4: [low lower]=3 (newer would make 7), [newer]=4, [low low]=2
    val df = Seq((1L, "low lower newer low low")).toDF("doc_id", "text")
    val got = graft.llm.CorpusPrep.chunkByBpeBudget(
      df, "doc_id", "text", bpeBudget = 4, mergesPath = classicPath)
      .select("chunk_id", "chunk_text", "chunk_tokens", "chunk_bpe_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, "low lower", 2L, 3L),
      (1L, "newer", 1L, 4L),
      (2L, "low low", 2L, 2L)))
  }

  test("a single token over the budget forms its own chunk, never dropped") {
    val df = Seq((1L, "newer low")).toDF("doc_id", "text")
    val got = graft.llm.CorpusPrep.chunkByBpeBudget(
      df, "doc_id", "text", bpeBudget = 3, mergesPath = classicPath)
      .select("chunk_text", "chunk_bpe_tokens").as[(String, Long)].collect().toSeq
    // newer alone is 4 > 3 — emitted over-budget (filterable), low packs next
    assert(got == Seq(("newer", 4L), ("low", 1L)))
  }

  test("BPE-budget chunking with whitespace-token overlap advances and re-covers") {
    val df = Seq((1L, "low lower newer")).toDF("doc_id", "text")
    val got = graft.llm.CorpusPrep.chunkByBpeBudget(
      df, "doc_id", "text", bpeBudget = 3, mergesPath = classicPath, overlap = 1)
      .select("chunk_text").as[String].collect().toSeq
    // [low lower]=3; restart one token back: [lower]=2 (newer would be 6);
    // restart clamps forward: [newer]
    assert(got == Seq("low lower", "lower", "newer"))
  }

  test("chunk_bpe_tokens equals a re-count of the chunk text; empty/null text gives no rows") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(30)
      .select(col("doc_id"), col("text"))
      .union(Seq((-1L, ""), (-2L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val chunks = graft.llm.CorpusPrep.chunkByBpeBudget(
      docs, "doc_id", "text", bpeBudget = 32, mergesPath = classicPath)
    assert(chunks.filter(col("doc_id") < 0).count() == 0)
    val mismatch = chunks.withColumn("recount",
      graft.llm.TextAnalysis.bpeTokenCount(col("chunk_text"), classicPath).cast("long"))
      .filter(col("recount") =!= col("chunk_bpe_tokens")).count()
    assert(mismatch == 0)
    // every chunk within budget on real text (no single pretoken run in
    // the docs table exceeds 32 under a table with no applicable merges
    // only if tokens are short — instead assert the budget is respected
    // wherever a chunk has more than one whitespace token)
    val overBudgetMulti = chunks
      .filter(col("chunk_tokens") > 1 && col("chunk_bpe_tokens") > 32).count()
    assert(overBudgetMulti == 0)
  }

  test("graft_bpe_chunks SQL surface agrees with the Column form") {
    Seq((1L, "low lower newer low low")).toDF("doc_id", "text")
      .createOrReplaceTempView("bpe_chunk_docs")
    val viaSql = spark.sql(
      s"""SELECT c.chunk_text, c.chunk_bpe_tokens
         |FROM bpe_chunk_docs
         |LATERAL VIEW explode(graft_bpe_chunks(text, '$classicPath', 4, 0)) t AS c
         |""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(viaSql == Seq(("low lower", 3), ("newer", 4), ("low low", 2)))
  }

  test("counts over the documents table are sane vs the heuristic") {
    // with a tiny table most text stays at ~1 token per character run;
    // a real merges table only ever lowers counts relative to raw chars
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val v = docs.select(
      graft.llm.TextAnalysis.bpeTokenCount(col("text"), classicPath).as("real"),
      graft.llm.TextAnalysis.bpeishTokenCount(col("text")).as("heur"),
      length(col("text")).as("chars"))
      .collect()
    v.foreach { r =>
      assert(r.getInt(0) > 0)
      assert(r.getInt(0) <= r.getInt(2), "token count cannot exceed char count")
    }
  }

  // ---------------------------------------------------- merge LEARNING

  test("learnFromCounts: the classic corpus learns hand-computed merges " +
      "(max count, lexicographic ties)") {
    // pair counts by hand: (e,s)=9 (s,t)=9 -> lex picks (e,s); after it
    // (es,t)=9; then (l,o)=7 ties (o,w)=7 -> (l,o); then (lo,w)=7
    val merges = graft.llm.BpeTrainer.learnFromCounts(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("learned merges round-trip through BpeVocab: training words AND unseen " +
      "compositions segment under the learned table") {
    val merges = graft.llm.BpeTrainer.learnFromCounts(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    val path = java.nio.file.Files.createTempDirectory("bpe-learn")
      .resolve("merges.txt").toString
    graft.llm.BpeTrainer.saveMerges(spark, path, merges)
    val vocab = graft.functions.BpeVocab.parse(
      scala.io.Source.fromFile(path, "UTF-8").getLines())
    assert(vocab.segmentWord("newest").toSeq == Seq("n", "e", "w", "est"))
    // "lowest" never occurred, yet composes from learned symbols
    assert(vocab.segmentWord("lowest").toSeq == Seq("low", "est"))
  }

  test("learning stops when no pair occurs twice (count-1 pairs never merge)") {
    assert(graft.llm.BpeTrainer.learnFromCounts(Seq("ab" -> 1L, "cd" -> 1L), 5).isEmpty)
    // asking for more merges than exist stops early, no padding
    val m = graft.llm.BpeTrainer.learnFromCounts(Seq("aaa" -> 3L), 50)
    assert(m.nonEmpty && m.length < 50)
  }

  test("distributed merge loop replays the in-heap trainer exactly at batchK=1 " +
      "(classic fixture + real corpus prefix)") {
    import spark.implicits._
    val fixture = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val inHeap = graft.llm.BpeTrainer.learnFromCounts(fixture, 4)
    val dist = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      fixture.toDF("word", "n"), numMerges = 4, batchK = 1)
    assert(dist == inHeap && dist == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // real corpus: first 8 merges identical under both loops
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text").limit(100)
    val counts = graft.llm.BpeTrainer.pretokenCounts(docs, "text")
    val heapTop = counts.orderBy(org.apache.spark.sql.functions.desc("n"),
        org.apache.spark.sql.functions.asc("word"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(graft.llm.BpeTrainer.learnMergesDistributedFromCounts(counts, 8, batchK = 1)
      == graft.llm.BpeTrainer.learnFromCounts(heapTop, 8))
  }

  test("distributed loop crash-resume: continuing from a round-boundary prefix " +
      "reproduces the uninterrupted run exactly (batchK=1 and batched)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text").limit(200)
    val counts = graft.llm.BpeTrainer.pretokenCounts(docs, "text")
    // batchK=1: every merge is a round boundary
    val full = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges = 8, batchK = 1)
    val resumed = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges = 8, batchK = 1, resumeFrom = full.take(4))
    assert(resumed == full, "resume from a 4-merge prefix must replay the full run")
    // batched: resume from what the PROGRESS HOOK actually persists —
    // the CLI's crash-checkpoint mechanism end-to-end
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    val fullB = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges = 9, batchK = 3, checkpointEvery = 2,
      onProgress = ms => { snapshots += ms; () })
    val mid = snapshots.find(_.size < fullB.size).getOrElse(
      fail("no mid-run progress snapshot fired"))
    assert(graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges = 9, batchK = 3, checkpointEvery = 2, resumeFrom = mid)
      == fullB, "resume from a progress-hook snapshot must replay the batched run")
    // a prefix longer than the target is rejected up front
    intercept[IllegalArgumentException] {
      graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
        counts, numMerges = 3, resumeFrom = full.take(4))
    }
  }

  test("distributed loop frees ALL storage, including checkpoint generations " +
      "(the round-10 leak: Dataset.localCheckpoint blocks were never unpersisted)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // checkpointEvery=2 over enough rounds to mint and SUPERSEDE several
    // checkpoint generations (batchK=1 → one merge per round)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text").limit(200)
    val counts = graft.llm.BpeTrainer.pretokenCounts(docs, "text")
    val merges = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      counts, numMerges = 9, batchK = 1, checkpointEvery = 2)
    assert(merges.length == 9)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"distributed trainer left ${leaked.size} persisted RDD(s) behind: $leaked")
    // and the checkpointed path still replays the in-heap trainer exactly
    val heapTop = counts.orderBy(org.apache.spark.sql.functions.desc("n"),
        org.apache.spark.sql.functions.asc("word"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(merges == graft.llm.BpeTrainer.learnFromCounts(heapTop, 9))
  }

  test("batched distributed loop: non-interacting prefix preserves the fixture's " +
      "merge sequence; interacting chains are split across batches") {
    import spark.implicits._
    val fixture = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    // (e,s) then (es,t) INTERACT (product of the first is the left of the
    // second) — the prefix stop must separate them, keeping sequential order
    val batched = graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      fixture.toDF("word", "n"), numMerges = 4, batchK = 8)
    assert(batched == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // early stop parity: no pair occurs twice → no merges, either loop
    assert(graft.llm.BpeTrainer.learnMergesDistributedFromCounts(
      Seq("ab" -> 1L, "cd" -> 1L).toDF("word", "n"), 5).isEmpty)
  }

  test("learnMerges auto-switches to the distributed loop above the maxWords cut, " +
      "same merges (vocab is no longer truncated to the cut)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text").limit(60)
    // corpus has far more than 10 distinct pretokens → distributed path
    val viaSwitch = graft.llm.BpeTrainer.learnMerges(docs, "text",
      numMerges = 6, maxWords = 10, batchK = 1)
    val inHeapFull = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 6)
    assert(viaSwitch == inHeapFull)
    // byte-level twin: same switch, same parity
    val viaByteSwitch = graft.llm.BpeTrainer.learnByteMerges(docs, "text",
      numMerges = 6, maxWords = 10, batchK = 1)
    val byteFull = graft.llm.BpeTrainer.learnByteMerges(docs, "text", numMerges = 6)
    assert(viaByteSwitch == byteFull)
  }

  test("pretokenCounts matches the BpeVocab pretokenization contract") {
    import spark.implicits._
    val counts = graft.llm.BpeTrainer.pretokenCounts(
      Seq("don't stop, don't", "stop 42!").toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // letter runs, digit runs, symbol runs; whitespace contributes nothing
    assert(counts == Map("don" -> 2L, "'" -> 2L, "t" -> 2L, "stop" -> 2L,
      "," -> 1L, "42" -> 1L, "!" -> 1L))
  }

  test("learnMerges on the real corpus is deterministic and its first merge " +
      "is the true argmax of raw pair counts") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
    val m1 = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 6)
    val m2 = graft.llm.BpeTrainer.learnMerges(docs, "text", numMerges = 6)
    assert(m1 == m2 && m1.length == 6)
    // independent argmax: count char pairs over the word-frequency
    // table in plain Scala, no trainer code involved
    val wc = graft.llm.BpeTrainer.pretokenCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((w, c) <- wc; i <- 0 until w.length - 1) {
      val p = (String.valueOf(w(i)), String.valueOf(w(i + 1)))
      pairs(p) = pairs.getOrElse(p, 0L) + c
    }
    val best = pairs.toSeq.maxBy { case ((a, b), n) => (n, a, b) }
    val expected = pairs.filter(_._2 == best._2).keys.toSeq.sorted.head
    assert(m1.head == expected, s"first merge ${m1.head} vs independent argmax $expected")
  }
}

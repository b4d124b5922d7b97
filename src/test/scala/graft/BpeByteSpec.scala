package graft

import org.apache.spark.sql.functions._
import graft.functions.{BpeByteVocabRegistry, ByteUnicode, GraftFunctions}
import graft.llm.BpeTrainer

/** GPT-2-style byte-level BPE: the byte↔unicode bijection's published
  * fixed points (space = Ġ, newline = Ċ), the pretokenizer's tiling
  * property (which is what makes encoding total and lossless), trainer
  * → encode → decode round-trips on held-out text in scripts the
  * training corpus never saw, the Ġ-economy claim vs the
  * byte-fallback lossless export, loud failures on artifact drift, and
  * the SQL surface. */
class BpeByteSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_bpe_byte").toString

  /** Train byte-level artifacts on `corpus`, return (merges, vocab) paths. */
  private def train(corpus: Seq[String], numMerges: Int): (String, String) = {
    val dir = tmpDir()
    val merges = BpeTrainer.learnByteMerges(corpus.toDF("text"), "text", numMerges)
    val mergesPath = s"$dir/merges.txt"
    val vocabPath = s"$dir/vocab.txt"
    BpeTrainer.saveMerges(spark, mergesPath, merges)
    BpeTrainer.saveVocab(spark, vocabPath, BpeTrainer.buildByteVocab(merges))
    (mergesPath, vocabPath)
  }

  test("byte<->unicode table is a bijection with the published fixed points") {
    // bijective over 256 bytes
    assert(ByteUnicode.toChar.distinct.length == 256)
    (0 until 256).foreach { b =>
      assert(ByteUnicode.fromChar(ByteUnicode.toChar(b).toInt) == b)
    }
    // printable ASCII maps to itself
    assert(ByteUnicode.toChar('A'.toInt) == 'A')
    assert(ByteUnicode.toChar('!'.toInt) == '!')
    assert(ByteUnicode.toChar('~'.toInt) == '~')
    // the famous shifted bytes: space (33rd non-printable) = U+0120 Ġ,
    // newline (11th) = U+010A Ċ, tab (10th) = U+0109 ĉ
    assert(ByteUnicode.toChar(0x20) == 'Ġ')
    assert(ByteUnicode.toChar(0x0A) == 'Ċ')
    assert(ByteUnicode.toChar(0x09) == 'ĉ')
    // no mapped char is whitespace or a control — the line-oriented
    // merges.txt / vocab.txt formats stay unambiguous
    ByteUnicode.toChar.foreach { c =>
      assert(!Character.isWhitespace(c) && !Character.isISOControl(c))
    }
    // chars outside the alphabet decode to -1
    assert(ByteUnicode.fromChar(' '.toInt) == -1)
  }

  test("pretokenizer tiles any input (concat of matches == input)") {
    val nasty = Seq(
      "hello world",
      "  leading and trailing  ",
      "don't stop, won't I'll we're you've I'm they'd",
      "tabs\tand\r\nnewlines\n\n double  spaces",
      "naïve café ☃ 😀 中文 العربية",
      "x86-64 v2.0 (beta) [#1] 100%",
      "", " ", "\n", "a")
    nasty.foreach { s =>
      val m = ByteUnicode.Pretoken.matcher(s)
      val sb = new StringBuilder
      while (m.find()) sb.append(m.group())
      assert(sb.toString == s, s"pretokens must tile '$s'")
    }
  }

  test("trainer round-trip: decode(encode(x)) == x on held-out scripts") {
    val (mergesPath, vocabPath) = train(
      Seq("the quick brown fox", "the lazy dog", "the the the"), numMerges = 16)
    val heldOut = Seq(
      "the quick dog",                    // seen words
      "completely unseen words here",     // unseen ASCII
      "naïve café ☃ 😀",                  // unseen scripts + supplementary plane
      "tabs\tCRLF\r\nand  runs   ",       // whitespace structure
      "")                                  // empty
    heldOut.foreach { s =>
      val ids = BpeByteVocabRegistry.encode(mergesPath, vocabPath,
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val back = BpeByteVocabRegistry.decode(vocabPath, ids).toString
      assert(back == s, s"round-trip must be byte-exact for '$s'")
      // count == size(encode) by construction
      assert(BpeByteVocabRegistry.count(mergesPath,
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == ids.numElements())
    }
  }

  test("space rides the token: ' the' becomes one id after merges") {
    // heavy repetition of ' the' so (Ġ,t),(Ġt,h),(Ġth,e) all get learned
    val (mergesPath, vocabPath) = train(
      Seq.fill(20)("the the the the the"), numMerges = 16)
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(" the the the")
    val n = BpeByteVocabRegistry.count(mergesPath, u)
    assert(n == 3, s"' the' x3 should be 3 ids (Ġthe each), got $n")
    // and the economy claim vs the byte-fallback lossless export: the
    // segment-level lossless form spends one id PER SPACE on top of the
    // word ids — byte-level must be strictly cheaper on spaced text
    val dir = tmpDir()
    val segMerges = BpeTrainer.learnMerges(
      Seq.fill(20)("the the the the the").toDF("text"), "text", numMerges = 16)
    BpeTrainer.saveMerges(spark, s"$dir/m.txt", segMerges)
    BpeTrainer.saveVocab(spark, s"$dir/v.txt",
      BpeTrainer.buildVocab(Seq.fill(20)("the the the the the").toDF("text"),
        "text", segMerges))
    val lossless = graft.functions.BpeVocabIdRegistry.encodeLossless(
      s"$dir/m.txt", s"$dir/v.txt", u)
    assert(n < lossless.numElements(),
      s"byte-level ($n ids) must beat byte-fallback lossless (${lossless.numElements()}) on spaced text")
    assert(BpeByteVocabRegistry.decode(vocabPath,
      BpeByteVocabRegistry.encode(mergesPath, vocabPath, u)).toString == " the the the")
  }

  test("contractions split like the published tokenizer") {
    val (mergesPath, vocabPath) = train(Seq("plain text"), numMerges = 2)
    // "don't" pretokenizes as don | 't — the 't lands in its own ids
    // whose decoded concatenation still reproduces the input
    val u = org.apache.spark.unsafe.types.UTF8String.fromString("don't")
    val ids = BpeByteVocabRegistry.encode(mergesPath, vocabPath, u)
    assert(BpeByteVocabRegistry.decode(vocabPath, ids).toString == "don't")
  }

  test("published-format interop: a hand-written 'Ġ t' merge applies") {
    // a real GPT-2 merges.txt carries mapped spellings like 'Ġ t' —
    // our loader + segmenter consume them directly
    val dir = tmpDir()
    val mergesPath = s"$dir/merges.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(mergesPath),
      "#version: 0.2\nĠ t\nĠt o\n".getBytes("UTF-8"))
    val vocabPath = s"$dir/vocab.txt"
    BpeTrainer.saveVocab(spark, vocabPath,
      BpeTrainer.buildByteVocab(Seq(("Ġ", "t"), ("Ġt", "o"))))
    val u = org.apache.spark.unsafe.types.UTF8String.fromString("go to")
    // 'go' -> g,o (2) ; ' to' -> Ġto (1)
    assert(BpeByteVocabRegistry.count(mergesPath, u) == 3)
    assert(BpeByteVocabRegistry.decode(vocabPath,
      BpeByteVocabRegistry.encode(mergesPath, vocabPath, u)).toString == "go to")
  }

  test("artifact drift fails loudly, never silently") {
    val dir = tmpDir()
    // vocab missing the byte alphabet -> rejected at load
    val badVocab = s"$dir/bad_vocab.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(badVocab),
      "<unk>\n<eos>\nab\n".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] {
      BpeByteVocabRegistry.get(badVocab)
    }
    assert(e1.getMessage.contains("byte-level"))
    // vocab with a token outside the alphabet -> rejected at load
    val badTok = s"$dir/bad_tok.txt"
    val full = BpeTrainer.buildByteVocab(Nil) :+ "badtok"
    java.nio.file.Files.write(java.nio.file.Paths.get(badTok),
      full.mkString("\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      BpeByteVocabRegistry.get(badTok)
    }
    assert(e2.getMessage.contains("alphabet"))
    // merges whose product the vocab lacks -> loud at encode
    val mergesPath = s"$dir/merges.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(mergesPath),
      "a b\n".getBytes("UTF-8"))
    val vocabPath = s"$dir/vocab.txt"
    BpeTrainer.saveVocab(spark, vocabPath, BpeTrainer.buildByteVocab(Nil))
    val e3 = intercept[IllegalArgumentException] {
      BpeByteVocabRegistry.encode(mergesPath, vocabPath,
        org.apache.spark.unsafe.types.UTF8String.fromString("ab"))
    }
    assert(e3.getMessage.contains("not built together"))
  }

  test("Column + SQL surfaces agree; null stays null; codegen survives") {
    val (mergesPath, vocabPath) = train(Seq("alpha beta gamma"), numMerges = 8)
    val df = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val viaColumn = df.select(col("id"),
      GraftFunctions.bpeByteDecode(
        GraftFunctions.bpeByteEncode(col("text"), mergesPath, vocabPath),
        vocabPath).as("back"),
      GraftFunctions.bpeByteCount(col("text"), mergesPath).as("n"))
    val rows = viaColumn.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows == Map(1L -> "alpha beta", 2L -> null))

    df.createOrReplaceTempView("bpe_byte_docs")
    val viaSql = spark.sql(
      s"""SELECT id,
         |  graft_bpe_byte_decode(
         |    graft_bpe_byte_encode(text, '$mergesPath', '$vocabPath'),
         |    '$vocabPath') AS back,
         |  graft_bpe_byte_count(text, '$mergesPath') AS n,
         |  size(graft_bpe_byte_encode(text, '$mergesPath', '$vocabPath')) AS sz
         |FROM bpe_byte_docs""".stripMargin).collect()
    viaSql.foreach { r =>
      if (!r.isNullAt(1)) {
        assert(r.getString(1) == "alpha beta")
        assert(r.getInt(2) == r.getInt(3), "count must equal size(encode)")
      }
    }
  }

  test("vocab layout: <unk>=0, <eos>=1, bytes 2..257, merge products after") {
    val vocab = BpeTrainer.buildByteVocab(Seq(("t", "h"), ("th", "e")))
    assert(vocab.take(2) == Seq("<unk>", "<eos>"))
    assert(vocab.slice(2, 258) ==
      (0 until 256).map(b => ByteUnicode.toChar(b).toString))
    assert(vocab.drop(258) == Seq("th", "the"))
    val v = {
      val dir = tmpDir()
      BpeTrainer.saveVocab(spark, s"$dir/v.txt", vocab)
      BpeByteVocabRegistry.get(s"$dir/v.txt")
    }
    assert(v.eosId == 1)
    assert(v.tokenBytes(0) == null && v.tokenBytes(1) == null)
    assert(v.tokenBytes(2).sameElements(Array(0.toByte)))
  }

  test("graft_byte_unicode: the in-plan byte map equals the driver-side " +
      "bijection on multi-byte/supplementary/whitespace input, and the " +
      "trainer's count shuffle carries mapped symbols") {
    val tricky = Seq(
      "hello world", " leading", "trailing ", "tab\there", "a\nb",
      "héllo wörld", "日本語テスト", "emoji 😀 pair", "mixedСкрипт",
      " nul", "ascii!~")
    val viaPlan = tricky.toDF("s")
      .select(GraftFunctions.byteUnicodeMap(col("s")).as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(viaPlan == tricky.map(ByteUnicode.mapBytes),
      "plan-side map must equal ByteUnicode.mapBytes byte-for-byte")
    // null stays null; SQL name registered
    assert(Seq((1, null: String)).toDF("i", "s")
      .select(GraftFunctions.byteUnicodeMap(col("s"))).head().isNullAt(0))
    tricky.toDF("s").createOrReplaceTempView("byteuni_docs")
    val viaSql = spark.sql(
      "SELECT graft_byte_unicode(s) FROM byteuni_docs")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == tricky.map(ByteUnicode.mapBytes))
    // the count table's words ARE mapped symbols: every key survives
    // a fromChar round-trip and contains no raw whitespace
    val words = BpeTrainer.bytePretokenCounts(tricky.toDF("text"), "text")
      .collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(w.forall(c => c < 512 && ByteUnicode.fromChar(c.toInt) >= 0),
        s"count-table word '$w' is not in the mapped alphabet")
      assert(!w.exists(_.isWhitespace), s"mapped word '$w' contains whitespace")
    }
    assert(words.exists(_.startsWith("Ġ")),
      "space-prefixed pretokens must appear as Ġ-words in the count table")
  }

  test("graft_bpe_byte_chunks: pretoken-boundary cuts under a byte-level id " +
      "budget — overlap-0 chunks concatenate back byte-for-byte, every " +
      "chunk's count equals its own re-count, budget respected") {
    val corpus = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "spaces   run  long\t\tand\nnewlines too", "short",
      "code { x = 1;  y = 2; }  // indented\n    block")
    val (mergesPath, _) = train(corpus, 24)
    val docs = (corpus ++ Seq(
      "héllo wörld and 日本語 mixed with emoji 😀 text",
      "")).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val chunks = docs.select(col("id"),
      posexplode(GraftFunctions.bpeByteChunks(col("text"), mergesPath, 8, 0))
        .as(Seq("cid", "c")))
      .select(col("id"), col("cid"), col("c.chunk_text").as("t"),
        col("c.chunk_tokens").as("n"), col("c.chunk_bpe_tokens").as("b"))
    // budget respected for multi-pretoken chunks; single over-budget
    // pretokens form their own chunk
    assert(chunks.filter(col("b") > 8 && col("n") > 1).count() == 0)
    // a chunk's count equals graft_bpe_byte_count of its own text —
    // boundary-aligned substrings re-pretokenize identically
    assert(chunks.filter(
      GraftFunctions.bpeByteCount(col("t"), mergesPath) =!= col("b")).count() == 0)
    // overlap-0 lossless reconstruction (includes whitespace runs)
    val rebuilt = chunks.groupBy("id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("cid"), col("t"))))
        .getField("t")).as("r"))
      .join(docs, "id")
    assert(rebuilt.filter(col("r") =!= col("text")).count() == 0,
      "chunks must tile the document byte-for-byte")
    // empty doc -> zero chunks; null -> null
    assert(chunks.filter(col("id") === 5L).count() == 0)
    assert(Seq((1, null: String)).toDF("i", "text")
      .select(GraftFunctions.bpeByteChunks(col("text"), mergesPath, 8, 0))
      .head().isNullAt(0))
    // overlap advances and re-covers: with overlap 1 every later chunk
    // starts one pretoken before the previous end
    val withOverlap = docs.filter(col("id") === 0)
      .select(posexplode(GraftFunctions.bpeByteChunks(col("text"), mergesPath, 8, 1))
        .as(Seq("cid", "c")))
    assert(withOverlap.count() >= chunks.filter(col("id") === 0).count())
    // SQL surface
    docs.createOrReplaceTempView("bpe_byte_chunk_docs")
    val viaSql = spark.sql(
      s"SELECT size(graft_bpe_byte_chunks(text, '$mergesPath', 8, 0)) FROM bpe_byte_chunk_docs WHERE id = 0")
      .head().getInt(0)
    assert(viaSql == chunks.filter(col("id") === 0).count())
  }

  test("graft_bpe_byte_chunks with declared specials: a cut never lands " +
      "mid-spelling, the spelling costs its one fixed id, and " +
      "chunk_bpe_tokens equals what encode emits for every chunk") {
    val special = "<|eot|>"
    val corpus = Seq(
      "the quick brown fox jumps over the lazy dog",
      "ab cd ef gh ij kl")
    val (mergesPath, _) = train(corpus, 16)
    // the Tokenizer CLI layout: the special appended at the vocab tail
    val dir = tmpDir()
    val vocabPath = s"$dir/vocab_sp.txt"
    BpeTrainer.saveVocab(spark, vocabPath,
      BpeTrainer.buildByteVocab(
        BpeTrainer.loadMerges(spark, mergesPath)) :+ special)
    val docs = Seq(
      (0L, s"ab$special" + "cd"),             // mid-"word" spelling
      (1L, special),                          // the whole doc is one special
      (2L, s"the quick$special$special fox"), // adjacent specials
      (3L, "no specials here at all")
    ).toDF("id", "text")
    // budget 1: every pretoken its own chunk — the adversarial case
    // where an unprotected cut is GUARANTEED to split the spelling
    // (the pretokenizer tiles '<|eot|>' as '<|', 'eot', '|>')
    def occurrences(s: String): Int = {
      var (n, p) = (0, s.indexOf(special))
      while (p >= 0) { n += 1; p = s.indexOf(special, p + special.length) }
      n
    }
    val naive = docs.filter(col("id") === 0L)
      .select(explode(GraftFunctions.bpeByteChunks(col("text"), mergesPath, 1, 0)))
      .select(col("col.chunk_text")).collect().map(_.getString(0))
    assert(naive.map(occurrences).sum == 0,
      s"control: WITHOUT the carve, budget-1 chunking splits the spelling: ${naive.toSeq}")
    val chunks = docs.select(col("id"),
      posexplode(GraftFunctions.bpeByteChunks(
        col("text"), mergesPath, 1, 0, Seq(special)))
        .as(Seq("cid", "c")))
      .select(col("id"), col("cid"), col("c.chunk_text").as("t"),
        col("c.chunk_bpe_tokens").as("b"))
    val rows = chunks.collect()
    // every occurrence survives the tiling WHOLE: per-doc occurrence
    // counts over the chunks equal the document's (a split spelling
    // would drop its occurrence — the halves match nothing)
    val perDoc = rows.groupBy(_.getLong(0))
      .view.mapValues(_.map(r => occurrences(r.getString(2))).sum).toMap
    assert(perDoc(0L) == 1 && perDoc(1L) == 1 && perDoc(2L) == 2 && perDoc(3L) == 0,
      s"specials must stay atomic through chunking: $perDoc")
    // overlap-0 chunks still tile the doc byte-for-byte
    val rebuilt = chunks.groupBy("id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("cid"), col("t"))))
        .getField("t")).as("r"))
      .join(docs, "id")
    assert(rebuilt.filter(col("r") =!= col("text")).count() == 0)
    // budget parity: chunk_bpe_tokens == size(encode(chunk_text)) under
    // the same specials — a special-bearing chunk costs 1 per spelling,
    // exactly what encode emits (so context-window sizing stays honest)
    assert(chunks.filter(
      size(GraftFunctions.bpeByteEncode(col("t"), mergesPath, vocabPath,
        Seq(special))) =!= col("b")).count() == 0,
      "chunk budgets must count the special as its one fixed id")
    // a pure-special chunk reports cost 1
    assert(rows.filter(_.getString(2) == special).forall(_.getInt(3) == 1))
    // SQL surface: 5th comma-separated specials argument
    docs.createOrReplaceTempView("bpe_byte_sp_docs")
    val viaSql = spark.sql(
      s"SELECT graft_bpe_byte_chunks(text, '$mergesPath', 1, 0, '$special') " +
        "FROM bpe_byte_sp_docs WHERE id = 1")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(viaSql.length == 1 && viaSql.head.getString(0) == special &&
      viaSql.head.getInt(2) == 1, s"$viaSql")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, WordPieceRegistry, WordPieceVocab}
import graft.llm.WordPieceTrainer

/** WordPiece tokenization (Schuster & Nakajima 2012 / BERT): greedy
  * longest-match-first semantics on hand vocabularies, [UNK] and
  * keepRaw behavior, the structural round-trip, the SQL surface, and
  * the likelihood-scored trainer — including the case where the
  * likelihood argmax DIFFERS from BPE's raw-count argmax. */
class WordPieceSpec extends SparkTestBase {
  import spark.implicits._

  private def vocabFile(lines: String*): String = {
    val f = java.nio.file.Files.createTempFile("graft_wp_vocab", ".txt")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("BERT classic: unaffable -> un ##aff ##able; greedy longest match first") {
    val p1 = vocabFile("[UNK]", "un", "##aff", "##able", "aff")
    val v1 = WordPieceRegistry.get(p1)
    assert(v1.segmentWordOrNull("unaffable").toSeq == Seq("un", "##aff", "##able"))
    assert(v1.segmentWordOrNull("affable").toSeq == Seq("aff", "##able"))
    // a longer initial match wins even when the shorter one also covers
    val p2 = vocabFile("[UNK]", "una", "un", "##ffable", "##aff", "##able")
    val v2 = WordPieceRegistry.get(p2)
    assert(v2.segmentWordOrNull("unaffable").toSeq == Seq("una", "##ffable"))
  }

  test("[UNK] on uncoverable words and over-cap words; keepRaw keeps the word") {
    val p = vocabFile("[UNK]", "a", "##a")
    val v = WordPieceRegistry.get(p)
    assert(v.segmentWordOrNull("ab") == null) // ##b missing -> whole word fails
    assert(v.segmentText("aa ab", keepRaw = false).toArray.toSeq ==
      Seq("a", "##a", "[UNK]"))
    assert(v.segmentText("aa ab", keepRaw = true).toArray.toSeq ==
      Seq("a", "##a", "ab"))
    // BERT's max_input_chars_per_word: a coverable but over-long word fails
    val long = "a" * (WordPieceVocab.MaxCharsPerWord + 1)
    assert(v.segmentWordOrNull(long) == null)
    assert(v.segmentWordOrNull("a" * WordPieceVocab.MaxCharsPerWord) != null)
  }

  test("encode ids are vocab line numbers; count == size(encode)") {
    val p = vocabFile("[PAD]", "[UNK]", "un", "##aff", "##able")
    val v = WordPieceRegistry.get(p)
    val ids = v.encode("unaffable zzz")
    assert(ids.toArray.toSeq == Seq(2, 3, 4, 1)) // un ##aff ##able [UNK]
    assert(v.idCount("unaffable zzz") == 4)
  }

  test("structural round-trip: strip-by-position re-join equals the input") {
    val p = vocabFile("[UNK]", "un", "##aff", "##able", "##", "#")
    val v = WordPieceRegistry.get(p)
    val texts = Seq(
      "unaffable  unknown\twords\n",
      "#### ## # unaffable",  // symbol runs that collide with the ## prefix
      "  edges  ",
      "")
    for (t <- texts) assert(v.roundtrip(t) == t, s"round-trip failed for '$t'")
  }

  test("SQL + Column surfaces: segments (2- and 3-arg), encode, count, roundtrip") {
    val p = vocabFile("[UNK]", "un", "##aff", "##able")
    val df = Seq((1L, "unaffable qq")).toDF("id", "text")
    df.createOrReplaceTempView("wp_docs")
    val r = spark.sql(
      s"""SELECT graft_wordpiece_segments(text, '$p') AS s,
         |  graft_wordpiece_segments(text, '$p', true) AS raw,
         |  graft_wordpiece_encode(text, '$p') AS ids,
         |  graft_wordpiece_count(text, '$p') AS n,
         |  graft_wordpiece_roundtrip(text, '$p') AS back
         |FROM wp_docs""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("un", "##aff", "##able", "[UNK]"))
    assert(r.getSeq[String](1) == Seq("un", "##aff", "##able", "qq"))
    assert(r.getSeq[Int](2).size == r.getInt(3))
    assert(r.getString(4) == "unaffable qq")
    val c = df.select(GraftFunctions.wordPieceRoundtrip(col("text"), p)).head()
    assert(c.getString(0) == "unaffable qq")
  }

  test("vocab without [UNK] fails loudly") {
    val e = intercept[IllegalArgumentException] {
      WordPieceVocab.parse(Iterator("a", "##a"))
    }
    assert(e.getMessage.contains("[UNK]"))
  }

  test("likelihood argmax differs from the raw-count argmax (the WordPiece criterion)") {
    // pair (a,##b): count 10, score 10/(10*10) = 0.100
    // pair (c,##d): count 9,  score  9/(9*9)   = 0.111  <- likelihood winner
    val merges = WordPieceTrainer.learnFromCounts(
      Seq("ab" -> 10L, "cd" -> 9L), numMerges = 2)
    assert(merges == Seq(("c", "##d"), ("a", "##b")))
    // BPE on the same counts picks the raw count first
    val bpe = graft.llm.BpeTrainer.learnFromCounts(
      Seq("ab" -> 10L, "cd" -> 9L), numMerges = 1)
    assert(bpe == Seq(("a", "b")))
  }

  test("merge products keep the continuation prefix; chains build full words") {
    // "abc": units a ##b ##c; both pairs score 5/25 — tie goes to the
    // lexicographically smallest pair ("##b","##c") < ("a","##b")
    val merges = WordPieceTrainer.learnFromCounts(Seq("abc" -> 5L), numMerges = 2)
    assert(merges == Seq(("##b", "##c"), ("a", "##bc")))
    assert(WordPieceTrainer.product("##b", "##c") == "##bc")
    assert(WordPieceTrainer.product("a", "##bc") == "abc")
  }

  test("learnVocab layout: specials, sorted alphabet, products; trained vocab segments") {
    val docs = (Seq.fill(50)("hugging pugging") ++ Seq.fill(30)("hugs pugs"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // alphabet: h,p + ##u ##g ##i ##n ##s = 7 units; 5 specials; 6 merges
    val vocab = WordPieceTrainer.learnVocab(docs, "text", vocabSize = 18)
    assert(vocab.size == 18)
    assert(vocab.take(5) == WordPieceTrainer.DefaultSpecials)
    val alpha = vocab.slice(5, 12)
    assert(alpha == alpha.sorted)
    assert(alpha.toSet == Set("h", "p", "##u", "##g", "##i", "##n", "##s"))
    // the trained vocab drives the greedy encoder end to end
    val path = java.nio.file.Files.createTempDirectory("graft_wp").toString + "/vocab.txt"
    WordPieceTrainer.save(spark, path, vocab)
    val v = WordPieceRegistry.get(path)
    val segs = v.segmentWordOrNull("hugging")
    assert(segs != null && segs.length < 7) // better than char-level
    assert(v.roundtrip("hugging pugs unseen!") == "hugging pugs unseen!")
  }

  test("distributed loop agrees with the in-heap loop") {
    val docs = Seq.fill(40)("the cat can cant canter").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val inHeap = WordPieceTrainer.learnVocab(docs, "text", vocabSize = 24)
    // batchK = 1 replays the sequential argmax exactly (same tie order)
    val dist = WordPieceTrainer.learnVocab(docs, "text", vocabSize = 24,
      maxWords = 1, batchK = 1)
    assert(inHeap == dist)
  }
}

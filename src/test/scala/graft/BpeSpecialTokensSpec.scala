package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.llm.BpeTrainer

/** The protected special-token contract (`<|endoftext|>`-class), on
  * BOTH encode paths: a declared spelling always encodes to its single
  * fixed vocab id (= its vocab line — stable across re-encodes of the
  * same artifact), is never merged across (the spans around it are
  * segmented independently), and decodes back to its spelling
  * verbatim, preserving the lossless round-trip. Plus the edges:
  * longest-match-wins at a shared position, mid-word splits, undeclared
  * spellings encode as ordinary text, missing-from-vocab fails loudly,
  * and the SQL 4-arg form. */
class BpeSpecialTokensSpec extends SparkTestBase {
  import spark.implicits._

  private val Eot = "<|endoftext|>"
  private val Fim = "<|fim|>"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_bpe_special").toString

  /** Segment-level artifacts with `specials` appended at the vocab
    * tail; returns (mergesPath, vocabPath, idOfFirstSpecial). */
  private def trainSeg(corpus: Seq[String], numMerges: Int,
      specials: Seq[String]): (String, String, Int) = {
    val dir = tmpDir()
    val df = corpus.toDF("text")
    val merges = BpeTrainer.learnMerges(df, "text", numMerges)
    val vocab = BpeTrainer.buildVocab(df, "text", merges) ++ specials
    BpeTrainer.saveMerges(spark, s"$dir/merges.txt", merges)
    BpeTrainer.saveVocab(spark, s"$dir/vocab.txt", vocab)
    (s"$dir/merges.txt", s"$dir/vocab.txt", vocab.size - specials.size)
  }

  /** Byte-level artifacts with `specials` appended at the vocab tail. */
  private def trainByte(corpus: Seq[String], numMerges: Int,
      specials: Seq[String]): (String, String, Int) = {
    val dir = tmpDir()
    val merges = BpeTrainer.learnByteMerges(corpus.toDF("text"), "text", numMerges)
    val vocab = BpeTrainer.buildByteVocab(merges) ++ specials
    BpeTrainer.saveMerges(spark, s"$dir/merges.txt", merges)
    BpeTrainer.saveVocab(spark, s"$dir/vocab.txt", vocab)
    (s"$dir/merges.txt", s"$dir/vocab.txt", vocab.size - specials.size)
  }

  private val corpus = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the end of the text is near", "endoftext endoftext the the")

  private def encSeg(m: String, v: String, sp: Seq[String], text: String): Seq[Int] =
    Seq(text).toDF("t")
      .select(GraftFunctions.bpeEncodeLossless(col("t"), m, v, sp).as("ids"))
      .head().getSeq[Int](0)

  private def decSeg(v: String, ids: Seq[Int]): String =
    Seq(ids).toDF("ids")
      .select(GraftFunctions.bpeDecode(col("ids"), v)).head().getString(0)

  test("segment-level: fixed tail id, exactly once, round-trip intact") {
    val (m, v, eotId) = trainSeg(corpus, 24, Seq(Eot))
    val text = s"the quick $Eot lazy dog"
    val ids = encSeg(m, v, Seq(Eot), text)
    assert(ids.count(_ == eotId) == 1, s"want one id $eotId in $ids")
    assert(decSeg(v, ids) == text)
    // id stability: re-encoding yields the same id (artifact-pinned)
    assert(encSeg(m, v, Seq(Eot), Eot) == Seq(eotId))
  }

  test("segment-level: never merged across — surrounding spans encode independently") {
    val (m, v, eotId) = trainSeg(corpus, 24, Seq(Eot))
    // mid-word: ab<|endoftext|>cd splits the word at the special
    val ids = encSeg(m, v, Seq(Eot), s"ab${Eot}cd")
    val left = encSeg(m, v, Seq(Eot), "ab")
    val right = encSeg(m, v, Seq(Eot), "cd")
    assert(ids == left ++ Seq(eotId) ++ right)
  }

  test("segment-level: undeclared spelling encodes as ordinary text") {
    val (m, v, eotId) = trainSeg(corpus, 24, Seq(Eot))
    val ids = encSeg(m, v, Nil, s"a $Eot b")
    assert(!ids.contains(eotId),
      "without declaring it, the spelling must not hit the special id")
    // and it still round-trips as plain text through byte fallback
    assert(decSeg(v, ids) == s"a $Eot b")
  }

  test("longest match wins when two declared spellings share a position") {
    val (m, v, base) = trainSeg(corpus, 24, Seq("<|end|>", Eot))
    val endId = base      // declaration order: <|end|> first
    val eotId = base + 1
    val ids = encSeg(m, v, Seq("<|end|>", Eot), s"x $Eot y <|end|> z")
    assert(ids.count(_ == eotId) == 1, s"want the longer $Eot once in $ids")
    assert(ids.count(_ == endId) == 1, s"want <|end|> once in $ids")
  }

  test("special missing from vocab fails loudly") {
    val (m, v, _) = trainSeg(corpus, 24, Nil)
    val e = intercept[Throwable] {
      encSeg(m, v, Seq(Eot), s"a $Eot b")
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("missing from vocab"), msgs)
  }

  test("spelling containing the U+0001 joiner is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      GraftFunctions.bpeEncode(col("t"), "/m", "/v", Seq("badtoken"))
    }
    assert(e.getMessage.contains("U+0001"))
  }

  test("byte-level: fixed tail id, never split, byte-exact round-trip") {
    val (m, v, eotId) = trainByte(corpus, 24, Seq(Eot, Fim))
    val text = s"doc one$Eot doc two $Fim tail"
    val row = Seq(text).toDF("t").select(
      GraftFunctions.bpeByteEncode(col("t"), m, v, Seq(Eot, Fim)).as("ids"),
      GraftFunctions.bpeByteDecode(
        GraftFunctions.bpeByteEncode(col("t"), m, v, Seq(Eot, Fim)), v).as("back"))
      .head()
    val ids = row.getSeq[Int](0)
    assert(ids.count(_ == eotId) == 1)
    assert(ids.count(_ == eotId + 1) == 1)
    assert(row.getString(1) == text)
    // adjacency: text around the special matches its standalone encode
    val plain = Seq("doc one").toDF("t")
      .select(GraftFunctions.bpeByteEncode(col("t"), m, v, Seq(Eot)).as("ids"))
      .head().getSeq[Int](0)
    assert(ids.startsWith(plain :+ eotId))
  }

  test("byte-level: undeclared spelling re-segments as plain text, still lossless") {
    val (m, v, eotId) = trainByte(corpus, 24, Seq(Eot))
    val text = s"a $Eot b"
    val row = Seq(text).toDF("t").select(
      GraftFunctions.bpeByteEncode(col("t"), m, v).as("ids"),
      GraftFunctions.bpeByteDecode(
        GraftFunctions.bpeByteEncode(col("t"), m, v), v).as("back")).head()
    assert(!row.getSeq[Int](0).contains(eotId))
    assert(row.getString(1) == text)
  }

  test("SQL 4-arg forms accept a comma-separated specials list") {
    val (m, v, eotId) = trainSeg(corpus, 24, Seq(Eot, Fim))
    Seq(s"x $Eot y $Fim").toDF("t").createOrReplaceTempView("sp_docs")
    val ids = spark.sql(
      s"SELECT graft_bpe_encode_lossless(t, '$m', '$v', '$Eot,$Fim') AS ids FROM sp_docs")
      .head().getSeq[Int](0)
    assert(ids.count(_ == eotId) == 1 && ids.count(_ == eotId + 1) == 1)
    val back = spark.sql(
      s"""SELECT graft_bpe_decode(
            graft_bpe_encode_lossless(t, '$m', '$v', '$Eot,$Fim'), '$v') AS b
          FROM sp_docs""").head().getString(0)
    assert(back == s"x $Eot y $Fim")
    // byte-level SQL form
    val (mb, vb, beotId) = trainByte(corpus, 24, Seq(Eot))
    val bids = spark.sql(
      s"SELECT graft_bpe_byte_encode(t, '$mb', '$vb', '$Eot') AS ids FROM sp_docs")
      .head().getSeq[Int](0)
    assert(bids.count(_ == beotId) == 1)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, UnigramRegistry, UnigramVocab}
import graft.llm.UnigramTrainer

/** Unigram-LM tokenization (Kudo 2018): Viterbi semantics hand-computed
  * on a fixed model file, byte-fallback totality and the lossless
  * round-trip, the forward–backward expected counts in closed form,
  * digamma against known values, the in-heap trainer end-to-end, and
  * in-heap/distributed path agreement. */
class UnigramSpec extends SparkTestBase {
  import spark.implicits._

  /** Model file with the fixed header (unk/eos/bytes) + given pieces. */
  private def modelFile(byteScore: Double, pieces: (String, Double)*): String = {
    val f = java.nio.file.Files.createTempFile("graft_unigram", ".tsv")
    val sb = new StringBuilder
    sb.append(s"<unk>\t${byteScore - 10.0}\n")
    sb.append("<eos>\t0.0\n")
    (0 until 256).foreach(b =>
      sb.append(s"${graft.functions.IdVocab.byteToken(b)}\t$byteScore\n"))
    pieces.foreach { case (p, s) => sb.append(s"$p\t$s\n") }
    java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
    f.toString
  }

  // pieces get ids 258, 259, ... in declaration order
  private lazy val tinyPath = modelFile(-50.0,
    "ab" -> -1.0, "a" -> -2.0, "b" -> -2.0, "abc" -> -2.5, "c" -> -1.5)

  test("Viterbi picks the max-probability cover; ties go to the longest final piece") {
    val v = UnigramRegistry.get(tinyPath)
    // [ab] = -1.0 beats [a,b] = -4.0
    assert(v.segmentWord("ab").toSeq == Seq("ab"))
    // [abc] = -2.5 TIES [ab,c] = -1.0 + -1.5 — longest final piece wins
    assert(v.segmentWord("abc").toSeq == Seq("abc"))
    // no "ba" piece: singles
    assert(v.segmentWord("ba").toSeq == Seq("b", "a"))
    // [ab,a] = -3.0 beats [a,b,a] = -6.0
    assert(v.segmentWord("aba").toSeq == Seq("ab", "a"))
  }

  test("encode: piece ids by line, out-of-vocab codepoints via byte pieces") {
    val v = UnigramRegistry.get(tinyPath)
    // "ab" = id 258 (first piece line); "z" not in vocab -> byte 0x7A -> id 2+122
    val ids = v.encode("ab z", lossless = false)
    assert(ids.size == 2 && ids.get(0) == 258 && ids.get(1) == 2 + 'z'.toInt)
    // lossless: the space rides byte piece 2 + 0x20
    val ll = v.encode("ab z", lossless = true)
    assert(ll.size == 3 && ll.get(1) == 2 + ' '.toInt)
    assert(v.idCount("ab z") == 2)
  }

  test("lossless round-trip on hostile text (emoji, CJK, runs of whitespace)") {
    val v = UnigramRegistry.get(tinyPath)
    val nasty = Seq(
      "ab  abc\tba\n\n naïve ☃😀 漢字テスト",
      "  leading and trailing  ",
      "#### $$ €42 — mixed: a,b;c!",
      "")
    for (s <- nasty) {
      val ids = v.encode(s, lossless = true)
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.tabulate(ids.size)(i => ids.get(i).intValue()))
      assert(v.decode(arr).toString == s, s"round-trip failed for '$s'")
    }
  }

  test("Column + SQL surfaces: segments/encode/decode/count agree; codegen plan") {
    val df = Seq((1L, "ab abc zq"), (2L, "ba ☃")).toDF("id", "text")
    df.createOrReplaceTempView("ug_docs")
    val r = spark.sql(
      s"""SELECT id,
         |  graft_unigram_segments(text, '$tinyPath') AS segs,
         |  graft_unigram_count(text, '$tinyPath') AS n,
         |  size(graft_unigram_encode(text, '$tinyPath')) AS n2,
         |  graft_unigram_decode(
         |    graft_unigram_encode_lossless(text, '$tinyPath'), '$tinyPath') AS back
         |FROM ug_docs ORDER BY id""".stripMargin).collect()
    assert(r(0).getSeq[String](1) == Seq("ab", "abc", "z", "q"))
    assert(r(0).getInt(2) == r(0).getInt(3))
    assert(r(0).getString(4) == "ab abc zq")
    assert(r(1).getString(4) == "ba ☃")
    // Column API parity
    val c = df.select(GraftFunctions.unigramCount(col("text"), tinyPath)).collect()
    assert(c.map(_.getInt(0)).toSeq == r.map(_.getInt(2)).toSeq)
  }

  test("graft_unigram_chunks: greedy fill under the id budget, tiling at overlap 0, " +
      "chunk_bpe_tokens == graft_unigram_count, byte-fallback costs counted") {
    // counts under tinyPath: "ab"=1, "abc"=1, "c"=1, "zq"=2 (two byte ids)
    val df = Seq((1L, "ab ab ab abc c"), (2L, "zq ab")).toDF("id", "text")
    df.createOrReplaceTempView("ug_chunk_docs")
    val r = spark.sql(
      s"""SELECT id, c.chunk_text, c.chunk_tokens, c.chunk_bpe_tokens,
         |  graft_unigram_count(c.chunk_text, '$tinyPath') AS recount
         |FROM ug_chunk_docs
         |LATERAL VIEW explode(graft_unigram_chunks(text, '$tinyPath', 2, 0)) t AS c
         |ORDER BY id, c.chunk_text""".stripMargin).collect()
    // doc 1 at budget 2: [ab ab] [ab abc] [c]; doc 2: [zq] [ab]
    val doc1 = r.filter(_.getLong(0) == 1L).map(_.getString(1)).sorted
    assert(doc1.toSeq == Seq("ab ab", "ab abc", "c").sorted)
    // every chunk's declared cost equals the count expression's answer
    assert(r.forall(row => row.getInt(3) == row.getInt(4)))
    // "zq" costs 2 byte ids — alone it fills the budget, "ab" starts fresh
    val doc2 = r.filter(_.getLong(0) == 2L).map(_.getString(1)).sorted
    assert(doc2.toSeq == Seq("ab", "zq"))
    // overlap-0 tiling: single-space concat reproduces the normalized text
    val tiled = df.select(col("id"),
        concat_ws(" ", col("text")).as("norm"),
        GraftFunctions.unigramChunks(col("text"), tinyPath, 1000, 0).as("cs"))
      .selectExpr("id", "norm",
        "array_join(transform(cs, c -> c.chunk_text), ' ') AS back")
      .collect()
    assert(tiled.forall(x => x.getString(2) == x.getString(1)))
  }

  test("model parse fails loudly without the byte-fallback header") {
    val f = java.nio.file.Files.createTempFile("graft_unigram_bad", ".tsv")
    java.nio.file.Files.write(f, "<unk>\t-10\n<eos>\t0\nab\t-1\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      UnigramVocab.parse(scala.io.Source.fromFile(f.toFile, "UTF-8").getLines())
    }
    assert(e.getMessage.contains("byte pieces"))
  }

  test("digamma matches known values") {
    // ψ(1) = -γ; ψ(0.5) = -γ - 2 ln 2; ψ(10) (tables)
    assert(math.abs(UnigramTrainer.digamma(1.0) - (-0.5772156649015329)) < 1e-9)
    assert(math.abs(UnigramTrainer.digamma(0.5) - (-1.9635100260214235)) < 1e-9)
    assert(math.abs(UnigramTrainer.digamma(10.0) - 2.2517525890667215) < 1e-9)
  }

  test("forward-backward expected counts in closed form") {
    // vocab {a, b, ab}, all prob 1/3; word "ab":
    //   P([ab]) = 1/3, P([a][b]) = 1/9, total = 4/9
    //   E[ab] = (1/3)/(4/9) = 3/4; E[a] = E[b] = 1/4
    val idx = new java.util.HashMap[String, Integer]()
    idx.put("a", 0); idx.put("b", 1); idx.put("ab", 2)
    val scores = Array.fill(3)(math.log(1.0 / 3.0))
    val counts = new Array[Double](3)
    val ll = UnigramTrainer.accumulateWord("ab", 1L, idx, scores, 2, -100.0, counts)
    assert(math.abs(counts(2) - 0.75) < 1e-12)
    assert(math.abs(counts(0) - 0.25) < 1e-12)
    assert(math.abs(counts(1) - 0.25) < 1e-12)
    assert(math.abs(ll - math.log(4.0 / 9.0)) < 1e-12)
    // Viterbi alternative for "ab" excluding "ab" itself: [a][b] = 2 log(1/3)
    val alt = UnigramTrainer.viterbiScore("ab", idx, scores, 2, -100.0, exclude = 2)
    assert(math.abs(alt - 2 * math.log(1.0 / 3.0)) < 1e-12)
  }

  test("in-heap training: exact target size, singles kept, compression, round-trip") {
    val docs = (Seq.fill(60)("the banana band ran and ran") ++
      Seq.fill(20)("a band of bananas") ++ Seq.fill(10)("ran ran ran"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val pieces = UnigramTrainer.train(docs, "text",
      targetPieces = 16, maxPieceLen = 6, minCount = 2L)
    assert(pieces.size == 16)
    val spellings = pieces.map(_.piece).toSet
    // every corpus codepoint survives pruning
    for (ch <- "thebanandrofs".distinct.map(_.toString))
      assert(spellings.contains(ch), s"single '$ch' missing")
    assert(pieces.forall(p => p.logp < 0 && !p.logp.isNaN && !p.logp.isInfinite))
    // save → registry → the dominant word segments to few pieces
    val path = java.nio.file.Files.createTempDirectory("graft_ug").toString + "/model.tsv"
    UnigramTrainer.save(spark, path, pieces)
    val v = UnigramRegistry.get(path)
    assert(v.segmentWord("banana").length <= 3)
    val text = "the banana band ran — off-corpus: zebra ☃"
    val ids = v.encode(text, lossless = true)
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array.tabulate(ids.size)(i => ids.get(i).intValue()))
    assert(v.decode(arr).toString == text)
    // learned model compresses vs per-codepoint
    val plain = "the banana band ran and ran a band of bananas"
    assert(v.idCount(plain) < plain.count(!_.isWhitespace))
  }

  test("deterministic: same corpus trains the same model twice") {
    val docs = Seq.fill(30)("mississippi miss hippie").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val a = UnigramTrainer.train(docs, "text", targetPieces = 12, maxPieceLen = 5)
    val b = UnigramTrainer.train(docs, "text", targetPieces = 12, maxPieceLen = 5)
    assert(a == b)
  }

  test("distributed E-step path agrees with the in-heap path") {
    val docs = Seq.fill(40)("the cat sat on the mat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val inHeap = UnigramTrainer.train(docs, "text", targetPieces = 12, maxPieceLen = 5)
    // maxWords=1 forces the distributed seed + E-step (6 distinct words)
    val dist = UnigramTrainer.train(docs, "text", targetPieces = 12, maxPieceLen = 5,
      maxWords = 1)
    assert(inHeap.map(_.piece) == dist.map(_.piece))
    val pairs = inHeap.map(_.logp).zip(dist.map(_.logp))
    assert(pairs.forall { case (x, y) => math.abs(x - y) < 1e-6 })
  }

  test("crash resume: every round-boundary checkpoint reproduces the " +
      "uninterrupted run bit-exactly; checkpoint file round-trips; stale guard") {
    val docs = (Seq.fill(40)("banana band ran and ran") ++ Seq.fill(20)("ran off band"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val states = scala.collection.mutable.ArrayBuffer.empty[UnigramTrainer.TrainState]
    val full = UnigramTrainer.train(docs, "text", targetPieces = 12,
      maxPieceLen = 5, onRound = states += _)
    assert(states.size >= 2, "expected at least the seed round + one prune round")
    // resuming from ANY captured boundary — first, middle, final —
    // lands on the identical model (the in-heap path is bit-exact)
    for (st <- states) {
      val again = UnigramTrainer.train(docs, "text", targetPieces = 12,
        maxPieceLen = 5, resume = Some(st))
      assert(again == full, s"resume from a ${st.pieces.length}-piece state diverged")
    }
    // checkpoint file: header params + bit-exact state round-trip
    val pth = java.nio.file.Files.createTempDirectory("ug_ck").toString + "/ck.tsv"
    UnigramTrainer.saveCheckpoint(spark, pth, states.head, "target=12;len=5")
    val (back, params) = UnigramTrainer.loadCheckpoint(spark, pth)
    assert(params == "target=12;len=5")
    assert(back.pieces.sameElements(states.head.pieces))
    assert(back.scores.sameElements(states.head.scores))
    assert(back.counts.sameElements(states.head.counts))
    // a checkpoint carrying pieces longer than maxPieceLen is refused
    val e = intercept[IllegalArgumentException] {
      UnigramTrainer.train(docs, "text", targetPieces = 12, maxPieceLen = 2,
        resume = Some(states.head))
    }
    assert(e.getMessage.contains("stale checkpoint"), e.getMessage)
  }

  test("targetPieces below the alphabet fails loudly") {
    val docs = Seq((1L, "abcdefghij")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      UnigramTrainer.train(docs, "text", targetPieces = 3)
    }
    assert(e.getMessage.contains("alphabet"))
  }
}

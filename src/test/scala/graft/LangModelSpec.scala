package graft

import org.apache.spark.sql.functions._
import graft.llm.LangModel
import graft.functions.{GraftFunctions, LmRegistry}

class LangModelSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpLm(name: String): String =
    new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_lm_spec"),
      name).toString

  test("trainUnigram counts lowercased whitespace tokens; minCount folds rare tokens into OOV") {
    val ref = Seq("A a b", "a C").toDF("text")
    val lm = LangModel.trainUnigram(ref, "text")
    val counts = lm.table.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(lm.totalTokens == 5L && lm.vocab == 3L)
    assert(lm.denom == 9.0)

    val lm2 = LangModel.trainUnigram(ref, "text", minCount = 2)
    val counts2 = lm2.table.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts2 == Map("a" -> 3L))
    // N counts only KEPT vocab occurrences — b and c become OOV mass
    assert(lm2.totalTokens == 3L && lm2.vocab == 1L && lm2.denom == 5.0)
  }

  test("logProbPerDoc matches hand-computed Laplace arithmetic incl. OOV") {
    val ref = Seq("a a b").toDF("text") // counts: a=2, b=1; N=3, V=2, D=6
    val lm = LangModel.trainUnigram(ref, "text")
    assert(lm.denom == 6.0)
    val docs = Seq((1L, "a b zz"), (2L, "a a"), (3L, "   "), (4L, "a")).toDF("doc_id", "text")
    val got = LangModel.logProbPerDoc(docs, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val pa = StrictMath.log10(3.0 / 6.0); val pb = StrictMath.log10(2.0 / 6.0)
    val oov = StrictMath.log10(1.0 / 6.0)
    assert(got(1L) == (((pa + pb) + oov) / 3, 3L))
    assert(got(2L) == ((pa + pa) / 2, 2L))
    assert(got(4L) == (pa, 1L))
    assert(!got.contains(3L), "token-less docs are absent (caller left-joins to null)")
  }

  test("annotateLogProb keeps every doc; perplexity inverts the score") {
    val ref = Seq("a a b").toDF("text")
    val lm = LangModel.trainUnigram(ref, "text")
    val docs = Seq((1L, "a"), (2L, "")).toDF("doc_id", "text")
    val out = LangModel.annotateLogProb(docs, lm, "doc_id", "text")
      .withColumn("ppl", LangModel.perplexity(col("lm_logp")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).isNullAt(out(2L).fieldIndex("lm_logp")))
    val lp = out(1L).getDouble(out(1L).fieldIndex("lm_logp"))
    val ppl = out(1L).getDouble(out(1L).fieldIndex("ppl"))
    assert(ppl == Math.pow(10.0, -lp))
    assert(lp == StrictMath.log10(3.0 / 6.0))
  }

  test("reference-like prose scores above gibberish under a prose-trained LM") {
    val ref = spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 200)
    val lm = LangModel.trainUnigram(ref, "text", minCount = 2)
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the forest"),
      (2L, "xq9 zzkw qqv 9x7j wv0p zzt kkx q0q9")).toDF("doc_id", "text")
    val got = LangModel.logProbPerDoc(probe, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > got(2L) + 0.5,
      s"prose ${got(1L)} should clearly beat gibberish ${got(2L)}")
  }

  test("save/load round trip: native expression is bit-identical to the composable form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "   \t\n"), (900003L, "Mixed CASE tokens mixed case"),
        (900004L, "unicode héllo wörld ça"), (900005L, "tab\tsep\nnewline"))
        .toDF("doc_id", "text"))
    val lm = LangModel.trainUnigram(docs.filter(col("doc_id") < 150), "text", minCount = 2)
    val path = tmpLm("roundtrip.lm")
    LangModel.save(lm, path)

    val composable = LangModel.logProbPerDoc(docs, lm, "doc_id", "text")
    val native = docs.select(col("doc_id"),
      GraftFunctions.lmLogProb(col("text"), path).as("lm_logp_n"))
    val joined = native.join(composable, Seq("doc_id"), "left")
    val mismatch = joined.filter(
      !(col("lm_logp_n") <=> col("lm_logp"))).count()
    assert(mismatch == 0, "native and composable forms must be bit-identical")
    // token-less docs: absent from composable, null from native
    assert(joined.filter(col("doc_id") === 900001L).head().isNullAt(1))
  }

  test("SQL surface graft_lm_logprob works and rejects non-literal paths") {
    val ref = Seq("a a b").toDF("text")
    val lm = LangModel.trainUnigram(ref, "text")
    val path = tmpLm("sql.lm")
    LangModel.save(lm, path)
    val v = spark.sql(s"SELECT graft_lm_logprob('a b', '$path') AS lp").head().getDouble(0)
    assert(v == (StrictMath.log10(3.0 / 6.0) + StrictMath.log10(2.0 / 6.0)) / 2)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_lm_logprob('a', text) FROM VALUES ('x') t(text)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("registry rejects malformed files and vocab-size drift") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_lm_spec")
    dir.mkdirs()
    val bad = new java.io.File(dir, "bad.lm")
    val w = new java.io.PrintWriter(bad, "UTF-8")
    try { w.println("#graft-unigram-lm v1 total=3 vocab=2"); w.println("a\t3") }
    finally w.close()
    LmRegistry.invalidate(bad.toString)
    val err = intercept[IllegalArgumentException] {
      LmRegistry.get(bad.toString)
    }
    assert(err.getMessage.contains("vocab=2"))

    val notLm = new java.io.File(dir, "not.lm")
    val w2 = new java.io.PrintWriter(notLm, "UTF-8")
    try w2.println("hello") finally w2.close()
    val err2 = intercept[IllegalArgumentException] { LmRegistry.get(notLm.toString) }
    assert(err2.getMessage.contains("not a graft unigram LM"))
  }

  // --------------------------------------------------- bigram LM

  test("trainBigram + logProbPerDocBigram: hand-computed Laplace positions") {
    val ref = Seq("a b", "a b").toDF("text")
    val lm = LangModel.trainBigram(ref, "text", minCount = 1)
    // unigram: a:2 b:2, N=4, V=2, denom=7; bigram: (a,b):2
    assert(lm.table.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("a", "b", 2L)))
    val out = LangModel.logProbPerDocBigram(
      Seq((1L, "a b a"), (2L, "a"), (3L, "  ")).toDF("doc_id", "text"),
      lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // doc 1: first 'a' log10(3/7); (a,b) log10(3/5); (b,a) log10(1/5)
    val want1 = (math.log10(3.0 / 7) + math.log10(3.0 / 5) + math.log10(1.0 / 5)) / 3
    assert(math.abs(out(1L)._1 - want1) < 1e-12 && out(1L)._2 == 3L)
    // doc 2: single token scores only the unigram position
    assert(math.abs(out(2L)._1 - math.log10(3.0 / 7)) < 1e-12 && out(2L)._2 == 1L)
    assert(!out.contains(3L), "token-less docs are absent")
  }

  test("bigram LM ranks ordered prose above the SAME tokens shuffled — " +
      "which the unigram provably cannot") {
    val ref = (1 to 50).map(_ => "the cat sat on the mat and the dog ran").toDF("text")
    val bi = LangModel.trainBigram(ref, "text", minCount = 2)
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // training order
      (2L, "mat the on sat cat the")    // same multiset, shuffled
    ).toDF("doc_id", "text")
    val b = LangModel.logProbPerDocBigram(docs, bi, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(1L) > b(2L) + 0.1,
      s"bigram must prefer training order: ${b(1L)} vs ${b(2L)}")
    val u = LangModel.logProbPerDoc(docs, bi.unigram, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(u(1L) - u(2L)) < 1e-12,
      "unigram scores are permutation-invariant — the bigram's whole point")
  }

  test("bigram save/load: native scoring matches the composable form at the " +
      "oracle rounding on the real corpus; registry rejects tampering") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainBigram(
      docs.filter(col("doc_id") < 100), "text", minCount = 2)
    val path = tmpLm("bigram.lm2")
    LangModel.saveBigram(lm, path)
    val composable = LangModel.logProbPerDocBigram(
      docs.filter(col("doc_id") >= 100), lm, "doc_id", "text")
      .select(col("doc_id"), round(col("lm2_logp"), 6).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        round(GraftFunctions.lm2LogProb(col("text"), path), 6).as("l"))
      .filter(col("l").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native == composable,
      "native bigram scoring must match the composable form at round(6)")
    // SQL surface
    docs.limit(3).createOrReplaceTempView("lm2_docs")
    val viaSql = spark.sql(
      s"SELECT graft_lm2_logprob(text, '$path') FROM lm2_docs").collect()
    assert(viaSql.length == 3 && viaSql.forall(!_.isNullAt(0)))
    // tampered pair section (context missing from unigram part) rejected
    val bad = tmpLm("bigram_bad.lm2")
    val w = new java.io.PrintWriter(bad, "UTF-8")
    try {
      w.println("#graft-bigram-lm v1 total=2 vocab=1 pairs=1")
      w.println("a\t2"); w.println("#pairs"); w.println("zz\ta\t2")
    } finally w.close()
    graft.functions.Lm2Registry.invalidate(bad)
    val err = intercept[IllegalArgumentException] { graft.functions.Lm2Registry.get(bad) }
    assert(err.getMessage.contains("missing from the unigram section"))
  }

  test("pair-less in-vocab context scores its per-context OOV, not the global " +
      "one — native matches composable when minCount prunes every bigram") {
    // unigram x survives minCount=2 but BOTH its bigrams are pruned:
    // vocab={x:2}, V=1, N=2, no pairs section entries
    val ref = Seq("x a", "x b").toDF("text")
    val lm = LangModel.trainBigram(ref, "text", minCount = 2)
    assert(lm.table.isEmpty, "no bigram survives pruning in this fixture")
    assert(lm.unigram.vocab == 1L && lm.unigram.totalTokens == 2L)
    val path = tmpLm("pairless.lm2")
    LangModel.saveBigram(lm, path)
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val comp = LangModel.logProbPerDocBigram(docs, lm, "doc_id", "text")
      .head().getDouble(1)
    val nat = docs
      .select(GraftFunctions.lm2LogProb(col("text"), path)).head().getDouble(0)
    // pos 0 'x': log10((2+1)/(2+1+1)); pos 1 'y'|x in-vocab pair-less
    // context: log10(1/(c1+V+1)) = log10(1/4) — NOT global log10(1/(V+1))
    val want = (StrictMath.log10(3.0 / 4) + StrictMath.log10(1.0 / 4)) / 2
    assert(math.abs(comp - want) < 1e-12, s"composable $comp vs $want")
    assert(math.abs(nat - want) < 1e-12, s"native $nat vs $want")
  }

  // ------------------------------------------------ trigram backoff LM

  test("logProbPerDocTrigram: hand-computed stupid-backoff positions cover " +
      "every branch (trigram hit, each backoff level, OOV floor)") {
    val ref = Seq("a b c", "a b c").toDF("text")
    val lm = LangModel.trainTrigram(ref, "text", minCount = 2)
    // uni: a,b,c ×2 → N=6 V=3 denom=10; big: (a,b),(b,c) ×2; tri: (a,b,c) ×2
    assert(lm.table.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet ==
      Set(("a", "b", "c", 2L)))
    val docs = Seq((1L, "a b c b c"), (2L, "z a b"), (3L, " ")).toDF("doc_id", "text")
    val out = LangModel.logProbPerDocTrigram(docs, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val l04 = StrictMath.log10(0.4)
    val uniA = StrictMath.log10(3.0 / 10) // Laplace, cnt=2
    val uniOov = StrictMath.log10(1.0 / 10)
    // doc 1: 'a' uniA; (a,b) hit log10(2/2)=0; (a,b,c) hit log10(2/2)=0;
    // ctx (b,c) tok 'b': no triple, no (c,b) pair → 2·l04 + uniA;
    // ctx (c,b) tok 'c': no triple, (b,c) pair hit → l04 + log10(2/2)
    val want1 = (uniA + 0.0 + 0.0 + (2 * l04 + uniA) + (l04 + 0.0)) / 5
    assert(math.abs(out(1L)._1 - want1) < 1e-12 && out(1L)._2 == 5L,
      s"got ${out(1L)} want $want1")
    // doc 2: 'z' OOV; (z,a) no pair → l04 + uniA;
    // ctx (z,a) tok 'b': no triple, (a,b) pair hit → l04 + log10(2/2)
    val want2 = (uniOov + (l04 + uniA) + (l04 + 0.0)) / 3
    assert(math.abs(out(2L)._1 - want2) < 1e-12 && out(2L)._2 == 3L)
    assert(!out.contains(3L), "token-less docs are absent")
  }

  test("trigram separates two-token-back order that the bigram provably " +
      "cannot — and beats it on ordered-vs-scrambled separation") {
    // 'b' continues to 'c' after 'a', to 'e' after 'd' — pure trigram signal
    val ref = ((1 to 30).map(_ => "a b c") ++ (1 to 30).map(_ => "d b e"))
      .toDF("text")
    val lm = LangModel.trainTrigram(ref, "text", minCount = 2)
    val docs = Seq(
      (1L, "a b c"),  // trigram-consistent
      (2L, "a b e")   // every BIGRAM seen, trigram violated
    ).toDF("doc_id", "text")
    val tri = LangModel.logProbPerDocTrigram(docs, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tri(1L) > tri(2L) + 0.1,
      s"trigram must prefer the attested continuation: ${tri(1L)} vs ${tri(2L)}")
    val bi = LangModel.logProbPerDocBigram(docs, lm.bigram, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bi(1L) - bi(2L)) < 1e-12,
      "both docs are pairwise identical to the bigram — the trigram's whole point")
    // ordered-vs-scrambled: strictly wider separation than the bigram's
    val shuf = Seq((1L, "a b c"), (2L, "c a b")).toDF("doc_id", "text")
    val t2 = LangModel.logProbPerDocTrigram(shuf, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b2 = LangModel.logProbPerDocBigram(shuf, lm.bigram, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t2(1L) - t2(2L) > b2(1L) - b2(2L),
      s"trigram separation ${t2(1L) - t2(2L)} must beat bigram ${b2(1L) - b2(2L)}")
  }

  test("trigram save/load: native matches composable at the oracle rounding " +
      "on the real corpus; loader rejects a triple with no pair context") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainTrigram(
      docs.filter(col("doc_id") < 100), "text", minCount = 2)
    val path = tmpLm("trigram.lm3")
    LangModel.saveTrigram(lm, path)
    val composable = LangModel.logProbPerDocTrigram(
      docs.filter(col("doc_id") >= 100), lm, "doc_id", "text")
      .select(col("doc_id"), round(col("lm3_logp"), 6).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        round(GraftFunctions.lm3LogProb(col("text"), path), 6).as("l"))
      .filter(col("l").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native == composable,
      "native trigram scoring must match the composable form at round(6)")
    // SQL surface
    docs.limit(3).createOrReplaceTempView("lm3_docs")
    val viaSql = spark.sql(
      s"SELECT graft_lm3_logprob(text, '$path') FROM lm3_docs").collect()
    assert(viaSql.length == 3 && viaSql.forall(!_.isNullAt(0)))
    // tampered file: triple whose (w1,w2) context is not in #pairs
    val bad = tmpLm("trigram_bad.lm3")
    val w = new java.io.PrintWriter(bad, "UTF-8")
    try {
      w.println("#graft-trigram-lm v1 total=4 vocab=2 pairs=1 triples=1")
      w.println("a\t2"); w.println("b\t2")
      w.println("#pairs"); w.println("a\tb\t2")
      w.println("#triples"); w.println("b\ta\tb\t2")
    } finally w.close()
    graft.functions.Lm3Registry.invalidate(bad)
    val err = intercept[IllegalArgumentException] { graft.functions.Lm3Registry.get(bad) }
    assert(err.getMessage.contains("missing from the pairs section"))
  }

  // ------------------------------------------------- order-n (4-gram)

  test("order-3 trainNgram/logProbPerDocNgram reproduces the trigram form " +
      "at the oracle rounding — the generic program subsumes the special case") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)
    val ref = docs.filter(col("doc_id") < 100)
    val lm3 = LangModel.trainTrigram(ref, "text", minCount = 2)
    val lmN = LangModel.trainNgram(ref, "text", order = 3, minCount = 2)
    val score = docs.filter(col("doc_id") >= 100)
    val a = LangModel.logProbPerDocTrigram(score, lm3, "doc_id", "text")
      .select(col("doc_id"), round(col("lm3_logp"), 6).as("l"), col("lm3_positions").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val b = LangModel.logProbPerDocNgram(score, lmN, "doc_id", "text")
      .select(col("doc_id"), round(col("lmn_logp"), 6).as("l"), col("lmn_positions").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(a == b, "generic order-3 scoring must equal the trigram scorer")
  }

  test("quadgram separates THREE-token-back order the trigram provably " +
      "cannot — and at least matches it on ordered-vs-scrambled") {
    // 'c' continues to 'd' after 'a b', to 'f' after 'e b' — both
    // CONTINUATION trigrams (b,c,d)/(b,c,f) are equally attested, so
    // only the 4-gram sees which is licensed
    val ref = ((1 to 30).map(_ => "a b c d") ++ (1 to 30).map(_ => "e b c f"))
      .toDF("text")
    val lm4 = LangModel.trainNgram(ref, "text", order = 4, minCount = 2)
    val lm3 = LangModel.trainTrigram(ref, "text", minCount = 2)
    val docs = Seq(
      (1L, "a b c d"), // quadgram-consistent
      (2L, "a b c f")  // every trigram attested, 4-gram violated
    ).toDF("doc_id", "text")
    val q = LangModel.logProbPerDocNgram(docs, lm4, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L) + 0.05,
      s"quadgram must prefer the attested continuation: ${q(1L)} vs ${q(2L)}")
    val t = LangModel.logProbPerDocTrigram(docs, lm3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(t(1L) - t(2L)) < 1e-12,
      "both docs are trigram-identical — the 4-gram's whole point")
    // ordered-vs-scrambled separation at least matches the trigram's
    val shuf = Seq((1L, "a b c d"), (2L, "c a d b")).toDF("doc_id", "text")
    val q2 = LangModel.logProbPerDocNgram(shuf, lm4, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t2 = LangModel.logProbPerDocTrigram(shuf, lm3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q2(1L) - q2(2L) >= t2(1L) - t2(2L) - 1e-12,
      s"4-gram separation ${q2(1L) - q2(2L)} must not lose to trigram ${t2(1L) - t2(2L)}")
  }

  test("ngram save/load: native fingerprinted/quantized scoring matches the " +
      "composable form at round(5) on the real corpus; loader rejects drift") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainNgram(
      docs.filter(col("doc_id") < 100), "text", order = 4, minCount = 2)
    val path = tmpLm("quadgram.lm4")
    LangModel.saveNgram(lm, path)
    val composable = LangModel.logProbPerDocNgram(
      docs.filter(col("doc_id") >= 100), lm, "doc_id", "text")
      .select(col("doc_id"), round(col("lmn_logp"), 5).as("l"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        round(GraftFunctions.lmNLogProb(col("text"), path), 5).as("l"))
      .filter(col("l").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native == composable,
      "native ngram scoring must match the composable form at round(5)")
    // SQL surface
    docs.limit(3).createOrReplaceTempView("lmn_docs")
    val viaSql = spark.sql(
      s"SELECT graft_lmn_logprob(text, '$path') FROM lmn_docs").collect()
    assert(viaSql.length == 3 && viaSql.forall(!_.isNullAt(0)))
    // tampered file: a 3-gram whose (w1,w2) context is not in #2grams
    val bad = tmpLm("quadgram_bad.lm4")
    val w = new java.io.PrintWriter(bad, "UTF-8")
    try {
      w.println("#graft-ngram-lm v1 order=3 total=4 vocab=2 counts=1,1")
      w.println("a\t2"); w.println("b\t2")
      w.println("#2grams"); w.println("a\tb\t2")
      w.println("#3grams"); w.println("b\ta\tb\t2")
    } finally w.close()
    graft.functions.NgramRegistry.invalidate(bad)
    val err = intercept[IllegalArgumentException] { graft.functions.NgramRegistry.get(bad) }
    assert(err.getMessage.contains("missing at order"))
  }

  test("LongFloatMap: put/get across growth, zero-key remap, NaN absence") {
    val m = new graft.functions.LongFloatMap(4)
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(5000)(rnd.nextLong()) :+ 0L
    keys.zipWithIndex.foreach { case (k, i) => m.put(k, i.toFloat) }
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(m.getOrNaN(k) == i.toFloat, s"key $k") }
    assert(java.lang.Float.isNaN(m.getOrNaN(123456789L)))
    m.put(0L, 42f) // overwrite the zero key
    assert(m.getOrNaN(0L) == 42f)
    assert(m.size == keys.length)
  }

  // ------------------------------------------------- DSIR resampling

  test("dsirSample: target-vocabulary docs out-weigh off-target docs and " +
      "dominate the sample; token-less docs are excluded") {
    import graft.llm.CorpusPrep
    // target domain speaks fruit; raw corpus is fruit + metals
    val target = (1 to 20).map(i => s"apple banana cherry date apple banana t$i")
      .toDF("text")
    val pool = ((1 to 30).map(i => (i.toLong, s"apple banana cherry date fig p$i")) ++
      (101 to 130).map(i => (i.toLong, s"iron copper zinc nickel cobalt p$i")) :+
      (999L, "   ")).toDF("doc_id", "text")
    val raw = LangModel.trainUnigram(pool, "text", minCount = 2)
    val tLm = LangModel.trainUnigram(target, "text", minCount = 2)
    val out = CorpusPrep.dsirSample(pool, "doc_id", "text", tLm, raw, k = 25, salt = "s")
      .select(col("doc_id"), col("dsir_weight")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 25)
    assert(!out.contains(999L), "token-less doc must never be sampled")
    val fruit = out.keys.count(_ < 100)
    assert(fruit >= 23, s"sample must be dominated by target-like docs, got $fruit/25")
    // every sampled fruit doc out-weighs every sampled metal doc
    val minFruit = out.filter(_._1 < 100).values.minOption.getOrElse(0.0)
    val maxMetal = out.filter(_._1 > 100).values.maxOption.getOrElse(0.0)
    assert(minFruit > maxMetal, s"fruit weights must dominate: $minFruit vs $maxMetal")
  }

  test("dsirSampleFast (saved LMs + native scoring) selects the identical sample " +
      "with identical weights") {
    import graft.llm.CorpusPrep
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tLm = LangModel.trainUnigram(
      docs.filter(col("doc_id") < 80), "text", minCount = 2)
    val rLm = LangModel.trainUnigram(docs, "text", minCount = 2)
    val tPath = tmpLm("dsir_t.lm"); val rPath = tmpLm("dsir_r.lm")
    LangModel.save(tLm, tPath); LangModel.save(rLm, rPath)
    LmRegistry.invalidate(tPath); LmRegistry.invalidate(rPath)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dsir_weight").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slow = key(CorpusPrep.dsirSample(docs, "doc_id", "text", tLm, rLm, 50, "x"))
    val fast = key(CorpusPrep.dsirSampleFast(docs, "doc_id", "text", tPath, rPath, 50, "x"))
    assert(slow == fast, "composable and native DSIR must agree exactly")
    assert(slow.size == 50)
  }

  test("Kneser–Ney: count-of-counts discount; a PROPER distribution — " +
      "p(·|ctx) sums to exactly 1 over vocab ∪ OOV, seen and unseen contexts") {
    val ref = Seq("a b a c a b d c a").toDF("text")
    val lm = LangModel.trainKneserNeyN(ref, "text", order = 2)
    // bigram types: (a,b)×2 (c,a)×2 (b,a) (a,c) (b,d) (d,c) →
    // n1 = 4 singletons, n2 = 2 doubles → D = 4/(4+2·2) = 0.5
    assert(lm.discount(2) == 0.5, s"discount: ${lm.discount(2)}")
    val vocab = Seq("a", "b", "c", "d")
    val outcomes = vocab :+ "zz" // zz stands in for the OOV bucket
    for (w1 <- Seq("a", "zz")) { // a seen and an unseen context
      val docs = (outcomes.zipWithIndex.map { case (w2, i) =>
        (i.toLong, s"$w1 $w2") } :+ (99L -> w1)).toDF("doc_id", "text")
      val got = LangModel.logProbPerDocKneserNeyN(docs, lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // a two-token doc averages position 0 (pcont(w1)) with the pair;
      // the single-token doc 99 isolates position 0, so the pair's
      // conditional log-prob is 2·avg − pcont
      val lpCtx = got(99L)
      val total = outcomes.indices.map { i =>
        math.pow(10.0, 2 * got(i.toLong) - lpCtx) }.sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"p(·|'$w1') must sum to 1 over vocab ∪ OOV, got $total " +
          "(stupid backoff cannot make this claim — KN's distinctive property)")
    }
  }

  test("Kneser–Ney beats the Laplace bigram on held-out prose and still " +
      "ranks training order above the same tokens shuffled") {
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ref = all.filter(col("doc_id") < 200)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val kn = LangModel.trainKneserNeyN(ref, "text", order = 2)
    val lap = LangModel.trainBigram(ref, "text", minCount = 1)
    val knAvg = LangModel.logProbPerDocKneserNeyN(held, kn, "doc_id", "text")
      .agg(avg("knn_logp")).head().getDouble(0)
    val lapAvg = LangModel.logProbPerDocBigram(held, lap, "doc_id", "text")
      .agg(avg("lm2_logp")).head().getDouble(0)
    // Laplace reserves (V+1)-wide uniform mass in EVERY context; KN
    // discounts only D per seen type — the direction is guaranteed,
    // the MARGIN depends on how sparse the contexts are (on this
    // corpus the gap is small but strictly positive, and the whole
    // computation is deterministic, so strict > is stable)
    assert(knAvg > lapAvg,
      s"KN must beat Laplace on held-out prose: kn=$knAvg laplace=$lapAvg")
    val probe = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the")).toDF("doc_id", "text")
    val ordered = (1 to 50).map(_ => "the cat sat on the mat and the dog ran").toDF("text")
    val knO = LangModel.trainKneserNeyN(ordered, "text", order = 2)
    val sc = LangModel.logProbPerDocKneserNeyN(probe, knO, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc(1L) > sc(2L) + 0.1,
      s"KN must prefer training order: ${sc(1L)} vs ${sc(2L)}")
  }

  test("Kneser–Ney trigram: per-level count-of-counts discounts; PROPER " +
      "distribution at every backoff level — seen trigram context, " +
      "seen-middle-only, and fully unseen") {
    val ref = Seq("a b a c a b d c a").toDF("text")
    val lm = LangModel.trainKneserNeyN(ref, "text", order = 3)
    // 7 trigram types, all singletons → d3 = 7/(7+0) capped at 1;
    // continuation bigrams: (c,a)×2 and 5 singletons → d2 = 5/(5+2·1)
    assert(lm.discount(3) == 1.0, s"d3: ${lm.discount(3)}")
    assert(lm.discount(2) == 5.0 / 7.0, s"d2: ${lm.discount(2)}")
    val outcomes = Seq("a", "b", "c", "d", "zz") // zz = the OOV bucket
    for ((w1, w2) <- Seq(("a", "b"), ("zz", "a"), ("zz", "zz"))) {
      // "w1 w2 w" averages three positions; "w1 w2" isolates the first
      // two — so the third position's conditional is 3·avg3 − 2·avg2
      val docs = (outcomes.zipWithIndex.map { case (w, i) =>
        (i.toLong, s"$w1 $w2 $w") } :+ (99L -> s"$w1 $w2")).toDF("doc_id", "text")
      val got = LangModel.logProbPerDocKneserNeyN(docs, lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prefix = 2 * got(99L)
      val total = outcomes.indices.map { i =>
        math.pow(10.0, 3 * got(i.toLong) - prefix) }.sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"p(·|'$w1 $w2') must sum to 1 over vocab ∪ OOV, got $total")
    }
  }

  test("Kneser–Ney trigram separates two-token-back order the KN bigram " +
      "provably cannot") {
    // 'b' continues to 'c' after 'a', to 'e' after 'd' — pure trigram
    // signal; both probes are pairwise identical
    val ref = ((1 to 30).map(_ => "a b c") ++ (1 to 30).map(_ => "d b e"))
      .toDF("text")
    val kn3 = LangModel.trainKneserNeyN(ref, "text", order = 3)
    val kn2 = LangModel.trainKneserNeyN(ref, "text", order = 2)
    val docs = Seq(
      (1L, "a b c"),  // trigram-consistent
      (2L, "a b e")   // every BIGRAM seen, trigram violated
    ).toDF("doc_id", "text")
    val s3 = LangModel.logProbPerDocKneserNeyN(docs, kn3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s3(1L) > s3(2L) + 0.1,
      s"KN3 must prefer the attested continuation: ${s3(1L)} vs ${s3(2L)}")
    val s2 = LangModel.logProbPerDocKneserNeyN(docs, kn2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(s2(1L) - s2(2L)) < 1e-12,
      "both docs are pairwise identical to the KN bigram — order 3's whole point")
  }

  test("KN3 native registry (graft_kn3_logprob) scores the order-3 artifact: " +
      "parity with the composable form at the oracle rounding; foreign files " +
      "rejected") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ref = all.filter(col("doc_id") < 200)
    val kn = LangModel.trainKneserNeyN(ref, "text", order = 3)
    val path = tmpLm("kn3_parity.lm3")
    LangModel.saveNgram(kn.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val slow = LangModel.logProbPerDocKneserNeyN(held, kn, "doc_id", "text")
      .select(col("doc_id"), round(col("knn_logp"), 6).as("s"))
    val fast = held.select(col("doc_id"),
      round(GraftFunctions.kn3LogProb(col("text"), path), 6).as("f"))
    val mism = slow.join(fast, "doc_id").filter(col("s") =!= col("f")).count()
    assert(mism == 0, s"$mism docs disagree between composable and native KN3")
    // OOV-context, seen-middle-only, and short-doc edges agree too
    val edge = Seq((1L, "zzz qqq rrr"), (2L, "the zzz qqq"), (3L, "zzz"),
      (4L, "the of"), (5L, "zzz the of and")).toDF("doc_id", "text")
    val se = LangModel.logProbPerDocKneserNeyN(edge, kn, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    val fe = edge.select(col("doc_id"),
      GraftFunctions.kn3LogProb(col("text"), path))
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    assert(se == fe, s"edge paths must agree: $se vs $fe")
    // a bigram artifact is not a trigram artifact
    val biPath = tmpLm("kn3_notbigram.lm2")
    LangModel.saveNgram(LangModel.trainNgram(ref, "text", order = 2), biPath)
    val err = intercept[Exception] {
      spark.range(1).select(GraftFunctions.kn3LogProb(lit("a b c"), biPath)).head()
    }
    assert(err.getMessage != null)
  }

  test("KN native registry (graft_kn_logprob) scores the order-2 artifact: " +
      "parity with the composable form at the oracle rounding; foreign files " +
      "rejected") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kn = LangModel.trainKneserNeyN(all.filter(col("doc_id") < 200), "text", order = 2)
    val path = tmpLm("kn_parity.lm2")
    LangModel.saveNgram(kn.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val slow = LangModel.logProbPerDocKneserNeyN(held, kn, "doc_id", "text")
      .select(col("doc_id"), round(col("knn_logp"), 6).as("s"))
    val fast = held.select(col("doc_id"),
      round(GraftFunctions.knLogProb(col("text"), path), 6).as("f"))
    val mism = slow.join(fast, "doc_id").filter(col("s") =!= col("f")).count()
    assert(mism == 0, s"$mism docs disagree between composable and native KN")
    // OOV context and OOV word paths agree too
    val edge = Seq((1L, "zzz qqq"), (2L, "the zzz"), (3L, "zzz")).toDF("doc_id", "text")
    val se = LangModel.logProbPerDocKneserNeyN(edge, kn, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    val fe = edge.select(col("doc_id"),
      GraftFunctions.knLogProb(col("text"), path))
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    assert(se == fe, s"edge paths must agree: $se vs $fe")
    // a unigram LM file is not a KN artifact
    val uniPath = tmpLm("kn_notbigram.lm")
    LangModel.save(kn.ngram.unigram, uniPath)
    val err = intercept[Exception] {
      spark.range(1).select(GraftFunctions.knLogProb(lit("a b"), uniPath)).head()
    }
    assert(err.getMessage != null)
  }

  test("legacy saveBigram / saveTrigram artifacts score through the order-n KN " +
      "registry bit for bit like the saveNgram file of trainKneserNeyN; other " +
      "orders rejected; rewriting a path invalidates the cache") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ref = all.filter(col("doc_id") < 200)
    // 300 held docs plus the OOV-context, seen-middle-only and
    // short-doc edges
    val docs = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
      .unionByName(Seq((100001L, "zzz qqq rrr"), (100002L, "the zzz qqq"),
        (100003L, "zzz"), (100004L, "the of"), (100005L, "zzz the of and"))
        .toDF("doc_id", "text"))
    def bits(score: org.apache.spark.sql.Column): Map[Long, Option[Long]] =
      docs.select(col("doc_id"), score).collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      }.toMap
    val lm2 = tmpLm("legacy_kn.lm2"); val ng2 = tmpLm("legacy_kn_o2.lm")
    val lm3 = tmpLm("legacy_kn3.lm3"); val ng3 = tmpLm("legacy_kn3_o3.lm")
    LangModel.saveBigram(LangModel.trainBigram(ref, "text", 1L), lm2)
    LangModel.saveNgram(LangModel.trainKneserNeyN(ref, "text", 2).ngram, ng2)
    LangModel.saveTrigram(LangModel.trainTrigram(ref, "text", 1L), lm3)
    LangModel.saveNgram(LangModel.trainKneserNeyN(ref, "text", 3).ngram, ng3)
    val legacy2 = bits(GraftFunctions.knLogProb(col("text"), lm2))
    assert(legacy2.size == 305)
    assert(legacy2 == bits(GraftFunctions.knNLogProb(col("text"), ng2)),
      "saveBigram via graft_kn_logprob must equal saveNgram via graft_knn_logprob")
    val legacy3 = bits(GraftFunctions.kn3LogProb(col("text"), lm3))
    assert(legacy3 == bits(GraftFunctions.knNLogProb(col("text"), ng3)),
      "saveTrigram via graft_kn3_logprob must equal saveNgram via graft_knn_logprob")
    assert(legacy3 != legacy2)
    // the order-pinned names reject a file of another order, and a
    // unigram file is no KN artifact at all
    val uniPath = tmpLm("legacy_kn_uni.lm")
    LangModel.save(LangModel.trainUnigram(ref, "text"), uniPath)
    for (fn <- Seq(
        GraftFunctions.kn3LogProb(lit("a b c"), lm2),
        GraftFunctions.knLogProb(lit("a b c"), lm3),
        GraftFunctions.knLogProb(lit("a b"), uniPath),
        GraftFunctions.kn3LogProb(lit("a b c"), uniPath))) {
      val err = intercept[Exception](spark.range(1).select(fn).head())
      assert(err.getMessage != null)
    }
    // overwriting a saveTrigram path with another model changes the
    // next score: the save dropped the registry's cached table
    val probe = Seq((1L, "the of and to a in")).toDF("doc_id", "text")
    def score(path: String) = probe
      .select(GraftFunctions.kn3LogProb(col("text"), path)).head().getDouble(0)
    val before = score(lm3)
    val other = all.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    LangModel.saveTrigram(LangModel.trainTrigram(other, "text", 1L), lm3)
    val ngOther = tmpLm("legacy_kn3_other.lm")
    LangModel.saveNgram(LangModel.trainKneserNeyN(other, "text", 3).ngram, ngOther)
    val after = score(lm3)
    assert(after != before, "a rewritten saveTrigram file must not score from the stale cache")
    assert(after == score(ngOther))
  }

  test("order-4 Kneser–Ney: per-level count-of-counts discounts; PROPER " +
      "distribution at every backoff level — seen 4-gram context, " +
      "middle-only, and fully unseen") {
    val ref = Seq("a b a c a b d c a").toDF("text")
    val lm = LangModel.trainKneserNeyN(ref, "text", order = 4)
    assert(lm.order == 4 && lm.discounts.length == 3)
    val outcomes = Seq("a", "b", "c", "d", "zz") // zz = the OOV bucket
    for ((w1, w2, w3) <- Seq(("a", "b", "a"), ("zz", "a", "b"), ("zz", "zz", "zz"))) {
      // "w1 w2 w3 w" averages four positions; "w1 w2 w3" isolates the
      // first three — the fourth position's conditional is 4·avg4 − 3·avg3
      val docs = (outcomes.zipWithIndex.map { case (w, i) =>
        (i.toLong, s"$w1 $w2 $w3 $w") } :+ (99L -> s"$w1 $w2 $w3")).toDF("doc_id", "text")
      val got = LangModel.logProbPerDocKneserNeyN(docs, lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prefix = 3 * got(99L)
      val total = outcomes.indices.map { i =>
        math.pow(10.0, 4 * got(i.toLong) - prefix) }.sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"p(·|'$w1 $w2 $w3') must sum to 1 over vocab ∪ OOV, got $total")
    }
  }

  test("order-4 Kneser–Ney separates three-tokens-back order that KN3 " +
      "provably cannot") {
    // 'c' continues to 'd' after "a b", to 'f' after "e b" — pure
    // 4-gram signal; all trigram statistics are pairwise symmetric
    val ref = ((1 to 30).map(_ => "a b c d") ++ (1 to 30).map(_ => "e b c f"))
      .toDF("text")
    val kn4 = LangModel.trainKneserNeyN(ref, "text", order = 4)
    val kn3 = LangModel.trainKneserNeyN(ref, "text", order = 3)
    val docs = Seq(
      (1L, "a b c d"),  // 4-gram-consistent
      (2L, "a b c f")   // every TRIGRAM seen, 4-gram violated
    ).toDF("doc_id", "text")
    val s4 = LangModel.logProbPerDocKneserNeyN(docs, kn4, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s4(1L) > s4(2L) + 0.1,
      s"KN4 must prefer the attested continuation: ${s4(1L)} vs ${s4(2L)}")
    val s3 = LangModel.logProbPerDocKneserNeyN(docs, kn3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(s3(1L) - s3(2L)) < 1e-12,
      "both docs are pairwise identical to KN3 — order 4's whole point")
  }

  test("KN-n native registry scores the saveNgram artifact: parity with the " +
      "composable form at the oracle rounding; foreign files rejected") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kn = LangModel.trainKneserNeyN(all.filter(col("doc_id") < 200), "text", 4)
    val path = tmpLm("knn_parity.lm4")
    LangModel.saveNgram(kn.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val slow = LangModel.logProbPerDocKneserNeyN(held, kn, "doc_id", "text")
      .select(col("doc_id"), round(col("knn_logp"), 6).as("s"))
    val fast = held.select(col("doc_id"),
      round(GraftFunctions.knNLogProb(col("text"), path), 6).as("f"))
    val mism = slow.join(fast, "doc_id").filter(col("s") =!= col("f")).count()
    assert(mism == 0, s"$mism docs disagree between composable and native KN-4")
    // OOV-context, partially-seen-context, and short-doc edges agree
    val edge = Seq((1L, "zzz qqq rrr www"), (2L, "the zzz qqq rrr"), (3L, "zzz"),
      (4L, "the of"), (5L, "the of and"), (6L, "zzz the of and to")).toDF("doc_id", "text")
    val se = LangModel.logProbPerDocKneserNeyN(edge, kn, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    val fe = edge.select(col("doc_id"),
      GraftFunctions.knNLogProb(col("text"), path))
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    assert(se == fe, s"edge paths must agree: $se vs $fe")
    // a unigram LM file is not an n-gram artifact
    val uniPath = tmpLm("knn_notngram.lm")
    LangModel.save(LangModel.trainUnigram(all.filter(col("doc_id") < 50), "text"), uniPath)
    val err = intercept[Exception] {
      spark.range(1).select(GraftFunctions.knNLogProb(lit("a b c d"), uniPath)).head()
    }
    assert(err.getMessage != null)
  }

  test("saveNgram artifacts with '#'-leading tokens load: a line is a section " +
      "marker only without a tab; native scores match the composable forms") {
    val ref = Seq(
      "## intro the cat sat on the mat",
      "the cat sat on #2grams the mat ##",
      "#2grams ## the dog sat on the log",
      "## ## the cat and the dog #3grams").toDF("text")
    val docs = Seq((1L, "## the cat sat on #2grams"), (2L, "the dog ## sat"),
      (3L, "#2grams ## ##"), (4L, "unseen # words #3grams the mat")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("hash_token_docs")
    def scores(df: org.apache.spark.sql.DataFrame, digits: Int): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) ->
        BigDecimal(r.getDouble(1)).setScale(digits, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).toMap
    val kn = LangModel.trainKneserNeyN(ref, "text", 3)
    val knPath = tmpLm("hash_tokens_kn.lm3")
    LangModel.saveNgram(kn.ngram, knPath)
    assert(scores(spark.sql(
      s"SELECT doc_id, graft_knn_logprob(text, '$knPath') FROM hash_token_docs"), 6) ==
      scores(LangModel.logProbPerDocKneserNeyN(docs, kn, "doc_id", "text"), 6))
    // the stupid-backoff table stores float32 log-probabilities, so its
    // parity with the composable form holds at round(5), as above
    val lm = LangModel.trainNgram(ref, "text", order = 3)
    val lmPath = tmpLm("hash_tokens_lmn.lm3")
    LangModel.saveNgram(lm, lmPath)
    assert(scores(spark.sql(
      s"SELECT doc_id, graft_lmn_logprob(text, '$lmPath') FROM hash_token_docs"), 5) ==
      scores(LangModel.logProbPerDocNgram(docs, lm, "doc_id", "text"), 5))
  }

  test("packed KN-n registry: flat fingerprint/float32 tables agree with " +
      "the exact-string registry at the quantization rounding, OOV edges " +
      "included; a unigram file is rejected through the shared loader") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kn = LangModel.trainKneserNeyN(all.filter(col("doc_id") < 200), "text", 4)
    val path = tmpLm("knn_packed.lm4")
    LangModel.saveNgram(kn.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val exact = held.select(col("doc_id"),
      GraftFunctions.knNLogProb(col("text"), path).as("e"))
    val packed = held.select(col("doc_id"),
      GraftFunctions.knNLogProbPacked(col("text"), path).as("p"))
    val joined = exact.join(packed, "doc_id")
    assert(joined.count() >= 250, "held-out slice must actually score")
    // float32 quantization bounds the divergence (~1e-7 relative per
    // stored value); round-EQUALITY would be a boundary lottery —
    // tolerance is the honest contract (the q116 gate pins round(5)
    // exactness on its own fixed corpus)
    val worst = joined.select(max(abs(col("e") - col("p")))).head().getDouble(0)
    assert(worst < 2e-5,
      s"packed KN-4 diverged from exact by $worst (> 2e-5) on held-out docs")
    // OOV-context / short-doc / partially-seen edges agree too
    val edge = Seq((1L, "zzz qqq rrr www"), (2L, "the zzz qqq rrr"), (3L, "zzz"),
      (4L, "the of"), (5L, "the of and"), (6L, "zzz the of and to"))
      .toDF("doc_id", "text")
    val ee = edge.select(col("doc_id"),
      GraftFunctions.knNLogProb(col("text"), path))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pe = edge.select(col("doc_id"),
      GraftFunctions.knNLogProbPacked(col("text"), path))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ee.keys.foreach { k =>
      assert(math.abs(ee(k) - pe(k)) < 2e-5,
        s"edge doc $k: exact ${ee(k)} vs packed ${pe(k)}")
    }
    // null / empty stay null through the packed expression
    val nulls = Seq((1L, null: String), (2L, "   ")).toDF("doc_id", "text")
      .select(GraftFunctions.knNLogProbPacked(col("text"), path).as("s"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)))
    val uniPath = tmpLm("knn_packed_notngram.lm")
    LangModel.save(LangModel.trainUnigram(all.filter(col("doc_id") < 50), "text"), uniPath)
    val err = intercept[Exception] {
      spark.range(1).select(
        GraftFunctions.knNLogProbPacked(lit("a b c d"), uniPath)).head()
    }
    assert(err.getMessage != null)
  }

  test("modified Kneser–Ney order 4: positive capped discount triples; PROPER " +
      "distribution at every backoff level; the smoothing genuinely differs " +
      "from single-discount interpolated KN on mixed-count contexts") {
    // counts 1, 2, and >= 3 all present at the top level so all three
    // discount buckets are exercised
    val ref = (Seq.fill(4)("a b c d") ++ Seq.fill(2)("a b c e") ++
      Seq("a b c f") ++ Seq.fill(3)("e b c d") ++ Seq("b c a b")).toDF("text")
    val lm = LangModel.trainKneserNeyNMod(ref, "text", order = 4)
    assert(lm.order == 4 && lm.discounts.length == 3)
    lm.discounts.foreach { case (d1, d2, d3) =>
      assert(d1 > 0 && d1 <= 1 && d2 > 0 && d2 <= 2 && d3 > 0 && d3 <= 3,
        "discounts must be strictly positive and capped")
    }
    val outcomes = Seq("a", "b", "c", "d", "e", "f", "zz")
    for ((w1, w2, w3) <- Seq(("a", "b", "c"), ("zz", "b", "c"), ("zz", "zz", "zz"))) {
      val docs = (outcomes.zipWithIndex.map { case (w, i) =>
        (i.toLong, s"$w1 $w2 $w3 $w") } :+ (99L -> s"$w1 $w2 $w3")).toDF("doc_id", "text")
      val got = LangModel.logProbPerDocKneserNeyNMod(docs, lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prefix = 3 * got(99L)
      val total = outcomes.indices.map { i =>
        math.pow(10.0, 4 * got(i.toLong) - prefix) }.sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"mod-KN p(·|'$w1 $w2 $w3') must sum to 1 over vocab ∪ OOV, got $total")
    }
    // the count-bucketed discount is real: on a context whose
    // extensions have MIXED counts, modified and interpolated KN must
    // disagree (a single D cannot equal D1, D2, AND D3 after training
    // produced distinct clamped values)
    val plain = LangModel.trainKneserNeyN(ref, "text", order = 4)
    val probe = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"))
      .toDF("doc_id", "text")
    val sm = LangModel.logProbPerDocKneserNeyNMod(probe, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sp = LangModel.logProbPerDocKneserNeyN(probe, plain, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sm.keys.exists(k => math.abs(sm(k) - sp(k)) > 1e-6),
      s"modified KN must differ from interpolated KN on mixed counts: $sm vs $sp")
    // both must still prefer the frequent continuation over the rare
    assert(sm(1L) > sm(3L), "c(abcd)=4 must outscore c(abcf)=1 under mod-KN")
  }

  test("modified-KN native and packed registries score the saveNgram " +
      "artifact: parity with the composable form; packed within the " +
      "float32 budget; one artifact serves all three smoothings") {
    import graft.functions.GraftFunctions
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainKneserNeyNMod(all.filter(col("doc_id") < 200), "text", 4)
    val path = tmpLm("mkn_parity.lm4")
    LangModel.saveNgram(lm.ngram, path)
    val held = all.filter(col("doc_id") >= 200 && col("doc_id") < 500)
    val slow = LangModel.logProbPerDocKneserNeyNMod(held, lm, "doc_id", "text")
      .select(col("doc_id"), round(col("mkn_logp"), 6).as("s"))
    val fast = held.select(col("doc_id"),
      round(GraftFunctions.knModLogProb(col("text"), path), 6).as("f"))
    val mism = slow.join(fast, "doc_id").filter(col("s") =!= col("f")).count()
    assert(mism == 0, s"$mism docs disagree between composable and native mod-KN")
    // packed: tolerance, not round-equality (the q116 contract)
    val exact = held.select(col("doc_id"),
      GraftFunctions.knModLogProb(col("text"), path).as("e"))
    val packed = held.select(col("doc_id"),
      GraftFunctions.knModLogProbPacked(col("text"), path).as("p"))
    val worst = exact.join(packed, "doc_id")
      .select(max(abs(col("e") - col("p")))).head().getDouble(0)
    assert(worst < 2e-5, s"packed mod-KN diverged by $worst")
    // same artifact scores under interpolated KN and stupid backoff too
    // — the smoothing is load-time derivation, not a file format
    val others = held.limit(50).select(
      GraftFunctions.knNLogProb(col("text"), path).as("kn"),
      GraftFunctions.lmNLogProb(col("text"), path).as("sb"),
      GraftFunctions.knModLogProb(col("text"), path).as("mkn"))
      .collect()
    assert(others.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)))
    // null / empty stay null
    val nulls = Seq((1L, null: String), (2L, "   ")).toDF("doc_id", "text")
      .select(GraftFunctions.knModLogProb(col("text"), path).as("s"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("native KN scoring is a zero-shuffle codegen'd projection " +
      "(plan-asserted for all four registry expressions)") {
    import graft.functions.GraftFunctions._
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lm = LangModel.trainKneserNeyN(all.filter(col("doc_id") < 50), "text", 3)
    val path = tmpLm("knn_plan.lm3")
    LangModel.saveNgram(lm.ngram, path)
    for (expr <- Seq(knNLogProb(col("text"), path),
        knNLogProbPacked(col("text"), path),
        knModLogProb(col("text"), path),
        knModLogProbPacked(col("text"), path))) {
      val plan = all.select(col("doc_id"), expr.as("s"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // the `*(n)` prefix is the executedPlan string's whole-stage-
      // codegen marker — the Project carrying the score must wear it
      assert(plan.linesIterator.exists(l =>
        l.contains("Project") && l.trim.startsWith("*(")),
        s"scoring projection must stay inside whole-stage codegen:\n$plan")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.llm.TextAnalysis

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column) = spark.range(1).select(c).head()

  test("wsTokenCount counts whitespace-separated tokens") {
    assert(one(TextAnalysis.wsTokenCount(lit("a  b\tc\nd"))).getInt(0) == 4)
    assert(one(TextAnalysis.wsTokenCount(lit(""))).getInt(0) == 0)
  }

  test("bpeishTokenCount splits long words and counts punct per char") {
    // "tokenization" = 12 letters -> 3 subwords; "42" -> 2 digits; "!" -> 1
    assert(one(TextAnalysis.bpeishTokenCount(lit("tokenization 42!"))).getInt(0) == 6)
  }

  test("punctCount and meanTokenLength") {
    assert(one(TextAnalysis.punctCount(lit("a,b.c!"))).getInt(0) == 3)
    assert(one(TextAnalysis.meanTokenLength(lit("ab cdef"))).getDouble(0) == 3.0)
  }

  test("stopwordRatio high for prose, zero for garbage") {
    val prose = one(TextAnalysis.stopwordRatio(lit("the cat sat on the mat and it slept"))).getDouble(0)
    val junk = one(TextAnalysis.stopwordRatio(lit("xk9 qq7 zzz9"))).getDouble(0)
    assert(prose > 0.2)
    assert(junk == 0.0)
  }

  test("qualityScore in [0,1], orders prose above garbage") {
    val prose = one(TextAnalysis.qualityScore(
      lit("the quick brown fox jumps over the lazy dog and it runs to the forest in the morning light for a while"))).getDouble(0)
    val junk = one(TextAnalysis.qualityScore(lit("$$@@!! ## ___ ???"))).getDouble(0)
    assert(prose > 0.7, s"prose=$prose")
    assert(junk < 0.3, s"junk=$junk")
    assert(prose <= 1.0 && junk >= 0.0)
  }

  test("langId identifies planted natural-language samples") {
    val samples = Seq(
      ("the house is in the middle of the village and it is old", "en"),
      ("der hund ist nicht mit der katze und ich gehe zu dir", "de"),
      ("le chat est dans la maison et les enfants sont pour une heure", "fr"),
      ("el perro es un animal y la casa que es de madera", "es"),
      ("o menino que mora em uma casa para os amigos do porto", "pt"),
      ("il gatto che non sono con una casa di roma per la sera", "it"),
      ("ik denk dat het een huis van de stad niet op straat te zien is", "nl"),
      ("я не знаю что это он как в на с берегу", "ru"),
      ("你好世界这是一个中文句子没有空格", "zh"),
      // script tier (round 10): nine non-Latin scripts classify by
      // dominant script — including JAPANESE, which mixes dominant han
      // with kana and must NOT read "zh"
      ("これは日本語の文章ですテストです", "ja"),
      ("日本語の漢字が多い文でも、かなが出れば日本語です", "ja"),
      ("이것은 한국어 테스트 문장입니다", "ko"),
      ("هذا اختبار للغة العربية فقط", "ar"),
      ("זהו מבחן בשפה העברית בלבד", "he"),
      ("αυτό είναι ένα τεστ στα ελληνικά", "el"),
      ("यह हिंदी में एक परीक्षण है", "hi"),
      ("นี่คือการทดสอบภาษาไทย", "th"),
      // Cyrillic WITHOUT Russian stopwords: the script-level fallback
      ("председательство телевидение возможность", "ru"),
      // the round-10 profile additions; Ukrainian must outvote both
      // the ru profile and the Cyrillic script fallback
      ("і в не на що як з до це та мова", "uk"),
      ("i w nie na się z do to jest że dom", "pl"),
      ("och att det som en på är av för med hus", "sv"),
      ("ve bir bu için ile de da ne gibi çok ev", "tr"),
      ("a se na je že s z do to k dům", "cs"),
      ("și de la cu un o în pe este care casă", "ro"),
      ("ja on ei että se hän oli mutta niin kun talo", "fi"),
      ("og i at det en den til er som på hus", "da"),
      ("a az és hogy nem is egy van de ez ház", "hu"),
      ("yang dan di itu dengan untuk tidak ini dari ke rumah", "id"),
      ("và của là có không được trong đã người này", "vi"),
      // round 11, the Cyrillic split: bulgarian and serbian profiles
      // must outvote ru (their samples share up to 5/3 words with the
      // ru profile) and each other (bg/sr share 6), and RUSSIAN text
      // must keep winning its own vote against the new profiles
      ("и в на не се да е за от с език", "bg"),
      ("и у је се на да не за су од реч", "sr"),
      ("это он как что я не знаю про море", "ru"),
      ("xk9qq7 zzz9 blorp", "unknown"),
    ).toDF("text", "want")
    val got = samples.withColumn("got", TextAnalysis.langId(col("text"))).collect()
    got.foreach(r => assert(r.getString(2) == r.getString(1),
      s"text='${r.getString(0).take(30)}' want=${r.getString(1)} got=${r.getString(2)}"))
  }

  test("native docFingerprint is bit-identical to the HOF reference form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text"))
      .unionByName(Seq(
        "héllo wörld ça va bien aujourd'hui — vraiment",
        "я не знаю что это за текст но он тут",
        "短 short", "", "x").toDF("text"))
    val cmp = docs.select(
      TextAnalysis.docFingerprint(col("text")).as("native"),
      TextAnalysis.docFingerprintHof(col("text")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
    // and the SQL registration path resolves to the same expression
    val viaSql = docs.limit(5).select(
      call_function("graft_fingerprint", col("text"), lit(8), lit(4)).as("f"),
      TextAnalysis.docFingerprint(col("text")).as("g"))
    assert(viaSql.filter(col("f") =!= col("g")).count() == 0)
  }

  test("docFingerprint: shift-tolerant, distinct for different docs") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog near the river bank"),
      ("b", "PREFIX the quick brown fox jumps over the lazy dog near the river bank"),
      ("c", "a completely different document about query engines and columnar storage")
    ).toDF("id", "text").withColumn("fp", TextAnalysis.docFingerprint(col("text")))
    val fp = df.collect().map(r => r.getString(0) -> r.getSeq[Long](2)).toMap
    assert(fp("a").length == 4)
    // shared min-grams survive a prefix shift (min-sampling is position-free)
    val overlapNear = fp("a").toSet.intersect(fp("b").toSet).size
    val overlapFar = fp("a").toSet.intersect(fp("c").toSet).size
    assert(overlapNear > overlapFar)
    assert(overlapNear >= 3, s"near overlap $overlapNear")
  }

  test("redact: scrubs planted PII, order protects addresses, passthrough otherwise") {
    import spark.implicits._
    val rows = Seq(
      "write a1_b%+x@sub.example.co or c@d.io",    // two emails
      "host 192.168.0.1 and 10.0.255.7",           // two IPs
      "call +1 555 010 1234 or 020-7946-0958 now", // two phones
      "mixed bob@x.org at 10.0.0.1 tel 5550101234",
      "clean text with no pii at all"
    ).toDF("text")
    val got = rows.select(TextAnalysis.redact(col("text")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "write <EMAIL> or <EMAIL>")
    assert(got(1) == "host <IP> and <IP>")
    assert(got(2) == "call <PHONE> or <PHONE> now")
    assert(got(3) == "mixed <EMAIL> at <IP> tel <PHONE>")
    assert(got(4) == "clean text with no pii at all")
    // per-rule counts == actual replacements (progressive)
    val counts = rows.select(TextAnalysis.redactionCounts(col("text")): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(counts(0) == ((2L, 0L, 0L)) && counts(1) == ((0L, 2L, 0L)) &&
      counts(2) == ((0L, 0L, 2L)) && counts(4) == ((0L, 0L, 0L)))
    // a phone-ish digit run INSIDE an email address: the email rule
    // consumes it, so the phone count must be 0 (raw-text counting
    // would claim 1 — the metric must agree with the scrub)
    val nested = Seq("reach bob5551234567@mail.com ok").toDF("text")
    assert(nested.select(TextAnalysis.redact(col("text")))
      .head().getString(0) == "reach <EMAIL> ok")
    val nc = nested.select(TextAnalysis.redactionCounts(col("text")): _*).head()
    assert((nc.getLong(0), nc.getLong(1), nc.getLong(2)) == ((1L, 0L, 0L)),
      s"progressive counts must not report the consumed span: $nc")
    assert(nested.select(TextAnalysis.redactionCount(col("text"),
      TextAnalysis.defaultRedactions(2))).head().getLong(0) == 1L,
      "raw single-rule count keeps its as-given semantics")
  }

  test("bm25Score: hand-computed scores on a tiny fixture") {
    import spark.implicits._
    // corpus: 3 docs; "rare" appears only in doc 1, "com" in all;
    // doc 3 matches nothing and must be excluded
    val docs = Seq(
      (1L, "rare com com"),          // dl=3, tf(rare)=1, tf(com)=2
      (2L, "com alpha beta gamma"),  // dl=4, tf(com)=1
      (3L, "alpha beta")             // dl=2, no match
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Score(docs, "doc_id", "text", Seq("rare", "com"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // N=3, avgdl=3; idf(rare)=ln(1+(3-1+.5)/(1.5)), idf(com)=ln(1+(3-2+.5)/(2.5))
    def term(tf: Double, df: Double, dl: Double): Double = {
      val idf = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    }
    def r4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L), s"doc 3 must be excluded: $got")
    assert(got(1L) == (3L, r4(term(1, 1, 3) + term(2, 2, 3))), s"got ${got(1L)}")
    assert(got(2L) == (4L, r4(term(0, 1, 4) + term(1, 2, 4))), s"got ${got(2L)}")
    // rare-term doc outranks common-term doc
    assert(got(1L)._2 > got(2L)._2)
    // argument guards
    intercept[IllegalArgumentException](TextAnalysis.bm25Score(docs, "doc_id", "text", Nil))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Score(docs, "doc_id", "text", Seq("UPPER")))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Score(docs, "doc_id", "text", Seq("a", "a")))
  }

  test("repetitionScore: hand-computed duplicate-trigram fractions") {
    import spark.implicits._
    val got = Seq(
      ("loop", "a b a b a b"),       // trigrams: aba, bab, aba, bab → 1 − 2/4
      ("prose", "one two three four"), // all distinct → 0
      ("short", "just two"),          // < 3 tokens → 0 by definition
      ("empty", " "),
      ("stuffed", "buy now buy now buy now buy now")) // 1 − 2/6
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.repetitionScore(col("text"), 3).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("loop") == 0.5)
    assert(got("prose") == 0.0)
    assert(got("short") == 0.0)
    assert(got("empty") == 0.0)
    assert(math.abs(got("stuffed") - (1.0 - 2.0 / 6.0)) < 1e-12)
  }

  test("native repetition is bit-identical to the HOF reference form") {
    import spark.implicits._
    // edge fixtures + the real corpus — doubles must match EXACTLY
    val edges = Seq("a b a b a b", "one two three four", "just two", " ", "",
      "x X x X x", "tab\tseparated tab\tseparated tab\tseparated")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").unionByName(edges.withColumn("doc_id", col("doc_id") + 900000))
    for (n <- Seq(1, 2, 3, 8)) {
      val mismatch = corpus.select(
        TextAnalysis.repetitionScore(col("text"), n).as("hof"),
        TextAnalysis.repetitionScoreFast(col("text"), n).as("native"))
        .filter(col("hof") =!= col("native")).count()
      assert(mismatch == 0, s"n=$n: native diverged from HOF")
    }
  }

  test("contaminationHits/decontaminate: planted benchmark overlap, clean docs untouched") {
    import spark.implicits._
    val bench = Seq((900L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("bid", "btext")
    val docs = Seq(
      // full copy: shares every 8-gram with the bench doc
      (1L, "the quick brown fox jumps over the lazy dog today"),
      // embedded: the 10-token bench phrase inside other text
      (2L, "intro words the quick brown fox jumps over the lazy dog today and more"),
      // shares only a 5-gram — below the 8-gram contamination bar
      (3L, "the quick brown fox jumps somewhere else entirely now then"),
      (4L, "completely unrelated content about spark query planning here"))
      .toDF("doc_id", "text")
    val hits = TextAnalysis.contaminationHits(docs, bench, "doc_id", "text", "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 10 tokens → 3 distinct 8-grams; the full copy hits all 3; the
    // embedded copy still contains all 3 (plus unshared grams)
    assert(hits(1L) == 3)
    assert(hits(2L) == 3)
    assert(!hits.contains(3L), s"5-gram overlap must not flag: $hits")
    assert(!hits.contains(4L))
    val clean = TextAnalysis.decontaminate(docs, bench, "doc_id", "text", "btext", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(3L, 4L))
  }

  test("decontaminateNearDup: case-reformatted benchmark copy dropped, unrelated " +
      "docs untouched (the whole-document complement of the n-gram check)") {
    import spark.implicits._
    def hex(seed: String) =
      f"${scala.util.hashing.MurmurHash3.stringHash(seed)}%08x"
    val benchWords = (0 until 50).map(j => hex(s"bench-$j"))
    val bench = Seq(benchWords.mkString(" ")).toDF("text")
    // the reformat/paraphrase class: case changes re-wrap the SAME
    // token stream, so the shingle SimHash is identical (hamming 0)
    // while the raw bytes (and content hash) differ
    val nearCopy = benchWords.zipWithIndex.map { case (w, i) =>
      if (i % 7 == 0) w.toUpperCase else w }.mkString(" ")
    val docs = Seq(
      (1L, nearCopy),
      (2L, (0 until 50).map(j => hex(s"other-$j")).mkString(" ")),
      (3L, (0 until 50).map(j => hex(s"more-$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.decontaminateNearDup(docs, bench, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"near-copy must drop, unrelated kept: $kept")
  }

  test("hashed-gram contamination agrees with the string form on the real corpus") {
    // 64-bit collisions are ~impossible at this scale, so the scale
    // form must flag EXACTLY the same docs with the same hit counts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    def hits(h: Boolean) = TextAnalysis.contaminationHits(
      corpus, bench, "doc_id", "text", "text", n = 8, hashGrams = h)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(true) == hits(false))
  }

  test("contamination plan: benchmark grams broadcast, corpus side not shuffled before the semi-join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val plan = TextAnalysis.contaminationHits(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", "text", "text").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"bench grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for the semi-join:\n$plan")
  }

  test("stripBoilerplate: planted header/footer vanish, bodies survive in order, " +
      "all-boilerplate doc comes back empty") {
    val docs = ((0 until 12).map { i =>
      (i.toLong, s"HEADER\nbody $i line one\nbody $i line two\nFOOTER")
    } :+ (99L, "HEADER\nFOOTER")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", minDocFreq = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.size == 13) // every input doc present, including the emptied one
    (0 until 12).foreach { i =>
      assert(out(i.toLong) == (s"body $i line one\nbody $i line two", 2L), s"doc $i: ${out(i.toLong)}")
    }
    assert(out(99L) == ("", 0L), "fully-boilerplate doc must come back empty, not dropped")
  }

  test("stripBoilerplate: doc frequency is per-DISTINCT-doc; kept duplicate lines " +
      "survive with multiplicity") {
    // "echo" appears 20× but inside ONE doc → df=1, NOT boilerplate;
    // "banner" appears once in each of 10 docs → df=10, dropped
    val spam = (1L, (Seq.fill(20)("echo") :+ "banner").mkString("\n"))
    val others = (2L to 10L).map(i => (i, s"banner\nunique $i"))
    val out = TextAnalysis.stripBoilerplate(
      (others :+ spam).toDF("doc_id", "text"), "doc_id", "text", minDocFreq = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (Seq.fill(20)("echo").mkString("\n"), 20L))
    (2L to 10L).foreach(i => assert(out(i) == (s"unique $i", 1L)))
  }

  test("stripBoilerplate: threshold boundary — df = minDocFreq-1 survives everywhere") {
    val docs = (1L to 9L).map(i => (i, s"shared\nown $i")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", minDocFreq = 10)
    assert(out.filter(col("text").contains("shared")).count() == 9)
    intercept[IllegalArgumentException] {
      TextAnalysis.stripBoilerplate(docs, "doc_id", "text", minDocFreq = 1)
    }
  }

  test("corpusReport: hand-computed group totals, empty docs counted, " +
      "single partial-agg shuffle") {
    val docs = Seq(
      (1L, "en", "a b c"),       // 3 tokens, 5 chars
      (2L, "en", "d e"),         // 2 tokens, 3 chars
      (3L, "en", "   "),         // 0 tokens, 3 chars — empty
      (4L, "fr", "xyz")          // 1 token, 3 chars
    ).toDF("doc_id", "lang", "text")
    val rep = TextAnalysis.corpusReport(docs, Seq("lang"))
    val byLang = rep.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(byLang("en") == (3L, 11L, 5L, 0L, 3L, 1L))
    assert(byLang("fr") == (1L, 3L, 1L, 1L, 1L, 0L))
    // with AQE the plan string repeats under "== Initial Plan ==" —
    // count exchanges only in the final plan section
    val plan = rep.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(plan).size == 1, s"one partial-agg shuffle expected:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"partial aggregation expected:\n$plan")
    intercept[IllegalArgumentException] { TextAnalysis.corpusReport(docs, Nil) }
  }

  test("gopherFlags: hand-computed evidence on a crafted doc") {
    // toks = [one#, two…, -, three, four...]  → n_words 5, nonspace 21
    // lines: "one# two…" (ends …), "- three" (bullet), "four..." (ends ...)
    val out = Seq((1L, "one# two…\n- three\nfour..."))
      .toDF("doc_id", "text")
      .select(TextAnalysis.gopherFlags(col("text")).as("g"))
      .select(col("g.*")).collect().head
    assert(out.getAs[Long]("n_words") == 5L)
    assert(out.getAs[Double]("mean_word_len") == 4.2)
    assert(out.getAs[Double]("hash_ratio") == 0.2)
    assert(out.getAs[Double]("ellipsis_ratio") == 0.4) // '…' + one '...'
    assert(out.getAs[Double]("bullet_line_frac") == 0.333333)
    assert(out.getAs[Double]("ellipsis_line_frac") == 0.666667)
    assert(out.getAs[Double]("alpha_word_frac") == 0.8)
    assert(out.getAs[Long]("stop_hits") == 0L)
    assert(!out.getAs[Boolean]("ok_word_count")) // 5 < 50
    assert(out.getAs[Boolean]("ok_word_len"))    // 4.2 ∈ [3,10]
    assert(!out.getAs[Boolean]("ok_symbols"))    // 0.2 > 0.1
    assert(out.getAs[Boolean]("ok_bullets"))     // 1/3 ≤ 0.9
    assert(!out.getAs[Boolean]("ok_ellipsis_lines")) // 2/3 > 0.3
    assert(out.getAs[Boolean]("ok_alpha"))       // 4/5 ≥ 0.8
    assert(!out.getAs[Boolean]("ok_stopwords"))
    assert(!out.getAs[Boolean]("keep"))
  }

  test("gopherFlags: each rule flips keep; prose passes; empty doc yields zeros") {
    val prose = Array.fill(5)(
      "the quick brown fox jumps over that lazy dog with vigor today").mkString(" ")
    def keepOf(text: String): Boolean =
      Seq((1L, text)).toDF("doc_id", "text")
        .select(TextAnalysis.gopherKeep(col("text")).as("k"))
        .collect().head.getBoolean(0)
    assert(keepOf(prose), "60 words of stopworded prose must pass all rules")
    assert(!keepOf("the cat with hat"), "word count below 50")
    assert(!keepOf(prose + " " + Array.fill(10)("####").mkString(" ")),
      "hash symbol ratio above 0.1")
    assert(!keepOf(prose.split(" ").map("- " + _).mkString("\n")),
      "every line bullet-prefixed")
    assert(!keepOf(prose.split(" ").map(_ + "...").mkString("\n")),
      "every line ellipsis-terminated")
    assert(!keepOf((1 to 60).map(_.toString + "9").mkString(" ")),
      "alphabetic-word fraction below 0.8")
    assert(!keepOf(Array.fill(60)("lorem ipsum dolor").mkString(" ")),
      "no Gopher stopwords present")
    assert(!keepOf(Array.fill(60)("a").mkString(" ") + " the be"),
      "mean word length below 3")
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(TextAnalysis.gopherFlags(col("text")).as("g"))
      .select(col("g.*")).collect().head
    assert(empty.getAs[Long]("n_words") == 0L)
    assert(empty.getAs[Double]("mean_word_len") == 0.0) // max(n,1) denominator
    assert(!empty.getAs[Boolean]("keep"))
    assert(!empty.anyNull, "no NULL logic to replicate cross-engine")
  }

  test("gopherFlags: custom thresholds override the published defaults") {
    val t = TextAnalysis.GopherThresholds(minWords = 3, minStopwordHits = 1)
    val k = Seq((1L, "the quick brown fox runs"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.gopherKeep(col("text"), t).as("k"))
      .collect().head.getBoolean(0)
    assert(k, "5 words + 1 stopword passes with relaxed thresholds")
  }

  test("stripHtml: blocks dropped, breaks become lines, tags stripped, " +
      "entities decoded in order, whitespace squeezed") {
    def strip(s: String): String =
      Seq((1L, s)).toDF("doc_id", "text")
        .select(TextAnalysis.stripHtml(col("text")).as("t"))
        .collect().head.getString(0)
    assert(strip("<p>Hello <b>world</b></p><div>bye</div>") == "Hello world\nbye")
    assert(strip("<script>if (a < b) alert('x');</script>keep") == "keep",
      "script content (even with '<') must vanish wholesale")
    assert(strip("<style>.c { color: red }</style>keep") == "keep")
    assert(strip("a<!-- no -->b") == "ab")
    assert(strip("one&nbsp;two &amp; three &lt;tag&gt;") == "one two & three <tag>")
    assert(strip("&amp;lt;") == "&lt;",
      "&amp; decodes LAST: double-escaped stays single-escaped")
    assert(strip("x   y\t\tz") == "x y z", "space runs squeeze")
    assert(strip("  <h1>Padded</h1>  next  ") == "Padded\nnext",
      "lines trim at both ends")
    assert(strip("line<br>break<br/>both") == "line\nbreak\nboth")
    assert(strip("no markup at all.") == "no markup at all.")
    // review-fix pins: prose '<'/'>' survives (tags must start with a
    // letter, '/', or '!'); browsers treat <john@...> as a tag and so
    // do we; CRLF normalizes so the line trim is engine-agnostic
    assert(strip("for 1 < n and n > 5 it holds") == "for 1 < n and n > 5 it holds")
    assert(strip("<!DOCTYPE html>x") == "x")
    assert(strip("John <john@example.com> wrote") == "John wrote")
    assert(strip("a \r\nb<br>c") == "a\nb\nc", "CRLF cleaned, trailing space trimmed")
  }

  test("stripHtmlFull decodes the COMPLETE WHATWG set: names outside the core " +
      "list, numeric forms, multi-codepoint replacements; unknowns pass through") {
    def strip(s: String): String =
      Seq((1L, s)).toDF("doc_id", "text")
        .select(TextAnalysis.stripHtmlFull(col("text")).as("t"))
        .collect().head.getString(0)
    // names OUTSIDE the 7-entity core list — the full-table proof
    assert(strip("Caf&eacute; costs 5&euro; &hellip; &copy;2024") ==
      "Café costs 5€ … ©2024")
    assert(strip("x &mdash; y &trade; &Uuml;ber") == "x — y ™ Über")
    // the longest name in the published table, and a multi-codepoint one
    assert(strip("&CounterClockwiseContourIntegral;") == "∳")
    assert(strip("&fjlig;ord") == "fjord", "multi-char replacement (fj ligature)")
    // numeric references: decimal, hex, supplementary plane
    assert(strip("n&#8212;m &#233; &#x1F60A;") ==
      "n—m é " + new String(Character.toChars(0x1f60a)))
    // non-references pass through verbatim: unknown name, no semicolon,
    // bare prose ampersand, invalid numerics (zero, surrogate, overflow)
    assert(strip("&notareal; Fish&Chips AT&T &amp x") ==
      "&notareal; Fish&Chips AT&T &amp x")
    assert(strip("&#0; &#xD800; &#x110000; &#; &#x;") ==
      "&#0; &#xD800; &#x110000; &#; &#x;")
    // single-pass semantics match the ordered core chain on its subset,
    // double-escape included
    assert(strip("one&nbsp;two &amp; three &lt;tag&gt;") == "one two & three <tag>")
    assert(strip("&amp;lt;") == "&lt;",
      "the scanner continues AFTER a replacement: double-escape survives one level")
    // scanning continues cleanly across adjacent references
    assert(strip("&lt;&lt;&gt;&gt;") == "<<>>")
    // table size sanity: this IS the full published set, not a stand-in
    assert(graft.functions.HtmlEntityImpl.table.size == 2125,
      s"bundled WHATWG table should hold 2125 names, got " +
        s"${graft.functions.HtmlEntityImpl.table.size}")
  }

  test("q108 lockstep guard: documents text contains no ampersand at this SF " +
      "(the oracle replays only the PLANTED references)") {
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").contains("&")).count()
    assert(n == 0, "documents text grew ampersands — q108's oracle decode " +
      "chain no longer covers every reference the engine side sees; extend " +
      "the planted-reference list in SparkEntry (both sides) in lockstep")
  }

  test("graft_fix_mojibake: the algorithm strictly generalizes the repair list, " +
      "unwinds double encodings, and never touches clean text") {
    def fix(s: String): String =
      Seq((1L, s)).toDF("doc_id", "text")
        .select(graft.functions.GraftFunctions.fixMojibake(col("text")).as("t"))
        .collect().head.getString(0)
    // every hand-derived list entry is a special case of the algorithm
    TextAnalysis.MojibakeRepairs.foreach { case (bad, good) =>
      assert(fix(s"x${bad}y") == s"x${good}y",
        s"list entry ${bad.map(c => f"\\u${c.toInt}%04x").mkString} not generalized")
    }
    // the long tail no finite list covers: any accent, any symbol
    assert(fix("naÃ¯ve Å¡ â€¡") ==
      "naïve š ‡", "i-umlaut, s-caron, double dagger")
    // double-encoded right single quote unwinds in two passes
    assert(fix("itÃ¢â‚¬â„¢s") == "it’s")
    // clean text passes through untouched — including a legitimate
    // lead-byte glyph with no continuation rendering after it
    assert(fix("plain ascii stays.") == "plain ascii stays.")
    assert(fix("Ã la carte, 25°, résumé") ==
      "Ã la carte, 25°, résumé",
      "already-correct text (and bare Ã) must survive")
    // idempotent: a fixed string has no renderings left
    val s = "cafÃ© â€œqâ€"
    assert(fix(fix(s)) == fix(s))
  }

  test("normalizeTextFull == normalizeText on list-covered fixtures; q106 guard: " +
      "corpus is pure ASCII (the oracle replays only planted sequences)") {
    val fixtures = Seq(
      "cafÃ© â€œokâ€",
      "itâs â fine",
      "a\r\nbc\tde",
      "plain text.")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val both = df.select(
        TextAnalysis.normalizeText(col("text")).as("chain"),
        TextAnalysis.normalizeTextFull(col("text")).as("algo"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1),
      s"chain='${r.getString(0)}' algo='${r.getString(1)}'"))
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(n == 0, "documents text grew non-ASCII — q106's oracle replay " +
      "no longer covers what the algorithmic fixer sees; extend the " +
      "planted-sequence list in SparkEntry (both sides) in lockstep")
  }

  test("normalizeText: mojibake (both cp1252 and latin-1 renderings) repaired, " +
      "CRLF and controls cleaned, NFC composed, idempotent") {
    def norm(s: String): String =
      Seq((1L, s)).toDF("doc_id", "text")
        .select(TextAnalysis.normalizeText(col("text")).as("t"))
        .collect().head.getString(0)
    // cp1252 rendering of e-acute and curly quotes
    assert(norm("caf\u00c3\u00a9 \u00e2\u20ac\u0153ok\u00e2\u20ac\u009d") ==
      "caf\u00e9 \u201cok\u201d")
    // latin-1 rendering (C1 controls in the sequence: repaired before
    // the control strip can destroy the evidence)
    assert(norm("it\u00e2\u0080\u0099s \u00e2\u0080\u0093 fine") ==
      "it\u2019s \u2013 fine")
    // CRLF -> LF; bare controls stripped; tab and newline kept
    assert(norm("a\r\nb\u0007c\td\u009fe") == "a\nbc\tde")
    // a LONE \r is a line ending too (classic-Mac scrapes): it must
    // become \n, never be strip-deleted into fused words — the CR-only
    // twin of an LF document must share ONE canonical form
    assert(norm("First line.\rSecond line.") == "First line.\nSecond line.")
    // NFC: combining acute composes; already-NFC text unchanged
    assert(norm("e\u0301tude") == "\u00e9tude")
    assert(norm("plain ascii text") == "plain ascii text")
    // idempotence: a normalized corpus re-normalizes to itself
    val once = norm("caf\u00c3\u00a9 e\u0301\r\nx")
    assert(norm(once) == once)
  }

  test("c4Flags: hand-computed evidence; line retention; sentence counting") {
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    val text = prose + "\ntoo short.\nenable Javascript today please." +
      "\nno punctuation here"
    val out = Seq((1L, text)).toDF("doc_id", "text")
      .select(TextAnalysis.c4Flags(col("text")).as("c"))
      .select(col("c.*")).collect().head
    assert(out.getAs[Long]("n_lines") == 4L)
    assert(out.getAs[Long]("n_lines_kept") == 1L,
      "short / javascript / unterminated lines must drop")
    assert(out.getAs[String]("clean_text") == prose)
    assert(out.getAs[Long]("n_sentences") == 5L) // 3×'.', '!', '?'
    assert(!out.getAs[Boolean]("has_brace"))
    assert(!out.getAs[Boolean]("has_lorem"))
    assert(!out.getAs[Boolean]("has_badword"))
    assert(out.getAs[Boolean]("keep"))
  }

  test("c4Flags: each page rule flips keep; bad-word match is whole-word; " +
      "empty doc yields zeros") {
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    def keepOf(text: String): Boolean =
      Seq((1L, text)).toDF("doc_id", "text")
        .select(TextAnalysis.c4Flags(col("text")).getField("keep").as("k"))
        .collect().head.getBoolean(0)
    assert(keepOf(prose))
    assert(!keepOf(prose + "\ncode { x } inside."), "curly brace drops the page")
    assert(!keepOf(prose + "\nmore Lorem Ipsum filler text."), "lorem ipsum drops")
    assert(!keepOf(prose + "\nwell shit happens sometimes."), "bad word drops")
    assert(keepOf(prose + "\nhe mishit the ball completely today."),
      "bad-word match is whole-word, not substring ('mishit' passes)")
    // the published-list entry classes the single-word intersect can't
    // see: multi-word phrases and entries with digits match as whole
    // phrases with non-letter boundaries (review finding)
    def keepWith(text: String, words: Seq[String]): Boolean =
      Seq((1L, text)).toDF("doc_id", "text")
        .select(TextAnalysis.c4Flags(col("text"),
          TextAnalysis.C4Thresholds(badWords = words)).getField("keep").as("k"))
        .collect().head.getBoolean(0)
    val phrasy = Seq("bad phrase", "x4x")
    assert(!keepWith(prose + "\nthis bad phrase appears here today.", phrasy),
      "multi-word entry must fire as a whole phrase")
    assert(keepWith(prose + "\nthis badphrase appears here today.", phrasy),
      "phrase must not fire without its internal boundary")
    assert(keepWith(prose + "\nabad phrase appears right here today.", phrasy),
      "phrase needs a non-letter left boundary")
    assert(!keepWith(prose + "\nsee x4x here now.", phrasy),
      "digit-bearing entry must fire with boundaries")
    assert(keepWith(prose + "\nsee ax4x here now.", phrasy),
      "digit-bearing entry must not fire inside a letter run")
    assert(!keepOf("One two three. Four five six! Seven eight nine? Ten so far."),
      "4 sentences is below the 5-sentence floor")
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(TextAnalysis.c4Flags(col("text")).as("c"))
      .select(col("c.*")).collect().head
    assert(empty.getAs[Long]("n_lines_kept") == 0L)
    assert(empty.getAs[Long]("n_sentences") == 0L)
    assert(empty.getAs[String]("clean_text") == "")
    assert(!empty.getAs[Boolean]("keep"))
    assert(!empty.anyNull, "no NULL logic to replicate cross-engine")
  }

  test("c4Flags: CRLF and LF pages produce identical flags and clean_text") {
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    val lf = prose + "\ntoo short.\nmore prose follows here today."
    val crlf = lf.replace("\n", "\r\n")
    val out = Seq((1L, lf), (2L, crlf)).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.c4Flags(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(out(1L) == out(2L),
      "a Windows-formatted page must not carry stray \\r into clean_text")
    assert(!out(2L).getAs[String]("clean_text").contains("\r"))
  }

  test("gopherFlags: CRLF and LF documents produce identical flags") {
    // with normalize-text off, a Windows-formatted page must not leave
    // a trailing \r on every line: rtrim strips spaces only, so the
    // ellipsis-line rule could never fire and bullet/line rules would
    // judge \r-suffixed lines (review finding)
    val words = (1 to 60).map(i => s"the word$i and").mkString(" ")
    val lf = words + "\nthis line trails off...\n• a bullet line"
    val crlf = lf.replace("\n", "\r\n")
    val out = Seq((1L, lf), (2L, crlf)).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.gopherFlags(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(out(1L) == out(2L), s"CRLF drift: ${out(1L)} vs ${out(2L)}")
    // the ellipsis-line rule actually fires on the CRLF form too
    assert(out(2L).getAs[Double]("ellipsis_line_frac") > 0.0)
  }

  test("c4Apply: drops failing pages, rewrites survivors to retained lines, " +
      "preserves schema") {
    val prose = "It was a fine day. The dog barked loudly! Was it fun? " +
      "Yes it was. All good."
    val df = Seq(
      (1L, prose + "\ntrailing junk without punctuation", "m1"),
      (2L, "Short page here. Only two sentences here.", "m2"))
      .toDF("doc_id", "text", "meta")
    val out = TextAnalysis.c4Apply(df, "text")
    assert(out.columns.toSeq == df.columns.toSeq, "schema preserved")
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L), "2-sentence page dropped")
    assert(rows.head.getString(1) == prose, "text rewritten to retained lines")
    assert(rows.head.getString(2) == "m1", "other columns ride along")
  }

  test("analysis runs shuffle-free over documents (scan-speed map)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = docs.select(col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("toks"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang"))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(out.count() == docs.count())
  }
}

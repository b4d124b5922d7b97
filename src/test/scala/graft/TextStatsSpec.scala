package graft

import org.apache.spark.sql.functions._
import graft.llm.TextAnalysis

/** Single-pass text stats vs the composable column formulations. */
class TextStatsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("stats counters match the composable forms on the real (ASCII) corpus") {
    val cmp = docs.select(
      TextAnalysis.stats(col("text")).as("s"),
      TextAnalysis.wsTokenCount(col("text")).as("toks"),
      TextAnalysis.punctCount(col("text")).as("punct"),
      length(col("text")).as("chars"))
    val bad = cmp.filter(
      col("s.n_tokens") =!= col("toks") ||
      col("s.n_punct") =!= col("punct") ||
      col("s.n_chars") =!= col("chars")).count()
    assert(bad == 0)
  }

  test("char counters are character-based (not bytes) on non-ASCII text") {
    val samples = Seq(
      "héllo wörld ça va",
      "der große bär läuft über die straße",
      "я не знаю что это",
      // U+0130 'İ' lowercases to TWO code points — counting must happen
      // on the original text, not a lowercased copy
      "İstanbul İİİ kebap",
      "日本語 と 中文 mixed text").toDF("text")
    val cmp = samples.select(
      TextAnalysis.stats(col("text")).as("s"),
      length(col("text")).as("chars"),
      length(regexp_replace(col("text"), "\\s", "")).as("nonspace"))
    val bad = cmp.filter(
      col("s.n_chars") =!= col("chars") ||
      col("s.n_nonspace") =!= col("nonspace")).count()
    assert(bad == 0)
  }

  test("stopword hits are distinct: repeating one stopword cannot out-vote a profile") {
    // 5 "the" = 1 distinct en hit; 5 distinct de stopwords = 5 de hits.
    // A total-occurrence counter would tie 5-5; the distinct vote is 1-5.
    val r = Seq("the the the the the und ist nicht ein mit").toDF("text")
      .select(
        TextAnalysis.stats(col("text")).as("s"),
        TextAnalysis.langIdFast(TextAnalysis.stats(col("text"))).as("fast"),
        TextAnalysis.langId(col("text")).as("slow"))
      .head()
    val s = r.getStruct(0)
    assert(s.getAs[Int]("hits_en") == 5) // total occurrences (stopwordRatio form)
    assert(s.getAs[Int]("dhits_en") == 1) // distinct (langId vote form)
    assert(s.getAs[Int]("dhits_de") == 5)
    assert(r.getString(1) == "de" && r.getString(2) == "de")
  }

  test("qualityScoreFast == qualityScore on the real corpus") {
    val cmp = docs.select(
      TextAnalysis.qualityScoreFast(TextAnalysis.stats(col("text"))).as("fast"),
      TextAnalysis.qualityScore(col("text")).as("slow"))
    assert(cmp.filter(abs(col("fast") - col("slow")) > 1e-9).count() == 0)
  }

  test("langIdFast agrees with langId on planted natural-language samples") {
    val samples = Seq(
      "the house is in the middle of the village and it is old",
      "der hund ist nicht mit der katze und ich gehe zu dir",
      "le chat est dans la maison et les enfants sont pour une heure",
      "el perro es un animal y la casa que es de madera",
      "o menino que mora em uma casa para os amigos do porto",
      "il gatto che non sono con una casa di roma per la sera",
      "ik denk dat het een huis van de stad niet op straat te zien is",
      "я не знаю что это он как в на с берегу",
      "你好世界这是一个中文句子没有空格",
      "これは日本語の文章ですテストです",
      "日本語の漢字が多い文でも、かなが出れば日本語です",
      "이것은 한국어 테스트 문장입니다",
      "هذا اختبار للغة العربية فقط",
      "זהו מבחן בשפה העברית בלבד",
      "αυτό είναι ένα τεστ στα ελληνικά",
      "यह हिंदी में एक परीक्षण है",
      "นี่คือการทดสอบภาษาไทย",
      "председательство телевидение возможность",
      "і в не на що як з до це та мова",
      "i w nie na się z do to jest że dom",
      "och att det som en på är av för med hus",
      "ve bir bu için ile de da ne gibi çok ev",
      "a se na je že s z do to k dům",
      "și de la cu un o în pe este care casă",
      "ja on ei että se hän oli mutta niin kun talo",
      "og i at det en den til er som på hus",
      "a az és hogy nem is egy van de ez ház",
      "yang dan di itu dengan untuk tidak ini dari ke rumah",
      "và của là có không được trong đã người này",
      "xk9qq7 zzz9 blorp").toDF("text")
    val cmp = samples.select(
      TextAnalysis.langIdFast(TextAnalysis.stats(col("text"))).as("fast"),
      TextAnalysis.langId(col("text")).as("slow"))
    cmp.collect().foreach(r =>
      assert(r.getString(0) == r.getString(1), s"fast=${r.getString(0)} slow=${r.getString(1)}"))
  }

  test("stats stays inside whole-stage codegen") {
    val plan = docs.select(TextAnalysis.stats(col("text")).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
  }

  test("null text yields null stats") {
    val r = Seq(Option.empty[String]).toDF("text")
      .select(TextAnalysis.stats(col("text"))).head()
    assert(r.isNullAt(0))
  }

  test("graft_cp_count: codepoint semantics (surrogate pair = 1), null in " +
      "null out, SQL surface, codegen") {
    import graft.functions.GraftFunctions
    val df = Seq((1L, "abc"), (2L, "naïve"), (3L, "☃"), (4L, "😀x"),
      (5L, ""), (6L, null.asInstanceOf[String])).toDF("id", "t")
    val got = df.select(col("id"), GraftFunctions.cpCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    // 😀 is 2 UTF-16 units but ONE codepoint — the case length() gets wrong
    assert(got == Map(1L -> 3, 2L -> 5, 3L -> 1, 4L -> 2, 5L -> 0, 6L -> -1))
    df.createOrReplaceTempView("cp_t")
    assert(spark.sql("SELECT graft_cp_count(t) FROM cp_t WHERE id = 4")
      .head().getInt(0) == 2)
    val plan = docs.select(GraftFunctions.cpCount(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
  }
}

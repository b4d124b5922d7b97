package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, MarkdownStripImpl}

/** Markdown → plain-text ingest rewrite: each supported rule
  * hand-pinned, fenced code kept verbatim, plain text untouched, and
  * the Spark surface (Column + SQL, codegen, nulls). */
class MarkdownSpec extends SparkTestBase {
  import spark.implicits._

  private def strip(s: String): String = MarkdownStripImpl.strip(s)

  test("headers, rules, and setext underlines") {
    assert(strip("# Title") == "Title")
    assert(strip("###### deep header") == "deep header")
    assert(strip("## closed ##") == "closed")
    // 7+ hashes is not a header — left alone
    assert(strip("####### not a header") == "####### not a header")
    assert(strip("Title\n===\nbody") == "Title\nbody")
    assert(strip("a\n---\nb\n***\nc") == "a\nb\nc")
  }

  test("blockquotes and list markers") {
    assert(strip("> quoted line") == "quoted line")
    assert(strip("> > nested") == "nested")
    assert(strip("- item one\n* item two\n+ item three") ==
      "item one\nitem two\nitem three")
    assert(strip("1. first\n42. forty-second") == "first\nforty-second")
    // a dash mid-line is not a marker
    assert(strip("well - spaced - dashes") == "well - spaced - dashes")
  }

  test("links, images, reference links, autolinks, definitions") {
    assert(strip("see [the docs](https://x.example/a?b=c) now") == "see the docs now")
    assert(strip("![alt text](img.png) caption") == "alt text caption")
    assert(strip("a [ref link][1] b\n[1]: https://x.example") == "a ref link b")
    assert(strip("go <https://x.example/p> here") == "go https://x.example/p here")
  }

  test("emphasis, nested emphasis, inline code, escapes") {
    assert(strip("**bold** and *ital* and `code()`") == "bold and ital and code()")
    assert(strip("__bold__ and _ital_") == "bold and ital")
    assert(strip("***both***") == "both")
    assert(strip("""\*literal stars\*""") == "*literal stars*")
    // intraword underscores survive (identifiers in prose)
    assert(strip("snake_case_name stays") == "snake_case_name stays")
  }

  test("fenced code: delimiters dropped, content verbatim, no inline rules inside") {
    val md = "before\n```scala\nval x = a * b // **not bold**\n```\nafter"
    assert(strip(md) == "before\nval x = a * b // **not bold**\nafter")
    assert(strip("~~~\n# not a header\n~~~") == "# not a header")
  }

  test("tables: rows space-join their cells, separators vanish") {
    val md = "| name | count |\n|------|-------|\n| ab | 3 |"
    assert(strip(md) == "name count\nab 3")
  }

  test("plain text without markup passes through byte-identical") {
    val texts = Seq(
      "ordinary prose, with commas. And 2 sentences!",
      "multi\nline\n\ntext with\tweird   spacing",
      "naïve ☃😀 unicode — em-dash and 漢字",
      "")
    texts.foreach(t => assert(strip(t) == t, s"plain text mutated: '$t'"))
  }

  test("Column + SQL surfaces; null passes through") {
    val df = Seq((1L, "# T\n**b** [l](u)"), (2L, null.asInstanceOf[String]))
      .toDF("id", "md")
    df.createOrReplaceTempView("md_docs")
    val r = spark.sql(
      "SELECT id, graft_markdown_strip(md) AS t FROM md_docs ORDER BY id").collect()
    assert(r(0).getString(1) == "T\nb l")
    assert(r(1).isNullAt(1))
    val c = df.select(GraftFunctions.markdownStrip(col("md"))).head()
    assert(c.getString(0) == "T\nb l")
  }
}

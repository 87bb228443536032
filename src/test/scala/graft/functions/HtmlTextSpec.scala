package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

// compute() is pure — Spark is needed only for the column-form test, whose
// session SparkSpec builds lazily
class HtmlTextSpec extends SparkSpec {

  private def x(html: String): String =
    HtmlText.compute(UTF8String.fromString(html)).toString

  test("inline tags are zero-width, block tags break lines") {
    assert(x("<b>bold</b>now") == "boldnow")
    assert(x("<p>one</p><p>two</p>") == "one\ntwo")
    assert(x("a<br>b<br/>c") == "a\nb\nc")
    assert(x("<h1>T</h1><div>body <span>in</span>line</div>") ==
      "T\nbody inline")
    assert(x("<ul><li>a</li><li>b</li></ul>") == "a\nb")
  }

  test("script and style raw text is skipped, including embedded markup") {
    assert(x("x<script>if (1<2) { alert('<p>hi</p>'); }</script>y") == "xy")
    assert(x("x<style>p > b { color: red; }</style>y") == "xy")
    assert(x("x<SCRIPT TYPE=\"text/javascript\">var a;</SCRIPT>y") == "xy")
    // unterminated raw text consumes to the end, never throws
    assert(x("x<script>while(true)") == "x")
    // self-closing script does NOT open raw-text mode
    assert(x("x<script src=\"a.js\"/>y") == "xy")
  }

  test("quoted attribute values may contain '>'") {
    assert(x("""a<p class="x>y">b</p>""") == "a\nb")
    assert(x("a<img alt='1 > 0'>b") == "ab")
  }

  test("comments and CDATA are skipped; bare < and & pass through") {
    assert(x("a<!-- <p>noise</p> -->b") == "ab")
    assert(x("a<![CDATA[ <raw> ]]>b") == "ab")
    assert(x("1 < 2 & 3 > 2") == "1 < 2 & 3 > 2")
    assert(x("a<!-- unterminated") == "a")
  }

  test("entities: named, decimal, hex, supplementary, malformed") {
    assert(x("&lt;tag&gt; &amp; &quot;q&quot; &apos;a&apos;") ==
      "<tag> & \"q\" 'a'")
    assert(x("A&nbsp;B") == "A B")
    assert(x("&#65;&#x42;&#X43;") == "ABC")
    assert(x("&#128512;") == new String(Character.toChars(128512)))
    assert(x("&bogus; &#xZZ; &# ;") == "&bogus; &#xZZ; &# ;")
    assert(x("no semicolon &amp here") == "no semicolon &amp here")
    // legal whitespace references (common in scraped HTML) decode and
    // flow into the normal collapse: &#10; → newline, &#9;/&#13; → space
    assert(x("a&#10;b") == "a\nb")
    assert(x("a&#9;b&#13;c") == "a b c")
    // other C0 controls stay dropped (entity passes through as text)
    assert(x("a&#7;b") == "a&#7;b")
  }

  test("whitespace collapses: newline runs to one newline, others to one space") {
    assert(x("  a   b  ") == "a b")
    assert(x("a\n\n\nb") == "a\nb")
    assert(x("a \t\r\n  b") == "a\nb")
    assert(x("<p>  </p><p>x</p>") == "x")
    assert(x("") == "")
    assert(x("<script>a</script>") == "")
  }

  test("column form runs through codegen and matches compute") {
    import spark.implicits._
    val html = "<html><body><h1>Title</h1><p>a <b>b</b> c &amp; d</p></body></html>"
    val got = Seq(html).toDF("h")
      .select(HtmlText.html_text(org.apache.spark.sql.functions.col("h")).as("t"))
      .head().getString(0)
    assert(got == x(html))
    assert(got == "Title\na b c & d")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.parse.Html

class HtmlSpec extends AnyFunSuite with Matchers {

  /** What a builder-form helper appends to an empty builder. */
  private def render(f: java.lang.StringBuilder => Unit): String = {
    val sb = new java.lang.StringBuilder
    f(sb)
    sb.toString
  }

  test("escape: & first, then < > \" ' (html_generator.py:530–537)") {
    Html.escape("""a & <b> "c" 'd'""") shouldBe
      "a &amp; &lt;b&gt; &quot;c&quot; &#x27;d&#x27;"
    // ampersand-first means no double-escaping of entity output
    Html.escape("&lt;") shouldBe "&amp;lt;"
  }

  test("size classes from pixel height (font = 0.75h; 20/16/10pt)") {
    Html.sizeClass(27) shouldBe " size-xlarge" // 20.25pt
    Html.sizeClass(26) shouldBe " size-large"  // 19.5pt
    Html.sizeClass(22) shouldBe " size-large"  // 16.5pt
    Html.sizeClass(21) shouldBe ""             // 15.75pt
    Html.sizeClass(14) shouldBe ""             // 10.5pt
    Html.sizeClass(13) shouldBe " size-small"  // 9.75pt
  }

  test("markdown table to html: first row th, separators skipped, escaped") {
    render(Html.mdTableToHtml("| a | b |\n|---|---|\n| <x> | y |", "ocr-table", _)) shouldBe
      """<table class="ocr-table"><tr><th>a</th><th>b</th></tr><tr><td>&lt;x&gt;</td><td>y</td></tr></table>"""
    render(Html.mdTableToHtml("", "ocr-table", _)) shouldBe """<table class="ocr-table"></table>"""
  }

  test("spacing divs follow the empty-line buckets") {
    render(Html.spacingDivs(25, _)) shouldBe ""
    render(Html.spacingDivs(40, _)) shouldBe "<div class=\"empty-line\"></div>"
    render(Html.spacingDivs(60, _)) shouldBe "<div class=\"empty-line\"></div>" * 2
    render(Html.spacingDivs(500, _)) shouldBe "<div class=\"empty-line\"></div>" * 5
  }
}

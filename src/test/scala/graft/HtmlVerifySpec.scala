package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.{Html, HtmlVerify}

/** Hand-broken-HTML vectors for the deterministic restatement of
  * verify_html_formatting (gemini_corrector.py:568–627). Every one of the
  * five reference issue categories is exercised both ways: a document that
  * triggers it and a clean document that must not.
  */
class HtmlVerifySpec extends AnyFunSuite {

  private val clean =
    """<div class="empty-line"></div><p class="align-left indented">본문 첫 줄</p>
      |<h1 class="align-center size-xlarge">제1조 (목적)</h1>
      |<div class="empty-line"></div><div class="empty-line"></div><p class="align-left"><strong>굵은 줄</strong></p>
      |<table class="ocr-table"><tr><th>항목</th><th>값</th></tr><tr><td>가</td><td>나</td></tr></table>
      |<figure><img src="m/1.png" alt="도표"/><figcaption>도표</figcaption></figure>
      |<p>plain band</p>""".stripMargin

  test("clean emitter-dialect page scores 100 / needs_correction false") {
    val r = HtmlVerify.verify(clean)
    assert(r.total == 0, r.toJson)
    assert(r.overallScore == 100)
    assert(!r.needsCorrection)
  }

  test("alignment: conflicting classes, unknown value; indented is orthogonal") {
    val r = HtmlVerify.verify(
      """<p class="align-center align-right">x</p>
        |<p class="align-justify">y</p>""".stripMargin)
    assert(r.alignmentIssues.size == 2, r.toJson)
    assert(r.alignmentIssues.exists(_.contains("conflicting")))
    assert(r.alignmentIssues.exists(_.contains("unknown alignment 'justify'")))
    assert(r.overallScore == 90 && r.needsCorrection)
    // the emitter combines indent with any alignment (PageParser class
    // assembly) — indented center/right must NOT be flagged
    assert(HtmlVerify.verify("""<p class="align-center indented">z</p>""").total == 0)
    assert(HtmlVerify.verify("""<p class="align-right indented">z</p>""").total == 0)
  }

  test("alignment: unclosed and mismatched block tags") {
    val r1 = HtmlVerify.verify("""<p class="align-left">never closed""")
    assert(r1.alignmentIssues == Seq("unclosed <p>"))
    val r2 = HtmlVerify.verify("""<figure><p>x</figure></p>""")
    assert(r2.alignmentIssues.exists(_.startsWith("mismatched </figure>")))
    val r3 = HtmlVerify.verify("""</p>""")
    assert(r3.alignmentIssues == Seq("stray </p> with nothing open"))
  }

  test("spacing: run longer than the emitter's max of 5, content inside spacer") {
    val six = "<div class=\"empty-line\"></div>" * 6
    val r = HtmlVerify.verify(six + "<p>x</p>")
    assert(r.spacingIssues == Seq("6 consecutive empty-line divs (emitter max 5)"))
    // exactly 5 — the Style.emptyLines cap — is legitimate
    val five = "<div class=\"empty-line\"></div>" * 5
    assert(HtmlVerify.verify(five + "<p>x</p>").total == 0)
    // two separate runs of 3 joined by a text line stay legitimate
    val split = ("<div class=\"empty-line\"></div>" * 3) + "<p>x</p>" +
      ("<div class=\"empty-line\"></div>" * 3) + "<p>y</p>"
    assert(HtmlVerify.verify(split).total == 0)
    val r2 = HtmlVerify.verify("""<div class="empty-line">텍스트</div>""")
    assert(r2.spacingIssues == Seq("empty-line div contains text"))
  }

  test("table: zero rows, ragged rows, th/td discipline, orphan cells") {
    assert(HtmlVerify.verify("""<table class="ocr-table"></table>""")
      .tableIssues == Seq("table with no rows"))
    val ragged = HtmlVerify.verify(
      """<table class="ocr-table"><tr><th>a</th><th>b</th></tr><tr><td>c</td></tr></table>""")
    assert(ragged.tableIssues == Seq("ragged table rows (1..2 cells)"))
    val lateTh = HtmlVerify.verify(
      """<table class="ocr-table"><tr><th>a</th></tr><tr><th>b</th></tr></table>""")
    assert(lateTh.tableIssues == Seq("<th> in body row 2"))
    val noTh = HtmlVerify.verify(
      """<table class="ocr-table"><tr><td>a</td></tr></table>""")
    assert(noTh.tableIssues == Seq("header row without <th>"))
    val orphan = HtmlVerify.verify("""<tr><td>a</td></tr>""")
    assert(orphan.tableIssues.contains("<tr> outside a table"))
    assert(HtmlVerify.verify("""<table><tr><th>a</th></tr></table>""")
      .tableIssues == Seq("classless <table>"))
  }

  test("font size: unknown class, multiple classes, small heading") {
    val r = HtmlVerify.verify(
      """<p class="align-left size-huge">a</p>
        |<p class="align-left size-large size-small">b</p>
        |<h2 class="align-left size-small">제2조</h2>""".stripMargin)
    assert(r.fontSizeIssues.size == 3, r.toJson)
    assert(r.fontSizeIssues.exists(_.contains("unknown size 'huge'")))
    assert(r.fontSizeIssues.exists(_.contains("multiple size classes")))
    assert(r.fontSizeIssues.exists(_.contains("heading <h2> rendered size-small")))
  }

  test("bold: unbalanced, nested, empty, inside heading") {
    assert(HtmlVerify.verify("""<p><strong>x</p>""").boldIssues ==
      Seq("unclosed <strong>"))
    val nested = HtmlVerify.verify("""<p><strong>a<b>b</b>c</strong></p>""")
    assert(nested.boldIssues == Seq("nested <b> inside bold run"))
    val empty = HtmlVerify.verify("""<p><strong></strong></p>""")
    assert(empty.boldIssues == Seq("empty <strong></strong>"))
    val inHeading = HtmlVerify.verify("""<h1 class="align-left"><strong>t</strong></h1>""")
    assert(inHeading.boldIssues == Seq("bold inside heading"))
  }

  test("bold: a nested open must not reset the outer run's has-text flag") {
    // the outer strong DOES contain text — only the inner b is empty
    val r = HtmlVerify.verify("""<p><strong>text<b></b></strong></p>""")
    assert(r.boldIssues.count(_ == "empty <b></b>") == 1, r.toJson)
    assert(!r.boldIssues.contains("empty <strong></strong>"), r.toJson)
    // and text inside the inner run also belongs to the outer run
    val r2 = HtmlVerify.verify("""<p><strong><b>x</b></strong></p>""")
    assert(!r2.boldIssues.exists(_.startsWith("empty")), r2.toJson)
  }

  test("lexer: XML-style self-closed non-void tag does not corrupt the stack") {
    // the greedy attr group swallows the '/': detection must still fire, so
    // the div is NOT pushed and the following close pairs cleanly
    val r = HtmlVerify.verify("""<div class="figure-band"/><p>x</p>""")
    assert(!r.alignmentIssues.exists(_.contains("unclosed <div>")), r.toJson)
    assert(!r.alignmentIssues.exists(_.startsWith("mismatched")), r.toJson)
  }

  test("recovery: dropping a <table> pops its shape state") {
    // the mismatched </figure> drops the unclosed table; the orphan <tr>
    // after it must be flagged outside-a-table, not absorbed into stale state
    val r = HtmlVerify.verify(
      """<figure><table class="ocr-table"><tr><td>a</td></tr></figure><tr><td>b</td></tr>""")
    assert(r.tableIssues.exists(_.contains("unclosed <table>")), r.toJson)
    assert(r.tableIssues.contains("<tr> outside a table"), r.toJson)
  }

  test("score floors at 0; 21+ issues cannot go negative") {
    val many = (1 to 25).map(_ => """<p class="align-up">x</p>""").mkString
    val r = HtmlVerify.verify(many)
    assert(r.total == 25 && r.overallScore == 0 && r.needsCorrection)
  }

  test("toJson matches the reference output contract's key order and escapes") {
    val r = HtmlVerify.verify("""<div class="empty-line">has "quotes"
and newline</div>""")
    val j = r.toJson
    val keys = Seq("alignment_issues", "spacing_issues", "table_issues",
      "font_size_issues", "bold_issues", "overall_score", "needs_correction")
    val pos = keys.map(k => j.indexOf("\"" + k + "\""))
    assert(pos.forall(_ >= 0) && pos == pos.sorted, j)
    assert(j.contains(""""overall_score":95"""))
    assert(j.contains(""""needs_correction":true"""))
    // parses as JSON (escaping correct) — lean on the JVM's own nashorn-free
    // check: no raw control chars and balanced quotes
    assert(!j.exists(c => c < 0x20))
  }

  test("lexer robustness: comments, doctype, case-insensitive tags, quoted attrs") {
    // comments/doctype lex as text (no tag-name start char) — never issues
    assert(HtmlVerify.verify("<!-- a <p> inside a comment --><p>x</p>").total == 0)
    assert(HtmlVerify.verify("<!DOCTYPE html><p>x</p>").total == 0)
    // tag names match case-insensitively (close must still pair)
    assert(HtmlVerify.verify("<P class=\"align-left\">x</P>").total == 0)
    assert(HtmlVerify.verify("<TABLE class=\"ocr-table\"><TR><TH>a</TH></TR></TABLE>").total == 0)
    // a '>' inside a double-quoted attribute value does not end the tag
    assert(HtmlVerify.verify("""<img src="a>b.png" alt="x"/>""").total == 0)
  }

  test("emitter helpers produce verify-clean fragments") {
    def render(f: java.lang.StringBuilder => Unit): String = {
      val sb = new java.lang.StringBuilder
      f(sb)
      sb.toString
    }
    val t = render(Html.mdTableToHtml("| a | b |\n|---|---|\n| 1 | 2 |", "ocr-table", _))
    assert(HtmlVerify.verify(t).total == 0)
    assert(HtmlVerify.verify(render(Html.spacingDivs(200, _)) + "<p>x</p>").total == 0)
  }
}

package graft.parse

import graft.model._
import scala.util.control.NonFatal

/** Per-page parse — the pure restatement of the reference's per-page physical
  * plan (`ocr_engine.py:818–909` process_image + layout masking
  * `layout_analyzer.py:284–367`). See SPEC.md §3–4 for the exact contract.
  *
  * This is deliberately plain Scala (no Spark types): it runs inside
  * `mapPartitions` in the pipeline and inside a sequential fold in the oracle.
  */
object PageParser {

  val ParseFailMarker = "<<PARSE_FAIL>>"

  /** A span plus its within-page sort band/key and renderer attributes
    * (SPEC.md §4, §7, §7b). `plain` is the corrected text WITHOUT the
    * markdown bold wrapper (the HTML renderer uses <strong> instead).
    */
  private final case class Keyed(band: Int, y: Int, x: Int, offset: Int,
                                 kind: String, text: String, mediaRef: String,
                                 indented: Boolean, plain: String = "",
                                 bold: Boolean = false, align: String = "left",
                                 gap: Int = 0, h: Int = 0,
                                 htmlStyle: String = HtmlText.Normal)

  /** Reading order (SPEC.md §4): band, then y, x and input offset. */
  private val ReadingOrder: Ordering[Keyed] = (a, b) => {
    var c = Integer.compare(a.band, b.band)
    if (c == 0) c = Integer.compare(a.y, b.y)
    if (c == 0) c = Integer.compare(a.x, b.x)
    if (c == 0) c = Integer.compare(a.offset, b.offset)
    c
  }

  def parse(pageNo: Int, spans: Seq[InSpan]): PageResult = {
    try parseInner(pageNo, spans)
    catch {
      case NonFatal(_) => failed(pageNo)
    }
  }

  /** Failure containment (tasks.py:301–314): the page becomes one error span;
    * the job never aborts.
    */
  private def failed(pageNo: Int): PageResult = {
    val text = s"[처리 실패: page $pageNo]"
    // error path carries confidence 0.0 (ocr_engine.py:699–701)
    PageResult(pageNo, Seq(OutSpan(Kind.Error, text, "", 0)), text,
      s"""<p class="error">${Html.escape(text)}</p>""", parseFailed = true,
      confPm = 0)
  }

  private def parseInner(pageNo: Int, spans: Seq[InSpan]): PageResult = {
    // failure containment first: a poisoned line fails the whole page
    if (spans.exists(s => s.kind == Kind.PdfLine && s.text.contains(ParseFailMarker)))
      return failed(pageNo)

    // ---- lift typed units out of the raw spans ----------------------------
    val lines = scala.collection.mutable.ArrayBuffer.empty[Line]
    val regions = scala.collection.mutable.ArrayBuffer.empty[Region]
    val medias = scala.collection.mutable.ArrayBuffer.empty[MediaSpan]
    val blocks = scala.collection.mutable.ArrayBuffer.empty[HtmlBlock]

    spans.foreach { s =>
      s.kind match {
        case Kind.PdfLine => lines += liftLine(s.text, s.offset)
        case Kind.PdfRegion =>
          val p = s.text.split("\\|", 7)
          require(p.length == 7, s"bad pdf_region: ${s.text}")
          val r = Region(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt,
            p(4) == "1", p(5).toInt, p(6), s.media_ref, s.offset)
          // detection-stage filters: bordered (model path) requires
          // conf >= 0.4 (layout_analyzer.py:209); borderless (heuristic
          // path) requires area >= 5% of the page — strict integer form
          // 20*w*h > pageArea matches the Python float comparison for
          // every integer area (layout_analyzer.py:262, 280)
          val keep =
            if (r.bordered) r.confPm >= 400
            else 20L * r.w * r.h > Page.Width.toLong * Page.Height
          if (keep) regions += r
        case Kind.Media =>
          medias += MediaSpan(s.text, s.media_ref, s.offset)
        case Kind.HtmlBlock =>
          val p = s.text.split("\\|", 4)
          require(p.length == 4, s"bad html_block: ${s.text}")
          blocks += HtmlBlock(p(0).toInt, p(1), p(2).toInt, p(3), s.offset)
        case Kind.PageBreak => // consumed by the page splitter
        case other => throw new IllegalArgumentException(s"unknown input kind: $other")
      }
    }

    // ---- region suppression (layout_analyzer.py:284–290) ------------------
    val bordered = regions.filter(_.bordered).toSeq
    val surviving = regions.filter { r =>
      r.bordered || !bordered.exists(b => Geometry.overlaps(r.box, b.box))
    }.toSeq

    // ---- region masking (layout_analyzer.py:356–367) ----------------------
    val unmasked = lines.filterNot { l =>
      val lb = Box(l.x, l.y, l.x2, l.y2)
      surviving.exists(r => r.box.contains(lb))
    }.toSeq

    // ---- invisible-table cluster detection (layout_analyzer.py:558–711) ---
    val cluster = Layout.detectCluster(unmasked, Page.Width)
    val clusterOffsets: Set[Int] =
      cluster.map(_.rows.flatten.map(_.offset).toSet).getOrElse(Set.empty)
    val textLines = unmasked.filterNot(l => clusterOffsets.contains(l.offset))

    // ---- text parse stats (ocr_engine.py:341–434) -------------------------
    val keyed = scala.collection.mutable.ArrayBuffer.empty[Keyed]

    if (textLines.nonEmpty) {
      val med2h = Geometry.median2x(textLines.map(_.h))
      val posDens = textLines.map(_.densityPm).filter(_ > 0)
      val med2d = if (posDens.nonEmpty) Geometry.median2x(posDens) else 1000L // 0.5 * 2
      // HTML-path baselines: upper-median font (html_generator.py:698–705)
      // and median stroke width (layout_analyzer.py:434–439) over the same
      // post-masking text population the style loop runs on
      val medFont = HtmlText.upperMedian(textLines.map(_.h))
      val med2Stroke = Geometry.median2x(textLines.map(_.strokePm))
      val minX = textLines.map(_.x).min
      val gaps = Style.spacingBefore(textLines)
      textLines.foreach { l =>
        val tag = Style.tag(l.h, med2h)
        val bold = Style.isBold(l.densityPm, med2d)
        val indent = Style.isIndented(l.x, minX)
        val corrected = Typo.fixTypos(l.raw)
        val text = if (bold) s"**$corrected**" else corrected
        // html surface: stroke-width bold feeds the html_generator classifier
        // (format_ocr_results, html_generator.py:707–743)
        val strokeBold = Style.isBoldStroke(l.strokePm, med2Stroke)
        val hStyle = HtmlText.detectTextStyle(corrected, l.h, medFont, strokeBold)
        keyed += Keyed(1, l.y, l.x, l.offset, tag, text, "", indent,
          plain = corrected, bold = bold,
          align = Style.alignment(l.x, l.x2, Page.Width),
          gap = gaps(l.offset), h = l.h, htmlStyle = hStyle)
      }
    }

    cluster.foreach { c =>
      val grid = c.rows.map { row =>
        row.sortBy(l => (l.x, l.offset)).map(_.raw).mkString("|")
      }.mkString("\n")
      keyed += Keyed(1, c.box.y1, c.box.x1,
        c.rows.flatten.map(_.offset).min,
        Kind.InvisibleTable, Tables.render(grid), "", indented = false)
    }

    surviving.foreach { r =>
      val kind = if (r.bordered) Kind.Table else Kind.InvisibleTable
      keyed += Keyed(1, r.y, r.x, r.offset, kind, Tables.render(r.md), r.mediaRef, indented = false)
    }

    medias.foreach { m =>
      keyed += Keyed(2, 0, 0, m.offset, Kind.Media, m.caption, m.mediaRef, indented = false)
    }

    blocks.filter(Boilerplate.keep).foreach { b =>
      keyed += Keyed(3, 0, 0, b.offset, Kind.P, b.raw.trim, "", indented = false)
    }

    // ---- reading order (SPEC.md §4) ---------------------------------------
    val ordered = keyed.sorted(ReadingOrder)
    val out = Vector.tabulate(ordered.length) { i =>
      val k = ordered(i)
      OutSpan(k.kind, k.text, k.mediaRef, i)
    }

    // ---- page markdown (ocr_engine.py:703–739; SPEC.md §7) ----------------
    val md = new java.lang.StringBuilder
    var i = 0
    while (i < ordered.length) {
      val k = ordered(i)
      if (i > 0) md.append("\n\n")
      k.kind match {
        case Kind.Table | Kind.InvisibleTable => md.append('\n').append(k.text).append('\n')
        case Kind.Media => md.append("![").append(k.text).append("](").append(k.mediaRef).append(')')
        case Kind.H1 => md.append(if (k.indented) "> # " else "# ").append(k.text)
        case Kind.H2 => md.append(if (k.indented) "> ## " else "## ").append(k.text)
        case _ => md.append(if (k.indented) "> " else "").append(k.text)
      }
      i += 1
    }

    // ---- page HTML (html_generator.py:304–456; SPEC.md §7b) ---------------
    // Text-line tags come from the HTML-path classifier (detect_text_style,
    // html_generator.py:241–302): h1/h2/h3 headings, `bold` → <strong>
    // paragraph (html_generator.py:357–361), normal → plain paragraph. The
    // class dialect (align-*/indented/size-*) is SPEC.md §7b's restatement.
    val html = new java.lang.StringBuilder
    i = 0
    while (i < ordered.length) {
      val k = ordered(i)
      if (i > 0) html.append('\n')
      k.kind match {
        case Kind.Table => Html.mdTableToHtml(k.text, "ocr-table", html)
        case Kind.InvisibleTable => Html.mdTableToHtml(k.text, "invisible-table", html)
        case Kind.Media =>
          html.append("<figure><img src=\"").append(k.mediaRef).append("\" alt=\"")
          Html.escape(k.text, html)
          html.append("\"/><figcaption>")
          Html.escape(k.text, html)
          html.append("</figcaption></figure>")
        case _ if k.band == 3 =>
          html.append("<p>")
          Html.escape(k.text, html)
          html.append("</p>")
        case _ => // text line: styled via the html-path classifier
          val tag = k.htmlStyle match {
            case HtmlText.Heading1 | HtmlText.Heading2 | HtmlText.Heading3 => k.htmlStyle
            case _ => "p"
          }
          val strong = k.htmlStyle == HtmlText.Bold
          Html.spacingDivs(k.gap, html)
          html.append('<').append(tag).append(" class=\"align-").append(k.align)
            .append(if (k.indented) " indented" else "").append(Html.sizeClass(k.h))
            .append("\">").append(if (strong) "<strong>" else "")
          Html.escape(k.plain, html)
          html.append(if (strong) "</strong></" else "</").append(tag).append('>')
      }
      i += 1
    }

    // page confidence over ALL OCR lines of the page, pre-masking — the
    // reference averages the raw engine output (ocr_engine.py:690–695)
    val confPm = Style.pageConfPm(lines.map(_.confPm).toSeq)

    PageResult(pageNo, out, md.toString, html.toString, parseFailed = false, confPm = confPm)
  }

  /** A `pdf_line` payload `y|x|w|h|density|stroke|conf|raw` as a [[Line]].
    * The seven numbers are parsed in place with `Integer.parseInt` over
    * their ranges, which accepts exactly the text `String.toInt` does; `raw`
    * is the rest after the seventh `|`, so it may hold `|` itself.
    */
  private[graft] def liftLine(text: String, offset: Int): Line = {
    val bars = new Array[Int](7)
    var from = 0
    var k = 0
    while (k < 7 && from >= 0) {
      val at = text.indexOf('|', from)
      if (at >= 0) { bars(k) = at; k += 1; from = at + 1 } else from = -1
    }
    require(k == 7, s"bad pdf_line: $text")
    def num(i: Int): Int =
      Integer.parseInt(text, if (i == 0) 0 else bars(i - 1) + 1, bars(i), 10)
    Line(num(0), num(1), num(2), num(3), num(4), num(5), num(6),
      text.substring(bars(6) + 1), offset)
  }
}

/** Document-level parse: page split + per-page parse + in-order assembly.
  * The SEQUENTIAL form, and the kernel the [[graft.plans.ExtractDocs]] node
  * runs once per document.
  */
object DocParser {

  /** Split a doc's spans into (pageNo, spans) groups in offset order
    * (SPEC.md §2).
    *
    * Failure containment (tasks.py:301–314): a `page:<n>` break whose number
    * is not a non-negative int leaves the page structure unknowable, so the
    * whole doc becomes [[MalformedDoc]] — one page that `PageParser.parse`
    * turns into a single error span, counted as one parse failure — instead
    * of an exception that aborts the job. Every caller (the node, the
    * oracle, the failure counts) sees that same page.
    */
  def splitPages(spans: Seq[InSpan]): Seq[(Int, Seq[InSpan])] = {
    val sorted = spans.sorted(ByOffset)
    val pages = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[InSpan]]
    var current: scala.collection.mutable.ArrayBuffer[InSpan] = null // page 1 until a break
    var malformed = false
    sorted.foreach { s =>
      if (s.kind == Kind.PageBreak) {
        val n = s.text.stripPrefix("page:").trim.toIntOption.getOrElse(-1)
        if (n < 0) malformed = true
        else current = pages.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer.empty)
      } else {
        if (current == null)
          current = pages.getOrElseUpdate(1, scala.collection.mutable.ArrayBuffer.empty)
        current += s
      }
    }
    if (malformed) MalformedDoc
    else pages.iterator.map { case (n, b) => (n, b.toSeq) }.toSeq
  }

  private val ByOffset: Ordering[InSpan] = (a, b) => Integer.compare(a.offset, b.offset)

  /** The split of a doc with a malformed page break: page 0 holding one
    * poisoned line, which fails the page before any parsing.
    */
  val MalformedDoc: Seq[(Int, Seq[InSpan])] =
    Seq((0, Seq(InSpan(Kind.PdfLine, PageParser.ParseFailMarker, "", 0))))

  /** Assemble per-page results into the document output (SPEC.md §7–8)
    * with the doc layout below, built into Strings.
    */
  def assemble(docId: String, pages: Seq[PageResult]): Extracted = {
    val sorted = inPageOrder(pages)
    val spans = Vector.newBuilder[OutSpan]
    foreachSpan(sorted)((s, order) => spans += s.copy(order = order))
    // sized for the whole text (page text + at most 64 layout chars a page),
    // so neither builder grows
    val md = new java.lang.StringBuilder(sorted.map(_.markdown.length + 64).sum)
    writeMarkdown(sorted, md)
    val html = new java.lang.StringBuilder(sorted.map(_.html.length + 64).sum)
    writeHtml(sorted, html)
    Extracted(docId, spans.result(), md.toString, html.toString, confPm(sorted))
  }

  // ---- the doc layout (SPEC.md §7–8, tasks.py:289–317) ---------------------
  // Defined once, over pages in page order, and written to any Appendable:
  // [[assemble]] builds Strings with it, the ExtractDocs node writes it
  // straight into its UTF-8 row buffer.

  /** The pages in assembly order: ascending page number. */
  def inPageOrder(pages: Seq[PageResult]): Seq[PageResult] = pages.sortBy(_.pageNo)

  /** Each span of the doc with its global `order`: pages ascend, and each
    * page keeps its own span order.
    */
  def foreachSpan(sorted: Seq[PageResult])(f: (OutSpan, Int) => Unit): Unit = {
    var order = 0
    sorted.foreach(_.spans.foreach { s => f(s, order); order += 1 })
  }

  /** The doc markdown: each page under a `## 페이지 n` header, pages joined
    * by `---` separators.
    */
  def writeMarkdown(sorted: Seq[PageResult], out: Appendable): Unit = {
    var first = true
    sorted.foreach { p =>
      if (!first) out.append("\n\n---\n\n")
      out.append("## 페이지 ").append(Integer.toString(p.pageNo)).append("\n\n")
        .append(p.markdown)
      first = false
    }
  }

  /** The doc html: each page in a `page-section` div, one per line. */
  def writeHtml(sorted: Seq[PageResult], out: Appendable): Unit = {
    var first = true
    sorted.foreach { p =>
      if (!first) out.append("\n")
      out.append("<div class=\"page-section\" data-page=\"").append(Integer.toString(p.pageNo))
        .append("\">\n").append(p.html).append("\n</div>")
      first = false
    }
  }

  /** Doc confidence: the mean of the page confidences (tasks.py:365–368),
    * floored to per-mille; non-negative ints, so `/` floors exactly.
    */
  def confPm(sorted: Seq[PageResult]): Long =
    if (sorted.isEmpty) 0L else sorted.map(_.confPm.toLong).sum / sorted.length

  /** Split + per-page parse, before assembly. */
  def parsePages(spans: Seq[InSpan]): Seq[PageResult] = parseSplit(splitPages(spans))

  /** Per-page parse of a split (a [[splitPages]] result or [[MalformedDoc]]). */
  def parseSplit(split: Seq[(Int, Seq[InSpan])]): Seq[PageResult] =
    split.map { case (n, s) => PageParser.parse(n, s) }

  /** Full sequential parse of one document. */
  def parseDoc(doc: Doc): Extracted = assemble(doc.doc_id, parsePages(doc.spans))

  /** Page-range parse (pdf_processor.iter_pages(start, end) analog,
    * SURVEY §2.2): only pages numbered `start..end` are parsed and
    * assembled; a doc with no page in range yields an empty Extracted.
    */
  def parseDocRange(doc: Doc, start: Int, end: Int): Extracted =
    assemble(doc.doc_id,
      splitPages(doc.spans).collect {
        case (n, s) if n >= start && n <= end => PageParser.parse(n, s)
      })
}

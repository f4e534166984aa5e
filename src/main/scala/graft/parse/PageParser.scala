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
        case Kind.PdfLine =>
          val p = s.text.split("\\|", 8)
          require(p.length == 8, s"bad pdf_line: ${s.text}")
          lines += Line(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt,
            p(4).toInt, p(5).toInt, p(6).toInt, p(7), s.offset)
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
    val ordered = keyed.sortBy(k => (k.band, k.y, k.x, k.offset)).toSeq
    val out = ordered.zipWithIndex.map { case (k, i) =>
      OutSpan(k.kind, k.text, k.mediaRef, i)
    }

    // ---- page markdown (ocr_engine.py:703–739; SPEC.md §7) ----------------
    val md = ordered.map { k =>
      k.kind match {
        case Kind.Table | Kind.InvisibleTable => s"\n${k.text}\n"
        case Kind.Media => s"![${k.text}](${k.mediaRef})"
        case Kind.H1 => (if (k.indented) "> # " else "# ") + k.text
        case Kind.H2 => (if (k.indented) "> ## " else "## ") + k.text
        case _ => (if (k.indented) "> " else "") + k.text
      }
    }.mkString("\n\n")

    // ---- page HTML (html_generator.py:304–456; SPEC.md §7b) ---------------
    // Text-line tags come from the HTML-path classifier (detect_text_style,
    // html_generator.py:241–302): h1/h2/h3 headings, `bold` → <strong>
    // paragraph (html_generator.py:357–361), normal → plain paragraph. The
    // class dialect (align-*/indented/size-*) is SPEC.md §7b's restatement.
    val html = ordered.map { k =>
      k.kind match {
        case Kind.Table => Html.mdTableToHtml(k.text, "ocr-table")
        case Kind.InvisibleTable => Html.mdTableToHtml(k.text, "invisible-table")
        case Kind.Media =>
          val cap = Html.escape(k.text)
          s"""<figure><img src="${k.mediaRef}" alt="$cap"/><figcaption>$cap</figcaption></figure>"""
        case _ if k.band == 3 => s"<p>${Html.escape(k.text)}</p>"
        case _ => // text line: styled via the html-path classifier
          val cls = s"align-${k.align}" +
            (if (k.indented) " indented" else "") + Html.sizeClass(k.h)
          val body0 = Html.escape(k.plain)
          val (tag, body) = k.htmlStyle match {
            case HtmlText.Heading1 | HtmlText.Heading2 | HtmlText.Heading3 =>
              (k.htmlStyle, body0)
            case HtmlText.Bold => ("p", s"<strong>$body0</strong>")
            case _ => ("p", body0)
          }
          Html.spacingDivs(k.gap) + s"""<$tag class="$cls">$body</$tag>"""
      }
    }.mkString("\n")

    // page confidence over ALL OCR lines of the page, pre-masking — the
    // reference averages the raw engine output (ocr_engine.py:690–695)
    val confPm = Style.pageConfPm(lines.map(_.confPm).toSeq)

    PageResult(pageNo, out, md, html, parseFailed = false, confPm = confPm)
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
    val sorted = spans.sortBy(_.offset)
    val pages = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[InSpan]]
    var current = 1
    var malformed = false
    sorted.foreach { s =>
      if (s.kind == Kind.PageBreak) {
        val n = s.text.stripPrefix("page:").trim.toIntOption.getOrElse(-1)
        if (n < 0) malformed = true
        else {
          current = n
          pages.getOrElseUpdate(current, scala.collection.mutable.ArrayBuffer.empty)
        }
      } else {
        pages.getOrElseUpdate(current, scala.collection.mutable.ArrayBuffer.empty) += s
      }
    }
    if (malformed) MalformedDoc
    else pages.iterator.map { case (n, b) => (n, b.toSeq) }.toSeq
  }

  /** The split of a doc with a malformed page break: page 0 holding one
    * poisoned line, which fails the page before any parsing.
    */
  val MalformedDoc: Seq[(Int, Seq[InSpan])] =
    Seq((0, Seq(InSpan(Kind.PdfLine, PageParser.ParseFailMarker, "", 0))))

  /** Assemble per-page results into the document output (SPEC.md §7–8):
    * pages ascend, `order` renumbered globally, markdown joined with page
    * headers + `---` separators (tasks.py:289–317).
    */
  def assemble(docId: String, pages: Seq[PageResult]): Extracted = {
    val sorted = pages.sortBy(_.pageNo)
    var order = 0
    val spans = scala.collection.mutable.ArrayBuffer.empty[OutSpan]
    sorted.foreach { p =>
      p.spans.foreach { s =>
        spans += s.copy(order = order)
        order += 1
      }
    }
    val md = sorted.map(p => s"## 페이지 ${p.pageNo}\n\n${p.markdown}").mkString("\n\n---\n\n")
    val html = sorted.map(p =>
      s"""<div class="page-section" data-page="${p.pageNo}">\n${p.html}\n</div>""")
      .mkString("\n")
    // doc avg confidence = mean of page confidences (tasks.py:365–368),
    // floored to per-mille; non-negative ints so / floors exactly
    val conf = if (sorted.isEmpty) 0L
               else sorted.map(_.confPm.toLong).sum / sorted.length
    Extracted(docId, spans.toSeq, md, html, conf)
  }

  /** Split + per-page parse, before assembly. */
  def parsePages(spans: Seq[InSpan]): Seq[PageResult] =
    splitPages(spans).map { case (n, s) => PageParser.parse(n, s) }

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

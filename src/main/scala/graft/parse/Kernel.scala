package graft.parse

import graft.model._

/** Integer-exact geometry helpers (reference layout_analyzer.py:141–175). */
object Geometry {

  /** Box IoU (layout_analyzer.py:141–159). Exact rational compare via
    * cross-multiplication — no floating point.
    */
  def iouExceeds(a: Box, b: Box, numer: Long, denom: Long): Boolean = {
    val ix1 = math.max(a.x1, b.x1); val iy1 = math.max(a.y1, b.y1)
    val ix2 = math.min(a.x2, b.x2); val iy2 = math.min(a.y2, b.y2)
    val inter = math.max(0, ix2 - ix1).toLong * math.max(0, iy2 - iy1).toLong
    val union = a.area + b.area - inter
    // iou > numer/denom  <=>  inter*denom > union*numer (union >= 0)
    union > 0 && inter * denom > union * numer
  }

  /** `_boxes_overlap` (layout_analyzer.py:161–175): quick reject then
    * IoU > 0.1.
    */
  def overlaps(a: Box, b: Box): Boolean = {
    if (a.x1 > b.x2 || a.x2 < b.x1 || a.y1 > b.y2 || a.y2 < b.y1) false
    else iouExceeds(a, b, 1, 10)
  }

  /** Python statistics.median over ints, returned as DOUBLED median so all
    * threshold comparisons stay in exact integer arithmetic
    * (SPEC.md §3.5; even count → mean of the two middle values).
    */
  def median2x(xs: Seq[Int]): Long = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of empty")
    if (n % 2 == 1) 2L * s(n / 2)
    else s(n / 2 - 1).toLong + s(n / 2).toLong
  }
}

/** Style classification (reference ocr_engine.py:341–508, thresholds :80–83).
  * All comparisons are exact integer forms over the doubled median (SPEC.md §3.5).
  */
object Style {

  /** Tag from height ratio: h/med >= 1.4 -> h1, >= 1.15 -> h2, else p. */
  def tag(h: Int, median2xH: Long): String = {
    // h / (m2/2) >= 1.4  <=>  2h >= 1.4*m2  <=>  20h >= 14*m2
    if (median2xH <= 0) Kind.P
    else if (20L * h >= 14L * median2xH) Kind.H1
    // h/(m2/2) >= 1.15  <=>  2h*100 >= 115*m2  <=>  40h >= 23*m2
    else if (40L * h >= 23L * median2xH) Kind.H2
    else Kind.P
  }

  /** Bold: density > 1.10 * medianDensity; false when median is 0
    * (ocr_engine.py:262–277).
    */
  def isBold(densityPm: Int, median2xDensityPm: Long): Boolean =
    median2xDensityPm > 0 && 20L * densityPm > 11L * median2xDensityPm

  /** Bold via stroke width (layout_analyzer.py:434–439): stroke strictly
    * greater than 1.3 × median stroke (np.median — averages the middle pair
    * on even counts, hence the 2x-median exact form). Vectors:
    * stroke_vectors.json, generated by executing the reference formula.
    */
  def isBoldStroke(strokePm: Int, median2xStrokePm: Long): Boolean =
    20L * strokePm > 13L * median2xStrokePm

  /** Heading via height (layout_analyzer.py:441–442, 456): height strictly
    * greater than 1.2 × median height.
    */
  def isHeadingHeight(h: Int, median2xH: Long): Boolean =
    10L * h > 6L * median2xH

  /** Page confidence (ocr_engine.py:690–695): mean of per-line confidences,
    * 0 when there are none. Integer restatement: confidences are per-mille
    * ints, the mean floors to per-mille (exact division pinned by
    * confidence_vectors.json fractions).
    */
  def pageConfPm(confPms: Seq[Int]): Int =
    if (confPms.isEmpty) 0 else (confPms.map(_.toLong).sum / confPms.length).toInt

  /** Indent: x - minX >= 20 px (ocr_engine.py:82, 404). */
  def isIndented(x: Int, minX: Int): Boolean = x - minX >= 20

  /** Alignment (ocr_engine.py:436–478), integer-exact over pageWidth. */
  def alignment(x1: Int, x2: Int, pageWidth: Int): String = {
    if (pageWidth == 0) return "left"
    val width = x2 - x1
    // full width: width > 0.7*pw  <=>  10*width > 7*pw
    if (10L * width > 7L * pageWidth) return "left"
    // center: |(x1+x2) - pw| < 0.2*pw (2x form of |center - pw/2| < 0.1*pw)
    val centerDelta2x = math.abs((x1.toLong + x2) - pageWidth)
    if (10L * centerDelta2x < 2L * pageWidth) {
      // |left_space - right_space| < 0.15*pw; left=x1, right=pw-x2
      val spaceDelta = math.abs(x1.toLong - (pageWidth.toLong - x2))
      if (100L * spaceDelta < 15L * pageWidth) return "center"
    }
    // right: x2 > 0.92*pw && x1 > 0.4*pw
    if (100L * x2 > 92L * pageWidth && 10L * x1 > 4L * pageWidth) "right" else "left"
  }

  /** Line spacing before each line over (y1, input-order)-sorted lines
    * (ocr_engine.py:480–508): max(0, y1 - prev.y2). Returns gaps aligned with
    * the input order of `lines`.
    */
  def spacingBefore(lines: Seq[Line]): Map[Int, Int] = {
    val sorted = lines.sortBy(l => (l.y, l.offset))
    val gaps = scala.collection.mutable.Map.empty[Int, Int]
    var prev: Line = null
    for (l <- sorted) {
      gaps(l.offset) = if (prev == null) 0 else math.max(0, l.y - prev.y2)
      prev = l
    }
    gaps.toMap
  }

  /** Spacing bucket → number of empty lines (html_generator.py:378–406). */
  def emptyLines(gap: Int): Int = {
    if (gap <= 25) 0
    else if (gap <= 50) 1
    else if (gap <= 75) 2
    else math.min(gap / 25, 5)
  }
}

/** Row/column gap clustering over line bboxes — the reference's invisible-table
  * detection (layout_analyzer.py:558–711), re-expressed over span geometry.
  */
object Layout {

  /** `_group_by_rows` (layout_analyzer.py:629–668): sort by (y1, input order);
    * a bbox joins the current row if y1 < rowBottom - 0.5*height.
    * Returns rows of lines preserving the sorted order within each row.
    */
  def groupByRows(lines: Seq[Line]): Seq[Seq[Line]] = {
    if (lines.isEmpty) return Nil
    val sorted = lines.sortBy(l => (l.y, l.offset))
    val rows = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Line]]
    var current = scala.collection.mutable.ArrayBuffer(sorted.head)
    var bottom = sorted.head.y2
    for (l <- sorted.tail) {
      val h = l.h
      // exact form of: y1 < bottom - h*0.5  <=>  2*y1 < 2*bottom - h
      if (2L * l.y < 2L * bottom - h) {
        current += l
        bottom = math.max(bottom, l.y2)
      } else {
        rows += current
        current = scala.collection.mutable.ArrayBuffer(l)
        bottom = l.y2
      }
    }
    rows += current
    rows.map(_.toSeq).toSeq
  }

  /** `_detect_column_positions` (layout_analyzer.py:670–711): sorted x1 gap
    * clustering; new cluster when x - last >= 0.05*pageWidth; cluster value =
    * floor(mean).
    */
  def columnPositions(rows: Seq[Seq[Line]], pageWidth: Int): Seq[Int] = {
    val xs = rows.flatMap(r => r.sortBy(l => (l.x, l.offset)).map(_.x)).sorted
    if (xs.isEmpty) return Nil
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Int]
    var cur = scala.collection.mutable.ArrayBuffer(xs.head)
    for (x <- xs.tail) {
      // reference: x - last < pageWidth * 0.05 keeps the cluster
      if (20L * (x - cur.last) < pageWidth.toLong) cur += x
      else {
        clusters += (cur.map(_.toLong).sum / cur.length).toInt
        cur = scala.collection.mutable.ArrayBuffer(x)
      }
    }
    clusters += (cur.map(_.toLong).sum / cur.length).toInt
    clusters.toSeq
  }

  /** Detected invisible-table cluster: the multi-column rows + bbox. */
  final case class Cluster(rows: Seq[Seq[Line]], box: Box, cols: Int)

  /** detect_invisible_tables (layout_analyzer.py:558–627): needs >= 4 lines,
    * >= 2 multi-column rows, >= 2 column positions. Emits at most one cluster,
    * exactly like the reference.
    */
  def detectCluster(lines: Seq[Line], pageWidth: Int): Option[Cluster] = {
    if (lines.length < 4) return None
    val rows = groupByRows(lines)
    val multi = rows.filter(_.length >= 2)
    if (multi.length < 2) return None
    val cols = columnPositions(multi, pageWidth)
    if (cols.length < 2) return None
    val all = multi.flatten
    val box = Box(all.map(_.x).min, all.map(_.y).min, all.map(_.x2).max, all.map(_.y2).max)
    Some(Cluster(multi, box, cols.length))
  }
}

/** Markdown-table validation + canonical rendering
  * (gemini_corrector.py:653–704 shape; SPEC.md §6).
  */
object Tables {
  private val SepLine = "^[\\s|:\\-]+$".r

  /** Render a raw pipe-grid into canonical markdown with fixTypos per cell. */
  def render(raw: String): String = {
    val rows = raw.split("\n", -1).iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && SepLine.findFirstIn(l).isEmpty)
      .map { l =>
        val stripped = {
          val a = if (l.startsWith("|")) l.substring(1) else l
          if (a.endsWith("|")) a.substring(0, a.length - 1) else a
        }
        stripped.split("\\|", -1).map(c => Typo.fixTypos(c.trim)).toSeq
      }
      .toSeq
    if (rows.isEmpty) return ""
    val maxCols = rows.map(_.length).max
    val padded = rows.map(r => r ++ Seq.fill(maxCols - r.length)(""))
    val rendered = padded.map(r => "| " + r.mkString(" | ") + " |")
    val sep = "|" + ("---|" * maxCols)
    (rendered.head +: sep +: rendered.tail).mkString("\n")
  }
}

/** HTML emission helpers (html_generator.py:304–456, 530–583; SPEC.md §7b). */
object Html {

  /** `_escape_html` (html_generator.py:530–537): & first, then < > " '. */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    escape(s, sb)
    if (sb.length == s.length) s else sb.toString
  }

  /** [[escape]] appended to `out`. The reference's chained replaces escape
    * `&` first, so no replacement is escaped again: it is a per-char map.
    */
  def escape(s: String, out: java.lang.StringBuilder): Unit = {
    var from = 0
    var i = 0
    while (i < s.length) {
      val rep = s.charAt(i) match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case '\'' => "&#x27;"
        case _ => null
      }
      if (rep != null) {
        out.append(s, from, i).append(rep)
        from = i + 1
      }
      i += 1
    }
    out.append(s, from, s.length)
  }

  /** Size class from line height (font = 0.75·h; thresholds 20/16/10 pt —
    * html_generator.py:408–456). Exact integer forms on 3h.
    */
  def sizeClass(h: Int): String = {
    if (3L * h > 80) " size-xlarge"
    else if (3L * h > 64) " size-large"
    else if (3L * h < 40) " size-small"
    else ""
  }

  private val SepRow = "^[\\s|:\\-]+$".r

  /** markdown_table_to_html (html_generator.py:539–583): first row th,
    * separator rows skipped, cells escaped; appended to `out`.
    */
  def mdTableToHtml(md: String, cls: String, out: java.lang.StringBuilder): Unit = {
    val rows = md.split("\n", -1).iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && SepRow.findFirstIn(l).isEmpty)
    out.append("<table class=\"").append(cls).append("\">")
    var t = "th"
    rows.foreach { l =>
      val a = if (l.startsWith("|")) 1 else 0
      val b = if (l.length > a && l.endsWith("|")) l.length - 1 else l.length
      out.append("<tr>")
      l.substring(a, b).split("\\|", -1).foreach { c =>
        out.append('<').append(t).append('>')
        escape(c.trim, out)
        out.append("</").append(t).append('>')
      }
      out.append("</tr>")
      t = "td"
    }
    out.append("</table>")
  }

  /** Spacing divs before a text line (html_generator.py:378–406), appended
    * to `out`.
    */
  def spacingDivs(gap: Int, out: java.lang.StringBuilder): Unit = {
    var n = Style.emptyLines(gap)
    while (n > 0) { out.append("<div class=\"empty-line\"></div>"); n -= 1 }
  }
}

/** DOM-heuristic boilerplate scoring (north rule; SURVEY.md §7.5).
  * score = textLen / (1+linkTextLen) / (1+depth); keep iff score >= 1 — exact
  * integer form, SPEC.md §3.8.
  */
object Boilerplate {
  def keep(block: HtmlBlock): Boolean = {
    val textLen = block.raw.trim.length
    textLen.toLong >= (1L + block.linkTextLen) * (1L + block.depth)
  }
}

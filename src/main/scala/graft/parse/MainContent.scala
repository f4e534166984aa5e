package graft.parse

import graft.model.OutSpan
import scala.collection.mutable.ArrayBuffer

/** DOM-heuristic main-content extraction over RAW wild-web HTML — the
  * north rule's "HTML boilerplate strip … DOM heuristics (text-density,
  * link-density, tag-depth features)" over pages as they arrive from a
  * crawl, BEFORE any upstream featurization.
  *
  * This is the missing front half of the `html_block` path: the extraction
  * pipeline consumes pre-featurized `depth|tag|linkTextLen|raw` spans and
  * scores them per-block ([[Boilerplate.keep]], SPEC.md §3.8); this module
  * COMPUTES those features from raw markup and adds the context
  * classification a per-block score cannot express. The method is the
  * published heuristic family — block segmentation + link-density
  * thresholds with context smoothing (Pomikálek 2011, jusText; Kohlschütter
  * et al. WSDM 2010, Boilerpipe) — restated integer-exact so results are
  * bit-identical at any parallelism:
  *
  *  1. '''Lex''' the markup (comments and doctype are not markup; raw-text
  *     elements `script`/`style` consume everything to their close tag, so
  *     `if (a<b)` inside a script never fabricates a tag).
  *  2. '''Segment into blocks''': a block is a maximal run of text, inline
  *     markup and images between block-level tag boundaries. Per block,
  *     capture at first content: tag-stack depth, innermost block tag, and
  *     whether any open ancestor is semantic boilerplate (`nav`/`aside`/
  *     `header`/`footer`/`form`) or carries a boilerplate class/id word
  *     (class and id attributes split on `[-_\s]` into words, matched
  *     exactly against [[BadWords]] — word-split so `site-header` flags but
  *     `reading-list` does not). Features are integers: non-whitespace char
  *     count, non-whitespace chars inside `<a>` runs, link density in
  *     per-mille.
  *  3. '''Raw labels''': ancestor-flagged → BAD; any block nested more
  *     than [[DepthSlack]] levels below the shallowest GOOD candidate →
  *     BAD (the Boilerpipe observation that article text lives in one
  *     subtree depth band; deeply-nested text is widget/ad scaffolding and
  *     must not be promotable either); image-only → IMG; link density >
  *     [[LinkPmMax]]‰ → BAD; length < [[ShortLen]] → SHORT; length ≥
  *     [[GoodLen]] → GOOD; else NEAR.
  *  4. '''Context smoothing''' (jusText): GOOD/BAD are final. A SHORT block
  *     is kept iff its nearest raw-GOOD/BAD neighbors on BOTH sides are
  *     GOOD (captions, list fragments inside the article flow); a heading
  *     SHORT/NEAR is kept iff the NEXT raw neighbor is GOOD (headline
  *     promotion). A NEAR block is kept iff EITHER raw neighbor is GOOD.
  *     An IMG block is kept iff either raw neighbor is GOOD — media-span
  *     linking: content figures ride the content flow; logos and ad pixels
  *     sit among boilerplate and drop.
  *  5. '''Emit''' kept blocks in document order as the engine's span
  *     contract (kind, text, media_ref, order): `heading`/`text` spans
  *     carry whitespace-collapsed, entity-decoded text; each image in a
  *     kept block follows its block's text as a `media` span in encounter
  *     order.
  *
  * Everything is a pure function of the page string: the corpus-scale run
  * is the `ExtractDocs` node's web kernel, one zero-shuffle pass over
  * (doc_id, html) rows, embarrassingly parallel at any executor count — the
  * same node and scaling shape as the PDF parse stage.
  */
object MainContent {

  /** Link density ceiling in per-mille: above a third of the block's
    * non-whitespace mass inside anchors, the block is navigation.
    */
  val LinkPmMax = 333
  /** Blocks under this many non-whitespace chars cannot stand alone. */
  val ShortLen = 40
  /** Blocks at or above this many non-whitespace chars are content
    * candidates on their own evidence.
    */
  val GoodLen = 80
  /** Depth band below the shallowest GOOD candidate that still counts as
    * the same article subtree.
    */
  val DepthSlack = 6

  /** Output span kinds for the web surface. */
  val KindHeading = "heading"
  val KindText = "text"
  val KindMedia = "media"

  /** Boilerplate vocabulary matched against class/id WORDS (split on
    * `[-_\s]`), not substrings — `ad` must not flag `read`.
    */
  val BadWords: Set[String] = Set(
    "nav", "navbar", "navigation", "menu", "footer", "header", "masthead",
    "sidebar", "aside", "banner", "ad", "ads", "advert", "advertisement",
    "promo", "sponsored", "social", "share", "sharing", "comment",
    "comments", "related", "breadcrumb", "breadcrumbs", "pagination",
    "pager", "copyright", "widget", "cookie", "subscribe", "newsletter",
    "popup", "modal", "skyscraper", "toolbar")

  /** Semantic HTML5 boilerplate containers: everything inside is chrome. */
  private val BadTags = Set("nav", "aside", "header", "footer", "form")

  /** Tags that open/close a block boundary. Inline markup (`a`, `b`,
    * `span`, `em`, `img`, …) accumulates into the current block.
    */
  private val BlockTags = Set(
    "html", "body", "div", "main", "section", "article", "p", "h1", "h2",
    "h3", "h4", "h5", "h6", "ul", "ol", "dl", "li", "dt", "dd", "table",
    "thead", "tbody", "tfoot", "tr", "td", "th", "caption", "pre",
    "blockquote", "figure", "figcaption", "hr", "address", "fieldset",
    "nav", "aside", "header", "footer", "form", "title")

  private val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Subtrees whose text is never page content. `script`/`style` are also
    * raw-text-lexed (their bodies may contain `<`); the rest nest markup
    * normally and are skipped via the ancestor check.
    */
  private val SkipTags = Set("script", "style", "noscript", "template", "head")
  private val RawTextTags = Set("script", "style")

  private val Void = Set("img", "br", "hr", "meta", "link", "input", "area",
    "base", "col", "embed", "source", "track", "wbr")

  /** Browser-style implicit closes for the common unclosed-tag habits of
    * wild HTML: opening the key tag closes any open tag in its value set.
    */
  private val AutoClose: Map[String, Set[String]] = Map(
    "p" -> Set("p"), "li" -> Set("li"), "dt" -> Set("dt", "dd"),
    "dd" -> Set("dt", "dd"), "td" -> Set("td", "th"),
    "th" -> Set("td", "th"), "tr" -> Set("tr", "td", "th"))

  // ---- lexer ---------------------------------------------------------------

  private sealed trait Ev
  private final case class Open(name: String, attrs: String, selfClose: Boolean) extends Ev
  private final case class Close(name: String) extends Ev
  private final case class Text(s: String) extends Ev

  private val TagPat = java.util.regex.Pattern.compile(
    "(?s)<!--.*?-->|<!(?:[a-zA-Z]|\\[)[^>]*>|<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>")
  private val ClassPat = java.util.regex.Pattern.compile(
    "(?i)class\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val IdPat = java.util.regex.Pattern.compile(
    "(?i)\\bid\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val SrcPat = java.util.regex.Pattern.compile(
    "(?i)\\bsrc\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val HrefPat = java.util.regex.Pattern.compile(
    "(?i)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val RelPat = java.util.regex.Pattern.compile(
    "(?i)\\brel\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val NamePat = java.util.regex.Pattern.compile(
    "(?i)\\bname\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val ContentPat = java.util.regex.Pattern.compile(
    "(?i)\\bcontent\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val TypePat = java.util.regex.Pattern.compile(
    "(?i)\\btype\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val HreflangPat = java.util.regex.Pattern.compile(
    "(?i)\\bhreflang\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")

  /** Space/comma-separated token list of an attribute value, lowercased —
    * the HTML token-list microsyntax shared by `rel` and robots `content`
    * (`rel="nofollow noopener"`, `content="noindex, follow"`).
    */
  private def attrTokens(p: java.util.regex.Pattern, attrs: String): Set[String] =
    attrVal(p, attrs).iterator
      .flatMap(_.toLowerCase.split("[,\\s]+")).filter(_.nonEmpty).toSet

  private def attrVal(p: java.util.regex.Pattern, attrs: String): Option[String] = {
    val m = p.matcher(attrs)
    if (!m.find()) None
    else Option(m.group(1)).orElse(Option(m.group(2))).orElse(Option(m.group(3)))
  }

  private def lex(html: String): Vector[Ev] = {
    val out = Vector.newBuilder[Ev]
    val m = TagPat.matcher(html)
    var pos = 0
    while (pos < html.length && m.find(pos)) {
      if (m.start > pos) out += Text(html.substring(pos, m.start))
      var next = m.end
      if (m.group(2) != null) { // comments/doctype: not markup, not text
        val name = m.group(2).toLowerCase
        if (m.group(1) == "/") out += Close(name)
        else {
          val raw = m.group(3)
          // greedy attr group swallows a trailing '/' (see HtmlVerify.lex)
          val selfClose = m.group(4) == "/" || raw.trim.endsWith("/") || Void(name)
          out += Open(name, raw, selfClose)
          if (RawTextTags(name) && !selfClose) {
            // raw-text element: consume to the matching close tag; its body
            // is NOT markup (a '<' inside JS/CSS must not fabricate tags).
            // The body is still emitted as a Text event between Open and
            // Close — invisible to [[blocks]] (script/style are skip tags)
            // but available to [[pageMeta]] for ld+json payloads.
            val closeAt = html.toLowerCase.indexOf(s"</$name", m.end)
            val bodyEnd = if (closeAt < 0) html.length else closeAt
            if (bodyEnd > m.end) out += Text(html.substring(m.end, bodyEnd))
            if (closeAt < 0) next = html.length
            else {
              val gt = html.indexOf('>', closeAt)
              next = if (gt < 0) html.length else gt + 1
            }
            out += Close(name)
          }
        }
      }
      pos = next
    }
    if (pos < html.length) out += Text(html.substring(pos))
    out.result()
  }

  /** Decode the entity set that occurs in text content: the five XML
    * entities, `&nbsp;` (to a plain space) and numeric references.
    */
  private[parse] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val semi = s.indexOf(';', i + 1)
        val body = if (semi > i && semi - i <= 10) s.substring(i + 1, semi) else ""
        val rep: Option[String] = body match {
          case "amp" => Some("&")
          case "lt" => Some("<")
          case "gt" => Some(">")
          case "quot" => Some("\"")
          case "apos" | "#39" => Some("'")
          case "nbsp" => Some(" ")
          case b if b.startsWith("#x") || b.startsWith("#X") =>
            try Some(new String(Character.toChars(Integer.parseInt(b.drop(2), 16))))
            catch { case _: Exception => None }
          case b if b.startsWith("#") && b.length > 1 =>
            try Some(new String(Character.toChars(Integer.parseInt(b.drop(1)))))
            catch { case _: Exception => None }
          case _ => None
        }
        rep match {
          case Some(r) => sb.append(r); i = semi + 1
          case None => sb.append('&'); i += 1
        }
      }
    }
    sb.toString
  }

  private def isBadAttr(attrs: String): Boolean = {
    def words(v: Option[String]): Iterator[String] =
      v.iterator.flatMap(_.toLowerCase.split("[-_\\s]+")).filter(_.nonEmpty)
    (words(attrVal(ClassPat, attrs)) ++ words(attrVal(IdPat, attrs)))
      .exists(BadWords)
  }

  // ---- block segmentation ----------------------------------------------------

  /** One segmented block with its integer features. `depth`/`tag`/`bad`
    * are captured when the block's FIRST content (text or image) arrives,
    * so a flush triggered by the next open tag cannot misattribute them.
    */
  final case class Block(
      tag: String, depth: Int, bad: Boolean, heading: Boolean,
      text: String, nonWs: Int, anchorNonWs: Int, media: Vector[String],
      links: Vector[(String, String, Boolean)] = Vector.empty) {
    /** Link density in per-mille of non-whitespace mass (1000 for an
      * anchor-only block with no measurable text).
      */
    def linkPm: Int =
      if (nonWs == 0) { if (anchorNonWs > 0) 1000 else 0 }
      else math.min(1000L, anchorNonWs.toLong * 1000L / nonWs).toInt
  }

  private final case class Frame(name: String, bad: Boolean, block: Boolean)

  def blocks(html: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    var stack = List.empty[Frame]
    def skipped = stack.exists(f => SkipTags(f.name))
    def anyBad = stack.exists(_.bad)
    def blockTag = stack.find(_.block).map(_.name).getOrElse("body")

    val textBuf = new StringBuilder
    val mediaBuf = ArrayBuffer.empty[String]
    var anchorDepth = 0
    var anchorNonWs = 0
    // outlink capture: href taken at the OUTERMOST <a> open, text
    // accumulated to its close (nested anchors — invalid but seen in the
    // wild — fold into the outer link). The pending pair survives block
    // flushes so an anchor spanning a block boundary lands, whole, in the
    // block where it CLOSES; an anchor left open at end-of-document is not
    // a link.
    val linksBuf = ArrayBuffer.empty[(String, String, Boolean)]
    var pendingHref: Option[String] = None
    var pendingNofollow = false
    val anchorTextBuf = new StringBuilder
    // context captured at first content
    var ctxDepth = -1; var ctxBad = false; var ctxTag = "body"
    def captureCtx(): Unit = if (ctxDepth < 0) {
      ctxDepth = stack.size; ctxBad = anyBad; ctxTag = blockTag
    }
    def flush(): Unit = {
      val norm = decodeEntities(textBuf.toString)
        .split("\\s+").filter(_.nonEmpty).mkString(" ")
      // the emit condition is EXACTLY the pre-outlink one: a block that has
      // links but no text and no image is not emitted (its anchors are
      // scaffolding, not links) — so link capture cannot perturb block
      // structure, labels or smoothing for the main-content contract
      if (norm.nonEmpty || mediaBuf.nonEmpty) {
        val nonWs = norm.count(!_.isWhitespace)
        out += Block(ctxTag, math.max(ctxDepth, 0), ctxBad,
          HeadingTags(ctxTag), norm, nonWs, anchorNonWs, mediaBuf.toVector,
          linksBuf.toVector)
      }
      textBuf.clear(); mediaBuf.clear(); anchorNonWs = 0; linksBuf.clear()
      ctxDepth = -1; ctxBad = false; ctxTag = "body"
    }

    lex(html).foreach {
      case Open(name, attrs, selfClose) =>
        if (name == "img") {
          if (!skipped) attrVal(SrcPat, attrs).filter(_.nonEmpty).foreach { src =>
            captureCtx(); mediaBuf += src
          }
        } else if (name == "br") {
          if (!skipped) {
            textBuf.append(' ')
            if (anchorDepth > 0) anchorTextBuf.append(' ')
          }
        } else if (BlockTags(name)) {
          flush()
          // implicit closes: wild HTML leaves p/li/td/tr open
          AutoClose.get(name).foreach { closes =>
            while (stack.headOption.exists(f => closes(f.name)))
              stack = stack.tail
          }
          if (!selfClose)
            stack = Frame(name, BadTags(name) || isBadAttr(attrs), BlockTags(name)) :: stack
        } else if (!selfClose) {
          if (name == "a" && !skipped) {
            anchorDepth += 1
            if (anchorDepth == 1) {
              pendingHref = attrVal(HrefPat, attrs)
              pendingNofollow = attrTokens(RelPat, attrs)("nofollow")
              anchorTextBuf.clear()
            }
          }
          stack = Frame(name, isBadAttr(attrs), block = false) :: stack
        }
      case Close(name) =>
        if (name == "a" && !skipped && anchorDepth > 0) {
          anchorDepth -= 1
          // the anchor run ends here even if intermediate frames were
          // dropped by recovery below
          if (anchorDepth == 0) {
            // an <a> without href is a named anchor, not a link. No
            // captureCtx here: link capture is write-only w.r.t. the
            // main-content pipeline (ctx is still captured at first
            // text/image exactly as before)
            pendingHref.foreach { h =>
              val t = decodeEntities(anchorTextBuf.toString)
                .split("\\s+").filter(_.nonEmpty).mkString(" ")
              linksBuf += ((h, t, pendingNofollow))
            }
            pendingHref = None
            pendingNofollow = false
            anchorTextBuf.clear()
          }
        }
        if (BlockTags(name)) flush()
        // pop to the nearest matching open, dropping unclosed intermediates
        val idx = stack.indexWhere(_.name == name)
        if (idx >= 0) stack = stack.drop(idx + 1)
      case Text(s) =>
        if (!skipped && s.exists(!_.isWhitespace)) {
          captureCtx()
          textBuf.append(s)
          if (anchorDepth > 0) {
            anchorNonWs += decodeEntities(s).count(!_.isWhitespace)
            anchorTextBuf.append(s)
          }
        } else if (!skipped) {
          textBuf.append(' ')
          if (anchorDepth > 0) anchorTextBuf.append(' ')
        }
    }
    flush()
    out.result()
  }

  // ---- classification ----------------------------------------------------------

  sealed trait Label
  case object Good extends Label
  case object Bad extends Label
  case object Short extends Label
  case object Near extends Label
  case object Img extends Label

  /** Raw per-block labels including the candidate depth band (step 3). */
  def rawLabels(bs: Vector[Block]): Vector[Label] = {
    val candidate = bs.map(b =>
      !b.bad && b.nonWs >= GoodLen && b.linkPm <= LinkPmMax)
    // no candidates → no article subtree → the band constrains nothing
    // (nothing can be promoted without a GOOD neighbor anyway)
    val baseDepth = bs.indices.filter(candidate).map(bs(_).depth)
      .minOption.getOrElse(Int.MaxValue - DepthSlack - 1)
    bs.indices.toVector.map { i =>
      val b = bs(i)
      if (b.bad) Bad
      else if (b.depth > baseDepth + DepthSlack) Bad // outside the article band
      else if (b.nonWs == 0 && b.media.nonEmpty) Img
      else if (b.linkPm > LinkPmMax) Bad
      else if (candidate(i)) Good
      else if (b.nonWs < ShortLen) Short
      else Near
    }
  }

  /** Final keep/drop per block after context smoothing (step 4). */
  def finalKeep(bs: Vector[Block]): Vector[Boolean] = {
    val raw = rawLabels(bs)
    val n = bs.length
    // nearest raw GOOD/BAD on each side (GOOD/BAD are final, so the
    // "previous final" of jusText equals the previous raw here)
    val prevRaw = new Array[Label](n)
    var last: Label = Bad
    for (i <- 0 until n) {
      prevRaw(i) = last
      if (raw(i) == Good || raw(i) == Bad) last = raw(i)
    }
    val nextRaw = new Array[Label](n)
    last = Bad
    for (i <- (n - 1) to 0 by -1) {
      nextRaw(i) = last
      if (raw(i) == Good || raw(i) == Bad) last = raw(i)
    }
    bs.indices.toVector.map { i =>
      raw(i) match {
        case Good => true
        case Bad => false
        case Img => prevRaw(i) == Good || nextRaw(i) == Good
        case Short if bs(i).heading => nextRaw(i) == Good
        case Short => prevRaw(i) == Good && nextRaw(i) == Good
        case Near if bs(i).heading => nextRaw(i) == Good
        case Near => prevRaw(i) == Good || nextRaw(i) == Good
      }
    }
  }

  /** One extracted hyperlink: raw `href` as written, whitespace-collapsed
    * entity-decoded anchor text, whether the enclosing block survives
    * boilerplate removal ([[finalKeep]]), whether the anchor's `rel`
    * token list carries `nofollow` (the publisher's no-endorsement mark a
    * frontier scheduler and a link-graph ranker both honor), and the
    * page-global anchor encounter order.
    */
  final case class Outlink(
      href: String, text: String, from_content: Boolean, nofollow: Boolean,
      order: Int)

  /** Outlink extraction for one page — the crawl-frontier primitive: a
    * crawler weighs links found in ARTICLE content above chrome links
    * (nav/footer/related boxes repeat on every page of a site and carry no
    * editorial signal — the same observation that makes intra-site "nepotism"
    * links worthless for ranking, Davison SIGIR 2000). `from_content` is the
    * block-keep decision of the SAME classifier the main-content gate pins,
    * so link attribution inherits the planted-truth guarantee. An anchor
    * whose enclosing block carries no content at all (no text, no image —
    * e.g. an empty `<a href>` alone in a div) is scaffolding, not a link.
    * Pure function of the page string — the corpus-scale run is the same
    * zero-shuffle map shape as [[extract]].
    */
  def outlinks(html: String): Vector[Outlink] = {
    val bs = blocks(html)
    val keep = finalKeep(bs)
    val out = Vector.newBuilder[Outlink]
    var order = 0
    bs.indices.foreach { i =>
      bs(i).links.foreach { case (href, text, nofollow) =>
        out += Outlink(href, text, keep(i), nofollow, order); order += 1
      }
    }
    out.result()
  }

  /** Page-level metadata a crawl/index pipeline reads from the head:
    * the first `<title>` (whitespace-collapsed, entity-decoded), whether a
    * robots meta carries the `noindex` directive, and the first
    * `rel="canonical"` href ("" if none). All three are the standard
    * pre-extraction signals: noindex pages leave the corpus before any
    * content work, and canonical edges resolve syndicated re-posts without
    * content comparison.
    */
  final case class PageMeta(title: String, noindex: Boolean, canonical: String,
      prev: String = "", next: String = "",
      alternates: Vector[(String, String)] = Vector.empty,
      ldJson: String = "")

  /** Parse [[PageMeta]] from raw markup — same lexer as [[blocks]], so
    * comments, raw-text scripts and broken nesting cannot fabricate metadata.
    * First title / first canonical / first prev / first next / first ld+json
    * win (browser behavior); robots directives accumulate across every
    * robots meta on the page (a page is noindex if ANY robots meta says so);
    * hreflang alternates accumulate in document order as (lang, href) pairs
    * — only `rel="alternate"` links that actually carry an `hreflang`
    * attribute count (plain alternate links are feeds/styles, not language
    * variants).
    */
  def pageMeta(html: String): PageMeta = {
    var title: Option[String] = None
    var inTitle = false
    val titleBuf = new StringBuilder
    var noindex = false
    var canonical: Option[String] = None
    var prev: Option[String] = None
    var next: Option[String] = None
    val alternates = Vector.newBuilder[(String, String)]
    var ldJson: Option[String] = None
    var inLd = false
    val ldBuf = new StringBuilder
    lex(html).foreach {
      case Open(name, attrs, selfClose) =>
        if (name == "title" && !selfClose && title.isEmpty) inTitle = true
        else if (name == "meta") {
          if (attrTokens(NamePat, attrs)("robots") &&
              attrTokens(ContentPat, attrs)("noindex")) noindex = true
        } else if (name == "link") {
          val rel = attrTokens(RelPat, attrs)
          val href = attrVal(HrefPat, attrs).filter(_.nonEmpty)
          if (rel("canonical") && canonical.isEmpty) canonical = href
          // HTML living standard rel=prev; rel=previous is the HTML4 alias
          if ((rel("prev") || rel("previous")) && prev.isEmpty) prev = href
          if (rel("next") && next.isEmpty) next = href
          if (rel("alternate")) {
            val lang = attrVal(HreflangPat, attrs).map(_.toLowerCase)
              .filter(_.nonEmpty)
            (lang, href) match {
              case (Some(l), Some(h)) => alternates += ((l, h))
              case _ => ()
            }
          }
        } else if (name == "script" && !selfClose && ldJson.isEmpty &&
            attrTokens(TypePat, attrs)("application/ld+json")) {
          inLd = true
        }
      case Close("title") =>
        if (inTitle) {
          inTitle = false
          title = Some(decodeEntities(titleBuf.toString)
            .split("\\s+").filter(_.nonEmpty).mkString(" "))
        }
      case Close("script") =>
        if (inLd) { inLd = false; ldJson = Some(ldBuf.toString.trim) }
      case Text(s) =>
        if (inTitle) titleBuf.append(s)
        else if (inLd) ldBuf.append(s)
      case _ => ()
    }
    PageMeta(title.getOrElse(""), noindex, canonical.getOrElse(""),
      prev.getOrElse(""), next.getOrElse(""), alternates.result(),
      ldJson.getOrElse(""))
  }

  /** Soft-404 detection: an error page served with HTTP 200 — the crawl's
    * status code says "content" but the page body is a not-found notice.
    * A status-code filter can never drop these; the signal only exists
    * AFTER boilerplate removal (the chrome is a normal page's chrome —
    * that is what makes them 'soft'). The detector is content-shaped:
    * extraction yields at most [[SoftErrorMaxSpans]] spans and one of them
    * is a heading equal to the canonical error notice. Corpus builders
    * drop these before dedup — left in, every error page of a host is a
    * near-duplicate of every other and pollutes the dup graph.
    */
  val SoftErrorHeading = "요청하신 페이지를 찾을 수 없습니다"
  val SoftErrorMaxSpans = 4

  def isSoftError(spans: Seq[OutSpan]): Boolean =
    spans.size <= SoftErrorMaxSpans &&
      spans.exists(s => s.kind == KindHeading && s.text == SoftErrorHeading)

  /** Main-content span sequence for one page (step 5). */
  def extract(html: String): Vector[OutSpan] = {
    val bs = blocks(html)
    val keep = finalKeep(bs)
    val out = Vector.newBuilder[OutSpan]
    var order = 0
    bs.indices.foreach { i =>
      if (keep(i)) {
        val b = bs(i)
        if (b.text.nonEmpty) {
          out += OutSpan(if (b.heading) KindHeading else KindText, b.text, "", order)
          order += 1
        }
        b.media.foreach { ref =>
          out += OutSpan(KindMedia, "", ref, order); order += 1
        }
      }
    }
    out.result()
  }
}

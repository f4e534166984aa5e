package graft.parse

import java.util.regex.{Matcher, Pattern}

/** Legal-document OCR typo correction — a faithful Scala re-expression of the
  * reference cascade (ocr_engine.py:279–339, pattern tables at :88–205).
  * Behavior is pinned by `fix_typos_vectors.json`, generated by executing the
  * reference's own `fix_typos` over a vector set, and by a differential spec
  * against the earlier regex-only cascade (TypoSpec).
  *
  * This object is the "pooled parser" analog of the reference's per-worker
  * singleton init (tasks.py:59–87): patterns are compiled once per JVM and
  * every thread keeps one Matcher per pattern, reused through `reset`, so
  * executor tasks pay no regex compilation and no Matcher allocation per row.
  * A line the cascade leaves unchanged allocates nothing: `replaceAll`
  * returns its input when nothing matches, and step 6 returns the line as it
  * is when it has no whitespace to collapse and no roman word to map.
  *
  * Dialect notes (SPEC.md §5): Python `\g<1>` → Java `$1`. Replacements like
  * `$10$2` rely on Java's documented maximal-legal-group-number parse (group 1
  * followed by literal '0' when the pattern has < 10 groups) — covered by the
  * vector tests.
  */
object Typo {

  /** Effective (non-identity) entries of SYMBOL_CORRECTIONS
    * (ocr_engine.py:191–205; the bracket/quote entries map to themselves).
    */
  private val symbolPairs: Array[(Char, Char)] = Array(
    '−' -> '-', '–' -> '-', '—' -> '-',
    '．' -> '.', '，' -> ',')

  // Literals a pattern needs before it can match, as bits of `literals(t)`.
  private final val Je = 1 // 제
  private final val Won = 2 // 원
  // a BMP digit or any surrogate: `\d` under UNICODE_CHARACTER_CLASS also
  // matches supplementary-plane digits, which only their surrogates show
  private final val Digit = 4

  /** The [[Je]], [[Won]] and [[Digit]] bits `t` holds. */
  private def literals(t: String): Int = {
    var bits = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '제') bits |= Je
      else if (c == '원') bits |= Won
      else if (Character.isDigit(c) || Character.isSurrogate(c)) bits |= Digit
      i += 1
    }
    bits
  }

  /** One step's pattern table. Each entry is (pattern, replacement, needs):
    * `needs` holds the literal bits every match of the pattern contains, so
    * a pattern whose bits the text lacks is skipped; the bits are read again
    * after each rewrite. Patterns are shared; a Matcher is not thread-safe,
    * so each thread gets its own set (Spark task threads are long-lived, so
    * this is a per-worker pool).
    */
  private final class Table(entries: Seq[(String, String, Int)], flags: Int = 0) {
    // UNICODE_CHARACTER_CLASS: Python's `\s`/`\d` are Unicode-aware by default
    // (e.g. \s matches U+3000 ideographic space); Java's are ASCII-only without
    // this flag. Required for vector parity.
    private val patterns = entries.map { case (p, _, _) =>
      Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS)
    }.toArray
    private val replacements = entries.map(_._2).toArray
    private val needs = entries.map(_._3).toArray
    private val gated = needs.exists(_ != 0)
    private val matchers =
      ThreadLocal.withInitial[Array[Matcher]](() => patterns.map(_.matcher("")))

    def subAll(text: String): String = {
      val ms = matchers.get()
      var t = text
      var have = if (gated) literals(t) else 0
      var i = 0
      while (i < ms.length) {
        if ((have & needs(i)) == needs(i)) {
          val r = ms(i).reset(t).replaceAll(replacements(i))
          if (r ne t) { t = r; if (gated) have = literals(t) }
        }
        i += 1
      }
      t
    }
  }

  /** PARTY_SEQUENCE_PATTERNS (ocr_engine.py:102–115). */
  private val partySeq = new Table(Seq(
    ("""(갑|甲)\s*[,、]\s*[ZzE2](?=\s*[,、]|\s*$|\s+)""", "$1, 乙", 0),
    ("""(갑|甲)\s+[ZzE2](?=\s|$)""", "$1 乙", 0),
    ("""(을|乙)\s*[,、]\s*[Cc](?=\s*[,、]|\s*$|\s+)""", "$1, 丙", 0),
    ("""(을|乙)\s+[Cc](?=\s|$)""", "$1 丙", 0),
    ("""(병|丙)\s*[,、]\s*[Tt](?=\s*[,、]|\s*$|\s+)""", "$1, 丁", 0),
    ("""(병|丙)\s+[Tt](?=\s|$)""", "$1 丁", 0),
    ("""(갑|甲)\s*(과|와|및|,)\s*[ZzE2]""", "$1$2 乙", 0),
    ("""[ZzE2]\s*(과|와|및|,)\s*(갑|甲)""", "乙$1 $2", 0)))

  /** NUMBER_LETTER_PATTERNS (ocr_engine.py:120–140). */
  private val numberLetter = new Table(Seq(
    ("""(제\s*\d+)[oO](\d*\s*조)""", "$10$2", Je | Digit),
    ("""(제\s*\d+\s*조\s*제?\s*\d*)[oO](\d*\s*항)""", "$10$2", Je | Digit),
    ("""(제\s*\d+\s*조\s*제?\s*\d*\s*항?\s*제?\s*\d*)[oO](\d*\s*호)""", "$10$2", Je | Digit),
    ("""(\d)[oO](\d)""", "$10$2", Digit),
    ("""(\d)[oO]([,\.])""", "$10$2", Digit),
    ("""([,\.])[oO](\d)""", "$10$2", Digit),
    ("""(19|20)\s*[oO]\s*(\d)\s*년""", "$10$2년", Digit),
    ("""(19|20)\s*(\d)\s*[oO]\s*년""", "$1$20년", Digit),
    ("""(제\s*)[lI](\d*\s*조)""", "$11$2", Je),
    ("""(제\s*\d+)[lI](\s*조)""", "$11$2", Je | Digit),
    ("""([lI])(\d\s*월)""", "1$2", Digit),
    ("""(\d)[lI](\s*월)""", "$11$2", Digit),
    ("""([lI])(\d\s*일)""", "1$2", Digit),
    ("""(\d)[lI](\s*일)""", "$11$2", Digit)))

  /** ROMAN_NUMERAL_PATTERNS (ocr_engine.py:145–166), MULTILINE like the
    * reference's `flags=re.MULTILINE`.
    */
  private val romanPatterns = new Table(Seq(
    ("""^([IⅠ])\.(\s)""", "Ⅰ.$2", 0),
    ("""^(II|[IⅠ]{2})\.(\s)""", "Ⅱ.$2", 0),
    ("""^(III|[IⅠ]{3})\.(\s)""", "Ⅲ.$2", 0),
    ("""^(IV)\.(\s)""", "Ⅳ.$2", 0),
    ("""^([VⅤ])\.(\s)""", "Ⅴ.$2", 0),
    ("""\(([IⅠ])\)""", "(Ⅰ)", 0),
    ("""\((II|[IⅠ]{2})\)""", "(Ⅱ)", 0),
    ("""\((III|[IⅠ]{3})\)""", "(Ⅲ)", 0),
    ("""\((IV)\)""", "(Ⅳ)", 0),
    ("""\(([VⅤ])\)""", "(Ⅴ)", 0)), Pattern.MULTILINE)

  private val romanMap: Map[String, String] = Map(
    "I" -> "Ⅰ", "II" -> "Ⅱ", "III" -> "Ⅲ", "IV" -> "Ⅳ", "V" -> "Ⅴ",
    "VI" -> "Ⅵ", "VII" -> "Ⅶ", "VIII" -> "Ⅷ", "IX" -> "Ⅸ", "X" -> "Ⅹ",
    "XI" -> "Ⅺ", "XII" -> "Ⅻ")

  /** LEGAL_TERM_PATTERNS (ocr_engine.py:171–186). The reference also lists
    * `원고(?![가-힣])` → `원고` and `피고(?![가-힣])` → `피고`; their lookahead is
    * zero-width, so each rewrites its match to the same text, and they are
    * omitted here (the differential spec against TypoReference pins this).
    */
  private val legalTerm = new Table(Seq(
    ("""제\s+(\d+)\s*조""", "제$1조", Je | Digit),
    ("""제\s*(\d+)\s+조""", "제$1조", Je | Digit),
    ("""제\s+(\d+)\s*항""", "제$1항", Je | Digit),
    ("""제\s*(\d+)\s+항""", "제$1항", Je | Digit),
    ("""제\s+(\d+)\s*호""", "제$1호", Je | Digit),
    ("""제\s*(\d+)\s+호""", "제$1호", Je | Digit),
    ("""(\d)\s*원(?!\s*고|\s*피)""", "$1원", Won | Digit),
    ("""(\d{4})\s*[.·]\s*(\d{1,2})\s*[.·]\s*(\d{1,2})""", "$1. $2. $3.", Digit)))

  private val allowedBefore = Set(",", "및", "또는", "그리고")

  private def containsAny(t: String, chars: String): Boolean = {
    var i = 0
    while (i < t.length) {
      if (chars.indexOf(t.charAt(i)) >= 0) return true
      i += 1
    }
    false
  }

  /** The six-step cascade; see SPEC.md §5. */
  def fixTypos(text: String): String = {
    if (text == null || text.isEmpty) return text
    var t = text
    // Step 1: symbol normalization
    var si = 0
    while (si < symbolPairs.length) {
      t = t.replace(symbolPairs(si)._1, symbolPairs(si)._2)
      si += 1
    }
    // Step 2: party-sequence correction, gated on 갑/甲/을/乙/병/丙 presence
    if (containsAny(t, "갑甲을乙병丙")) t = partySeq.subAll(t)
    // Steps 3–4 run behind cheap character-presence gates: each gate is true
    // whenever ANY pattern of the step could match (every NUMBER_LETTER
    // pattern contains [oOlI]; every ROMAN pattern contains I/V/Ⅰ/Ⅴ) — pure
    // fast path, no behavior change (pinned by the reference-generated
    // vectors). Within steps 3 and 5 each pattern also runs only when the
    // text holds the literals it needs (the `needs` column of its table).
    // Step 3: number/letter confusion
    if (containsAny(t, "oOlI")) t = numberLetter.subAll(t)
    // Step 4: roman numerals (MULTILINE)
    if (containsAny(t, "IVⅠⅤ")) t = romanPatterns.subAll(t)
    // Step 5: legal-term spacing + date normalization
    t = legalTerm.subAll(t)
    // Step 6: word-level roman pass
    wordPass(t)
  }

  /** `\s` under UNICODE_CHARACTER_CLASS, i.e. Unicode White_Space (the JDK
    * regex's own predicate). Not `Character.isWhitespace`: the two disagree
    * on U+00A0, U+2007, U+202F (White_Space only) and U+001C–U+001F
    * (isWhitespace only).
    */
  private def isWs(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r')
    else c == '\u0085' || {
      val tp = Character.getType(c)
      tp == Character.SPACE_SEPARATOR || tp == Character.LINE_SEPARATOR ||
        tp == Character.PARAGRAPH_SEPARATOR
    }

  // Step 6 classifies each word by a small automaton: empty, [IVX]+,
  // [IVX]+\.+ (the only shapes a romanMap key, bare or with trailing dots,
  // can take), or other.
  private final val WordEmpty = 0
  private final val WordRoman = 1
  private final val WordRomanDots = 2
  private final val WordOther = 3

  private def romanStep(state: Int, c: Char): Int =
    if (c == 'I' || c == 'V' || c == 'X') {
      if (state <= WordRoman) WordRoman else WordOther
    } else if (c == '.') {
      if (state == WordRoman || state == WordRomanDots) WordRomanDots else WordOther
    } else WordOther

  private def romanShaped(state: Int): Boolean =
    state == WordRoman || state == WordRomanDots

  /** Step 6, the reference's `' '.join(...)` over `text.split()`: collapses
    * every whitespace run to one space, maps trailing-dot roman words and bare
    * roman words that come first or after `,`/및/또는/그리고. One scan returns
    * `t` itself when there is nothing to change: no leading, trailing,
    * repeated or non-space whitespace and no roman-shaped word.
    */
  private def wordPass(t: String): String = {
    var afterWs = true // at the start, or the previous char was whitespace
    var state = WordEmpty
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (isWs(c)) {
        if (c != ' ' || afterWs || romanShaped(state)) return rebuild(t)
        afterWs = true
      } else {
        state = romanStep(if (afterWs) WordEmpty else state, c)
        afterWs = false
      }
      i += 1
    }
    if (afterWs || romanShaped(state)) rebuild(t) else t
  }

  private def rebuild(t: String): String = {
    val n = t.length
    val sb = new java.lang.StringBuilder(n)
    var prevStart, prevEnd = -1
    var i = 0
    while (i < n) {
      if (isWs(t.charAt(i))) i += 1
      else {
        val start = i
        var state = WordEmpty
        while (i < n && !isWs(t.charAt(i))) {
          state = romanStep(state, t.charAt(i))
          i += 1
        }
        if (prevEnd >= 0) sb.append(' ')
        val mapped =
          if (romanShaped(state)) romanWord(t, start, i, state, prevStart, prevEnd) else null
        if (mapped != null) sb.append(mapped) else sb.append(t, start, i)
        prevStart = start
        prevEnd = i
      }
    }
    sb.toString
  }

  /** The replacement for the roman-shaped word `t[start, end)`, or null to
    * keep it. A word with trailing dots maps whenever its letters are a key
    * (all dots dropped, one appended); a bare key maps only as the first word
    * or after an allowed word. The previous output word equals the previous
    * input word here, because a mapped word is never in `allowedBefore`.
    */
  private def romanWord(t: String, start: Int, end: Int, state: Int,
                        prevStart: Int, prevEnd: Int): String =
    if (state == WordRomanDots) {
      var k = end
      while (t.charAt(k - 1) == '.') k -= 1
      val r = romanMap.getOrElse(t.substring(start, k), null)
      if (r == null) null else r + "."
    } else if (prevEnd < 0 || allowedBefore.contains(t.substring(prevStart, prevEnd)))
      romanMap.getOrElse(t.substring(start, end), null)
    else null
}

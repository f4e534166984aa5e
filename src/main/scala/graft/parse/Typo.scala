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

  /** One step's pattern table. Patterns are shared; a Matcher is not
    * thread-safe, so each thread gets its own set (Spark task threads are
    * long-lived, so this is a per-worker pool).
    */
  private final class Table(entries: Seq[(String, String)], flags: Int = 0) {
    // UNICODE_CHARACTER_CLASS: Python's `\s`/`\d` are Unicode-aware by default
    // (e.g. \s matches U+3000 ideographic space); Java's are ASCII-only without
    // this flag. Required for vector parity.
    private val patterns = entries.map { case (p, _) =>
      Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS)
    }.toArray
    private val replacements = entries.map(_._2).toArray
    private val matchers =
      ThreadLocal.withInitial[Array[Matcher]](() => patterns.map(_.matcher("")))

    def subAll(text: String): String = {
      val ms = matchers.get()
      var t = text
      var i = 0
      while (i < ms.length) {
        t = ms(i).reset(t).replaceAll(replacements(i))
        i += 1
      }
      t
    }
  }

  /** PARTY_SEQUENCE_PATTERNS (ocr_engine.py:102–115). */
  private val partySeq = new Table(Seq(
    ("""(갑|甲)\s*[,、]\s*[ZzE2](?=\s*[,、]|\s*$|\s+)""", "$1, 乙"),
    ("""(갑|甲)\s+[ZzE2](?=\s|$)""", "$1 乙"),
    ("""(을|乙)\s*[,、]\s*[Cc](?=\s*[,、]|\s*$|\s+)""", "$1, 丙"),
    ("""(을|乙)\s+[Cc](?=\s|$)""", "$1 丙"),
    ("""(병|丙)\s*[,、]\s*[Tt](?=\s*[,、]|\s*$|\s+)""", "$1, 丁"),
    ("""(병|丙)\s+[Tt](?=\s|$)""", "$1 丁"),
    ("""(갑|甲)\s*(과|와|및|,)\s*[ZzE2]""", "$1$2 乙"),
    ("""[ZzE2]\s*(과|와|및|,)\s*(갑|甲)""", "乙$1 $2")))

  /** NUMBER_LETTER_PATTERNS (ocr_engine.py:120–140). */
  private val numberLetter = new Table(Seq(
    ("""(제\s*\d+)[oO](\d*\s*조)""", "$10$2"),
    ("""(제\s*\d+\s*조\s*제?\s*\d*)[oO](\d*\s*항)""", "$10$2"),
    ("""(제\s*\d+\s*조\s*제?\s*\d*\s*항?\s*제?\s*\d*)[oO](\d*\s*호)""", "$10$2"),
    ("""(\d)[oO](\d)""", "$10$2"),
    ("""(\d)[oO]([,\.])""", "$10$2"),
    ("""([,\.])[oO](\d)""", "$10$2"),
    ("""(19|20)\s*[oO]\s*(\d)\s*년""", "$10$2년"),
    ("""(19|20)\s*(\d)\s*[oO]\s*년""", "$1$20년"),
    ("""(제\s*)[lI](\d*\s*조)""", "$11$2"),
    ("""(제\s*\d+)[lI](\s*조)""", "$11$2"),
    ("""([lI])(\d\s*월)""", "1$2"),
    ("""(\d)[lI](\s*월)""", "$11$2"),
    ("""([lI])(\d\s*일)""", "1$2"),
    ("""(\d)[lI](\s*일)""", "$11$2")))

  /** ROMAN_NUMERAL_PATTERNS (ocr_engine.py:145–166), MULTILINE like the
    * reference's `flags=re.MULTILINE`.
    */
  private val romanPatterns = new Table(Seq(
    ("""^([IⅠ])\.(\s)""", "Ⅰ.$2"),
    ("""^(II|[IⅠ]{2})\.(\s)""", "Ⅱ.$2"),
    ("""^(III|[IⅠ]{3})\.(\s)""", "Ⅲ.$2"),
    ("""^(IV)\.(\s)""", "Ⅳ.$2"),
    ("""^([VⅤ])\.(\s)""", "Ⅴ.$2"),
    ("""\(([IⅠ])\)""", "(Ⅰ)"),
    ("""\((II|[IⅠ]{2})\)""", "(Ⅱ)"),
    ("""\((III|[IⅠ]{3})\)""", "(Ⅲ)"),
    ("""\((IV)\)""", "(Ⅳ)"),
    ("""\(([VⅤ])\)""", "(Ⅴ)")), Pattern.MULTILINE)

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
    ("""제\s+(\d+)\s*조""", "제$1조"),
    ("""제\s*(\d+)\s+조""", "제$1조"),
    ("""제\s+(\d+)\s*항""", "제$1항"),
    ("""제\s*(\d+)\s+항""", "제$1항"),
    ("""제\s+(\d+)\s*호""", "제$1호"),
    ("""제\s*(\d+)\s+호""", "제$1호"),
    ("""(\d)\s*원(?!\s*고|\s*피)""", "$1원"),
    ("""(\d{4})\s*[.·]\s*(\d{1,2})\s*[.·]\s*(\d{1,2})""", "$1. $2. $3.")))

  private val allowedBefore = Set(",", "및", "또는", "그리고")

  private def containsAny(t: String, chars: String): Boolean = {
    var i = 0
    while (i < t.length) {
      if (chars.indexOf(t.charAt(i)) >= 0) return true
      i += 1
    }
    false
  }

  /** The step-5 gate: 제, 원, 피 or a BMP digit. */
  private def hasLegalTrigger(t: String): Boolean = {
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '제' || c == '원' || c == '피' || Character.isDigit(c)) return true
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
    // Steps 3–5 run behind cheap character-presence gates: each gate is true
    // whenever ANY pattern of the step could match (every NUMBER_LETTER
    // pattern contains [oOlI]; every ROMAN pattern contains I/V/Ⅰ/Ⅴ; every
    // LEGAL_TERM pattern contains 제/원 or a digit) — pure fast path, no
    // behavior change (pinned by the reference-generated vectors). The step-5
    // gate keeps the earlier cascade's 피 (from the omitted 피고 pattern):
    // `\d` also matches supplementary-plane digits, which a char test cannot
    // see, so on such text a narrower gate would change the output.
    // Step 3: number/letter confusion
    if (containsAny(t, "oOlI")) t = numberLetter.subAll(t)
    // Step 4: roman numerals (MULTILINE)
    if (containsAny(t, "IVⅠⅤ")) t = romanPatterns.subAll(t)
    // Step 5: legal-term spacing + date normalization
    if (hasLegalTrigger(t)) t = legalTerm.subAll(t)
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

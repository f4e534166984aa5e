package graft

import java.util.regex.Pattern

/** The regex cascade of `graft.parse.Typo` as it stood before the pooled
  * matchers and the hand-written word pass, kept verbatim as the reference
  * that `TypoSpec` compares the production kernel against. Do not simplify:
  * its value is that it is the old code, line for line (it still runs the
  * two identity patterns `원고(?![가-힣])` and `피고(?![가-힣])`, allocates a
  * Matcher per pattern per call and splits, reverses and re-joins every
  * word in step 6).
  */
object TypoReference {

  /** Effective (non-identity) entries of SYMBOL_CORRECTIONS
    * (ocr_engine.py:191–205; the bracket/quote entries map to themselves).
    */
  private val symbolPairs: Array[(Char, Char)] = Array(
    '−' -> '-', '–' -> '-', '—' -> '-',
    '．' -> '.', '，' -> ',')

  // UNICODE_CHARACTER_CLASS: Python's `\s`/`\d` are Unicode-aware by default
  // (e.g. \s matches U+3000 ideographic space); Java's are ASCII-only without
  // this flag. Required for vector parity.
  private def compile(ps: Seq[(String, String)], flags: Int = 0): Array[(Pattern, String)] =
    ps.map { case (p, r) =>
      (Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS), r)
    }.toArray

  private val wsSplit = Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)

  /** PARTY_SEQUENCE_PATTERNS (ocr_engine.py:102–115). */
  private val partySeq = compile(Seq(
    ("""(갑|甲)\s*[,、]\s*[ZzE2](?=\s*[,、]|\s*$|\s+)""", "$1, 乙"),
    ("""(갑|甲)\s+[ZzE2](?=\s|$)""", "$1 乙"),
    ("""(을|乙)\s*[,、]\s*[Cc](?=\s*[,、]|\s*$|\s+)""", "$1, 丙"),
    ("""(을|乙)\s+[Cc](?=\s|$)""", "$1 丙"),
    ("""(병|丙)\s*[,、]\s*[Tt](?=\s*[,、]|\s*$|\s+)""", "$1, 丁"),
    ("""(병|丙)\s+[Tt](?=\s|$)""", "$1 丁"),
    ("""(갑|甲)\s*(과|와|및|,)\s*[ZzE2]""", "$1$2 乙"),
    ("""[ZzE2]\s*(과|와|및|,)\s*(갑|甲)""", "乙$1 $2")))

  /** NUMBER_LETTER_PATTERNS (ocr_engine.py:120–140). */
  private val numberLetter = compile(Seq(
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
  private val romanPatterns = compile(Seq(
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

  /** LEGAL_TERM_PATTERNS (ocr_engine.py:171–186). */
  private val legalTerm = compile(Seq(
    ("""제\s+(\d+)\s*조""", "제$1조"),
    ("""제\s*(\d+)\s+조""", "제$1조"),
    ("""제\s+(\d+)\s*항""", "제$1항"),
    ("""제\s*(\d+)\s+항""", "제$1항"),
    ("""제\s+(\d+)\s*호""", "제$1호"),
    ("""제\s*(\d+)\s+호""", "제$1호"),
    ("""원고(?![가-힣])""", "원고"),
    ("""피고(?![가-힣])""", "피고"),
    ("""(\d)\s*원(?!\s*고|\s*피)""", "$1원"),
    ("""(\d{4})\s*[.·]\s*(\d{1,2})\s*[.·]\s*(\d{1,2})""", "$1. $2. $3.")))

  private val partyTriggers = Array("갑", "甲", "을", "乙", "병", "丙")
  private val allowedBefore = Set(",", "및", "또는", "그리고")

  private def subAll(text: String, table: Array[(Pattern, String)]): String = {
    var t = text
    var i = 0
    while (i < table.length) {
      t = table(i)._1.matcher(t).replaceAll(table(i)._2)
      i += 1
    }
    t
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
    if (partyTriggers.exists(t.contains)) t = subAll(t, partySeq)
    // Steps 3–5 run behind cheap character-presence gates: each gate is true
    // whenever ANY pattern of the step could match (every NUMBER_LETTER
    // pattern contains [oOlI]; every ROMAN pattern contains I/V/Ⅰ/Ⅴ; every
    // LEGAL_TERM pattern contains 제/원/피 or a digit) — pure fast path, no
    // behavior change (pinned by the reference-generated vectors).
    // Step 3: number/letter confusion
    if (t.exists(c => c == 'o' || c == 'O' || c == 'l' || c == 'I'))
      t = subAll(t, numberLetter)
    // Step 4: roman numerals (MULTILINE)
    if (t.exists(c => c == 'I' || c == 'V' || c == 'Ⅰ' || c == 'Ⅴ'))
      t = subAll(t, romanPatterns)
    // Step 5: legal-term spacing + date normalization
    if (t.exists(c => c == '제' || c == '원' || c == '피' || Character.isDigit(c)))
      t = subAll(t, legalTerm)
    // Step 6: word-level roman pass; NB this collapses whitespace runs to
    // single spaces exactly like the reference's `' '.join(text.split())`
    val words = wsSplit.split(t).filter(_.nonEmpty)
    val out = new scala.collection.mutable.ArrayBuffer[String](words.length)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      val stripped = w.reverse.dropWhile(_ == '.').reverse
      if (w.endsWith(".") && romanMap.contains(stripped)) {
        out += romanMap(stripped) + "."
      } else if (romanMap.contains(w)) {
        if (i == 0 || (out.nonEmpty && allowedBefore.contains(out.last))) out += romanMap(w)
        else out += w
      } else out += w
      i += 1
    }
    out.mkString(" ")
  }
}

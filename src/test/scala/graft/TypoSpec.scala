package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.CorpusGen
import graft.model.Kind
import graft.parse.Typo
import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Pins the fixTypos cascade against vectors generated by EXECUTING the
  * reference's own `fix_typos` (ocr_engine.py:279–339) over a hand-picked
  * input set covering every pattern table — see SPEC.md §5 — and, as a
  * differential spec, against [[TypoReference]], the regex-only cascade the
  * pooled kernel replaced.
  */
class TypoSpec extends AnyFunSuite with Matchers {

  private lazy val vectors: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/fix_typos_vectors.json")
    require(in != null, "fix_typos_vectors.json missing from test resources")
    val root = new ObjectMapper().readTree(in)
    root.elements().asScala.map(n => (n.get("in").asText(), n.get("out").asText())).toSeq
  }

  test("fixTypos matches every reference-generated vector") {
    vectors should not be empty
    for ((input, expected) <- vectors) {
      withClue(s"input=${input}: ") {
        Typo.fixTypos(input) shouldBe expected
      }
    }
  }

  test("fixTypos idempotent except the date rule (reference-faithful)") {
    // The reference's date normalization `YYYY. M. D` → `YYYY. M. D.` appends
    // a dot on EVERY pass (verified against ocr_engine.py:171–186 by
    // execution), so full idempotence doesn't hold by design. Assert
    // idempotence for all outputs that are already date-stable.
    val dateLike = "\\d{4}\\s*[.·]\\s*\\d{1,2}\\s*[.·]\\s*\\d{1,2}".r
    for ((_, expected) <- vectors if dateLike.findFirstIn(expected).isEmpty) {
      Typo.fixTypos(expected) shouldBe expected
    }
    // and pin the non-idempotent case itself
    Typo.fixTypos("2023. 1. 15. 판결") shouldBe "2023. 1. 15.. 판결"
  }

  test("reference fidelity: 1oo,ooo원 is NOT correctable in a single pass") {
    // FIXTURES.md's abbreviated example overstated this; the reference's
    // single-pass cascade leaves it unchanged (verified by execution), so the
    // corpus only plants correctable forms.
    Typo.fixTypos("1oo,ooo원") shouldBe "1oo,ooo원"
  }

  test("non-Korean text is whitespace-normalized only") {
    Typo.fixTypos("hello   world") shouldBe "hello world"
    Typo.fixTypos("abc def") shouldBe "abc def"
  }

  // ---- differential spec against the regex-only cascade ---------------------

  /** Every Unicode White_Space code point in the BMP (PropList.txt), i.e.
    * what `\s` means under UNICODE_CHARACTER_CLASS.
    */
  private val whiteSpace: Seq[Char] =
    ((0x09 to 0x0d) ++ Seq(0x20, 0x85, 0xa0, 0x1680) ++ (0x2000 to 0x200a) ++
      Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000)).map(_.toChar)

  /** Fuzz tokens: every trigger of steps 2–6, every White_Space char, the
    * near-misses that `Character.isWhitespace` or a sloppy `\s` gets wrong
    * (U+001C–U+001F, U+200B, U+FEFF), step 1's symbols, a supplementary-plane
    * digit (a surrogate pair that `\d` matches) and plain filler.
    */
  private val fuzzTokens: Vector[String] = (
    "갑甲을乙병丙ZzE2CcTtoOlIVXⅠⅤ제조항호원피고년월일0123456789,、.·()−–—．，가a"
      .map(_.toString) ++
      Seq("과", "와", "및", "또는", "그리고", "\uD835\uDFD9") ++
      whiteSpace.map(_.toString) ++
      Seq('\u001c', '\u001d', '\u001e', '\u001f', '\u200b', '\ufeff').map(_.toString)
    ).toVector

  private def fuzz(rng: Random): String = {
    val sb = new StringBuilder
    val n = rng.nextInt(24)
    var i = 0
    while (i < n) { sb ++= fuzzTokens(rng.nextInt(fuzzTokens.length)); i += 1 }
    sb.result()
  }

  /** Every `pdf_line` text and table cell (raw and trimmed) of the sf0.001
    * corpus.
    */
  private lazy val corpusTexts: Seq[String] = CorpusGen.genAll(CorpusGen.specFor("sf0.001"))
    .flatMap(_.spans).flatMap { s =>
      if (s.kind == Kind.PdfLine) Seq(s.text.split("\\|", 8)(7))
      else if (s.kind == Kind.PdfRegion)
        s.text.split("\\|", 7)(6).split("\n", -1).toSeq
          .flatMap(_.split("\\|", -1)).flatMap(c => Seq(c, c.trim))
      else Nil
    }.toSeq

  private def assertSameAsReference(inputs: Iterator[String]): Int = {
    var n = 0
    val mismatches = Seq.newBuilder[(String, String, String)]
    var bad = 0
    inputs.foreach { in =>
      val (got, want) = (Typo.fixTypos(in), TypoReference.fixTypos(in))
      if (got != want) {
        if (bad < 10) mismatches += ((in, got, want))
        bad += 1
      }
      n += 1
    }
    withClue(s"(input, fixTypos, reference) of the first mismatches: ${mismatches.result()}") {
      bad shouldBe 0
    }
    n
  }

  test("White_Space list == what \\s matches under UNICODE_CHARACTER_CLASS") {
    val ws = java.util.regex.Pattern.compile("\\s",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    val matched = (0 to 0xffff).filter(c => ws.matcher(c.toChar.toString).matches())
    matched.map(_.toChar) shouldBe whiteSpace
  }

  test("fixTypos == TypoReference on the vectors and the sf0.001 lines and cells") {
    assertSameAsReference(vectors.iterator.flatMap { case (i, o) => Seq(i, o) })
    corpusTexts.size should be > 1000
    assertSameAsReference(corpusTexts.iterator)
  }

  test("fixTypos == TypoReference on 1M seeded random strings") {
    val rng = new Random(20261019L)
    assertSameAsReference(Iterator.continually(fuzz(rng)).take(1000000)) shouldBe 1000000
  }

  test("fixTypos == TypoReference on 1M random strings with lone surrogates and supplementary digits") {
    // `\d` matches these code points too, so the literal gates must let
    // every surrogate through; lone halves must not pair up by accident
    val supplementaryDigits = Seq(0x1d7d9, 0x104a0, 0x11066, 0x1e950)
    supplementaryDigits.foreach(cp => Character.isDigit(cp) shouldBe true)
    val halves = supplementaryDigits.flatMap(cp => Character.toChars(cp).toSeq)
    val tokens = fuzzTokens ++ supplementaryDigits.map(cp => new String(Character.toChars(cp))) ++
      halves.map(_.toString) ++ Seq("제1", "1원", "20", "19")
    val rng = new Random(20261020L)
    def gen(): String = {
      val sb = new StringBuilder
      val n = rng.nextInt(24)
      var i = 0
      while (i < n) { sb ++= tokens(rng.nextInt(tokens.length)); i += 1 }
      sb.result()
    }
    assertSameAsReference(Iterator.continually(gen()).take(1000000)) shouldBe 1000000
  }

  test("4 threads over shuffled inputs give the sequential outputs") {
    val rng = new Random(7L)
    val inputs = (vectors.map(_._1) ++ corpusTexts ++ Seq.fill(20000)(fuzz(rng))).distinct
    val expected = inputs.map(in => in -> TypoReference.fixTypos(in)).toMap
    val bad = new AtomicInteger
    val threads = (0 until 4).map { k =>
      val order = new Random(k.toLong).shuffle(inputs)
      new Thread(() => order.foreach { in =>
        if (Typo.fixTypos(in) != expected(in)) bad.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    bad.get shouldBe 0
  }

  test("a line the cascade leaves unchanged is returned as is, allocating nothing") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val calls = 100000
    for (line <- Seq("원고는 피고에게 계약 위반에 따른 손해배상을 청구한다", "hello world")) {
      Typo.fixTypos(line) should be theSameInstanceAs line
      var sink = 0L
      var i = 0
      while (i < 2 * calls) { sink += Typo.fixTypos(line).length; i += 1 } // JIT warm-up
      val before = mx.getCurrentThreadAllocatedBytes
      i = 0
      while (i < calls) { sink += Typo.fixTypos(line).length; i += 1 }
      val perCall = (mx.getCurrentThreadAllocatedBytes - before).toDouble / calls
      sink shouldBe 3L * calls * line.length
      withClue(s"'$line' allocated $perCall B/call: ") { perCall should be <= 256.0 }
    }
  }

  test("fix_typos hands back its input UTF8String when the text is unchanged") {
    import org.apache.spark.unsafe.types.UTF8String
    val same = UTF8String.fromString("원고는 피고에게 청구한다")
    graft.functions.TypoRuntime.fix(same) should be theSameInstanceAs same
    graft.functions.TypoRuntime.fix(UTF8String.fromString("제 1 조")).toString shouldBe "제1조"
  }
}

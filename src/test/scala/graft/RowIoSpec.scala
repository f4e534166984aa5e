package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.CorpusGen
import graft.model._
import graft.oracle.Oracle
import graft.parse.{DocParser, PageParser}
import graft.plans.{ExtractDocs, ExtractDocsExec, Utf8Sink}
import graft.pipeline.{TableIO, WebExtraction}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.{Random, Try}

/** The `ExtractDocs` node's byte paths: the UTF-8 sink it writes rows with,
  * the in-place `pdf_line` field lift, whole rows on edge docs at several
  * parallelisms, and row-level containment of null input.
  */
class RowIoSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  // ---- the UTF-8 sink --------------------------------------------------------

  /** ASCII, 2- and 3-byte chars, surrogate pairs (4-byte chars) and lone
    * high and low surrogates.
    */
  private val charTokens: Vector[String] =
    Vector("a", "Z", "|", "\n", "\u0000", "é", "ß", "߿", "ࠀ", "한", "제", "￿",
      "😀", "𝟙", "􏿿", "\ud83d", "\ude00", "\ud800", "\udfff")

  private def randomString(rng: Random, maxTokens: Int): String = {
    val sb = new StringBuilder
    val n = rng.nextInt(maxTokens + 1)
    var i = 0
    while (i < n) { sb ++= charTokens(rng.nextInt(charTokens.length)); i += 1 }
    sb.result()
  }

  private def sinkBytes(sink: Utf8Sink): Array[Byte] = sink.bytes.take(sink.length)

  test("Utf8Sink writes the bytes of UTF8String.fromString, lone surrogates as '?'") {
    UTF8String.fromString("a\ud83db").getBytes.toSeq shouldBe "a?b".getBytes.toSeq
    val pair = new Utf8Sink(16)
    pair.append("\ud83d").append("").append("\ude00")
    sinkBytes(pair).toSeq shouldBe "\ud83d\ude00".getBytes("UTF-8").toSeq
    val rng = new Random(11L)
    val sink = new Utf8Sink(16) // most strings outgrow the initial buffer
    for (round <- 0 until 20000) {
      val s = if (round == 0) "" else randomString(rng, if (round % 100 == 0) 4000 else 40)
      val want = UTF8String.fromString(s).getBytes.toSeq
      withClue(s"string ${s.map(c => f"${c.toInt}%04x").mkString(" ")}: ") {
        sink.clear()
        sink.append(s)
        sinkBytes(sink).toSeq shouldBe want
        // the same text appended in two pieces, cut anywhere (also inside a
        // surrogate pair), with and without an empty append at the cut, and
        // char by char
        val cut = if (s.isEmpty) 0 else rng.nextInt(s.length + 1)
        sink.clear()
        sink.append(s, 0, cut).append(s.substring(cut))
        sinkBytes(sink).toSeq shouldBe want
        sink.clear()
        sink.append(s, 0, cut).append("").append(s, cut, cut).append(s.substring(cut))
        sinkBytes(sink).toSeq shouldBe want
        sink.clear()
        s.foreach(c => sink.append(c))
        sinkBytes(sink).toSeq shouldBe want
      }
    }
    val big = "한a😀" * 100000
    sink.clear()
    sink.append(big)
    sinkBytes(sink).toSeq shouldBe UTF8String.fromString(big).getBytes.toSeq
  }

  test("Utf8Sink drops a grown buffer on shrink and keeps writing correctly") {
    val sink = new Utf8Sink(16)
    sink.append("x" * 5000)
    sink.bytes.length should be >= 5000
    sink.shrink(1024)
    sink.bytes.length shouldBe 16
    sink.clear()
    sink.append("제1조")
    sinkBytes(sink).toSeq shouldBe "제1조".getBytes("UTF-8").toSeq
  }

  // ---- the pdf_line lift -----------------------------------------------------

  /** The `split` + `toInt` lift, as the kernel had it before the in-place lift. */
  private def splitLift(text: String, offset: Int): Line = {
    val p = text.split("\\|", 8)
    require(p.length == 8, s"bad pdf_line: $text")
    Line(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt,
      p(4).toInt, p(5).toInt, p(6).toInt, p(7), offset)
  }

  private def sameLift(text: String): Unit = withClue(s"pdf_line '$text': ") {
    (Try(PageParser.liftLine(text, 7)), Try(splitLift(text, 7))) match {
      case (scala.util.Success(a), scala.util.Success(b)) => a shouldBe b
      case (scala.util.Failure(a), scala.util.Failure(b)) => a.getClass shouldBe b.getClass
      case (a, b) => fail(s"in-place lift gave $a, split lift gave $b")
    }
  }

  test("pdf_line in-place lift == split + toInt lift, or the same failure") {
    val seven = "10|20|300|40|500|600|900"
    val cases = Seq(
      s"$seven|본문 텍스트", s"$seven|", s"$seven|a|b|c", s"$seven||",
      "+5|20|300|40|500|600|900|x", "-0|20|300|40|500|600|900|x",
      "007|020|300|40|500|600|900|x", "10|20|300|40|500|600|0900|x",
      "2147483647|20|300|40|500|600|900|x", "2147483648|20|300|40|500|600|900|x",
      "9999999999|20|300|40|500|600|900|x", "999999999|20|300|40|500|600|900|x",
      "١٢|20|300|40|500|600|900|x", "10|٣|300|40|500|600|900|x",
      "|20|300|40|500|600|900|x", "10||300|40|500|600|900|x", "10|20|300|40|500|600||x",
      "10|20|300|40|500|600|900", "10|20|300", "", "|", "a|b|c|d|e|f|g|h",
      " 10|20|300|40|500|600|900|x", "10 |20|300|40|500|600|900|x",
      "１０|20|300|40|500|600|900|x")
    cases.foreach(sameLift)
    val parts = Vector("0", "1", "7", "9", "00", "123456789", "1234567890", "+", "-", "٣",
      "١", "０", "a", " ", "|", "|", "|", "한")
    val rng = new Random(5L)
    for (_ <- 0 until 200000) {
      val sb = new StringBuilder
      val n = rng.nextInt(16)
      var i = 0
      while (i < n) { sb ++= parts(rng.nextInt(parts.length)); i += 1 }
      sameLift(sb.result())
    }
  }

  // ---- whole rows --------------------------------------------------------------

  private def nodeRows(df: DataFrame): Map[String, Extracted] =
    ExtractDocs.of(df).as[Extracted].collect().map(e => e.doc_id -> e).toMap

  test("node rows == Oracle.golden on edge docs at parallelism 1, 3 and 8") {
    val spec = CorpusGen.specFor("sf0.001")
    val mega = CorpusGen.genDoc(0, CorpusGen.Spec(1, 200)).copy(doc_id = "doc-mega-200")
    val giant = CorpusGen.genDoc(0, CorpusGen.Spec(1, 1500)).copy(doc_id = "doc-mega-1500")
    val docs = Seq(
      Doc("doc-empty", Nil),
      Doc("doc-breaks-only", Seq(InSpan(Kind.PageBreak, "page:1", "", 0),
        InSpan(Kind.PageBreak, "page:2", "", 1), InSpan(Kind.PageBreak, "page:5", "", 2))),
      mega, giant) ++ CorpusGen.genAll(spec).slice(1, 9)
    val golden = docs.map(d => d.doc_id -> Oracle.golden(d)).toMap
    golden("doc-empty").spans shouldBe empty
    golden("doc-breaks-only").markdown should include("## 페이지 5")
    def textBytes(id: String): Int =
      golden(id).markdown.getBytes("UTF-8").length + golden(id).html.getBytes("UTF-8").length
    // the mega-doc's row outgrows the row writer's 64 KiB starting buffer;
    // the giant's outgrows the 1 MiB a task keeps, so its writers are replaced
    textBytes(mega.doc_id) should be > (64 << 10)
    textBytes(giant.doc_id) should be > (1 << 20)
    for (p <- Seq(1, 3, 8)) withClue(s"parallelism $p: ") {
      nodeRows(spark.createDataset(docs).toDF().repartition(p)) shouldBe golden
    }
  }

  // ---- row-level containment -------------------------------------------------

  private val inSchema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))))))

  private def row(id: String, spans: Seq[Row]): Row = Row(id, spans)
  private def spanRow(s: InSpan): Row = Row(s.kind, s.text, s.media_ref, s.offset)

  test("null spans, span or span field: an error doc and a counted failure, in the node and a commit") {
    val spec = CorpusGen.specFor("sf0.001")
    val clean = CorpusGen.genAll(spec).filter(d => Oracle.pageStats(d)._3 == 0L).toSeq
    val good = clean.slice(1, 7)
    val src = clean(8).spans.map(spanRow)
    def nulled(field: Int): Seq[Row] = src.updated(3,
      Row.fromSeq(src(3).toSeq.updated(field, null)))
    val bad = Seq(
      row("doc-bad-spans", null),
      row("doc-bad-element", src.updated(3, null)),
      row("doc-bad-kind", nulled(0)),
      row("doc-bad-text", nulled(1)),
      row("doc-bad-media", nulled(2)),
      row("doc-bad-offset", nulled(3)))
    val rows = good.map(d => row(d.doc_id, d.spans.map(spanRow))) ++ bad
    val tmp = java.nio.file.Files.createTempDirectory("graft-null-rows").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), inSchema)
      .write.parquet(s"$tmp/input")

    val errorDoc = DocParser.assemble("", DocParser.parseSplit(DocParser.MalformedDoc))
    errorDoc.spans.map(_.kind) shouldBe Seq(Kind.Error)
    def check(out: Map[String, Seq[OutSpan]]): Unit = {
      out.keySet shouldBe rows.map(_.getString(0)).toSet
      for (d <- good) withClue(s"doc ${d.doc_id}: ") { out(d.doc_id) shouldBe Oracle.golden(d).spans }
      for (b <- bad) withClue(s"doc ${b.getString(0)}: ") { out(b.getString(0)) shouldBe errorDoc.spans }
    }

    val ds = ExtractDocs.of(spark.read.parquet(s"$tmp/input")).as[Extracted]
    val full = ds.collect()
    check(full.map(e => e.doc_id -> e.spans).toMap)
    for (e <- full if e.doc_id.startsWith("doc-bad")) {
      e.markdown shouldBe errorDoc.markdown
      e.html shouldBe errorDoc.html
    }
    ds.queryExecution.executedPlan.collectFirst {
      case e: ExtractDocsExec => e.metrics("parseFailures").value }.get shouldBe bad.size.toLong

    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run1").isDefined shouldBe true
    check(TableIO.readCommitted(spark, s"$tmp/out").get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap)
    TableIO.readMetrics(spark, s"$tmp/out").get
      .agg(org.apache.spark.sql.functions.sum($"parse_failures")).as[Long].head() shouldBe
      bad.size.toLong
  }

  test("a null doc_id still fails the job with the child-contract message") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(row(null, Seq(Row(Kind.PageBreak, "page:1", "", 0)))), 1), inSchema)
    val e = intercept[Exception](ExtractDocs.of(df).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("doc_id must be non-null")) shouldBe true
  }

  test("a null doc_id fails both surfaces' extraction and commit with the contract message") {
    def failsContract(what: String)(run: => Any): Unit = withClue(s"$what: ") {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("doc_id must be non-null")) shouldBe true
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-null-id").toString
    val html = "<html><body><p>" + "One sentence of page text. " * 20 + "</p></body></html>"
    // alone in its task, and after a keyed row in the same task
    for ((ids, i) <- Seq(Seq(null), Seq("web-ok", null)).zipWithIndex) {
      val pages = spark.sparkContext.parallelize(ids.map(id => (id: String, html)), 1)
        .toDF("doc_id", "html")
      failsContract(s"web parse $i")(
        WebExtraction.parse(pages.as[(String, String)]).toDF().collect())
      failsContract(s"web commit $i")(TableIO.commitWeb(spark, pages, s"$tmp/web-$i", "n1"))
      TableIO.readCommitted(spark, s"$tmp/web-$i") shouldBe None
      val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        ids.map(id => row(id, Seq(Row(Kind.PageBreak, "page:1", "", 0)))), 1), inSchema)
      failsContract(s"pdf commit $i")(
        TableIO.commitDocs(spark, docs.as[Doc], s"$tmp/pdf-$i", "n1"))
      TableIO.readCommitted(spark, s"$tmp/pdf-$i") shouldBe None
    }
  }
}

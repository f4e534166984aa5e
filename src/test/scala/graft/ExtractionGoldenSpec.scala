package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.corpus.CorpusGen
import graft.oracle.Oracle
import graft.parse.DocParser
import graft.plans.ExtractDocs

/** The north-rule gate (SURVEY.md §5.2.1): the extraction node must
  * reproduce the sequential oracle's span sequences EXACTLY under
  * (kind, text, media_ref, order) equality per doc_id, plus markdown and
  * html equality, at multiple partition counts.
  */
class ExtractionGoldenSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val spec = CorpusGen.specFor("sf0.001") // 100 docs, 64-page mega-doc

  private lazy val docs = spark.createDataset(CorpusGen.genAll(spec).toSeq)
  private lazy val golden: Map[String, Extracted] =
    CorpusGen.genAll(spec).map(d => d.doc_id -> Oracle.golden(d)).toMap

  private def assertMatchesGolden(numPartitions: Int): Unit = {
    val out = ExtractDocs.of(docs.toDF().repartition(numPartitions))
      .select($"doc_id", $"spans", $"markdown", $"html")
      .as[(String, Seq[OutSpan], String, String)]
      .collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap

    out.keySet shouldBe golden.keySet
    for ((id, g) <- golden) {
      val (spans, md, html) = out(id)
      withClue(s"doc $id spans: ") { spans shouldBe g.spans }
      withClue(s"doc $id markdown: ") { md shouldBe g.markdown }
      withClue(s"doc $id html: ") { html shouldBe g.html }
    }
  }

  test("golden span-sequence + markdown equality (sf0.001, 8 partitions)") {
    assertMatchesGolden(8)
  }

  test("partitioning invariance: identical output at 1, 3 and 17 partitions") {
    assertMatchesGolden(1)
    assertMatchesGolden(3)
    assertMatchesGolden(17)
  }

  test("DocParser.parseDoc, the node's kernel, == golden") {
    val out = CorpusGen.genAll(spec).map(DocParser.parseDoc).map(e => e.doc_id -> e).toMap
    out.keySet shouldBe golden.keySet
    for ((id, g) <- golden) {
      withClue(s"doc $id: ") {
        out(id).spans shouldBe g.spans
        out(id).markdown shouldBe g.markdown
        out(id).html shouldBe g.html
      }
    }
  }

  test("the corpus exercises every output kind") {
    val kinds = golden.values.flatMap(_.spans.map(_.kind)).toSet
    kinds should contain allOf
      (Kind.H1, Kind.H2, Kind.P, Kind.Table, Kind.InvisibleTable, Kind.Media, Kind.Error)
  }

  test("mega-doc (doc 0) spans all its pages in order") {
    val mega = golden(CorpusGen.docId(0))
    mega.spans.map(_.order) shouldBe mega.spans.indices
    // 64 page headers present in markdown
    "## 페이지 ".r.findAllIn(mega.markdown).length shouldBe spec.megaPages
  }

  test("fixture shapes: suppression, masking and typo correction visible in golden") {
    val all = golden.values.flatMap(_.spans)
    // typo corrections happened somewhere
    all.exists(_.text.contains("2023년")) shouldBe true
    all.exists(_.text.contains("乙")) shouldBe true
    // masked in-region lines never surface
    all.exists(_.text.contains("표 내부 텍스트")) shouldBe false
    // suppressed heuristic regions (doc i%20==3 overlap pair) never surface
    all.count(_.text.contains("중복")) shouldBe 0
  }

  test("detection filters: low-conf bordered and sub-5%-area regions are dropped") {
    val raw = CorpusGen.genAll(spec).flatMap(_.spans).toSeq
    // the corpus plants both drop cases...
    raw.count(s => s.kind == Kind.PdfRegion && s.text.contains("저신뢰")) should be > 0
    raw.count(s => s.kind == Kind.PdfRegion && s.text.contains("소형")) should be > 0
    // ...and neither ever surfaces in the extracted output
    val all = golden.values.flatMap(_.spans)
    all.exists(_.text.contains("저신뢰")) shouldBe false
    all.exists(_.text.contains("소형")) shouldBe false
    // kept regions do surface (the filters do not over-drop)
    all.exists(_.kind == Kind.Table) shouldBe true
    all.exists(_.kind == Kind.InvisibleTable) shouldBe true
  }

  test("page-range parse: parseDocRange keeps only the in-range page sections") {
    val (lo, hi) = (9, 11) // sf0.001 docs have 8–10 pages, the mega-doc 64
    val all = CorpusGen.genAll(spec).toSeq
    // each page section of a doc's markdown, keyed by page number
    def sections(md: String): Map[Int, String] =
      md.split("\n\n---\n\n").map { sec =>
        sec.stripPrefix("## 페이지 ").takeWhile(_ != '\n').toInt -> sec
      }.toMap
    var inRange = 0
    for (d <- all) withClue(s"doc ${d.doc_id}: ") {
      val r = DocParser.parseDocRange(d, lo, hi)
      val pages = DocParser.splitPages(d.spans).map(_._1).filter(n => n >= lo && n <= hi)
      if (pages.isEmpty) r.spans shouldBe empty
      else {
        inRange += 1
        val full = sections(golden(d.doc_id).markdown)
        sections(r.markdown) shouldBe pages.map(n => n -> full(n)).toMap
        r.spans.map(_.order) shouldBe r.spans.indices
      }
    }
    // the range genuinely excludes pages: the 64-page mega-doc keeps
    // exactly hi-lo+1 page headers, and in-range page numbering survives
    val megaMd = DocParser.parseDocRange(all.head, lo, hi).markdown
    all.head.doc_id shouldBe CorpusGen.docId(0)
    "## 페이지 ".r.findAllIn(megaMd).length shouldBe (hi - lo + 1)
    megaMd should include(s"## 페이지 $lo")
    megaMd should not include s"## 페이지 ${hi + 1}"
    // docs with fewer than lo pages yield no spans
    all.exists(d => DocParser.splitPages(d.spans).size < lo) shouldBe true
    inRange should be > 0
  }

  test("error pages: poisoned lines become single error spans, never abort") {
    val errs = golden.values.flatMap(_.spans).filter(_.kind == Kind.Error)
    // ~0.5% of ~1000 pages — the corpus should have planted at least one
    errs.foreach(_.text should startWith("[처리 실패:"))
  }

  test("malformed page number: one bad doc becomes an error span, never aborts node or commit") {
    // 8 failure-free docs, plus one whose page-2 break reads `page:abc`
    val clean = CorpusGen.genAll(spec).filter(d => Oracle.pageStats(d)._3 == 0L).toSeq
    val good = clean.slice(1, 9)
    val src = clean.find(d => DocParser.splitPages(d.spans).size >= 2).get
    val bad = Doc("doc-bad", src.spans.map(s =>
      if (s.kind == Kind.PageBreak && s.text == "page:2") s.copy(text = "page:abc") else s))
    val negative = src.spans.map(s =>
      if (s.kind == Kind.PageBreak && s.text == "page:2") s.copy(text = "page:-2") else s)
    DocParser.splitPages(bad.spans) shouldBe DocParser.MalformedDoc
    DocParser.splitPages(negative) shouldBe DocParser.MalformedDoc
    Oracle.pageStats(bad)._3 shouldBe 1L

    val tmp = java.nio.file.Files.createTempDirectory("graft-malformed").toString
    spark.createDataset(good :+ bad).write.parquet(s"$tmp/input")
    def check(rows: Map[String, Seq[OutSpan]]): Unit = {
      rows.keySet shouldBe (good :+ bad).map(_.doc_id).toSet
      for (d <- good) withClue(s"doc ${d.doc_id}: ") { rows(d.doc_id) shouldBe Oracle.golden(d).spans }
      rows(bad.doc_id).map(_.kind) shouldBe Seq(Kind.Error)
    }

    val df = ExtractDocs.over(spark, s"$tmp/input").select($"doc_id", $"spans")
      .as[(String, Seq[OutSpan])]
    check(df.collect().toMap)
    df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.ExtractDocsExec => e.metrics("parseFailures").value }.get shouldBe 1L

    graft.pipeline.TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run1")
      .isDefined shouldBe true
    check(graft.pipeline.TableIO.readCommitted(spark, s"$tmp/out").get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap)
    graft.pipeline.TableIO.readMetrics(spark, s"$tmp/out").get
      .agg(org.apache.spark.sql.functions.sum($"parse_failures")).as[Long].head() shouldBe 1L
  }
}

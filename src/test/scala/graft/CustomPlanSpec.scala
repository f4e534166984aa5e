package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.OutSpan
import graft.corpus.{Corpus, CorpusGen}
import graft.oracle.Oracle
import graft.plans.ExtractDocs

class CustomPlanSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("custom ExtractDocs plan node: planned via strategy, zero shuffles, golden-equal") {
    val path = Corpus.ensure(spark, "sf0.001")
    val df = ExtractDocs.over(spark, path)

    // physical nodes print without the Exec suffix; "!" would mark an
    // invalid node (missing references)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("ExtractDocs")
    plan should not include "!ExtractDocs"
    plan.linesIterator.count(_.contains("Exchange")) shouldBe 0

    val out = df.select($"doc_id", $"spans", $"markdown", $"html")
      .as[(String, Seq[OutSpan], String, String)]
      .collect().map(t => t._1 -> t).toMap

    val spec = CorpusGen.specFor("sf0.001")
    val golden = CorpusGen.genAll(spec).map(d => d.doc_id -> Oracle.golden(d)).toMap
    out.keySet shouldBe golden.keySet
    for ((id, g) <- golden) {
      withClue(s"doc $id: ") {
        out(id)._2 shouldBe g.spans
        out(id)._3 shouldBe g.markdown
        out(id)._4 shouldBe g.html
      }
    }
  }

  test("SQL metrics: one pass counts the oracle's pages, spans and parse failures") {
    val path = Corpus.ensure(spark, "sf0.001")
    val df = ExtractDocs.over(spark, path)
    df.collect()
    val node = df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.ExtractDocsExec => e }.get
    def metric(k: String): Long = node.metrics(k).value

    val spec = CorpusGen.specFor("sf0.001")
    val stats = CorpusGen.genAll(spec).map(Oracle.pageStats).toSeq
    metric("pages") shouldBe stats.map(_._1).sum
    metric("spans") shouldBe stats.map(_._2).sum
    metric("parseFailures") shouldBe stats.map(_._3).sum
    metric("parseFailures") should be > 0L
    metric("parseTime") should be > 0L
    // the node's own cost split: row decode + encode, and task allocation
    metric("rowIoTime") should be > 0L
    metric("allocBytes") should be > 0L
  }

  test("SQL metrics, web kernel: one pass counts the crawl's pages and planted spans") {
    val pages = spark.read.parquet(Corpus.ensureWeb(spark, "sf0.001"))
    val df = graft.pipeline.WebExtraction.parse(pages.select("doc_id", "html").as[(String, String)])
    df.collect()
    val node = df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.ExtractDocsExec => e }.get
    node.kernel shouldBe ExtractDocs.Web
    def metric(k: String): Long = node.metrics(k).value

    metric("pages") shouldBe pages.count()
    // golden_web holds one row per planted span
    metric("spans") shouldBe spark.read.parquet(Corpus.goldenWebPath("sf0.001")).count()
    metric("parseFailures") shouldBe 0L
    metric("parseTime") should be > 0L
    metric("rowIoTime") should be > 0L
    metric("allocBytes") should be > 0L
  }

  test("doc_id predicate is pushed through the custom node into the parquet scan") {
    import org.apache.spark.sql.functions._
    val path = Corpus.ensure(spark, "sf0.001")
    val df = ExtractDocs.over(spark, path).where($"doc_id" === "doc-000000042")

    // the optimizer rule rewrites the output-attribute predicate onto the
    // child, where FileSourceStrategy turns it into a data filter on the scan
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    scan should include("PushedFilters")
    scan should include("EqualTo(doc_id,doc-000000042)")

    val rows = df.select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect()
    val golden = Oracle.golden(CorpusGen.genDoc(42, CorpusGen.specFor("sf0.001")))
    rows.toSeq shouldBe Seq(("doc-000000042", golden.spans))
  }

  test("mixed predicates split: doc_id side pushes, computed-column side stays above") {
    val path = Corpus.ensure(spark, "sf0.001")
    val df = ExtractDocs.over(spark, path)
      .where($"doc_id" === "doc-000000042" && org.apache.spark.sql.functions.length($"markdown") > 0)

    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    scan should include("EqualTo(doc_id,doc-000000042)")
    // markdown is COMPUTED by the node — its predicate must never reach the scan
    scan should not include "markdown"
    val kept = df.queryExecution.optimizedPlan.toString
    kept should include("length(markdown")

    df.count() shouldBe 1L
  }

  test("computed-column-only predicate is not pushed (no doc_id term)") {
    val path = Corpus.ensure(spark, "sf0.001")
    val df = ExtractDocs.over(spark, path).where(org.apache.spark.sql.functions.length($"html") > 0)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    scan should not include "html"
    df.count() shouldBe 100L
  }

  test("pushdown rule preserves semantics across a predicate battery") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.Column
    val path = Corpus.ensure(spark, "sf0.001")
    val predicates: Seq[(String, Column)] = Seq(
      "equality" -> ($"doc_id" === "doc-000000042"),
      "range" -> ($"doc_id" >= "doc-000000090"),
      "isin" -> $"doc_id".isin("doc-000000001", "doc-000000002", "nope"),
      "like-prefix" -> $"doc_id".like("doc-00000009%"),
      "conj-mixed" -> ($"doc_id" < "doc-000000010" && F.length($"markdown") > 10),
      // a disjunct referencing a computed column must NOT push — and must
      // still be answered correctly above the node
      "disj-mixed" -> ($"doc_id" === "doc-000000003" || F.size($"spans") > 100),
      "negation" -> !($"doc_id" <=> "doc-000000042"))
    // the sequential oracle's rows, under the same predicates
    val golden = CorpusGen.genAll(CorpusGen.specFor("sf0.001")).map(Oracle.golden).toSeq.toDS()
    for ((name, p) <- predicates) {
      val viaCustom = ExtractDocs.over(spark, path).where(p)
        .select($"doc_id").as[String].collect().sorted.toSeq
      val viaOracle = golden.where(p).select($"doc_id").as[String].collect().sorted.toSeq
      withClue(s"predicate $name: ") { viaCustom shouldBe viaOracle }
    }
  }

  test("custom node composes with downstream Catalyst ops (filter + explode)") {
    import org.apache.spark.sql.functions._
    val path = Corpus.ensure(spark, "sf0.001")
    val n = ExtractDocs.over(spark, path)
      .where($"doc_id" === "doc-000000042")
      .select(explode($"spans"))
      .count()
    val golden = Oracle.golden(CorpusGen.genDoc(42, CorpusGen.specFor("sf0.001")))
    n shouldBe golden.spans.size.toLong
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.Corpus
import graft.pipeline.{Extraction, TableIO}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties the architecture claims
  * must be visible in `.explain` (SURVEY.md §4) — pushdown/pruning at the
  * scan, bounded exchange count, no extra shuffle sneaking in.
  */
class PlanSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark

  private lazy val corpusPath = Corpus.ensure(spark, "sf0.001")

  test("comparator-style scan prunes columns and pushes filters to parquet") {
    val df = spark.read.parquet(corpusPath)
      .filter(col("doc_id") === "doc-000000042")
      .select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc-000000042)]")
    plan should include("ReadSchema: struct<doc_id:string>")
  }

  test("extraction plan has exactly the three intended exchanges") {
    val plan = Extraction.run(spark, corpusPath).queryExecution.executedPlan
    // 1: hash page fan-out, 2: partial (doc_id, salt) agg, 3: final doc agg
    val exchanges = plan.toString.linesIterator.count(_.contains("Exchange"))
    exchanges shouldBe 3
  }

  test("commit data plan: the node under one rebalance exchange, no aggregate") {
    val lineage = spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-spec")
    val df = TableIO.extractForCommit(Extraction.readInput(spark, corpusPath), lineage)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("ExtractDocs")
    plan should include("REBALANCE_PARTITIONS")
    plan.linesIterator.count(_.contains("Exchange")) shouldBe 1
    plan should not include "Aggregate"
  }

  test("unsalted assembly saves one exchange (two total)") {
    val parsed = Extraction.parsePages(Extraction.readInput(spark, corpusPath), 4)
    val plan = Extraction.assemble(parsed, salted = false).queryExecution.executedPlan
    plan.toString.linesIterator.count(_.contains("Exchange")) shouldBe 2
  }

  test("assembly aggregates are partial+final hash aggregates (map-side combine)") {
    val plan = Extraction.run(spark, corpusPath).queryExecution.executedPlan.toString
    plan should include("ObjectHashAggregate") // collect_list path
  }

  test("head-metadata plans: no window/cartesian in hreflang; chain window keyed by head") {
    import spark.implicits._
    val meta = graft.ops.HeadMeta.parsed(
      spark.read.parquet(Corpus.ensureWeb(spark, "sf0.001"))
        .select(col("doc_id").cast("string"), col("url"), col("html"))
        .as[(String, String, String)]).toDF()
    // hreflang validation is signature-join + rollup — a Window here would
    // mean a per-cluster rank sneaked in; a cartesian would mean the
    // reciprocity join lost its equi-key
    val hre = graft.ops.HeadMeta.hreflangClusters(meta)
      .queryExecution.executedPlan.toString
    hre should not include "Window"
    hre should not include "Cartesian"
    // chain assembly is the rare SAFE window: partitioned by head_url (one
    // logical chain), never an empty partition spec (global sort)
    val spans = Seq(("web-000000002", "text", "x", "", 0L))
      .toDF("doc_id", "kind", "text", "media_ref", "ord")
    val asm = graft.ops.HeadMeta.assembleChains(spans,
        graft.ops.HeadMeta.paginationChains(meta))
      .queryExecution.executedPlan.toString
    asm should include("Window")
    // the window spec's leading argument is its partition key: head_url
    asm should include("windowspecdefinition(head_url")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.Corpus
import graft.pipeline.{Extraction, TableIO}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

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

  test("commit data plan: the node under one rebalance exchange, no aggregate") {
    val lineage = spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-spec")
    val df = TableIO.extractForCommit(Extraction.readInput(spark, corpusPath), lineage)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("ExtractDocs")
    plan should include("REBALANCE_PARTITIONS")
    plan.linesIterator.count(_.contains("Exchange")) shouldBe 1
    plan should not include "Aggregate"
  }

  test("web commit data plan: the parse under one rebalance exchange, no aggregate or cache") {
    val lineage = spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-spec-web")
    val df = TableIO.webForCommit(spark.read.parquet(Corpus.ensureWeb(spark, "sf0.001")), lineage)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("REBALANCE_PARTITIONS")
    plan.linesIterator.count(_.contains("Exchange")) shouldBe 1
    plan should not include "Aggregate"
    plan should not include "InMemoryTableScan"
  }

  test("x_extract_metrics data plan: the node with no exchange") {
    // capture the plans the gate executes; its totals come from the node's
    // lineage, so the pass itself is its one noop write
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("x_extract_metrics")(spark, "sf0.001").collect()
      eventually(timeout(Span(30, Seconds))) {
        plans.asScala.exists(_.contains("ExtractDocs")) shouldBe true
      }
    } finally spark.listenerManager.unregister(listener)
    val data = plans.asScala.filter(_.contains("ExtractDocs")).toSeq
    data should have size 1
    data.head should include("NoopWrite")
    data.head should not include "Exchange"
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

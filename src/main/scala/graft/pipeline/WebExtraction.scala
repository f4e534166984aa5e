package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.CollectionAccumulator
import graft.plans.{ExtractDocs, TaskLineage}

/** Main-content extraction over raw `(doc_id, html)` web pages: the
  * [[graft.plans.ExtractDocs]] node with its web kernel, so the crawl front
  * end has the PDF path's failure containment, SQL metrics and per-task
  * lineage, and rides the same committed-snapshot/resume machinery
  * ([[TableIO.commitWeb]]).
  *
  * The node runs at the input's own partitioning with no shuffle: every page
  * is independent, so there is nothing to co-locate.
  */
object WebExtraction {

  /** The node's web extraction of `pages`: one `(doc_id, spans)` row per
    * page, also for a page whose main content is empty, so that it commits
    * (and resume skips it) instead of re-extracting forever. The two columns
    * are taken by ordinal, as the tuple encoder takes them, and cast to
    * strings.
    *
    * `lineage`, when set, receives one [[TaskLineage]] per non-empty task (a
    * web page has no OCR confidence, so `sum_conf_pm` is 0).
    */
  def parse(pages: Dataset[(String, String)],
            lineage: Option[CollectionAccumulator[TaskLineage]] = None): DataFrame =
    ExtractDocs.of(pages.toDF("doc_id", "html")
      .select(col("doc_id").cast("string").as("doc_id"), col("html").cast("string").as("html")),
      lineage, ExtractDocs.Web)

  /** The identity: [[parse]] already returns the committed-table shape. It
    * stays only because the benchmark harness (`perfbench/`) calls
    * `assemble(parse(pages))`.
    */
  def assemble(parsed: DataFrame): DataFrame = parsed
}

package graft.pipeline

import graft.model.Doc
import org.apache.spark.sql.{SparkSession, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Extraction helpers around the one PDF extraction path, the
  * [[graft.plans.ExtractDocs]] node: input reading, the exploded per-span
  * view, the deterministic totals over a metrics table, and the pricing
  * policy.
  *
  * The node parses and assembles each document whole inside one task
  * (`DocParser`), at the input's split parallelism with no page shuffle.
  * The reference fans pages out because its GPU OCR costs ~2 s per page
  * (tasks.py:261–314, parallelProcessor.js:131–260); this kernel costs
  * ~131 µs per page on one thread and parses a 200-page mega-doc in
  * 0.024 s (perfbench kernel harness, 4-vCPU VM), so shuffling pages costs
  * more than it spreads.
  */
object Extraction {

  /** The input table at `path` as documents, read with the input contract
    * ([[graft.plans.ExtractDocs.readInput]]).
    */
  def readInput(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    graft.plans.ExtractDocs.readInput(spark, path).as[Doc]
  }

  /** Per-page pricing (tasks.py:379, config.py:116: 50 KRW/page) and the
    * parse-phase progress band (tasks.py:263: int(done/total * 90) — the
    * reference reserves the last 10% for post-processing).
    */
  val PricePerPageKrw = 50L
  def priceKrw(pages: Long): Long = pages * PricePerPageKrw

  /** Published bulk-pricing tiers (README.md:227–232): the per-page unit
    * price steps down with the DOCUMENT's page count — 1–99: 50, 100–499:
    * 45 (−10%), 500–999: 40 (−20%), 1000+: 35 (−30%). The reference code
    * only carries the flat 50 (config.py:116–119); the tiers exist solely
    * in the published price table, implemented here as the billing rollup
    * (`x_billing_tiers`) so the engine's pricing surface covers the whole
    * published policy, not just the code constant.
    */
  def bulkUnitKrw(pages: Long): Long =
    if (pages >= 1000) 35L
    else if (pages >= 500) 40L
    else if (pages >= 100) 45L
    else 50L
  def priceKrwBulk(pages: Long): Long = pages * bulkUnitKrw(pages)
  def progressPct(done: Long, total: Long): Int =
    if (total <= 0) 0 else ((done.toDouble / total) * 90).toInt

  /** Deterministic totals over the metrics table (the driver-oracled view;
    * the per-task lineage rows `TableIO` commits are the operational
    * surface, whose grouping depends on the physical partitioning).
    */
  def metricsTotals(metricsDf: DataFrame): DataFrame = {
    metricsDf.agg(
      sum(col("pages_parsed")).cast("long").as("total_pages"),
      sum(col("spans_emitted")).cast("long").as("total_spans"),
      sum(col("parse_failures")).cast("long").as("total_failures"),
      sum(col("sum_conf_pm")).cast("long").as("sum_conf_pm"),
      (sum(col("pages_parsed")) * PricePerPageKrw).cast("long").as("price_krw"))
  }

  /** Exploded per-span view (the comparator/driver-facing shape). */
  def explodeSpans(extracted: DataFrame): DataFrame = {
    extracted
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"),
        col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.order").as("ord"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.plans.ExtractDocs

/** Large-scale golden-equality check: compares the custom-plan-node
  * extraction against the oracle-generated golden tables at any scale
  * (the CI suite gates sf0.001; the driver gates sf0.01 — this drives the
  * same equality at sf0.1 / sf1 / sf3).
  *
  * Usage: runMain graft.ScaleCheck <sf> — prints one PASS/FAIL line per
  * surface (spans, markdown, html) with mismatch counts; exit code 1 on any
  * mismatch.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("sf0.1")
    val cpus = Verify.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val path = Corpus.ensure(spark, sf)
    Corpus.ensureGolden(spark, sf)
    val out = ExtractDocs.over(spark, path).persist()

    // symmetric difference counts — zero both ways means exact multiset
    // equality of the full surface
    def diff(actual: DataFrame, golden: DataFrame, name: String): Long = {
      val extra = actual.exceptAll(golden).count()
      val missing = golden.exceptAll(actual).count()
      val ok = extra == 0 && missing == 0
      println(s"[scalecheck] $name ${if (ok) "PASS" else "FAIL"} " +
        s"(rows=${golden.count()}, extra=$extra, missing=$missing)")
      extra + missing
    }

    var bad = 0L
    bad += diff(
      graft.pipeline.Extraction.explodeSpans(out),
      spark.read.parquet(Corpus.goldenSpansPath(sf)), s"$sf spans")
    bad += diff(
      out.select(col("doc_id"), col("markdown")),
      spark.read.parquet(Corpus.goldenMdPath(sf)), s"$sf markdown")
    bad += diff(
      out.select(col("doc_id"), col("html")),
      spark.read.parquet(Corpus.goldenHtmlPath(sf)), s"$sf html")

    // raw-HTML surface: main-content extraction vs the PLANTED generator
    // truth (independent of the extractor) at the same scale
    {
      import spark.implicits._
      val pages = spark.read.parquet(Corpus.ensureWeb(spark, sf))
        .select(col("doc_id").cast("string"), col("html")).as[(String, String)]
      val webOut = graft.pipeline.Extraction.explodeSpans(
        graft.plans.ExtractDocs.of(pages.toDF(), kernel = graft.plans.ExtractDocs.Web))
      bad += diff(webOut,
        spark.read.parquet(Corpus.goldenWebPath(sf)), s"$sf web")

      // outlink surface: extracted links vs the PLANTED link truth
      Corpus.ensureWebLinks(spark, sf)
      val linkOut = pages.flatMap { case (id, html) =>
        graft.parse.MainContent.outlinks(html)
          .map(l => (id, l.href, l.text, l.from_content, l.nofollow, l.order))
      }.toDF("doc_id", "href", "text", "from_content", "nofollow", "ord")
      bad += diff(linkOut,
        spark.read.parquet(Corpus.goldenWebLinksPath(sf)), s"$sf web-links")

      // page-metadata surface: title / robots-noindex / canonical /
      // pagination links vs the PLANTED metadata truth — parsed ONCE via
      // HeadMeta and reused for the derived head-metadata surfaces below
      Corpus.ensureWebMeta(spark, sf)
      val withUrl = spark.read.parquet(Corpus.ensureWeb(spark, sf))
        .select(col("doc_id").cast("string"), col("url"), col("html"))
        .as[(String, String, String)]
      val metaRows = graft.ops.HeadMeta.parsed(withUrl).toDF().persist()
      val golden = spark.read.parquet(Corpus.goldenWebMetaPath(sf))
      bad += diff(
        metaRows.select("doc_id", "title", "noindex", "canonical",
          "prev_url", "next_url"),
        golden.select("doc_id", "title", "noindex", "canonical",
          "prev_url", "next_url"), s"$sf web-meta")

      // ld+json surface: parsed publication dates vs the planted truth
      // (presence AND value — carriers are exactly the planted set)
      bad += diff(
        graft.ops.HeadMeta.structuredData(metaRows)
          .select(col("doc_id"), col("published")),
        golden.where(col("published") =!= "")
          .select("doc_id", "published"), s"$sf web-ldjson")

      // hreflang surface: reciprocity-validated clusters vs the planted
      // reciprocal-group truth (one-sided plants must be rejected at scale)
      bad += diff(
        graft.ops.HeadMeta.hreflangClusters(metaRows),
        golden.where(col("alt_group") =!= "")
          .select(col("doc_id"), col("alt_group").as("grp"),
            col("alt_lang").as("lang")), s"$sf web-hreflang")

      // pagination surface: the pointer-doubling stitcher vs the plant's
      // CLOSED FORM (chainBase is a pure stride rule — a different
      // algorithm reaching the same chains, like the DuckDB recursive CTE
      // at the gate scale)
      {
        val spec = graft.corpus.WebGen.specFor(sf)
        val nDocs = spec.docs.toLong
        val expected = spark.range(0, nDocs, 1, cpus.toInt * 4).flatMap { i =>
          val base = graft.corpus.WebGen.chainBase(i, nDocs)
          if (base < 0) None
          else Some((graft.corpus.WebGen.docId(i),
            graft.corpus.WebGen.url(base), i - base,
            graft.corpus.WebGen.ChainLen.toLong))
        }.toDF("doc_id", "head_url", "pos", "n_parts")
        bad += diff(
          graft.ops.HeadMeta.paginationChains(metaRows),
          expected, s"$sf web-pagination")
      }
      metaRows.unpersist()

      // extract-then-near-dup surface: the recovered pair set vs the
      // PLANTED duplicate truth (exact + near re-posts) at the same scale
      val sigs = pages.map { case (id, html) =>
        val toks = graft.parse.MainContent.extract(html).map(sp =>
          java.lang.Long.toHexString(SparkEntry.fnv64Span(sp)))
        (id.stripPrefix("web-").toLong, toks.mkString(" "))
      }.toDF("doc_id", "text")
      val pairs = graft.ops.Dedup.ngramJaccardPairs(sigs, n = 2, minJaccardPm = 400)
        .select("a", "b")
      val plantedPairs = spark.read.parquet(Corpus.goldenWebMetaPath(sf))
        .where(col("dup_kind") =!= "")
        .select(expr("CAST(substr(dup_src, 5) AS BIGINT)").as("a"),
          expr("CAST(substr(doc_id, 5) AS BIGINT)").as("b"))
      bad += diff(pairs, plantedPairs, s"$sf web-near-dup")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}

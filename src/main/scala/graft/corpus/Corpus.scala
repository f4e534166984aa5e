package graft.corpus

import graft.model._
import graft.oracle.Oracle
import org.apache.spark.sql.{SparkSession, Dataset, SaveMode}
import java.nio.file.{Files, Paths} // harness-exempt: the corpus/golden CACHE is repo-local by contract (data/); production IO goes through TableIO's Hadoop FS

/** Materializes the synthetic corpus + oracle golden tables as Parquet
  * snapshots under data/ (idempotent; keyed by scale-factor name).
  * Generation is distributed (spark.range → per-doc pure generator) and
  * deterministic — the per-doc seed makes partitioning irrelevant.
  */
object Corpus {

  /** `data/` under the working directory, made absolute once on the driver.
    * The working directory is the checkout root for the driver and for
    * sbt's forked run and test (the convention Spark's `spark-warehouse/`
    * follows), so each checkout reads and writes only its own data.
    */
  val Root: String = Paths.get("data").toAbsolutePath.toString

  def corpusPath(sf: String): String = s"$Root/corpus/$sf"
  def goldenSpansPath(sf: String): String = s"$Root/golden_spans/$sf"
  def goldenMdPath(sf: String): String = s"$Root/golden_md/$sf"
  def goldenHtmlPath(sf: String): String = s"$Root/golden_html/$sf"
  def goldenCorrectedPath(sf: String): String = s"$Root/golden_corrected/$sf"
  def goldenTotalsPath(sf: String): String = s"$Root/golden_totals/$sf"
  def goldenMetricsPath(sf: String): String = s"$Root/golden_metrics/$sf"
  def goldenHtmlMdPath(sf: String): String = s"$Root/golden_htmlmd/$sf"
  def goldenHtmlMdAtxPath(sf: String): String = s"$Root/golden_htmlmd_atx/$sf"
  def goldenVerifyPath(sf: String): String = s"$Root/golden_verify/$sf"
  def webPath(sf: String): String = s"$Root/web/$sf"
  def goldenWebPath(sf: String): String = s"$Root/golden_web/$sf"
  def goldenWebLinksPath(sf: String): String = s"$Root/golden_web_links/$sf"
  def goldenWebMetaPath(sf: String): String = s"$Root/golden_web_meta/$sf"
  def goldenWebBlocksPath(sf: String): String = s"$Root/golden_web_blocks/$sf"
  def webRev2Path(sf: String): String = s"$Root/web_rev2/$sf"
  def goldenWebDeltaPath(sf: String): String = s"$Root/golden_web_delta/$sf"
  def webRobotsPath(sf: String): String = s"$Root/web_robots/$sf"
  def webSitemapsPath(sf: String): String = s"$Root/web_sitemaps/$sf"
  def webWarcPath(sf: String): String = s"$Root/web_warc/$sf"

  private def exists(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  def generate(spark: SparkSession, spec: CorpusGen.Spec): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, spec.docs.toLong, 1,
        math.min(spec.docs, spark.sparkContext.defaultParallelism * 2))
      .map(i => CorpusGen.genDoc(i, spec))
  }

  /** Bump whenever the generated payload format changes (e.g. the round-2
    * pdf_region 6→7 field change): a corpus parquet written by an older
    * generator is regenerated instead of being silently parsed against the
    * new expectations while the goldens (always produced by the CURRENT
    * generator) move on — that mismatch fails every extraction gate with no
    * diagnostic pointing at the stale cache.
    */
  val FormatVersion = 2
  private def formatMarker(path: String) =
    Paths.get(path, s"_FORMAT_v$FormatVersion")

  /** Ensure the input corpus parquet exists AND matches the current
    * generator format; returns its path.
    */
  def ensure(spark: SparkSession, sf: String): String = synchronized {
    val path = corpusPath(sf)
    if (!exists(path) || !Files.exists(formatMarker(path))) {
      generate(spark, CorpusGen.specFor(sf))
        .write.mode(SaveMode.Overwrite).parquet(path)
      Files.write(formatMarker(path), Array.empty[Byte])
    }
    path
  }

  /** Ensure the oracle-generated golden tables exist (exploded spans,
    * per-doc markdown, global metric totals); returns the spans path.
    */
  def ensureGolden(spark: SparkSession, sf: String): String = synchronized {
    val spansPath = goldenSpansPath(sf)
    if (!exists(spansPath) || !exists(goldenMdPath(sf)) ||
        !exists(goldenHtmlPath(sf)) || !exists(goldenCorrectedPath(sf)) ||
        !exists(goldenTotalsPath(sf)) || !exists(goldenMetricsPath(sf)) ||
        !exists(goldenHtmlMdPath(sf)) || !exists(goldenHtmlMdAtxPath(sf)) ||
        !exists(goldenVerifyPath(sf))) {
      import spark.implicits._
      val spec = CorpusGen.specFor(sf)
      // ONE parse pass per doc yields both the golden surfaces and the
      // page-level stats for the metrics oracle
      val goldenAndStats = spark.range(0, spec.docs.toLong, 1,
          math.min(spec.docs, spark.sparkContext.defaultParallelism * 2))
        .map(i => Oracle.goldenAndStats(CorpusGen.genDoc(i, spec)))
        .persist()
      val golden = goldenAndStats.map(_._1)
      golden.flatMap(e => e.spans.map(s => (e.doc_id, s.kind, s.text, s.media_ref, s.order)))
        .toDF("doc_id", "kind", "text", "media_ref", "ord")
        .write.mode(SaveMode.Overwrite).parquet(spansPath)
      golden.map(e => (e.doc_id, e.markdown)).toDF("doc_id", "markdown")
        .write.mode(SaveMode.Overwrite).parquet(goldenMdPath(sf))
      golden.map(e => (e.doc_id, e.html)).toDF("doc_id", "html")
        .write.mode(SaveMode.Overwrite).parquet(goldenHtmlPath(sf))
      golden.map(e => (e.doc_id, graft.parse.HtmlText.htmlToMarkdown(e.html)))
        .toDF("doc_id", "md_from_html")
        .write.mode(SaveMode.Overwrite).parquet(goldenHtmlMdPath(sf))
      golden.map(e => (e.doc_id, graft.parse.HtmlText.htmlToMarkdownAtx(e.html)))
        .toDF("doc_id", "md_from_html_atx")
        .write.mode(SaveMode.Overwrite).parquet(goldenHtmlMdAtxPath(sf))
      // deterministic HTML-format verification report per doc
      // (verify_html_formatting analog; gemini_corrector.py:568–627)
      golden.map { e =>
        val r = graft.parse.HtmlVerify.verify(e.html)
        (e.doc_id, r.alignmentIssues.size.toLong, r.spacingIssues.size.toLong,
          r.tableIssues.size.toLong, r.fontSizeIssues.size.toLong,
          r.boldIssues.size.toLong, r.overallScore.toLong,
          if (r.needsCorrection) 1L else 0L, r.toJson)
      }.toDF("doc_id", "n_alignment", "n_spacing", "n_table", "n_font_size",
          "n_bold", "overall_score", "needs_correction", "report_json")
        .write.mode(SaveMode.Overwrite).parquet(goldenVerifyPath(sf))
      golden.map { e =>
        val r = graft.parse.Corrector.correct(e.markdown)
        (e.doc_id, r.corrected, r.regexFired.toLong,
          graft.parse.Corrector.editEstimate(e.markdown, r.corrected).toLong)
      }.toDF("doc_id", "corrected_md", "regex_fired", "edit_est")
        .write.mode(SaveMode.Overwrite).parquet(goldenCorrectedPath(sf))
      golden.map(e => (1L, e.spans.size.toLong,
          e.spans.count(_.kind == Kind.Error).toLong, e.conf_pm))
        .toDF("docs", "spans", "failures", "conf")
        .agg(org.apache.spark.sql.functions.sum("docs").as("total_docs"),
          org.apache.spark.sql.functions.sum("spans").as("total_spans"),
          org.apache.spark.sql.functions.sum("failures").as("total_failures"),
          org.apache.spark.sql.functions.expr(
            "CAST(floor(sum(conf) / count(1)) AS BIGINT)").as("avg_conf_pm"))
        .write.mode(SaveMode.Overwrite).parquet(goldenTotalsPath(sf))
      // page-granular metrics totals via the sequential oracle (same pass)
      goldenAndStats.map(_._2)
        .toDF("pages", "spans", "failures", "conf")
        .agg(org.apache.spark.sql.functions.sum("pages").as("total_pages"),
          org.apache.spark.sql.functions.sum("spans").as("total_spans"),
          org.apache.spark.sql.functions.sum("failures").as("total_failures"),
          org.apache.spark.sql.functions.sum("conf").as("sum_conf_pm"),
          org.apache.spark.sql.functions.expr(
            s"CAST(sum(pages) * ${graft.pipeline.Extraction.PricePerPageKrw} AS BIGINT)")
            .as("price_krw"))
        .write.mode(SaveMode.Overwrite).parquet(goldenMetricsPath(sf))
      goldenAndStats.unpersist()
    }
    spansPath
  }

  /** Bump when the web-page generator's layout or planted truth changes. */
  // v2: mega-page skew plant (every 512th page); v3: content-duplicate
  // plant (every 101st page re-renders another page's content in different
  // chrome — dup beats mega when indices collide); v4: url column on the
  // pages table, head metadata plants (title / self- and cross-canonical /
  // robots-noindex), rel=nofollow on farm anchors, and the NEAR-duplicate
  // re-post variant (editor note prepended, trailing paragraph dropped);
  // v5: near notes carry the re-post's unique document number and the
  // near trim is bounded (≤ 2 dropped, ≥ 4 kept, else note-only) so the
  // planted pair Jaccard is floored at 500‰ at any page size; v6: the
  // lead paragraph opens with the page's own case number, so organic
  // cross-page span-shingle collisions need 4+ identical consecutive
  // interior paragraphs — the planted pair set is exact at any corpus size;
  // v7: soft-404 plant (every 257th page serves a not-found notice under
  // full normal chrome; re-posts of error pages inherit the flag);
  // v8: head-metadata plants with NO rng draws (pagination rel=prev/next
  // chains every 89th fresh page, hreflang alternate pairs every 73rd page
  // with every 5th cluster deliberately one-sided, NewsArticle JSON-LD on
  // fresh non-error pages)
  val WebFormatVersion = 8

  /** Ensure the wild-web pages table (doc_id, html) AND its PLANTED
    * main-content truth (doc_id, kind, text, media_ref, ord) exist; returns
    * the pages path. Two independent distributed passes — per-doc seeding
    * makes regeneration exact and free, so NOTHING is cached (a .persist of
    * the generated pages OOMed at sf10: 1M pages × ~130 MB blocks × 16
    * concurrent tasks; deterministic re-derivation is the corpus-scale
    * shape). The truth is the generator's plant, fully independent of
    * [[graft.parse.MainContent]].
    */
  def ensureWeb(spark: SparkSession, sf: String): String = synchronized {
    val path = webPath(sf)
    val marker = Paths.get(path, s"_FORMAT_v$WebFormatVersion")
    if (!exists(path) || !exists(goldenWebPath(sf)) || !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      def gen() = spark.range(0, spec.docs.toLong, 1,
          math.min(spec.docs, spark.sparkContext.defaultParallelism * 4))
        .map(i => WebGen.genPage(i, spec))
      gen().map(p => (p.doc_id, p.meta.url, p.html)).toDF("doc_id", "url", "html")
        .write.mode(SaveMode.Overwrite).parquet(path)
      gen().flatMap(p => p.truth.map(s =>
          (p.doc_id, s.kind, s.text, s.media_ref, s.order)))
        .toDF("doc_id", "kind", "text", "media_ref", "ord")
        .write.mode(SaveMode.Overwrite).parquet(goldenWebPath(sf))
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the generator's planted OUTLINK truth changes. Versioned
    * separately from [[WebFormatVersion]]: link truth is an additive record
    * of anchors the generator already emits, so adding or re-versioning it
    * must not force a regeneration of the (unchanged) pages + span truth.
    */
  // v2: rel=nofollow mark recorded per planted anchor
  val WebLinksFormatVersion = 2

  /** Ensure the planted outlink truth (doc_id, href, text, from_content,
    * ord) for the wild-web table exists; returns the pages path. Same
    * no-cache two-pass contract as [[ensureWeb]]: per-doc seeding makes the
    * extra generation pass exact and embarrassingly parallel.
    */
  def ensureWebLinks(spark: SparkSession, sf: String): String = synchronized {
    val path = ensureWeb(spark, sf)
    val linksPath = goldenWebLinksPath(sf)
    // marker couples BOTH versions: any page-format bump changes the
    // generator's rng draw sequence, so dependent truths must regenerate
    // even when their own schema is unchanged
    val marker = Paths.get(linksPath,
      s"_FORMAT_v${WebFormatVersion}_$WebLinksFormatVersion")
    if (!exists(linksPath) || !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      spark.range(0, spec.docs.toLong, 1,
          math.min(spec.docs, spark.sparkContext.defaultParallelism * 4))
        .flatMap(i => WebGen.genPage(i, spec).links.map(l =>
          (WebGen.docId(i), l.href, l.text, l.from_content, l.nofollow, l.order)))
        .toDF("doc_id", "href", "text", "from_content", "nofollow", "ord")
        .write.mode(SaveMode.Overwrite).parquet(linksPath)
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the generator's planted page-metadata truth changes.
    * Separate version for the same reason as [[WebLinksFormatVersion]].
    */
  // v2: planted soft-404 flag per page; v3: pagination prev/next urls,
  // reciprocal hreflang group + lang, JSON-LD published date
  val WebMetaFormatVersion = 3

  /** Ensure the planted page-metadata truth (doc_id, url, title, noindex,
    * canonical, dup_src, dup_kind, soft404, prev_url, next_url, alt_group,
    * alt_lang, published — the [[WebGen.WebMeta]] fields) for the wild-web
    * table exists; returns the pages path. Same no-cache generation
    * contract as [[ensureWeb]].
    */
  def ensureWebMeta(spark: SparkSession, sf: String): String = synchronized {
    val path = ensureWeb(spark, sf)
    val metaPath = goldenWebMetaPath(sf)
    // coupled to the page format for the same reason as ensureWebLinks
    val marker = Paths.get(metaPath,
      s"_FORMAT_v${WebFormatVersion}_$WebMetaFormatVersion")
    if (!exists(metaPath) || !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      spark.range(0, spec.docs.toLong, 1,
          math.min(spec.docs, spark.sparkContext.defaultParallelism * 4))
        .map(i => WebGen.genPage(i, spec).meta)
        .toDF()
        .write.mode(SaveMode.Overwrite).parquet(metaPath)
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the generator's planted block-segmentation truth changes.
    * Separate version for the same reason as [[WebLinksFormatVersion]].
    */
  val WebBlocksFormatVersion = 1

  /** Ensure the planted block-segmentation truth (doc_id, ord, tag,
    * is_content, n_media, text) for the wild-web table exists; returns the
    * pages path. Same no-cache generation contract as [[ensureWeb]].
    */
  def ensureWebBlocks(spark: SparkSession, sf: String): String = synchronized {
    val path = ensureWeb(spark, sf)
    val blocksPath = goldenWebBlocksPath(sf)
    // coupled to the page format for the same reason as ensureWebLinks
    val marker = Paths.get(blocksPath,
      s"_FORMAT_v${WebFormatVersion}_$WebBlocksFormatVersion")
    if (!exists(blocksPath) || !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      spark.range(0, spec.docs.toLong, 1,
          math.min(spec.docs, spark.sparkContext.defaultParallelism * 4))
        .flatMap(i => WebGen.genPage(i, spec).blocks.map(b =>
          (WebGen.docId(i), b.ord, b.tag, b.is_content, b.n_media, b.text)))
        .toDF("doc_id", "ord", "tag", "is_content", "n_media", "text")
        .write.mode(SaveMode.Overwrite).parquet(blocksPath)
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the generator's rev-2 recrawl plant changes. */
  val WebRev2FormatVersion = 1

  /** Ensure the REV-2 recrawl table (doc_id, url, html — the same sites
    * crawled again: ~1/37 of articles updated, 1/53 of pages gone, ~2% new
    * pages) AND the planted delta truth (doc_id, status ∈ added / removed /
    * changed) exist; returns the rev-2 pages path. Also ensures the rev-1
    * table (the delta op's other side). Same no-cache generation contract
    * as [[ensureWeb]].
    */
  def ensureWebRev2(spark: SparkSession, sf: String): String = synchronized {
    ensureWeb(spark, sf)
    val path = webRev2Path(sf)
    val marker = Paths.get(path,
      s"_FORMAT_v${WebFormatVersion}_$WebRev2FormatVersion")
    if (!exists(path) || !exists(goldenWebDeltaPath(sf)) ||
        !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      val docs = spec.docs.toLong
      val rev2Ids = spark.range(0, WebGen.rev2Docs(docs), 1,
        math.min(spec.docs, spark.sparkContext.defaultParallelism * 4))
      rev2Ids
        .filter(i => WebGen.rev2Status(i, docs) != "removed")
        .map { i =>
          val p = WebGen.genPage(i, spec, rev = 2)
          (p.doc_id, p.meta.url, p.html)
        }
        .toDF("doc_id", "url", "html")
        .write.mode(SaveMode.Overwrite).parquet(path)
      rev2Ids
        .map(i => (WebGen.docId(i), WebGen.rev2Status(i, docs)))
        .filter(_._2 != "")
        .toDF("doc_id", "status")
        .write.mode(SaveMode.Overwrite).parquet(goldenWebDeltaPath(sf))
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the planted robots.txt bodies change. Independent of the
    * page format: the robots plant is a pure function of the HOST list,
    * which the url scheme fixes.
    */
  val WebRobotsFormatVersion = 1

  /** Ensure the per-host robots.txt INPUT table (host, robots_txt) for the
    * wild-web crawl exists; returns its path. One row per host — the shape
    * a production crawler's robots cache has at any corpus size (hosts are
    * orders of magnitude fewer than pages).
    */
  def ensureWebRobots(spark: SparkSession, sf: String): String = synchronized {
    val path = webRobotsPath(sf)
    val marker = Paths.get(path, s"_FORMAT_v$WebRobotsFormatVersion")
    if (!exists(path) || !Files.exists(marker)) {
      import spark.implicits._
      WebGen.hosts.map(h => (h, WebGen.robotsTxt(h)))
        .toDF("host", "robots_txt")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(path)
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the planted sitemap bodies change. Depends on the LISTING
    * rules (url scheme, DupStride, omission/frontier plant), not on page
    * content — page-format bumps don't invalidate it.
    */
  val WebSitemapsFormatVersion = 1

  /** Ensure the fetched-sitemaps INPUT table (host, path, xml) for the
    * wild-web crawl exists; returns its path. One row per sitemap FILE —
    * ~a handful per host at any corpus size, but each body's entry count
    * grows with the host's page count, so generation is one task per file
    * (each regenerating only its own host's id arithmetic — no page HTML
    * is rendered).
    */
  def ensureWebSitemaps(spark: SparkSession, sf: String): String = synchronized {
    val path = webSitemapsPath(sf)
    val marker = Paths.get(path, s"_FORMAT_v$WebSitemapsFormatVersion")
    if (!exists(path) || !Files.exists(marker)) {
      import spark.implicits._
      val docs = WebGen.specFor(sf).docs.toLong
      val files = WebGen.sitemapFiles
      spark.createDataset(files).repartition(files.size)
        .map { case (h, p) => (h, p, WebGen.sitemapXml(h, p, docs)) }
        .toDF("host", "path", "xml")
        .write.mode(SaveMode.Overwrite).parquet(path)
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Bump when the WARC archive layout changes (record rendering or the
    * pages-per-file packing). Coupled to the page format: the archived HTML
    * must stay byte-equal to the pages table the oracle reads.
    */
  val WebWarcFormatVersion = 1
  val WarcPagesPerFile = 512

  /** Ensure the crawl is ALSO materialized as WARC archive files (the
    * interchange format real crawls ship in): `WarcPagesPerFile` records
    * per `.warc` file, rendered by [[graft.sources.Warc.renderRecord]] from
    * the SAME per-doc generator the parquet pages table uses — so the
    * range-split reader's output must reproduce that table byte for byte.
    * The write is distributed: one task per archive file, each regenerating
    * its own page range (no-cache contract as every web ensure) and
    * streaming records through the task-local Hadoop FS.
    */
  def ensureWarc(spark: SparkSession, sf: String): String = synchronized {
    ensureWeb(spark, sf)
    val path = webWarcPath(sf)
    val marker = Paths.get(path,
      s"_FORMAT_v${WebFormatVersion}_$WebWarcFormatVersion")
    if (!exists(path) || !Files.exists(marker)) {
      import spark.implicits._
      val spec = WebGen.specFor(sf)
      val docs = spec.docs.toLong
      val perFile = WarcPagesPerFile.toLong
      val nFiles = (docs + perFile - 1) / perFile
      spark.range(0, nFiles, 1,
          math.min(nFiles, spark.sparkContext.defaultParallelism * 2L).toInt)
        .map { f =>
          val p = new org.apache.hadoop.fs.Path(path, f"crawl-$f%05d.warc")
          val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val out = fs.create(p, true)
          try {
            var i = f * perFile
            val hi = math.min((f + 1) * perFile, docs)
            while (i < hi) {
              val page = WebGen.genPage(i, spec)
              out.write(graft.sources.Warc.renderRecord(
                page.doc_id, page.meta.url, page.html))
              i += 1
            }
          } finally out.close()
          f
        }.count()
      Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
      Files.write(marker, Array.empty[Byte])
    }
    path
  }

  /** Scale-factor name from a test-data dir like `/root/testdata/sf0.01`. */
  def sfName(sfDir: String): String = {
    val base = Paths.get(sfDir).getFileName.toString
    if (base.startsWith("sf")) base else "sf0.01"
  }
}

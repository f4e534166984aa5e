package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.oracle.OpsGolden
import graft.pipeline.{Extraction, TableIO, WebExtraction}
import graft.plans.{ExtractDocs, TaskLineage}
import scala.jdk.CollectionConverters._
import graft.ops.{TextOps, Dedup, Similarity, Multimodal, Packing, Sketches, UrlOps, Retrieval, Graph}

/** Driver contract — see SURVEY.md §7 + SPEC.md.
  *
  * Two query families:
  *  - `x_*`: the extraction engine (north rule) over the self-synthesized
  *    interleaved text+media corpus (FIXTURES.md shape). Their DuckDB oracles
  *    read the ORACLE-generated golden parquet via read_parquet(), so the
  *    driver independently re-checks pipeline == sequential oracle.
  *  - `q_*`: training-data pipeline operators (dedup / similarity / text
  *    analysis) over the driver-provided tables, with ANSI-SQL oracles where
  *    exactly expressible (integer-exact outputs only); LSH/minhash/ANN ops
  *    are non-SQL-expressible → rows-only checks + ScalaTest self-checks.
  */
object SparkEntry {

  /** Shared DuckDB CTE chain for the URL oracles: derives the same
    * deterministic per-doc URL as [[urlDocs]], then restates UrlOps.parse
    * independently in DuckDB string functions. Ends with CTE
    * `w2(doc_id, url_norm, scheme, host, domain)`.
    */
  private val UrlOracleCtes: String =
    "WITH d AS (SELECT doc_id, " +
      "(CASE WHEN doc_id%2=0 THEN 'https' ELSE 'HTTP' END) || '://WWW.' || source || " +
      "CAST(doc_id%7 AS VARCHAR) || " +
      "(CASE WHEN doc_id%3=0 THEN '.CO.UK' WHEN doc_id%3=1 THEN '.example.com' ELSE '.Org' END) || " +
      "(CASE WHEN doc_id%5=0 THEN ':443' WHEN doc_id%5=1 THEN ':8080' ELSE '' END) || " +
      "'/docs/' || CAST(doc_id AS VARCHAR) || " +
      "'?utm_source=feed&b=' || CAST(doc_id%4 AS VARCHAR) || '&a=1#sec' || CAST(doc_id%3 AS VARCHAR) AS url " +
      "FROM documents), " +
    "p AS (SELECT doc_id, split_part(url,'#',1) AS nofrag FROM d), " +
    "q AS (SELECT *, lower(split_part(nofrag,'://',1)) AS scheme, " +
      "split_part(nofrag,'://',2) AS rest FROM p), " +
    "r AS (SELECT *, split_part(split_part(rest,'/',1),'?',1) AS hostport, " +
      "substr(rest, length(split_part(split_part(rest,'/',1),'?',1))+1) AS pathquery FROM q), " +
    "s AS (SELECT *, split_part(pathquery,'?',1) AS path, " +
      "CASE WHEN position('?' IN pathquery)>0 THEN substr(pathquery, length(split_part(pathquery,'?',1))+2) ELSE '' END AS query, " +
      "lower(split_part(hostport,':',1)) AS host0, " +
      "CASE WHEN position(':' IN hostport)>0 THEN split_part(hostport,':',2) ELSE '' END AS port FROM r), " +
    "t AS (SELECT *, CASE WHEN starts_with(host0,'www.') THEN substr(host0,5) ELSE host0 END AS host FROM s), " +
    "v AS (SELECT *, array_to_string(list_sort(list_filter(string_split(query,'&'), " +
      "x -> x<>'' AND NOT starts_with(x,'utm_') AND NOT starts_with(x,'fbclid=') AND x<>'fbclid' " +
      "AND NOT starts_with(x,'gclid=') AND x<>'gclid')), '&') AS qn, " +
      "string_split(host,'.') AS labels FROM t), " +
    "w AS (SELECT *, len(labels) AS nl, labels[-2]||'.'||labels[-1] AS last2 FROM v), " +
    "w2 AS (SELECT doc_id, scheme||'://'||host|| " +
      "(CASE WHEN port<>'' AND NOT((scheme='https' AND port='443') OR (scheme='http' AND port='80')) THEN ':'||port ELSE '' END)|| " +
      "path||(CASE WHEN qn<>'' THEN '?'||qn ELSE '' END) AS url_norm, scheme, host, " +
      "CASE WHEN nl>=3 AND list_contains(['co.uk','ac.uk','org.uk','com.au','co.jp'], last2) " +
      "THEN labels[-3]||'.'||last2 WHEN nl>=2 THEN last2 ELSE host END AS domain FROM w) "

  private def docsTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The documents table with the deterministic per-doc `url` column that
    * the URL gates parse and [[UrlOracleCtes]] restates in DuckDB.
    */
  private def urlDocs(spark: SparkSession, dir: String): DataFrame =
    docsTable(spark, dir).withColumn("url", concat(
      when(col("doc_id") % 2 === 0, "https").otherwise("HTTP"),
      lit("://WWW."), col("source"), (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 3 === 0, ".CO.UK")
        .when(col("doc_id") % 3 === 1, ".example.com").otherwise(".Org"),
      when(col("doc_id") % 5 === 0, ":443")
        .when(col("doc_id") % 5 === 1, ":8080").otherwise(""),
      lit("/docs/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&b="), (col("doc_id") % 4).cast("string"),
      lit("&a=1#sec"), (col("doc_id") % 3).cast("string")))

  private def embTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** FNV-1a 64-bit hash of a string — the span-token hash for web near-dup
    * (64-bit so token collisions stay negligible at corpus scale; any
    * deterministic hash works because the gate is the planted pair truth,
    * not a re-derivation of the hashes).
    */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Span token for web near-dup: one 64-bit hash per whole extracted span
    * (kind, text, media_ref), shared by the query and ScaleCheck.
    */
  def fnv64Span(sp: graft.model.OutSpan): Long =
    fnv64(sp.kind + "\u001f" + sp.text + "\u001f" + sp.media_ref)

  /** Extraction over the synthesized corpus at the scale matching sfDir,
    * through the one extraction path, the [[graft.plans.ExtractDocs]]
    * node with its PDF kernel.
    */
  private def extracted(spark: SparkSession, sfDir: String): DataFrame =
    ExtractDocs.over(spark, corpusAt(sfDir))

  /** The generated PDF corpus at the scale of testdata dir `sfDir`. */
  private def corpusAt(sfDir: String): String =
    Corpus.corpusPath(Corpus.sfName(sfDir))

  /** The generated wild-web pages table at the scale of `sfDir`. */
  private def webPages(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(Corpus.webPath(Corpus.sfName(sfDir)))

  /** The web pages' extracted spans, one `(doc_id, kind, text, media_ref,
    * ord)` row each: the web extraction [[TableIO.commitWeb]] commits.
    */
  private def webSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Extraction.explodeSpans(WebExtraction.parse(
      webPages(spark, sfDir).select("doc_id", "html").as[(String, String)]))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("x_extract_spans")(spark, "sf0.001")

  /** A gate's data prerequisite: one generated table set under
    * [[Corpus.Root]], the ensure that writes it and every data dir that
    * ensure writes (a dependent truth also writes the pages it is planted
    * in). Oracle-only goldens are skipped at the bench scale, where no
    * oracle reads them and the sequential oracles would dominate the run.
    */
  sealed abstract class Prereq(val dirs: Seq[String], oracleOnly: Boolean = false)(
      make: (SparkSession, String) => Any) {
    def ensure(spark: SparkSession, sfDir: String): Unit =
      if (!oracleOnly || Corpus.sfName(sfDir) != "sf0.1") make(spark, sfDir)
  }

  object Prereq {
    private def bySf(f: (SparkSession, String) => String) =
      (s: SparkSession, dir: String) => f(s, Corpus.sfName(dir))
    private val web = Seq("web", "golden_web")

    case object PdfCorpus extends Prereq(Seq("corpus"))(bySf(Corpus.ensure))
    case object PdfGoldens extends Prereq(Seq("golden_spans", "golden_md", "golden_html",
      "golden_corrected", "golden_totals", "golden_metrics", "golden_htmlmd",
      "golden_htmlmd_atx", "golden_verify"), oracleOnly = true)(bySf(Corpus.ensureGolden))
    case object OpsGoldens extends Prereq(Seq("golden_ops"), oracleOnly = true)(OpsGolden.ensure)
    case object Web extends Prereq(web)(bySf(Corpus.ensureWeb))
    case object WebLinks extends Prereq("golden_web_links" +: web)(bySf(Corpus.ensureWebLinks))
    case object WebMeta extends Prereq("golden_web_meta" +: web)(bySf(Corpus.ensureWebMeta))
    case object WebBlocks extends Prereq("golden_web_blocks" +: web)(bySf(Corpus.ensureWebBlocks))
    case object WebRev2 extends Prereq(Seq("web_rev2", "golden_web_delta") ++ web)(
      bySf(Corpus.ensureWebRev2))
    case object WebRobots extends Prereq(Seq("web_robots"))(bySf(Corpus.ensureWebRobots))
    case object WebSitemaps extends Prereq(Seq("web_sitemaps"))(bySf(Corpus.ensureWebSitemaps))
    case object WebWarc extends Prereq("web_warc" +: web)(bySf(Corpus.ensureWarc))
  }
  import Prereq._

  /** One correctness gate: a query over a testdata dir, the DuckDB-runnable
    * oracle SQL its dumped output is re-checked with, and the data its
    * query and oracle read. Oracle column names/types match the query's
    * output exactly (integer-exact expressions only; see the query-family
    * note above).
    */
  final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
      oracle: String, needs: Seq[Prereq]) {
    /** Materializes the declared prerequisites, then runs the query. */
    def apply(spark: SparkSession, sfDir: String): DataFrame = {
      needs.foreach(_.ensure(spark, sfDir))
      run(spark, sfDir)
    }
  }

  object Gate {
    def of(name: String, oracle: String, needs: Prereq*)(
        run: (SparkSession, String) => DataFrame): Gate =
      Gate(name, run, oracle, needs)
  }

  /** Oracle that selects `cols` unchanged from a golden parquet written at
    * the gate scale, sf0.01.
    */
  private def fromGolden(golden: String, cols: String): String =
    s"SELECT $cols FROM read_parquet('${Corpus.Root}/$golden/sf0.01/*.parquet')"

  /** [[fromGolden]] over one [[graft.oracle.OpsGolden]] output. */
  private def fromOpsGolden(name: String, cols: String): String =
    s"SELECT $cols FROM read_parquet('${OpsGolden.path("sf0.01", name)}/*.parquet')"

  /** `x_extract_spans`, registered again under the custom-node name. */
  private val extractSpans =
    Gate.of("x_extract_spans",
      fromGolden("golden_spans", "doc_id, kind, text, media_ref, ord"), PdfCorpus, PdfGoldens) { (s, dir) =>
      Extraction.explodeSpans(extracted(s, dir))
    }

  /** Every gate once, each query next to its oracle. */
  val gates: Seq[Gate] = Seq(
    // ---- extraction engine (north rule) --------------------------------
    extractSpans,
    // the same spans under the custom-node name, gated by the same
    // golden-spans oracle
    extractSpans.copy(name = "x_extract_spans_custom"),
    Gate.of("x_extract_markdown", fromGolden("golden_md", "doc_id, markdown"), PdfCorpus, PdfGoldens) { (s, dir) =>
      extracted(s, dir).select(col("doc_id"), col("markdown"))
    },
    Gate.of("x_extract_html", fromGolden("golden_html", "doc_id, html"), PdfCorpus, PdfGoldens) { (s, dir) =>
      extracted(s, dir).select(col("doc_id"), col("html"))
    },
    // post-extraction correction cascade over the doc markdown (the CLI-path
    // ordering, batch_processor.py:477–482); LLM boundary disabled → regex only
    Gate.of("x_corrected_markdown",
      fromGolden("golden_corrected", "doc_id, corrected_md, regex_fired, edit_est"), PdfCorpus, PdfGoldens) { (s, dir) =>
      import s.implicits._
      extracted(s, dir).select(col("doc_id"), col("markdown")).as[(String, String)]
        .map { case (id, md) =>
          val r = graft.parse.Corrector.correct(md)
          // edit_est: the gemini_corrector.py:438 estimator over the regex
          // correction (the LLM boundary is identity in the rebuild)
          (id, r.corrected, r.regexFired.toLong,
            graft.parse.Corrector.editEstimate(md, r.corrected).toLong)
        }
        .toDF("doc_id", "corrected_md", "regex_fired", "edit_est")
    },
    // html→markdown round-trip (html_generator.py:585–637) over the extracted
    // html surface; golden computed by the sequential oracle
    Gate.of("x_html_to_markdown", fromGolden("golden_htmlmd", "doc_id, md_from_html"), PdfCorpus, PdfGoldens) { (s, dir) =>
      import s.implicits._
      extracted(s, dir).select(col("doc_id"), col("html")).as[(String, String)]
        .map { case (id, html) => (id, graft.parse.HtmlText.htmlToMarkdown(html)) }
        .toDF("doc_id", "md_from_html")
    },
    // html→markdown via the reference's PRIMARY markdownify-ATX path
    // (html_generator.py:599–612), dialect-implemented (markdownify not
    // installable here); golden computed by the sequential oracle
    Gate.of("x_html_to_markdown_atx",
      fromGolden("golden_htmlmd_atx", "doc_id, md_from_html_atx"), PdfCorpus, PdfGoldens) { (s, dir) =>
      import s.implicits._
      extracted(s, dir).select(col("doc_id"), col("html")).as[(String, String)]
        .map { case (id, html) => (id, graft.parse.HtmlText.htmlToMarkdownAtx(html)) }
        .toDF("doc_id", "md_from_html_atx")
    },
    // deterministic HTML-format verification (the verify_html_formatting
    // analog, gemini_corrector.py:568–627): five-category lint scored to the
    // reference's JSON output contract; golden computed by the sequential
    // oracle, scalar semantics pinned by HtmlVerifySpec's hand-broken vectors
    Gate.of("x_html_verify",
      fromGolden("golden_verify", "doc_id, n_alignment, n_spacing, n_table, " +
        "n_font_size, n_bold, overall_score, needs_correction, report_json"), PdfCorpus, PdfGoldens) { (s, dir) =>
      import s.implicits._
      extracted(s, dir).select(col("doc_id"), col("html")).as[(String, String)]
        .map { case (id, html) =>
          val r = graft.parse.HtmlVerify.verify(html)
          (id, r.alignmentIssues.size.toLong, r.spacingIssues.size.toLong,
            r.tableIssues.size.toLong, r.fontSizeIssues.size.toLong,
            r.boldIssues.size.toLong, r.overallScore.toLong,
            if (r.needsCorrection) 1L else 0L, r.toJson)
        }
        .toDF("doc_id", "n_alignment", "n_spacing", "n_table", "n_font_size",
          "n_bold", "overall_score", "needs_correction", "report_json")
    },
    // interleaved-payload composition profile: per-doc span-kind counts,
    // media-linking volume and text mass — pure in-row HOFs over the spans
    // array straight off the extraction node, ZERO shuffle (the analytics
    // a mixed text+media corpus owner reads before choosing decode budget)
    Gate.of("x_span_stats",
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(count(*) FILTER (WHERE media_ref != '') AS BIGINT) AS n_media, " +
        "CAST(count(DISTINCT kind) AS BIGINT) AS n_kinds, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        s"FROM read_parquet('${Corpus.Root}/golden_spans/sf0.01/*.parquet') GROUP BY 1", PdfCorpus, PdfGoldens) { (s, dir) =>
      extracted(s, dir).select(col("doc_id"),
        size(col("spans")).cast("long").as("n_spans"),
        size(filter(col("spans"), x => x.getField("media_ref") =!= ""))
          .cast("long").as("n_media"),
        size(array_distinct(transform(col("spans"), x => x.getField("kind"))))
          .cast("long").as("n_kinds"),
        aggregate(col("spans"), lit(0L),
          (acc, x) => acc + length(x.getField("text"))).as("sum_text_chars"))
    },
    Gate.of("x_extract_totals",
      fromGolden("golden_totals", "total_docs, total_spans, total_failures, avg_conf_pm"), PdfCorpus, PdfGoldens) { (s, dir) =>
      extracted(s, dir).agg(
        count(lit(1)).cast("long").as("total_docs"),
        sum(size(col("spans"))).cast("long").as("total_spans"),
        sum(size(filter(col("spans"), x => x.getField("kind") === "error")))
          .cast("long").as("total_failures"),
        floor(sum(col("conf_pm")) / count(lit(1))).cast("long").as("avg_conf_pm"))
    },
    // deterministic corpus totals (pages parsed, spans emitted, failures,
    // confidence mass, price) counted by the node while it parses: ONE pass
    // to the noop sink, its per-task lineage deduplicated by partition id
    // exactly as a commit's metrics table is
    Gate.of("x_extract_metrics",
      fromGolden("golden_metrics",
        "total_pages, total_spans, total_failures, sum_conf_pm, price_krw"), PdfCorpus, PdfGoldens) { (s, dir) =>
      val lineage = s.sparkContext.collectionAccumulator[TaskLineage]("x_extract_metrics")
      ExtractDocs.of(Extraction.readInput(s, corpusAt(dir)).toDF(), Some(lineage))
        .write.format("noop").mode("overwrite").save()
      Extraction.metricsTotals(
        TableIO.lineageMetrics(s, lineage.value.asScala.toSeq, "x_extract_metrics", ""))
    },

    // published bulk-pricing tiers (README.md:227–232) as a per-doc billing
    // rollup: pages per doc are exactly the pages the parser parses
    // (`DocParser.splitPages`), counted in one typed map with no shuffle;
    // tier unit via codegen'd when/otherwise mirroring Extraction.bulkUnitKrw;
    // the oracle recomputes pages INDEPENDENTLY from the raw corpus table
    // (page_break spans), not from any engine output
    Gate.of("x_billing_tiers",
      // pages restates DocParser.splitPages exactly: a page per DISTINCT
      // page-break NUMBER ('page:N' parsed as int, so 'page:1' and 'page: 1'
      // are ONE page), plus the implicit page 1 when any non-break span
      // precedes the first break (or the doc has spans but no breaks at all);
      // docs with zero spans drop out of both sides. A doc with a malformed
      // break number bills as the one failed page the engine makes of it,
      // where this CAST would raise; the corpus plants none
      s"WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM read_parquet('${Corpus.Root}/corpus/sf0.01/*.parquet')), " +
        "brk AS (SELECT doc_id, s.\"offset\" AS off, CAST(trim(CASE WHEN s.text LIKE 'page:%' THEN substr(s.text, 6) ELSE s.text END) AS BIGINT) AS pno FROM sp WHERE s.kind = 'page_break'), " +
        "firstbrk AS (SELECT doc_id, min(off) AS first_off FROM brk GROUP BY doc_id), " +
        "imp AS (SELECT sp.doc_id, CAST(1 AS BIGINT) AS pno FROM sp LEFT JOIN firstbrk f ON sp.doc_id = f.doc_id " +
        "WHERE sp.s.kind <> 'page_break' AND (f.first_off IS NULL OR sp.s.\"offset\" < f.first_off) GROUP BY sp.doc_id), " +
        "allp AS (SELECT doc_id, pno FROM brk UNION SELECT doc_id, pno FROM imp), " +
        "pg AS (SELECT doc_id, CAST(count(DISTINCT pno) AS BIGINT) AS pages FROM allp GROUP BY doc_id) " +
        "SELECT doc_id, pages, " +
        "CAST(CASE WHEN pages >= 1000 THEN 35 WHEN pages >= 500 THEN 40 WHEN pages >= 100 THEN 45 ELSE 50 END AS BIGINT) AS unit_krw, " +
        "CAST(pages * (CASE WHEN pages >= 1000 THEN 35 WHEN pages >= 500 THEN 40 WHEN pages >= 100 THEN 45 ELSE 50 END) AS BIGINT) AS price_krw " +
        "FROM pg", PdfCorpus) { (s, dir) =>
      import s.implicits._
      Extraction.readInput(s, corpusAt(dir))
        .map(d => (d.doc_id, graft.parse.DocParser.splitPages(d.spans).size.toLong))
        .toDF("doc_id", "pages")
        .where(col("pages") > 0)
        .withColumn("unit_krw",
          when(col("pages") >= 1000, 35L)
            .when(col("pages") >= 500, 40L)
            .when(col("pages") >= 100, 45L)
            .otherwise(50L))
        .withColumn("price_krw", (col("pages") * col("unit_krw")).cast("long"))
    },

    // raw-HTML main-content extraction (north rule: "HTML boilerplate strip
    // … DOM heuristics — text-density, link-density, tag-depth") over the
    // wild-web pages table: block segmentation + integer feature scoring +
    // jusText-style context smoothing + media-span linking
    // (parse/MainContent.scala), run by the ExtractDocs node's web kernel in
    // ONE zero-shuffle pass — the same plan TableIO.commitWeb writes. The
    // oracle is the generator's PLANTED truth (corpus/WebGen.scala) — decided
    // at layout time, fully independent of the extractor.
    Gate.of("x_web_main_content",
      // the golden_web parquet is the generator's PLANTED truth (written by
      // Corpus.ensureWeb from WebGen.genPage's layout decisions), NOT an
      // extractor output — the strongest oracle shape in the repo: the
      // distributed extractor must reconstruct the plant from raw markup
      fromGolden("golden_web", "doc_id, kind, text, media_ref, ord"), Web) { (s, dir) =>
      webSpans(s, dir)
    },
    // per-page content-shape rollup (span/heading/media counts + content
    // mass) computed IN the same per-page map — the acceptance stats a
    // boilerplate-strip stage reports at corpus scale without a shuffle
    Gate.of("x_web_content_stats",
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(count(*) FILTER (WHERE kind = 'heading') AS BIGINT) AS n_heading, " +
        "CAST(count(*) FILTER (WHERE kind = 'media') AS BIGINT) AS n_media, " +
        "CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS main_chars " +
        s"FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') GROUP BY doc_id", Web) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (id, html) =>
          val spans = graft.parse.MainContent.extract(html)
          (id, spans.size.toLong,
            spans.count(_.kind == graft.parse.MainContent.KindHeading).toLong,
            spans.count(_.kind == graft.parse.MainContent.KindMedia).toLong,
            spans.map(_.text.length.toLong).sum)
        }
        .toDF("doc_id", "n_spans", "n_heading", "n_media", "main_chars")
    },
    // outlink extraction over the raw crawl — the frontier primitive: every
    // <a href> with its anchor text, content/chrome attribution (the block-
    // keep decision of the SAME classifier x_web_main_content pins) and
    // page-global encounter order. Oracle = the generator's PLANTED link
    // truth (decided at layout time). Zero-shuffle per-page map.
    Gate.of("x_web_outlinks",
      // the golden_web_links parquet is the generator's PLANTED outlink truth
      // (each <a href> recorded at layout time with its chrome/content
      // attribution) — the extractor must reconstruct it from raw markup
      fromGolden("golden_web_links", "doc_id, href, text, from_content, nofollow, ord"), WebLinks) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .flatMap { case (id, html) =>
          graft.parse.MainContent.outlinks(html)
            .map(l => (id, l.href, l.text, l.from_content, l.nofollow, l.order))
        }
        .toDF("doc_id", "href", "text", "from_content", "nofollow", "ord")
    },
    // crawl-frontier rollup over the extracted outlinks: per target href,
    // total references, CONTENT references (the editorial-signal count a
    // scheduler ranks by — chrome links repeat sitewide and carry none),
    // FOLLOWED references (rel=nofollow is the publisher explicitly
    // disclaiming endorsement — schedulers and rankers both exclude them)
    // and distinct referring pages. Two-level aggregation: partial-combined
    // (href, doc_id) pre-aggregate first, so the second shuffle moves one
    // row per (href, page) — never one per anchor — and the distinct-count
    // needs no expand at corpus scale.
    Gate.of("q_web_frontier",
      // frontier rollup over the same planted truth: per-anchor counts reduce
      // to count(*) because every planted anchor is one reference
      "SELECT href, CAST(count(*) AS BIGINT) AS n_refs, " +
        "CAST(count(*) FILTER (WHERE from_content) AS BIGINT) AS n_content_refs, " +
        "CAST(count(*) FILTER (WHERE NOT nofollow) AS BIGINT) AS n_follow_refs, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_links/sf0.01/*.parquet') GROUP BY href", WebLinks) { (s, dir) =>
      import s.implicits._
      val perPage = webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .flatMap { case (id, html) =>
          graft.parse.MainContent.outlinks(html)
            .map(l => (id, l.href, if (l.from_content) 1L else 0L,
              if (l.nofollow) 0L else 1L))
        }
        .toDF("doc_id", "href", "is_content", "is_follow")
        .groupBy("href", "doc_id")
        .agg(count(lit(1)).as("refs"), sum("is_content").as("content_refs"),
          sum("is_follow").as("follow_refs"))
      perPage.groupBy("href")
        .agg(
          sum("refs").as("n_refs"),
          sum("content_refs").as("n_content_refs"),
          sum("follow_refs").as("n_follow_refs"),
          count(lit(1)).as("n_pages"))
    },

    // incremental RECRAWL delta — the primitive that lets a 10^12-page
    // corpus update without reprocessing: crawl A and crawl B each reduce
    // to (doc_id, md5 of the EXTRACTED span signature) in their own
    // zero-shuffle map (raw markup never crosses a shuffle; chrome churn
    // between crawls is invisible because the signature is post-
    // boilerplate), then ONE full-outer join keyed on doc_id classifies
    // added / removed / changed. At corpus scale both sides sort-merge on
    // doc_id — 48-byte rows — and downstream stages reprocess ONLY the
    // delta. Oracle = the generator's planted revision truth (updated
    // leads, dropped pages, newly published ids, re-posts inheriting their
    // source's change).
    Gate.of("q_web_recrawl_delta",
      // planted recrawl-delta truth (the generator's revision rules: updated
      // leads, dropped pages, new ids, re-posts inheriting source change)
      fromGolden("golden_web_delta", "doc_id, status"), WebRev2) { (s, dir) =>
      import s.implicits._
      val sf = Corpus.sfName(dir)
      val rev2Path = Corpus.webRev2Path(sf)
      def sigs(path: String) =
        s.read.parquet(path)
          .select("doc_id", "html").as[(String, String)]
          .map { case (id, html) =>
            val spans = graft.parse.MainContent.extract(html)
            (id, spans.map(sp => sp.kind + "" + sp.text + "" +
              sp.media_ref).mkString(""))
          }.toDF("doc_id", "sig").select(col("doc_id"), md5(col("sig")).as("sig"))
      val a = sigs(Corpus.webPath(sf)).withColumnRenamed("sig", "sig_a")
      val b = sigs(rev2Path).withColumnRenamed("sig", "sig_b")
      a.join(b, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("sig_a").isNull, "added")
            .when(col("sig_b").isNull, "removed")
            .when(col("sig_a") =!= col("sig_b"), "changed")
            .otherwise("").as("status"))
        .where(col("status") =!= "")
    },

    // soft-404 detection — error pages served as HTTP 200 under full normal
    // chrome, which no status-code filter can drop: the signal only exists
    // AFTER boilerplate removal (≤ 4 extracted spans, one of them the
    // canonical not-found heading). The gate pins the decision for EVERY
    // page (false positives and false negatives both hash-break it),
    // including re-posts of error pages whose chrome differs entirely.
    // Zero-shuffle per-page map; oracle = the generator's planted flag.
    Gate.of("q_web_soft404",
      // planted soft-404 flag per page (error pages and their re-posts)
      fromGolden("golden_web_meta", "doc_id, soft404"), WebMeta) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (id, html) =>
          (id, graft.parse.MainContent.isSoftError(
            graft.parse.MainContent.extract(html)))
        }
        .toDF("doc_id", "soft404")
    },

    // BLOCK-segmentation gate: every block the segmenter produces, with its
    // innermost block tag, keep decision, image count and normalized text —
    // against the generator's planted block truth (recorded at layout time,
    // independent of the extractor). The span gate cannot see a bug that
    // merges or splits CHROME blocks (chrome is dropped either way); this
    // one pins the lexer/boundary/normal-form layer for every block on the
    // page. Same zero-shuffle per-page map shape as extraction.
    Gate.of("x_web_blocks",
      // the golden_web_blocks parquet is the generator's PLANTED segmentation
      // truth (every block recorded at layout time with tag / keep / image
      // count / normalized text) — the extractor must reconstruct it from raw
      // markup, block for block
      fromGolden("golden_web_blocks", "doc_id, ord, tag, is_content, n_media, text"), WebBlocks) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .flatMap { case (id, html) =>
          val bs = graft.parse.MainContent.blocks(html)
          val keep = graft.parse.MainContent.finalKeep(bs)
          bs.indices.map { i =>
            (id, i, bs(i).tag, keep(i), bs(i).media.size, bs(i).text)
          }
        }
        .toDF("doc_id", "ord", "tag", "is_content", "n_media", "text")
    },
    // extraction-quality EVAL: a pure length-threshold baseline (keep any
    // block with >= GoodLen non-space chars — the naive strip every DOM-
    // heuristic extractor is measured against) scored per host against the
    // PLANTED block labels as precision / recall / F1 in integer per-mille.
    // The numbers are non-trivial by construction on BOTH error axes: the
    // baseline keeps the trailing archive link farms (planted long chrome
    // past GoodLen on a third of fresh pages -> FP; the extractor drops
    // them on link density alone) and drops short connectors, captions and
    // media figures (planted short/empty content -> FN) — exactly the
    // cases the full extractor's link-density, depth and smoothing rules
    // exist for (its own keep decision equals the labels, pinned by
    // x_web_blocks). Plan: zero-shuffle segmentation map,
    // predictions ⋈ labels sort-merge on (doc_id, ord) — the honest eval
    // shape; labels are external — then an 8-row host rollup with map-side
    // combine. Integer `div` keeps the scores bit-stable at any scale.
    Gate.of("q_web_extract_eval",
      // eval truth in pure SQL: the baseline is length-only, so it is fully
      // computable from the PLANTED normal-form text (x_web_blocks pins the
      // engine's segmentation to exactly that text); `//` is DuckDB integer
      // division, matching the engine's `div`
      "WITH b AS (SELECT m.doc_id, regexp_extract(m.url, '^https://([^/]+)', 1) AS host, " +
        "t.is_content, length(replace(t.text, ' ', '')) >= 80 AS base_keep " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_blocks/sf0.01/*.parquet') t " +
        s"JOIN read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') m USING (doc_id)), " +
        "c AS (SELECT host, CAST(count(*) AS BIGINT) AS n_blocks, " +
        "CAST(count(*) FILTER (WHERE base_keep AND is_content) AS BIGINT) AS tp, " +
        "CAST(count(*) FILTER (WHERE base_keep AND NOT is_content) AS BIGINT) AS fp, " +
        "CAST(count(*) FILTER (WHERE NOT base_keep AND is_content) AS BIGINT) AS fn, " +
        "CAST(count(*) FILTER (WHERE NOT base_keep AND NOT is_content) AS BIGINT) AS tn " +
        "FROM b GROUP BY host) " +
        "SELECT host, n_blocks, tp, fp, fn, tn, " +
        "CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000 * tp) // (tp + fp) END AS BIGINT) AS precision_pm, " +
        "CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000 * tp) // (tp + fn) END AS BIGINT) AS recall_pm, " +
        "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2000 * tp) // (2 * tp + fp + fn) END AS BIGINT) AS f1_pm " +
        "FROM c", WebMeta, WebBlocks) { (s, dir) =>
      import s.implicits._
      val sf = Corpus.sfName(dir)
      val seg = webPages(s, dir)
        .select("doc_id", "url", "html").as[(String, String, String)]
        .flatMap { case (id, url, html) =>
          val host = graft.ops.Robots.hostPath(url)._1
          graft.parse.MainContent.blocks(html).zipWithIndex.map { case (b, i) =>
            (id, i, host,
              b.text.count(!_.isWhitespace) >= graft.parse.MainContent.GoodLen)
          }
        }
        .toDF("doc_id", "ord", "host", "base_keep")
      val labels = s.read.parquet(Corpus.goldenWebBlocksPath(sf))
        .select("doc_id", "ord", "is_content")
      seg.join(labels, Seq("doc_id", "ord"))
        .groupBy("host")
        .agg(
          count(lit(1)).as("n_blocks"),
          sum(when(col("base_keep") && col("is_content"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("base_keep") && !col("is_content"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("base_keep") && col("is_content"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("base_keep") && !col("is_content"), 1L).otherwise(0L)).as("tn"))
        .withColumn("precision_pm", expr(
          "CASE WHEN tp + fp = 0 THEN 0L ELSE (1000 * tp) div (tp + fp) END"))
        .withColumn("recall_pm", expr(
          "CASE WHEN tp + fn = 0 THEN 0L ELSE (1000 * tp) div (tp + fn) END"))
        .withColumn("f1_pm", expr(
          "CASE WHEN 2 * tp + fp + fn = 0 THEN 0L ELSE (2000 * tp) div (2 * tp + fp + fn) END"))
    },
    // eval-curve variant: the SAME length-threshold baseline swept over
    // four thresholds (40 / 80 / 120 / 160 non-space chars) corpus-wide in
    // ONE pass — segment once, join labels once, then explode the
    // threshold list per joined row so all four operating points aggregate
    // in a single map-side-combined rollup. At 100 TB this is the shape
    // that matters: a tuning sweep costs one corpus scan, not one job per
    // candidate threshold (the explode multiplies only the 3-int join
    // output, never the HTML). The curve is monotone by construction
    // (raising the threshold can only drop blocks: fp falls, fn rises),
    // which the oracle pins exactly.
    Gate.of("q_web_eval_curve",
      // the threshold sweep over the same planted truth: one CTE, a VALUES
      // cross join for the four operating points, identical integer score
      // arithmetic
      "WITH b AS (SELECT t.is_content, length(replace(t.text, ' ', '')) AS nws " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_blocks/sf0.01/*.parquet') t), " +
        "c AS (SELECT th.threshold, CAST(count(*) AS BIGINT) AS n_blocks, " +
        "CAST(count(*) FILTER (WHERE nws >= th.threshold AND is_content) AS BIGINT) AS tp, " +
        "CAST(count(*) FILTER (WHERE nws >= th.threshold AND NOT is_content) AS BIGINT) AS fp, " +
        "CAST(count(*) FILTER (WHERE nws < th.threshold AND is_content) AS BIGINT) AS fn, " +
        "CAST(count(*) FILTER (WHERE nws < th.threshold AND NOT is_content) AS BIGINT) AS tn " +
        "FROM b CROSS JOIN (VALUES (40), (80), (120), (160)) th(threshold) GROUP BY th.threshold) " +
        "SELECT CAST(threshold AS INTEGER) AS threshold, n_blocks, tp, fp, fn, tn, " +
        "CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000 * tp) // (tp + fp) END AS BIGINT) AS precision_pm, " +
        "CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000 * tp) // (tp + fn) END AS BIGINT) AS recall_pm, " +
        "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2000 * tp) // (2 * tp + fp + fn) END AS BIGINT) AS f1_pm " +
        "FROM c", WebBlocks) { (s, dir) =>
      import s.implicits._
      val sf = Corpus.sfName(dir)
      val seg = webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .flatMap { case (id, html) =>
          graft.parse.MainContent.blocks(html).zipWithIndex.map { case (b, i) =>
            (id, i, b.text.count(!_.isWhitespace))
          }
        }
        .toDF("doc_id", "ord", "nws")
      val labels = s.read.parquet(Corpus.goldenWebBlocksPath(sf))
        .select("doc_id", "ord", "is_content")
      seg.join(labels, Seq("doc_id", "ord"))
        .withColumn("threshold",
          explode(array(lit(40), lit(80), lit(120), lit(160))))
        .withColumn("base_keep", col("nws") >= col("threshold"))
        .groupBy("threshold")
        .agg(
          count(lit(1)).as("n_blocks"),
          sum(when(col("base_keep") && col("is_content"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("base_keep") && !col("is_content"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("base_keep") && col("is_content"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("base_keep") && !col("is_content"), 1L).otherwise(0L)).as("tn"))
        .withColumn("precision_pm", expr(
          "CASE WHEN tp + fp = 0 THEN 0L ELSE (1000 * tp) div (tp + fp) END"))
        .withColumn("recall_pm", expr(
          "CASE WHEN tp + fn = 0 THEN 0L ELSE (1000 * tp) div (tp + fn) END"))
        .withColumn("f1_pm", expr(
          "CASE WHEN 2 * tp + fp + fn = 0 THEN 0L ELSE (2000 * tp) div (2 * tp + fp + fn) END"))
    },
    // site-TEMPLATE mining — the cross-page boilerplate discovery that
    // per-page DOM heuristics cannot do: a text block whose exact normal
    // form recurs on ≥ 5 pages of the same host is sitewide furniture
    // (footers, nav bars, promo boxes) or formulaic copy. Two-phase
    // aggregate: per-(host, text, doc_id) partial counts map-side-combine
    // first, so the page-count distinct needs no expand; only distinct
    // block texts cross the shuffle, never one row per occurrence. At
    // corpus scale the first exchange would key on md5(text) and re-join
    // the few surviving templates for their text — noted, not needed at
    // gate scale. n_content_blocks exposes the miner's classic failure
    // mode (formulaic CONTENT — captions, connectors — recurs too), which
    // the planted truth pins exactly.
    Gate.of("q_web_templates",
      // template rollup over the same planted truth: per-(host, block text)
      // page counts over ≥ 5 pages, with the content-block tally the plant
      // decided at layout time
      s"WITH b AS (SELECT doc_id, text, is_content FROM read_parquet('${Corpus.Root}/golden_web_blocks/sf0.01/*.parquet') WHERE text <> ''), " +
        "m AS (SELECT doc_id, split_part(replace(url, 'https://', ''), '/', 1) AS host " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet')), " +
        "p AS (SELECT m.host, b.text, b.doc_id, count(*) AS nb, " +
        "count(*) FILTER (WHERE b.is_content) AS nc " +
        "FROM b JOIN m USING (doc_id) GROUP BY 1, 2, 3) " +
        "SELECT host, text, CAST(count(*) AS BIGINT) AS n_pages, " +
        "CAST(sum(nb) AS BIGINT) AS n_blocks, " +
        "CAST(sum(nc) AS BIGINT) AS n_content_blocks " +
        "FROM p GROUP BY host, text HAVING count(*) >= 5", WebMeta, WebBlocks) { (s, dir) =>
      import s.implicits._
      val blocks = webPages(s, dir)
        .select("doc_id", "url", "html").as[(String, String, String)]
        .flatMap { case (id, u, html) =>
          val host = u.stripPrefix("https://").takeWhile(_ != '/')
          val bs = graft.parse.MainContent.blocks(html)
          val keep = graft.parse.MainContent.finalKeep(bs)
          bs.indices.iterator.filter(bs(_).text.nonEmpty).map { i =>
            (host, bs(i).text, id, if (keep(i)) 1L else 0L)
          }
        }
        .toDF("host", "text", "doc_id", "is_content")
      blocks
        .groupBy("host", "text", "doc_id")
        .agg(count(lit(1)).as("b"), sum("is_content").as("c"))
        .groupBy("host", "text")
        .agg(count(lit(1)).as("n_pages"), sum("b").as("n_blocks"),
          sum("c").as("n_content_blocks"))
        .where(col("n_pages") >= 5)
    },

    // per-HOST source datasheet — the per-domain review table a corpus
    // builder reads before admitting a source (page/noindex counts, span
    // and content mass, media density, editorial-link yield). ONE typed map
    // computes meta + extraction + outlinks together per page (the page is
    // parsed once, not three times), reduces each page to 8 integers, and
    // the only exchange is a map-side-combined groupBy over hosts —
    // cardinality ~domains, never ~pages, so the rollup costs one scan and
    // a trivial shuffle at any corpus size. Oracle = planted span + link +
    // metadata truths joined per page and rolled up per host in DuckDB.
    Gate.of("q_web_host_stats",
      // per-host rollup of the three planted truths (spans ⋈ links ⋈ meta per
      // page, then host aggregate) — every generated page plants at least one
      // span and one chrome link, so the inner joins lose nothing
      "WITH m AS (SELECT doc_id, split_part(replace(url, 'https://', ''), '/', 1) AS host, noindex " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet')), " +
        "s AS (SELECT doc_id, count(*) AS n_spans, " +
        "count(*) FILTER (WHERE kind = 'media') AS n_media, " +
        "coalesce(sum(length(text)), 0) AS chars " +
        s"FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') GROUP BY doc_id), " +
        "l AS (SELECT doc_id, count(*) FILTER (WHERE from_content) AS n_content, " +
        "count(*) FILTER (WHERE NOT nofollow) AS n_follow " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_links/sf0.01/*.parquet') GROUP BY doc_id) " +
        "SELECT m.host, CAST(count(*) AS BIGINT) AS n_pages, " +
        "CAST(count(*) FILTER (WHERE m.noindex) AS BIGINT) AS n_noindex, " +
        "CAST(sum(s.n_spans) AS BIGINT) AS n_spans, " +
        "CAST(sum(s.n_media) AS BIGINT) AS n_media, " +
        "CAST(sum(s.chars) AS BIGINT) AS main_chars, " +
        "CAST(sum(l.n_content) AS BIGINT) AS n_content_links, " +
        "CAST(sum(l.n_follow) AS BIGINT) AS n_follow_links " +
        "FROM m JOIN s USING (doc_id) JOIN l USING (doc_id) GROUP BY m.host", WebLinks, WebMeta) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "url", "html").as[(String, String, String)]
        .map { case (_, u, html) =>
          val host = u.stripPrefix("https://").takeWhile(_ != '/')
          val m = graft.parse.MainContent.pageMeta(html)
          val spans = graft.parse.MainContent.extract(html)
          val links = graft.parse.MainContent.outlinks(html)
          (host, 1L, if (m.noindex) 1L else 0L, spans.size.toLong,
            spans.count(_.kind == graft.parse.MainContent.KindMedia).toLong,
            spans.map(_.text.length.toLong).sum,
            links.count(_.from_content).toLong,
            links.count(!_.nofollow).toLong)
        }
        .toDF("host", "pages", "noindex", "spans", "media", "chars",
          "content_links", "follow_links")
        .groupBy("host")
        .agg(
          sum("pages").as("n_pages"),
          sum("noindex").as("n_noindex"),
          sum("spans").as("n_spans"),
          sum("media").as("n_media"),
          sum("chars").as("main_chars"),
          sum("content_links").as("n_content_links"),
          sum("follow_links").as("n_follow_links"))
    },

    // the raw-HTML front end through the SAME committed-snapshot/resume
    // machinery as the PDF path (TableIO.commitWeb): snapshot 1 extracts the
    // even-index half of the crawl, snapshot 2 resumes over the full crawl
    // via the committed-skip anti-join — the read-back union must equal the
    // planted truth exactly (each page extracted exactly once, correctly)
    Gate.of("q_web_resume",
      // resume gate: the two-snapshot committed union must equal the SAME
      // planted truth — resume correctness reduces to extraction correctness
      fromGolden("golden_web", "doc_id, kind, text, media_ref, ord"), Web) { (s, dir) =>
      Gates.webResumeExtract(s, dir)
    },
    // deterministic totals over the web table's per-partition lineage
    // metrics across both snapshots (pages once, spans planted, 0 failures)
    Gate.of("x_web_metrics",
      // lineage-metrics totals: every page parsed exactly once across the two
      // snapshots (pages == distinct planted doc_ids — every generated page
      // plants at least a headline + paragraph), spans == planted count, zero
      // failures (MainContent.extract is total)
      "SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS total_pages, " +
        "CAST(count(*) AS BIGINT) AS total_spans, " +
        "CAST(0 AS BIGINT) AS total_failures " +
        s"FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet')", Web) { (s, dir) =>
      Gates.webMetricsTotals(s, dir)
    },
    // two-phase AvailableNow streaming ingest of the raw crawl through ONE
    // checkpoint (restart between phases): recovered source offsets skip
    // phase-1 files, the committed-doc anti-join skips phase-1 pages — the
    // read-back committed table must equal the planted truth exactly
    Gate.of("q_stream_web_extract",
      // streaming ingest reduces to the same planted truth: exactly-once per
      // page across the restart, correct extraction per page
      fromGolden("golden_web", "doc_id, kind, text, media_ref, ord"), Web) { (s, dir) =>
      Gates.streamWebExtract(s, dir)
    },
    // extract-then-dedup composition: the generator plants content
    // duplicates under DIFFERENT chrome (every 101st page re-posts
    // another page's article), so raw-HTML hashing can never pair them —
    // dedup keyed on the EXTRACTED span signature catches every plant.
    // This is why boilerplate removal precedes dedup in every corpus
    // pipeline (C4/CCNet); plan shape = the per-page map + Dedup.exact's
    // one map-side-combined shuffle of (md5, doc_id), no text moves
    Gate.of("q_web_content_dedup",
      // extract-then-dedup over the planted truth: per-page span signature
      // (kind/text/media_ref joined by control chars in ord order) → md5
      // groups; the planted re-posts land in n_docs=2 groups
      "WITH sig AS (SELECT doc_id, string_agg(kind || chr(31) || text || chr(31) || media_ref, chr(30) ORDER BY ord) AS s " +
        s"FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') GROUP BY doc_id) " +
        "SELECT md5(s) AS content_md5, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id " +
        "FROM sig GROUP BY md5(s)", Web) { (s, dir) =>
      import s.implicits._
      val sigs = webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (id, html) =>
          val spans = graft.parse.MainContent.extract(html)
          (id, spans.map(sp => sp.kind + "\u001f" + sp.text + "\u001f" + sp.media_ref)
            .mkString("\u001e"))
        }.toDF("doc_id", "text")
      graft.ops.Dedup.exact(sigs)
    },
    // extract-then-NEAR-dup: the generator's NEAR re-posts (editor note
    // prepended, trailing paragraph dropped) defeat BOTH raw-HTML hashing
    // and exact content dedup -- only similarity over the extracted span
    // sequence pairs them. Tokens are 64-bit hashes of whole spans, so
    // 2-shingles are consecutive-span pairs: document structure, not
    // vocabulary (pooled sentences shared across fresh pages contribute
    // nothing unless two WHOLE consecutive spans match). The pair set is
    // the planted duplicate truth exactly -- exact re-posts at Jaccard
    // 1000, near re-posts well above the 400 pm floor, fresh pairs ~0.
    // Plan = one zero-shuffle extract map + Dedup.ngramJaccardPairs'
    // df-capped posting lists (deterministic, unlike LSH banding -- a
    // planted pair can never be missed by band luck).
    Gate.of("q_web_near_dup",
      // planted duplicate-pair truth: every re-post page (exact AND near)
      // paired with its source -- the engine's extract-then-near-dup must
      // recover exactly this set (no band luck: the posting-list path is
      // deterministic)
      "SELECT CAST(substr(dup_src, 5) AS BIGINT) AS a, CAST(substr(doc_id, 5) AS BIGINT) AS b " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') WHERE dup_kind <> ''", WebMeta) { (s, dir) =>
      import s.implicits._
      val sigs = webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (id, html) =>
          val toks = graft.parse.MainContent.extract(html).map(sp =>
            java.lang.Long.toHexString(fnv64Span(sp)))
          (id.stripPrefix("web-").toLong, toks.mkString(" "))
        }.toDF("doc_id", "text")
      graft.ops.Dedup.ngramJaccardPairs(sigs, n = 2, minJaccardPm = 400)
        .select("a", "b")
    },
    // page-metadata extraction from raw markup (head title, robots-noindex,
    // rel=canonical, rel=prev/next) -- the pre-extraction signals an
    // index/corpus pipeline reads before any content work. Oracle = the
    // generator's planted metadata truth, for EVERY page (non-members must
    // yield empty prev/next -- a false positive hash-breaks the gate). Same
    // zero-shuffle per-page map shape as extraction.
    Gate.of("x_web_meta",
      // planted page-metadata truth (head title / robots-noindex / canonical
      // / pagination links) — non-members carry empty prev/next, so the gate
      // pins absence as hard as presence
      fromGolden("golden_web_meta", "doc_id, title, noindex, canonical, prev_url, next_url"), WebMeta) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (id, html) =>
          val m = graft.parse.MainContent.pageMeta(html)
          (id, m.title, m.noindex, m.canonical, m.prev, m.next)
        }
        .toDF("doc_id", "title", "noindex", "canonical", "prev_url", "next_url")
    },
    // noindex gate rollup: corpus admission accounting BEFORE extraction --
    // pages honored out of the corpus vs pages kept, and the span mass the
    // kept set yields. One map computes meta + extraction together (a
    // noindex page's content is never parsed: the robots directive is the
    // publisher's opt-out, honored before any content work).
    Gate.of("q_web_indexable",
      // noindex admission rollup: planted flags x planted span counts
      s"WITH s AS (SELECT doc_id, count(*) AS n FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') GROUP BY doc_id) " +
        "SELECT CAST(count(*) AS BIGINT) AS total_pages, " +
        "CAST(count(*) FILTER (WHERE noindex) AS BIGINT) AS n_noindex, " +
        "CAST(count(*) FILTER (WHERE NOT noindex) AS BIGINT) AS n_indexable, " +
        "CAST(coalesce(sum(n) FILTER (WHERE NOT noindex), 0) AS BIGINT) AS indexable_spans " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') m JOIN s USING (doc_id)", WebMeta) { (s, dir) =>
      import s.implicits._
      webPages(s, dir)
        .select("doc_id", "html").as[(String, String)]
        .map { case (_, html) =>
          val noindex = graft.parse.MainContent.pageMeta(html).noindex
          val nSpans = if (noindex) 0L
            else graft.parse.MainContent.extract(html).size.toLong
          (1L, if (noindex) 1L else 0L, nSpans)
        }
        .toDF("pages", "noindex", "spans")
        .agg(
          sum("pages").as("total_pages"),
          sum("noindex").as("n_noindex"),
          (sum("pages") - sum("noindex")).as("n_indexable"),
          sum("spans").as("indexable_spans"))
    },
    // RFC 9309 robots admission over the crawl: per-host robots.txt parsed
    // ONCE into a compiled rule group (longest-match, $-anchors, *
    // wildcards, agent-specific groups), the rule table broadcast (one row
    // per host — always the small side at any crawl size), and the verdict
    // evaluated per page URL in a typed map. The oracle restates the
    // PLANTED policies' closed form in pure SQL, fully independent of the
    // parser (ops/Robots.scala, corpus/WebGen.robotsTxt).
    Gate.of("q_web_robots",
      // robots-admission truth in CLOSED FORM: the planted per-host policies
      // (WebGen.robotsTxt) were designed so the graftbot verdict is a pure
      // function of the URL — portal-3's agent-specific group disallows
      // paths ending in 3; other portals disallow ending-7 except the longer
      // Allow rescues ending-77; the repost host is closed except /p/1*.
      // This restates the OUTCOME without parsing a single robots line.
      "WITH p AS (SELECT doc_id, url, " +
        "regexp_extract(url, '^https://([^/]+)', 1) AS host, " +
        "regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path " +
        s"FROM read_parquet('${Corpus.Root}/web/sf0.01/*.parquet')) " +
        "SELECT doc_id, url, " +
        "CASE WHEN host = 'repost-archive.example' THEN path LIKE '/p/1%' " +
        "WHEN host = 'portal-3.law.example' THEN path NOT LIKE '%3' " +
        "ELSE path NOT LIKE '%7' OR path LIKE '%77' END AS allowed FROM p", Web, WebRobots) { (s, dir) =>
      val sf = Corpus.sfName(dir)
      val pages = webPages(s, dir).select("doc_id", "url")
      val robots = s.read.parquet(Corpus.webRobotsPath(sf))
      graft.ops.Robots.gate(pages, robots, "graftbot/1.2")
    },
    // sitemap discovery reconciliation: fetched per-host sitemap files
    // (urlset + one-level sitemapindex, reachable-from-root only,
    // cross-host entries dropped) full-outer joined against the crawl's
    // own url column -- listed-but-uncrawled = frontier, crawled-but-
    // unlisted = orphan. The oracle restates the PLANT's closed form (ids
    // ending in 3 omitted, 9e8-range frontier ids, lastmod = 2025-01-01 +
    // id % 400) without parsing a byte of XML; the planted traps (stale
    // unreferenced file, cross-host entries) flip rows if reachability or
    // host validation leaks (ops/Sitemaps.scala, WebGen.sitemapXml).
    Gate.of("q_web_sitemap",
      // sitemap-reconcile truth in CLOSED FORM: crawled = the pages table;
      // listed = crawled ids not ending in 3 (the omission plant) plus the
      // 9e8-range frontier ids per host; lastmod = 2025-01-01 + id % 400.
      // The traps (stale.xml, cross-host entries) are correctly ABSENT here
      // -- if the engine leaked them, rows/hash break.
      "WITH crawled AS (SELECT url, CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS id " +
        s"FROM read_parquet('${Corpus.Root}/web/sf0.01/*.parquet')), " +
        "frontier AS (" +
        "SELECT 'https://portal-' || k || '.law.example/case/' || CAST(900000000 + k*10 + j AS VARCHAR) AS url, " +
        "900000000 + k*10 + j AS id " +
        "FROM generate_series(1,7) t(k) CROSS JOIN generate_series(0,4) u(j) " +
        "UNION ALL " +
        "SELECT 'https://repost-archive.example/p/' || CAST(900000080 + j AS VARCHAR), 900000080 + j " +
        "FROM generate_series(0,4) v(j)), " +
        "listed AS (SELECT url, id FROM crawled WHERE id % 10 <> 3 " +
        "UNION ALL SELECT url, id FROM frontier) " +
        "SELECT coalesce(c.url, l.url) AS url, " +
        "regexp_extract(coalesce(c.url, l.url), '^https://([^/]+)', 1) AS host, " +
        "CASE WHEN c.url IS NOT NULL AND l.url IS NOT NULL THEN 'both' " +
        "WHEN c.url IS NULL THEN 'frontier' ELSE 'orphan' END AS status, " +
        "CASE WHEN l.url IS NOT NULL THEN CAST(DATE '2025-01-01' + CAST(l.id % 400 AS INT) AS VARCHAR) ELSE '' END AS lastmod " +
        "FROM crawled c FULL JOIN listed l ON c.url = l.url", Web, WebSitemaps) { (s, dir) =>
      val sf = Corpus.sfName(dir)
      val pages = webPages(s, dir).select("url")
      val maps = s.read.parquet(Corpus.webSitemapsPath(sf))
      graft.ops.Sitemaps.reconcile(pages, maps)
    },
    // per-host admission FUNNEL: the crawl-curation dashboard row every
    // corpus pipeline publishes, composed from five independently-gated
    // signals in ONE declarative plan -- robots verdict (broadcast rule
    // join), noindex + soft-404 + extraction yield (one zero-shuffle
    // typed map: a noindex page is never parsed, a soft-404 yields
    // nothing), sitemap orphan status (url-keyed shuffle join), rolled up
    // to one row per host. Counts are per-signal audits, not sequential
    // gating. The oracle recomposes the same row from the PLANTED truths
    // (closed-form robots + sitemap rules, planted meta flags, planted
    // span counts) with zero engine knowledge.
    Gate.of("q_web_host_funnel",
      // funnel truth recomposed from the PLANTED truths: closed-form robots
      // + sitemap-omission rules over the url, planted noindex/soft404
      // flags, planted span counts -- zero engine knowledge
      "WITH p AS (SELECT doc_id, url, " +
        "regexp_extract(url, '^https://([^/]+)', 1) AS host, " +
        "regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path, " +
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS id " +
        s"FROM read_parquet('${Corpus.Root}/web/sf0.01/*.parquet')), " +
        s"m AS (SELECT doc_id, noindex, soft404 FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet')), " +
        s"sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') GROUP BY 1), " +
        "j AS (SELECT p.host, " +
        "CASE WHEN p.host = 'repost-archive.example' THEN p.path LIKE '/p/1%' " +
        "WHEN p.host = 'portal-3.law.example' THEN p.path NOT LIKE '%3' " +
        "ELSE p.path NOT LIKE '%7' OR p.path LIKE '%77' END AS allowed, " +
        "m.noindex, (NOT m.noindex AND m.soft404) AS soft404v, " +
        "CASE WHEN m.noindex OR m.soft404 THEN 0 ELSE coalesce(sp.n, 0) END AS ys, " +
        "(p.id % 10 = 3) AS orphan " +
        "FROM p JOIN m USING (doc_id) LEFT JOIN sp USING (doc_id)) " +
        "SELECT host, CAST(count(*) AS BIGINT) AS pages, " +
        "CAST(count(*) FILTER (WHERE NOT allowed) AS BIGINT) AS robots_denied, " +
        "CAST(count(*) FILTER (WHERE noindex) AS BIGINT) AS n_noindex, " +
        "CAST(count(*) FILTER (WHERE soft404v) AS BIGINT) AS n_soft404, " +
        "CAST(count(*) FILTER (WHERE orphan) AS BIGINT) AS n_orphans, " +
        "CAST(coalesce(sum(ys), 0) AS BIGINT) AS yield_spans " +
        "FROM j GROUP BY host", WebMeta, WebRobots, WebSitemaps) { (s, dir) =>
      import s.implicits._
      val sf = Corpus.sfName(dir)
      val pages = webPages(s, dir)
      val robots = graft.ops.Robots.gate(pages.select("doc_id", "url"),
          s.read.parquet(Corpus.webRobotsPath(sf)), "graftbot/1.2")
        .select(col("doc_id"), col("allowed"))
      val recon = graft.ops.Sitemaps.reconcile(pages.select("url"),
          s.read.parquet(Corpus.webSitemapsPath(sf)))
        .where(col("status") =!= "frontier")
        .select(col("url"), (col("status") === "orphan").as("orphan"))
      val perPage = pages.select("doc_id", "url", "html")
        .as[(String, String, String)]
        .map { case (id, u, html) =>
          val m = graft.parse.MainContent.pageMeta(html)
          val (soft, n) = if (m.noindex) (false, 0L) else {
            val spans = graft.parse.MainContent.extract(html)
            (graft.parse.MainContent.isSoftError(spans), spans.size.toLong)
          }
          (id, u, m.noindex, soft, if (m.noindex || soft) 0L else n)
        }.toDF("doc_id", "url", "noindex", "soft404", "ys")
      perPage.join(robots, "doc_id").join(recon, "url")
        .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)", 1))
        .groupBy("host").agg(
          count(lit(1)).as("pages"),
          sum(when(not(col("allowed")), 1L).otherwise(0L)).as("robots_denied"),
          sum(when(col("noindex"), 1L).otherwise(0L)).as("n_noindex"),
          sum(when(col("soft404"), 1L).otherwise(0L)).as("n_soft404"),
          sum(when(col("orphan"), 1L).otherwise(0L)).as("n_orphans"),
          sum("ys").as("yield_spans"))
    },
    // content-derived citation edges: docket numbers lifted from EXTRACTED
    // spans only (a number in chrome is navigation, not citation), deduped
    // map-side, resolved against the crawl's own /case/ url registry --
    // the prose sibling of the markup link graph. Re-posts carry their
    // SOURCE's number, so cross-page edges and self-citations both exist
    // at any sf; the oracle restates truth from the planted span table
    // with one regex, zero extractor knowledge (ops/Citations.scala).
    Gate.of("q_web_citations",
      // citation truth from the PLANTED span table: one regex over planted
      // content text (leads, soft-404 notices, re-posts carrying the
      // source's number); resolution joins the crawl's own /case/ urls
      "WITH cites AS (SELECT doc_id, CAST(regexp_extract(text, '2026가합([0-9]+)호', 1) AS BIGINT) AS cited, " +
        "CAST(count(*) AS BIGINT) AS mentions " +
        s"FROM read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') " +
        "WHERE kind <> 'media' AND regexp_matches(text, '2026가합[0-9]+호') GROUP BY 1, 2), " +
        "targets AS (SELECT CAST(regexp_extract(url, '/case/([0-9]+)$', 1) AS BIGINT) AS cited, doc_id AS target_id " +
        s"FROM read_parquet('${Corpus.Root}/web/sf0.01/*.parquet') WHERE regexp_matches(url, '/case/[0-9]+$$')) " +
        "SELECT c.doc_id, c.cited, c.mentions, coalesce(t.target_id, '') AS target_id, " +
        "coalesce(t.target_id = c.doc_id, FALSE) AS self_cite " +
        "FROM cites c LEFT JOIN targets t USING (cited)", Web) { (s, dir) =>
      val pages = webPages(s, dir)
      graft.ops.Citations.resolve(graft.ops.Citations.extractEdges(pages), pages)
    },
    // WARC archive source (sources/Warc.scala): the crawl read back from
    // the interchange format real corpora ship in, through the RANGE-SPLIT
    // reader — every task syncs to a record boundary inside its byte range
    // and owns exactly the records that START there. The 256 KB split size
    // forces dozens of mid-record boundaries even at gate scale; the oracle
    // is the parquet pages table, so the gate pins byte-exact round-trip
    // (doc id, URL, full HTML) AND exactly-once ownership across splits
    // (a lost or doubled boundary record breaks rows/hash immediately).
    Gate.of("q_warc_source",
      // WARC round-trip truth: the parquet pages table itself — the archive
      // files are rendered from the same per-doc generator, so the range-
      // split reader must reproduce every row byte for byte, exactly once
      "SELECT doc_id, url, md5(html) AS html_md5 " +
        s"FROM read_parquet('${Corpus.Root}/web/sf0.01/*.parquet')", WebWarc) { (s, dir) =>
      val warcDir = Corpus.webWarcPath(Corpus.sfName(dir))
      graft.sources.Warc.readPages(s, warcDir, maxSplitBytes = 256L << 10)
        .select(col("doc_id"), col("url"),
          md5(encode(col("html"), "UTF-8")).as("html_md5"))
    },
    // canonical-edge resolution: pages declaring a cross-page canonical are
    // resolved to their target doc by joining the crawl's OWN url column
    // (no global URL registry at 10^12 docs -- the crawl table IS the
    // registry; plain shuffle join on url, AQE free to broadcast the small
    // canonical side at gate scale). Each resolved edge is then
    // cross-checked against extracted-content equality: exact re-posts
    // must hash-match their canonical target, near re-posts must not --
    // the canonical signal and the content signal AGREE on kind.
    Gate.of("q_web_canonical",
      // canonical-edge truth: only cross-page canonicals survive (self-
      // canonicals are hygiene, not edges); the resolved target is the
      // planted source, and content equality holds iff the re-post is exact
      "SELECT doc_id, dup_src AS canonical_id, dup_kind = 'exact' AS same_content " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE canonical <> '' AND canonical <> url", WebMeta) { (s, dir) =>
      import s.implicits._
      val withMeta = webPages(s, dir)
        .select("doc_id", "url", "html").as[(String, String, String)]
        .map { case (id, u, html) =>
          val m = graft.parse.MainContent.pageMeta(html)
          val sig = graft.parse.MainContent.extract(html).map(sp =>
            sp.kind + "\u001f" + sp.text + "\u001f" + sp.media_ref).mkString("\u001e")
          (id, u, m.canonical, sig)
        }.toDF("doc_id", "url", "canonical", "sig")
      val targets = withMeta.select(col("url").as("target_url"),
        col("doc_id").as("canonical_id"), md5(col("sig")).as("target_md5"))
      withMeta
        .where(col("canonical") =!= "" && col("canonical") =!= col("url"))
        .select(col("doc_id"), md5(col("sig")).as("own_md5"),
          col("canonical").as("target_url"))
        .join(targets, Seq("target_url"))
        .select(col("doc_id"), col("canonical_id"),
          (col("own_md5") === col("target_md5")).as("same_content"))
    },
    // pagination-chain stitching (rel=prev/next): serialized articles
    // reassembled into (head, position, length) BEFORE dedup/packing sees
    // the parts as near-dup fragments. URL-keyed pointer doubling -- chains
    // of length L settle in ceil(log2 L) self-join rounds; the oracle is a
    // recursive walk over the PLANTED prev/next truth (zero engine
    // knowledge). Members only; singletons emit nothing.
    Gate.of("q_web_pagination",
      // pagination-chain truth: a recursive walk over the PLANTED prev/next
      // pointers (heads = members with no prev), restating head / position /
      // length with zero knowledge of the engine's pointer doubling
      "WITH RECURSIVE m AS (SELECT doc_id, url, prev_url, next_url " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE prev_url <> '' OR next_url <> ''), " +
        "chain AS (" +
        "SELECT doc_id, url, next_url, url AS head_url, CAST(0 AS BIGINT) AS pos " +
        "FROM m WHERE prev_url = '' " +
        "UNION ALL " +
        "SELECT m.doc_id, m.url, m.next_url, c.head_url, c.pos + 1 " +
        "FROM chain c JOIN m ON m.url = c.next_url), " +
        "lens AS (SELECT head_url, CAST(count(*) AS BIGINT) AS n_parts FROM chain GROUP BY 1) " +
        "SELECT doc_id, head_url, pos, n_parts FROM chain JOIN lens USING (head_url)", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      graft.ops.HeadMeta.paginationChains(meta)
    },
    // reciprocity-validated hreflang clusters: language-variant groups a
    // monolingual training mix must collapse to one member. Declarations
    // count only when the FULL set is mutual (identical alternate sets,
    // self-reference included) -- the generator plants one-sided clusters
    // (the classic deployment bug) that MUST be rejected, so validation is
    // load-bearing: admitting them hash-breaks the gate.
    Gate.of("q_web_hreflang",
      // hreflang-cluster truth: the generator records a group ONLY for
      // reciprocal clusters (one-sided plants get none) — admitting a
      // one-sided declarer or dropping a validated member breaks the hash
      "SELECT doc_id, alt_group AS grp, alt_lang AS lang " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE alt_group <> ''", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      graft.ops.HeadMeta.hreflangClusters(meta)
    },
    // structured-data extraction (application/ld+json): type, headline and
    // datePublished from the raw-text script payload the lexer isolated --
    // the machine-readable publication date freshness mixing keys on. The
    // planted truth pins BOTH presence (error pages and re-posts carry
    // none) and the parsed field values (headline == planted head title).
    Gate.of("q_web_ldjson",
      // ld+json truth: carriers are exactly the pages with a planted
      // published date; the parsed headline must equal the planted head
      // title (the generator emits it JSON-escaped — the gate thereby pins
      // the engine's unescape round-trip too)
      "SELECT doc_id, 'NewsArticle' AS ld_type, title AS headline, published " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE published <> ''", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      graft.ops.HeadMeta.structuredData(meta)
    },
    // chain-document assembly: the stitched pagination output CONSUMED --
    // every member's extracted spans concatenated in (position, span-order)
    // and re-numbered densely under the chain head, so dedup/packing sees
    // one logical article instead of three near-dup fragments. The oracle
    // recomposes the same view from the planted prev/next pointers and the
    // planted span truth -- a mis-stitched chain or off-by-one renumbering
    // breaks the hash.
    Gate.of("q_web_chain_docs",
      // chain-document truth: the recursive pointer walk joined to the
      // planted span truth, renumbered by the same (pos, ord) total order
      "WITH RECURSIVE m AS (SELECT doc_id, url, prev_url, next_url " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE prev_url <> '' OR next_url <> ''), " +
        "chain AS (" +
        "SELECT doc_id, url, next_url, url AS head_url, CAST(0 AS BIGINT) AS pos " +
        "FROM m WHERE prev_url = '' " +
        "UNION ALL " +
        "SELECT m.doc_id, m.url, m.next_url, c.head_url, c.pos + 1 " +
        "FROM chain c JOIN m ON m.url = c.next_url) " +
        "SELECT c.head_url, s.kind, s.text, s.media_ref, " +
        "CAST(row_number() OVER (PARTITION BY c.head_url ORDER BY c.pos, s.ord) - 1 AS BIGINT) AS ord " +
        s"FROM chain c JOIN read_parquet('${Corpus.Root}/golden_web/sf0.01/*.parquet') s " +
        "ON s.doc_id = c.doc_id", WebMeta) { (s, dir) =>
      import s.implicits._
      val pages = webPages(s, dir)
      val meta = graft.ops.HeadMeta.parsed(
        pages.select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      val chains = graft.ops.HeadMeta.paginationChains(meta)
      graft.ops.HeadMeta.assembleChains(webSpans(s, dir), chains)
    },
    // language-representative pick: ONE member per validated hreflang
    // cluster admitted to the (Korean) training mix -- preferred language
    // first, lexicographic (lang, doc_id) fallback, a total order so the
    // pick is partitioning-independent
    Gate.of("q_web_lang_pick",
      // language-pick truth: the preferred-then-lexicographic total order
      // restated over the planted reciprocal-group truth
      "SELECT alt_group AS grp, doc_id, alt_lang AS lang " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE alt_group <> '' " +
        "QUALIFY row_number() OVER (PARTITION BY alt_group " +
        "ORDER BY (alt_lang <> 'ko'), alt_lang, doc_id) = 1", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      graft.ops.HeadMeta.pickLanguageRepresentative(
        graft.ops.HeadMeta.hreflangClusters(meta), preferred = "ko")
    },
    // freshness datasheet: pages per (host, publication month) from the
    // ld+json dates -- the mixing table a recency-weighted sampler reads;
    // carriers only (structured data is optional by design), one rollup
    // with map-side combine
    Gate.of("q_web_freshness",
      // freshness truth: planted publication dates bucketed by (host, month)
      "SELECT regexp_extract(url, '^https://([^/]+)', 1) AS host, " +
        "substr(published, 1, 7) AS month, CAST(count(*) AS BIGINT) AS n_pages " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet') " +
        "WHERE published <> '' GROUP BY 1, 2", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      graft.ops.HeadMeta.structuredData(meta)
        .join(meta.select("doc_id", "url"), Seq("doc_id"))
        .select(regexp_extract(col("url"), "^https://([^/]+)", 1).as("host"),
          substring(col("published"), 1, 7).as("month"))
        .groupBy("host", "month")
        .agg(count(lit(1)).cast("long").as("n_pages"))
    },
    // per-host head-metadata datasheet: the curation-report row for the
    // head-signal family -- chain mass, hreflang declaration vs VALIDATION
    // counts (the declared-minus-validated gap IS the one-sided-deployment
    // rate a crawl ops team watches), ld+json coverage. ONE parse feeds a
    // host rollup with map-side combine; validation joins back the (tiny)
    // validated-member table. Oracle restates declaration in the plant's
    // closed stride form -- zero engine knowledge.
    Gate.of("q_web_head_stats",
      // head-stats truth: chain membership and ld coverage read straight off
      // the planted truth; hreflang DECLARATION restated in the plant's
      // closed stride form (WebGen.altBase/altOneSided: pairs every 73rd
      // page, every 5th cluster one-sided -- declared by the base only,
      // validated never), so the declared-vs-validated gap is pinned without
      // any engine knowledge
      "WITH m AS (SELECT doc_id, url, prev_url, next_url, alt_group, published, " +
        "CAST(substr(doc_id, 5) AS BIGINT) AS id, " +
        "regexp_extract(url, '^https://([^/]+)', 1) AS host " +
        s"FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet')), " +
        "tot AS (SELECT count(*) AS docs FROM m), " +
        "d AS (SELECT m.*, CASE WHEN id % 73 IN (4, 5) THEN id - (id % 73 - 4) " +
        "ELSE -1 END AS base FROM m), " +
        "e AS (SELECT *, base >= 0 AND base + 1 < (SELECT docs FROM tot) " +
        "AND base % 101 <> 100 AND (base + 1) % 101 <> 100 " +
        "AND (base % 365 <> 4 OR id = base) AS declares FROM d) " +
        "SELECT host, CAST(count(*) AS BIGINT) AS pages, " +
        "CAST(count(*) FILTER (WHERE prev_url <> '' OR next_url <> '') AS BIGINT) AS chain_members, " +
        "CAST(count(*) FILTER (WHERE prev_url = '' AND next_url <> '') AS BIGINT) AS chain_heads, " +
        "CAST(count(*) FILTER (WHERE declares) AS BIGINT) AS alt_declaring, " +
        "CAST(count(*) FILTER (WHERE alt_group <> '') AS BIGINT) AS alt_validated, " +
        "CAST(count(*) FILTER (WHERE published <> '') AS BIGINT) AS ld_pages " +
        "FROM e GROUP BY host", WebMeta) { (s, dir) =>
      import s.implicits._
      val meta = graft.ops.HeadMeta.parsed(
        webPages(s, dir)
          .select("doc_id", "url", "html").as[(String, String, String)]).toDF()
      val validated = graft.ops.HeadMeta.hreflangClusters(meta)
        .select(col("doc_id"), lit(true).as("validated"))
      meta.join(validated, Seq("doc_id"), "left")
        .select(regexp_extract(col("url"), "^https://([^/]+)", 1).as("host"),
          col("prev_url"), col("next_url"), col("alts"), col("ld"),
          coalesce(col("validated"), lit(false)).as("validated"))
        .groupBy("host")
        .agg(
          count(lit(1)).cast("long").as("pages"),
          sum(when(col("prev_url") =!= "" || col("next_url") =!= "", 1L)
            .otherwise(0L)).as("chain_members"),
          sum(when(col("prev_url") === "" && col("next_url") =!= "", 1L)
            .otherwise(0L)).as("chain_heads"),
          sum(when(size(col("alts")) > 0, 1L).otherwise(0L)).as("alt_declaring"),
          sum(when(col("validated"), 1L).otherwise(0L)).as("alt_validated"),
          sum(when(col("ld") =!= "", 1L).otherwise(0L)).as("ld_pages"))
    },

    // ---- end-to-end persisted-surface gates (graft.Gates) ---------------
    // two-phase AvailableNow dedup ingest through ONE checkpoint (restart
    // between phases); result = the sink parquet read back
    Gate.of("q_stream_dedup",
      "WITH p1 AS (SELECT md5(text) AS content_md5, min(doc_id) AS doc_id FROM documents WHERE doc_id % 2 = 0 GROUP BY md5(text)), " +
        "p2 AS (SELECT md5(text) AS content_md5, min(doc_id) AS doc_id FROM documents WHERE doc_id % 2 = 1 AND md5(text) NOT IN (SELECT content_md5 FROM p1) GROUP BY md5(text)), " +
        "u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2) " +
        "SELECT u.content_md5, CAST(u.doc_id AS BIGINT) AS doc_id, d.text FROM u JOIN documents d ON u.doc_id = d.doc_id") { (s, dir) =>
      Gates.streamDedup(s, dir)
    },
    // snapshot-1 commit over half the corpus, then a RESUMED full-corpus
    // run (committed-doc left-anti skip) — the committed union must equal
    // the golden span set exactly (exactly-once per doc_id)
    Gate.of("q_resume_extract",
      fromGolden("golden_spans", "doc_id, kind, text, media_ref, ord"), PdfCorpus, PdfGoldens) { (s, dir) =>
      Gates.resumeExtract(s, dir)
    },
    // streaming near-dup candidates through one checkpoint incl. a restart
    // — MinHash-LSH bucket state recovered across phases; pair set is
    // order-independent and equals the sequential batch restatement
    Gate.of("q_stream_near_dup", fromOpsGolden("streamnd", "a, b, est_pm"), OpsGoldens) { (s, dir) =>
      Gates.streamNearDup(s, dir)
    },
    // Iceberg VERSION-AS-OF analog: time-travel scan of snapshot 1 only
    Gate.of("q_snapshot_asof",
      s"SELECT doc_id, kind, text, media_ref, ord FROM read_parquet('${Corpus.Root}/golden_spans/sf0.01/*.parquet') " +
        "WHERE substr(doc_id, 13, 1) IN ('0','2','4','6','8')", PdfCorpus, PdfGoldens) { (s, dir) =>
      Gates.snapshotAsOf(s, dir)
    },
    // Iceberg rewrite_data_files / OPTIMIZE analog: compact the committed
    // table into one full-rewrite snapshot, expire the replaced ones, read
    // back — rows must survive compaction byte-exactly
    Gate.of("q_compacted_extract",
      fromGolden("golden_spans", "doc_id, kind, text, media_ref, ord"), PdfCorpus, PdfGoldens) { (s, dir) =>
      Gates.compactedExtract(s, dir)
    },
    // Iceberg v2 merge-on-read analog: upsert stale docs via same-snapshot
    // tombstones, row-level delete + re-ingest, read back — the final
    // table must equal the golden span set exactly
    Gate.of("q_upsert_extract",
      fromGolden("golden_spans", "doc_id, kind, text, media_ref, ord"), PdfCorpus, PdfGoldens) { (s, dir) =>
      Gates.upsertExtract(s, dir)
    },
    // co-located bucketed join (zero-exchange layout; plan pinned in
    // BucketingSpec, result pinned here)
    Gate.of("q_bucketed_join",
      "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment") { (s, dir) =>
      Gates.bucketedJoin(s, dir)
    },

    // ---- text analysis over the documents table ------------------------
    Gate.of("q_doc_exact_dedup",
      "SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keep_id FROM documents GROUP BY md5(text)") { (s, dir) =>
      Dedup.exact(docsTable(s, dir))
      .select(col("content_md5"), col("n_docs").cast("long").as("n_docs"),
        col("keep_id").cast("long").as("keep_id"))
    },
    // all four counters in ONE narrow select — a tokenStats⋈bpeTokenCount
    // join would scan the table twice and shuffle it on doc_id for nothing
    Gate.of("q_doc_token_stats",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT) AS n_tokens, " +
        "CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS BIGINT) AS n_nonspace, " +
        "CAST(len(regexp_extract_all(text, '[\\p{L}]+|[0-9]+|[^\\p{L}0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS n_bpe_tokens FROM documents") { (s, dir) =>
      docsTable(s, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), TextOps.WsPlus, "")).cast("long").as("n_nonspace"),
        size(regexp_extract_all(col("text"), lit(TextOps.BpePiece), lit(0)))
          .cast("long").as("n_bpe_tokens"))
    },
    Gate.of("q_doc_langid",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, CASE " +
        "WHEN regexp_matches(text, '[가-힣]') THEN 'ko' " +
        "WHEN regexp_matches(text, '[ぁ-んァ-ン]') THEN 'ja' " +
        "WHEN regexp_matches(text, '[一-鿿]') THEN 'zh' " +
        "WHEN regexp_matches(text, '[а-яА-Я]') THEN 'ru' " +
        "WHEN regexp_matches(text, '(?i)(^| )(der|die|das|und|nicht) ') THEN 'de' " +
        "WHEN regexp_matches(text, '(?i)(^| )(le|la|les|une|est) ') THEN 'fr' " +
        "WHEN regexp_matches(text, '(?i)(^| )(el|los|las|una|es) ') THEN 'es' " +
        "ELSE 'en' END AS pred_lang FROM documents") { (s, dir) =>
      TextOps.langId(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"), col("pred_lang"))
    },
    // OOV-ratio quality signal vs the corpus top-12 vocabulary
    Gate.of("q_doc_oov",
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "v AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1) " +
        "ORDER BY cnt DESC, tok ASC LIMIT 12), " +
        "n AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1), " +
        "o AS (SELECT doc_id, count(*) AS n_oov FROM toks ANTI JOIN v USING (tok) GROUP BY 1) " +
        "SELECT CAST(n.doc_id AS BIGINT) AS doc_id, CAST(n.n_toks AS BIGINT) AS n_toks, " +
        "CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov, " +
        "CAST((coalesce(o.n_oov, 0) * 1000) // n.n_toks AS BIGINT) AS oov_pm " +
        "FROM n LEFT JOIN o USING (doc_id)") { (s, dir) =>
      TextOps.oovRatio(docsTable(s, dir), vocabSize = 12)
    },
    Gate.of("q_doc_quality",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'), w -> w IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopword, " +
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT) AS n_tokens, " +
        "CAST(floor(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1000 / greatest(length(text), 1)) AS BIGINT) AS punct_pm, " +
        "CAST(floor(len(list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'), w -> w IN ('the','a','and','of','to','in','is'))) * 1000 / greatest(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END, 1)) AS BIGINT) AS stopword_pm " +
        "FROM documents") { (s, dir) =>
      TextOps.quality(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_punct").cast("long").as("n_punct"),
        col("n_digit").cast("long").as("n_digit"),
        col("n_stopword").cast("long").as("n_stopword"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("punct_pm"), col("stopword_pm"))
    },
    Gate.of("q_doc_fingerprint",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS md5_hex FROM documents") { (s, dir) =>
      TextOps.fingerprint(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"), col("md5_hex"))
    },
    // unicode canonicalization via the native NFC expression
    Gate.of("q_doc_nfc",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(nfc_normalize(text)) AS nfc_md5, " +
        "CAST(nfc_normalize(text) = text AS BIGINT) AS already_nfc FROM documents") { (s, dir) =>
      docsTable(s, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      md5(graft.functions.Functions.nfc_normalize(col("text")).cast("binary"))
        .as("nfc_md5"),
      (graft.functions.Functions.nfc_normalize(col("text")) === col("text"))
        .cast("long").as("already_nfc"))
    },
    // Gopher token-shape signals (mean/max token length, short/long fracs)
    Gate.of("q_doc_gopher",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "s AS (SELECT doc_id, len(toks) AS n, " +
        "coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sumlen, " +
        "coalesce(list_max(list_transform(toks, x -> length(x))), 0) AS maxlen, " +
        "len(list_filter(toks, x -> length(x) <= 2)) AS nshort, " +
        "len(list_filter(toks, x -> length(x) >= 8)) AS nlong FROM t) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "CAST(sumlen * 1000 // greatest(n, 1) AS BIGINT) AS mean_tok_len_pm, " +
        "CAST(maxlen AS BIGINT) AS max_tok_len, " +
        "CAST(nshort * 1000 // greatest(n, 1) AS BIGINT) AS short_tok_pm, " +
        "CAST(nlong * 1000 // greatest(n, 1) AS BIGINT) AS long_tok_pm FROM s") { (s, dir) =>
      TextOps.gopherQuality(docsTable(s, dir))
    },
    // hot-host capping: keep at most 10 docs per source by (n_chars desc)
    Gate.of("q_source_cap",
      "WITH r AS (SELECT source, doc_id, length(text) AS n_chars, " +
        "row_number() OVER (PARTITION BY source ORDER BY length(text) DESC, doc_id) AS rnk " +
        "FROM documents) " +
        "SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10") { (s, dir) =>
      TextOps.sourceCap(docsTable(s, dir), cap = 10)
    },
    // Gopher-style repetition quality signals (duplicate tokens/bigrams)
    Gate.of("q_doc_repetition",
      "WITH spine AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "tc AS (SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS tok FROM spine) GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS top_c FROM tc GROUP BY 1), " +
        "bi AS (SELECT doc_id, len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS n_dbi FROM spine) " +
        "SELECT CAST(s.doc_id AS BIGINT) AS doc_id, CAST(len(s.toks) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct_tokens, " +
        "CAST(floor(COALESCE(a.top_c, 0) * 1000 / greatest(len(s.toks), 1)) AS BIGINT) AS top_token_pm, " +
        "CAST(floor((greatest(len(s.toks) - 1, 0) - COALESCE(b.n_dbi, 0)) * 1000 / greatest(len(s.toks) - 1, 1)) AS BIGINT) AS dup_bigram_pm " +
        "FROM spine s LEFT JOIN agg a USING (doc_id) LEFT JOIN bi b USING (doc_id)") { (s, dir) =>
      TextOps.repetition(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"), col("n_tokens"),
        col("n_distinct_tokens"), col("top_token_pm"), col("dup_bigram_pm"))
    },
    // deterministic content-keyed train/val/test split (dup-leak-proof)
    Gate.of("q_doc_split",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS split_bucket, " +
        "CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < 950 THEN 'train' " +
        "WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < 975 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents") { (s, dir) =>
      TextOps.hashSplit(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("split_bucket"), col("split"))
    },
    // domain-disjoint split (leakage-safe): the bucket keys on the
    // registrable domain of the same canonical URLs, so templated
    // near-dups within a domain can never straddle train/test
    Gate.of("q_domain_split",
      UrlOracleCtes +
        "SELECT doc_id, domain, " +
        "('0x' || substr(md5(domain), 1, 8))::BIGINT % 1000 AS split_bucket, " +
        "CASE WHEN ('0x' || substr(md5(domain), 1, 8))::BIGINT % 1000 < 900 THEN 'train' " +
        "WHEN ('0x' || substr(md5(domain), 1, 8))::BIGINT % 1000 < 950 THEN 'val' " +
        "ELSE 'test' END AS split FROM w2") { (s, dir) =>
      TextOps.domainSplit(UrlOps.urlProfile(urlDocs(s, dir)))
    },
    // word2phrase collocation mining: discounted-ratio score in integer
    // per-mille (monotone in PMI), DECIMAL(38,0) products — restated
    // verbatim in DuckDB over HUGEINT
    Gate.of("q_collocations",
      "WITH t AS (SELECT regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents " +
        "WHERE length(trim(text)) > 0), " +
        "pr0 AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> struct_pack(a := toks[i], b := toks[i+1]))) AS p FROM t), " +
        "pr AS (SELECT p.a AS a, p.b AS b FROM pr0), " +
        "cp AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2 HAVING count(*) >= 3), " +
        "uni AS (SELECT unnest(toks) AS w FROM t), " +
        "cu AS (SELECT w, count(*) AS c FROM uni GROUP BY 1), " +
        "tt AS (SELECT count(*) AS t_tokens FROM uni), " +
        "sc AS (SELECT cp.a, cp.b, CAST(cp.n_ab AS BIGINT) AS n_ab, " +
        "CAST((CAST(cp.n_ab - 2 AS HUGEINT) * tt.t_tokens * 1000) // " +
        "(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS score_pm " +
        "FROM cp JOIN cu ca ON cp.a = ca.w JOIN cu cb ON cp.b = cb.w CROSS JOIN tt) " +
        "SELECT a, b, n_ab, score_pm FROM sc WHERE score_pm >= 400") { (s, dir) =>
      TextOps.collocations(docsTable(s, dir), minCount = 3, discount = 2,
        minScorePm = 400L)
    },
    // token frequency-of-frequencies (Zipf/hapax datasheet + Good-Turing
    // input): two map-side-combined counts
    Gate.of("q_token_spectrum",
      "WITH u AS (SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok FROM documents " +
        "WHERE length(trim(text)) > 0), " +
        "c AS (SELECT tok, count(*) AS tf FROM u GROUP BY 1) " +
        "SELECT CAST(tf AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS n_types " +
        "FROM c GROUP BY 1") { (s, dir) => TextOps.tokenSpectrum(docsTable(s, dir)) },
    // Good-Turing adjusted counts r* = (r+1)·S_{r+1}/S_r in per-mille over
    // the spectrum — one vocab-sized self-join, DECIMAL(38,0) products
    Gate.of("q_good_turing",
      "WITH u AS (SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok FROM documents " +
        "WHERE length(trim(text)) > 0), " +
        "c AS (SELECT tok, count(*) AS tf FROM u GROUP BY 1), " +
        "sp AS (SELECT tf, count(*) AS n_types FROM c GROUP BY 1) " +
        "SELECT CAST(l.tf AS BIGINT) AS tf, CAST(l.n_types AS BIGINT) AS n_types, " +
        "CAST(coalesce(r.n_types, 0) AS BIGINT) AS n_types_next, " +
        "CAST((CAST(l.tf + 1 AS HUGEINT) * coalesce(r.n_types, 0) * 1000) // " +
        "CAST(l.n_types AS HUGEINT) AS BIGINT) AS r_star_pm " +
        "FROM sp l LEFT JOIN sp r ON l.tf + 1 = r.tf") { (s, dir) =>
      TextOps.goodTuring(docsTable(s, dir))
    },
    Gate.of("q_source_stats",
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_chars, " +
        "CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) AS BIGINT) AS sum_tokens, " +
        "CAST(floor(sum(length(text)) / count(*)) AS BIGINT) AS avg_chars FROM documents GROUP BY source") { (s, dir) =>
      TextOps.sourceStats(docsTable(s, dir))
    },
    // per-source exact-dedup lift (the curation datasheet row): docs,
    // distinct contents, removals, per-mille rate — two-phase distinct
    Gate.of("q_dedup_lift",
      "WITH c AS (SELECT source, md5(text) AS h, count(*) AS c FROM documents GROUP BY 1, 2), " +
        "r AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_unique FROM c GROUP BY 1) " +
        "SELECT source, n_docs, n_unique, n_docs - n_unique AS n_removed, " +
        "CAST(((n_docs - n_unique) * 1000) // n_docs AS BIGINT) AS dup_pm FROM r") { (s, dir) =>
      Dedup.dedupLift(docsTable(s, dir))
    },
    // HLL distinct-shingle sketch per source (p=6 so the gate corpus sits
    // in the raw-estimator regime; integer register columns ARE the gate)
    Gate.of("q_hll_shingles",
      "WITH t AS (SELECT source, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "b AS (SELECT source, toks, len(toks) - 3 + 1 AS nw FROM t WHERE len(toks) >= 3), " +
        "e AS (SELECT source, toks, unnest(range(0, nw)) AS i FROM b), " +
        "w AS (SELECT source, array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS item FROM e), " +
        "h AS (SELECT source, ('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM w), " +
        "r AS (SELECT source, h >> 54 AS reg, CASE WHEN h % (1::BIGINT << 54) = 0 THEN 55 " +
        "ELSE 55 - length(bin(h % (1::BIGINT << 54))) END AS rk FROM h), " +
        "rm AS (SELECT source, reg, max(rk) AS mx FROM r GROUP BY 1, 2), " +
        "roll AS (SELECT source, count(*) AS n_hit, max(mx) AS max_rank, " +
        "CAST(sum(1::BIGINT << (55 - mx)) AS BIGINT) AS s_hit FROM rm GROUP BY 1) " +
        "SELECT source, CAST(n_hit AS BIGINT) AS n_hit, CAST(max_rank AS BIGINT) AS max_rank, " +
        "CAST(s_hit + (64 - n_hit) * (1::BIGINT << 55) AS BIGINT) AS sum_terms, " +
        s"CAST(floor(${Sketches.estConstant(6)} / " +
        "CAST(s_hit + (64 - n_hit) * (1::BIGINT << 55) AS DOUBLE)) AS BIGINT) AS est_distinct " +
        "FROM roll") { (s, dir) =>
      Sketches.hllShingleDistinct(docsTable(s, dir), n = 3, p = 6)
    },
    // corpus vocabulary profile: top terms by document frequency
    Gate.of("q_vocab_topk",
      "SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, CAST(count(*) AS BIGINT) AS tf " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok FROM documents WHERE length(trim(text)) > 0) " +
        "GROUP BY tok ORDER BY df DESC, tok LIMIT 100") { (s, dir) =>
      TextOps.vocabTopK(docsTable(s, dir))
    },
    Gate.of("q_source_length_quantiles",
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(list_sort(list(length(text)))[CAST(floor(0.5*(count(*)-1)) AS BIGINT)+1] AS BIGINT) AS median_chars, " +
        "CAST(list_sort(list(length(text)))[CAST(floor(0.9*(count(*)-1)) AS BIGINT)+1] AS BIGINT) AS p90_chars " +
        "FROM documents GROUP BY source") { (s, dir) =>
      TextOps.lengthQuantiles(docsTable(s, dir))
    },
    Gate.of("q_doc_pii_scrub",
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, 'https?://[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_urls, " +
        "md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), 'https?://[^ \\t\\n\\x0B\\f\\r]+', '<URL>', 'g')) AS scrubbed_md5 " +
        "FROM documents") { (s, dir) =>
      TextOps.piiScrub(docsTable(s, dir))
      .select(col("doc_id").cast("long").as("doc_id"), col("n_emails"),
        col("n_urls"), col("scrubbed_md5"))
    },

    // composed curation manifest: exact-dedup keepers → length gate →
    // deterministic split (what a training pipeline actually emits)
    Gate.of("q_curated_corpus",
      "WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
        "d AS (SELECT doc_id, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens, " +
        "('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS b FROM documents) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens, " +
        "CASE WHEN b < 950 THEN 'train' WHEN b < 975 THEN 'val' ELSE 'test' END AS split " +
        "FROM d JOIN keepers k ON d.doc_id = k.doc_id WHERE d.n_tokens >= 30") { (s, dir) =>
      val docs = docsTable(s, dir)
      val keepers = Dedup.exact(docs)
        .select(col("keep_id").cast("long").as("doc_id"))
      val stats = TextOps.tokenStats(docs)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"))
      val split = TextOps.hashSplit(docs)
        .select(col("doc_id").cast("long").as("doc_id"), col("split"))
      stats.join(keepers, Seq("doc_id"), "left_semi")
        .where(col("n_tokens") >= 30)
        .join(split, Seq("doc_id"))
    },

    // ---- dedup / similarity (sequential-oracle golden parquet gate) -----
    Gate.of("q_ngram_jaccard_pairs",
      // sequential-oracle goldens (graft.oracle.OpsOracle → OpsGolden):
      // non-SQL-expressible dedup/similarity ops, hash-checked via parquet
      fromOpsGolden("ngram", "a, b, n_inter, n_a, n_b, jaccard_pm"), OpsGoldens) { (s, dir) =>
      Dedup.ngramJaccardPairs(docsTable(s, dir), n = 3, minJaccardPm = 200)
    },
    // directional shingle containment (Broder's measure — catches a short
    // doc quoted inside a long host that Jaccard-threshold dedup misses);
    // FULL ANSI-SQL gate: DuckDB re-derives the shingle sets as n-gram
    // STRINGS (the engine's 64-bit shingle hashes are collision-free at the
    // gate scale, so distinct-set sizes agree) incl. the df-cap prefilter
    Gate.of("q_containment_pairs",
      // full restatement of containmentPairs: shingle sets as n-gram STRINGS
      // (collision-free hash ⇒ identical distinct counts), df-cap prefilter on
      // capped intersections, exact verify, integer-div per-mille score
      "WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, ng FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), " +
        "i -> array_to_string(toks[i:i+2], ' '))) AS ng FROM t WHERE len(toks) >= 3)), " +
        "c AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY 1), " +
        "d AS (SELECT ng, count(*) AS df FROM g GROUP BY 1), " +
        "pc AS (SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS i_c " +
        "FROM g ga JOIN g gb ON ga.ng = gb.ng AND ga.doc_id < gb.doc_id " +
        "JOIN d ON ga.ng = d.ng WHERE d.df BETWEEN 2 AND 1000 GROUP BY 1, 2), " +
        "surv AS (SELECT pc.a, pc.b FROM pc " +
        "JOIN c ca ON pc.a = ca.doc_id JOIN c cb ON pc.b = cb.doc_id " +
        "WHERE pc.i_c * 1000 >= 150 * least(ca.n_sh, cb.n_sh)), " +
        "ex AS (SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_inter " +
        "FROM g ga JOIN g gb ON ga.ng = gb.ng AND ga.doc_id < gb.doc_id GROUP BY 1, 2) " +
        "SELECT s.a, s.b, CAST(ex.n_inter AS BIGINT) AS n_inter, " +
        "CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b, " +
        "CAST((ex.n_inter * 1000) // least(ca.n_sh, cb.n_sh) AS BIGINT) AS contain_pm " +
        "FROM surv s JOIN ex ON s.a = ex.a AND s.b = ex.b " +
        "JOIN c ca ON s.a = ca.doc_id JOIN c cb ON s.b = cb.doc_id " +
        "WHERE (ex.n_inter * 1000) // least(ca.n_sh, cb.n_sh) >= 150") { (s, dir) =>
      Dedup.containmentPairs(docsTable(s, dir), n = 3, minContainPm = 150)
    },
    // the containment pairs CONSUMED as a curation decision: docs quoted
    // >= 90% inside a larger host drop (smaller side of each pair; greedy
    // per-pair, so A contained-in B contained-in C keeps only C); every doc
    // stays visible with its verdict and lowest-id dominator
    Gate.of("q_containment_keeper",
      // keeper restatement: same shingle/df-cap/verify pipeline at 900‰, then
      // the smaller-side drop rule and the lowest-dominator rollup in SQL
      "WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, ng FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), " +
        "i -> array_to_string(toks[i:i+2], ' '))) AS ng FROM t WHERE len(toks) >= 3)), " +
        "c AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY 1), " +
        "d AS (SELECT ng, count(*) AS df FROM g GROUP BY 1), " +
        "pc AS (SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS i_c " +
        "FROM g ga JOIN g gb ON ga.ng = gb.ng AND ga.doc_id < gb.doc_id " +
        "JOIN d ON ga.ng = d.ng WHERE d.df BETWEEN 2 AND 1000 GROUP BY 1, 2), " +
        "surv AS (SELECT pc.a, pc.b FROM pc " +
        "JOIN c ca ON pc.a = ca.doc_id JOIN c cb ON pc.b = cb.doc_id " +
        "WHERE pc.i_c * 1000 >= 900 * least(ca.n_sh, cb.n_sh)), " +
        "ex AS (SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_inter " +
        "FROM g ga JOIN g gb ON ga.ng = gb.ng AND ga.doc_id < gb.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT s.a, s.b, ca.n_sh AS n_a, cb.n_sh AS n_b " +
        "FROM surv s JOIN ex ON s.a = ex.a AND s.b = ex.b " +
        "JOIN c ca ON s.a = ca.doc_id JOIN c cb ON s.b = cb.doc_id " +
        "WHERE (ex.n_inter * 1000) // least(ca.n_sh, cb.n_sh) >= 900), " +
        "dr AS (SELECT CASE WHEN n_a < n_b THEN a WHEN n_b < n_a THEN b " +
        "ELSE greatest(a, b) END AS doc_id, " +
        "CASE WHEN n_a < n_b THEN b WHEN n_b < n_a THEN a " +
        "ELSE least(a, b) END AS dominator FROM pr), " +
        "mn AS (SELECT doc_id, min(dominator) AS subsumed_by FROM dr GROUP BY 1) " +
        "SELECT CAST(d0.doc_id AS BIGINT) AS doc_id, " +
        "CAST(CASE WHEN mn.subsumed_by IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_keep, " +
        "CAST(coalesce(mn.subsumed_by, -1) AS BIGINT) AS subsumed_by " +
        "FROM documents d0 LEFT JOIN mn ON CAST(d0.doc_id AS BIGINT) = mn.doc_id") { (s, dir) =>
      Dedup.containmentKeeper(docsTable(s, dir), n = 3, minContainPm = 900)
    },
    Gate.of("q_minhash_near_dup",
      fromOpsGolden("minhash", "a, b, jaccard_pm"), OpsGoldens) { (s, dir) =>
      Dedup.minHashNearDup(docsTable(s, dir), n = 3, minJaccardPm = 200)
    },
    // LSH-recall eval: the minhash tier scored against the exhaustive
    // n-gram truth at the same threshold — precision pinned at 1000‰ by
    // the verify step (found ⊆ truth), recall is what (k, bands) trades;
    // the oracle recomputes the same confusion counts over the two goldens
    Gate.of("q_near_dup_eval",
      s"WITH t AS (SELECT a, b FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/ngram/*.parquet')), " +
        s"f AS (SELECT a, b FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/minhash/*.parquet')), " +
        "n AS (SELECT (SELECT count(*) FROM t) AS n_true, " +
        "(SELECT count(*) FROM f) AS n_found, " +
        "(SELECT count(*) FROM t JOIN f USING (a, b)) AS n_correct) " +
        "SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_found AS BIGINT) AS n_found, " +
        "CAST(n_correct AS BIGINT) AS n_correct, " +
        "CAST((n_correct * 1000) // greatest(n_found, 1) AS BIGINT) AS precision_pm, " +
        "CAST((n_correct * 1000) // greatest(n_true, 1) AS BIGINT) AS recall_pm FROM n", OpsGoldens) { (s, dir) =>
      Dedup.nearDupEval(docsTable(s, dir), n = 3, minJaccardPm = 200)
    },
    // cross-source duplication matrix: where near-dups come from — the
    // curation diagnostic that finds mirror/scraper source pairs. The pair
    // set (small, the dedup stage's output) is explicitly broadcast into
    // the doc-metadata joins, so the corpus-sized side never reshuffles.
    Gate.of("q_dup_source_matrix",
      s"WITH p AS (SELECT a, b FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/minhash/*.parquet')), " +
        "j AS (SELECT least(da.source, db.source) AS source_lo, greatest(da.source, db.source) AS source_hi " +
        "FROM p JOIN documents da ON p.a = da.doc_id JOIN documents db ON p.b = db.doc_id) " +
        "SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1, 2", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val src = docs.select(col("doc_id").cast("long").as("doc_id"),
        col("source"))
      val pairs = Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200)
        .select(col("a").cast("long"), col("b").cast("long"))
      broadcast(pairs)
        .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
        .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
    },
    // near-dup pairs → connected components → canonical-representative pick:
    // the row set a dedup pipeline actually consumes (WHERE is_keep = 1)
    Gate.of("q_dedup_clusters",
      fromOpsGolden("clusters", "doc_id, cluster_id, n_members, is_keep"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Dedup.dedupClusters(docs,
        Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200))
    },
    // same cluster contract through the alternating large-star/small-star
    // component algorithm (O(log² n) rounds — the long-chain-graph scale
    // path); gated by the SAME union-find golden as q_dedup_clusters
    Gate.of("q_dedup_clusters_star",
      fromOpsGolden("clusters", "doc_id, cluster_id, n_members, is_keep"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Dedup.dedupClusters(docs,
        Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200), star = true)
    },
    Gate.of("q_simhash_near_dup", fromOpsGolden("simhash", "a, b, hamming"), OpsGoldens) { (s, dir) =>
      Dedup.simHashNearDup(docsTable(s, dir), maxHamming = 7)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
    },
    // pairwise source-overlap estimation (mixture-contamination datasheet):
    // one k-min signature per source over its shingle UNION, agreement
    // estimator in-row on the |sources|-row broadcast self-join
    Gate.of("q_source_overlap",
      fromOpsGolden("srcover", "a, b, n_agree, jaccard_pm"), OpsGoldens) { (s, dir) =>
      Dedup.sourceOverlap(docsTable(s, dir), n = 3, k = 64)
    },
    // winnowing-fingerprint substring-overlap pairs (MOSS): the df cap
    // drops boilerplate fingerprints BEFORE the pair expansion
    Gate.of("q_winnow_dup", fromOpsGolden("winnow", "a, b, n_shared"), OpsGoldens) { (s, dir) =>
      Dedup.winnowNearDup(docsTable(s, dir), k = 8, w = 16,
        minShared = 2, maxDf = 32)
    },

    // ---- link graph / quality prior (PageRank family) -------------------
    // per-node in/out degrees over the deterministic md5-keyed link graph
    // (the parsed-anchor edge list a crawl pipeline feeds in) — restated
    // end-to-end in DuckDB SQL, hash parity via the first-32-bits-of-md5
    // discipline
    Gate.of("q_link_degrees",
      // link graph restated end-to-end: same md5 edge derivation, degrees
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "o AS (SELECT src AS doc_id, count(*) AS out_deg FROM e GROUP BY 1), " +
        "i AS (SELECT dst AS doc_id, count(*) AS in_deg FROM e GROUP BY 1) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, " +
        "CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg, " +
        "CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg " +
        "FROM documents d LEFT JOIN o USING (doc_id) LEFT JOIN i USING (doc_id)") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.degreeStats(docs.select(col("doc_id")), Graph.linkEdges(docs))
    },
    // integer micro-unit PageRank (10 iterations, damping 0.85): the
    // quality prior; bit-deterministic at any parallelism, gated by the
    // sequential-oracle golden
    Gate.of("q_pagerank", fromOpsGolden("pagerank", "doc_id, rank_micro"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.pageRank(docs.select(col("doc_id")), Graph.linkEdges(docs))
    },
    // co-citation pairs (docs linked from the same pages — mirror/template
    // family detection): fanout-capped BEFORE the quadratic pair explosion
    // (maxFanout=2 keeps the cap LIVE on the 1..3-fanout gate graph);
    // restated end-to-end in DuckDB including the cap
    Gate.of("q_cocitation",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "ok AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 2), " +
        "c AS (SELECT e.src, e.dst FROM e JOIN ok USING (src)) " +
        "SELECT CAST(l.dst AS BIGINT) AS a, CAST(r.dst AS BIGINT) AS b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM c l JOIN c r ON l.src = r.src AND l.dst < r.dst " +
        "GROUP BY 1, 2 HAVING count(*) >= 1") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.cocitation(Graph.linkEdges(docs), minShared = 1, maxFanout = 2)
    },
    // bibliographic coupling (sources sharing link targets — scraper-farm
    // / mirror grouping): in-degree-capped BEFORE the quadratic pair
    // explosion (maxInDeg=4 caps out ~40 head targets of the
    // preferential-attachment gate graph — the cap is exercised hard);
    // restated end-to-end in DuckDB including the cap
    Gate.of("q_coupling",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "ok AS (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 4), " +
        "c AS (SELECT e.src, e.dst FROM e JOIN ok USING (dst)) " +
        "SELECT CAST(l.src AS BIGINT) AS a, CAST(r.src AS BIGINT) AS b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM c l JOIN c r ON l.dst = r.dst AND l.src < r.src " +
        "GROUP BY 1, 2 HAVING count(*) >= 1") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.coupling(Graph.linkEdges(docs), minShared = 1, maxInDeg = 4)
    },
    // HITS hubs & authorities (5 iterations): link-farm vs canonical-
    // content separation; integer micro-unit L1 normalization per step,
    // bit-deterministic, gated by the sequential-oracle golden
    Gate.of("q_hits", fromOpsGolden("hits", "doc_id, auth_micro, hub_micro"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.hits(docs.select(col("doc_id")), Graph.linkEdges(docs))
    },
    // TrustRank: restart + dangling mass personalized to a trusted seed
    // set (the src0 docs) — authority flows outward from seeds, the spam-
    // demotion prior; same iterate, seed-gated teleport
    Gate.of("q_trustrank", fromOpsGolden("trustrank", "doc_id, rank_micro"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.pageRank(docs.select(col("doc_id")), Graph.linkEdges(docs),
        seeds = Some(docs.where(col("source") === "src0").select(col("doc_id"))))
    },
    // authority mass by source: PageRank rolled up to the corpus-mixing
    // grain — how much link authority each source contributes (DuckDB
    // restates the rollup independently over the pagerank golden)
    Gate.of("q_source_authority",
      "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(p.rank_micro) AS BIGINT) AS sum_rank_micro, " +
        "CAST(max(p.rank_micro) AS BIGINT) AS max_rank_micro " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/pagerank/*.parquet') p " +
        "JOIN documents d USING (doc_id) GROUP BY 1", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val pr = Graph.pageRank(docs.select(col("doc_id")), Graph.linkEdges(docs))
      docs.select(col("doc_id"), col("source")).join(pr, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("rank_micro")).cast("long").as("sum_rank_micro"),
          max(col("rank_micro")).cast("long").as("max_rank_micro"))
    },
    // nepotistic-link ratio by source (Davison 2000: intra-host links are
    // the link-spam axis — a source whose pages mostly cite themselves
    // manufactures its own authority): per-source outlink count, intra-
    // source count, and the per-mille ratio. Two metadata joins keyed on
    // src/dst against the (doc_id, source) projection — at corpus scale
    // both are plain keyed shuffle joins, no explosion anywhere
    Gate.of("q_link_nepotism",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "m AS (SELECT doc_id, source FROM documents) " +
        "SELECT ms.source AS source, CAST(count(*) AS BIGINT) AS n_links, " +
        "CAST(sum(CASE WHEN ms.source = md.source THEN 1 ELSE 0 END) AS BIGINT) AS n_intra, " +
        "CAST((sum(CASE WHEN ms.source = md.source THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS intra_pm " +
        "FROM e JOIN m ms ON e.src = ms.doc_id JOIN m md ON e.dst = md.doc_id " +
        "GROUP BY 1") { (s, dir) =>
      val docs = docsTable(s, dir)
      val e = Graph.linkEdges(docs)
      val meta = docs.select(col("doc_id").cast("long").as("doc_id"),
        col("source"))
      e.join(meta.select(col("doc_id").as("src"), col("source").as("s_src")),
          Seq("src"))
        .join(meta.select(col("doc_id").as("dst"), col("source").as("s_dst")),
          Seq("dst"))
        .groupBy(col("s_src").as("source"))
        .agg(count(lit(1)).cast("long").as("n_links"),
          sum(when(col("s_src") === col("s_dst"), 1L).otherwise(0L))
            .cast("long").as("n_intra"))
        .withColumn("intra_pm", expr("(n_intra * 1000L) div n_links"))
    },
    // redirect-chain resolution (301/canonical alias collapse before
    // URL-keyed dedup): pointer DOUBLING settles chains of length L in
    // ceil(log2 L) self-join rounds instead of L chain-walk rounds; the
    // derived alias map is acyclic by construction (dst < src), which is
    // also what makes the DuckDB recursive-CTE oracle terminate
    Gate.of("q_url_redirects",
      "WITH RECURSIVE d0 AS (SELECT doc_id, " +
        "('0x' || substr(md5(text || ':r'), 1, 8))::BIGINT AS h FROM documents), " +
        "f AS (SELECT doc_id AS src, h % doc_id AS dst FROM d0 " +
        "WHERE doc_id > 0 AND h % 1000 < 400), " +
        "walk AS (SELECT src AS doc_id, dst AS cur, 1 AS hops FROM f " +
        "UNION ALL SELECT w.doc_id, f2.dst, w.hops + 1 FROM walk w JOIN f f2 ON w.cur = f2.src), " +
        "term AS (SELECT doc_id, cur AS final_id, hops FROM walk " +
        "WHERE cur NOT IN (SELECT src FROM f)) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, " +
        "CAST(coalesce(t.final_id, d.doc_id) AS BIGINT) AS final_id, " +
        "CAST(coalesce(t.hops, 0) AS BIGINT) AS hops " +
        "FROM documents d LEFT JOIN term t USING (doc_id)") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.resolveRedirects(docs.select(col("doc_id")),
        Graph.redirectEdges(docs))
    },
    // top-k anchor terms per link target ("how the web titles each doc" —
    // canonical-page naming + anchor-spam exposure): one (dst, anchor)
    // count over the edge list, then a per-target top-3 window over the
    // df-collapsed aggregate, ties broken by anchor text (total order)
    Gate.of("q_anchor_text",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':a' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':a0'), 1, 8))::BIGINT AS h0, " +
        "regexp_split_to_array(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+') AS toks " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j) " +
        "WHERE length(trim(d.text)) > 0), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst, " +
        "toks[CAST(h % len(toks) AS INT) + 1] AS anchor FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "c AS (SELECT dst AS doc_id, anchor, count(*) AS n_mentions FROM e GROUP BY 1, 2), " +
        "rk AS (SELECT doc_id, anchor, n_mentions, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY n_mentions DESC, anchor ASC) AS rnk FROM c) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, anchor, " +
        "CAST(n_mentions AS BIGINT) AS n_mentions, CAST(rnk AS BIGINT) AS rnk " +
        "FROM rk WHERE rnk <= 3") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.topAnchors(Graph.anchorEdges(docs), k = 3)
    },
    // alias-chain depth histogram over the resolved redirect map — the
    // datasheet row that sizes the doubling-round count (max hops →
    // ceil(log2) rounds) and watches alias sprawl between crawls
    Gate.of("q_redirect_stats",
      "WITH RECURSIVE d0 AS (SELECT doc_id, " +
        "('0x' || substr(md5(text || ':r'), 1, 8))::BIGINT AS h FROM documents), " +
        "f AS (SELECT doc_id AS src, h % doc_id AS dst FROM d0 " +
        "WHERE doc_id > 0 AND h % 1000 < 400), " +
        "walk AS (SELECT src AS doc_id, dst AS cur, 1 AS hops FROM f " +
        "UNION ALL SELECT w.doc_id, f2.dst, w.hops + 1 FROM walk w JOIN f f2 ON w.cur = f2.src), " +
        "term AS (SELECT doc_id, cur AS final_id, hops FROM walk " +
        "WHERE cur NOT IN (SELECT src FROM f)), " +
        "res AS (SELECT d.doc_id, coalesce(t.final_id, d.doc_id) AS final_id, " +
        "coalesce(t.hops, 0) AS hops FROM documents d LEFT JOIN term t USING (doc_id)) " +
        "SELECT CAST(hops AS BIGINT) AS hops, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT final_id) AS BIGINT) AS n_targets FROM res GROUP BY 1") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.resolveRedirects(docs.select(col("doc_id")),
          Graph.redirectEdges(docs))
        .groupBy("hops")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("final_id")).cast("long").as("n_targets"))
    },
    // anchor-uniformity spam flag: targets whose inlink anchors are
    // dominated by one term (link-farm boost signal) — per-target rollup
    // + one join-back for the dominant anchor, no window
    Gate.of("q_anchor_spam",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':a' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':a0'), 1, 8))::BIGINT AS h0, " +
        "regexp_split_to_array(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+') AS toks " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j) " +
        "WHERE length(trim(d.text)) > 0), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst, " +
        "toks[CAST(h % len(toks) AS INT) + 1] AS anchor FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "c AS (SELECT dst AS doc_id, anchor, count(*) AS n FROM e GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, sum(n) AS n_mentions, max(n) AS top_n FROM c GROUP BY 1) " +
        "SELECT CAST(c.doc_id AS BIGINT) AS doc_id, " +
        "CAST(t.n_mentions AS BIGINT) AS n_mentions, CAST(t.top_n AS BIGINT) AS top_n, " +
        "min(c.anchor) AS top_anchor, " +
        "CAST((t.top_n * 1000) // t.n_mentions AS BIGINT) AS top_share_pm, " +
        "(t.n_mentions >= 3 AND (t.top_n * 1000) // t.n_mentions >= 600) AS spam_flag " +
        "FROM c JOIN t USING (doc_id) WHERE c.n = t.top_n " +
        "GROUP BY 1, 2, 3, 5, 6") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.anchorSpam(Graph.anchorEdges(docs),
        minMentions = 3, minSharePm = 600)
    },
    // exact radius-2 in-neighborhood / truncated harmonic centrality
    // (HyperBall's quantity computed exactly while exactness is affordable):
    // hub mids are dropped before the 2-hop self-join by an in-degree cap
    // (maxMidIn=4 keeps the cap LIVE on the preferential-attachment gate
    // graph, same discipline as q_coupling)
    Gate.of("q_harmonic_2hop",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "d1 AS (SELECT dst AS doc_id, count(*) AS n1 FROM e GROUP BY 1), " +
        "ok AS (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 4), " +
        "two0 AS (SELECT DISTINCT a.src AS w, b.dst AS v FROM e a " +
        "JOIN ok ON a.dst = ok.dst JOIN e b ON a.dst = b.src WHERE a.src <> b.dst), " +
        "two AS (SELECT t.w, t.v FROM two0 t LEFT JOIN e x " +
        "ON t.w = x.src AND t.v = x.dst WHERE x.src IS NULL), " +
        "d2 AS (SELECT v AS doc_id, count(*) AS n2 FROM two GROUP BY 1) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, " +
        "CAST(coalesce(d1.n1, 0) AS BIGINT) AS n1, " +
        "CAST(coalesce(d2.n2, 0) AS BIGINT) AS n2, " +
        "CAST(coalesce(d1.n1, 0) * 1000000 + coalesce(d2.n2, 0) * 500000 AS BIGINT) AS harmonic_micro " +
        "FROM documents d LEFT JOIN d1 USING (doc_id) LEFT JOIN d2 USING (doc_id)") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.neighborhood2(docs.select(col("doc_id")),
        Graph.linkEdges(docs), maxMidIn = 4)
    },
    // log2-bucketed in/out-degree histogram — the corpus-datasheet
    // power-law check; integer bit-length bucketing (no float log2 edge
    // cases), restated verbatim in DuckDB
    Gate.of("q_degree_hist",
      "WITH e0 AS (SELECT d.doc_id AS src, r.j, " +
        "('0x' || substr(md5(d.text || ':' || r.j::VARCHAR), 1, 8))::BIGINT AS h, " +
        "('0x' || substr(md5(d.text || ':0'), 1, 8))::BIGINT AS h0 " +
        "FROM documents d CROSS JOIN range(0,3) AS r(j)), " +
        "e AS (SELECT DISTINCT src, h % (src + 1) AS dst FROM e0 " +
        "WHERE j < 1 + (h0 % 3) AND h % (src + 1) <> src), " +
        "o AS (SELECT src AS doc_id, count(*) AS dg FROM e GROUP BY 1), " +
        "i AS (SELECT dst AS doc_id, count(*) AS dg FROM e GROUP BY 1), " +
        "deg AS (SELECT d.doc_id, coalesce(o.dg, 0) AS out_deg, coalesce(i.dg, 0) AS in_deg " +
        "FROM documents d LEFT JOIN o USING (doc_id) LEFT JOIN i USING (doc_id)), " +
        "b AS (SELECT 'in' AS deg_kind, CASE WHEN in_deg = 0 THEN 0 ELSE length(bin(in_deg)) END AS bucket FROM deg " +
        "UNION ALL SELECT 'out', CASE WHEN out_deg = 0 THEN 0 ELSE length(bin(out_deg)) END FROM deg) " +
        "SELECT deg_kind, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_nodes FROM b GROUP BY 1, 2") { (s, dir) =>
      val docs = docsTable(s, dir)
      Graph.degreeHistogram(
        Graph.degreeStats(docs.select(col("doc_id")), Graph.linkEdges(docs)))
    },
    // incremental ingest dedup: the batch = the whole table, the committed
    // index = hashes of every 3rd doc — returns first-seen genuinely-new docs
    Gate.of("q_incremental_dedup",
      "WITH hashed AS (SELECT doc_id, md5(text) AS content_md5 FROM documents), " +
        "committed AS (SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id % 3 = 0), " +
        "firsts AS (SELECT content_md5, min(doc_id) AS doc_id FROM hashed GROUP BY 1) " +
        "SELECT CAST(f.doc_id AS BIGINT) AS doc_id, f.content_md5 FROM firsts f " +
        "ANTI JOIN committed c ON f.content_md5 = c.content_md5") { (s, dir) =>
      val docs = docsTable(s, dir)
      val committed = docs.where(col("doc_id") % 3 === 0)
        .select(md5(col("text").cast("binary")).as("content_md5")).distinct()
      Dedup.incrementalNew(docs, committed)
    },
    // the same contract through the Bloom runtime-filter scale path: the
    // index is pruned map-side by a sketch of the batch hashes; false
    // positives only cost join probes, so the result is identical
    Gate.of("q_incremental_dedup_bloom",
      "WITH hashed AS (SELECT doc_id, md5(text) AS content_md5 FROM documents), " +
        "committed AS (SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id % 3 = 0), " +
        "firsts AS (SELECT content_md5, min(doc_id) AS doc_id FROM hashed GROUP BY 1) " +
        "SELECT CAST(f.doc_id AS BIGINT) AS doc_id, f.content_md5 FROM firsts f " +
        "ANTI JOIN committed c ON f.content_md5 = c.content_md5") { (s, dir) =>
      val docs = docsTable(s, dir)
      val committed = docs.where(col("doc_id") % 3 === 0)
        .select(md5(col("text").cast("binary")).as("content_md5")).distinct()
      Dedup.incrementalNewBloom(docs, committed, expectedBatch = 1000L)
    },
    // incremental NEAR-dup vs a committed signature index: the batch
    // (doc_id % 3 != 0) near-dedups against the committed corpus's
    // nearDupIndex WITHOUT touching the committed text — candidates via
    // LSH band keys, verified by integer-exact signature agreement
    Gate.of("q_incremental_near_dup",
      fromOpsGolden("incnd", "doc_id, match_id, agree_pm, is_new"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Dedup.incrementalNearNew(
        docs.where(col("doc_id") % 3 =!= 0),
        Dedup.nearDupIndex(docs.where(col("doc_id") % 3 === 0)),
        minAgreePm = 500)
    },
    // duplicated-substring detection: per-doc duplicated-window fraction
    Gate.of("q_dup_windows",
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "b AS (SELECT doc_id, toks, len(toks) - 20 + 1 AS n_windows FROM t WHERE len(toks) >= 20), " +
        "e AS (SELECT doc_id, toks, unnest(range(0, n_windows)) AS i FROM b), " +
        "w AS (SELECT doc_id, md5(array_to_string(list_slice(toks, i + 1, i + 20), ' ')) AS h FROM e), " +
        "dh AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1), " +
        "d AS (SELECT doc_id, count(*) AS n_dup FROM w SEMI JOIN dh USING (h) GROUP BY 1) " +
        "SELECT CAST(b.doc_id AS BIGINT) AS doc_id, CAST(b.n_windows AS BIGINT) AS n_windows, " +
        "CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_windows, " +
        "CAST((coalesce(d.n_dup, 0) * 1000) // b.n_windows AS BIGINT) AS dup_pm " +
        "FROM b LEFT JOIN d USING (doc_id)") { (s, dir) =>
      Dedup.dupWindows(docsTable(s, dir), win = 20)
    },
    // duplicated-segment REMOVAL (ExactSubstr discipline): corpus-wide
    // first occurrence kept, later copies cut, cleaned text md5-pinned
    Gate.of("q_doc_seg_clean",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, CAST((len(toks) + 19) // 20 AS BIGINT) AS n_segs FROM t), " +
        "e AS (SELECT doc_id, toks, unnest(range(0, n_segs)) AS i FROM c WHERE n_segs > 0), " +
        "s AS (SELECT doc_id, i, array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' ') AS seg, " +
        "len(list_slice(toks, i*20 + 1, i*20 + 20)) AS seg_len FROM e), " +
        "w AS (SELECT doc_id, i, seg, seg_len, count(*) OVER (PARTITION BY md5(seg)) AS tot, " +
        "row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, i) AS rn FROM s), " +
        "k AS (SELECT doc_id, count(*) AS n_kept, sum(seg_len) AS clean_toks, " +
        "md5(string_agg(seg, ' ' ORDER BY i)) AS clean_md5 FROM w WHERE tot = 1 OR rn = 1 GROUP BY doc_id) " +
        "SELECT CAST(c.doc_id AS BIGINT) AS doc_id, c.n_segs, " +
        "CAST(c.n_segs - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed, " +
        "CAST(coalesce(k.clean_toks, 0) AS BIGINT) AS clean_n_tokens, " +
        "coalesce(k.clean_md5, md5('')) AS clean_md5 " +
        "FROM c LEFT JOIN k USING (doc_id)") { (s, dir) =>
      Dedup.removeDupSegments(docsTable(s, dir), seg = 20)
    },
    // full variable-alignment ExactSubstr (Lee et al. 2022): the maximal
    // duplicated spans themselves, gated against a sequential SUFFIX-ARRAY
    // golden (independent construction — the engine uses the equivalent
    // stride-1 window union)
    Gate.of("q_exact_substr",
      fromOpsGolden("exactsub", "doc_id, start_tok, end_tok, len_toks"), OpsGoldens) { (s, dir) =>
      Dedup.exactSubstrSpans(docsTable(s, dir), minLen = 20)
    },
    // SemDeDup cluster-then-dedup over the embeddings (+ the same planted
    // perturbed copies as q_emb_near_dup, so true semantic dups exist)
    Gate.of("q_semantic_dedup",
      fromOpsGolden("semdedup", "vec_id, cell, dup_of, keep"), OpsGoldens) { (s, dir) =>
      val embs = embTable(s, dir)
      Similarity.semanticDedup(
        embs.select(col("vec_id").cast("long"), col("embedding"))
          .unionByName(Similarity.perturbed(embs, n = 20)),
        minCosinePm = 990, nCells = 32, trainIters = 2)
    },
    // benchmark decontamination: planted eval set = mid-document excerpts
    // of every 97th doc; flag every doc sharing a 5-gram with any of them
    Gate.of("q_decontam",
      fromOpsGolden("decontam", "doc_id, n_overlap, contaminated"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val bench = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 51, 400).as("text"))
      Dedup.decontaminate(docs, bench, n = 5)
    },
    // BPE tokenizer training: learn the first 40 merges from corpus word
    // counts (the tokenize stage of the pipeline; merge loop is driver-side
    // over the bounded word-count table, the industrial split)
    Gate.of("q_bpe_merges",
      fromOpsGolden("bpe", "rank, \"left\", \"right\", n_occ"), OpsGoldens) { (s, dir) =>
      TextOps.bpeMerges(docsTable(s, dir), nMerges = 40, maxVocab = 1 << 16)
    },
    // WordPiece (BERT) trainer: same merge loop, likelihood-scored by exact
    // BigInt cross-multiplication — the other industrial tokenizer trainer
    Gate.of("q_wordpiece_merges",
      fromOpsGolden("wpm", "rank, \"left\", \"right\", n_occ, l_cnt, r_cnt"), OpsGoldens) { (s, dir) =>
      TextOps.wordpieceMerges(docsTable(s, dir), nMerges = 40, maxVocab = 1 << 16)
    },
    // the remaining Gopher A1.1 text rules (bullet/ellipsis line fractions,
    // symbol ratio, required stopwords) — same deterministic line derivation
    // as q_doc_c4_clean so the line rules are live on the word-soup corpus
    Gate.of("q_doc_gopher_rules",
      "WITH d AS (SELECT doc_id, replace(replace(replace(text, ' table ', '.' || chr(10)), " +
        "' row ', chr(10) || '- '), ' fast ', '...' || chr(10)) AS text FROM documents), " +
        "l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d), " +
        "t AS (SELECT doc_id, text, lines, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM l) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len(lines) AS BIGINT) AS n_lines, " +
        "CAST(len(list_filter(lines, x -> starts_with(ltrim(x), '•') OR starts_with(ltrim(x), '- ') " +
        "OR starts_with(ltrim(x), '* '))) * 1000 // greatest(len(lines), 1) AS BIGINT) AS bullet_pm, " +
        "CAST(len(list_filter(lines, x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…'))) " +
        "* 1000 // greatest(len(lines), 1) AS BIGINT) AS ellipsis_pm, " +
        "CAST(((length(text) - length(replace(text, '#', ''))) + " +
        "(length(text) - length(replace(text, '...', ''))) // 3) * 1000 " +
        "// greatest(len(toks), 1) AS BIGINT) AS symbol_pm, " +
        "CAST(len(list_intersect(list_distinct(toks), " +
        "['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords FROM t") { (s, dir) =>
      TextOps.gopherTextRules(docsTable(s, dir)
      .withColumn("text", regexp_replace(regexp_replace(regexp_replace(
        col("text"), " table ", ".\n"), " row ", "\n- "), " fast ", "...\n")))
    },
    // tokenizer inference with the merges q_bpe_merges trains: collect the
    // bounded merge table driver-side (nMerges rows), broadcast, pure map
    Gate.of("q_bpe_encode",
      fromOpsGolden("bpeenc", "doc_id, n_words, n_pieces, pieces_md5"), OpsGoldens) { (s, dir) =>
      val merges = TextOps.bpeMerges(docsTable(s, dir), nMerges = 40,
          maxVocab = 1 << 16)
        .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(docsTable(s, dir), merges)
    },
    // tokenizer fertility / compression eval per source (pieces-per-word,
    // chars-per-piece in exact integer per-mille) — the readout that drives
    // multilingual mixture and vocab-size decisions; composes the encode
    // stream with the doc spine in one plan (encode is pure map work, the
    // only exchange is the per-source aggregate)
    Gate.of("q_tokenizer_fertility",
      // fertility composes the bpeenc golden with the live documents table in
      // plain ANSI aggregates (integer // division == Spark div on the
      // non-negative sums here)
      "WITH e AS (SELECT doc_id, n_words, n_pieces " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/bpeenc/*.parquet')), " +
        "s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, " +
        "CAST(length(text) AS BIGINT) AS n_chars FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(e.n_words) AS BIGINT) AS n_words, " +
        "CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces, " +
        "CAST(sum(s.n_chars) AS BIGINT) AS n_chars, " +
        "CAST(sum(e.n_pieces) * 1000 // sum(e.n_words) AS BIGINT) AS fertility_pm, " +
        "CAST(sum(s.n_chars) * 1000 // sum(e.n_pieces) AS BIGINT) AS chars_per_piece_pm " +
        "FROM e JOIN s USING (doc_id) GROUP BY source", OpsGoldens) { (s, dir) =>
      val merges = TextOps.bpeMerges(docsTable(s, dir), nMerges = 40,
          maxVocab = 1 << 16)
        .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = TextOps.bpeEncode(docsTable(s, dir), merges)
      val spine = docsTable(s, dir).select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      enc.join(spine, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"), sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("n_words").cast("long").as("n_words"),
          col("n_pieces").cast("long").as("n_pieces"),
          col("n_chars").cast("long").as("n_chars"),
          expr("n_pieces * 1000 div n_words").cast("long").as("fertility_pm"),
          expr("n_chars * 1000 div n_pieces").cast("long").as("chars_per_piece_pm"))
    },
    // WordPiece inference with the vocab q_wordpiece_merges' trainer builds
    // (corpus alphabet + merge tokens): greedy longest-match-first with ##
    // continuations — the BERT-style counterpart of q_bpe_encode (and the
    // segmentation rule that DIVERGES from BPE's rank-replay; OpsSpec pins a
    // textbook divergence vector). Bounded vocab broadcast, pure map.
    Gate.of("q_wordpiece_encode",
      fromOpsGolden("wpenc", "doc_id, n_words, n_pieces, pieces_md5"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      TextOps.wordpieceEncode(docs,
        TextOps.wordpieceVocab(docs, nMerges = 40, maxVocab = 1 << 16))
    },
    // Unigram-LM (SentencePiece) trainer — the third tokenizer trainer:
    // pieces selected globally by hard-EM segmentation usage (exact BigInt
    // Viterbi), not accreted pairwise like BPE/WordPiece. Same scale shape:
    // one capped word-count shuffle, then a bounded driver loop.
    Gate.of("q_unigram_vocab", fromOpsGolden("ugv", "rank, piece, n_occ"), OpsGoldens) { (s, dir) =>
      TextOps.unigramVocab(docsTable(s, dir), vocabSize = 120,
        maxPieceLen = 5, seedSize = 400, emIters = 3, maxVocab = 1 << 16)
    },
    // Unigram inference with the vocab q_unigram_vocab trains: exact
    // Viterbi per word (the segmentation that can differ from BOTH BPE's
    // rank-replay and WordPiece's greedy longest-match — OpsSpec pins a
    // three-way divergence vector). Bounded vocab broadcast, pure map.
    Gate.of("q_unigram_encode",
      fromOpsGolden("ugenc", "doc_id, n_words, n_pieces, pieces_md5"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val vocab = TextOps.unigramVocab(docs, vocabSize = 120,
          maxPieceLen = 5, seedSize = 400, emIters = 3, maxVocab = 1 << 16)
        .orderBy("rank").collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      TextOps.unigramEncode(docs, vocab)
    },
    // C4 line-level cleaning (terminal punctuation, >= 5 words, javascript /
    // lorem-ipsum / curly-brace page rules) — pure in-row work, zero shuffle.
    // The word-soup gate corpus has no line structure, so the gate derives
    // it deterministically (every ' table ' becomes a sentence break) —
    // keeps the punctuation/word-count/keep rules LIVE at the driver gate
    Gate.of("q_doc_c4_clean",
      "WITH d AS (SELECT doc_id, replace(text, ' table ', '.' || chr(10)) AS text FROM documents), " +
        "l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d), " +
        "k AS (SELECT doc_id, text, lines, list_filter(lines, x -> length(trim(x)) > 0 " +
        "AND right(trim(x), 1) IN ('.', '!', '?', '\"') " +
        "AND len(regexp_split_to_array(trim(x), '[ \\t\\n\\x0B\\f\\r]+')) >= 5 " +
        "AND NOT contains(lower(trim(x)), 'javascript')) AS kept FROM l) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len(lines) AS BIGINT) AS n_lines, " +
        "CAST(len(kept) AS BIGINT) AS n_kept, " +
        "(len(kept) >= 3 AND NOT contains(text, '{') " +
        "AND NOT contains(lower(coalesce(array_to_string(kept, chr(10)), '')), 'lorem ipsum')) AS keep, " +
        "md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5 FROM k") { (s, dir) =>
      TextOps.c4Clean(docsTable(s, dir)
      .withColumn("text", regexp_replace(col("text"), " table ", ".\n")))
    },
    // model-based quality filtering (GPT-3 §A / CCNet discipline): a
    // multinomial Naive Bayes classifier trained on a labeled seed set
    // (every 3rd doc; positive = source 'src0') and applied corpus-wide —
    // integer micro-nat log-likelihoods, bit-exact at any parallelism
    Gate.of("q_doc_nb_quality",
      fromOpsGolden("nb", "doc_id, n_toks, lp1_micro, lp0_micro, margin_micro, nb_label"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val labeled = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          when(col("source") === "src0", 1).otherwise(0).as("label"))
      TextOps.nbQualityScore(docs, labeled)
    },
    // URL canonicalization: the corpus model carries no URL column, so the
    // gate derives one deterministically per doc with every rule LIVE
    // (mixed-case scheme/host, www., default + non-default ports, tracking
    // params, param order, fragments, multi-part TLDs)
    // domain opt-out compliance over the same deterministic URL profile —
    // blocks the example.com registrable domain (every %3==1 doc) and one
    // co.uk site, so both outcomes are live
    Gate.of("q_domain_optout",
      UrlOracleCtes +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, domain, " +
        "CAST(CASE WHEN domain IN ('example.com', 'src00.co.uk') THEN 1 ELSE 0 END AS BIGINT) AS opted_out FROM w2") { (s, dir) =>
      UrlOps.optOut(
        UrlOps.urlProfile(urlDocs(s, dir)),
        Seq("example.com", "src00.co.uk"))
        .select(col("doc_id").cast("long").as("doc_id"), col("domain"),
          col("opted_out"))
    },
    // quality-aware canonical keeper: within each minhash near-dup cluster
    // keep the LONGEST member (ties → lowest id), not the lowest id
    Gate.of("q_dedup_best_keeper",
      s"WITH c AS (SELECT doc_id, cluster_id FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/clusters/*.parquet')), " +
        "j AS (SELECT c.doc_id, c.cluster_id, length(d.text) AS sc FROM c JOIN documents d USING (doc_id)), " +
        "r AS (SELECT doc_id, cluster_id, row_number() OVER (PARTITION BY cluster_id ORDER BY sc DESC, doc_id ASC) AS rn FROM j) " +
        "SELECT doc_id, cluster_id, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep FROM r", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Dedup.dedupClustersBy(docs,
        Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200),
        score = length(col("text")))
    },
    Gate.of("q_doc_url_norm",
      UrlOracleCtes +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, url_norm, scheme, host, domain FROM w2") { (s, dir) =>
      UrlOps.urlProfile(urlDocs(s, dir))
    },
    // registrable-domain rollup over the same canonical URLs
    Gate.of("q_domain_stats",
      UrlOracleCtes +
        "SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts FROM w2 GROUP BY domain") { (s, dir) =>
      UrlOps.domainStats(UrlOps.urlProfile(urlDocs(s, dir)))
    },
    // per-host politeness schedule over the same canonical URLs: fetch
    // order = md5 of doc id within host (ingest-order-independent), slot =
    // (seq-1) div 4 — the crawl-frontier sharding every fetcher runs; one
    // host-partitioned window exchange
    Gate.of("q_crawl_schedule",
      UrlOracleCtes +
        "SELECT doc_id, host, seq, CAST((seq - 1) // 4 AS BIGINT) AS slot FROM " +
        "(SELECT doc_id, host, CAST(row_number() OVER (PARTITION BY host " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS seq FROM w2) t") { (s, dir) =>
      UrlOps.crawlSchedule(UrlOps.urlProfile(urlDocs(s, dir)), perSlot = 4)
    },
    // multi-token PHRASE blocklist (C4 bad-phrases rule): exact
    // token-boundary positional counting, overlaps counted, drop on any
    // hit — phrases are live corpus bigrams so hits actually occur; runs
    // through the Aho–Corasick codegen expression (O(tokens) regardless
    // of dictionary size), gated against the same positional-count oracle
    Gate.of("q_phrase_blocklist",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "s AS (SELECT doc_id, len(toks) AS n, " +
        "(CASE WHEN len(toks) >= 2 THEN len(list_filter(range(1, len(toks)), " +
        "i -> toks[i:i+1] = ['slow', 'join'])) ELSE 0 END) + " +
        "(CASE WHEN len(toks) >= 2 THEN len(list_filter(range(1, len(toks)), " +
        "i -> toks[i:i+1] = ['batch', 'window'])) ELSE 0 END) + " +
        "(CASE WHEN len(toks) >= 3 THEN len(list_filter(range(1, len(toks) - 1), " +
        "i -> toks[i:i+2] = ['table', 'table', 'key'])) ELSE 0 END) AS n_hits FROM t) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_toks, " +
        "CAST(n_hits AS BIGINT) AS n_hits, n_hits > 0 AS drop_flag FROM s") { (s, dir) =>
      TextOps.phraseBlocklistAc(
      docsTable(s, dir),
      Seq(Seq("slow", "join"), Seq("batch", "window"),
        Seq("table", "table", "key")))
    },
    // word-blocklist filter (RefinedWeb/C4 bad-words rule) — the list words
    // are live corpus vocabulary so the per-mille threshold actually fires
    Gate.of("q_doc_blocklist",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "s AS (SELECT doc_id, len(toks) AS n, " +
        "len(list_filter(toks, x -> list_contains(['slow', 'broken', 'stale'], lower(x)))) AS nb FROM t) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_toks, " +
        "CAST(nb AS BIGINT) AS n_blocked, " +
        "CAST(CASE WHEN n > 0 THEN nb * 1000 // n ELSE 0 END AS BIGINT) AS blocked_pm, " +
        "(CASE WHEN n > 0 THEN nb * 1000 // n ELSE 0 END) > 25 AS blocked_flag FROM s") { (s, dir) =>
      TextOps.blocklistFilter(
      docsTable(s, dir), Seq("slow", "broken", "stale"), maxPm = 25)
    },
    // Z-order (Morton) layout key over (n_chars, doc_id) — the
    // multi-dimensional clustering that makes parquet footer min-max
    // statistics prune files under predicates on EITHER column; exact
    // integer bucket + interleave arithmetic, restated verbatim in DuckDB
    Gate.of("q_zorder_key",
      "WITH s AS (SELECT min(n_chars) AS mn1, max(n_chars) AS mx1, " +
        "min(doc_id) AS mn2, max(doc_id) AS mx2 FROM documents), " +
        "b AS (SELECT doc_id, ((n_chars - mn1) * 256) // (mx1 - mn1 + 1) AS b1, " +
        "((doc_id - mn2) * 256) // (mx2 - mn2 + 1) AS b2 FROM documents, s) " +
        "SELECT doc_id, CAST(" +
        (0 until 8).map(i =>
          s"(((b1 >> $i) & 1) << ${2 * i + 1}) | (((b2 >> $i) & 1) << ${2 * i})")
          .mkString(" | ") +
        " AS BIGINT) AS zkey FROM b") { (s, dir) =>
      graft.ops.Layout.zorderKey(docsTable(s, dir), "n_chars", "doc_id",
        bits = 8).select(col("doc_id"), col("zkey"))
    },
    // BM25 top-k corpus retrieval over the fixed probe set — the READ-side
    // family (corpus audit / decontamination triage / seed-set search);
    // query terms ship map-side, only term HITS ever shuffle, scores are
    // integer micro-nats via the codegen bm25_micro expression
    Gate.of("q_bm25_topk",
      fromOpsGolden("bm25", "q_id, doc_id, rank, score_micro"), OpsGoldens) { (s, dir) =>
      Retrieval.bm25TopK(docsTable(s, dir), Retrieval.GateQueries, k = 10)
        .select(col("q_id"), col("doc_id"),
          col("rank").cast("long").as("rank"), col("score_micro"))
    },
    // retrieval-quality eval: reciprocal rank of the first conjunctive
    // (all-terms) match per probe + match count in the top-k — the ranked
    // table broadcasts into the corpus scan, relevance only evaluated on
    // ranked candidates; DuckDB recomputes relevance from raw text over
    // the bm25 golden
    Gate.of("q_retrieval_mrr",
      s"WITH r AS (SELECT q_id, doc_id, rank FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/bm25/*.parquet')), " +
        "q AS (SELECT * FROM (VALUES (0, 'join hash batch'), (1, 'customer filter'), " +
        "(2, 'scan column row'), (3, 'slow small join'), (4, 'zzz_absent'), " +
        "(5, 'hash hash join')) t(q_id, qtext)), " +
        "rel AS (SELECT r.q_id, r.rank FROM r JOIN documents d ON r.doc_id = d.doc_id " +
        "JOIN q ON q.q_id = r.q_id " +
        "WHERE len(list_filter(list_distinct(regexp_split_to_array(trim(q.qtext), '[ \\t\\n\\x0B\\f\\r]+')), " +
        "t -> NOT list_contains(regexp_split_to_array(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+'), t))) = 0), " +
        "agg AS (SELECT q_id, count(*) AS n_rel_topk, min(rank) AS fr FROM rel GROUP BY 1) " +
        "SELECT CAST(q.q_id AS BIGINT) AS q_id, " +
        "CAST(coalesce(a.n_rel_topk, 0) AS BIGINT) AS n_rel_topk, " +
        "CAST(coalesce(a.fr, 0) AS BIGINT) AS first_rel_rank, " +
        "CAST(CASE WHEN a.fr IS NOT NULL THEN 1000000 // a.fr ELSE 0 END AS BIGINT) AS rr_micro " +
        "FROM q LEFT JOIN agg a USING (q_id)", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      Retrieval.mrrEval(docs,
        Retrieval.bm25TopK(docs, Retrieval.GateQueries, k = 10),
        Retrieval.GateQueries)
    },
    // exact multi-token phrase search over positional postings — the
    // adjacency query bag-of-words BM25 cannot express; FULL ANSI-SQL gate
    // (DuckDB slides the token window directly, the engine intersects
    // offset-aligned postings — two different algorithms, same rows)
    Gate.of("q_phrase_search",
      // full restatement of phraseSearch: DuckDB slides the token window
      // directly (toks[i:i+len-1] = phrase), a genuinely different algorithm
      // from the engine's offset-aligned positional-posting intersection
      "WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents), " +
        "q AS (SELECT * FROM (VALUES (0, 'table hash'), (1, 'slow hash batch'), " +
        "(2, 'a a'), (3, 'zzz absent phrase'), (4, 'a a the'), " +
        "(5, 'part filter scan')) v(q_id, ph)), " +
        "qa AS (SELECT CAST(q_id AS BIGINT) AS q_id, " +
        "regexp_split_to_array(trim(ph), '[ \\t\\n\\x0B\\f\\r]+') AS pt FROM q), " +
        "hits AS (SELECT qa.q_id, t.doc_id, u.i " +
        "FROM t CROSS JOIN qa CROSS JOIN unnest(range(1, len(t.toks) - len(qa.pt) + 2)) AS u(i) " +
        "WHERE t.toks[u.i:u.i + len(qa.pt) - 1] = qa.pt) " +
        "SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hits, " +
        "CAST(min(i) AS BIGINT) AS first_pos FROM hits GROUP BY 1, 2") { (s, dir) =>
      Retrieval.phraseSearch(docsTable(s, dir), Retrieval.GatePhrases)
    },
    // windowed proximity search over the SAME probes as BM25 — the
    // middle relevance predicate between bag-of-words and exact adjacency
    // (all distinct probe terms inside one 8-token window); FULL ANSI-SQL
    // gate via DuckDB's sliding list_has_all window
    Gate.of("q_window_search",
      // full restatement of windowSearch: DuckDB slides the 8-token window
      // directly (list_has_all over toks[s:s+7]) vs the engine's
      // witness-start posting aggregation
      "WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents), " +
        "q AS (SELECT * FROM (VALUES (0, 'join hash batch'), (1, 'customer filter'), " +
        "(2, 'scan column row'), (3, 'slow small join'), (4, 'zzz_absent'), " +
        "(5, 'hash hash join')) v(q_id, qtext)), " +
        "qa AS (SELECT CAST(q_id AS BIGINT) AS q_id, " +
        "list_distinct(regexp_split_to_array(trim(qtext), '[ \\t\\n\\x0B\\f\\r]+')) AS pt FROM q), " +
        "hits AS (SELECT qa.q_id, t.doc_id, u.s " +
        "FROM t CROSS JOIN qa CROSS JOIN unnest(range(1, len(t.toks) + 1)) AS u(s) " +
        "WHERE list_has_all(t.toks[u.s:u.s + 7], qa.pt)) " +
        "SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_windows, " +
        "CAST(min(s) AS BIGINT) AS first_pos FROM hits GROUP BY 1, 2") { (s, dir) =>
      Retrieval.windowSearch(docsTable(s, dir), Retrieval.GateQueries,
        window = 8)
    },
    // hybrid retrieval: BM25 ⊕ dense-ANN via reciprocal-rank fusion —
    // query q pairs the q-th text probe with the q-th document's
    // embedding (a real system's (text, vector) query pairs, derived
    // deterministically from the corpus here); the DuckDB oracle
    // recomputes the whole fusion in ANSI SQL over the two goldens
    Gate.of("q_hybrid_rrf_topk",
      s"WITH s AS (SELECT q_id, doc_id, rank FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/bm25/*.parquet')), " +
        s"d AS (SELECT q_id, n_id AS doc_id, rank FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/ann_brute/*.parquet')), " +
        "u AS (SELECT q_id, doc_id, 1000000 // (60 + rank) AS c FROM s " +
        "UNION ALL SELECT q_id, doc_id, 1000000 // (60 + rank) AS c FROM d), " +
        "f AS (SELECT q_id, doc_id, sum(c) AS rrf_micro FROM u GROUP BY 1, 2), " +
        "r AS (SELECT q_id, doc_id, rrf_micro, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rank FROM f) " +
        "SELECT CAST(q_id AS BIGINT) AS q_id, CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(rank AS BIGINT) AS rank, CAST(rrf_micro AS BIGINT) AS rrf_micro " +
        "FROM r WHERE rank <= 10", OpsGoldens) { (s, dir) =>
      val sparse = Retrieval.bm25TopK(docsTable(s, dir),
          Retrieval.GateQueries, k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteTopK(embTable(s, dir), nQueries = 20, k = 5)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
    },
    // per-source token-distribution KL drift vs the corpus (micro-nats)
    Gate.of("q_source_kl",
      fromOpsGolden("srckl", "source, n_toks, kl_micro_scaled, kl_micro_per_tok"), OpsGoldens) { (s, dir) =>
      TextOps.sourceKl(docsTable(s, dir))
    },
    // Count-Min sketch point queries for a fixed token set (10 live corpus
    // heavy-ish hitters + one absent token) — the bounded-state companion
    // to q_hll_shingles for when the key space is too large to groupBy
    Gate.of("q_cms_tokens",
      "WITH t AS (SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END) AS tok FROM documents), " +
        "h AS (SELECT ('0x' || substr(md5(CAST(r.range AS VARCHAR) || '|' || tok), 1, 8))::BIGINT % 1024 AS c, " +
        "r.range AS r FROM t, range(0, 4) r), " +
        "regs AS (SELECT r, c, count(*) AS reg FROM h GROUP BY 1, 2), " +
        "q AS (SELECT unnest(['join','hash','row','batch','scan','column','customer','filter','small','slow','zzz_absent']) AS tok), " +
        "qh AS (SELECT tok, r.range AS r, " +
        "('0x' || substr(md5(CAST(r.range AS VARCHAR) || '|' || tok), 1, 8))::BIGINT % 1024 AS c " +
        "FROM q, range(0, 4) r) " +
        "SELECT tok, CAST(min(coalesce(regs.reg, 0)) AS BIGINT) AS cms_est " +
        "FROM qh LEFT JOIN regs ON qh.r = regs.r AND qh.c = regs.c GROUP BY tok") { (s, dir) =>
      Sketches.cmsTokenCounts(docsTable(s, dir),
      Seq("join", "hash", "row", "batch", "scan", "column", "customer",
        "filter", "small", "slow", "zzz_absent"))
    },
    // quality-ensemble keep decision — the FineWeb-style composition of a
    // model score (NB), token-shape signals (Gopher) and the blocklist in
    // ONE plan: the two in-row signal sets ride a single scan projection
    // and make exactly one exchange into the NB aggregate's partitioning
    Gate.of("q_quality_ensemble",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "s AS (SELECT doc_id, len(toks) AS n, " +
        "coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sumlen, " +
        "len(list_filter(toks, x -> list_contains(['slow', 'broken', 'stale'], lower(x)))) AS nb FROM t), " +
        "g AS (SELECT doc_id, n, sumlen * 1000 // greatest(n, 1) AS meanpm, " +
        "CASE WHEN n > 0 THEN nb * 1000 // n ELSE 0 END AS blockedpm FROM s), " +
        s"m AS (SELECT doc_id, nb_label FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/nb/*.parquet')) " +
        "SELECT CAST(g.doc_id AS BIGINT) AS doc_id, " +
        "(m.nb_label = 1 AND g.blockedpm <= 25 AND g.n >= 10 AND g.meanpm BETWEEN 3000 AND 10000) AS keep " +
        "FROM g JOIN m ON g.doc_id = m.doc_id", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val labeled = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          when(col("source") === "src0", 1).otherwise(0).as("label"))
      TextOps.qualityEnsemble(docs, labeled, Seq("slow", "broken", "stale"))
    },
    // encoding repair (ftfy discipline): the ASCII gate corpus gets
    // deterministic mojibake planted (%3: UTF-8-as-CP1252 'tÃ¡ble',
    // %7: CP1252-gap 'â€™'), plus a GENUINE accent on %5 docs that must
    // survive untouched and veto repair on docs carrying both
    Gate.of("q_doc_mojibake",
      fromOpsGolden("moji", "doc_id, changed, n_chars_before, n_chars_after, text_md5"), OpsGoldens) { (s, dir) =>
      val planted = docsTable(s, dir)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          regexp_replace(col("text"), " table ", " tÃ¡ble "))
          .otherwise(col("text")))
        .withColumn("text", when(col("doc_id") % 7 === 0,
          regexp_replace(col("text"), " row ", " rowâ€™s "))
          .otherwise(col("text")))
        .withColumn("text", when(col("doc_id") % 5 === 0,
          regexp_replace(col("text"), " fast ", " fást "))
          .otherwise(col("text")))
      TextOps.mojibakeRepair(planted)
    },
    // DSIR importance weights (Xie et al. 2023): hashed-bigram importance
    // log-weight of every doc toward the src0 target distribution
    Gate.of("q_doc_dsir",
      fromOpsGolden("dsir", "doc_id, n_feats, dsir_micro, dsir_micro_per_feat"), OpsGoldens) { (s, dir) =>
      TextOps.dsirWeights(docsTable(s, dir), col("source") === "src0")
    },
    // CCNet-style bigram-LM perplexity quality score, trained on the corpus
    // itself (integer micro-nats end to end — bit-stable at any parallelism)
    Gate.of("q_doc_lm_score",
      fromOpsGolden("lm", "doc_id, n_trans, lp_micro_tot, lp_micro_per_tok"), OpsGoldens) { (s, dir) =>
      TextOps.lmScore(docsTable(s, dir), vocabSize = 1 << 14, maxBigrams = 1 << 16)
    },
    // token-distribution Shannon entropy per doc (micro-nats) — the
    // histogram-shaped gibberish/spam signal next to the LM scores; per-type
    // terms round to longs BEFORE summing (codegen entropy_term_micro), so
    // the gate is the exact sequential restatement
    Gate.of("q_doc_entropy",
      fromOpsGolden("entropy", "doc_id, n_toks, n_types, h_micro_tot, h_micro_per_tok"), OpsGoldens) { (s, dir) =>
      TextOps.tokenEntropy(docsTable(s, dir))
    },
    // CCNet head/middle/tail terciles per source: milli-nat-binned
    // value-at-rank cutoffs (bin-bounded per-source window), head = the
    // training-quality slice — the oracle restates the binning, ranks and
    // bucket rule in SQL over the lm golden
    Gate.of("q_ccnet_buckets",
      "WITH lp AS (SELECT doc_id, (lp_micro_per_tok + 100000000) // 1000 AS lp_bin " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/lm/*.parquet')), " +
        "s AS (SELECT l.doc_id, d.source, l.lp_bin FROM lp l JOIN documents d USING (doc_id)), " +
        "rle AS (SELECT source, lp_bin, count(*) AS cnt FROM s GROUP BY 1, 2), " +
        "n AS (SELECT source, sum(cnt) AS n_docs FROM rle GROUP BY 1), " +
        "cum AS (SELECT source, lp_bin, cnt, sum(cnt) OVER " +
        "(PARTITION BY source ORDER BY lp_bin) AS cum FROM rle), " +
        "cuts AS (SELECT c.source, " +
        "max(CASE WHEN ((n.n_docs - 1) // 3) + 1 > c.cum - c.cnt " +
        "AND ((n.n_docs - 1) // 3) + 1 <= c.cum THEN c.lp_bin END) AS v1, " +
        "max(CASE WHEN ((2 * (n.n_docs - 1)) // 3) + 1 > c.cum - c.cnt " +
        "AND ((2 * (n.n_docs - 1)) // 3) + 1 <= c.cum THEN c.lp_bin END) AS v2 " +
        "FROM cum c JOIN n USING (source) GROUP BY 1) " +
        "SELECT s.doc_id, s.source, CAST(s.lp_bin AS BIGINT) AS lp_bin, " +
        "CASE WHEN s.lp_bin > t.v2 THEN 'head' WHEN s.lp_bin > t.v1 THEN 'middle' " +
        "ELSE 'tail' END AS bucket FROM s JOIN cuts t USING (source)", OpsGoldens) { (s, dir) =>
      TextOps.perplexityBuckets(docsTable(s, dir),
        vocabSize = 1 << 14, maxBigrams = 1 << 16)
    },
    // trigram stupid-backoff LM (Brants 2007) — the sharper perplexity
    // filter; caps tightened so all three backoff levels fire at the gate
    Gate.of("q_doc_lm_backoff",
      fromOpsGolden("sblm", "doc_id, n_trans, lp_micro_tot, lp_micro_per_tok"), OpsGoldens) { (s, dir) =>
      TextOps.backoffLmScore(docsTable(s, dir), vocabSize = 16,
        maxTrigrams = 1024, maxBigrams = 128, alphaPm = 400)
    },
    // deterministic corpus-mixture sampling to target source proportions
    Gate.of("q_mixture_sample",
      // mixture sampling is integer/floor-exact → direct ANSI-SQL oracle
      "WITH tgt(source, target_pm) AS (VALUES ('src0', 500), ('src1', 300), ('src2', 200)), " +
        "counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source), " +
        "j AS (SELECT c.source, c.n_docs, t.target_pm FROM counts c JOIN tgt t USING (source)), " +
        "tt AS (SELECT min(floor(n_docs * 1000 / target_pm)) AS t_total FROM j), " +
        "rates AS (SELECT source, least(1000000, floor(floor(t_total * target_pm / 1000) * 1000000 / n_docs)) AS rate_ppm FROM j CROSS JOIN tt) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, " +
        "('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS mix_ppm, " +
        "CAST(r.rate_ppm AS BIGINT) AS rate_ppm, " +
        "CASE WHEN ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < r.rate_ppm THEN 1 ELSE 0 END AS keep " +
        "FROM documents d JOIN rates r USING (source)") { (s, dir) =>
      TextOps.mixtureSample(docsTable(s, dir),
      Seq("src0" -> 500L, "src1" -> 300L, "src2" -> 200L))
    },
    // temperature-based (α=0.3) mixture: targets ∝ n_s^α from the stats
    // pass (mT5-style tail upweighting), then the same hash-Bernoulli
    // sampler — targets and sampler share one deterministic arithmetic
    Gate.of("q_temperature_mixture",
      fromOpsGolden("tempmix", "doc_id, source, mix_ppm, rate_ppm, keep"), OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      TextOps.mixtureSample(docs,
        TextOps.temperatureTargets(docs, alphaPm = 300))
    },
    // explicit salted enrichment join: the 3-hot-key source column is the
    // genuinely skewed case — the salt spreads each source over 8 reducer
    // slices; result must equal the plain join exactly
    Gate.of("q_salted_join",
      "WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_source FROM documents GROUP BY source) " +
        "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, c.n_docs_source " +
        "FROM documents d JOIN c USING (source)") { (s, dir) =>
      val docs = docsTable(s, dir)
      val dim = docs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs_source"))
      graft.ops.Skew.saltedJoin(
        docs.select(col("doc_id").cast("long").as("doc_id"), col("source")),
        dim, key = "source", saltBy = "doc_id", saltFactor = 8)
        .select(col("doc_id"), col("source"), col("n_docs_source"))
    },
    // partition-pressure diagnostic over the skewed source key: the
    // content-keyed bucket histogram that sizes saltFactor
    Gate.of("q_key_pressure",
      "SELECT ('0x' || substr(md5(source), 1, 8))::BIGINT % 32 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT source) AS BIGINT) AS n_keys " +
        "FROM documents GROUP BY 1") { (s, dir) =>
      graft.ops.Skew.keyPressure(docsTable(s, dir), "source", nBuckets = 32)
    },
    // overlapping token-window chunking (zero-shuffle map work)
    Gate.of("q_doc_chunks",
      "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, greatest(1, CAST(floor((len(toks) - 16 + 111) / 112) AS BIGINT)) AS n_chunks FROM t WHERE len(toks) > 0), " +
        "e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM c) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS chunk_no, " +
        "CAST(len(list_slice(toks, i*112 + 1, i*112 + 128)) AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(list_slice(toks, i*112 + 1, i*112 + 128), ' ')) AS chunk_md5 FROM e") { (s, dir) =>
      TextOps.chunkDocs(docsTable(s, dir))
    },
    // content-defined (gear-hash) chunking — the edit-robust CAS chunker,
    // via the native codegen cdc_chunks expression; zero shuffle
    Gate.of("q_doc_cdc_chunks",
      fromOpsGolden("cdc", "doc_id, chunk_no, n_chars, chunk_md5"), OpsGoldens) { (s, dir) =>
      TextOps.cdcChunks(docsTable(s, dir))
    },
    // one-row corpus datasheet (Gebru et al. 2021 "Datasheets for
    // Datasets" summary stats): a single two-phase aggregate — at 100 TB
    // this is ONE pass, partials combine map-side, one row moves
    Gate.of("q_corpus_profile",
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
        "CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts, " +
        "CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blank, " +
        "CAST(min(length(text)) AS BIGINT) AS min_chars, " +
        "CAST(max(length(text)) AS BIGINT) AS max_chars FROM documents") { (s, dir) =>
      docsTable(s, dir).agg(
      count(lit(1)).cast("long").as("n_docs"),
      countDistinct(col("source")).cast("long").as("n_sources"),
      sum(length(col("text"))).cast("long").as("n_chars"),
      sum(TextOps.tokenCount(col("text"))).cast("long").as("n_tokens"),
      countDistinct(md5(col("text").cast("binary"))).cast("long").as("n_unique_texts"),
      sum((length(trim(col("text"))) === 0).cast("long")).cast("long").as("n_blank"),
      min(length(col("text"))).cast("long").as("min_chars"),
      max(length(col("text"))).cast("long").as("max_chars"))
    },
    // integer-exact TF-IDF-style salient term per doc
    Gate.of("q_doc_salient_term",
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), " +
        "r AS (SELECT doc_id, tok, tf, df, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tf DESC, df ASC, tok ASC) AS rn FROM tf JOIN dfq USING (tok)) " +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, tok AS top_tok, CAST(tf AS BIGINT) AS tf, " +
        "CAST(df AS BIGINT) AS df FROM r WHERE rn = 1") { (s, dir) =>
      TextOps.salientTerms(docsTable(s, dir))
    },
    // composed training-shard manifest: chunk over-length docs into 64/8
    // overlapping token windows, then pack the chunks into 128-token
    // sequences — the two new ops composing end-to-end
    Gate.of("q_chunk_pack",
      fromOpsGolden("chunkpack", "item_id, n_tokens, bucket, seq_id, pos"), OpsGoldens) { (s, dir) =>
      val chunks = TextOps.chunkDocs(docsTable(s, dir), maxTokens = 64, overlap = 8)
      Packing.packItems(
        chunks.select((col("doc_id") * 1000000L + col("chunk_no")).as("item_id"),
          col("n_tokens")),
        capacity = 128, nBuckets = 16)
        .select(col("item_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("bucket").cast("long").as("bucket"), col("seq_id"),
          col("pos").cast("long").as("pos"))
    },
    // sequence packing: best-fit-decreasing into 128-token training rows
    Gate.of("q_pack_sequences",
      fromOpsGolden("packing", "doc_id, n_tokens, bucket, seq_id, pos"), OpsGoldens) { (s, dir) =>
      Packing.packSequences(docsTable(s, dir), capacity = 128, nBuckets = 16)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("bucket").cast("long").as("bucket"), col("seq_id"),
          col("pos").cast("long").as("pos"))
    },
    // THE end-to-end curation pipeline in one plan: exact-dedup keepers →
    // token-count quality gate → overlapping chunking → best-fit packing →
    // deterministic shard manifest. What a user of the reference's
    // pipeline would actually run nightly; every stage is the operator
    // gated individually elsewhere, composed here under one oracle.
    Gate.of("q_training_manifest",
      "WITH s AS (SELECT seq_id, count(*) AS n_items, sum(n_tokens) AS sum_tokens " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/manifest/*.parquet') GROUP BY 1), " +
        "h AS (SELECT seq_id, n_items, sum_tokens, md5('shard:' || seq_id) AS ord FROM s) " +
        "SELECT seq_id, CAST(n_items AS BIGINT) AS n_items, CAST(sum_tokens AS BIGINT) AS sum_tokens, " +
        "CAST(('0x' || substr(ord, 1, 8))::BIGINT % 8 AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY ('0x' || substr(ord, 1, 8))::BIGINT % 8 " +
        "ORDER BY ord, seq_id) AS BIGINT) AS shard_pos FROM h", OpsGoldens) { (s, dir) =>
      val docs = docsTable(s, dir)
      val keepers = Dedup.exact(docs)
        .select(col("keep_id").cast("long").as("doc_id"))
      val gated = docs.select(col("doc_id").cast("long").as("doc_id"),
          col("text"))
        .join(keepers, Seq("doc_id"), "left_semi")
        .where(TextOps.tokenCount(col("text")) >= 30)
      val chunks = TextOps.chunkDocs(gated, maxTokens = 64, overlap = 8)
      val packed = Packing.packItems(
        chunks.select((col("doc_id") * 1000000L + col("chunk_no")).as("item_id"),
          col("n_tokens")), capacity = 128, nBuckets = 16)
      Packing.shardManifest(packed, nShards = 8)
    },
    // deterministic training-order shard manifest over the packed sequences
    Gate.of("q_train_shards",
      "WITH s AS (SELECT seq_id, count(*) AS n_items, sum(n_tokens) AS sum_tokens " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/packing/*.parquet') GROUP BY 1), " +
        "h AS (SELECT seq_id, n_items, sum_tokens, md5('shard:' || seq_id) AS ord FROM s) " +
        "SELECT seq_id, CAST(n_items AS BIGINT) AS n_items, CAST(sum_tokens AS BIGINT) AS sum_tokens, " +
        "CAST(('0x' || substr(ord, 1, 8))::BIGINT % 8 AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY ('0x' || substr(ord, 1, 8))::BIGINT % 8 " +
        "ORDER BY ord, seq_id) AS BIGINT) AS shard_pos FROM h", OpsGoldens) { (s, dir) =>
      Packing.shardManifest(
        Packing.packSequences(docsTable(s, dir), capacity = 128, nBuckets = 16),
        nShards = 8)
    },
    // float scores surface as per-mille longs (driver hashing is
    // integer-exact; the ranking itself is computed on full doubles)
    Gate.of("q_ann_brute_topk",
      fromOpsGolden("ann_brute", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.bruteTopK(embTable(s, dir), nQueries = 20, k = 5)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    Gate.of("q_ann_lsh_topk",
      fromOpsGolden("ann_lsh", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.lshTopK(embTable(s, dir), nQueries = 20, k = 5)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // compressed-search path: top-k over int8 codes, integer dot scores
    Gate.of("q_ann_q8_topk",
      fromOpsGolden("ann_q8", "q_id, n_id, rank, score_int"), OpsGoldens) { (s, dir) =>
      Similarity.quantizedTopK(embTable(s, dir), nQueries = 20, k = 5)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          col("score").cast("long").as("score_int"))
    },
    // nCells pinned to the gate scale explicitly (nCells = 0 auto-derives
    // ≈√N at corpus scale; an explicit value always wins)
    Gate.of("q_ann_ivf_topk",
      fromOpsGolden("ann_ivf", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.ivfTopK(embTable(s, dir), nQueries = 20, k = 5, nCells = 32)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // same IVF plan over a k-means-trained codebook (3 Lloyd rounds of the
    // content-hash init; micro-unit integer means → partitioning-invariant
    // and sequential-oracle-reproducible)
    Gate.of("q_ann_ivf_kmeans_topk",
      fromOpsGolden("ann_ivf_km", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.ivfTopK(embTable(s, dir), nQueries = 20, k = 5, nCells = 32,
          trainIters = 3)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // IVF-PQ memory tier: coarse cells + product-quantized residual codes
    // (m=8 sub-bytes per vector instead of 64 floats), asymmetric
    // table-lookup scoring; both codebooks content-hash-seeded + micro-unit
    // Lloyd-trained → bit-reproducible by the sequential oracle
    Gate.of("q_ann_ivfpq_topk",
      fromOpsGolden("ann_ivfpq", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.ivfpqTopK(embTable(s, dir), nQueries = 20, k = 5, nCells = 32,
          nProbe = 4, m = 8, ks = 16, pqIters = 2)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // PQ shortlist + exact-cosine re-rank (the two-stage serving shape:
    // codes produce 4k candidates, only those rejoin the float corpus)
    Gate.of("q_ann_ivfpq_rerank",
      fromOpsGolden("ann_ivfpq_rr", "q_id, n_id, rank, score_pm"), OpsGoldens) { (s, dir) =>
      Similarity.ivfpqRerankTopK(embTable(s, dir), nQueries = 20, k = 5,
          nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2,
          shortlistFactor = 4)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // near-dups are PLANTED (perturbed copies of the first 20 vectors):
    // the driver corpus has no true embedding near-duplicates, so recall is
    // measured against a known ground truth instead of an empty set
    Gate.of("q_emb_near_dup", fromOpsGolden("embdup", "a, b, score_pm"), OpsGoldens) { (s, dir) =>
      val embs = embTable(s, dir)
      Similarity.cosineNearDup(
        embs.select(col("vec_id").cast("long"), col("embedding"))
          .unionByName(Similarity.perturbed(embs, n = 20)),
        minCosinePm = 990)
        .select(col("a"), col("b"),
          floor(col("score") * 1000).cast("long").as("score_pm"))
    },
    // contrastive (anchor, positive, negatives) triplet mining over the
    // verified near-dup positives: deterministic md5-mod negatives with
    // anchor/positive/collision skip — the embedding-trainer feed; DuckDB
    // recomputes the whole derivation over the embdup golden
    Gate.of("q_contrastive_pairs",
      s"WITH p AS (SELECT a AS anchor, b AS positive FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/embdup/*.parquet')), " +
        "nv AS (SELECT count(*) AS n FROM embeddings), " +
        "an AS (SELECT DISTINCT anchor FROM p), " +
        "cand AS (SELECT an.anchor, r.j, " +
        "('0x' || substr(md5(an.anchor::VARCHAR || ':' || r.j::VARCHAR), 1, 8))::BIGINT % nv.n AS negative " +
        "FROM an CROSS JOIN nv CROSS JOIN range(0, 6) r(j)), " +
        "bad AS (SELECT anchor, positive AS bad FROM p " +
        "UNION SELECT positive, anchor FROM p), " +
        "valid AS (SELECT c.anchor, c.j, c.negative FROM cand c " +
        "LEFT JOIN bad ON c.anchor = bad.anchor AND c.negative = bad.bad " +
        "WHERE bad.anchor IS NULL AND c.negative <> c.anchor), " +
        "firstj AS (SELECT anchor, negative, min(j) AS j FROM valid GROUP BY 1, 2), " +
        "rk AS (SELECT anchor, negative, row_number() OVER " +
        "(PARTITION BY anchor ORDER BY j) AS neg_rank FROM firstj) " +
        "SELECT p.anchor, p.positive, rk.negative, CAST(rk.neg_rank AS BIGINT) AS neg_rank " +
        "FROM p JOIN rk USING (anchor) WHERE rk.neg_rank <= 2", OpsGoldens) { (s, dir) =>
      val embs = embTable(s, dir)
      val positives = Similarity.cosineNearDup(
        embs.select(col("vec_id").cast("long"), col("embedding"))
          .unionByName(Similarity.perturbed(embs, n = 20)),
        minCosinePm = 990)
      Similarity.contrastivePairs(positives, nVectors = embs.count(),
        nNeg = 2, slack = 4)
    },
    // semantic decontamination: eval set = perturbed copies of the first 15
    // corpus embeddings (planted leaks); eval side broadcast, threshold
    // filter below the aggregate so only qualifying pairs ever shuffle
    Gate.of("q_semantic_decontam",
      fromOpsGolden("semdecon", "vec_id, eval_id, score_pm"), OpsGoldens) { (s, dir) =>
      val embs = embTable(s, dir)
      Similarity.semanticDecontam(embs,
        Similarity.perturbed(embs, n = 15), minCosinePm = 990)
    },
    // JL ±1 random projection (the pre-ANN shrink): seeded md5-parity sign
    // matrix rebuilt per partition, micro-first integer arithmetic — zero
    // shuffle; output exploded to scalar rows for the gate
    Gate.of("q_emb_project",
      fromOpsGolden("rproj", "vec_id, dim, out_micro"), OpsGoldens) { (s, dir) =>
      Similarity.randomProject(embTable(s, dir), outDim = 8, seed = 42)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "out_micro")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("out_micro"))
    },
    Gate.of("q_media_features",
      fromOpsGolden("media", "doc_id, media_ref, n_bytes, content_h64"), PdfCorpus, OpsGoldens) { (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.fromCorpus(s, corpusAt(dir))).toDF()
        .select(col("doc_id"), col("media_ref"),
          col("n_bytes").cast("long").as("n_bytes"), col("content_h64"))
    },
    // media-asset reuse: fetch/decode dedup by content address
    Gate.of("q_media_reuse",
      "SELECT media_ref, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_spans, CAST(min(n_bytes) AS BIGINT) AS n_bytes, " +
        "min(doc_id) AS keep_doc " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/media/*.parquet') GROUP BY 1", PdfCorpus, OpsGoldens) { (s, dir) =>
      Multimodal.mediaReuse(Multimodal.fromCorpus(s, corpusAt(dir)))
    },
    // perceptual-hash near-duplicate assets: aHash at the scan (bytes never
    // shuffle), SimHash-style Hamming banding with the hot-bucket cap,
    // exact bit_count verify — the "re-encoded image" dedup the exact
    // content hash (q_media_reuse) cannot catch; plants = deterministic
    // 2-byte-bumped copies of the mod-7 residue-class assets
    Gate.of("q_media_phash_dup", fromOpsGolden("phash", "a, b, hamming"), PdfCorpus, OpsGoldens) { (s, dir) =>
      val media = Multimodal.fromCorpus(s, corpusAt(dir))
      Multimodal.phashNearDup(
        media.union(Multimodal.perturbedAssets(media)), maxHamming = 6)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
    },
    // multi-index banding (3 bands per bucket key): the layout that keeps
    // perceptual dedup recall alive at 10^12 assets, where the classic
    // 512-key bands would ALL overflow the bucket cap — same exact-recall
    // pigeonhole, gated against its own sequential restatement
    Gate.of("q_media_phash_dup_mih",
      fromOpsGolden("phash_mih", "a, b, hamming"), PdfCorpus, OpsGoldens) { (s, dir) =>
      val media = Multimodal.fromCorpus(s, corpusAt(dir))
      Multimodal.phashNearDup(
        media.union(Multimodal.perturbedAssets(media)), maxHamming = 6,
        bandsPerKey = 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
    },
    // video-style frame sampling: decode → resize-pool → every-2nd-frame
    // sample, bounded at 8 frames/asset — the multimodal training-pipeline
    // chain with real Spark plumbing and a stubbed codec
    Gate.of("q_media_frames",
      "SELECT doc_id, media_ref, CAST(n_frames AS INT) AS n_frames, " +
        "CAST(frame_no AS INT) AS frame_no, frame_md5, pooled_micro " +
        s"FROM read_parquet('${Corpus.Root}/golden_ops/sf0.01/frames/*.parquet')", PdfCorpus, OpsGoldens) { (s, dir) =>
      Multimodal.frameSample(Multimodal.fromCorpus(s, corpusAt(dir)))
        .toDF()
    },

    // ---- classic relational ops over driver tables ---------------------
    Gate.of("q_events_gap",
      "SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id, " +
        "CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT) AS gap_us FROM events") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // exact epoch MICROSECONDS on both sides (seconds would round
      // differently between engines on fractional timestamps)
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us")) // parquet NTZ → UTC instant
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      e.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("gap_us").cast("long").as("gap_us"))
    },
    // gap-based sessionization (30-min inactivity threshold)
    Gate.of("q_user_sessions",
      "WITH g AS (SELECT user_id, event_id, ts, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us FROM events) " +
        "SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id, " +
        "CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no " +
        "FROM g") { (s, dir) =>
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      graft.ops.Sessionize.byGap(e, "user_id", "ts_us", "event_id",
          gapUs = 1800L * 1000000L)
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("session_no").cast("long").as("session_no"))
    },
    // keyless point-in-interval range join (binned): error events falling
    // inside user 0's activity-session windows
    Gate.of("q_events_in_windows",
      "WITH u0 AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE user_id = 0), " +
        "g AS (SELECT event_id, ts_us, ts_us - lag(ts_us) OVER (ORDER BY ts_us, event_id) AS gap_us FROM u0), " +
        "sess AS (SELECT event_id, ts_us, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) OVER " +
        "(ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_no FROM g), " +
        "w AS (SELECT session_no, min(ts_us) AS w_start, max(ts_us) AS w_end FROM sess GROUP BY 1), " +
        "err AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error') " +
        "SELECT CAST(e.event_id AS BIGINT) AS event_id, CAST(w.session_no AS BIGINT) AS window_id, " +
        "CAST(e.ts_us AS BIGINT) AS ts_us FROM err e JOIN w ON e.ts_us BETWEEN w.w_start AND w.w_end") { (s, dir) =>
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_type"))
      val windows = graft.ops.Sessionize.byGap(
          e.where(col("user_id") === 0)
            .select(col("user_id"), col("event_id"), col("ts_us")),
          "user_id", "ts_us", "event_id", gapUs = 1800L * 1000000L)
        .groupBy(col("session_no"))
        .agg(min(col("ts_us")).as("w_start"), max(col("ts_us")).as("w_end"))
      graft.ops.RangeJoin.pointInInterval(
          e.where(col("event_type") === "error").select(col("event_id"), col("ts_us")),
          "ts_us", windows, "w_start", "w_end", binWidth = 3600L * 1000000L)
        .select(col("event_id").cast("long").as("event_id"),
          col("session_no").cast("long").as("window_id"), col("ts_us"))
    },
    // backward as-of join: each error event matched to the user's latest
    // preceding click (DuckDB native ASOF JOIN is the oracle)
    Gate.of("q_events_asof",
      "WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "errors AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') " +
        "SELECT CAST(e.event_id AS BIGINT) AS event_id, CAST(e.user_id AS BIGINT) AS user_id, " +
        "CAST(epoch_us(e.ts) AS BIGINT) AS ts_us, CAST(c.event_id AS BIGINT) AS click_event_id, " +
        "CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us " +
        "FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts") { (s, dir) =>
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_type"))
      val errors = e.where(col("event_type") === "error").drop("event_type")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      graft.ops.AsOf.backward(errors, clicks, "user_id", "ts_us", "ts_us",
        Seq("event_id", "ts_us"))
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("ts_us"),
          col("asof.event_id").cast("long").as("click_event_id"),
          col("asof.ts_us").cast("long").as("click_ts_us"))
    },
    // per-label embedding centroids (integer micro-units: order-independent)
    Gate.of("q_label_centroids",
      "SELECT CAST(label AS BIGINT) AS label, CAST(dim - 1 AS BIGINT) AS dim, " +
        "CAST(floor(sum(floor(CAST(v AS DOUBLE) * 1000000)) / count(*)) AS BIGINT) AS centroid_um " +
        "FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS dim FROM embeddings) " +
        "GROUP BY 1, 2") { (s, dir) =>
      Similarity.labelCentroids(embTable(s, dir))
    },
    // int8 scalar quantization (scale + code checksums, engine-exact)
    Gate.of("q_emb_quantize",
      "WITH s AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(x))) AS scale FROM embeddings) " +
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, " +
        "CAST(floor(CAST(scale AS DOUBLE) * 1000000) AS BIGINT) AS scale_um, " +
        "CAST(list_sum(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE) * 127 + 0.5) AS BIGINT))) AS BIGINT) AS qsum, " +
        "CAST(list_sum(list_transform(embedding, x -> (CAST(floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE) * 127 + 0.5) AS BIGINT)) ** 2)) AS BIGINT) AS qnorm " +
        "FROM s") { (s, dir) =>
      Similarity.quantizeInt8(embTable(s, dir))
    },
    // broadcast dimension join + deterministic top-k (SURVEY §2.3/§2.6)
    Gate.of("q_top_customers",
      "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment, revenue_cents, n_orders FROM (" +
        "SELECT o_custkey, CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS revenue_cents, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_custkey) o " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY revenue_cents DESC, c_custkey ASC LIMIT 20") { (s, dir) =>
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      orders.groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")) * 100).cast("long").as("revenue_cents"),
          count(lit(1)).cast("long").as("n_orders"))
        .join(broadcast(cust.select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("revenue_cents"), col("n_orders"))
    },
    Gate.of("q_lineitem_pricing",
      "SELECT l_returnflag, l_linestatus, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty, " +
        "CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents, " +
        "CAST(count(*) AS BIGINT) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100)
            .cast("long").as("revenue_cents"),
          count(lit(1)).cast("long").as("n_rows"))
    }
  )

  /** Name-keyed views of [[gates]], the shape `Verify` and `Bench` consume. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> (g(_, _))).toMap
  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}

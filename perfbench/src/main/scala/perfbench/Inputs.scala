package perfbench

import graft.corpus.{CorpusGen, WebGen}
import graft.model.{Kind, OutSpan}
import graft.oracle.Oracle
import graft.parse.{DocParser, PageParser}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes. `bench` keeps the proportions of the sf0.01 corpus (a
  * mega-doc of about 5% of all pages, ~0.5% poisoned pages) at 40% of its
  * size, so one pass is short enough for a median over many passes in a run
  * of about 30 s; `tiny` is for the smoke test.
  */
final case class Scale(docs: Int, megaPages: Int, files: Int, webPages: Int,
                       lookupProbes: Int)

object Scale {
  val byName: Map[String, Scale] = Map(
    "bench" -> Scale(docs = 400, megaPages = 200, files = 16, webPages = 1024,
      lookupProbes = 5),
    "tiny" -> Scale(docs = 40, megaPages = 24, files = 4, webPages = 96,
      lookupProbes = 3))
}

/** Order-independent digest of an extraction output: row count, the two
  * 32-bit halves of the summed per-row xxhash64, and span / error-span
  * counts. Sums of 32-bit halves cannot overflow a long below 2^31 rows.
  */
final case class Digest(rows: Long, hi: Long, lo: Long, spans: Long, errors: Long)

object Digest {
  val docHash: Column =
    xxhash64(col("doc_id"), col("spans"), col("markdown"), col("html"), col("conf_pm"))
  val pageHash: Column = xxhash64(col("doc_id"), col("spans"))

  def exprs(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(shiftrightunsigned(h, 32)).as("hi"),
    sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
    sum(size(col("spans"))).as("spans"),
    sum(size(filter(col("spans"), s => s.getField("kind") === Kind.Error))).as("errors"))

  private def l(v: Any): Long = v match {
    case null => 0L
    case n: java.lang.Number => n.longValue
  }
  def fromRow(r: Row): Digest =
    Digest(l(r.get(0)), l(r.get(1)), l(r.get(2)), l(r.get(3)), l(r.get(4)))
  /** Digest of a DataFrame, computed by one aggregation over it. */
  def of(df: DataFrame, h: Column): Digest = fromRow(df.agg(exprs(h).head, exprs(h).tail: _*).head())
  def fromMap(m: Map[String, Any]): Digest =
    Digest(l(m("rows")), l(m("hi")), l(m("lo")), l(m("spans")), l(m("errors")))

  /** Digest of per-row (hash, spans, error spans) triples. */
  def of(rows: Seq[(Long, Long, Long)]): Digest = Digest(rows.size.toLong,
    rows.map(r => r._1 >>> 32).sum, rows.map(r => r._1 & 0xffffffffL).sum,
    rows.map(_._2).sum, rows.map(_._3).sum)
}

/** SHA-256 of one extracted row in a canonical form, for single-row checks. */
object Canon {
  def sha(docId: String, spans: Seq[(String, String, String, Int)],
          tail: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    put(docId)
    spans.foreach { case (k, t, m, o) => put(k); put(t); put(m); put(o.toString) }
    md.update(1.toByte)
    tail.foreach(put)
    md.digest().map(b => f"$b%02x").mkString
  }

  def ofOut(docId: String, spans: Seq[OutSpan], tail: Seq[String]): String =
    sha(docId, spans.map(s => (s.kind, s.text, s.media_ref, s.order)), tail)

  def ofRow(r: Row, tail: Seq[String]): String =
    sha(r.getAs[String]("doc_id"),
      r.getAs[scala.collection.Seq[Row]]("spans").toSeq.map(s =>
        (s.getString(0), s.getString(1), s.getString(2), s.getInt(3))),
      tail.map(c => String.valueOf(r.getAs[Any](c))))
}

/** The generated PDF corpus and its oracle: a digest of sequential
  * `Oracle.golden` over every doc, per-doc hashes for lookups, and the count
  * of planted poisoned pages (pages holding the parse-failure marker).
  */
final case class PdfInput(path: String, partPath: String, pages: Long, poisoned: Long,
                          digest: Digest, shaById: Map[String, String],
                          pagesById: Map[String, Int], spansById: Map[String, Int])

/** The generated web pages table and the digest of its planted
  * main-content truth.
  */
final case class WebInput(path: String, digest: Digest)

object Inputs {
  /** Mean pages of an ordinary generated doc (1 + a geometric variable of
    * mean 7).
    */
  val MeanPages = 8

  /** Doc indices for a seed: the mega-doc (index 0) plus ordinary docs at
    * seeded random indices, sorted so files written in index order carry
    * disjoint doc_id ranges. The generator seeds each doc from its id's hash,
    * and neighbouring ids give correlated docs, so a contiguous run of ids
    * would vary the corpus size from seed to seed.
    *
    * A random draw alone still moves the page total by about 5% from seed
    * to seed, and the work of a pass with it. Seeded swaps of drawn docs for
    * new candidates, each one bringing the total closer, hold it within
    * 0.3% of `docs - 1` times the mean.
    */
  def pdfIndices(seed: Long, scale: Scale): Vector[Long] = {
    val rng = new scala.util.Random(seed)
    val spec = pdfSpec(scale)
    def draw(): Long = 1L + rng.nextInt(999999999)
    val pages = scala.collection.mutable.HashMap.empty[Long, Int]
    def pagesOf(i: Long): Int =
      pages.getOrElseUpdate(i, CorpusGen.genDoc(i, spec).spans.count(_.kind == Kind.PageBreak))
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < scale.docs - 1) picked += draw()
    val target = (scale.docs - 1) * MeanPages
    val tol = math.max(1, target * 3 / 1000)
    var total = picked.iterator.map(pagesOf).sum
    var tries = 0
    while (math.abs(total - target) > tol && tries < 100000) {
      tries += 1
      val c = draw()
      if (!picked.contains(c)) {
        val out = picked.iterator.drop(rng.nextInt(picked.size)).next()
        val after = total - pagesOf(out) + pagesOf(c)
        if (math.abs(after - target) < math.abs(total - target)) {
          picked -= out
          picked += c
          total = after
        }
      }
    }
    0L +: picked.toVector.sorted
  }

  /** Web page indices: seeded random 512-page blocks, one page per residue
    * mod 512 in each block, so every seed plants the same number of
    * mega-pages (residue 511) while ids stay uncorrelated.
    */
  def webIndices(seed: Long, scale: Scale): Vector[Long] = {
    val rng = new scala.util.Random(seed ^ 0x77656bL)
    (0 until scale.webPages).map(k => rng.nextInt(1900000) * 512L + k % 512)
      .distinct.sorted.toVector
  }

  def pdfSpec(scale: Scale): CorpusGen.Spec = CorpusGen.Spec(scale.docs, scale.megaPages)

  /** Share of the corpus's pages a killed commit run gets through. */
  val KilledShare = 0.4

  /** The leading docs a killed run got through: the shortest prefix in
    * index order that holds `KilledShare` of the pages.
    */
  def killedPrefix(docs: Vector[(Long, Int)]): Vector[Long] = {
    val want = KilledShare * docs.map(_._2).sum
    val ends = docs.scanLeft(0L)(_ + _._2).tail
    docs.take(ends.indexWhere(_ >= want) + 1).map(_._1)
  }

  /** Writes the corpus, plus the killed run's share of it when `killedRun`. */
  def genPdf(spark: SparkSession, dir: String, seed: Long, scale: Scale,
             killedRun: Boolean): PdfInput = {
    import spark.implicits._
    val idx = pdfIndices(seed, scale)
    val spec = pdfSpec(scale)
    val path = s"$dir/pdf"
    val partPath = s"$dir/pdf_killed_run"
    def write(ix: Vector[Long], out: String): Unit =
      spark.sparkContext.parallelize(ix, scale.files).toDS()
        .map(i => CorpusGen.genDoc(i, spec))
        .write.mode(SaveMode.Overwrite).parquet(out)
    write(idx, path)

    // oracle: sequential per-doc golden, run in parallel over docs
    val rows = spark.sparkContext.parallelize(idx, scale.files).toDS().map { i =>
      val d = CorpusGen.genDoc(i, spec)
      val g = Oracle.golden(d)
      val split = DocParser.splitPages(d.spans)
      val poisoned = split.count { case (_, s) =>
        s.exists(x => x.kind == Kind.PdfLine && x.text.contains(PageParser.ParseFailMarker))
      }
      (g.doc_id, g.spans, g.markdown, g.html, g.conf_pm,
        Canon.ofOut(g.doc_id, g.spans, Seq(g.markdown, g.html, g.conf_pm.toString)),
        split.size, poisoned)
    }.toDF("doc_id", "spans", "markdown", "html", "conf_pm", "sha", "pages", "poisoned")
      .select(Digest.docHash, size(col("spans")),
        size(filter(col("spans"), s => s.getField("kind") === Kind.Error)),
        col("doc_id"), col("sha"), col("pages"), col("poisoned"))
      .collect()
    if (killedRun) {
      val pagesById = rows.map(r => r.getString(3) -> r.getInt(5)).toMap
      write(killedPrefix(idx.map(i => (i, pagesById(CorpusGen.docId(i))))), partPath)
    }
    PdfInput(path, partPath, rows.map(_.getInt(5).toLong).sum, rows.map(_.getInt(6).toLong).sum,
      Digest.of(rows.map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong)).toSeq),
      rows.map(r => r.getString(3) -> r.getString(4)).toMap,
      rows.map(r => r.getString(3) -> r.getInt(5)).toMap,
      rows.map(r => r.getString(3) -> r.getInt(1)).toMap)
  }

  def genWeb(spark: SparkSession, dir: String, seed: Long, scale: Scale): WebInput = {
    import spark.implicits._
    val idx = webIndices(seed, scale)
    // the corpus ends after the last page, so end-of-corpus plants hold
    val spec = CorpusGen.Spec((idx.last + 1).toInt, scale.megaPages)
    val path = s"$dir/web"
    spark.sparkContext.parallelize(idx, scale.files).toDS()
      .map { i => val p = WebGen.genPage(i, spec); (p.doc_id, p.html) }
      .toDF("doc_id", "html")
      .write.mode(SaveMode.Overwrite).parquet(path)
    val rows = spark.sparkContext.parallelize(idx, scale.files).toDS()
      .map { i => val p = WebGen.genPage(i, spec); (p.doc_id, p.truth) }
      .toDF("doc_id", "spans")
      .select(Digest.pageHash, size(col("spans")))
      .collect()
    WebInput(path, Digest.of(rows.map(r => (r.getLong(0), r.getInt(1).toLong, 0L)).toSeq))
  }
}

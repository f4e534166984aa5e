package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.pipeline.TableIO
import graft.streaming.StreamingDedup
import org.apache.hadoop.fs.{Path => HPath}

/** Driver-visible end-to-end gates for the surfaces that were previously
  * ScalaTest-only (VERDICT round 2 item 1): streaming dedup ingest, the
  * resume/exactly-once commit path, and snapshot time travel. Each gate runs
  * its pipeline into a scratch dir under `data/gates/<sf>/` and returns the
  * READ-BACK result, so the driver's DuckDB oracle checks what the pipeline
  * actually persisted, not an in-memory plan. The corpus, pages and goldens
  * they read are the prerequisites their gates declare in `SparkEntry`.
  *
  * Determinism contract: every phase is drained as ONE AvailableNow
  * micro-batch (maxFilesPerTrigger ≫ files present), so "first seen" within
  * a phase resolves to the phase's minimum doc_id — expressible in ANSI SQL.
  * Cross-phase state (the interesting part — dedup across batches, resume
  * across commits) is exercised by running TWO phases through one checkpoint.
  */
object Gates {

  /** Recursive delete + recreate through the Hadoop FS API — like TableIO,
    * so the gate harness exercises the same filesystem abstraction a real
    * deployment runs on (HDFS/S3A/local alike; round-4 VERDICT item 6
    * finished the port `java.nio` → Hadoop FS).
    */
  private def clean(dir: String): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    ()
  }

  /** Two-phase streaming first-seen dedup over the documents table: phase 1
    * ingests the even doc_ids, phase 2 the odd ones through the SAME
    * checkpoint (new query instance — a restart), so phase-2 duplicates of
    * phase-1 content are suppressed by recovered state. Returns the admitted
    * rows read back from the sink parquet.
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val work = s"${Corpus.Root}/gates/${Corpus.sfName(sfDir)}/stream_dedup"
    clean(work)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$work/in/f-0")
    StreamingDedup.ingestDedup(spark, s"$work/in/f-*", s"$work/out",
      s"$work/ckpt", maxFilesPerTrigger = 100000)
    docs.where(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$work/in/f-1")
    StreamingDedup.ingestDedup(spark, s"$work/in/f-*", s"$work/out",
      s"$work/ckpt", maxFilesPerTrigger = 100000)
    spark.read.parquet(s"$work/out")
      .select(col("content_md5"), col("doc_id").cast("long").as("doc_id"),
        col("text"))
  }

  /** Two-phase streaming NEAR-dup candidate detection through one
    * checkpoint (restart between phases): phase 2's documents are checked
    * against phase 1's recovered bucket state, so cross-batch pairs only
    * exist if state survived the restart. The emitted pair SET is
    * arrival-order independent below the bucket cap, so the read-back
    * distinct rows equal the sequential batch restatement exactly.
    */
  def streamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val work = s"${Corpus.Root}/gates/${Corpus.sfName(sfDir)}/stream_neardup"
    clean(work)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$work/in/f-0")
    graft.streaming.StreamingNearDup.ingestNearDup(spark, s"$work/in/f-*",
      s"$work/out", s"$work/ckpt", maxFilesPerTrigger = 100000, minEstPm = 250)
    docs.where(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$work/in/f-1")
    graft.streaming.StreamingNearDup.ingestNearDup(spark, s"$work/in/f-*",
      s"$work/out", s"$work/ckpt", maxFilesPerTrigger = 100000, minEstPm = 250)
    spark.read.parquet(s"$work/out")
      .select(col("a"), col("b"), col("est_pm")).distinct()
  }

  /** Phase-1 predicate for the resume gate: even generator index, readable
    * off the last digit of `doc-%09d`. Mirrored in the oracle SQL.
    */
  private def evenDoc = substring(col("doc_id"), 13, 1)
    .isin("0", "2", "4", "6", "8")

  /** Build (once per JVM per sf) a two-snapshot committed table: snapshot 1
    * extracts the even-index half of the corpus, snapshot 2 resumes over the
    * FULL corpus — the committed-doc left-anti skip must extract exactly the
    * odd half, or the union double-counts / drops docs and the span hash
    * breaks. Returns the table root.
    */
  def resumeTable(spark: SparkSession, sfDir: String): String = synchronized {
    val sf = Corpus.sfName(sfDir)
    resumeCache.getOrElseUpdate(sf, {
      val corpusPath = Corpus.corpusPath(sf)
      val work = s"${Corpus.Root}/gates/$sf/resume"
      clean(work)
      spark.read.parquet(corpusPath).where(evenDoc)
        .write.parquet(s"$work/phase1")
      TableIO.runAndCommit(spark, s"$work/phase1", s"$work/table", "gate-r1")
      TableIO.runAndCommit(spark, corpusPath, s"$work/table", "gate-r2")
      s"$work/table"
    })
  }
  private val resumeCache = scala.collection.mutable.Map.empty[String, String]

  /** Full committed scan after the resumed second run — must equal the
    * golden span set exactly (each doc extracted exactly once).
    */
  def resumeExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readCommitted(spark, resumeTable(spark, sfDir)).get)

  /** Build (once per JVM per sf) a two-snapshot committed WEB table: snapshot
    * 1 main-content-extracts the even-index half of the raw crawl, snapshot 2
    * resumes over the FULL crawl through the same committed-skip anti-join —
    * the raw-HTML front end on the same exactly-once machinery as the PDF
    * path. The union must extract every page exactly once.
    */
  def webResumeTable(spark: SparkSession, sfDir: String): String = synchronized {
    val sf = Corpus.sfName(sfDir)
    webResumeCache.getOrElseUpdate(sf, {
      val pagesPath = Corpus.webPath(sf)
      val work = s"${Corpus.Root}/gates/$sf/web_resume"
      clean(work)
      val pages = spark.read.parquet(pagesPath)
      pages.where(evenDoc).write.parquet(s"$work/phase1")
      TableIO.commitWeb(spark, spark.read.parquet(s"$work/phase1"),
        s"$work/table", "gate-w1")
      TableIO.commitWeb(spark, pages, s"$work/table", "gate-w2")
      s"$work/table"
    })
  }
  private val webResumeCache = scala.collection.mutable.Map.empty[String, String]

  /** Full committed web scan after the resumed second run — must equal the
    * PLANTED generator truth exactly (each page extracted exactly once, and
    * correctly, through the two-snapshot commit path).
    */
  def webResumeExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readCommitted(spark, webResumeTable(spark, sfDir)).get)

  /** Deterministic totals over the web table's per-partition lineage metrics
    * across BOTH snapshots: pages parsed exactly once, spans = planted span
    * count, zero failures. (Every generated page plants at least a headline
    * and a paragraph, so pages_parsed == distinct planted doc_ids — a
    * generator invariant the oracle leans on.)
    */
  def webMetricsTotals(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Extraction.metricsTotals(
        TableIO.readMetrics(spark, webResumeTable(spark, sfDir)).get)
      .select("total_pages", "total_spans", "total_failures")

  /** Two-phase streaming web ingest through ONE checkpoint (kill-restart
    * between phases): phase 1 drains the even-half files under
    * `Trigger.AvailableNow`, phase 2 restarts over the full file set — the
    * recovered source offsets skip phase-1 FILES and the committed-doc
    * anti-join skips phase-1 PAGES, so the read-back table must equal the
    * planted truth exactly once per page. Built once per JVM per sf.
    */
  def streamWebTable(spark: SparkSession, sfDir: String): String = synchronized {
    val sf = Corpus.sfName(sfDir)
    streamWebCache.getOrElseUpdate(sf, {
      val pagesPath = Corpus.webPath(sf)
      val work = s"${Corpus.Root}/gates/$sf/stream_web"
      clean(work)
      val pages = spark.read.parquet(pagesPath)
      pages.where(evenDoc).coalesce(1).write.parquet(s"$work/in/f-0")
      graft.streaming.StreamingExtraction.ingestWebAvailableNow(spark,
        s"$work/in/f-*", s"$work/table", s"$work/ckpt", "gate-sw1",
        maxFilesPerTrigger = 100000)
      pages.where(!evenDoc).coalesce(1).write.parquet(s"$work/in/f-1")
      graft.streaming.StreamingExtraction.ingestWebAvailableNow(spark,
        s"$work/in/f-*", s"$work/table", s"$work/ckpt", "gate-sw2",
        maxFilesPerTrigger = 100000)
      s"$work/table"
    })
  }
  private val streamWebCache = scala.collection.mutable.Map.empty[String, String]

  /** Committed web table after the two-phase streaming ingest — must equal
    * the planted generator truth (same oracle as the batch resume gate).
    */
  def streamWebExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readCommitted(spark, streamWebTable(spark, sfDir)).get)

  private def copyTree(src: String, dst: String): Unit = {
    // Hadoop-FS recursive copy (works on HDFS/S3A/local alike, like TableIO)
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    val sfs = s.getFileSystem(conf)
    val dfs = d.getFileSystem(conf)
    dfs.mkdirs(d)
    sfs.listStatus(s).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(sfs, st.getPath, dfs,
        new org.apache.hadoop.fs.Path(d, st.getPath.getName),
        false, true, conf)
    }
  }

  /** Compaction gate: copy the two-snapshot resume table, OPTIMIZE it into
    * a single full-rewrite snapshot (4 range-clustered files), expire the
    * replaced snapshots, and return the full span scan read back from the
    * compacted table — which must STILL equal the golden span set exactly
    * (compaction moves bytes, never rows).
    */
  def compactedExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val src = resumeTable(spark, sfDir)
    val work = s"${Corpus.Root}/gates/${Corpus.sfName(sfDir)}/compact"
    clean(work)
    copyTree(src, work)
    val rows = TableIO.readCommitted(spark, work).get.count()
    TableIO.compact(spark, work, "gate-opt",
      rowsPerFile = math.max(1L, rows / 4)).get
    TableIO.expireSnapshots(work)
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readCommitted(spark, work).get)
  }

  /** Upsert + row-level-delete gate (Iceberg v2 merge-on-read analog):
    * phase 1 commits the true even docs plus a STALE version of every odd
    * doc (first half of its spans); an upsert then replaces the odd docs
    * with their true extraction via same-snapshot tombstones; three docs
    * are row-level deleted and re-ingested by a resumed run (the
    * committed-skip anti-join must see the post-delete view). The final
    * table must equal the golden span set exactly — stale spans gone, every
    * doc exactly once.
    */
  def upsertExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = Corpus.sfName(sfDir)
    val corpusPath = Corpus.corpusPath(sf)
    val work = s"${Corpus.Root}/gates/$sf/upsert"
    clean(work)
    import spark.implicits._
    val docs = graft.pipeline.Extraction.readInput(spark, corpusPath)
    def odd(d: graft.model.Doc): Boolean = (d.doc_id.last - '0') % 2 == 1
    val phase1 = docs.map { d =>
      if (odd(d)) d.copy(spans = d.spans.take(math.max(1, d.spans.length / 2)))
      else d
    }
    phase1.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$work/phase1")
    TableIO.runAndCommit(spark, s"$work/phase1", s"$work/table", "gate-u1")
    TableIO.upsertDocs(spark, docs.filter(odd _), s"$work/table", "gate-u2")
    TableIO.deleteDocs(spark,
      Seq("doc-000000000", "doc-000000002", "doc-000000004").toDF("doc_id"),
      s"$work/table", "gate-del")
    // resumed run re-extracts exactly the deleted docs
    TableIO.runAndCommit(spark, corpusPath, s"$work/table", "gate-u3")
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readCommitted(spark, s"$work/table").get)
  }

  /** Time-travel scan of the FIRST snapshot (Iceberg VERSION AS OF analog)
    * after both commits exist — must see only the phase-1 docs.
    */
  def snapshotAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val root = resumeTable(spark, sfDir)
    val first = TableIO.committedSnapshots(root).head.id
    graft.pipeline.Extraction.explodeSpans(
      TableIO.readAsOf(spark, root, first).get)
  }

  /** Bucketed co-located join gate: both sides written with matching
    * bucketing (the zero-exchange SMJ layout — BucketingSpec pins the plan
    * shape; this gate pins the RESULT through the driver oracle). Revenue is
    * summed in per-row integer cents so the aggregate is order-independent
    * and engine-exact.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS gate_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS gate_customer_bkt")
    // a previous JVM's managed-table dirs are invisible to this session's
    // in-memory catalog — DROP TABLE won't clear them, saveAsTable refuses
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq("gate_orders_bkt", "gate_customer_bkt").foreach { t =>
      val conf = spark.sessionState.newHadoopConf()
      val p = new HPath(warehouse, t)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("gate_orders_bkt")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("gate_customer_bkt")
    spark.table("gate_orders_bkt")
      .join(spark.table("gate_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("revenue_cents"))
  }
}

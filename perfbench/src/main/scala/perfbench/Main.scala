package perfbench

import graft.model.Doc
import graft.corpus.{CorpusGen, WebGen}
import graft.pipeline.{TableIO, WebExtraction}
import graft.plans.ExtractDocs
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--scale bench|tiny] [--corrupt 1] [--source <id>]`.
  * `run.py` builds the harness and passes these through.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, scale: String, corrupt: Boolean, source: String)

object Main {
  val Workloads = Seq("pdf_extract", "pdf_commit")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), kv.getOrElse("scale", "bench"),
      kv.get("corrupt").contains("1"), kv.getOrElse("source", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(Scale.byName.contains(a.scale), s"unknown scale ${a.scale}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parse(argv)).run()
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }
}

/** One timed operation. A sample exists only for an operation whose output
  * check passed: a failed check is counted, never timed as work.
  */
final case class Sample(wallS: Double, cpuS: Double, allocB: Double,
                        docs: Long, spans: Long, pages: Long)

/** Lookup targets: rows sorted by size, visited at the points of a seeded
  * golden-ratio sequence, so every run looks up nearly the same mix of small
  * and large rows. Planted skew rows (over ten times the median size) are
  * left out: one of them in a window would decide the p90 alone.
  */
final class LookupIds(sizes: Map[String, Int], rng: scala.util.Random) {
  private val limit = 10 * Stats.median(sizes.values.map(_.toDouble).toSeq)
  private val ids = sizes.toVector.filter(_._2 <= limit).sortBy(x => (x._2, x._1)).map(_._1)
  private var u = rng.nextDouble()
  def next(): String = {
    u = (u + 0.6180339887498949) % 1.0
    ids((u * ids.size).toInt)
  }
}

/** One commit cycle: its sample, the no-op restart time, committed bytes per
  * span, and pages parsed over distinct pages (NaN when not measured).
  */
final case class Commit(sample: Sample, noopS: Double, storedPerSpan: Double,
                        reparse: Double)

object Run {
  /** Spark task threads. An untraced commit cycle runs on half the cores:
    * on 4 vCPUs it ran as fast on 2 task threads as on 4 (125 and 135
    * docs/s against 126 and 133), and the free cores take GC, JIT and
    * hypervisor steal, which otherwise stall its 30-odd stage barriers.
    * Traced runs use every core, so their stage profile has one shape.
    */
  def taskThreads(a: Args, nproc: Int): Int =
    if (a.workload == "pdf_commit" && !a.trace) math.max(1, nproc / 2) else nproc

  /** Seconds of untimed warm-up before the timed window, per workload. In a
    * fresh JVM, pass times fall for 10-15 s of passes; commit cycles, which
    * plan some 30 stages each, keep falling for about 40 s.
    */
  val WarmS = Map("pdf_extract" -> 8.0, "pdf_commit" -> 20.0)
  /** `pdf_extract` times a no-op restart after every this many passes. */
  val NoopEvery = 4
  /** `pdf_commit` times this many committed lookups, and one restart,
    * after every cycle.
    */
  val CommittedLookups = 5
}

final class Run(a: Args) {
  private val scale = Scale.byName(a.scale)
  private val nproc = Runtime.getRuntime.availableProcessors
  private val loadBefore = Proc.loadavg
  private val work = Paths.get(a.work).toAbsolutePath.toString

  private val spark = SparkSession.builder()
    .master(s"local[${Run.taskThreads(a, nproc)}]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.shuffle.partitions", (nproc * 4).toString)
    // the split sizing graft.Bench uses: two or more task waves for the
    // zero-shuffle extraction stage
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = (System.currentTimeMillis() - Proc.startMs) / 1e3
  import spark.implicits._

  private val tracer = new Tracer(spark.sparkContext)
  private var attempted = 0
  private var failed = 0
  private var observations = 0

  private def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] OUTPUT CHECK FAILED (${a.workload}): $what")
    }
    ok
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall, process CPU less JIT compilation, and all-thread allocation
    * around `f`. Compilation is a one-time cost that a long-running executor
    * does not pay per doc; in a one-minute `pdf_commit` run it was still
    * half the process CPU of the timed window, and its share varies by run.
    */
  private def timed[A](f: => A): (A, Double, Double, Double) = {
    val (w0, c0, j0, b0) = (System.nanoTime(), Proc.cpuNanos, Proc.jitMs, Proc.allocBytes)
    val r = f
    (r, secs(w0), (Proc.cpuNanos - c0) / 1e9 - (Proc.jitMs - j0) / 1e3,
      (Proc.allocBytes - b0).toDouble)
  }

  /** The deliberate corruption the smoke test asks for: one row's doc_id. */
  private def mangle(df: DataFrame, on: Boolean): DataFrame =
    if (!on) df
    else {
      val first = df.select("doc_id").as[String].head()
      df.withColumn("doc_id",
        when(col("doc_id") === first, concat(col("doc_id"), lit("#"))).otherwise(col("doc_id")))
    }

  private def observeNoop(df: DataFrame): Digest = {
    observations += 1
    val obs = Observation(s"perfbench-$observations")
    val h = if (df.columns.contains("markdown")) Digest.docHash else Digest.pageHash
    val ex = Digest.exprs(h)
    df.observe(obs, ex.head, ex.tail: _*).write.format("noop").mode("overwrite").save()
    Digest.fromMap(obs.get)
  }

  private def scanMetric(df: DataFrame, name: String): Long = {
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case x: AdaptiveSparkPlanExec => scans(x.executedPlan)
      case x: QueryStageExec => scans(x.plan)
      case x: FileSourceScanExec => Seq(x)
      case x => x.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get(name)).map(_.value).sum
  }

  private def du(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") && n != "manifest.json"
        }).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  private def rmrf(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  // ---- inputs ---------------------------------------------------------------

  private val inputDir = s"$work/inputs"
  private var pdf: PdfInput = _
  private var web: WebInput = _

  private def generate(): Unit = {
    pdf = Inputs.genPdf(spark, inputDir, a.seed, scale,
      killedRun = a.trace || a.workload == "pdf_commit")
    // web pages feed only the traced run's layer probes
    if (a.trace) web = Inputs.genWeb(spark, inputDir, a.seed, scale)
  }

  private def webPages: org.apache.spark.sql.Dataset[(String, String)] =
    spark.read.parquet(web.path).select(col("doc_id"), col("html")).as[(String, String)]

  // ---- operations -------------------------------------------------------------

  private def pdfPass(tr: Trace, parent: Long, corrupt: Boolean): Option[Sample] = {
    val (d, w, c, b) = timed(tr.call(parent, "ExtractDocs.over") { _ =>
      observeNoop(mangle(ExtractDocs.over(spark, pdf.path), corrupt))
    })
    if (check(d == pdf.digest && d.errors == pdf.poisoned,
        s"extract digest $d, oracle ${pdf.digest}, planted poisoned pages ${pdf.poisoned}"))
      Some(Sample(w, c, b, d.rows, d.spans, pdf.pages))
    else None
  }

  private def webPass(tr: Trace, parent: Long, corrupt: Boolean): Option[Sample] = {
    val (d, w, c, b) = timed(tr.call(parent, "WebExtraction") { _ =>
      observeNoop(mangle(WebExtraction.assemble(WebExtraction.parse(webPages)), corrupt))
    })
    if (check(d == web.digest, s"web digest $d, planted truth ${web.digest}"))
      Some(Sample(w, c, b, d.rows, d.spans, d.rows))
    else None
  }

  private val lookupPlanMs = ArrayBuffer.empty[Double]
  private val lookupExecMs = ArrayBuffer.empty[Double]
  private val lookupFiles = ArrayBuffer.empty[Double]

  private def pdfLookup(tr: Trace, parent: Long, id: String, corrupt: Boolean): Option[Sample] = {
    val (rows, w, c, b) = timed(tr.call(parent, "lookup") { _ =>
      val t0 = System.nanoTime()
      val df = mangle(ExtractDocs.over(spark, pdf.path).where(col("doc_id") === id), corrupt)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      lookupPlanMs += (t1 - t0) / 1e6
      lookupExecMs += secs(t1) * 1e3
      lookupFiles += scanMetric(df, "numFiles").toDouble
      rows
    })
    if (check(rows.length == 1 &&
        Canon.ofRow(rows.head, Seq("markdown", "html", "conf_pm")) == pdf.shaById(id),
        s"lookup of $id returned ${rows.length} rows not equal to its oracle row"))
      Some(Sample(w, c, b, 1, pdf.spansById(id), pdf.pagesById(id)))
    else None
  }

  private def committedLookup(root: String, id: String): Option[Double] = {
    val (rows, w, _, _) = timed(TableIO.readCommitted(spark, root)
      .map(_.where(col("doc_id") === id).collect()).getOrElse(Array.empty[Row]))
    if (check(rows.length == 1 &&
        Canon.ofRow(rows.head, Seq("markdown", "html", "conf_pm")) == pdf.shaById(id),
        s"committed lookup of $id not equal to its oracle row")) Some(w) else None
  }

  private var commits = 0
  private var lastRoot: Option[String] = None

  /** Killed run over the first part, resume over the whole input, a restart
    * that must find nothing to do, then a committed read checked against
    * the oracle. The table root is fresh each time.
    */
  private def commitCycle(tr: Trace, parent: Long, corrupt: Boolean,
                          traced: Boolean): Option[Commit] = {
    commits += 1
    val root = s"$work/commit-$commits"
    var noopS = 0.0
    val ((s1, s2, s3, d), w, c, b) = timed {
      val s1 = tr.call(parent, "runAndCommit.killed")(_ =>
        TableIO.runAndCommit(spark, pdf.partPath, root, "killed"))
      val s2 = tr.call(parent, "runAndCommit.resume")(_ =>
        TableIO.runAndCommit(spark, pdf.path, root, "resume"))
      val t = System.nanoTime()
      val s3 = tr.call(parent, "runAndCommit.noop")(_ =>
        TableIO.runAndCommit(spark, pdf.path, root, "noop"))
      noopS = secs(t)
      val d = tr.call(parent, "readCommitted") { _ =>
        TableIO.readCommitted(spark, root).map(df => Digest.of(mangle(df, corrupt), Digest.docHash))
      }
      (s1, s2, s3, d)
    }
    lastRoot.foreach(rmrf)
    lastRoot = Some(root)
    val ok = check(s1.nonEmpty && s2.nonEmpty && s3.isEmpty && d.contains(pdf.digest) &&
        d.exists(_.errors == pdf.poisoned),
      s"commit cycle: killed=$s1 resume=$s2 restart=$s3 committed digest $d, oracle ${pdf.digest}")
    if (!ok) None
    else {
      val reparse = if (!traced) Double.NaN else
        TableIO.readMetrics(spark, root).map(_.agg(sum("pages_parsed")).head().getLong(0))
          .getOrElse(0L).toDouble / pdf.pages
      Some(Commit(Sample(w, c, b, d.get.rows, d.get.spans, pdf.pages), noopS,
        du(root).toDouble / d.get.spans, reparse))
    }
  }

  /** `pdf_extract`'s committed snapshot: the node's output committed once
    * before warm-up, so that no-op restarts can be timed against it.
    */
  private val snapshotRoot = s"$work/snapshot"

  private def commitSnapshot(): Unit =
    TableIO.commitData(spark, ExtractDocs.over(spark, pdf.path), snapshotRoot, "node")

  /** A restart over fully committed input, which must find nothing to do. */
  private def noopRestart(root: String): Option[Double] = {
    val (left, w, _, _) = timed(TableIO.runAndCommit(spark, pdf.path, root, "restart"))
    if (check(left.isEmpty, s"restart over the committed table $root found $left to do")) Some(w)
    else None
  }

  /** Committed bytes per span of the snapshot, after checking its read. */
  private def snapshotStored(): Double = {
    val d = TableIO.readCommitted(spark, snapshotRoot).map(Digest.of(_, Digest.docHash))
    val stored = du(snapshotRoot).toDouble / d.map(_.spans).getOrElse(1L)
    rmrf(snapshotRoot)
    if (check(d.contains(pdf.digest), s"committed snapshot digest $d, oracle ${pdf.digest}"))
      stored
    else Double.NaN
  }

  // ---- the timed loop ---------------------------------------------------------

  private val rng = new scala.util.Random(a.seed * 31 + 7)
  private lazy val pdfTargets = new LookupIds(pdf.pagesById, rng)
  private val samples = ArrayBuffer.empty[Sample]
  private val noopSamples = ArrayBuffer.empty[Double]
  private val storedSamples = ArrayBuffer.empty[Double]
  private val reparseSamples = ArrayBuffer.empty[Double]
  private val lookupMs = ArrayBuffer.empty[Double]
  private var opNo = 0

  /** One operation of the workload; None if its check failed. */
  private def op(tr: Trace, parent: Long, traced: Boolean, corrupt: Boolean): Option[Sample] = {
    opNo += 1
    tr.span(parent, "operation", s"${a.workload}#$opNo") { oid =>
      a.workload match {
        case "pdf_extract" => pdfPass(tr, oid, corrupt)
        case "pdf_commit" => commitCycle(tr, oid, corrupt, traced).map { cm =>
          noopSamples += cm.noopS
          storedSamples += cm.storedPerSpan
          if (traced) reparseSamples += cm.reparse
          cm.sample
        }
      }
    }
  }

  /** The probes that follow each untraced operation, in warm-up and in the
    * timed window alike: spread over the window, they see the same machine
    * as the operations do. `pdf_extract` looks up one doc through the node
    * and restarts over its snapshot every `Run.NoopEvery` passes;
    * `pdf_commit` reads single docs back from the table it just committed
    * and restarts over it once.
    * Samples are kept only when `keep` is set.
    */
  private def probes(keep: Boolean): Unit = if (!a.trace) a.workload match {
    case "pdf_extract" =>
      pdfLookup(NoTrace, 0L, pdfTargets.next(), corrupt = false)
        .foreach(x => if (keep) lookupMs += x.wallS * 1e3)
      if (opNo % Run.NoopEvery == 0)
        noopRestart(snapshotRoot).foreach(x => if (keep) noopSamples += x)
    case "pdf_commit" => lastRoot.foreach { root =>
      (1 to Run.CommittedLookups).foreach(_ => committedLookup(root, pdfTargets.next())
        .foreach(x => if (keep) lookupMs += x * 1e3))
      noopRestart(root).foreach(x => if (keep) noopSamples += x)
    }
  }

  def run(): Int = {
    // set-up: generation and oracle are repeated; the median repetition counts
    val reps = if (a.trace) 1 else 3
    val genS = (1 to reps).map { _ => val t = System.nanoTime(); generate(); secs(t) }
    val snapS = if (a.trace || a.workload != "pdf_extract") 0.0
      else { val t = System.nanoTime(); commitSnapshot(); secs(t) }
    // warm-up: at least WarmS seconds, so the JIT has compiled the hot
    // paths of the operation and its probes before the first timed one
    val w0 = System.nanoTime()
    while (secs(w0) < Run.WarmS(a.workload)) {
      op(NoTrace, 0L, traced = false, corrupt = false)
      probes(keep = false)
    }
    val setupS = sessionS + Stats.median(genS) + snapS + secs(w0)

    // closed loop: one client, the next operation starts when the last ends
    val tracedWall = ArrayBuffer.empty[Double]
    val plainWall = ArrayBuffer.empty[Double]
    val loadMid = Proc.loadavg
    val ticks0 = Proc.cpuTicks
    val jit0 = Proc.jitMs
    val t0 = System.nanoTime()
    var n = 0
    // at least Run.NoopEvery operations, so pdf_extract times a restart
    val minOps = Run.NoopEvery
    val rootId = if (a.trace) tracer.newId() else 0L
    val wStart = tracer.now
    while (secs(t0) < a.seconds || n < minOps) {
      // traced runs alternate traced and untraced operations: the ratio of
      // their medians is the tracing overhead
      val traced = a.trace && n % 2 == 0
      if (traced) tracer.attach()
      val s = op(if (traced) tracer else NoTrace, rootId, traced, a.corrupt && n == 0)
      if (traced) { org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext); tracer.detach() }
      s.foreach { x =>
        samples += x
        (if (traced) tracedWall else plainWall) += x.wallS
      }
      probes(keep = true)
      n += 1
    }
    val windowS = secs(t0)
    val ticks1 = Proc.cpuTicks
    val jitTimedMs = Proc.jitMs - jit0
    // share of the machine's CPU time the hypervisor gave to others
    val stealShare = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    val windowEnd = (System.currentTimeMillis() - Proc.startMs) / 1e3
    val peakRss = Proc.peakRssMb
    if (a.trace) tracer.record(Span(rootId, 0L, "workload", a.workload, wStart, tracer.now))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(setupS, peakRss)
      else perLayer(tracedWall.toSeq, plainWall.toSeq)
    val loadAfter = Proc.loadavg
    val probesEnd = (System.currentTimeMillis() - Proc.startMs) / 1e3
    lastRoot.foreach(rmrf)
    report(metrics, Map("setup_generation_s" -> genS.mkString("[", ",", "]"),
      "window_s" -> windowS.toString, "timed_ops" -> n.toString,
      "session_s" -> sessionS.toString, "window_end_s" -> windowEnd.toString,
      "input_docs" -> pdf.shaById.size.toString, "input_pages" -> pdf.pages.toString,
      "input_spans" -> pdf.digest.spans.toString,
      "probes_end_s" -> probesEnd.toString, "cpu_steal_share_timed" -> stealShare.toString,
      "jit_ms_timed" -> jitTimedMs.toString,
      "op_wall_s" -> samples.map(_.wallS).mkString("[", ",", "]"),
      "loadavg_timed_start" -> s""""$loadMid"""", "loadavg_after" -> s""""$loadAfter""""))
  }

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  private def endToEnd(setupS: Double, peakRss: Double): Seq[(String, Double, String)] = {
    val ok = samples.toSeq
    val stored = if (a.workload == "pdf_commit") med(storedSamples) else snapshotStored()
    // every operation repeats the same work, so its rate is a median over
    // operations
    def rate(f: Sample => Double): Double = med(ok.map(s => f(s) / s.wallS))
    Seq(
      ("setup_s", setupS, "s"),
      ("docs_per_s", rate(_.docs.toDouble), "1/s"),
      ("spans_per_s", rate(_.spans.toDouble), "1/s"),
      // CPU and allocation over the whole window: GC and compiler threads
      // work in the background, not per operation
      ("cpu_ms_per_doc", ok.map(_.cpuS).sum * 1e3 / ok.map(_.docs).sum, "ms"),
      ("alloc_bytes_per_page", ok.map(_.allocB).sum / ok.map(_.pages).sum, "B"),
      ("peak_rss_mb", peakRss, "MiB"),
      ("resume_noop_s", med(noopSamples), "s"),
      ("stored_bytes_per_span", stored, "B"),
      ("lookup_ms_p50", Stats.quantile(lookupMs.toSeq, 0.5), "ms"),
      ("lookup_ms_p90", Stats.quantile(lookupMs.toSeq, 0.9), "ms"),
      ("ok_ratio", (attempted - failed).toDouble / math.max(1, attempted), "ratio"))
  }

  /** The traced run: the workload's own operations, then one traced probe
    * of every layer, so each per-layer metric exists whatever the workload.
    */
  private def perLayer(tracedWall: Seq[Double], plainWall: Seq[Double]): Seq[(String, Double, String)] = {
    tracer.attach()
    val probe = tracer.newId()
    val pStart = tracer.now
    (1 to 2).foreach { _ =>
      tracer.call(probe, "scan") { _ =>
        spark.read.parquet(pdf.path).select("doc_id", "spans")
          .write.format("noop").mode("overwrite").save()
      }
    }
    (1 to 2).foreach(_ => pdfPass(tracer, probe, corrupt = false))
    (1 to scale.lookupProbes).foreach(_ =>
      pdfLookup(tracer, probe, pdfTargets.next(), corrupt = false))
    commitCycle(tracer, probe, corrupt = false, traced = true).foreach(cm => reparseSamples += cm.reparse)
    (1 to 2).foreach(_ => webPass(tracer, probe, corrupt = false))
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    tracer.detach()

    val spec = Inputs.pdfSpec(scale)
    val docs: Vector[Doc] = Inputs.pdfIndices(a.seed, scale).map(CorpusGen.genDoc(_, spec))
    val widx = Inputs.webIndices(a.seed, scale)
    val wspec = CorpusGen.Spec((widx.last + 1).toInt, scale.megaPages)
    val html = widx.map(WebGen.genPage(_, wspec).html)
    val k = KernelHarness.run(docs, html, tracer, probe)
    check(k.failedPages == pdf.poisoned,
      s"kernel failed pages ${k.failedPages}, planted poisoned pages ${pdf.poisoned}")
    tracer.record(Span(probe, 0L, "workload", "layer-probes", pStart, tracer.now))

    val spans = tracer.finish()
    val calls = spans.filter(_.kind == "call").groupBy(_.name)
    def callsOf(n: String): Seq[Span] = calls.getOrElse(n, Nil)
    def perCall(n: String)(f: Seq[StageRec] => Double): Double =
      med(callsOf(n).map(c => f(tracer.stagesOf(c.id))))
    def heaviest(st: Seq[StageRec]): Option[StageRec] =
      if (st.isEmpty) None else Some(st.maxBy(_.runMs))
    def idle(st: Seq[StageRec]): Double = heaviest(st).map(s =>
      1.0 - s.taskMs.sum.toDouble / (nproc.toDouble * s.wallMs)).getOrElse(Double.NaN)
    val lookupBytes = perCall("lookup")(_.map(_.inputBytes).sum.toDouble)

    // a commit cycle is every call under one operation span
    val cycles: Seq[Seq[StageRec]] = spans.filter(s => s.kind == "call" &&
        (s.name.startsWith("runAndCommit") || s.name == "readCommitted"))
      .groupBy(_.parent).values.toSeq.map(_.flatMap(c => tracer.stagesOf(c.id)))
    def perCycle(f: Seq[StageRec] => Double): Double = med(cycles.map(f))
    val self = SelfTime.byKind(spans)
    val durS = (n: String) => med(callsOf(n).map(_.durNs / 1e9))

    writeSpans(spans)
    Seq(
      ("plans.extract.busy_s", perCall("ExtractDocs.over")(_.map(_.runMs).sum / 1e3), "s"),
      ("plans.extract.cpu_s", perCall("ExtractDocs.over")(_.map(_.cpuNs).sum / 1e9), "s"),
      ("plans.extract.gc_s", perCall("ExtractDocs.over")(_.map(_.gcMs).sum / 1e3), "s"),
      ("plans.extract.tasks", perCall("ExtractDocs.over")(_.map(_.tasks).sum.toDouble), "count"),
      ("plans.extract.task_skew", perCall("ExtractDocs.over")(st =>
        heaviest(st).map(_.skew).getOrElse(Double.NaN)), "ratio"),
      ("plans.extract.idle_share", perCall("ExtractDocs.over")(idle), "ratio"),
      ("plans.scan_s", durS("scan"), "s"),
      ("plans.lookup.plan_ms", med(lookupPlanMs), "ms"),
      ("plans.lookup.exec_ms", med(lookupExecMs), "ms"),
      ("plans.lookup.files_read", med(lookupFiles), "count"),
      ("plans.lookup.bytes_read", lookupBytes, "B"),
      ("plans.lookup.pushed_ratio", 1.0 - lookupBytes / du(pdf.path), "ratio"),
      ("pipeline.commit_s", durS("runAndCommit.killed"), "s"),
      ("pipeline.resume_s", durS("runAndCommit.resume"), "s"),
      ("pipeline.read_committed_s", durS("readCommitted"), "s"),
      ("pipeline.shuffle_write_bytes", perCycle(_.map(_.shuffleWrite).sum.toDouble), "B"),
      ("pipeline.shuffle_read_bytes", perCycle(_.map(_.shuffleRead).sum.toDouble), "B"),
      ("pipeline.spill_bytes", perCycle(_.map(_.spill).sum.toDouble), "B"),
      ("pipeline.stages", perCycle(_.size.toDouble), "count"),
      ("pipeline.busy_s", perCycle(_.map(_.runMs).sum / 1e3), "s"),
      ("pipeline.gc_s", perCycle(_.map(_.gcMs).sum / 1e3), "s"),
      ("pipeline.task_skew", perCycle(st => heaviest(st).map(_.skew).getOrElse(Double.NaN)), "ratio"),
      ("pipeline.reparse_ratio", med(reparseSamples), "ratio"),
      ("pipeline.web_busy_s", perCall("WebExtraction")(_.map(_.runMs).sum / 1e3), "s"),
      ("pipeline.web_gc_s", perCall("WebExtraction")(_.map(_.gcMs).sum / 1e3), "s"),
      ("pipeline.web_task_skew", perCall("WebExtraction")(st =>
        heaviest(st).map(_.skew).getOrElse(Double.NaN)), "ratio"),
      ("trace.overhead_share", med(tracedWall) / med(plainWall) - 1.0, "ratio"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.op_self_s", self.getOrElse("operation", 0.0), "s"),
      ("trace.call_self_s", self.getOrElse("call", 0.0), "s"),
      ("trace.job_self_s", self.getOrElse("job", 0.0), "s"),
      ("trace.stage_self_s", self.getOrElse("stage", 0.0), "s"),
      ("trace.doc_self_s", self.getOrElse("doc", 0.0), "s"),
      ("trace.page_self_s", self.getOrElse("page", 0.0), "s")
    ) ++ k.metrics
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val dir = Paths.get(work, "results")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}-spans.jsonl"),
      spans.map(SelfTime.toJson).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def num(v: Double): String = java.lang.Double.toString(v)

  private def report(metrics: Seq[(String, Double, String)], extra: Map[String, String]): Int = {
    val bad = metrics.filterNot(m => java.lang.Double.isFinite(m._2))
    bad.foreach(m => check(ok = false, s"metric ${m._1} is not a finite number"))
    val env = Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"), "scale" -> s""""${a.scale}"""",
      "seconds" -> a.seconds.toString, "nproc" -> nproc.toString,
      "task_threads" -> Run.taskThreads(a, nproc).toString,
      "loadavg_before" -> s""""$loadBefore"""", "source" -> s""""${a.source}"""",
      "java" -> s""""${System.getProperty("java.version")} ${System.getProperty("java.vm.name")}"""",
      "spark" -> s""""${spark.version}"""", "scala" -> s""""${scala.util.Properties.versionNumberString}""""
    ) ++ extra.toSeq
    val envJson = env.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (java.lang.Double.isFinite(v)) num(v) else "null"},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = failed == 0
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricJson}"""
    val dir = Paths.get(work, "results")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      s"""{"env":$envJson,"result":$result}\n""".getBytes("UTF-8"))
    metrics.foreach { case (n, v, u) => println(f"$n%-36s ${num(v)} $u") }
    println(s"""{"env":$envJson}""")
    println(result)
    System.out.flush()
    spark.stop()
    if (correct) 0
    else {
      System.err.println(s"[perfbench] FAILED: $failed of $attempted operations failed their output check")
      1
    }
  }
}

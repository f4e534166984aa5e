package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Corpus

/** Driver-contract benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], prints ONE JSON line.
  * The headline extraction throughput (docs/sec, spans/sec end-to-end) is
  * measured separately from the per-query loop; the gates' data
  * prerequisites are materialized before timing (they stand in for
  * pre-existing input tables, like the testdata dir for the q_* queries).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 4x cores measured best for the parse/assembly shuffles (BENCH.md)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 4).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // 2+ task waves for the zero-shuffle extraction stage (BENCH.md:
      // one wave means the slowest task sets the wall clock)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "4m"))
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "1m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    SparkEntry.gates.flatMap(_.needs).distinct.foreach(_.ensure(spark, sfDir))
    val corpusPath = Corpus.corpusPath(Corpus.sfName(sfDir))

    // headline: end-to-end extraction throughput of the one PDF extraction
    // path, the custom plan node.
    // One untimed pass warms the JIT (the C2-compiled parse is ~5x the
    // interpreted speed — BENCH.md methodology), then best of 2 timed runs.
    def extractOnce(): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val row = graft.plans.ExtractDocs.over(spark, corpusPath)
        .agg(count(lit(1)), sum(size(col("spans")))).head()
      (row.getLong(0), row.getLong(1), (System.nanoTime() - t0) / 1e9)
    }
    extractOnce() // warmup, untimed
    val timed = Seq(extractOnce(), extractOnce()).minBy(_._3)
    val (docs, spans, extractSec) = timed

    // each query is materialized via a noop-format write, which sinks EVERY
    // output column — a bare count() lets Catalyst prune unreferenced
    // projections and under-measures projection-heavy queries (VERDICT
    // round 1 item 4). Failures are recorded, never silently timed as work.
    final case class QRes(secs: Double, rows: Long, ok: Boolean)
    var obsId = 0
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t = System.nanoTime()
      val res =
        try {
          val df = fn(spark, sfDir)
          // row count rides the SAME execution via observe() — no second run
          obsId += 1
          val obs = new org.apache.spark.sql.Observation(s"rows_$obsId")
          df.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t) / 1e9
          QRes(secs, obs.get("rows").asInstanceOf[Long], ok = true)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            QRes((System.nanoTime() - t) / 1e9, -1L, ok = false)
        }
      name -> res
    }
    // per-query seconds rounded to ms: keeps both lines short enough that a
    // bytes-bounded tail capture can never clip the machine-readable timings
    // (round-3 artifact gap: the full-precision single line was truncated
    // from the front and parsed as null)
    def ms(x: Double): String = (math.round(x * 1000) / 1000.0).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v.secs) }
      .mkString("{", ",", "}")
    val qrows = results.map { case (k, v) => "\"" + k + "\":" + v.rows }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if !v.ok => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.map(_.secs).sum + extractSec
    val dps = docs / extractSec
    val sps = spans / extractSec
    // verbose line first (row counts, failures)...
    println(
      s"""{"metric":"total_detail","value":${ms(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""query_rows":$qrows,"failed_queries":$failed,"cpus":$cpus}""")
    // ...then the contract line LAST, compact, so a tail window always
    // captures the per-query timings intact
    val contract =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
      s""""extraction":{"mode":"custom","docs":$docs,"spans":$spans,"secs":${ms(extractSec)},""" +
      s""""docs_per_sec":${ms(dps)},"spans_per_sec":${ms(sps)}},"cpus":$cpus}"""
    println(contract)
    // ALSO write the full contract to a file: at 130+ queries even the
    // compact line can exceed a bytes-bounded stdout-tail capture (the
    // round-4 artifact gap — BENCH_r04.json parsed as null). The file is
    // the durable machine-readable record; stdout stays the driver contract.
    val contractPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "BENCH_CONTRACT.json")
    val pw = new java.io.PrintWriter(contractPath, "UTF-8")
    try pw.println(contract) finally pw.close()
    spark.stop()
  }
}

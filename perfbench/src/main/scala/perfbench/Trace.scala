package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. `kind` is the level of the chain
  * workload → operation → call → job → stage (and, from the kernel
  * harness, call → doc → page); `parent` is 0 for the root.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-stage profile built from task-end events. */
final class StageRec(val stageId: Int) {
  var jobId: Int = -1
  var submitMs: Long = 0L
  var completeMs: Long = 0L
  var tasks: Int = 0
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWrite: Long = 0L
  var shuffleRead: Long = 0L
  var spill: Long = 0L
  var inputBytes: Long = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def wallMs: Long = math.max(1L, completeMs - submitMs)
  /** Slowest task over the median task: 1.0 when tasks are even. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else taskMs.max / math.max(1.0, Stats.median(taskMs.map(_.toDouble).toSeq))
}

final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  val stages: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
}

/** Collects job and stage events and attributes each job, through the job
  * group the benchmark sets around a layer call, to that call's span.
  */
final class StageProfile extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach { s => j.stages += s; stageJob.getOrElseUpdate(s, e.jobId) }
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
    r.jobId = stageJob.getOrElse(r.stageId, -1)
    r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    r.tasks += 1
    r.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Jobs run under `group`, with the stages that actually ran. */
  def jobsOf(group: String): Seq[(JobRec, Seq[StageRec])] = synchronized {
    jobs.values.filter(_.group == group).toSeq.map(j =>
      j -> j.stages.toSeq.flatMap(stages.get).filter(s => s.tasks > 0 && s.jobId == j.jobId))
  }
}

/** Where the benchmark records spans: around each operation and each call
  * into a layer. `NoTrace` records nothing and sets no job group.
  */
trait Trace {
  def span[A](parent: Long, kind: String, name: String)(f: Long => A): A
  /** A layer call: a span whose Spark jobs are attributed to it. */
  def call[A](parent: Long, name: String)(f: Long => A): A
}

object NoTrace extends Trace {
  def span[A](parent: Long, kind: String, name: String)(f: Long => A): A = f(0L)
  def call[A](parent: Long, name: String)(f: Long => A): A = f(0L)
}

/** In-memory span recorder plus the stage listener. Spans are kept until the
  * run ends; job and stage spans are derived from the listener at the end.
  */
final class Tracer(sc: SparkContext) extends Trace {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Job group → span id of the layer call that ran under it. */
  private val callOfGroup = mutable.LinkedHashMap.empty[String, Long]
  val profile = new StageProfile

  /** Epoch nanoseconds on a monotonic clock. */
  def now: Long = t0Ms * 1000000L + (System.nanoTime() - t0Ns)

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.synchronized { spans += s }

  def span[A](parent: Long, kind: String, name: String)(f: Long => A): A = {
    val id = newId()
    val start = now
    try f(id) finally record(Span(id, parent, kind, name, start, now))
  }

  /** Jobs are attributed through a job group on the calling thread. */
  def call[A](parent: Long, name: String)(f: Long => A): A =
    span(parent, "call", name) { id =>
      val group = s"perfbench-$id"
      callOfGroup.synchronized { callOfGroup(group) = id }
      sc.setJobGroup(group, name)
      try f(id) finally sc.clearJobGroup()
    }

  def attach(): Unit = sc.addSparkListener(profile)
  def detach(): Unit = sc.removeSparkListener(profile)

  /** Wait for listener delivery, then add job and stage spans. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    callOfGroup.synchronized(callOfGroup.toSeq).foreach { case (group, callId) =>
      profile.jobsOf(group).foreach { case (j, st) =>
        val jid = newId()
        record(Span(jid, callId, "job", s"job-${j.jobId}", j.startMs * 1000000L,
          j.endMs * 1000000L))
        st.foreach(s => record(Span(newId(), jid, "stage", s"stage-${s.stageId}",
          s.submitMs * 1000000L, s.completeMs * 1000000L)))
      }
    }
    spans.synchronized(spans.toList)
  }

  /** Stage profiles of every job a call span ran. */
  def stagesOf(callId: Long): Seq[StageRec] =
    profile.jobsOf(s"perfbench-$callId").flatMap(_._2)
}

object SelfTime {
  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. Summed per span kind, in seconds.
    */
  def byKind(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        math.max(0L, s.durNs - covered) / 1e9
      }.sum
    }
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}

package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval of one op. Times are System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans of one op, recorded by the thread running the op. */
final class OpSpans(val op: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    spans += Span(id, parent, op, name, t0, t0)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Adds a span measured elsewhere (tracker phases, listener jobs),
    * clamped into its parent so the tree stays well-formed. */
  def add(parent: Int, name: String, start: Long, end: Long): Int = {
    val p = spans(parent)
    val s = math.min(math.max(start, p.start), p.end)
    val e = math.max(math.min(end, p.end), s)
    spans += Span(spans.length, parent, op, name, s, e)
    spans.length - 1
  }

  /** The innermost span open at `t` among those named in `names` (a span
    * that ends at `t` is no longer open). */
  def enclosing(t: Long, names: Set[String]): Int =
    spans.filter(s => names(s.name) && s.start <= t && t < s.end)
      .sortBy(s => -s.start).headOption.map(_.id).getOrElse(0)

  /** Exclusive time per span: every instant of the op is charged to the
    * deepest span open at that instant (the earliest-started one among
    * overlapping siblings), so the self times sum to the op's wall time. */
  def selfTimes: Array[Long] = {
    val depth = spans.map { s =>
      var d = 0; var p = s.parent
      while (p >= 0) { d += 1; p = spans(p).parent }
      d
    }
    val self = new Array[Long](spans.length)
    val cuts: Seq[Long] = spans.toSeq.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a: Long, b: Long) if b > a =>
        val owner = spans.indices
          .filter(i => spans(i).start <= a && spans(i).end >= b)
          .sortBy(i => (-depth(i), spans(i).start)).headOption
        owner.foreach(i => self(i) += b - a)
      case _ => ()
    }
    self
  }
}

/** Task-level totals of one job, filled from listener events. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every Spark job to the job group of the op that started it. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val r = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(stageJob(_) = r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      r.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def byGroup(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)
  def all: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

object Clock {
  // nanoTime and wall-clock anchors taken together, to place listener and
  // tracker timestamps (epoch ms) on the span clock (nanoTime)
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def fromMs(ms: Long): Long = nano0 + (ms - ms0) * 1000000L
}

/** Tracing state of one run: op span trees, per-op counters from the job
  * listener and the executed plan. Spans stay in memory until the end. */
final class Tracer(val listener: JobListener) {
  val ops = mutable.ArrayBuffer.empty[(OpSpans, Map[String, Double])]

  def record(spans: OpSpans, counters: Map[String, Double]): Unit =
    synchronized(ops += ((spans, counters)))

  /** Hangs one `scheduler.job` span per job of each op's group under the
    * op span that was open when the job started. Call after the listener
    * bus has drained. */
  def attachJobs(): Unit = ops.foreach { case (sp, _) =>
    listener.byGroup(groupOf(sp.op)).foreach { j =>
      val s = Clock.fromMs(j.startMs)
      val parent = sp.enclosing(s,
        Set("op", "operators.build", "sql.parse", "exec.action", "sources.commit",
          "sources.maintenance"))
      sp.add(parent, "scheduler.job", s, Clock.fromMs(j.endMs))
    }
  }

  def json: String = {
    val sb = new StringBuilder("[")
    var first = true
    ops.foreach { case (sp, _) =>
      val self = sp.selfTimes
      sp.spans.foreach { s =>
        if (!first) sb.append(",\n")
        first = false
        sb.append(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}""")
      }
    }
    sb.append("]\n").toString
  }

  /** Problems that make the trace unusable: jobs outside any op's job
    * group, and jobs that ran outside the op whose group they carry. (The
    * self times of an op add up to its wall time by construction; the time
    * no layer span covers is `harness.self_s`.) */
  def validity: Seq[String] = {
    val orphans = listener.all.filterNot(_.group.startsWith("op-"))
      .map(j => s"job ${j.id} has no op job group (group='${j.group}')")
    orphans ++ ops.flatMap { case (sp, _) => Tracer.strayJobs(sp, listener.byGroup(groupOf(sp.op))) }
  }

  def groupOf(op: Long): String = s"op-$op"
}

object Tracer {
  // listener times are whole milliseconds, placed on the span clock
  val SlackNs = 5000000L

  /** Jobs whose listener interval starts before `sp`'s op began or ends
    * after it returned: work of a job group that bled past its op. */
  def strayJobs(sp: OpSpans, jobs: Seq[JobRec]): Seq[String] = {
    val root = sp.spans(0)
    jobs.filter(j => Clock.fromMs(j.startMs) < root.start - SlackNs ||
      Clock.fromMs(j.endMs) > root.end + SlackNs)
      .map(j => s"op ${sp.op}: job ${j.id} ran outside its op")
  }
}

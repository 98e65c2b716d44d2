package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced window: span time per layer (total, and
  * the p90 over the ops that have the span), job/stage/task counts from
  * each op's job group, and task-level totals. */
object Layers {
  private val timed = Seq("operators.build", "sql.parse", "plans.analyze", "plans.optimize",
    "plans.physical", "exec.action", "sources.commit", "sources.maintenance")

  val names: Seq[String] =
    timed.flatMap(t => Seq(s"${t}_s", s"${t}_s.p90")) ++ Seq(
      "operators.build_jobs", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
      "scheduler.idle_s", "scheduler.idle_s.p90",
      "exec.task_s", "exec.task_s.p90", "exec.cpu_s", "exec.gc_s", "exec.parallelism",
      "exec.scan_bytes", "exec.files_read", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
      "exec.spill_bytes", "exec.rows_out", "exec.inmemory_scans",
      "sources.bytes_written", "sources.meta_bytes", "sources.files_written", "sources.live_files",
      "sources.cache_mb", "sources.cached_relations", "sources.write_amp", "sources.space_amp",
      "harness.self_s", "harness.cold_setup_s", "harness.late_p90_s", "harness.backlog_max", "harness.max_rate_ops_s",
      "harness.trace_overhead")

  def unit(name: String): String = {
    val n = name.stripSuffix(".p90")
    if (n.endsWith("_ops_s")) "1/s"
    else if (n.endsWith("_s")) "s"
    else if (n.contains("bytes")) "bytes"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_amp") || n.endsWith("parallelism") || n.endsWith("overhead")) "ratio"
    else "count"
  }

  def of(tracer: Tracer): Seq[(String, (Double, String))] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val perOp = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit = out(name) = out.getOrElse(name, 0.0) + v
    def sample(name: String, v: Double): Unit = perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    tracer.ops.foreach { case (sp, counters) =>
      val self = sp.selfTimes
      add("harness.self_s", self(0) / 1e9)
      timed.foreach { t =>
        val d = sp.spans.filter(_.name == t).map(_.dur).sum / 1e9
        if (sp.spans.exists(_.name == t)) { add(s"${t}_s", d); sample(s"${t}_s", d) }
      }
      val jobs = tracer.listener.byGroup(tracer.groupOf(sp.op))
      add("operators.build_jobs", sp.spans.count(s => s.name == "scheduler.job" &&
        s.parent >= 0 && Set("operators.build", "sql.parse")(sp.spans(s.parent).name)))
      add("scheduler.jobs", jobs.length)
      add("scheduler.stages", jobs.map(_.stages).sum)
      add("scheduler.tasks", jobs.map(_.tasks).sum)
      val taskS = jobs.map(_.runMs).sum / 1e3
      add("exec.task_s", taskS); sample("exec.task_s", taskS)
      add("exec.cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      add("exec.gc_s", jobs.map(_.gcMs).sum / 1e3)
      add("exec.scan_bytes", jobs.map(_.inputBytes).sum)
      add("exec.shuffle_read_bytes", jobs.map(_.shuffleRead).sum)
      add("exec.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum)
      add("exec.spill_bytes", jobs.map(_.spill).sum)
      counters.foreach { case (k, v) => add(k, v) }
      // action time with none of this op's tasks running
      sp.spans.filter(_.name == "exec.action").foreach { a =>
        val iv = jobs.flatMap(_.taskIntervals)
          .map { case (s, e) => (math.max(Clock.fromMs(s), a.start), math.min(Clock.fromMs(e), a.end)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
        var covered = 0L; var reach = a.start
        iv.foreach { case (s, e) =>
          if (e > reach) { covered += e - math.max(s, reach); reach = e }
        }
        val idle = (a.dur - covered) / 1e9
        add("scheduler.idle_s", idle); sample("scheduler.idle_s", idle)
      }
    }
    out("exec.parallelism") = out.getOrElse("exec.task_s", 0.0) /
      math.max(1e-9, out.getOrElse("exec.action_s", 0.0))
    perOp.foreach { case (k, xs) => out(s"$k.p90") = Stats.quantile(xs.toSeq, 0.9) }
    out.toSeq.map { case (k, v) => k -> ((v, unit(k))) }
  }
}

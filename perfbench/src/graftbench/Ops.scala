package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Order-insensitive digest of a result: columns sorted by name and rows
  * sorted, as the DuckDB comparison in scripts/check.py canonicalizes.
  * Doubles keep 12 significant digits, so a sum whose last bits move with
  * the partitioning still digests the same. */
object Digest {
  private def canon(v: Any): String = v match {
    case null                   => "∅"
    case d: Double              => if (d.isNaN || d.isInfinite) d.toString else f"$d%.12g"
    case f: Float               => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal          => canon(b.bigDecimal)
    case r: Row                 => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
        .sorted.mkString("<", ",", ">")
    case a: Array[Byte]         => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp  => t.toInstant.toString
    case t: java.time.Instant   => t.toString
    case o                      => o.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Latency samples and failure counts of one workload run. Only ops that
  * completed AND returned the right answer give a latency sample. */
final class Stats {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val writesByOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def ok(name: String, latencyS: Double): Unit = synchronized {
    attempted += 1; latencies += latencyS
    byOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += latencyS
  }
  def wrote(name: String, latencyS: Double): Unit = synchronized {
    attempted += 1
    writesByOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += latencyS
  }
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (failures.length < 20) failures += what
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell-Davis estimate of the q-quantile: a beta-weighted mean of all
    * order statistics. A workload that mixes op kinds of different cost
    * has gaps in its latency distribution; the plain sample quantile jumps
    * across such a gap when one sample moves, this estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.length
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0
      s.indices.map { i =>
        val cur = regularizedBeta((i + 1).toDouble / n, a, b)
        val w = cur - prev
        prev = cur
        w * s(i)
      }.sum
    }
}

/** Runs one read op: build the frame, plan it once, materialize every row
  * to the driver, then check the rows outside the timed interval. With a
  * tracer, every other op of each name is traced: its phases become spans
  * and its plan counters are kept, and the latencies of traced and
  * untraced ops are kept apart to measure what tracing costs. */
final class Runner(spark: SparkSession, tracer: Option[Tracer]) {
  private val nextOp = new java.util.concurrent.atomic.AtomicLong(0)
  val traced = new Stats
  val untraced = new Stats
  private val perName = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val tracing = new ThreadLocal[Boolean]
  private def on: Boolean = tracing.get

  /** Times `build` + collect from `from` (the op's due time, or its start
    * when None). `check` returns an error message for a wrong result. */
  def read(name: String, stats: Stats, from: Option[Long] = None, sql: Boolean = false)
      (build: () => DataFrame)(check: (Seq[String], Array[Row]) => Option[String]): Unit =
    op(name, stats, from) { sp =>
      val df = sp.span(if (sql) "sql.parse" else "operators.build")(build())
      val qe = df.queryExecution
      // SQL text built inside a query builder: its parse (by the session's
      // graft parser) is the tracker's parsing phase
      if (!sql) phase(sp, qe, "parsing", "sql.parse")
      phase(sp, qe, "analysis", "plans.analyze")
      sp.span("plans.optimize")(qe.optimizedPlan)
      sp.span("plans.physical")(qe.executedPlan)
      val rows = sp.span("exec.action")(df.collect())
      val counters =
        if (!on) Map.empty[String, Double]
        else {
          val plan = qe.executedPlan
          Map("exec.files_read" -> graft.MetricsHarvest.of(plan).filesRead.toDouble,
            "exec.inmemory_scans" -> count(plan) { case _: InMemoryTableScanExec => true }.toDouble,
            "exec.rows_out" -> rows.length.toDouble)
        }
      (counters, () => check(df.columns.toSeq, rows))
    }

  /** Times a commit (`sources.commit`, or `sources.maintenance`). */
  def commit(name: String, stats: Stats, maintenance: Boolean)(body: () => Unit): Boolean = {
    var good = false
    op(name, stats, None, write = true) { sp =>
      sp.span(if (maintenance) "sources.maintenance" else "sources.commit")(body())
      good = true
      (Map.empty, () => None)
    }
    good
  }

  private def op(name: String, stats: Stats, from: Option[Long], write: Boolean = false)
      (body: OpSpans => (Map[String, Double], () => Option[String])): Unit = {
    val id = nextOp.incrementAndGet()
    tracing.set(tracer.nonEmpty &&
      perName.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong).getAndIncrement() % 2 == 0)
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val sp = new OpSpans(id)
    val start = from.getOrElse(System.nanoTime())
    try {
      val (counters, check) = sp.span("op")(body(sp))
      val latency = (System.nanoTime() - start) / 1e9
      check() match {
        case None =>
          val into = if (tracer.isEmpty) Seq(stats) else Seq(stats, if (on) traced else untraced)
          into.foreach(st => if (write) st.wrote(name, latency) else st.ok(name, latency))
          if (on) tracer.foreach(_.record(shift(sp, start), counters))
        case Some(err) => stats.fail(s"$name: wrong result: $err")
      }
    } catch {
      case e: Throwable => stats.fail(s"$name: ${e.toString.take(300)}")
    } finally sc.clearJobGroup()
  }

  // an open-loop op's root span starts when it was due, so queueing
  // before the op began is charged to the op itself
  private def shift(sp: OpSpans, start: Long): OpSpans = {
    if (sp.spans.nonEmpty && start < sp.spans(0).start)
      sp.spans(0) = sp.spans(0).copy(start = start)
    sp
  }

  private def phase(sp: OpSpans, qe: org.apache.spark.sql.execution.QueryExecution,
      phase: String, name: String): Unit =
    if (on) qe.tracker.phases.get(phase).foreach { p =>
      val parent = sp.enclosing(Clock.fromMs(p.startTimeMs), Set("op", "operators.build", "sql.parse"))
      sp.add(parent, name, Clock.fromMs(p.startTimeMs), Clock.fromMs(p.endTimeMs))
    }

  private def count(p: SparkPlan)(f: PartialFunction[SparkPlan, Boolean]): Int = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case o                        => o.children
    }
    (if (f.applyOrElse(p, (_: SparkPlan) => false)) 1 else 0) +
      kids.map(count(_)(f)).sum + p.subqueries.map(count(_)(f)).sum
  }
}

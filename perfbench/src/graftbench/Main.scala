package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * input tables and calls it; it writes one JSON result file.
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 --data DIR
  *            --digests FILE --run-dir DIR --out FILE [--spans FILE]
  *   confirm  --data DIR --out DIR
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try {
      if (mode == "confirm") Confirm.run(a) else run(a)
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def session(cpus: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Points the table cache (and with it the catalog) at `dir`. The engine
    * reads GRAFT_CACHE_DIR on every use, so each set-up in this process
    * builds its derived tables afresh in its own directory. */
  def setCacheDir(dir: String): Unit = {
    val env = System.getenv()
    val f = env.getClass.getDeclaredField("m")
    f.setAccessible(true)
    val m = f.get(env).asInstanceOf[java.util.Map[String, String]]
    m.put("GRAFT_CACHE_DIR", dir)
    m.remove("GRAFT_CATALOG_DIR")
  }

  private def run(a: Map[String, String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val runDir = a("run-dir")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val digests = Json.readStringMap(Files.readString(Paths.get(a("digests"))))
    val workload = Workload(a("workload"))
    val problems = mutable.ArrayBuffer.empty[String]

    // set-up, repeated: a fresh session and cache directory each time. The
    // first is timed from JVM start, so it also pays JVM and class start-up
    // and every engine object's first initialisation; the others are timed
    // from after the previous session has stopped, in the warm JVM.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    (1 to SetupReps).foreach { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (rep == 1) jvmStart else System.currentTimeMillis()
      setCacheDir(s"$runDir/cache/rep$rep")
      spark = session(cpus, runDir)
      ctx = Ctx(spark, a("data"), a("seed").toLong, cpus, digests)
      val warm = new Stats
      workload.setup(ctx, new Runner(spark, None), warm)
      problems ++= warm.failures.map("setup: " + _)
      setupS += (System.currentTimeMillis() - t0) / 1e3
      log(s"set-up $rep done")
    }
    problems ++= SelfTest.failureAccounting(spark)
    // what set-up leaves resident; taken before the warm-up, so that the
    // warm-up and not the window pays for whatever the full collections
    // evicted, and before the window, whose length in ops varies with the
    // machine's speed
    val heapMb = liveHeapMb()
    val warm = new Stats
    workload.warmup(ctx, new Runner(spark, None), warm)
    problems ++= warm.failures.map("warm-up: " + _)
    log("warm-up done")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val stats = new Stats
    if (!trace) {
      val t0 = System.nanoTime()
      workload.run(ctx, new Runner(spark, None), stats, seconds)
      val window = (System.nanoTime() - t0) / 1e9
      val lat = stats.latencies.toSeq
      // the median of the three: in practice the slower warm-JVM set-up
      metrics("setup_s") = (Stats.quantile(setupS.toSeq, 0.5), "s")
      metrics("read_p50_s") = (Stats.hdQuantile(lat, 0.5), "s")
      metrics("read_p90_s") = (Stats.hdQuantile(lat, 0.9), "s")
      metrics("ops_per_s") = ((stats.attempted - stats.failed) / window, "1/s")
      metrics("heap_live_mb") = (heapMb, "MB")
    } else {
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      problems ++= SelfTest.orphanJobs(spark, listener)
      problems ++= SelfTest.strayJobs()
      val tracer = new Tracer(listener)
      val runner = new Runner(spark, Some(tracer))
      workload.run(ctx, runner, stats, seconds)
      drain(spark)
      tracer.attachJobs()
      problems ++= tracer.validity
      Layers.of(tracer).foreach { case (k, (v, u)) => metrics(k) = (v, u) }
      val sc = spark.sparkContext
      val cached = sc.getRDDStorageInfo.filter(_.isCached)
      metrics("sources.cache_mb") = (cached.map(_.memSize).sum / 1048576.0, "MB")
      metrics("sources.cached_relations") = (cached.length.toDouble, "count")
      workload.layerExtras(ctx).foreach { case (k, v) => metrics(k) = (v, Layers.unit(k)) }
      metrics("harness.trace_overhead") = (traceOverhead(runner), "ratio")
      metrics("harness.cold_setup_s") = (setupS.head, "s")
      Layers.names.foreach(n => if (!metrics.contains(n)) metrics(n) = (0.0, Layers.unit(n)))
      a.get("spans").foreach(p => Files.writeString(Paths.get(p), tracer.json))
    }
    problems ++= stats.failures
    (stats.byOp ++ stats.writesByOp).toSeq.sortBy(_._1).foreach { case (n, xs) =>
      log(f"op $n%-28s n=${xs.length}%4d p50=${Stats.quantile(xs.toSeq, 0.5)}%.4f s p90=${Stats.quantile(xs.toSeq, 0.9)}%.4f s")
    }
    log(s"window done")
    spark.stop()
    log(s"session stopped")

    val out = new StringBuilder
    out.append(s"""{"correct":${problems.isEmpty && stats.failed == 0},""")
    out.append(s""""attempted":${stats.attempted},"failed":${stats.failed},"metrics":{""")
    out.append(metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(","))
    out.append("},\"problems\":").append(problems.map(Json.str).mkString("[", ",", "]"))
    out.append(s""","setup_reps_s":${setupS.map(Json.num).mkString("[", ",", "]")}}""")
    Files.writeString(Paths.get(a("out")), out.toString + "\n")
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  /** Live driver heap after full collections (local mode: the executors
    * and the block manager's cached relations live in this heap too). */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Median over op names of (traced median latency / untraced median
    * latency), over the names that ran both ways. */
  def traceOverhead(r: Runner): Double = {
    def medians(st: Stats) = (st.byOp ++ st.writesByOp).map { case (n, xs) => n -> Stats.quantile(xs.toSeq, 0.5) }
    val (t, u) = (medians(r.traced), medians(r.untraced))
    Stats.quantile(t.keySet.intersect(u.keySet).toSeq.map(n => t(n) / u(n)), 0.5)
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def readStringMap(text: String): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    val it = node.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }
}

/** Checks that the benchmark's own accounting works, run in every run
  * outside the timed window. */
object SelfTest {
  /** A throwing op and a wrong-result op must both count as failed and
    * leave no latency sample behind. */
  def failureAccounting(spark: SparkSession): Seq[String] = {
    val st = new Stats
    val runner = new Runner(spark, None)
    runner.read("selftest.throws", st)(() => throw new IllegalStateException("injected"))((_, _) => None)
    runner.read("selftest.wrong", st)(() => spark.range(3).toDF())((_, rows) =>
      if (rows.length == 4) None else Some("injected wrong result"))
    if (st.attempted == 2 && st.failed == 2 && st.latencies.isEmpty) Nil
    else Seq(s"self-test: failure accounting broken (attempted ${st.attempted}, failed ${st.failed})")
  }

  /** A job started outside any op must be reported by the trace check. */
  def orphanJobs(spark: SparkSession, listener: JobListener): Seq[String] = {
    spark.sparkContext.clearJobGroup()
    spark.range(10).collect()
    Main.drain(spark)
    val caught = new Tracer(listener).validity.exists(_.contains("no op job group"))
    listener.clear()
    if (caught) Nil else Seq("self-test: a job without a job group went unnoticed")
  }

  /** A job of an op's group that ends after the op returned must be
    * reported by the trace check; one inside the op must not. */
  def strayJobs(): Seq[String] = {
    val sp = new OpSpans(0)
    val inside = sp.span("op") {
      Thread.sleep(20)
      val j = new JobRec(0, "op-0", System.currentTimeMillis() - 10)
      Thread.sleep(20)
      j.endMs = System.currentTimeMillis()
      Thread.sleep(20)
      j
    }
    val late = new JobRec(1, "op-0", System.currentTimeMillis() + 100)
    late.endMs = late.startMs + 10
    if (Tracer.strayJobs(sp, Seq(inside, late)) == Seq("op 0: job 1 ran outside its op")) Nil
    else Seq("self-test: the check for jobs outside their op is broken")
  }
}

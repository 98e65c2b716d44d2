package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scratch profiling main: per-query breakdown of where
  * bench wall time goes — plan-construction time vs action time, job/stage
  * counts, summed executor task time, and the classes Janino compiled for
  * the query (a codegen-cache miss shows here without a profiler). Drives
  * the optimization round's "measure first" loop; not part of the engine
  * surface.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.QueryProfile [sfDir] [q ...]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = LocalSession(defaultCpus = 32, logLevel = "ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskTimeMs.addAndGet(t.taskMetrics.executorRunTime)
    })

    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // fail fast on a mistyped query name — the warmup loop swallows
    // Throwables, so a typo would otherwise only surface as a mid-report
    // NoSuchElementException after minutes of profiling (ADVICE r16)
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(", ")}")
    // warmup pass (JIT, relation caches — bench does the same). Generated
    // classes stay compiled only while the working set fits the codegen
    // cache (GraftExtensions.CodegenCacheEntries); the compiles column
    // shows what a later pass had to compile again
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // listener columns are APPROXIMATE: the SparkListenerBus drains
    // asynchronously, so despite the settle sleeps a heavy query's task
    // events can bleed into the next row's counters (observed: a cached
    // scan showing 18 s of "exec" inherited from its predecessor).
    // Profile suspects in isolation before acting on these numbers.
    println(f"${"query"}%-34s ${"cons_s"}%7s ${"act_s"}%7s ${"jobs"}%5s ${"stgs"}%5s ${"tasks"}%6s ${"exec_s"}%7s ${"compiles"}%8s ${"compile_s"}%9s  (listener cols approximate)")
    names.foreach { n =>
      // settle listener events from the previous query
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      // JVM-wide compile counters read around the query: in local mode
      // the executors share this JVM, so these count every class the
      // query compiled, with none of the listener columns' bleed
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      // a failing query must print as FAILED, not as a fast row (ADVICE
      // r16). Bench does not mark these: it discards the -1L and records
      // the time until the exception as a sample
      var failed: Option[String] = None
      val df =
        try Some(SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable => failed = Some(e.toString.take(80)); None }
      val t1 = System.nanoTime()
      try df.foreach(_.count())
      catch { case e: Throwable => failed = Some(e.toString.take(80)) }
      val t2 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      Thread.sleep(300)
      val row = f"$n%-34s ${(t1 - t0) / 1e9}%7.3f ${(t2 - t1) / 1e9}%7.3f ${jobs.get}%5d ${stages.get}%5d ${tasks.get}%6d ${taskTimeMs.get / 1e3}%7.2f $compiles%8d $compileS%9.3f"
      println(failed.fold(row)(e => s"$row  FAILED: $e"))
    }
    spark.stop()
  }
}

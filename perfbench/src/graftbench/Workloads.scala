package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{IcebergMeta, LakehouseTable, TableCache}

final case class Ctx(spark: SparkSession, data: String, seed: Long, cpus: Int,
    digests: Map[String, String])

/** One benchmark workload. `setup` builds what the timed ops need (derived
  * tables, caches) and warms every op once; `run` issues ops until the
  * window has passed. Both check every op's result. */
trait Workload {
  def setup(ctx: Ctx, runner: Runner, stats: Stats): Unit
  def run(ctx: Ctx, runner: Runner, stats: Stats, seconds: Double): Unit
  /** Untimed ops between the last set-up and the window, so the window
    * starts with the JIT and the engine's memos warm. */
  def warmup(ctx: Ctx, runner: Runner, stats: Stats): Unit =
    run(ctx, runner, stats, 2.0)
  /** Workload-specific per-layer numbers, taken after a traced window. */
  def layerExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  // the slow task-execution tails (q35, q110, q168, q169), RelationCache
  // users (q94, q110, q168), the count-vs-materialize gap (q01), the RAG
  // and text-analysis modules (q21, q65), SQL text through the graft
  // parser (q62), and the slowest query of each of the Similarity (q172),
  // Pipelines (q141) and Multimodal (q43) modules
  val Analytics = Seq("q01_", "q21_", "q35_", "q43_", "q62_", "q65_", "q94_", "q110_", "q141_",
    "q168_", "q169_", "q172_")

  def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map { p =>
    graft.SparkEntry.queries.keys.filter(_.startsWith(p)).toSeq match {
      case Seq(one) => one
      case other    => throw new IllegalArgumentException(s"query prefix $p matches $other")
    }
  }

  def apply(name: String): Workload = name match {
    case "analytics_batch" => new NamedQueries(resolve(Analytics))
    case "rag_serve"       => new RagServe
    case "lakehouse_write" => new LakehouseWrite
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Closed loop, one client: sweeps over named queries, each sweep in a new
  * seeded order. Whole sweeps only, so every run times the same op mix. */
final class NamedQueries(names: Seq[String]) extends Workload {
  private def one(ctx: Ctx, runner: Runner, stats: Stats, name: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    runner.read(name, stats)(() => fn(ctx.spark, ctx.data)) { (cols, rows) =>
      ctx.digests.get(name) match {
        case None => Some("no oracle-confirmed digest")
        case Some(want) =>
          val got = Digest.of(cols, rows)
          if (got == want) None else Some(s"digest $got != $want")
      }
    }
  }

  def setup(ctx: Ctx, runner: Runner, stats: Stats): Unit =
    names.foreach(one(ctx, runner, stats, _))

  def run(ctx: Ctx, runner: Runner, stats: Stats, seconds: Double): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end)
      rng.shuffle(names).foreach(one(ctx, runner, stats, _))
  }
}

/** Open loop: the RAG chain as SQL through GraftSql.sql, at fixed arrival
  * rates, at most `cpus` requests in flight. Latency runs from when a
  * request was due, so a stall delays every request queued behind it. */
final class RagServe extends Workload {
  val rates = Seq(4.0, 8.0, 12.0)
  val latencyLimitS = 1.0
  private var vecs: Array[(Long, Array[Float])] = Array.empty
  private var docs: Map[Long, (String, String)] = Map.empty
  // per offered rate: its requests and the backlog left when it ended
  val perRate = mutable.LinkedHashMap.empty[Double, (Stats, Int)]
  private var phaseSeconds = 1.0
  val late = mutable.ArrayBuffer.empty[Double]
  private var backlogMax = 0

  def setup(ctx: Ctx, runner: Runner, stats: Stats): Unit = {
    val s = ctx.spark
    graft.sources.Tables.embeddings(s, ctx.data).createOrReplaceTempView("embeddings")
    graft.sources.Tables.documents(s, ctx.data).createOrReplaceTempView("documents")
    vecs = s.table("embeddings").select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    docs = s.table("documents").select("doc_id", "source", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    (1 to 8).foreach(_ => request(ctx, runner, stats, draw(rng), None))
  }

  /** A request's query vector and k, drawn in arrival order. */
  private def draw(rng: scala.util.Random): (Array[Float], Int) =
    (Array.fill(64)(rng.nextGaussian().toFloat), 3 + rng.nextInt(8))

  private def request(ctx: Ctx, runner: Runner, stats: Stats, in: (Array[Float], Int),
      due: Option[Long]): Unit = {
    val (qv, k) = in
    val lit = qv.map(x => java.lang.Float.toString(x)).mkString("CAST(array(", ", ", ") AS ARRAY<FLOAT>)")
    val sql =
      s"""SELECT doc_id, source, substring(replace(text, chr(10), ''), 1, 50) || '...' AS snip, score,
         |  array_join(array_sort(collect_set(source) OVER ()), ',') AS citations
         |FROM (SELECT vec_id, cosine_similarity(embedding, $lit) AS score
         |      FROM embeddings ORDER BY score DESC, vec_id LIMIT $k) t
         |JOIN documents ON vec_id = doc_id
         |ORDER BY score DESC, doc_id""".stripMargin
    runner.read("rag_request", stats, due, sql = true)(() =>
      graft.sql.GraftSql.sql(ctx.spark, sql))((_, rows) => check(rows, qv, k))
  }

  /** Brute-force top-k by cosine over the driver's copy of the corpus. */
  private def check(rows: Array[Row], qv: Array[Float], k: Int): Option[String] = {
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val qn = norm(qv)
    val want = vecs.map { case (id, e) =>
      (id, e.indices.map(i => e(i).toDouble * qv(i)).sum / (norm(e) * qn))
    }.sortBy { case (id, sc) => (-sc, id) }.take(k)
    if (rows.length != k) return Some(s"${rows.length} rows, want $k")
    val cites = want.map(w => docs(w._1)._1).distinct.sorted.mkString(",")
    rows.zip(want).zipWithIndex.collectFirst {
      case ((r, (id, sc)), i) if {
        val gotId = r.getLong(0)
        val gotSc = r.getDouble(3)
        val tieOk = want.exists { case (wid, wsc) => wid == gotId && math.abs(wsc - sc) < 1e-6 }
        math.abs(gotSc - sc) > 1e-5 || (gotId != id && !tieOk) ||
          r.getString(1) != docs(gotId)._1 ||
          r.getString(2) != docs(gotId)._2.replace("\n", "").take(50) + "..." ||
          r.getString(4) != cites
      } => s"row $i: got ${r.mkString("|")}, want id $id score $sc citations $cites"
    }
  }

  def run(ctx: Ctx, runner: Runner, stats: Stats, seconds: Double): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val rng = new scala.util.Random(ctx.seed)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    perRate.clear(); late.clear(); backlogMax = 0
    phaseSeconds = seconds / rates.length
    try rates.foreach { rate =>
      val phase = new Stats
      val start = System.nanoTime()
      val n = math.max(1, (rate * seconds / rates.length).round.toInt)
      (0 until n).foreach { i =>
        val due = start + (i * 1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        late += (System.nanoTime() - due) / 1e9
        val in = draw(rng)
        backlogMax = math.max(backlogMax, inFlight.incrementAndGet())
        pool.submit(new Runnable {
          def run(): Unit = try request(ctx, runner, phase, in, Some(due))
            finally inFlight.decrementAndGet()
        })
      }
      // wait out the phase's last interval, then note the backlog left
      val tail = start + (n * 1e9 / rate).toLong - System.nanoTime()
      if (tail > 0) Thread.sleep(tail / 1000000)
      perRate(rate) = (phase, inFlight.get)
    } finally {
      pool.shutdown()
      if (!pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
        stats.fail("rag_request: requests still running 120 s after the window")
    }
    perRate.foreach { case (rate, (phase, left)) =>
      stats.synchronized {
        stats.latencies ++= phase.latencies
        phase.byOp.foreach { case (n, xs) => stats.byOp.getOrElseUpdate(n, mutable.ArrayBuffer.empty) ++= xs }
        stats.attempted += phase.attempted
        stats.failed += phase.failed
        stats.failures ++= phase.failures.take(5)
      }
      Main.log(f"rate $rate%.0f/s: n=${phase.latencies.length} p50=${Stats.quantile(phase.latencies.toSeq, 0.5)}%.4f s " +
        f"p90=${Stats.quantile(phase.latencies.toSeq, 0.9)}%.4f s backlog at end $left")
    }
  }

  /** The highest offered rate whose p90 met the limit with no backlog
    * left over at the end of its phase, as the rate actually completed. */
  def maxRate(cpus: Int): Double =
    perRate.values.collect { case (phase, left)
      if phase.failed == 0 && left <= cpus &&
        Stats.quantile(phase.latencies.toSeq, 0.9) <= latencyLimitS => phase.latencies.length / phaseSeconds
    }.maxOption.getOrElse(0.0)

  override def layerExtras(ctx: Ctx): Map[String, Double] = Map(
    "harness.late_p90_s" -> Stats.quantile(late.toSeq, 0.9),
    "harness.backlog_max" -> backlogMax.toDouble,
    "harness.max_rate_ops_s" -> maxRate(ctx.cpus))
}

/** Closed loop, one client: seeded commits round-robin over a native, a
  * Delta-foreign and an Iceberg-foreign table, each followed by one timed
  * read of that table, checked against an in-memory model of the table.
  * Whole commit cycles only, so every run times the same mix of kinds. */
final class LakehouseWrite extends Workload {
  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("k", IntegerType, nullable = false), StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))
  private case class Table(fmt: String, root: String, model: mutable.Map[Long, (Int, Long, String)])
  private var tables: Seq[Table] = Nil
  private var nextId = 0L
  private val written = mutable.ArrayBuffer.empty[Row]
  private var before: Map[String, Long] = Map.empty

  private def row(id: Long, v: Long): Row = Row(id, (id % 10).toInt, v, s"s${v % 100}")
  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  def setup(ctx: Ctx, runner: Runner, stats: Stats): Unit = {
    val s = ctx.spark
    val rng = new scala.util.Random(ctx.seed ^ 0x7ab1eL)
    nextId = 2000L
    val init = (0L until nextId).map(id => row(id, rng.nextInt(1000000).toLong))
    val base = TableCache.baseDir + "/bench_write"
    tables = Seq("native", "delta", "iceberg").map { fmt =>
      val root = s"$base/$fmt"
      LakehouseTable.create(frame(s, init).repartition(2), root)
      fmt match {
        case "delta"   => LakehouseTable.exportDeltaLog(s, root)
        case "iceberg" => IcebergMeta.exportIcebergMeta(s, root)
        case _         => ()
      }
      Table(fmt, root, mutable.Map(init.map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))): _*))
    }
    // warm each table's append and merge paths and its read once
    val warm = new scala.util.Random(ctx.seed ^ 0xa11L)
    Seq(0, 1).foreach(kind => tables.foreach(t => step(ctx, runner, stats, t, warm, kind)))
  }

  // every run makes the same sequence of commit kinds, so runs differ only
  // in the commits' contents: append, merge, append, delete, append,
  // update, maintenance, each round-robin over the three tables
  private val cycle = Seq(0, 1, 0, 2, 0, 3, 4)

  // the set-up already warmed the paths the window uses most
  override def warmup(ctx: Ctx, runner: Runner, stats: Stats): Unit = ()

  private def read(s: SparkSession, t: Table): DataFrame = t.fmt match {
    case "native" => LakehouseTable.read(s, t.root)
    case "delta"  => LakehouseTable.readDeltaExport(s, t.root)
    case _        => IcebergMeta.readIceberg(s, t.root)
  }

  /** One seeded commit of `kind` on `t` and the read that follows it. */
  private def step(ctx: Ctx, runner: Runner, stats: Stats, t: Table, rng: scala.util.Random,
      kind: Int): Unit = {
    val s = ctx.spark
    val (label, body, apply): (String, () => Unit, () => Unit) = kind match {
      case 0 =>
        val rows = (0 until 50 + rng.nextInt(150)).map { _ => nextId += 1; row(nextId, rng.nextInt(1000000).toLong) }
        val df = frame(s, rows)
        ("append", () => t.fmt match {
          case "native" => LakehouseTable.append(df, t.root)
          case "delta"  => LakehouseTable.appendDeltaForeign(s, t.root, df)
          case _        => IcebergMeta.appendIcebergForeign(s, t.root, df)
        }, () => { rows.foreach(r => t.model(r.getLong(0)) = (r.getInt(1), r.getLong(2), r.getString(3))); written ++= rows })
      case 1 =>
        val keys = t.model.keys.toIndexedSeq
        val upd = (0 until 30).map(_ => keys(rng.nextInt(keys.size))).distinct
          .map(id => row(id, rng.nextInt(1000000).toLong))
        val ins = (0 until 20).map { _ => nextId += 1; row(nextId, rng.nextInt(1000000).toLong) }
        val rows = upd ++ ins
        val df = frame(s, rows)
        ("merge", () => t.fmt match {
          case "native" => LakehouseTable.merge(s, t.root, df, Seq("id"))
          case "delta"  => LakehouseTable.mergeDeltaForeign(s, t.root, df, Seq("id"))
          case _        => IcebergMeta.mergeIcebergForeign(s, t.root, df, Seq("id"))
        }, () => { rows.foreach(r => t.model(r.getLong(0)) = (r.getInt(1), r.getLong(2), r.getString(3))); written ++= rows })
      case 2 =>
        val (kk, m) = (rng.nextInt(10), rng.nextInt(7))
        val pred = s"k = $kk AND id % 7 = $m"
        ("delete", () => t.fmt match {
          case "native" => LakehouseTable.deleteWhereMor(s, t.root, pred)
          case "delta"  => LakehouseTable.deleteDeltaForeign(s, t.root, pred)
          case _        => IcebergMeta.deleteIcebergForeign(s, t.root, pred)
        }, () => t.model.filterInPlace { case (id, (k, _, _)) => !(k == kk && id % 7 == m) })
      case 3 =>
        val (kk, m) = (rng.nextInt(10), rng.nextInt(5))
        val pred = s"k = $kk AND id % 5 = $m"
        ("update", () => t.fmt match {
          case "native" => LakehouseTable.updateWhere(s, t.root, Seq("v" -> "v + 1"), pred)
          case "delta"  => LakehouseTable.updateDeltaForeign(s, t.root, pred, Map("v" -> "v + 1"))
          case _        => IcebergMeta.updateIcebergForeign(s, t.root, pred, Map("v" -> "v + 1"))
        }, () => t.model.foreach { case (id, (k, v, str)) =>
          if (k == kk && id % 5 == m) {
            t.model(id) = (k, v + 1, str)
            written += Row(id, k, v + 1, str)
          }
        })
      case _ =>
        ("maintenance", () => t.fmt match {
          case "native" => LakehouseTable.compact(s, t.root)
          case "delta"  => LakehouseTable.checkpointDeltaForeign(s, t.root)
          case _        => IcebergMeta.rewriteDataFilesForeign(s, t.root)
        }, () => ())
    }
    if (runner.commit(s"${t.fmt}.$label", stats, maintenance = kind == 4)(body)) {
      apply()
      runner.read(s"${t.fmt}.read_after_$label", stats)(() => read(s, t)) { (_, rows) =>
        val got = rows.map(r => r.getAs[Long]("id") ->
          ((r.getAs[Int]("k"), r.getAs[Long]("v"), r.getAs[String]("s")))).toMap
        if (got.size != rows.length) Some("duplicate ids")
        else if (got != t.model) {
          val diff = (got.keySet ++ t.model.keySet).filter(id => got.get(id) != t.model.get(id)).take(3)
          Some(s"${rows.length} rows vs model ${t.model.size}; e.g. ids $diff")
        } else None
      }
    }
  }

  def run(ctx: Ctx, runner: Runner, stats: Stats, seconds: Double): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    written.clear()
    before = files()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end)
      cycle.foreach(kind => tables.foreach(t => step(ctx, runner, stats, t, rng, kind)))
  }

  private def files(): Map[String, Long] = tables.flatMap { t =>
    val root = Paths.get(t.root)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => s"$p@${Files.getLastModifiedTime(p).toMillis}" -> Files.size(p)).toSeq
  }.toMap

  private def isMeta(p: String): Boolean =
    p.contains("/_delta_log/") || p.contains("/metadata/") || p.contains("/_manifest") ||
      !p.takeWhile(_ != '@').endsWith(".parquet")

  /** Plain-parquet bytes of `rows` written once as a single file. */
  private def plainBytes(s: SparkSession, rows: Seq[Row]): Double = {
    val dir = Files.createTempDirectory(Paths.get(TableCache.baseDir), "plain")
    frame(s, rows).coalesce(1).write.mode("overwrite").parquet(dir.toString + "/t")
    val n = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    n.toDouble
  }

  override def layerExtras(ctx: Ctx): Map[String, Double] = {
    val after = files()
    val created = after.filter { case (k, _) => !before.contains(k) }
    val finalRows = tables.flatMap(t => t.model.toSeq.map { case (id, (k, v, str)) => Row(id, k, v, str) })
    Map(
      "sources.bytes_written" -> created.values.sum.toDouble,
      "sources.meta_bytes" -> created.filter(f => isMeta(f._1)).values.sum.toDouble,
      "sources.files_written" -> created.size.toDouble,
      "sources.live_files" -> after.size.toDouble,
      "sources.write_amp" -> created.values.sum / math.max(1.0, plainBytes(ctx.spark, written.toSeq)),
      "sources.space_amp" -> after.values.sum / math.max(1.0, plainBytes(ctx.spark, finalRows)))
  }
}

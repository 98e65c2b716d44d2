package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * The reference's only "sources" are a managed vector index handle
  * (`app/vector_search.py:24-27`) and a REST JSON endpoint
  * (`lakehouse_app_helpers.py:28-31`); here the lakehouse table IS the index:
  * a plain parquet scan that Catalyst can prune/push-down into.
  *
  * All loaders are thin on purpose — `spark.read.parquet` keeps the scan
  * declarative so column pruning and predicate pushdown reach the file reader
  * (check `.explain`: `PushedFilters`, `ReadSchema`). At 100 TB these would be
  * partitioned/bucketed table paths; the API shape stays the same.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Analyzed base-table relations, one per (session, dir, table) — the
    * DataFrame-path twin of [[registerAll]]'s "register once per session,
    * like any catalog" rule. A bare `spark.read.parquet` re-lists the path
    * and re-reads a parquet footer for schema inference on EVERY call;
    * with hundreds of queries each loading 1–7 tables, that driver-side
    * metadata walk dominates plan-construction time (measured: ~60–90 ms
    * per load, ~0.5 s for the 7-table q101) while computing nothing. A
    * real deployment fronts these paths with a metastore entry whose
    * schema and file listing are catalog state; memoizing the analyzed
    * relation reproduces exactly that (and only that — no data, no
    * results, are cached; every action still scans the parquet). One map
    * per live session ([[Memo]]), keyed by (dir, table) — a dir switch
    * simply builds the other dir's entry alongside.
    *
    * The base tables are the driver-generated read-only inputs; engine
    * WRITE paths (lakehouse roots, fixture dirs) never route through
    * here, so the listing can never go stale mid-session. */
  private val relationMemo = new Memo[DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relationMemo(spark, s"$dir/$name")(spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) (surfaces as raw int64 nanos
    * under `nanosAsLong`) and plain timestamp[us] (surfaces as
    * TIMESTAMP_NTZ). Normalize BOTH to the session-TZ TimestampType the
    * operators use — with the UTC session every entry point sets, the
    * wall-clock values are identical to what DuckDB reads natively, so
    * oracle hashes line up regardless of which layout the generator
    * produced. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.withColumn("ts", normalizedTs(raw))
  }

  /** The `ts` column of an events frame as session-TZ TimestampType,
    * whatever physical type the parquet footer carried (see [[events]]).
    * Shared with the streaming reader so batch and stream agree bit-for-bit. */
  private[graft] def normalizedTs(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType            => timestamp_micros(expr("ts div 1000")) // int64 nanos
      case _: TimestampNTZType => col("ts").cast(TimestampType)
      case _                   => col("ts")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Loader by name, routing through the special-cased readers (events'
    * nanosecond handling) — the single source of truth for `registerAll`. */
  def table(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case n        => load(s, d, n)
  }

  /** Register every table as a temp view, making the whole schema queryable
    * with `spark.sql("SELECT ... FROM lineitem JOIN orders ...")` — the
    * engine's run-any-SQL surface (pair with GraftFunctions.registerAll for
    * the custom text/vector expressions). Idempotent per (session, dir):
    * registration re-infers every parquet schema, so repeated calls from
    * SQL-path queries skip straight through — register once per session,
    * like any catalog. */
  // weak keys: a stopped SparkSession must be collectable — a strong map
  // would pin every session's state graph for the JVM lifetime in
  // processes that create sessions repeatedly
  private val registeredDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(s: SparkSession, d: String): Unit =
    if (registeredDir.get(s) != d) { // re-register on any dir switch
      all.foreach(n => table(s, d, n).createOrReplaceTempView(n))
      // record success only AFTER every view exists — a failure mid-loop
      // must not mark the dir registered or retries would silently skip
      registeredDir.put(s, d)
    }
}

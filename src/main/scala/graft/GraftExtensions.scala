package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** SparkSessionExtensions entry point, so a cluster can load the engine's
  * functions at session build with no code changes:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Same function table as [[GraftFunctions.register]] (which covers the
  * already-built-session case): [[GraftFunctions.all]].
  *
  * The first session built with it in a JVM also sizes Spark's
  * generated-class cache ([[GraftExtensions.sizeCodegenCache]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(
      "graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL DDL/DML face of the lakehouse layer: CREATE TABLE ... USING
    // graft, INSERT INTO, MERGE INTO, DELETE FROM, RESTORE, VACUUM, and
    // `VERSION AS OF` time travel, lowered onto sources/LakehouseTable.
    // Non-graft statements delegate to Spark's parser untouched.
    // the parser is built with the session state, before any query can
    // generate code, so this is where the codegen cache gets its size
    ext.injectParser { (session, delegate) =>
      GraftExtensions.sizeCodegenCache(session.sparkContext)
      new graft.sql.GraftSqlParser(session, delegate)
    }
    // metadata-only count(*) over graft tables: footer row-count
    // arithmetic instead of a scan (see plans/MetadataOnlyCount.scala)
    ext.injectOptimizerRule(session =>
      graft.plans.MetadataOnlyGraftCount(session))
    // generated-column partition pruning: range predicates on a declared
    // generation SOURCE column imply partition predicates the built-in
    // pruning can use (see plans/GeneratedPartitionPruning.scala)
    ext.injectOptimizerRule(session =>
      graft.plans.GeneratedPartitionPruning(session))
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }
}

object GraftExtensions {

  /** Entries in Spark's JVM-wide generated-class cache. Spark's default,
    * 100, is smaller than the engine's working set: one sweep of 12 named
    * queries compiles about 395 distinct classes, so LRU evicted every
    * class before its next use and each sweep recompiled about 300 of
    * them (1.3-1.5 s of Janino in a 3.4-3.9 s sweep). 512 already held
    * those 12 queries; 1024 leaves room for a wider mix. */
  val CodegenCacheEntries = 1024

  /** The cache size a session with this conf gets: an explicit
    * `spark.sql.codegen.cache.maxEntries` (a static conf, so it lives in
    * the SparkConf) wins over [[CodegenCacheEntries]]. */
  def codegenCacheEntries(conf: SparkConf): Int =
    conf.getInt(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries)

  private val codegenCacheSized = new AtomicBoolean(false)

  /** Initialises [[CodeGenerator]], whose cache reads its bound from
    * `SQLConf.get` once, when the object is first touched, under a conf
    * carrying [[codegenCacheEntries]]. Only the first call in a JVM does
    * anything, and it has no effect if the object was already
    * initialised (a session built without this extension ran codegen
    * first). */
  private[graft] def sizeCodegenCache(sc: SparkContext): Unit =
    if (codegenCacheSized.compareAndSet(false, true)) {
      val sized = new SQLConf
      sized.setConfString(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        codegenCacheEntries(sc.getConf).toString)
      SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
    }
}

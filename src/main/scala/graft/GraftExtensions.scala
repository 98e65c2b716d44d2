package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

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
    ext.injectParser((session, delegate) =>
      new graft.sql.GraftSqlParser(session, delegate))
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

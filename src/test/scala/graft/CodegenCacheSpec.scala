package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache, sized by [[GraftExtensions]]: a working
  * set of a few hundred classes must stay compiled between uses. At
  * Spark's default bound (100 entries) LRU evicts each class before its
  * next use, so every sweep recompiles all of them. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("300 distinct generated classes stay compiled across a second pass") {
    spark.range(1).collect() // the session state exists: the cache is sized
    // 300 projections whose code differs only in an inlined literal: one
    // distinct generated class each
    val projections = (0 until 300).map(i =>
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(7919000L + i))))
    val c0 = compiles
    projections.foreach(GenerateUnsafeProjection.generate(_))
    val c1 = compiles
    assert(c1 - c0 >= 300, s"the first pass must compile every class, compiled ${c1 - c0}")
    projections.foreach(GenerateUnsafeProjection.generate(_))
    assert(compiles == c1,
      s"the second pass recompiled ${compiles - c1} classes: the cache is below the working set")
  }

  test("an explicit spark.sql.codegen.cache.maxEntries beats the engine constant") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(GraftExtensions.codegenCacheEntries(new SparkConf(false)) ==
      GraftExtensions.CodegenCacheEntries)
    assert(GraftExtensions.codegenCacheEntries(new SparkConf(false).set(key, "77")) == 77)
  }
}

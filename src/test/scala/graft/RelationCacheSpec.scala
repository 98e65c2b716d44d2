package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RelationCache

/** What a [[RelationCache]] entry retains: its rows, not its build plan.
  * A broadcast made while building an entry must not stay reachable from
  * the cached relation, and a dir switch must release the old entry's
  * blocks without waiting for a GC. */
class RelationCacheSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  private def broadcasts(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) {
      case b: BroadcastExchangeLike => b
      case q: BroadcastQueryStageExec => q
    }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an entry built by a broadcast join keeps no broadcast and releases its blocks on a dir switch") {
    import spark.implicits._
    // string keys: the broadcast side is an UnsafeHashedRelation
    def build: DataFrame = {
      val facts = (1 to 200).map(i => (s"k${i % 7}", i.toLong)).toDF("key", "v")
      val dims = (0 until 7).map(i => (s"k$i", s"name$i")).toDF("key", "name")
      facts.join(broadcast(dims), "key")
    }
    assert(broadcasts(build.queryExecution.executedPlan).nonEmpty,
      "the build itself must plan a broadcast join")
    val kind = "relationcachespec.bcast"
    val before = persistentIds
    val a = RelationCache.of(spark, kind, "dirA")(build)
    val rows = sortedRows(a) // materialises the cached relation
    val rel = a.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail(s"the entry must read an InMemoryRelation:\n${a.queryExecution.withCachedData}"))
    assert(broadcasts(rel.cachedPlan).isEmpty,
      s"the cached plan retains the build's broadcast:\n${rel.cachedPlan}")
    assert(rows == sortedRows(build))

    val ckpt = a.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd.id }
      .getOrElse(fail(s"the entry must read its checkpoint:\n${a.queryExecution.logical}"))
    val own = Set(ckpt, rel.cacheBuilder.cachedColumnBuffers.id)
    assert(own.subsetOf(persistentIds -- before), "the entry's blocks must be persisted")
    RelationCache.of(spark, kind, "dirB")(build)
    assert((own & persistentIds).isEmpty,
      s"a dir switch must unpersist the old entry's RDDs, still held: ${own & persistentIds}")
  }

  test("an entry keeps its build's partitioning: grouping by the repartition key shuffles nothing") {
    val build = spark.range(400).select((col("id") % 13).as("k"), col("id")).repartition(col("k"))
    val a = RelationCache.of(spark, "relationcachespec.part", "dirA")(build)
    val grouped = a.groupBy("k").count()
    assert(grouped.collect().length == 13)
    val shuffles = collectWithSubqueries(grouped.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty, s"the consumer shuffles the entry again:\n${grouped.queryExecution.executedPlan}")
  }

  test("a build that is already a checkpoint is kept as it is, not materialised again") {
    import spark.implicits._
    val kind = "relationcachespec.ckpt"
    val cp = (1 to 50).map(i => (i, i * 2)).toDF("a", "b").localCheckpoint(true)
    val before = persistentIds
    val a = RelationCache.of(spark, kind, "dirA")(cp)
    assert(a eq cp)
    assert(a.storageLevel == StorageLevel.NONE, "no InMemoryRelation over a checkpoint")
    assert(persistentIds == before, "no second copy of the rows")
    val rdd = a.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    assert(persistentIds.contains(rdd))
    RelationCache.of(spark, kind, "dirB")(Seq((1, 2)).toDF("a", "b"))
    assert(!persistentIds.contains(rdd), "a dir switch must unpersist the checkpoint")
  }
}

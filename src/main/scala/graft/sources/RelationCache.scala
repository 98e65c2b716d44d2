package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioningLike
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Keyed registry for long-lived cached relations (the corpus shingle
  * index, the 0.5-threshold dup-pair set): one materialised copy per
  * (session, kind, data dir), and switching a kind to a NEW data dir
  * releases the previous dir's copy.
  *
  * Without this, every invocation re-cache()s and nothing ever
  * unpersists: across a long driver session touching several data dirs,
  * cached relations pile up in executor storage memory and evict each
  * other unpredictably.
  *
  * An entry is its build, run once into local checkpoint blocks and
  * cached on top of them: consumers still read an `InMemoryRelation`,
  * but its cached plan reads the checkpoint, not the build. Caching the
  * build itself would keep its executed plan alive for the session's
  * lifetime, and with it every broadcast relation the build made (a
  * whole Tungsten page each, however small the table). Each entry is its
  * own relation: two kinds with equal builds do not share one copy
  * through CacheManager's plan matching. A build that is already a
  * materialised checkpoint (the converged CC labels) is kept as it is,
  * not copied a second time.
  *
  * A dir switch unpersists the old entry's cached relation and its
  * checkpoint blocks at once, without waiting for a GC to let the
  * ContextCleaner find them; a relation taken from the old entry must not
  * run after the switch.
  *
  * One map per live session ([[Memo]]): a stopped session's
  * registrations are retired on the next `of` call (their cached blocks
  * died with the executors; only the references linger).
  */
object RelationCache {
  /** An entry's relation and the checkpoint blocks it reads. */
  private final case class Entry(df: DataFrame, blocks: RDD[_])

  private val perSession = new Memo[Entry]

  /** The cached relation for (kind, dir), building + materialising on
    * first use. `build` must be a pure plan constructor (no side
    * effects). */
  def of(s: SparkSession, kind: String, dir: String)(build: => DataFrame): DataFrame = {
    val m = perSession.of(s)
    m.synchronized {
      val full = s"$kind@$dir"
      val hit = m.get(full)
      if (hit != null) hit.df
      else {
        // dir switch: retire the kind's previous relation before building
        // the new one, so storage memory holds one copy per kind
        m.entrySet.removeIf { e =>
          val stale = e.getKey.startsWith(kind + "@")
          if (stale) {
            e.getValue.df.unpersist(false)
            e.getValue.blocks.unpersist(false)
          }
          stale
        }
        val entry = materialise(build)
        m.put(full, entry)
        entry.df
      }
    }
  }

  /** `build` run once into local checkpoint blocks and cached on top,
    * hash-partitioned again on the keys the build ended partitioned on.
    * `localCheckpoint` asks the adaptive plan wrapper for the rows'
    * partitioning, which it does not report, so without this every
    * consumer of a build that ends in a repartition would shuffle the
    * entry again; here the repartition runs once, when the cache
    * materialises. (Declaring the partitioning on the checkpoint's own
    * LogicalRDD instead breaks CacheManager matching of its self-join
    * copies, whose partitioning keys get fresh ids.) */
  private def materialise(build: DataFrame): Entry = checkpointOf(build) match {
    case Some(blocks) => Entry(build, blocks)
    case None =>
      val cp = build.localCheckpoint(true)
      val ran = build.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val out = AttributeSet(cp.queryExecution.logical.output)
      val df = ran.outputPartitioning match {
        case h: HashPartitioningLike if h.expressions.forall {
              case a: Attribute => out.contains(a)
              case _ => false
            } =>
          cp.repartition(h.numPartitions, h.expressions.map(ColumnBridge.column): _*)
        case _ => cp
      }
      Entry(df.cache(), checkpointOf(cp).get)
  }

  /** The materialised checkpoint `df` is, if it is one. */
  private def checkpointOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD if l.rdd.isCheckpointed => Some(l.rdd)
      case _ => None
    }
}

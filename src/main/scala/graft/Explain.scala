package graft

/** Plan-audit surface: prints `.explain("formatted")` for selected queries
  * so pushdown / broadcast / partial-agg / exchange-reuse / codegen spans
  * can be reviewed (and regressions spotted) without the Spark UI.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]   (default: audit set)
  */
object Explain {
  private val defaultAudit = Seq(
    "q02_filter_project",   // PushedFilters + narrow ReadSchema
    "q01_pricing_summary",  // partial HashAggregate before exchange
    "q07_brand_volume",     // BroadcastHashJoin on dim
    "q21_rag_topk",         // TakeOrderedAndProject
    "q32_minhash_lsh",      // packed-pair agg: no self-join, one sig eval
    "q41_asof_join",        // single shuffle, no range join
    "q135_span_dup",        // shared-window build side, array-size counts
    "q138_apply_mixture")   // 20-row plan broadcast, map-side accept

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else defaultAudit
    val spark = LocalSession(logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

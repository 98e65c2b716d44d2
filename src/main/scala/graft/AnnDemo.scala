package graft

/** Runnable surface for the similarity-search tiers: exact brute-force,
  * hand-rolled IVF (q37), and the MLlib BucketedRandomProjectionLSH
  * variant — side by side for the same query vector.
  *
  * Usage: runMain graft.AnnDemo [sfDir] [queryVec] [k]
  */
object AnnDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val qv = args.lift(1).map(_.toLong).getOrElse(0L)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = LocalSession()
    println(s"[ann-demo] exact cosine top-$k for vec $qv:")
    operators.Similarity.queries("q36_knn_bruteforce")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("qid") === qv)
      .show(k, truncate = false)
    println(s"[ann-demo] MLlib LSH approx top-$k (euclidean):")
    operators.Similarity.annLsh(spark, sfDir, qv, k).show(k, truncate = false)
    spark.stop()
  }
}

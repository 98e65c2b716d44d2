package graftbench

import java.nio.file.{Files, Paths}

/** Writes what `perfbench/confirm.py` needs to confirm expected digests
  * against the DuckDB oracle: each query's result as one parquet file, its
  * digest, and its oracle SQL, for every query analytics_batch times. Run
  * twice on fresh cache directories, it also shows which digests repeat. */
object Confirm {
  def run(a: Map[String, String]): Unit = {
    val out = a("out")
    Main.setCacheDir(s"$out/cache")
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), out)
    val oracle = graft.SparkEntry.oracleSql
    val names = Workload.resolve(Workload.Analytics)
    val digests = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, a("data"))
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n")
      n -> Digest.of(df.columns.toSeq, rows)
    }
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$out/spark_digests.json"), obj(digests))
    Files.writeString(Paths.get(s"$out/results/oracle_sql.json"),
      obj(names.flatMap(n => oracle.get(n).map(n -> _))))
    spark.stop()
  }
}

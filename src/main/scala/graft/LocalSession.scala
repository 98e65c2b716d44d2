package graft

import org.apache.spark.sql.SparkSession

/** The session of the runnable mains (`Verify`, `QueryProfile`, `Explain`,
  * `AnnDemo`, `StreamDemo`): `local[SPARK_GRAFT_CPUS]` with one shuffle
  * partition per core, UTC session time, no UI, and the graft extensions,
  * so every main plans under the same optimizer rules the engine ships.
  * `Bench` builds its own: its board's session must not move. */
object LocalSession {
  def apply(defaultCpus: Int = 4, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

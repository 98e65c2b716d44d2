package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Runnable surface for the Structured Streaming operators: stages the
  * events table as a file-source directory, runs each streaming op to
  * completion against a memory sink, and prints row counts + samples.
  *
  * Usage: runMain graft.StreamDemo [sfDir]   (default sf0.001)
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession()

    val dir = Files.createTempDirectory("graft-stream-demo")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def drive(name: String, df: org.apache.spark.sql.DataFrame, mode: String): Unit = {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      val t = spark.table(name)
      println(s"[stream-demo] $name rows=${t.count()}")
      t.show(3, truncate = false)
    }

    drive("tumbling", Streams.tumblingHourly(
      Streams.eventsStream(spark, dir.toString)), "complete")
    drive("sessions", Streams.sessionWindows(
      Streams.eventsStream(spark, dir.toString)), "complete")
    drive("dedup", Streams.dedupStream(
      Streams.eventsStream(spark, dir.toString)), "append")
    drive("distinct_users", Streams.distinctUsersHourly(
      Streams.eventsStream(spark, dir.toString)), "update")
    drive("click_purchase", Streams.clickPurchaseJoin(
      Streams.eventsStream(spark, dir.toString)), "append")

    val ingestBase = Files.createTempDirectory("graft-ingest-demo")
    val tbl = ingestBase.resolve("tbl").toString
    val iq = Streams.ingestInto(Streams.eventsStream(spark, dir.toString), tbl,
      ingestBase.resolve("ckpt").toString)
    iq.processAllAvailable(); iq.stop()
    println(s"[stream-demo] ingest versions=${graft.sources.LakehouseTable.versions(tbl)}" +
      s" rows=${graft.sources.LakehouseTable.read(spark, tbl).count()}")

    import spark.implicits._
    val evts = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsMicros"))
      .as[Streams.Evt]
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Evt](spark, 1)
    ms.addData(evts.collect().toSeq)
    drive("history", Streams.historyReplay(ms.toDS(), withTimeout = false).toDF(), "append")

    // the graft-table SOURCE: tail the ingested table itself — snapshot
    // first, then append-only deltas per commit (run against the table
    // `ingestInto` just produced, plus one live append mid-stream)
    val srcQ = spark.readStream.format("graft-table").option("path", tbl).load()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("table_source").start()
    srcQ.processAllAvailable()
    graft.sources.LakehouseTable.append(
      graft.sources.LakehouseTable.read(spark, tbl).limit(5), tbl)
    srcQ.processAllAvailable(); srcQ.stop()
    val ts = spark.table("table_source")
    println(s"[stream-demo] table_source rows=${ts.count()} " +
      s"(totals include the mid-stream append of 5)")
    ts.show(3, truncate = false)

    spark.stop()
  }
}

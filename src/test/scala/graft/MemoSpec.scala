package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergMeta, Memo, Tables, LakehouseTable => LT}

/** The driver-side memos: session retirement and the reset bound of
  * [[Memo]], the hit path of every memoized read face (a memo that
  * silently stops hitting passes every result check), and the
  * same-millisecond rewrite that a millisecond-mtime key misses. */
class MemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_memo_$tag").toString + "/t"

  test("Memo retires a stopped session's entries on the next access") {
    val other = spark.newSession()
    var stopped = Set.empty[SparkSession]
    val memo = new Memo[String](s => stopped.contains(s))
    assert(memo(other, "k")("built") == "built")
    assert(memo(other, "k")(fail("must hit")) == "built")
    stopped = Set(other)
    memo(spark, "k")("live") // any access retires the stopped session
    stopped = Set.empty
    assert(memo.of(other).isEmpty, "the stopped session's entries must be gone")
    assert(memo(spark, "k")(fail("a live session keeps its entries")) == "live")
  }

  test("Memo resets a session's map past MaxEntries") {
    val memo = new Memo[String]
    (0 to Memo.MaxEntries).foreach(i => memo(spark, s"k$i")(s"v$i"))
    assert(memo.of(spark).size == Memo.MaxEntries + 1)
    assert(memo(spark, "k0")("rebuilt") == "rebuilt")
    assert(memo.of(spark).size == 1)
  }

  test("Tables.load hits its memo") {
    val a = Tables.load(spark, sf, "region")
    assert(Tables.load(spark, sf, "region") eq a)
    assert(Tables.load(spark, sf, "nation") ne a)
  }

  test("native read and changeFeed hit on an unchanged table and rebuild after a commit") {
    import spark.implicits._
    val root = freshRoot("native")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    val v0 = LT.currentVersion(root).get
    LT.append(Seq((3L, "c")).toDF("id", "v"), root)
    val v1 = LT.currentVersion(root).get
    val read = LT.read(spark, root)
    val feed = LT.changeFeed(spark, root, v0, v1, Seq("id"))
    assert(LT.read(spark, root) eq read)
    assert(LT.changeFeed(spark, root, v0, v1, Seq("id")) eq feed)
    LT.append(Seq((4L, "d")).toDF("id", "v"), root)
    assert(LT.read(spark, root) ne read)
    assert(LT.changeFeed(spark, root, v0, v1, Seq("id")) ne feed)
  }

  test("Delta export reads hit on an unchanged log and rebuild after a commit") {
    import spark.implicits._
    val root = freshRoot("delta")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    LT.enableChangeDataFeed(spark, root, Seq("id"))
    LT.exportDeltaLog(spark, root) // write-through from here on
    LT.append(Seq((3L, "c")).toDF("id", "v"), root)
    val v = LT.currentVersion(root).get
    val read = LT.readDeltaExport(spark, root)
    val changes = LT.readDeltaExportChanges(spark, root, v, v)
    assert(LT.readDeltaExport(spark, root) eq read)
    assert(LT.readDeltaExportChanges(spark, root, v, v) eq changes)
    LT.append(Seq((4L, "d")).toDF("id", "v"), root)
    assert(LT.readDeltaExport(spark, root) ne read)
    assert(LT.readDeltaExportChanges(spark, root, v, v) ne changes)
  }

  test("Iceberg reads hit on an unchanged chain and rebuild after a commit") {
    import spark.implicits._
    val root = freshRoot("iceberg")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    IcebergMeta.exportIcebergMeta(spark, root) // write-through from here on
    LT.append(Seq((3L, "c")).toDF("id", "v"), root)
    val seq = IcebergMeta.snapshots(root).map(_.seq).max
    val read = IcebergMeta.readIceberg(spark, root)
    val log = IcebergMeta.icebergChangelog(spark, root, seq - 1, seq, Seq("id"))
    assert(IcebergMeta.readIceberg(spark, root) eq read)
    assert(IcebergMeta.icebergChangelog(spark, root, seq - 1, seq, Seq("id")) eq log)
    LT.append(Seq((4L, "d")).toDF("id", "v"), root)
    assert(IcebergMeta.readIceberg(spark, root) ne read)
    assert(IcebergMeta.icebergChangelog(spark, root, seq - 1, seq, Seq("id")) ne log)
  }

  test("a same-size in-place metadata rewrite within one millisecond rebuilds the Iceberg read") {
    import spark.implicits._
    val root = freshRoot("rewrite")
    LT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    IcebergMeta.exportIcebergMeta(spark, root)
    val before = IcebergMeta.readIceberg(spark, root)
    assert(before.columns.toSeq == Seq("id", "v"))
    // rewrite the current metadata file in place, as snapshot expiry
    // does: same byte length (column `v` renamed to `w`), mtime moved
    // by one nanosecond inside the original millisecond
    val meta = Paths.get(root, "metadata")
    val n = Files.readString(meta.resolve("version-hint.text")).trim
    val f = meta.resolve(s"v$n.metadata.json")
    val old = Files.readString(f)
    val doctored = old.replace("\"name\":\"v\"", "\"name\":\"w\"")
    assert(doctored != old && doctored.getBytes(UTF_8).length == Files.size(f))
    val mtime = Files.getLastModifiedTime(f)
    val nanos = mtime.to(TimeUnit.NANOSECONDS)
    val moved = if (nanos % 1000000L == 999999L) nanos - 1 else nanos + 1
    Files.writeString(f, doctored)
    Files.setLastModifiedTime(f, FileTime.from(moved, TimeUnit.NANOSECONDS))
    val now = Files.getLastModifiedTime(f)
    assert(now.toMillis == mtime.toMillis)
    assume(now != mtime, "the filesystem keeps millisecond mtimes only")
    val after = IcebergMeta.readIceberg(spark, root)
    assert(after ne before)
    assert(after.columns.toSeq == Seq("id", "w"))
  }
}

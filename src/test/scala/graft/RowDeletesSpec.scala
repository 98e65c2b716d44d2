package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergMeta, RowDeletes, LakehouseTable => LT}

/** The row-identity file key ([[graft.sources.RowDeletes]]) over partition
  * values a URI encodes: '+' (a literal plus, not a space), ' ' (%20), '%'
  * (escaped twice: %25 in the dir name, %2525 in the URI) and a non-ASCII
  * letter. If the SQL key and its driver twin disagree on any of them,
  * a position delete misses its row and the row comes back. */
class RowDeletesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // a JVM whose file-name encoding is not UTF-8 (a POSIX locale) cannot
  // create the 'ü' directory at all; the synthetic-URI test below still
  // covers that value's key on such a host
  private val parts = Seq("a+b", "c d", "50%") ++ Seq("ü").filter(
    java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
      .newEncoder().canEncode(_))

  private def freshTable(name: String): String = {
    val r = sources.TableCache.baseDir + s"/rowdel_$name"
    val p = Paths.get(r)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq
        .sortBy(_.toString).reverse.foreach(Files.deleteIfExists(_))
    }
    import spark.implicits._
    LT.create((1L to 40L).map(i => (i, parts((i % parts.size).toInt)))
      .toDF("id", "k"), r, partitionBy = Seq("k"))
    r
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("SQL fileKey equals its driver twin and names the file, for every row") {
    val root = freshTable("key")
    val data = Paths.get(root, "data").toString
    val scan = spark.read.option("basePath", data).parquet(data)
    for (under <- Seq(data, root, "")) {
      val rows = scan.select(col("k"), col("_metadata.file_path"),
        RowDeletes.fileKey(col("_metadata.file_path"), under)).collect()
      assert(rows.length == 40)
      assert(rows.map(_.getString(0)).toSet == parts.toSet)
      rows.foreach { r =>
        val (uri, key) = (r.getString(1), r.getString(2))
        assert(RowDeletes.fileKey(uri, under) == key, s"under '$under': $uri")
        val file = if (under.isEmpty) Paths.get(key) else Paths.get(under, key)
        assert(Files.isRegularFile(file), s"under '$under': $uri → $key")
      }
    }
  }

  test("SQL fileKey equals its driver twin on URIs the host cannot write") {
    import spark.implicits._
    val uris = Seq("file:/t/data/k=%C3%BC/p.parquet", "file:///t/data/k=ü/p.parquet",
      "file:/t/data/k=a+b/p.parquet", "file:/t/data/k=50%2525/p.parquet",
      "file:/t/data/k=c%20d/p.parquet", "/t/data/k=x/p.parquet")
    for (under <- Seq("/t/data", "/t", "")) {
      val keys = uris.toDF("u").select(RowDeletes.fileKey(col("u"), under))
        .collect().map(_.getString(0)).toSeq
      assert(keys == uris.map(RowDeletes.fileKey(_, under)), s"under '$under'")
    }
    assert(RowDeletes.fileKey(uris.head, "/t/data") == "k=ü/p.parquet")
    assert(RowDeletes.fileKey(uris(2), "/t") == "data/k=a+b/p.parquet")
    assert(RowDeletes.fileKey(uris(3), "") == "/t/data/k=50%25/p.parquet")
  }

  test("one deleted row per partition stays hidden in native, Delta and Iceberg reads") {
    val root = freshTable("del")
    val n = parts.size.toLong // ids 1..n cover every partition once
    val mor = (1L to n).toSet
    LT.deleteWhereMor(spark, root, s"id IN (${mor.mkString(",")})")
    val live = (1L to 40L).toSet -- mor
    assert(ids(LT.read(spark, root)) == live)
    // the Delta export carries the deletes as spec DV blobs
    LT.exportDeltaLog(spark, root)
    assert(ids(LT.readDeltaExport(spark, root)) == live)
    // the Iceberg mirror carries them as position-delete files
    IcebergMeta.exportIcebergMeta(spark, root)
    assert(ids(IcebergMeta.readIceberg(spark, root)) == live)
    // a foreign Iceberg delete writes absolute delete-file paths
    val foreign = (n + 1 to 2 * n).toSet
    IcebergMeta.deleteIcebergForeign(spark, root,
      s"id IN (${foreign.mkString(",")})")
    assert(ids(IcebergMeta.readIceberg(spark, root)) == live -- foreign)
  }
}

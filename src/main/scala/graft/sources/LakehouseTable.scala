package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Delta/Iceberg-style versioned table layer over parquet — the
  * "lakehouse tables" half of the north star (BASELINE.json:6: "Spark SQL +
  * Delta/Iceberg tables ... read/write/compaction").
  *
  * Layout (all under one table root):
  * {{{
  *   root/data/<uuid>/...parquet      immutable data files (hive-partitioned
  *                                    subdirs when partitionBy is used)
  *   root/_manifest/<version>.json    snapshot = the exact file list
  * }}}
  *
  * Semantics (single-writer, as per local bench; the commit point is an
  * atomic manifest rename):
  *  - every write/append/compact/delete-where produces a NEW immutable
  *    version; readers pin a manifest, so concurrent reads never see a
  *    half-written table (snapshot isolation);
  *  - time travel = read an old manifest;
  *  - compaction rewrites current data into fewer files — a new version
  *    whose manifest simply lists the rewritten files (old versions still
  *    readable until vacuum);
  *  - vacuum deletes data files referenced by NO retained manifest.
  *
  * At 100 TB the same design holds: manifests list O(files) paths, data
  * files are immutable parquet with hive partitioning for pruning, and the
  * only mutation is an atomic rename. (This is deliberately the Iceberg v1
  * shape with a single manifest level.)
  */
object LakehouseTable {

  private def manifestDir(root: String): Path = Paths.get(root, "_manifest")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  /** Committed versions, ascending. */
  /** Drain a Files.list/walk stream THROUGH a transformation, closing the
    * stream (and its directory fd) deterministically: a long-running
    * streaming ingest calls the manifest listing every micro-batch, and
    * unclosed DirectoryStreams exhaust the process fd limit. */
  private[graft] def withDrained[A](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => Iterator[A]): Seq[A] =
    try f(s.iterator().asScala).toSeq finally s.close()

  def versions(root: String): Seq[Long] =
    if (!Files.isDirectory(manifestDir(root))) Seq.empty
    else withDrained(Files.list(manifestDir(root)))(
      _.map(_.getFileName.toString).filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong)).sorted

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** Latest version committed at or before `tsMillis`, by manifest-file
    * modification time — Delta's TIMESTAMP AS OF convention (the commit
    * file's mtime IS the commit time; an atomic rename preserves the
    * write-time stamp). None when the table did not exist yet. */
  def versionAt(root: String, tsMillis: Long): Option[Long] =
    versions(root).filter { v =>
      // a concurrent vacuum may delete an old manifest between the
      // listing and this stat — a vanished version is simply not a
      // candidate (it is no longer readable anyway)
      try commitTsAt(root, v).getOrElse(Files.getLastModifiedTime(
        manifestDir(root).resolve(s"$v.json")).toMillis) <= tsMillis
      catch { case _: java.nio.file.NoSuchFileException => false }
    }.lastOption

  private val CommitTsRe = """"ts":\s*(\d+)""".r

  /** IN-COMMIT timestamp of version `v` — the wall clock recorded inside
    * the manifest at commit time (Delta's in-commit-timestamps feature).
    * Unlike the file mtime it survives copies, backup restores, and
    * rsyncs, so TIMESTAMP AS OF stays correct on a relocated table.
    * None for manifests written before the field existed (readers fall
    * back to mtime — old tables keep working). */
  def commitTsAt(root: String, v: Long): Option[Long] =
    CommitTsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1).toLong)

  /** Data-file count of version `v` straight from its manifest — O(one
    * small JSON read), for metadata commands (DESCRIBE DETAIL). */
  def fileCount(root: String, v: Long): Int = readManifest(root, v).size

  /** Version `v`'s manifest file list (relative paths), public for the
    * streaming source's file-cursor arithmetic — the list is immutable
    * once committed, so positions into it are restart-stable. */
  def manifestFiles(root: String, v: Long): Seq[String] = readManifest(root, v)

  /** On-disk size of one data-relative file — the streaming source's
    * byte-based admission signal (data files are immutable, so the size
    * is stable across restarts). 0 for a vanished file (vacuumed from
    * under an ignoreChanges stream): admission is control flow only and
    * must not fail the walk. */
  def dataFileSize(root: String, rel: String): Long =
    try Files.size(dataDir(root).resolve(rel))
    catch { case _: java.io.IOException => 0L }

  private def readManifest(root: String, v: Long): Seq[String] = {
    val txt = Files.readString(manifestDir(root).resolve(s"$v.json"))
    // manifest is {"txns": {"app": N, ...}, "files": ["rel/path", ...]}
    // (txns optional) — parsed without a JSON lib; commit() REJECTS paths
    // containing '"' or ',' (and app ids outside [A-Za-z0-9_.-]) so the
    // split below cannot be corrupted by partition values or app names.
    val body = txt.substring(txt.indexOf('[') + 1, txt.lastIndexOf(']')).trim
    if (body.isEmpty) Seq.empty
    else body.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  private val TxnsRe = """"txns":\s*\{([^}]*)\}""".r
  private val TxnPairRe = """"([^"]+)":\s*(\d+)""".r

  /** Writer id used when a txn is stamped without an explicit app id. */
  val DefaultTxnApp = "default"

  /** Delta's default `deletedFileRetentionDuration` (168 h): how long
    * a remove tombstone rides checkpoints before expiring out. */
  private val DeltaTombstoneRetentionMs: Long = 168L * 3600L * 1000L

  /** Parse Delta's calendar-interval property text ("interval 1 week",
    * "interval 30 days", multi-term "interval 1 day 12 hours") to
    * milliseconds. None for text this parser cannot prove — callers
    * must fall back CONSERVATIVELY (the default retention), never
    * treat unparseable as zero: a mis-read retention reclaims files
    * readers still resolve. Months/years are calendar-dependent and
    * Delta's own retention code rejects them for durations — so do we. */
  private[graft] def deltaIntervalMs(text: String): Option[Long] = {
    val t = text.trim.toLowerCase(java.util.Locale.ROOT)
    val body = if (t.startsWith("interval")) t.drop(8).trim else t
    if (body.isEmpty) return None
    val TermRe = """(\d+)\s*(week|day|hour|minute|second|millisecond)s?""".r
    val terms = TermRe.findAllMatchIn(body).toSeq
    // every character must belong to a recognized term (reject
    // "interval 1 month" rather than silently reading 0)
    val consumed = terms.map(_.matched.replaceAll("\\s+", "")).mkString
    if (terms.isEmpty || consumed != body.replaceAll("\\s+", "")) None
    else {
      // BigInt arithmetic, saturating at Long.MaxValue: a huge declared
      // window ("interval 20000000000 weeks" = keep forever) must not
      // overflow to a NEGATIVE retention — that would silently expire
      // every tombstone the window was declared to protect — and a
      // >19-digit count must not throw out of a maintenance op
      val total = terms.map { m =>
        BigInt(m.group(1)) * (m.group(2) match {
          case "week"        => 7L * 24 * 3600 * 1000
          case "day"         => 24L * 3600 * 1000
          case "hour"        => 3600L * 1000
          case "minute"      => 60L * 1000
          case "second"      => 1000L
          case "millisecond" => 1L
        })
      }.sum
      Some(if (total > BigInt(Long.MaxValue)) Long.MaxValue
           else total.toLong)
    }
  }

  /** The table's remove-tombstone retention window in ms:
    * `delta.deletedFileRetentionDuration` when the configuration
    * carries a parseable one, else Delta's 168 h default. Gates both
    * checkpoint tombstone expiry and vacuum's protection horizon — a
    * table that declares a LONGER window keeps its files reclaimable
    * only after that window on every path. A declared-but-unparseable
    * window (e.g. "interval 1 month" — reference Delta rejects
    * calendar units for durations too) REFUSES instead of silently
    * substituting the shorter default: the table may have declared a
    * longer window, and a silent 168 h would reclaim files its readers
    * still resolve. */
  private def deltaTombstoneRetentionMs(conf: Map[String, String]): Long =
    conf.get("delta.deletedFileRetentionDuration") match {
      case None => DeltaTombstoneRetentionMs
      case Some(text) => deltaIntervalMs(text).getOrElse(
        throw new IllegalArgumentException(
          "cannot parse delta.deletedFileRetentionDuration " +
            s"'$text' (weeks/days/hours/minutes/seconds only — " +
            "calendar months/years are rejected, as reference Delta " +
            "does); refusing rather than substituting the 168h default"))
    }

  /** All (writer app id → last transaction id) watermarks. Streaming
    * writers stamp their micro-batch id under their OWN app id — Delta's
    * (txnAppId, txnVersion) pattern — so a replayed batch is detected
    * per writer: two streams (or a stream plus an incremental view)
    * writing one table can no longer clobber each other's watermark, and
    * a query restarted with a NEW checkpoint gets a new app id, so its
    * reset batchIds are not mistaken for replays of the old stream's.
    * O(1): `commit` carries the whole map forward through txn-less
    * commits (compact/cluster/restore), so ONLY the latest manifest needs
    * reading — a long-running stream does not scan its version history
    * every micro-batch. */
  def lastTxns(root: String): Map[String, Long] =
    currentVersion(root).map(lastTxnsAt(root, _)).getOrElse(Map.empty)

  /** The txn watermarks as recorded in version `v`'s manifest (history
    * inspection — [[lastTxns]] is the live-version form). */
  def lastTxnsAt(root: String, v: Long): Map[String, Long] =
    TxnsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(m => TxnPairRe.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toLong).toMap)
      .getOrElse(Map.empty)

  /** Last committed transaction id for one writer (see [[lastTxns]]). */
  def lastTxn(root: String, app: String = DefaultTxnApp): Option[Long] =
    lastTxns(root).get(app)

  private val AddedColsRe = """"addedCols":\s*"([^"]*)"""".r
  private val RenamedColsRe = """"renamedCols":\s*"([^"]*)"""".r
  private val DroppedColsRe = """"droppedCols":\s*"([^"]*)"""".r

  /** Delta-style column mapping, recorded per manifest version: renames are
    * (physical → logical) pairs — the parquet files keep their original
    * (physical) column names forever, and reads surface the logical names —
    * and drops are physical names hidden from reads. Both are metadata-only
    * commits (same file set), travel WITH the version like [[addedColumnsAt]]
    * (time travel and RESTORE see their epoch's names), and carry forward
    * through later commits. At 100 TB this is the only sane rename: no
    * rewrite of the data, ever. */
  def renamedColumnsAt(root: String, v: Long): Seq[(String, String)] =
    RenamedColsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { pair =>
        val Array(phys, log) = pair.split(">", 2)
        phys.trim -> log.trim
      })

  /** Physical column names hidden by ALTER TABLE DROP COLUMN as of version
    * `v` (see [[renamedColumnsAt]]). */
  def droppedColumnsAt(root: String, v: Long): Seq[String] =
    DroppedColsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))

  private def encodeRenames(rs: Seq[(String, String)]): String =
    rs.map { case (p, l) => s"$p>$l" }.mkString(", ")

  private val WidenedColsRe = """"widenedCols":\s*"([^"]*)"""".r

  /** ALTER COLUMN TYPE widening state as of version `v`: (physical column
    * name → widened SQL type) pairs, metadata-only like
    * [[renamedColumnsAt]]. Data files keep whatever physical type their
    * write epoch used (int32 before an int→bigint widen, int64 after —
    * nothing is rewritten); reads request the WIDENED type from the
    * parquet reader, which up-converts narrow physical values per file.
    * Travels with the version: time travel to a pre-widen version reads
    * the original type. This is Delta's type-widening table feature
    * expressed over the graft manifest. */
  def widenedColumnsAt(root: String, v: Long): Seq[(String, String)] =
    WidenedColsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { pair =>
        val Array(phys, t) = pair.split(">", 2)
        phys.trim -> t.trim
      })

  private def encodeWidens(ws: Seq[(String, String)]): String =
    ws.map { case (p, t) => s"$p>$t" }.mkString(", ")

  private val IdentityRe = """"identity":\s*"([^"]*)"""".r

  /** GENERATED-ALWAYS identity state as of version `v`:
    * (id column, order keys, high watermark). The watermark is the last
    * id ever allocated — it only advances (RESTORE carries it forward,
    * Delta-identity style), so ids are never reused even across
    * restores. */
  def identityAt(root: String, v: Long): Option[(String, Seq[String], Long)] =
    IdentityRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).map { s =>
      val Array(idCol, keys, wm) = s.split(">", 3)
      (idCol.trim, keys.split('|').toSeq.map(_.trim).filter(_.nonEmpty),
        wm.trim.toLong)
    }

  private def encodeIdentity(idCol: String, keys: Seq[String], wm: Long): String =
    s"$idCol>${keys.mkString("|")}>$wm"

  private val CdfRe = """"cdf":\s*"([^"]*)"""".r

  /** CHANGE-DATA-FEED state as of version `v`: the row-key columns the
    * feed classifies changes by (Delta's delta.enableChangeDataFeed,
    * plus the keys graft's row-level diff needs). Non-empty ⇒ every
    * exported commit from `v` on carries spec `cdc` actions +
    * `_change_data` files for non-derivable changes (COW rewrites, MOR
    * deletes, compaction), so foreign readers get row-level changes
    * without diffing snapshots. Carries forward like the rest of the
    * schema-mapping state. */
  def cdfKeysAt(root: String, v: Long): Seq[String] =
    CdfRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split('|').toSeq.map(_.trim).filter(_.nonEmpty))

  /** Enable the change data feed (a metadata-only commit): from the next
    * exported version on, the Delta mirror records row-level changes as
    * spec `cdc` actions over `_change_data` parquet. `keys` are the row
    * identity the diff classifies by (Delta's writers know their own
    * DML row images; the graft manifest diff reconstructs them by key). */
  def enableChangeDataFeed(spark: SparkSession, root: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "enableChangeDataFeed requires key columns")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    val cols = read(spark, root).columns.toSet
    val missing = keys.filterNot(cols.contains)
    require(missing.isEmpty, s"CDF key columns $missing not in $cols")
    keys.foreach(k => require(k.matches("[A-Za-z0-9_.-]+"),
      s"CDF key column name must be [A-Za-z0-9_.-]+: $k"))
    commit(root, cur + 1, readManifest(root, cur),
      cdf = Some(keys.mkString("|")))
  }

  private val GeneratedRe = """"generatedCols":\s*"([^"]*)"""".r

  /** GENERATED partition-column declarations as of version `v`:
    * (partition column, kind, source column) triples, where kind ∈
    * { `date` (= to_date(src) under the session timezone),
    *   `div:N` (= floor(src / N), N a positive integer) }.
    * Both kinds are MONOTONE non-decreasing in the source, which is what
    * lets the optimizer map a range predicate on the source column to a
    * range predicate on the partition column — Delta's generated-column
    * partition pruning, expressed over the graft manifest. The
    * declaration is a WRITER CONTRACT: every row's partition value must
    * equal the generation expression over its source value
    * ([[withGeneratedPartitions]] computes it; [[alterSetGeneratedPartition]]
    * verifies the existing rows once at declaration time). */
  def generatedColsAt(root: String, v: Long): Seq[(String, String, String)] =
    parseGeneratedCols(
      Files.readString(manifestDir(root).resolve(s"$v.json")))

  /** Parse the `generatedCols` field out of raw manifest JSON — public so
    * scheme-aware consumers ([[graft.plans.GeneratedPartitionPruning]])
    * reading manifests through the Hadoop FileSystem API share one
    * parser with the local-path accessor above. */
  def parseGeneratedCols(manifestJson: String): Seq[(String, String, String)] =
    GeneratedRe.findFirstMatchIn(manifestJson)
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { t =>
        val Array(p, k, s) = t.split(">", 3)
        (p.trim, k.trim, s.trim)
      })

  private def encodeGenerated(gs: Seq[(String, String, String)]): String =
    gs.map { case (p, k, s) => s"$p>$k>$s" }.mkString(", ")

  /** The generation expression of a declared kind over a source column. */
  def generatedPartitionColumn(kind: String, src: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, to_date}
    kind match {
      case "date" => to_date(src) // legacy form: the SESSION timezone
      case d if d.startsWith("date@") =>
        // timestamp→date under the DECLARED timezone, pinned at
        // declaration time ([[alterSetGeneratedPartition]]) — the
        // generation contract must not shift by a day when a writer or
        // the pruning rule runs under a different session timezone
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(src),
            org.apache.spark.sql.types.DateType, Some(d.drop(5))))
      case d if d.startsWith("div:") =>
        // floor-division (NOT `div`, which truncates toward zero and is
        // not monotone across 0); exact for |src| < 2^52
        floor(src / d.drop(4).toLong).cast("long")
      case other =>
        throw new IllegalArgumentException(s"unknown generation kind '$other'")
    }
  }

  /** Add every declared generated partition column to an ingest frame —
    * the writer-side helper that makes the declaration contract hold by
    * construction. */
  def withGeneratedPartitions(root: String, df: DataFrame): DataFrame =
    currentVersion(root).map(generatedColsAt(root, _)).getOrElse(Nil)
      .foldLeft(df) { case (acc, (p, k, s)) =>
        acc.withColumn(p, generatedPartitionColumn(k, acc.col(s)))
      }

  /** Declare `partCol` GENERATED from `srcCol` (metadata-only commit).
    * The declaration is verified once against the CURRENT rows — a row
    * whose partition value diverges from the generation expression would
    * make derived partition pruning return wrong results, so divergence
    * is an error here, not a latent one. */
  def alterSetGeneratedPartition(spark: SparkSession, root: String,
      partCol: String, kind: String, srcCol: String): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(partitionColumns(root).exists(_.equalsIgnoreCase(partCol)),
      s"'$partCol' is not a partition column of $root " +
        s"(${partitionColumns(root).mkString(", ")})")
    require(kind == "date" || kind.matches("div:[1-9][0-9]*"),
      s"generation kind must be 'date' or 'div:N', got '$kind'")
    require(!partCol.equalsIgnoreCase(srcCol),
      "generated column and source must differ")
    require(!generatedColsAt(root, cur).exists(_._1.equalsIgnoreCase(partCol)),
      s"'$partCol' already has a generation declaration")
    // 'date' is timezone-dependent: pin the DECLARING session's timezone
    // into the stored kind so later writers and the pruning rule evaluate
    // the same function regardless of their session timezone — an
    // unpinned cast can shift gen(ts) by a day and silently exclude rows
    val storedKind =
      if (kind == "date")
        s"date@${spark.sessionState.conf.sessionLocalTimeZone}"
      else kind
    val snap = read(spark, root, Some(cur))
    require(snap.columns.exists(_.equalsIgnoreCase(srcCol)),
      s"no source column '$srcCol' in ${snap.columns.mkString(", ")}")
    import org.apache.spark.sql.functions.col
    val bad = snap.filter(!(col(partCol) <=>
      generatedPartitionColumn(storedKind, col(srcCol)))).limit(1).count()
    require(bad == 0L,
      s"existing rows violate $partCol = $kind($srcCol); cannot declare")
    commit(root, cur + 1, readManifest(root, cur),
      generatedCols = Some(encodeGenerated(
        generatedColsAt(root, cur) :+ ((partCol, storedKind, srcCol)))))
  }

  private val DvsRe = """"dvs":\s*"([^"]*)"""".r

  /** MERGE-ON-READ deletion-vector state as of version `v`: (data file →
    * DV file) pairs, both data-dir-relative resp. deletes-dir-relative.
    * A DV file is a parquet relation (path STRING, pos BIGINT) listing
    * the deleted row positions (parquet `_metadata.row_index`) of each
    * covered data file; readers anti-join it instead of rewriting files.
    * Travels with the version like the column-mapping state: time travel
    * to a pre-delete version reads the undeleted rows. This is Delta's
    * deletionVectors table feature expressed over the graft manifest
    * (position deletes; Iceberg's positional delete files are the same
    * shape). */
  def dvsAt(root: String, v: Long): Seq[(String, String)] =
    DvsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { pair =>
        val Array(f, dv) = pair.split(">", 2)
        f.trim -> dv.trim
      })

  private[sources] def encodeDvs(m: Seq[(String, String)]): String =
    m.map { case (f, dv) => s"$f>$dv" }.mkString(", ")

  private[sources] def deletesDir(root: String): Path = Paths.get(root, "deletes")

  /** Columns added by ALTER TABLE as a DDL string ("c1 INT, c2 STRING"),
    * as recorded in version `v`'s manifest — empty when the version
    * predates any ALTER. Schema travels WITH the manifest version, so
    * time travel and RESTORE see the schema of their epoch, and the
    * change is atomic with the commit (no sidecar-file ordering races). */
  def addedColumnsAt(root: String, v: Long): String =
    AddedColsRe.findFirstMatchIn(
      Files.readString(manifestDir(root).resolve(s"$v.json")))
      .map(_.group(1)).getOrElse("")

  /** Atomic commit: write to a temp file, then rename into place. Paths
    * with '"' or ',' (possible via a partitionBy column whose VALUES carry
    * them into hive dir names) would corrupt the quote-splitting parser in
    * readManifest, so they are rejected at the only write point. */
  private[graft] def commit(root: String, version: Long, relFiles: Seq[String],
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp,
      addedCols: Option[String] = None,
      renamedCols: Option[String] = None,
      droppedCols: Option[String] = None,
      widenedCols: Option[String] = None,
      dvs: Option[String] = None,
      identity: Option[String] = None,
      generatedCols: Option[String] = None,
      cdf: Option[String] = None): Long = {
    relFiles.find(f => f.contains('"') || f.contains(',')).foreach(f =>
      throw new IllegalArgumentException(
        s"""data file path contains '"' or ',' (unsupported in partition values): $f"""))
    require(txnApp.matches("[A-Za-z0-9_.-]+"),
      s"txn app id must be [A-Za-z0-9_.-]+ (it is embedded in manifest JSON): $txnApp")
    Files.createDirectories(manifestDir(root))
    // carry EVERY writer's txn watermark forward through txn-less commits
    // (compact/cluster/restore), so lastTxns only ever needs the latest
    // manifest
    val txns = (if (version == 0) Map.empty[String, Long] else lastTxns(root)) ++
      txn.map(t => txnApp -> t)
    val txnField =
      if (txns.isEmpty) ""
      else txns.toSeq.sorted.map { case (a, t) => s""""$a": $t""" }
        .mkString(""""txns": {""", ", ", "}, ")
    // ALTER-added columns carry forward like txns; an explicit Some("")
    // (restore to a pre-ALTER version) clears them. The DDL is embedded in
    // the manifest JSON, so it must stay clear of the lenient parser's
    // delimiters — enforced at the only write point, like file paths.
    val prevV = if (version == 0) None else currentVersion(root)
    val cols = addedCols.getOrElse(
      prevV.map(addedColumnsAt(root, _)).getOrElse(""))
    // column-mapping state carries forward exactly like addedCols; an
    // explicit Some("") (RESTORE to a pre-ALTER version) clears it
    val rens = renamedCols.getOrElse(
      prevV.map(v => encodeRenames(renamedColumnsAt(root, v))).getOrElse(""))
    val drops = droppedCols.getOrElse(
      prevV.map(v => droppedColumnsAt(root, v).mkString(", ")).getOrElse(""))
    val widens = widenedCols.getOrElse(
      prevV.map(v => encodeWidens(widenedColumnsAt(root, v))).getOrElse(""))
    // deletion vectors carry forward like the mapping state, but FILTERED
    // to the files this commit actually keeps: a COW rewrite / compaction
    // that replaces a DV'd file has already applied its deletions to the
    // rewritten rows, so the entry must drop with the file — automatic
    // hygiene instead of a per-call-site obligation
    val present = relFiles.toSet
    val dvField = dvs.getOrElse(
      prevV.map(v => encodeDvs(dvsAt(root, v).filter(e => present(e._1))))
        .getOrElse(""))
    // identity state carries forward (and through RESTORE — the watermark
    // never regresses, so ids are never reused)
    val idField = identity.getOrElse(
      prevV.flatMap(v => identityAt(root, v).map {
        case (c, ks, wm) => encodeIdentity(c, ks, wm)
      }).getOrElse(""))
    // generated-partition declarations carry forward like the rest of
    // the schema-mapping state
    val genField = generatedCols.getOrElse(
      prevV.map(v => encodeGenerated(generatedColsAt(root, v))).getOrElse(""))
    // change-data-feed keys carry forward like the rest of the state
    val cdfField = cdf.getOrElse(
      prevV.map(v => cdfKeysAt(root, v).mkString("|")).getOrElse(""))
    Seq("added-column DDL" -> cols, "renamed-column list" -> rens,
      "dropped-column list" -> drops, "widened-column list" -> widens,
      "deletion-vector list" -> dvField, "identity state" -> idField,
      "generated-column list" -> genField, "cdf key list" -> cdfField)
      .foreach { case (what, s) =>
        require(!s.exists(c => c == '[' || c == ']' || c == '"'),
          s"""$what may not contain '[', ']', or '"': $s""")
      }
    val colsField = (if (cols.isEmpty) "" else s""""addedCols": "$cols", """) +
      (if (rens.isEmpty) "" else s""""renamedCols": "$rens", """) +
      (if (drops.isEmpty) "" else s""""droppedCols": "$drops", """) +
      (if (widens.isEmpty) "" else s""""widenedCols": "$widens", """) +
      (if (dvField.isEmpty) "" else s""""dvs": "$dvField", """) +
      (if (idField.isEmpty) "" else s""""identity": "$idField", """) +
      (if (genField.isEmpty) "" else s""""generatedCols": "$genField", """) +
      (if (cdfField.isEmpty) "" else s""""cdf": "$cdfField", """)
    // in-commit timestamp, CLAMPED MONOTONIC (max(now, prev+1) — Delta's
    // in-commit-timestamps rule): versionAt's "latest version at or
    // before ts" scan requires non-decreasing stamps even when the
    // system clock steps backwards between commits
    val commitTs = math.max(System.currentTimeMillis(),
      prevV.flatMap(commitTsAt(root, _)).map(_ + 1).getOrElse(0L))
    val json = relFiles.sorted.map(f => "\"" + f + "\"")
      .mkString(s"""{"ts": $commitTs, $txnField$colsField"files": [""", ", ", "]}")
    val tmp = manifestDir(root).resolve(s".$version.json.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, json)
    // createLink is an atomic COMPARE-AND-SWAP: it fails if the version
    // already exists. A plain rename() would silently REPLACE a manifest
    // another writer just committed (lost update); this turns the race
    // into a detectable conflict, the optimistic-concurrency contract
    // Delta/Iceberg commits have.
    try Files.createLink(manifestDir(root).resolve(s"$version.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"version $version at $root was committed by another writer; " +
            "re-read the table and retry")
    } finally Files.deleteIfExists(tmp)
    maybeAdvanceDeltaLog(root)
    IcebergMeta.maybeAdvance(root)
    version
  }

  /** Delta-log checkpoint cadence for write-through tables: one parquet
    * checkpoint per this many log versions (Delta's own default). */
  private val DeltaCheckpointInterval = 10L

  /** WRITE-THROUGH Delta mirror: once a table has been exported
    * ([[exportDeltaLog]] created `root/_delta_log`), every subsequent
    * commit advances the log in the same call — a foreign Delta reader
    * sees each append/merge/overwrite immediately, with no explicit
    * re-export step. Checkpoints ride the same hook every
    * [[DeltaCheckpointInterval]] versions, so a reader's replay cost stays
    * O(interval), not O(history). Crash-safe by construction: the export
    * is incremental and idempotent (version-named log files, atomic
    * moves), so a commit whose hook died mid-way is simply caught up by
    * the next commit's hook — the log can lag the manifest, never diverge
    * from it. Needs an active SparkSession for schema derivation; a
    * commit issued with none active (not a case the engine produces —
    * every write path starts from a DataFrame) skips and self-heals on
    * the next commit too. */
  private def maybeAdvanceDeltaLog(root: String): Unit =
    if (Files.isDirectory(Paths.get(root, "_delta_log")))
      SparkSession.getActiveSession.foreach { spark =>
        // the manifest commit ALREADY SUCCEEDED: a mirror hiccup may only
        // lag the log (self-healed by the next commit's export), never
        // fail the write back to the caller — a propagated hook exception
        // would make an append's caller retry a landed batch
        try {
          exportDeltaLog(spark, root)
          // checkpoint the newest multiple-of-interval version whose LOG
          // EXISTS — under concurrent writers currentVersion may already
          // be ahead of what any single hook's export has written (the
          // lagging version's own hook brings the checkpoint next)
          currentVersion(root).foreach { cur =>
            val v = (cur / DeltaCheckpointInterval) * DeltaCheckpointInterval
            if (v > 0 &&
                Files.exists(Paths.get(root, "_delta_log", f"$v%020d.json")) &&
                !Files.exists(Paths.get(root, "_delta_log",
                  f"$v%020d.checkpoint.parquet")))
              exportDeltaCheckpoint(spark, root, v)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"warn: delta mirror advance failed for $root (log lags, " +
                s"next commit self-heals): $e")
        }
      }

  /** Write a new file set and return its data-relative paths. Files are
    * staged (Spark controls that layout) then MOVED into the shared hive
    * tree under data/ with a uuid-prefixed file name — so every version's
    * files live at the SAME depth (`data/part=x/.../file.parquet`), which
    * Spark's partition discovery requires: a per-write subdirectory between
    * basePath and the partition dirs raises CONFLICTING_DIRECTORY_STRUCTURES
    * as soon as a second write lands. */
  /** Lower a logical-schema frame into the table's PHYSICAL column names
    * before writing (see [[renamedColumnsAt]]): renamed columns go back to
    * their stable physical names so every data file of the table —
    * pre-rename or post-rename, append or COW rewrite — carries one
    * consistent set of parquet column names, and the mergeSchema union can
    * never see both names at once. Frames already in physical form
    * (internal file-level rewrites) pass through untouched; a frame
    * carrying BOTH names for one mapping is ambiguous and rejected.
    * Re-introducing a dropped physical name is rejected too: old files
    * still carry that column's dead values, and the union would silently
    * resurrect them under the new writer's column. */
  private def toPhysical(df: DataFrame, root: String): DataFrame =
    currentVersion(root) match {
      case None => df
      case Some(v) =>
        val renames = renamedColumnsAt(root, v)
        val mapped = renames.foldLeft(df) { case (acc, (phys, log)) =>
          val hasP = acc.columns.exists(_.equalsIgnoreCase(phys))
          val hasL = acc.columns.exists(_.equalsIgnoreCase(log))
          if (hasP && hasL && !phys.equalsIgnoreCase(log))
            throw new IllegalArgumentException(
              s"write carries both '$phys' (physical) and '$log' (its logical " +
                s"rename) — ambiguous; write only '$log'")
          else if (hasL && !hasP) acc.withColumnRenamed(log, phys)
          else acc
        }
        val dropped = droppedColumnsAt(root, v).map(_.toLowerCase).toSet
        mapped.columns.find(c => dropped.contains(c.toLowerCase)).foreach(c =>
          throw new IllegalArgumentException(
            s"column '$c' was dropped from this table; its physical name " +
              "cannot be re-used without a full rewrite"))
        // pin the WIDENED type on every post-widen write: all files of a
        // widen epoch then share one physical type, which is what keeps
        // the per-epoch footer inference in [[widenedPhysicalSchema]]
        // mergeable (an int frame appended to an int→bigint table would
        // otherwise mint a narrow file inside the wide epoch)
        widenedColumnsAt(root, v).foldLeft(mapped) { case (acc, (phys, t)) =>
          if (acc.columns.exists(_.equalsIgnoreCase(phys)))
            acc.withColumn(phys, acc(phys).cast(
              org.apache.spark.sql.types.DataType.fromDDL(t)))
          else acc
        }
    }

  private def writeFiles(logicalDf: DataFrame, root: String,
      partitionBy: Seq[String]): Seq[String] =
    writeFilesRaw(toPhysical(logicalDf, root), root, partitionBy)

  /** [[writeFiles]] without the logical→physical lowering — for
    * [[materializeMapping]] (whose whole point is writing logical names
    * as the new physical ones) and both foreign-append writers
    * ([[appendDeltaForeign]], [[IcebergMeta.appendIcebergForeign]]):
    * one write protocol, so the two faces' appends cannot drift. */
  private[graft] def writeFilesRaw(df: DataFrame, root: String,
      partitionBy: Seq[String]): Seq[String] = {
    // INT64-micros timestamps (not legacy INT96): INT96 column chunks carry
    // no usable min/max in the parquet footer, and footer stats are where
    // file-skipping ranges come from at write time (no re-scan). Scoped to
    // THIS write — the previous session value is restored so the layer does
    // not leak a config change into unrelated writes.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = df.sparkSession.conf.getOption(tsKey)
    df.sparkSession.conf.set(tsKey, "TIMESTAMP_MICROS")
    val uuid = java.util.UUID.randomUUID().toString
    val staging = Paths.get(root, "_staging", uuid)
    try {
      val w = df.write.mode("errorifexists")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(staging.toString)
    } finally prevTs match {
      case Some(v) => df.sparkSession.conf.set(tsKey, v)
      case None    => df.sparkSession.conf.unset(tsKey)
    }
    val moved = withDrained(Files.walk(staging))(
      _.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map { p =>
          val rel = staging.relativize(p)
          val target = Option(rel.getParent) match {
            case Some(dirs) => dataDir(root).resolve(dirs).resolve(s"$uuid-${rel.getFileName}")
            case None       => dataDir(root).resolve(s"$uuid-${rel.getFileName}")
          }
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          dataDir(root).relativize(target).toString
        })
    // staging now holds only spark metadata (_SUCCESS, dirs) — remove it
    withDrained(Files.walk(staging))(identity).reverse.foreach(Files.deleteIfExists)
    moved
  }

  /** Create version 0 (or fail if the table exists). */
  def create(df: DataFrame, root: String, partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long = {
    require(versions(root).isEmpty, s"table already exists at $root")
    commit(root, 0L, writeFiles(df, root, partitionBy), txn, txnApp)
  }

  /** Relative data files listed by `from`'s manifest but not `to`'s —
    * nonempty exactly when the transition was NOT append-only (compact /
    * cluster / deleteWhere / merge rewrote or dropped files). Incremental
    * consumers use this to detect that a file-level delta read would
    * double-count and fall back to a full recompute. */
  def removedFilesBetween(root: String, from: Long, to: Long): Seq[String] = {
    val after = readManifest(root, to).toSet
    readManifest(root, from).filterNot(after)
  }

  /** Partition column names inferred from the current manifest's hive
    * directory segments (`col=value/...`), in directory order — lets a
    * registration of an existing table recover the layout its writes must
    * keep. Empty for unpartitioned tables. */
  def partitionColumns(root: String): Seq[String] =
    currentVersion(root).toSeq.flatMap { v =>
      readManifest(root, v).headOption.toSeq.flatMap(
        _.split('/').dropRight(1).toSeq
          .filter(_.contains('=')).map(_.split("=", 2)(0)))
    }

  /** Replace the table's contents with `df` as a new version (Delta's
    * overwrite save mode): the new manifest lists only the new files; old
    * versions stay time-travelable until vacuum. */
  def overwrite(df: DataFrame, root: String, partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // no partitioning-match check here (unlike compact/cluster/deleteWhere/
    // merge): overwrite's manifest lists ONLY the new files, so mixed
    // directory depths cannot occur — a flat overwrite of a previously
    // hive-partitioned table is legitimate re-layout, not corruption
    commit(root, cur + 1, writeFiles(df, root, partitionBy), txn, txnApp)
  }

  /** Append rows → new version = old files + new files.
    *
    * Optimistic concurrency WITH rebase: a blind append semantically
    * conflicts with nothing, so when the CAS in [[commit]] detects another
    * writer took the version, the append re-reads the NEW latest manifest
    * and re-commits its (already written, immutable) files on top — both
    * appends land, file sets unioned, no version lost. This is exactly
    * Delta's conflict-resolution rule for AddFile-only transactions;
    * snapshot-dependent writers (overwrite/compact/deleteWhere/merge) must
    * NOT rebase — their rewrite was computed against a snapshot that no
    * longer is the table — so they keep conflict-is-an-error semantics. */
  def append(df: DataFrame, root: String, partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long = {
    currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val newFiles = writeFiles(df, root, partitionBy)
    var attempt = 0
    while (attempt < 64) {
      val cur = currentVersion(root).get
      try {
        val v = commit(root, cur + 1, readManifest(root, cur) ++ newFiles,
          txn, txnApp)
        // pure append: statistics advance EXACTLY from the new files'
        // parquet footers (row counts, sizes, column min/max/nulls) —
        // see TableStatistics.advanceForAppend
        TableStatistics.advanceForAppend(root, cur, v, newFiles)
        return v
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // Re-validate the txn watermark before rebasing (Delta's txn
          // check during conflict resolution): if OUR txn id is already
          // visible, the writer that took the version was a replay of this
          // very batch (zombie + live writer both passed the caller's
          // check-then-act watermark read) — a rebase would land the batch
          // TWICE. Bail out as a no-op; the staged files stay unreferenced
          // (vacuum removes them), effectively-once holds.
          txn.foreach { t =>
            if (lastTxn(root, txnApp).exists(_ >= t))
              return currentVersion(root).get
          }
          attempt += 1
          if (attempt >= 64) throw e
          Thread.sleep(math.min(64L, 1L << math.min(attempt, 6)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delta-DLT-style write expectations: each (name → boolean Column) must
    * hold per row. Passing rows append to the table; violating rows are
    * quarantined in the `<root>/_rejects` table (versioned like any other)
    * with a `violated` column listing every failed expectation name.
    * NULL check results PASS (SQL CHECK semantics) — add an explicit
    * isNotNull expectation to reject nulls. Returns
    * (new table version, rows quarantined).
    *
    * The split is two filtered writes over the same scan — the COW shape —
    * so `df` must be deterministic under re-evaluation (cache or
    * checkpoint upstream if it samples/limits without an order). The
    * quarantine is written FIRST and the reported count is taken from the
    * files actually written (never from a third evaluation), so the count
    * always matches the quarantine contents; a clean batch records an
    * empty rejects commit ("validated, none rejected"). The two commits
    * are not atomic, but the quarantine commit is stamped with a txn id
    * derived from the main-table version this batch will create, so a
    * retry after a crash between the two commits SKIPS re-quarantining
    * (the watermark says this batch's rejects already landed) and the
    * rejects table stays exact, not merely advisory.
    */
  def appendWithExpectations(df: DataFrame, root: String,
      expectations: Map[String, org.apache.spark.sql.Column],
      partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(expectations.nonEmpty, "appendWithExpectations: no expectations")
    val checks = expectations.toSeq.sortBy(_._1)
    // one array column: the names of every expectation this row fails
    val violated = array_compact(array(checks.map { case (n, c) =>
      when(not(coalesce(c, lit(true))), lit(n)).otherwise(lit(null))
    }: _*))
    val marked = df.withColumn("_violated", violated)
    val bad = marked.filter(size(col("_violated")) > 0)
      .withColumn("violated", array_join(col("_violated"), ","))
      .drop("_violated")
    val rejectsRoot = s"$root/_rejects"
    val spark = df.sparkSession
    // txn = the main-table version this batch will create, under a
    // dedicated writer app id used ONLY for the rejects-table commits:
    // strictly increasing across successful batches (the main append bumps
    // it), and UNCHANGED on a crash-rerun of the same batch — which is
    // exactly what makes the rerun detectable. The caller's `txnApp`
    // still stamps the main-table append below, so a caller-side replay
    // guard (lastTxn(root, txnApp) >= batchId) sees its watermark advance.
    val rejectsApp = "_expectations"
    val txnId = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root")) + 1
    val prevRejects = currentVersion(rejectsRoot)
    val nBad =
      if (lastTxn(rejectsRoot, rejectsApp).exists(_ >= txnId)) {
        // rerun after a crash between the two commits: this batch's
        // quarantine already landed — count its last increment, don't
        // double-append it
        val v = prevRejects.get
        if (v == 0L) read(spark, rejectsRoot, Some(0L)).count()
        else readIncremental(spark, rejectsRoot, v - 1, Some(v)).count()
      } else prevRejects match {
        case None =>
          create(bad, rejectsRoot, txn = Some(txnId), txnApp = rejectsApp)
          read(spark, rejectsRoot, Some(0L)).count()
        case Some(prev) =>
          val v = append(bad, rejectsRoot, txn = Some(txnId), txnApp = rejectsApp)
          readIncremental(spark, rejectsRoot, prev, Some(v)).count()
      }
    val good = marked.filter(size(col("_violated")) === 0).drop("_violated")
    (append(good, root, partitionBy, txn, txnApp), nBad)
  }

  /** The (path, pos) rows of a set of DV files, restricted to `forFiles`
    * (one DV parquet may cover several data files, and may carry entries
    * for files a later COW rewrite replaced — those are inert and
    * filtered out here). */
  private[sources] def dvRows(spark: SparkSession, root: String,
      dvs: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = dvs.values.toSeq.distinct
      .map(f => deletesDir(root).resolve(f).toString)
    spark.read.parquet(files: _*)
      .filter(col("path").isin(dvs.keys.toSeq: _*))
      .select(col("path"), col("pos"))
  }

  /** Apply version `v`'s deletion vectors to a PHYSICAL file-scan frame
    * over `relFiles`: anti-join on (file, row_index). No-op (unchanged
    * plan, zero overhead) when no DV covers the file set. The DV side is
    * O(deleted rows of the scanned files) — broadcast while small, a
    * plain shuffled anti-join when a huge delete made it large; the data
    * side's filter pushdown and partition pruning are unaffected (the
    * anti-join sits above the scan). */
  private def applyDvs(spark: SparkSession, root: String, v: Long,
      relFiles: Seq[String], raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val want = relFiles.toSet
    val dvs = dvsAt(root, v).filter(e => want(e._1)).toMap
    if (dvs.isEmpty) raw
    else RowDeletes.dropPositions(raw, dataDir(root).toString,
      dvRows(spark, root, dvs).select(col("path").as(RowDeletes.DelFile),
        col("pos").as(RowDeletes.DelRow)))
  }

  /** Read the table at `version` (default: latest). Partition columns are
    * recovered from the hive paths via basePath, so partition pruning
    * still applies to time-travel reads. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    // constructed-plan memo (the readDeltaExport rule): construction
    // reads every data file's footer under mergeSchema — pure repeated
    // driver IO over an unchanged table. Keyed on the full _manifest
    // fingerprint, so commits, RESTORE, and VACUUM (which deletes old
    // manifest versions) all invalidate; a missing table falls through
    // to the uncached path's canonical error.
    if (Files.isDirectory(manifestDir(root))) {
      // the plan also carries ANALYZE statistics (attach reads
      // _graft_stats.json, armed by the cbo conf) — both must key the
      // memo or a stale no-stats/stale-stats plan would be served
      val statsId = FileId.orAbsent(Paths.get(root, "_graft_stats.json"))
      val cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
      readMemo(spark, s"native@$root@${FileId.listing(manifestDir(root))}" +
          s"@$version@$statsId@$cbo") {
        readUncached(spark, root, version)
      }
    } else readUncached(spark, root, version)
  }

  private def readUncached(spark: SparkSession, root: String,
      version: Option[Long]): DataFrame = {
    val v = version.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // a time travel past the retention horizon names a vacuumed version:
    // fail with the available range (Delta's versionNotFound contract),
    // not a raw missing-file error
    val relFiles =
      try readManifest(root, v)
      catch { case _: java.nio.file.NoSuchFileException =>
        val vs = versions(root)
        throw new IllegalStateException(
          s"cannot time travel to version $v of the table at $root: the " +
            "version was removed by VACUUM. Available versions: " +
            s"[${vs.headOption.getOrElse(-1L)}, ${vs.lastOption.getOrElse(-1L)}]")
      }
    val files = relFiles.map(f => dataDir(root).resolve(f).toString)
    // mergeSchema = schema evolution: a version whose appends added columns
    // reads as the union schema, older files fill the new columns with null
    // (Delta semantics). At 100 TB the merged schema would live in the
    // manifest instead of being re-derived from footers; footer reads here
    // are one small IO per file and keep the manifest format trivial.
    // A version with ALTER COLUMN TYPE widening in effect reads under an
    // EXPLICIT derived schema instead: parquet inference refuses to merge
    // int32 and int64 footers, but the reader happily serves a narrow
    // file under a requested wider type — see [[widenedPhysicalSchema]].
    val base = spark.read.option("basePath", dataDir(root).toString)
    val df0 = widenedPhysicalSchema(spark, root, v, relFiles) match {
      case Some(schema) => base.schema(schema).parquet(files: _*)
      case None         => base.option("mergeSchema", "true").parquet(files: _*)
    }
    val df = applyDvs(spark, root, v, relFiles, df0)
    // ALTER-added columns not yet carried by any data file surface as
    // typed nulls (the same union-schema semantics an append with the
    // column would produce); once files carry the column, the footer
    // union already has it and this is a no-op.
    val ddl = addedColumnsAt(root, v)
    val widened = if (ddl.isEmpty) df
    else {
      val have = df.columns.map(_.toLowerCase).toSet
      val missing = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .filterNot(f => have.contains(f.name.toLowerCase))
      if (missing.isEmpty) df
      else missing.foldLeft(df)((acc, f) => acc.withColumn(f.name,
        org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
    }
    // ANALYZE-computed statistics ride the scan relation when current
    // (version-exact; see TableStatistics) — inert unless CBO is on
    TableStatistics.attach(spark, toLogical(widened, root, v), root, v)
  }

  /** Surface a physical-schema frame under version `v`'s LOGICAL column
    * names: hide dropped physical columns, then rename the mapped ones
    * (drop FIRST — a rename may reuse a dropped physical name as its
    * logical name without collision). See [[renamedColumnsAt]]. */
  private def toLogical(df: DataFrame, root: String, v: Long): DataFrame = {
    val dropped = droppedColumnsAt(root, v)
      .filter(p => df.columns.exists(_.equalsIgnoreCase(p)))
    val visible = if (dropped.isEmpty) df else df.drop(dropped: _*)
    renamedColumnsAt(root, v).foldLeft(visible) { case (acc, (phys, log)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(phys)))
        acc.withColumnRenamed(phys, log)
      else acc
    }
  }

  /** [[readFilesLogical]] surfaced for the streaming source's split
    * batches (snapshot slices and partial-version diffs): logical names,
    * DVs applied, widen epochs honored — the same read a whole-version
    * incremental batch gets. */
  private[graft] def readFilesLogicalAt(spark: SparkSession, root: String,
      v: Long, relFiles: Seq[String]): DataFrame =
    readFilesLogical(spark, root, v, relFiles)

  /** [[readFiles]] surfaced under version `v`'s logical schema — every
    * file-pruned COW path reads through this so predicates, SET lists, and
    * merge keys written against logical names keep working after a rename,
    * and so rewrites round-trip logical → [[toPhysical]] → stable file
    * schema. */
  private def readFilesLogical(spark: SparkSession, root: String, v: Long,
      relFiles: Seq[String]): DataFrame = {
    // a widened table's pruned file set may span physical-type epochs —
    // same explicit-schema read as [[read]] (COW rewrite paths included)
    val raw = widenedPhysicalSchema(spark, root, v, relFiles) match {
      case Some(schema) =>
        spark.read.option("basePath", dataDir(root).toString).schema(schema)
          .parquet(relFiles.map(f => dataDir(root).resolve(f).toString): _*)
      case None => readFiles(spark, root, relFiles)
    }
    toLogical(applyDvs(spark, root, v, relFiles, raw), root, v)
  }

  /** Explicit physical-level read schema for a widened table at version
    * `v` over `relFiles`, or None when no widening is in effect (the
    * ordinary mergeSchema path applies). Files are grouped by the
    * widen-state at their FIRST APPEARANCE in the history (each group's
    * footers are mutually inference-mergeable — [[toPhysical]] pins every
    * write epoch's types), each group's union schema is inferred, the
    * widened target types are applied, and the groups union by name in
    * epoch order. O(versions) manifest reads + one footer-inference pass
    * per epoch group, only on widened tables; at 100 TB the schema would
    * live in the manifest and this derivation disappears. */
  private def widenedPhysicalSchema(spark: SparkSession, root: String,
      v: Long, relFiles: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val widens = widenedColumnsAt(root, v)
    if (widens.isEmpty || relFiles.isEmpty) None
    else {
      import org.apache.spark.sql.types.{DataType, StructType}
      val firstState = scala.collection.mutable.LinkedHashMap.empty[String, String]
      versions(root).filter(_ <= v).foreach { ver =>
        val enc = encodeWidens(widenedColumnsAt(root, ver))
        readManifest(root, ver).foreach(f =>
          if (!firstState.contains(f)) firstState(f) = enc)
      }
      val want = relFiles.toSet
      // groups in first-appearance order (deterministic column order)
      val grouped = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
      firstState.foreach { case (f, st) =>
        if (want(f)) grouped(st) = grouped.getOrElse(st, Vector.empty) :+ f
      }
      def applyWidens(st: StructType): StructType = StructType(st.map { f =>
        widens.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, t)) => f.copy(dataType = DataType.fromDDL(t))
          case None         => f
        }
      })
      // widening-aware union of two already-widened schemas: same-name
      // fields must agree (both sides had the target types applied)
      def unionByName(a: StructType, b: StructType): StructType = {
        val have = a.map(_.name.toLowerCase).toSet
        StructType(a ++ b.filterNot(f => have.contains(f.name.toLowerCase)))
      }
      val schemas = grouped.values.toSeq.map { fs =>
        val paths = fs.map(f => dataDir(root).resolve(f).toString)
        try applyWidens(spark.read.option("basePath", dataDir(root).toString)
          .option("mergeSchema", "true").parquet(paths: _*).schema)
        catch {
          case scala.util.control.NonFatal(_) =>
            // a VACUUMED history can shift a narrow-epoch file's first
            // appearance into a post-widen version, mixing physical
            // types inside one group and failing the strict inference —
            // fall back to per-file footers, widened then unioned (the
            // widen targets make the mixed types agree)
            paths.map(p => applyWidens(spark.read.parquet(p).schema))
              .reduceLeft(unionByName)
        }
      }
      Some(schemas.reduceLeft(unionByName))
    }
  }

  /** One hive dir segment value → the SPEC-FORM partition value: None
    * for the default partition (JSON null downstream), else the
    * %XX-decoded text ('+' is a literal plus in dir names, protected
    * before decode). Foreign readers take partitionValues verbatim
    * (DuckDB's delta scan, partition pruning), so the encoded form
    * would serve 'a%2Fb' where the value is 'a/b'. ONE body for the
    * add actions, the cdc actions, and the checkpoint writer — the
    * three must never disagree on the same dir segment. */
  private def decodeHivePartValue(v: String): Option[String] =
    if (v == "__HIVE_DEFAULT_PARTITION__") None
    else Some(java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8"))

  /** The hive dir segments of one data-relative path → (column,
    * spec-form value) pairs, in path order — the ONE parse every
    * partitionValues producer renders from (the exporter's adds and
    * cdc actions, the checkpoint writer's fallback, both foreign
    * appends, and the Iceberg append's partition structs). */
  private[graft] def hivePartPairs(rel: String): Seq[(String, Option[String])] =
    rel.split('/').dropRight(1).filter(_.contains('=')).toSeq.map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> decodeHivePartValue(v)
    }

  /** FULL JSON string escape — backslash, quote, and every control
    * char: a partition VALUE may contain a newline (escapePathName
    * round-trips it through %0A), and embedding it raw would split the
    * NDJSON action line and corrupt the log for every reader. */
  private def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One path's partitionValues as a JSON object (spec-form values,
    * JSON null for the default partition, fully escaped). */
  private def hivePartValuesJson(rel: String): String =
    hivePartPairs(rel).map { case (k, ov) =>
      s""""${jsonEsc(k)}":${ov.map(x => "\"" + jsonEsc(x) + "\"")
        .getOrElse("null")}"""
    }.mkString("{", ",", "}")

  /** Export the table's version history as a minimal Delta Lake
    * transaction log (`root/_delta_log/<v 20-digit>.json`, one JSON action
    * per line: protocol at the first version, metaData at the first version
    * and on every schema change, add/remove per file transition) — the
    * open-format interop path: the graft root itself becomes a Delta table
    * another engine can read natively, data files shared in place (nothing
    * is copied; add paths are table-root-relative `data/...`). Idempotent
    * and incremental: log files for already-exported versions are left
    * untouched, new versions append. A vacuumed history exports its first
    * retained version as a full snapshot (strict Delta readers want
    * version 0 or a checkpoint — export before vacuuming for those).
    * Every add carries per-file stats ([[fileStatsJson]]) and spec-form
    * partitionValues ([[decodeHivePartValue]]); at 100 TB the export
    * would stream per-version instead of re-deriving schemas from
    * footers. */
  def exportDeltaLog(spark: SparkSession, root: String): Path = {
    val logDir = Paths.get(root, "_delta_log")
    Files.createDirectories(logDir)
    val vs = versions(root)
    require(vs.nonEmpty, s"no table at $root")
    def esc(s: String): String = escJson(s)
    def partitionValues(rel: String): String = hivePartValuesJson(rel)
    var prev = Seq.empty[String]
    var prevCols: Option[(String, String, String, String, String)] = None
    var prevVNum: Option[Long] = None
    var prevDvs = Map.empty[String, String]
    var mappingAnnounced = false
    var dvAnnounced = false
    // column-mapping ids, keyed by PHYSICAL name (stable across renames),
    // assigned in first-appearance order over the version walk. The walk
    // is deterministic (same history → same order), so ids are stable
    // across export runs and schema versions, as the Delta spec requires —
    // a positional (i+1) re-derivation would renumber surviving columns
    // whenever an earlier column was dropped.
    val columnIds = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var mappedSchemaJson: Option[String] = None
    // FAST PATH for the per-commit write-through hook: start the walk at
    // the first un-exported version instead of v0, seeding prev/prevCols
    // from the version before it — a steady-state commit then costs O(1)
    // manifest reads, not O(history) (a long-running mirrored stream
    // would otherwise pay O(V²) across V micro-batches). The full walk is
    // only needed when a pending version has an ACTIVE column mapping,
    // whose ids derive from first-appearance order over the whole
    // history; an already-exported prefix is never re-read otherwise.
    val firstMissingIdx = vs.indexWhere(v =>
      !Files.exists(logDir.resolve(f"$v%020d.json")))
    if (firstMissingIdx < 0) return logDir // fully exported
    val pendingHasMapping = vs.drop(firstMissingIdx).exists(v =>
      renamedColumnsAt(root, v).nonEmpty || droppedColumnsAt(root, v).nonEmpty)
    val startIdx = if (pendingHasMapping) 0 else firstMissingIdx
    if (startIdx > 0) {
      val seedV = vs(startIdx - 1)
      prev = readManifest(root, seedV)
      prevVNum = Some(seedV)
      prevCols = Some((addedColumnsAt(root, seedV),
        encodeRenames(renamedColumnsAt(root, seedV)),
        droppedColumnsAt(root, seedV).mkString(","),
        encodeWidens(widenedColumnsAt(root, seedV)),
        cdfKeysAt(root, seedV).mkString("|")))
      prevDvs = dvsAt(root, seedV).toMap
      // only consulted when mappingActive, which the fast path excludes
      mappingAnnounced = true
      dvAnnounced = prevDvs.nonEmpty
    }
    vs.drop(startIdx).foreach { v =>
      val cur = readManifest(root, v)
      val renames = renamedColumnsAt(root, v)
      // widens participate in schema-change detection: an ALTER COLUMN
      // TYPE version must export a fresh metaData with the widened
      // schemaString, or foreign readers keep the narrow type forever
      // the CDF flag participates in schema-change detection: the
      // ENABLING version must export fresh metaData whose configuration
      // declares delta.enableChangeDataFeed, or foreign CDF readers
      // refuse the whole log
      val cdfKeys = cdfKeysAt(root, v)
      val cols = (addedColumnsAt(root, v), encodeRenames(renames),
        droppedColumnsAt(root, v).mkString(","),
        encodeWidens(widenedColumnsAt(root, v)),
        cdfKeys.mkString("|"))
      val target = logDir.resolve(f"$v%020d.json")
      val curDvs = dvsAt(root, v).toMap
      val schemaChanged = v == vs.head || !prevCols.contains(cols)
      val mappingActive = cols._2.nonEmpty || cols._3.nonEmpty
      if (schemaChanged) {
        // advance the id map on EVERY schema-change version — including
        // already-exported (skipped) ones — so an incremental export
        // assigns the same ids a from-scratch export would
        val logical = read(spark, root, Some(v)).schema
        val withPhys = logical.map { f =>
          val phys = renames.find(_._2.equalsIgnoreCase(f.name))
            .map(_._1).getOrElse(f.name)
          (f, phys)
        }
        withPhys.foreach { case (_, phys) =>
          val k = phys.toLowerCase
          if (!columnIds.contains(k)) columnIds(k) = columnIds.size + 1L
        }
        // in name mode EVERY field carries physicalName + id (identity
        // physicalName for unrenamed columns) — real Delta readers reject
        // a name-mode schema with unannotated fields
        val mapped =
          if (!mappingActive) logical
          else org.apache.spark.sql.types.StructType(withPhys.map {
            case (f, phys) =>
              f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString("delta.columnMapping.physicalName", phys)
                .putLong("delta.columnMapping.id", columnIds(phys.toLowerCase))
                .build())
          })
        mappedSchemaJson = Some(mapped.json)
      }
      if (!Files.exists(target)) {
        val sb = new StringBuilder
        // the manifest's in-commit timestamp rides the export as Delta's
        // commitInfo action (first line, as Delta writes it): TIMESTAMP
        // AS OF on the foreign replica then resolves from log CONTENT,
        // surviving copies, rsyncs, and backup restores — file mtimes
        // remain the fallback for logs exported before this field
        commitTsAt(root, v).foreach(ts =>
          sb.append(s"""{"commitInfo":{"timestamp":$ts}}""").append('\n'))
        // an active rename/drop mapping needs Delta column mapping's
        // protocol floor (reader 2 / writer 5); announced at the first
        // version that has one — a later commit may raise the protocol,
        // per the Delta spec
        // deletionVectors is a table FEATURE (reader 3 / writer 7 with
        // feature lists, per the Delta spec); announce at the first
        // DV-bearing version (a repeat after a DV-free gap is a legal,
        // identical protocol action). At reader version 3 EVERY active
        // feature must be listed — a DV-bearing table whose mapping is
        // (or ever was) active lists columnMapping alongside, and a
        // mapping that ACTIVATES after the DV upgrade re-emits the (3,7)
        // action with the widened lists rather than downgrading to (2,5).
        val needDvAnnounce = curDvs.nonEmpty && prevDvs.isEmpty
        val needMappingAnnounce = mappingActive && !mappingAnnounced
        if (needDvAnnounce || (needMappingAnnounce && dvAnnounced)) {
          dvAnnounced = true
          val feats = (Seq("deletionVectors") ++
            (if (mappingActive) Seq("columnMapping") else Nil))
            .map("\"" + _ + "\"").mkString("[", ",", "]")
          sb.append(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$feats,"writerFeatures":$feats}}""")
            .append('\n')
          if (mappingActive) mappingAnnounced = true
        } else if (v == vs.head && mappingActive) {
          sb.append("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""").append('\n')
          mappingAnnounced = true
        } else if (v == vs.head)
          sb.append("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""").append('\n')
        else if (needMappingAnnounce) {
          sb.append("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""").append('\n')
          mappingAnnounced = true
        }
        if (schemaChanged) {
          // logical schema, each field annotated with its stable PHYSICAL
          // parquet name (Delta column mapping, name mode) whenever a
          // mapping is active — a plain name-matched schema would read
          // renamed columns as null from pre-rename files
          val confPairs =
            (if (!mappingActive) Nil
             else Seq(""""delta.columnMapping.mode":"name"""",
               s""""delta.columnMapping.maxColumnId":"${columnIds.values.max}"""")) ++
            (if (cdfKeys.isEmpty) Nil
             else Seq(""""delta.enableChangeDataFeed":"true""""))
          val conf = confPairs.mkString("{", ",", "}")
          val schema = esc(mappedSchemaJson.get)
          val parts = partitionColumns(root)
            .map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
          sb.append(s"""{"metaData":{"id":"graft-${graft.plans.TextExpressions.md5Hex(root).take(12)}","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":$parts,"configuration":$conf}}""")
            .append('\n')
        }
        val curSet = cur.toSet
        val prevSet = prev.toSet
        // DELETION VECTORS: a MOR delete changes no files — it changes a
        // carried file's DV entry. Export that as the spec's remove +
        // re-add-with-deletionVector of the same path in one commit (how
        // Delta itself commits a DV update); the bitmap is written as a
        // spec DV blob (DeltaDv) with the positions from the graft
        // sidecar. One sidecar read covers every file whose DV changed.
        val dvChangedFiles = cur.filter(f =>
          curDvs.get(f) != prevDvs.get(f) &&
            (prevSet.contains(f) || curDvs.contains(f)))
        val posByFile: Map[String, Array[Long]] =
          if (dvChangedFiles.forall(f => !curDvs.contains(f))) Map.empty
          else dvRows(spark, root,
              curDvs.filter(e => dvChangedFiles.contains(e._1)))
            .collect()
            .groupBy(_.getString(0))
            .map { case (p, rows) => p -> rows.map(_.getLong(1)).sorted }
        def dvJson(f: String): String =
          if (!curDvs.contains(f)) ""
          else {
            val d = graft.sources.DeltaDv.writeDvFile(root, s"$root#$v#$f",
              posByFile.getOrElse(f, Array.empty[Long]))
            s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
          }
        def addLine(f: String): Unit = {
          val p = dataDir(root).resolve(f)
          val (size, mtime) =
            if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
            else (0L, 0L)
          // per-file stats (Delta's add.stats JSON string): numRecords
          // from the footer — one small read per NEW file, once — lets a
          // foreign reader answer count(*) from metadata and plan scans
          val stats =
            if (!Files.exists(p)) ""
            else try s""","stats":"${esc(fileStatsJson(p))}""""
            catch { case scala.util.control.NonFatal(_) => "" }
          sb.append(s"""{"add":{"path":"data/${esc(deltaEncodePath(f))}","partitionValues":${partitionValues(f)},"size":$size,"modificationTime":$mtime,"dataChange":true$stats${dvJson(f)}}}""")
            .append('\n')
        }
        // CHANGE DATA FEED: when enabled, any commit whose row-level
        // changes are NOT derivable from the actions alone — removes
        // (COW rewrites, deletes, compaction churn) or DV changes (MOR
        // deletes) — records them as spec `cdc` actions over
        // `_change_data` parquet (the data columns + _change_type; the
        // reader derives _commit_version/_commit_timestamp from the
        // log). Pure adds stay cdc-free: the spec derives their inserts.
        // An empty change set under churn (compaction) still writes one
        // EMPTY cdc file — the no-logical-change marker that stops a
        // reader from mis-deriving the rewrite as inserts + deletes.
        if (cdfKeys.nonEmpty && prevVNum.nonEmpty &&
            (prev.exists(f => !curSet.contains(f)) || dvChangedFiles.nonEmpty)) {
          val changes = changeFeed(spark, root, prevVNum.get, v, cdfKeys)
          writeCdcFiles(spark, root, v, changes).foreach {
            case (rel, pv, size) =>
              sb.append(s"""{"cdc":{"path":"${esc(deltaEncodePath(rel))}","partitionValues":$pv,"size":$size,"dataChange":false}}""")
                .append('\n')
          }
        }
        prev.filterNot(curSet).foreach { f =>
          sb.append(s"""{"remove":{"path":"data/${esc(deltaEncodePath(f))}","deletionTimestamp":0,"dataChange":true}}""")
            .append('\n')
        }
        dvChangedFiles.filter(prevSet).foreach { f =>
          sb.append(s"""{"remove":{"path":"data/${esc(deltaEncodePath(f))}","deletionTimestamp":0,"dataChange":true}}""")
            .append('\n')
          addLine(f)
        }
        cur.filterNot(prevSet).foreach(addLine)
        val tmp = logDir.resolve(s".$v.json.tmp-${java.util.UUID.randomUUID()}")
        Files.writeString(tmp, sb.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) // concurrent exporter won; logs are equal
        }
      }
      prev = cur
      prevCols = Some(cols)
      prevVNum = Some(v)
      prevDvs = curDvs
      if (cols._2.nonEmpty || cols._3.nonEmpty) mappingAnnounced = true
      // a skipped (already-exported) DV-bearing version still means the
      // feature was announced at or before it
      if (curDvs.nonEmpty) dvAnnounced = true
    }
    logDir
  }

  /** Write version `v`'s change rows as `_change_data` parquet — hive-
    * partitioned like the data when the table is partitioned (Delta lays
    * change data out under the table's own partitioning) — and return
    * (root-relative path, partitionValues JSON, size) per file. An EMPTY
    * change set still writes ONE empty file: the spec's marker that a
    * churn-only commit (compaction) had no logical changes. Names carry
    * a uuid; a concurrent exporter losing the log CAS leaves an orphaned
    * cdc file (never referenced — Delta's own uncommitted-file story). */
  private def writeCdcFiles(spark: SparkSession, root: String, v: Long,
      changes: DataFrame,
      partColsOverride: Option[Seq[String]] = None): Seq[(String, String, Long)] = {
    val cdcDir = Paths.get(root, "_change_data")
    Files.createDirectories(cdcDir)
    // native tables lay change data out under the manifest's partition
    // columns; a FOREIGN caller passes the log metaData's instead
    val parts = partColsOverride.getOrElse(partitionColumns(root))
      .filter(changes.columns.contains)
    val stage = Files.createTempDirectory(cdcDir, s".cdc-$v-stage")
    try {
      // one write job on the common (non-empty) path: a partitioned
      // write of an empty change set produces no files, and only then
      // does a second write re-execute the plan to lay down the single
      // empty marker file — churn-only commits pay twice, every
      // change-bearing commit pays once (probing emptiness up front
      // would instead execute the changeFeed join twice on EVERY
      // partitioned commit).
      val w = changes.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
        .parquet(stage.toString)
      def list(): Seq[Path] = withDrained(Files.walk(stage))(
        _.filter(p => p.toString.endsWith(".parquet") &&
          Files.isRegularFile(p))).sortBy(_.toString)
      var staged = list()
      if (staged.isEmpty) {
        changes.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        staged = list()
      }
      require(staged.nonEmpty,
        s"cdc write for version $v at $root produced no file — a " +
          "churn-only commit without its empty marker would mis-derive")
      staged.zipWithIndex.map { case (p, i) =>
        val relDirs = stage.relativize(p.getParent).toString
        val destDir =
          if (relDirs.isEmpty) cdcDir else cdcDir.resolve(relDirs)
        Files.createDirectories(destDir)
        val dest = destDir.resolve(
          s"cdc-$v-$i-${java.util.UUID.randomUUID()}.parquet")
        Files.move(p, dest)
        // decoded spec-form values, like the add actions' (JSON null
        // for the default partition) — one shared decode+render body.
        // hivePartValuesJson parses DIRS (dropRight(1) strips the file
        // segment), so hand it a synthetic trailing segment.
        val pv = hivePartValuesJson(
          if (relDirs.isEmpty) "f" else relDirs + "/f")
        (Paths.get(root).relativize(dest).toString, pv, Files.size(dest))
      }
    } finally {
      withDrained(Files.walk(stage))(identity)
        .sortBy(_.toString).reverse.foreach(Files.deleteIfExists(_))
    }
  }

  // "path" need not be the FIRST key of the action object (field order
  // is writer-dependent in real Delta logs). Actions are parsed per
  // NDJSON line: find the action kind, then SCAN its object tracking
  // brace depth and key/value position, and return the DEPTH-1 "path"
  // KEY's string value — a partition column literally named 'path'
  // inside partitionValues, a path-valued top-level string, or the DV
  // descriptor's keys cannot shadow it.
  private val DeltaAddKindRe = """"add"\s*:\s*\{""".r
  private val DeltaRemoveKindRe = """"remove"\s*:\s*\{""".r
  private def deltaActionPath(line: String, kind: scala.util.matching.Regex)
      : Option[String] = {
    val m = kind.findFirstMatchIn(line).getOrElse(return None)
    var i = m.end // just past the action object's '{'
    var depth = 1
    var prevSig = '{' // last significant char: a string is a KEY iff '{' or ','
    while (i < line.length && depth > 0) {
      line.charAt(i) match {
        case '"' =>
          val start = i + 1
          var j = start
          while (j < line.length && line.charAt(j) != '"') {
            if (line.charAt(j) == '\\') j += 1
            j += 1
          }
          val isKey = prevSig == '{' || prevSig == ','
          if (depth == 1 && isKey && line.substring(start, j) == "path") {
            var k = j + 1
            while (k < line.length &&
                (line.charAt(k) == ':' || line.charAt(k).isWhitespace)) k += 1
            if (k < line.length && line.charAt(k) == '"') {
              val vs = k + 1
              var v = vs
              while (v < line.length && line.charAt(v) != '"') {
                if (line.charAt(v) == '\\') v += 1
                v += 1
              }
              return Some(line.substring(vs, v))
            }
          }
          prevSig = '"'
          i = j + 1
        case c @ ('{' | '}' | ',' | ':') =>
          if (c == '{') depth += 1
          if (c == '}') depth -= 1
          prevSig = c
          i += 1
        case c =>
          if (!c.isWhitespace) prevSig = c
          i += 1
      }
    }
    None
  }
  private val DeltaSchemaRe = """"schemaString":\s*"((?:[^"\\]|\\.)*)"""".r
  // protocol fields parsed per line, each independently — their relative
  // order (and interposed feature lists) are writer-dependent too
  private val DeltaProtocolKindRe = """"protocol"\s*:\s*\{""".r
  private val DeltaMinReaderRe = """"minReaderVersion"\s*:\s*(\d+)""".r
  private val DeltaMinWriterRe = """"minWriterVersion"\s*:\s*(\d+)""".r
  private val DeltaConfRe = """"configuration":\s*\{([^}]*)\}""".r
  private val DeltaConfPairRe = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  // the capture must treat quoted strings as opaque: z85-encoded
  // pathOrInlineDv values legitimately contain '{' and '}'
  private val DeltaReaderFeatsRe = """"readerFeatures":\s*\[([^\]]*)\]""".r
  private val DeltaWriterFeatsRe = """"writerFeatures":\s*\[([^\]]*)\]""".r
  private val DeltaDvRe =
    """"deletionVector":\s*\{((?:"(?:[^"\\]|\\.)*"|[^}"])*)\}""".r
  private val DeltaDvNumRe = """"(offset|sizeInBytes|cardinality)"\s*:\s*(-?\d+)""".r

  private def deltaUnesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Delta-spec path decoding: `add`/`remove` paths are percent-encoded
    * RFC 2396 URIs relative to the table root. Our own exporter writes
    * plain relative paths (no characters needing encoding ever reach it —
    * [[commit]] rejects them at the write point), but a FOREIGN writer's
    * log may encode spaces etc.; decode so the replay resolves the real
    * file. '+' is a literal plus in a URI path — shield it. */
  private def deltaDecodePath(p: String): String =
    java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** Inverse of [[deltaDecodePath]], applied when WRITING log/checkpoint
    * actions: percent-encode each path segment (RFC 2396 relative URI, the
    * Delta spec's path form). Spark escapes special partition values as
    * %XX in hive dir names ('%'→%25, ':'→%3A), so a raw relative path in
    * the log would be decoded by any spec-following reader (including our
    * own) into a nonexistent file — encode symmetrically instead. '/' is
    * the segment separator and must survive; URLEncoder's '+'-for-space
    * would NOT round-trip through a URI decoder, so rewrite it to %20. */
  private def deltaEncodePath(p: String): String =
    p.split('/').map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20"))
      .mkString("/")

  /** Accumulated state of a Delta log replay: live add paths in
    * first-add order, last schemaString JSON, last protocol, last
    * configuration map, and the current deletion-vector descriptor of
    * each live path (absent = no DV). */
  private case class DeltaReplayState(live: Seq[String],
      schemaJson: Option[String], protocol: (Int, Int),
      readerFeatures: Seq[String], writerFeatures: Seq[String],
      conf: Map[String, String], dvs: Map[String, DeltaDv.Descriptor],
      // live path → its add action's raw stats JSON (numRecords /
      // minValues / maxValues / nullCount) — what Delta data skipping
      // plans from; absent for adds written without stats
      stats: Map[String, String] = Map.empty,
      // live path → its add action's partitionValues (None = JSON null
      // = every row's value is null): EXACT per-file values, so a
      // hive-partitioned foreign log written WITHOUT column stats —
      // the common Delta layout — still prunes partition predicates
      partVals: Map[String, Map[String, Option[String]]] = Map.empty,
      // metaData.partitionColumns (logical names, current epoch)
      partitionCols: Seq[String] = Nil,
      // live (decoded) path → the add's RAW committed strings: the
      // path exactly as its JSON carried it, and the deletionVector
      // object verbatim. A REMOVE must reference both IDENTICALLY —
      // the spec's action reconciliation keys a logical file on
      // (path string, deletionVector uniqueId), so a
      // decode-then-re-encode that normalizes differently from the
      // foreign writer (e.g. '*' vs %2A), or a remove omitting the
      // DV, would fail to cancel the add and leave the removed file
      // LIVE for every conforming reader. Absent for
      // checkpoint-seeded files (the fallback re-encode serves those)
      rawAdd: Map[String, (String, Option[String])] = Map.empty)

  /** The deletionVector descriptor of one log action line, if any. */
  private def parseDvDescriptor(line: String,
      src: String): Option[DeltaDv.Descriptor] =
    DeltaDvRe.findFirstMatchIn(line).map { dm =>
      val fields = DeltaConfPairRe.findAllMatchIn(dm.group(1))
        .map(x => deltaUnesc(x.group(1)) -> deltaUnesc(x.group(2))).toMap
      val nums = DeltaDvNumRe.findAllMatchIn(dm.group(1))
        .map(x => x.group(1) -> x.group(2).toLong).toMap
      DeltaDv.Descriptor(
        fields.getOrElse("storageType", "u"),
        fields.getOrElse("pathOrInlineDv",
          throw new IllegalArgumentException(
            s"deletionVector without pathOrInlineDv in $src")),
        nums.getOrElse("offset", 1L),
        nums.getOrElse("sizeInBytes", -1L),
        nums.getOrElse("cardinality", -1L))
    }

  /** Log version numbers present under `root/_delta_log`, ascending —
    * the offset axis of the delta-export streaming source. */
  def deltaLogVersions(root: String): Seq[Long] = {
    val logDir = Paths.get(root, "_delta_log")
    if (!Files.isDirectory(logDir)) Seq.empty
    else withDrained(Files.list(logDir))(
      _.map(_.getFileName.toString).filter(_.matches("\\d{20}\\.json"))
        .map(_.take(20).toLong)).sorted
  }

  /** One parsed add/remove action of a log line: decoded path, its
    * deletionVector descriptor (if the line carries one), and its
    * dataChange flag (absent ⇒ true — the conservative reading; our own
    * exporter always writes it). dataChange=false marks pure layout
    * churn (a foreign OPTIMIZE), which streams skip and CDF derivation
    * must ignore, per the Delta spec. */
  case class DeltaAction(path: String, dv: Option[DeltaDv.Descriptor],
      dataChange: Boolean)

  private val DeltaDataChangeRe = """"dataChange"\s*:\s*(true|false)""".r

  /** The add and remove actions of ONE log version, in line order — the
    * incremental unit a log-tailing stream consumes. */
  def deltaActionsDetailedIn(root: String, v: Long)
      : (Seq[DeltaAction], Seq[DeltaAction]) = {
    val lf = Paths.get(root, "_delta_log", f"$v%020d.json")
    val adds = scala.collection.mutable.ArrayBuffer.empty[DeltaAction]
    val removes = scala.collection.mutable.ArrayBuffer.empty[DeltaAction]
    Files.readString(lf).split('\n').foreach { line =>
      def action(raw: String) = DeltaAction(
        deltaDecodePath(deltaUnesc(raw)),
        parseDvDescriptor(line, lf.toString),
        DeltaDataChangeRe.findFirstMatchIn(line)
          .forall(_.group(1) == "true"))
      deltaActionPath(line, DeltaRemoveKindRe).foreach(raw =>
        removes += action(raw))
      deltaActionPath(line, DeltaAddKindRe).foreach(raw =>
        adds += action(raw))
    }
    (adds.toSeq, removes.toSeq)
  }


  /** Replay the exported JSON log through version `upTo` (all when None),
    * optionally starting from a checkpoint's state (`after` = checkpoint
    * version, `seedLive`/`seedSchema`/`seedDvs` = its adds, schema, and
    * DV descriptors). Actions are processed line by line (Delta logs are
    * newline-delimited JSON), so an add's deletionVector binds to ITS
    * path, and a remove+re-add of the same path in one commit — how
    * Delta commits a DV update — nets to the re-add's state. */
  private def replayDeltaLog(root: String, upTo: Option[Long],
      after: Option[Long] = None, seedLive: Seq[String] = Nil,
      seedSchema: Option[String] = None,
      seedDvs: Map[String, DeltaDv.Descriptor] = Map.empty,
      seedConf: Map[String, String] = Map.empty,
      seedStats: Map[String, String] = Map.empty,
      seedPartVals: Map[String, Map[String, Option[String]]] = Map.empty,
      seedPartCols: Seq[String] = Nil,
      seedProtocol: Option[(Int, Int, Seq[String], Seq[String])] = None)
      : DeltaReplayState = {
    val logDir = Paths.get(root, "_delta_log")
    // vacuum's log truncation leaves a horizon marker: versions below it
    // are NOT reconstructable from JSON alone. An unseeded replay of a
    // truncated log would silently return a partial state — refuse.
    if (after.isEmpty) {
      val marker = logDir.resolve("_graft_truncation")
      if (Files.exists(marker))
        throw new IllegalStateException(
          s"log at $root was truncated below checkpoint " +
            s"${Files.readString(marker).trim} by vacuum; versions below " +
            "it cannot be replayed from JSON — read checkpoint-seeded " +
            "(useCheckpoint = true) at or above that version")
    }
    val logFiles = withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString)
      .filter { p =>
        val v = p.getFileName.toString.take(20).toLong
        upTo.forall(v <= _) && after.forall(v > _)
      }
    // a GAP in the selected versions (foreign retention, partial copy)
    // makes the net state wrong in unbounded ways — refuse, never skip
    val selVs = logFiles.map(_.getFileName.toString.take(20).toLong)
    // a FOREIGN log truncated by the other engine's metadata cleanup (or
    // a copy that lost our marker) has no _graft_truncation marker, but
    // its surviving versions start at k > 0 — consecutive-gap checks
    // alone would pass and silently return a partial live set. An
    // unseeded replay is only complete if the JSON chain starts at 0.
    if (after.isEmpty)
      selVs.headOption.foreach(first =>
        require(first == 0L,
          s"log at $root starts at version $first, not 0 — it was " +
            "truncated (foreign metadata cleanup or a partial copy) and " +
            "cannot be replayed from JSON alone; read checkpoint-seeded " +
            "at or above its checkpoint"))
    after.foreach(a => selVs.headOption.foreach(first =>
      require(first == a + 1,
        s"log versions ${a + 1}..${first - 1} missing at $root; the " +
          "checkpointed state cannot be advanced over a gap")))
    selVs.zip(selVs.drop(1)).foreach { case (a, b) =>
      require(b == a + 1,
        s"log version gap ($a -> $b) at $root; a partial log cannot " +
          "be replayed")
    }
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    live ++= seedLive
    val dvs = scala.collection.mutable.HashMap.empty[String, DeltaDv.Descriptor]
    dvs ++= seedDvs
    val stats = scala.collection.mutable.HashMap.empty[String, String]
    stats ++= seedStats
    val partVals = scala.collection.mutable
      .HashMap.empty[String, Map[String, Option[String]]]
    partVals ++= seedPartVals
    // decoded path → (raw committed path string, raw deletionVector
    // object) — what a REMOVE must reference verbatim (see
    // DeltaReplayState.rawAdd). Checkpoint-seeded adds have no raw
    // line; they fall back to the re-encode at the remove site.
    val rawAdds = scala.collection.mutable
      .HashMap.empty[String, (String, Option[String])]
    var partCols: Seq[String] = seedPartCols
    // the add's stats field must be parsed as REAL JSON: a flat regex
    // over the line would capture a partitionValues KEY that happens to
    // be named "stats" (partitionValues precedes the stats field in
    // every writer's action order) and poison both skipping and the
    // checkpoint's carried stats
    val statsMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // ONE parse serves both fields (the replay walks O(history) add
    // lines; a second readTree per line would double its parse cost).
    // partitionValues is jackson-navigated, never flat-regexed (values
    // are data and may contain anything); a JSON null value is
    // MEANINGFUL (all rows null), so entries keep Option values.
    def addFieldsOf(line: String)
        : (Option[String], Option[Map[String, Option[String]]]) =
      try {
        val add = Option(statsMapper.readTree(line).get("add"))
        (add.flatMap(a => Option(a.get("stats")))
          .filter(_.isTextual).map(_.asText()),
          add.flatMap(a => Option(a.get("partitionValues")))
            .filter(_.isObject)
            .map(_.fields().asScala.map(e =>
              e.getKey -> (if (e.getValue.isNull) None
                else Some(e.getValue.asText()))).toMap))
      } catch { case scala.util.control.NonFatal(_) => (None, None) }
    def metaPartColsOf(line: String): Option[Seq[String]] =
      try Option(statsMapper.readTree(line).get("metaData"))
        .flatMap(m => Option(m.get("partitionColumns")))
        .filter(_.isArray)
        .map(_.elements().asScala.map(_.asText()).toSeq)
      catch { case scala.util.control.NonFatal(_) => None }
    var schemaJson: Option[String] = seedSchema
    // the PROTOCOL seeds from the checkpoint too: a log cleaned below
    // its checkpoint has no protocol action left in the JSON tail, and
    // the (1, 2) default would hide declared writer FEATURES from every
    // foreign writer's refusal battery — a feature-bearing table would
    // silently pass validation it must fail
    var protocol = seedProtocol.map(p => (p._1, p._2)).getOrElse((1, 2))
    var readerFeats = seedProtocol.map(_._3).getOrElse(Seq.empty[String])
    var writerFeats = seedProtocol.map(_._4).getOrElse(Seq.empty[String])
    var conf = seedConf
    logFiles.foreach { lf =>
      val txt = Files.readString(lf)
      txt.split('\n').foreach { line =>
        deltaActionPath(line, DeltaRemoveKindRe).foreach { raw =>
          val p = deltaDecodePath(deltaUnesc(raw))
          live -= p; dvs -= p; stats -= p; partVals -= p; rawAdds -= p
        }
        deltaActionPath(line, DeltaAddKindRe).foreach { raw =>
          val p = deltaDecodePath(deltaUnesc(raw))
          live += p
          rawAdds(p) = (raw,
            DeltaDvRe.findFirstMatchIn(line).map(m => "{" + m.group(1) + "}"))
          parseDvDescriptor(line, lf.toString) match {
            case Some(d) => dvs(p) = d
            case None    => dvs -= p
          }
          val (st, pv) = addFieldsOf(line)
          st match {
            case Some(s) => stats(p) = s
            case None    => stats -= p // a re-add without stats clears
          }
          pv match {
            case Some(m) => partVals(p) = m
            case None    => partVals -= p
          }
        }
        if (line.contains("\"metaData\""))
          metaPartColsOf(line).foreach(partCols = _)
      }
      DeltaSchemaRe.findAllMatchIn(txt).foreach(m => schemaJson = Some(deltaUnesc(m.group(1))))
      txt.split('\n').foreach { line =>
        if (DeltaProtocolKindRe.findFirstIn(line).isDefined)
          (DeltaMinReaderRe.findFirstMatchIn(line),
            DeltaMinWriterRe.findFirstMatchIn(line)) match {
            case (Some(r), Some(w)) =>
              protocol = (r.group(1).toInt, w.group(1).toInt)
            case _ => ()
          }
      }
      DeltaReaderFeatsRe.findAllMatchIn(txt).foreach(m =>
        readerFeats = m.group(1).split(",").toSeq.map(
          _.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      DeltaWriterFeatsRe.findAllMatchIn(txt).foreach(m =>
        writerFeats = m.group(1).split(",").toSeq.map(
          _.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      DeltaConfRe.findAllMatchIn(txt).foreach(m =>
        conf = DeltaConfPairRe.findAllMatchIn(m.group(1))
          .map(p => deltaUnesc(p.group(1)) -> deltaUnesc(p.group(2))).toMap)
    }
    DeltaReplayState(live.toSeq, schemaJson, protocol,
      readerFeats, writerFeats, conf,
      dvs.toMap.filter(e => live.contains(e._1)),
      stats.toMap.filter(e => live.contains(e._1)),
      partVals.toMap.filter(e => live.contains(e._1)),
      partCols,
      rawAdds.toMap.filter(e => live.contains(e._1)))
  }

  /** Write a Delta CHECKPOINT for the exported log at `version` — one
    * parquet file (`<v 20-digit>.checkpoint.parquet`, one action per row:
    * the protocol, the metaData, and every LIVE add at that version) plus
    * the `_last_checkpoint` pointer. A reader seeds its state from the
    * checkpoint and replays only the JSON logs after it — at a
    * 100 TB table's commit rate, the difference between opening a table
    * in O(live files) and O(whole history). Follows the public Delta
    * checkpoint layout (nullable top-level action structs). */
  def exportDeltaCheckpoint(spark: SparkSession, root: String,
      version: Long): Path = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.exists(logDir.resolve(f"$version%020d.json")),
      s"no exported log for version $version at $root (exportDeltaLog first)")
    writeDeltaCheckpoint(spark, root, version,
      replayDeltaLog(root, Some(version)))
  }

  /** The shared checkpoint writer of [[exportDeltaCheckpoint]] (native
    * export) and [[checkpointDeltaForeign]]: one parquet snapshot of
    * `st` at `version` — protocol (with feature lists), metaData, every
    * live add with its carried stats/partitionValues/DV, and the
    * remove TOMBSTONES still reconstructable from the JSON tail (the
    * spec keeps unexpired tombstones in checkpoints so a vacuum
    * implementation seeding past the JSON can still honor the
    * retention window). */
  /** The checkpoint ACTION schema this engine writes (classic layout,
    * nullable top-level action structs) — and the explicit schema a
    * v2-checkpoint JSON top file is read under (the same action
    * shapes, NDJSON lines instead of parquet rows). */
  private[sources] lazy val DeltaCkptActionSchema
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", LongType),
          StructField("sizeInBytes", LongType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        // the remove's DV descriptor rides the checkpoint so vacuum's
        // protect set still covers the superseded DV SIDECAR after log
        // cleanup deletes the JSON that carried it
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", LongType),
          StructField("sizeInBytes", LongType),
          StructField("cardinality", LongType))))))),
      // setTransaction watermarks (latest per appId) — the spec puts
      // them in every checkpoint; dropping them would break every
      // foreign idempotent writer's exactly-once dedup once log
      // cleanup deletes the JSON tail that carried them
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType))))))
  }

  private def writeDeltaCheckpoint(spark: SparkSession, root: String,
      version: Long, st: DeltaReplayState): Path = {
    val logDir = Paths.get(root, "_delta_log")
    val (live, schemaJson, (minR, minW), conf) =
      (st.live, st.schemaJson, st.protocol, st.conf)
    val ckptSchema = DeltaCkptActionSchema
    // the ADD ACTION's partition values, carried verbatim (a foreign
    // log's values are authoritative — paths need not encode them);
    // our own exports fall back to the decoded hive dir segments
    def partitionValues(rel: String): Map[String, String] =
      st.partVals.getOrElse(rel, hivePartPairs(rel).toMap)
        .map { case (k, ov) => k -> ov.orNull }
    val id = "graft-" + graft.plans.TextExpressions.md5Hex(root).take(12)
    // protocol versions >= 3/7 REQUIRE their feature lists (the Delta
    // table-features spec); a DV-bearing export's checkpoint must carry
    // them or foreign readers reject the table
    val rows: Seq[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Row(org.apache.spark.sql.Row(minR, minW,
        if (st.readerFeatures.nonEmpty) st.readerFeatures else null,
        if (st.writerFeatures.nonEmpty) st.writerFeatures else null),
        null, null, null, null) +:
      org.apache.spark.sql.Row(null, org.apache.spark.sql.Row(
        id, org.apache.spark.sql.Row("parquet"), schemaJson.orNull,
        if (st.partitionCols.nonEmpty) st.partitionCols
        else partitionColumns(root), conf), null, null, null) +: (
      live.map { f => // f is root-relative ("data/..."), already DECODED by
        // the replay; re-encode for the stored path so checkpoint paths use
        // the same percent-encoded URI form as the JSON log (readers decode
        // both exactly once — storing decoded paths made a literal '%' in a
        // name decode twice and mangle)
        val p = Paths.get(root).resolve(f)
        val (size, mtime) =
          if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          else (0L, 0L)
        val dv = st.dvs.get(f).map(d => org.apache.spark.sql.Row(
          d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
          d.cardinality)).orNull
        // carry the add action's FULL stats (minValues/maxValues/
        // nullCount) through the checkpoint — losing them would disable
        // data skipping for every reader seeding past it; only a
        // stats-less add falls back to the footer record count
        val stats = st.stats.get(f).orNull match {
          case s: String => s
          case _ =>
            if (!Files.exists(p)) null
            else try s"{\"numRecords\":${parquetRecordCount(p)}}"
            catch { case scala.util.control.NonFatal(_) => null }
        }
        org.apache.spark.sql.Row(null, null, org.apache.spark.sql.Row(
          deltaEncodePath(f), partitionValues(f), size, mtime, true, stats, dv),
          null, null)
      } ++
      // remove TOMBSTONES (raw committed path form, DV descriptor
      // carried): a vacuum seeding from this checkpoint can still
      // honor the retention window for recently-removed files AND
      // their DV sidecars. EXPIRED tombstones (older than the table's
      // delta.deletedFileRetentionDuration, default 168 h) drop
      // here — the spec's checkpoint rule, and what keeps the
      // checkpoint from growing with every removal the table ever made
      {
        // loop-invariant horizon: one clock read + one interval parse
        // per checkpoint, and every tombstone judged against the SAME
        // "now"
        val tombHorizon =
          System.currentTimeMillis() - deltaTombstoneRetentionMs(conf)
        deltaRemoveTombstones(spark, root, version).toSeq.sortBy(_._1)
          .filter { case (_, (ts, _)) => ts >= tombHorizon }
      }
        .map { case (p, (ts, dv)) =>
          val dvRow = dv.map(d => org.apache.spark.sql.Row(
            d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
            d.cardinality)).orNull
          org.apache.spark.sql.Row(null, null, null,
            org.apache.spark.sql.Row(p, ts, true, dvRow), null)
        } ++
      // latest setTransaction watermark per appId — what an idempotent
      // foreign writer checks to skip a replayed micro-batch
      deltaTxnsForeign(spark, root, version).toSeq.sortBy(_._1)
        .map { case (app, (v, lu)) =>
          org.apache.spark.sql.Row(null, null, null, null,
            org.apache.spark.sql.Row(app, v,
              lu.map(Long.box).orNull))
        })
    val tmp = Files.createTempDirectory(logDir, ".ckpt-tmp")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), ckptSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = withDrained(Files.list(tmp.resolve("out")))(
      _.filter(_.toString.endsWith(".parquet"))).head
    val target = logDir.resolve(f"$version%020d.checkpoint.parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    withDrained(Files.walk(tmp))(identity).sortBy(_.toString).reverse
      .foreach(p => Files.deleteIfExists(p))
    // the pointer readers consult first; written LAST so a crash between
    // the two leaves a valid (checkpoint-less) log
    Files.writeString(logDir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":${rows.length}}""")
    target
  }

  /** Fully-parsed `_last_checkpoint` pointer: version (required) and
    * the multi-part fragment count when the pointer declares one. The
    * old regex parse read ONLY `version` — a multi-part or v2 pointer
    * then silently resolved to the (absent) classic file name and
    * every consumer proceeded with EMPTY checkpoint state: no live
    * set, no tombstones, no txn watermarks. Jackson-parse the whole
    * document instead. */
  private case class DeltaCkptPointer(version: Long, parts: Option[Int])

  private def parseLastCheckpoint(logDir: Path): Option[DeltaCkptPointer] = {
    val lcp = logDir.resolve("_last_checkpoint")
    if (!Files.exists(lcp)) None
    else {
      // malformed content (truncated copy, foreign oddity) refuses
      // with the table named — a raw Jackson exception says neither
      // which table nor why the reader stopped
      val n = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(lcp))
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"_last_checkpoint at $logDir is not parseable JSON " +
              s"(${e.getMessage}); refusing to guess")
      }
      val v = Option(n.get("version")).filter(_.isNumber).map(_.asLong())
        .getOrElse(throw new IllegalStateException(
          s"_last_checkpoint at $logDir carries no numeric version; " +
            "refusing to guess"))
      Some(DeltaCkptPointer(v,
        Option(n.get("parts")).filter(_.isNumber).map(_.asInt())))
    }
  }

  /** The on-disk layout of ONE resolved Delta checkpoint: classic
    * (single parquet), multi-part (all fragments), or v2 (UUID-named
    * top file in parquet or JSON form plus the sidecar parquets its
    * `sidecar` actions reference). */
  private case class DeltaCkptFiles(version: Long,
      parquetActionFiles: Seq[Path], v2TopJson: Option[Path],
      sidecars: Seq[Path]) {
    def allFiles: Seq[Path] =
      parquetActionFiles ++ v2TopJson.toSeq ++ sidecars
    /** Immutable-content fingerprint (path, size, mtime per file) —
      * the cache-key discipline [[ckptTxnCache]] uses. */
    def fingerprint: Seq[FileId] = allFiles.map(FileId(_))
  }

  // v2 top file identity → its sidecar name list: the top file is
  // immutable per identity, and extracting sidecar actions from a
  // parquet top is a Spark job the per-batch watermark probe must not
  // re-run
  private val v2SidecarCache = scala.collection.concurrent.TrieMap
    .empty[FileId, Seq[String]]

  /** Resolve the checkpoint `ptr` advertises to its file set — LOUDLY.
    * A pointer that names a checkpoint this reader cannot locate or
    * does not understand must never degrade to "no checkpoint": the
    * consumers seed vacuum-protection tombstones and exactly-once txn
    * watermarks from it, and an empty seed silently reclaims files
    * readers still resolve / replays micro-batches twice. */
  private def resolveDeltaCheckpoint(spark: SparkSession, logDir: Path,
      ptr: DeltaCkptPointer): DeltaCkptFiles = {
    import org.apache.spark.sql.functions.col
    val v = ptr.version
    val prefix = f"$v%020d.checkpoint"
    def fail(what: String): Nothing = throw new IllegalStateException(
      s"_last_checkpoint at $logDir advertises a checkpoint at version " +
        s"$v but $what; refusing rather than silently proceeding with " +
        "empty checkpoint state")
    val classic = logDir.resolve(s"$prefix.parquet")
    ptr.parts match {
      case Some(n) if n < 1 =>
        fail(s"declares parts=$n (must be >= 1)")
      case Some(n) =>
        val parts = (1 to n).map(i =>
          logDir.resolve(f"$prefix.$i%010d.$n%010d.parquet"))
        val missing = parts.filterNot(Files.exists(_))
        if (missing.isEmpty) DeltaCkptFiles(v, parts, None, Nil)
        // parts=1 written where a classic file exists: accept the
        // classic form (same content, one fragment)
        else if (n == 1 && Files.exists(classic))
          DeltaCkptFiles(v, Seq(classic), None, Nil)
        else fail(s"multi-part fragment(s) " +
          s"${missing.map(_.getFileName).mkString(", ")} are missing")
      case None if Files.exists(classic) =>
        DeltaCkptFiles(v, Seq(classic), None, Nil)
      case None =>
        // v2 (UUID-named) checkpoint: <v>.checkpoint.<uuid>.{parquet,
        // json}. The UUID segment is dot-free, so a multi-part
        // fragment (two numeric segments) can never match.
        val v2Re = ("^" + java.util.regex.Pattern.quote(prefix) +
          """\.[^.]+\.(parquet|json)$""").r
        val cands = withDrained(Files.list(logDir))(
          _.filter(p => v2Re.findFirstIn(p.getFileName.toString).isDefined))
        // any complete v2 top is equivalent; pick deterministically
        val top = cands.sortBy(_.getFileName.toString).lastOption
          .getOrElse(fail("no classic, multi-part, or v2 (UUID-named) " +
            "checkpoint file exists"))
        val isJson = top.getFileName.toString.endsWith(".json")
        // the top file's `sidecar` actions name the parquet files that
        // carry the add/remove population (spec: file actions live in
        // sidecars when any sidecar action is present). CACHED per
        // (top, size, mtime): a txn-stamped foreachBatch sink resolves
        // the checkpoint EVERY micro-batch, and the parquet-top
        // extraction is a Spark job — uncached it would defeat the
        // map-hit promise ckptTxnCache makes
        val sidecarNames: Seq[String] = v2SidecarCache.getOrElseUpdate(
          FileId(top),
          if (isJson) {
            val om = new com.fasterxml.jackson.databind.ObjectMapper()
            Files.readString(top).split('\n').toSeq.flatMap { line =>
              if (!line.contains("\"sidecar\"")) None
              else try Option(om.readTree(line).get("sidecar"))
                .flatMap(s => Option(s.get("path")).map(_.asText()))
              catch { case scala.util.control.NonFatal(_) => None }
            }
          } else {
            val df = spark.read.parquet(top.toString)
            if (!df.schema.fieldNames.contains("sidecar")) Nil
            else df.filter(col("sidecar").isNotNull)
              .select(col("sidecar.path")).collect().toSeq
              .flatMap(r => Option(r.getString(0)))
          })
        val sidecars = sidecarNames.map { nm =>
          val raw =
            if (nm.startsWith("file:")) nm.stripPrefix("file:") else nm
          val p = if (raw.contains("/")) Paths.get(raw)
                  else logDir.resolve("_sidecars").resolve(raw)
          if (!Files.exists(p)) fail(s"sidecar $nm is missing") else p
        }
        if (isJson) DeltaCkptFiles(v, Nil, Some(top), sidecars)
        else DeltaCkptFiles(v, Seq(top), None, sidecars)
    }
  }

  /** ONE action frame over the whole resolved checkpoint — classic
    * file, multi-part fragments, v2 top (parquet read directly; JSON
    * read under [[DeltaCkptActionSchema]]) and sidecars unioned BY
    * NAME with missing columns null-filled (a sidecar carries only
    * file actions; a v2 top may carry none). Every checkpoint consumer
    * reads through this, so multi-part/v2 support has one body. */
  private def checkpointActionsDf(spark: SparkSession,
      ck: DeltaCkptFiles): DataFrame = {
    val frames = Seq(
      if (ck.parquetActionFiles.isEmpty) None
      else Some(spark.read.parquet(
        ck.parquetActionFiles.map(_.toString): _*)),
      // FAILFAST: in default PERMISSIVE mode a corrupt/truncated JSON
      // line becomes an all-null row that silently drops from seeding —
      // a damaged top must refuse like a missing fragment does
      ck.v2TopJson.map(p =>
        spark.read.schema(DeltaCkptActionSchema)
          .option("mode", "FAILFAST").json(p.toString)),
      if (ck.sidecars.isEmpty) None
      else Some(spark.read.parquet(ck.sidecars.map(_.toString): _*))
    ).flatten
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Reader features this engine actually implements — the set a
    * reader-v3 table's `readerFeatures` list is validated against
    * (Delta table-features spec: a reader MUST refuse a table
    * declaring a reader feature it does not support; reading it
    * anyway only works until the feature's obligations bite, e.g. a
    * v2Checkpoint table whose JSON tail is cleaned). */
  private val SupportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
      // reader obligation is NIL (the feature only obliges VACUUM
      // implementations to run the protocol gate first — which
      // vacuumDeltaForeign does); refusing reads on it would be an
      // availability regression beyond what the spec forces
      "vacuumProtocolCheck")

  /** The read half of the protocol gate: reader version <= 3 and, at
    * version 3, every declared reader feature inside
    * [[SupportedReaderFeatures]]. Runs on every checkpoint-seeded
    * state build, so reads and writes both refuse tables whose state
    * this engine cannot faithfully reconstruct. */
  private def requireDeltaReaderProtocol(state: DeltaReplayState,
      root: String): Unit = {
    val (minR, _) = state.protocol
    require(minR <= 3, s"reader version $minR not supported at $root")
    if (minR >= 3) {
      val extra = state.readerFeatures.filterNot(SupportedReaderFeatures)
      require(extra.isEmpty,
        s"reader feature(s) ${extra.mkString(", ")} at $root require " +
          "read capabilities this engine does not implement; refusing " +
          "(Delta table-features spec)")
    }
  }

  /** Remove-action TOMBSTONES at or below `upTo`: raw committed path →
    * (latest deletionTimestamp, the remove's deletionVector descriptor
    * when it carried one). SEEDS from the checkpoint's `remove` rows
    * when one exists at or below `upTo` — after log cleanup the
    * checkpoint is the ONLY carrier of pre-cleanup tombstones, and
    * dropping them would let vacuum reclaim a recently-removed file
    * inside its retention window — then replays the surviving JSON
    * tail on top. Paths RE-ADDED after their remove drop out (the add
    * resurrects the logical file). Jackson-parsed per line; every
    * optional field parses defensively (the spec makes deletionVector
    * offset optional — inline DVs never carry one — and a parse NPE
    * inside a blanket catch would silently drop the tombstone). */
  /** Every data-plane path the CURRENT Delta state mentions — live
    * adds, their DV files, and ALL tombstoned paths regardless of age
    * (reclaiming those is VACUUM's job, under its horizon) — absolute,
    * normalized. The Iceberg face's orphan sweep consults this when
    * the two faces share one root, so a file the Delta log still
    * references is never treated as an Iceberg orphan. Empty when no
    * `_delta_log` exists. */
  private[graft] def deltaReferencedPaths(spark: SparkSession,
      root: String): Set[Path] = {
    val logDir = Paths.get(root, "_delta_log")
    if (!Files.isDirectory(logDir)) return Set.empty
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    val out = scala.collection.mutable.HashSet.empty[Path]
    state.live.foreach(f => out += rootPath.resolve(f).normalize())
    state.dvs.values.foreach(d => DeltaDv.filePath(root, d).foreach(p =>
      out += p.toAbsolutePath.normalize()))
    deltaRemoveTombstones(spark, root, cur).foreach { case (raw, (_, dv)) =>
      out += rootPath.resolve(deltaDecodePath(raw)).normalize()
      dv.foreach(d => DeltaDv.filePath(root, d).foreach(p =>
        out += p.toAbsolutePath.normalize()))
    }
    out.toSet
  }

  private def deltaRemoveTombstones(spark: SparkSession, root: String,
      upTo: Long): Map[String, (Long, Option[DeltaDv.Descriptor])] = {
    import org.apache.spark.sql.functions.col
    val logDir = Paths.get(root, "_delta_log")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tomb = scala.collection.mutable
      .LinkedHashMap.empty[String, (Long, Option[DeltaDv.Descriptor])]
    // resolve + read LOUDLY: a multi-part/v2 pointer (or a missing
    // file) must never silently seed an EMPTY tombstone map — vacuum's
    // protect set would miss every pre-cleanup tombstone and DV-
    // sidecar protection, the data-loss class this seeding prevents
    parseLastCheckpoint(logDir).filter(_.version <= upTo).foreach { ptr =>
      val ck = checkpointActionsDf(spark,
        resolveDeltaCheckpoint(spark, logDir, ptr))
      if (ck.schema.fieldNames.contains("remove")) {
        // the remove's DV descriptor (when the checkpoint schema
        // carries one — reference Delta checkpoints and ours both
        // do) seeds too: after log cleanup this row is the ONLY
        // thing keeping vacuum off the superseded DV sidecar
        val removeType = ck.schema("remove").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val hasDv = removeType.fieldNames.contains("deletionVector")
        ck.filter(col("remove").isNotNull)
          .select(col("remove.path"), col("remove.deletionTimestamp"),
            (if (hasDv) col("remove.deletionVector")
             else org.apache.spark.sql.functions.lit(null)).as("dv"))
          .collect().foreach { r =>
            Option(r.getString(0)).filter(_.nonEmpty).foreach { p =>
              val ts = if (r.isNullAt(1)) 0L else r.getLong(1)
              val dv = Option(r.get(2)).map {
                case d: org.apache.spark.sql.Row =>
                  DeltaDv.Descriptor(d.getString(0), d.getString(1),
                    if (d.isNullAt(2)) 1L else d.getLong(2),
                    if (d.isNullAt(3)) 0L else d.getLong(3),
                    if (d.isNullAt(4)) 0L else d.getLong(4))
              }
              tomb(p) = (ts, dv)
            }
          }
      }
    }
    val files = withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString)
      .filter(_.getFileName.toString.take(20).toLong <= upTo)
    files.foreach { lf =>
      Files.readString(lf).split('\n').foreach { line =>
        if (line.contains("\"remove\"") || line.contains("\"add\""))
          try {
            val n = om.readTree(line)
            Option(n.get("remove")).foreach { r =>
              Option(r.get("path")).map(_.asText()).filter(_.nonEmpty)
                .foreach { p =>
                  val ts = Option(r.get("deletionTimestamp"))
                    .filter(_.isNumber).map(_.asLong()).getOrElse(0L)
                  def num(d: com.fasterxml.jackson.databind.JsonNode,
                      f: String, dflt: Long): Long =
                    Option(d.get(f)).filter(_.isNumber).map(_.asLong())
                      .getOrElse(dflt)
                  val dv = Option(r.get("deletionVector"))
                    .flatMap(d => for {
                      st <- Option(d.get("storageType")).map(_.asText())
                      pid <- Option(d.get("pathOrInlineDv")).map(_.asText())
                    } yield DeltaDv.Descriptor(st, pid,
                      num(d, "offset", 1L), num(d, "sizeInBytes", 0L),
                      num(d, "cardinality", 0L)))
                  val prev = tomb.get(p)
                  if (prev.forall(_._1 <= ts)) tomb(p) = (ts, dv)
                }
            }
            Option(n.get("add")).foreach { a =>
              Option(a.get("path")).map(_.asText()).foreach(tomb -= _)
            }
          } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    tomb.toMap
  }

  /** setTransaction watermarks of a FOREIGN Delta log at or below
    * `upTo`: appId → (version, lastUpdated). Seeds from the
    * checkpoint's `txn` rows when one exists (after log cleanup the
    * checkpoint is the only carrier — exactly the tombstone rule),
    * then replays the surviving JSON tail; later versions win per
    * appId. This is what makes a foreachBatch sink onto a foreign
    * table exactly-once: the writer stamps its batch id here and a
    * replayed batch sees its own watermark. */
  // log dir → (checkpoint-file fingerprint, its txn rows): a
  // txn-stamped foreachBatch sink probes the watermark EVERY
  // micro-batch, and the checkpoint files are immutable per
  // (size, mtime) — caching turns the per-batch Spark read job into a
  // map hit. Keyed by LOG DIR with the fingerprint stored in the
  // value (stale entries replaced, not accumulated): keying by
  // checkpoint file name made every re-checkpoint of a table mint a
  // new entry and leak the superseded ones for the session's life
  private val ckptTxnCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[FileId], Seq[(String, Long, Option[Long])])]

  private def deltaTxnsForeign(spark: SparkSession, root: String,
      upTo: Long): Map[String, (Long, Option[Long])] = {
    import org.apache.spark.sql.functions.col
    val logDir = Paths.get(root, "_delta_log")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val txns = scala.collection.mutable
      .LinkedHashMap.empty[String, (Long, Option[Long])]
    // resolve LOUDLY (the tombstone seeder's rule): silently seeding
    // empty watermarks from an unreadable checkpoint would replay
    // "exactly-once" micro-batches twice after log cleanup
    parseLastCheckpoint(logDir).filter(_.version <= upTo).foreach { ptr =>
      val files = resolveDeltaCheckpoint(spark, logDir, ptr)
      val fp = files.fingerprint
      val rows = ckptTxnCache.get(logDir.toString) match {
        case Some((cachedFp, cachedRows)) if cachedFp == fp => cachedRows
        case _ =>
          val ck = checkpointActionsDf(spark, files)
          val computed =
            if (!ck.schema.fieldNames.contains("txn"))
              Seq.empty[(String, Long, Option[Long])]
            else ck.filter(col("txn").isNotNull)
              .select(col("txn.appId"), col("txn.version"),
                col("txn.lastUpdated"))
              .collect().toSeq.flatMap { r =>
                Option(r.getString(0)).filter(_ => !r.isNullAt(1)).map(
                  app => (app, r.getLong(1),
                    if (r.isNullAt(2)) None else Some(r.getLong(2))))
              }
          ckptTxnCache.put(logDir.toString, (fp, computed))
          computed
      }
      rows.foreach { case (app, ver, lu) => txns(app) = (ver, lu) }
    }
    withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString)
      .filter(_.getFileName.toString.take(20).toLong <= upTo)
      .foreach { lf =>
        Files.readString(lf).split('\n').foreach { line =>
          if (line.contains("\"txn\""))
            try {
              val n = om.readTree(line)
              Option(n.get("txn")).foreach { t =>
                for {
                  app <- Option(t.get("appId")).map(_.asText())
                  v <- Option(t.get("version")).filter(_.isNumber)
                    .map(_.asLong())
                } txns(app) = (v, Option(t.get("lastUpdated"))
                  .filter(_.isNumber).map(_.asLong()))
              }
            } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    txns.toMap
  }

  /** The last transaction version a foreign Delta log records for
    * `appId` — the read half of the foreign exactly-once contract
    * (see [[appendDeltaForeign]]'s `txn`). */
  def lastTxnDeltaForeign(spark: SparkSession, root: String,
      appId: String): Option[Long] = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    deltaTxnsForeign(spark, root, cur).get(appId).map(_._1)
  }

  /** CHECKPOINT a FOREIGN Delta log at its current version — the
    * metadata-maintenance half every long-lived log needs (without it
    * each reader replays the full JSON history, O(table age) per
    * read): pins the current version, replays checkpoint-seeded, and
    * writes the spec checkpoint parquet (protocol with feature lists,
    * metaData, stats/partitionValues/DV-bearing adds, unexpired remove
    * tombstones) + `_last_checkpoint`, the pointer readers consult
    * first. Returns the checkpointed version; a log whose tail is
    * already fully checkpointed is a no-op. setTransaction (`txn`)
    * watermarks — from the JSON tail AND from any pre-existing
    * checkpoint (reference Delta checkpoints carry txn rows) — ride
    * into the new checkpoint (latest per appId, the spec's rule), so
    * a foreign idempotent writer's exactly-once dedup survives the
    * log cleanup that follows. */
  // Always writes the CLASSIC single-file layout — spec-conforming for
  // every table this writer accepts, including v2Checkpoint-featured
  // ones (the table-features spec permits classic checkpoints
  // alongside the v2 capability; only multi-part is superseded).
  // Readers of all three layouts live in resolveDeltaCheckpoint.
  def checkpointDeltaForeign(spark: SparkSession, root: String): Long = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    if (!Files.exists(logDir.resolve(f"$cur%020d.json")))
      return cur // current == existing checkpoint: nothing to snapshot
    val st = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    writeDeltaCheckpoint(spark, root, cur, st)
    cur
  }

  /** METADATA CLEANUP for a foreign log: delete commit JSONs (and
    * superseded checkpoint parquets, and the cdc files only those
    * JSONs reference) strictly below the `_last_checkpoint` pointer —
    * [[checkpointDeltaForeign]]'s companion, Delta's own log-retention
    * maintenance. Leaves the truncation marker so an unseeded
    * full-JSON replay refuses loudly instead of returning a partial
    * state; checkpoint-seeded reads (what every real reader does) are
    * unaffected. Returns the number of files deleted; a log with no
    * checkpoint is a no-op. */
  def cleanupDeltaLogForeign(root: String): Int = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val pointer = parseLastCheckpoint(logDir)
      .map(_.version).getOrElse(return 0)
    cleanDeltaLog(root, 0L until pointer)
  }

  /** VACUUM a FOREIGN Delta table: delete data files under the table
    * root that are (a) not live in the current state, (b) not a live
    * add's deletion-vector sidecar, (c) not protected by a remove
    * tombstone newer than `retainHours` (a reader time-traveling
    * within the window still resolves them — Delta's tombstone
    * retention), and (d) older than the horizon by modification time
    * (an in-flight writer's uncommitted files survive until they age
    * past it — Delta's own uncommitted-file grace). Hidden files and
    * directories (`_`/`.` prefixes — the log, change data, markers)
    * are never touched. Returns the deleted root-relative paths.
    * The DEFAULT horizon is the table's own
    * `delta.deletedFileRetentionDuration` (else Delta's 168 h);
    * `explicitRetain` overrides it — DELIBERATE DIVERGENCE from
    * reference Delta, which refuses a sub-window retention unless
    * `retentionDurationCheck.enabled=false` is ALSO set: here the
    * explicit `RETAIN n HOURS` clause (or parameter) IS the operator's
    * unsafe-intent signal, one knob instead of two. 0 reclaims
    * everything unreferenced immediately (the test-only setting,
    * exactly as unsafe as Delta's own bypass). */
  def vacuumDeltaForeign(spark: SparkSession, root: String,
      retainHours: Double = 168.0, explicitRetain: Boolean = false)
      : Seq[String] = {
    require(retainHours >= 0, s"retainHours must be >= 0, got $retainHours")
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    // the vacuumProtocolCheck obligation (table-features spec): a
    // VACUUM must run the full protocol gate before deleting anything —
    // an unknown writer feature may reference files outside the
    // add/remove/DV actions this replay parses, and vacuuming past it
    // is silent data loss, the worst failure class this engine has
    requireForeignWriterProtocol(state, root, "vacuum",
      ForeignRowPreservingSafe)
    // the DEFAULT horizon honors the table's own
    // delta.deletedFileRetentionDuration (Delta's vacuum does) — a
    // table declaring a longer window keeps its files that long; an
    // EXPLICIT RETAIN overrides, exactly as unsafe as Delta's own
    // retentionDurationCheck bypass when shorter
    val retainMs =
      if (explicitRetain) (retainHours * 3600.0 * 1000.0).toLong
      else math.max((retainHours * 3600.0 * 1000.0).toLong,
        deltaTombstoneRetentionMs(state.conf))
    val horizon = System.currentTimeMillis() - retainMs
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    val protect = scala.collection.mutable.HashSet.empty[Path]
    state.live.foreach(f => protect += rootPath.resolve(f).normalize())
    state.dvs.values.foreach(d =>
      DeltaDv.filePath(root, d).foreach(p =>
        protect += p.toAbsolutePath.normalize()))
    deltaRemoveTombstones(spark, root, cur).foreach { case (raw, (ts, dv)) =>
      if (ts >= horizon) {
        protect += rootPath.resolve(deltaDecodePath(raw)).normalize()
        dv.foreach(d => DeltaDv.filePath(root, d).foreach(p =>
          protect += p.toAbsolutePath.normalize()))
      }
    }
    val deleted = Seq.newBuilder[String]
    def hidden(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }
    def walk(dir: Path): Unit =
      withDrained(Files.list(dir))(identity).sortBy(_.toString)
        .foreach { p =>
          if (!hidden(p)) {
            if (Files.isDirectory(p)) walk(p)
            else {
              val abs = p.toAbsolutePath.normalize()
              if (!protect.contains(abs) &&
                  Files.getLastModifiedTime(p).toMillis < horizon &&
                  Files.deleteIfExists(p))
                deleted += rootPath.relativize(abs).toString
            }
          }
        }
    walk(rootPath)
    deleted.result()
  }

  /** Read a table THROUGH an exported Delta log only — the graft manifest
    * is deliberately not consulted: replay add/remove actions across the
    * log in version order and scan exactly the surviving files. This is
    * what any foreign Delta reader does with the export, so gating its
    * result against an oracle gates the exported FORMAT's bookkeeping,
    * not the engine's own read path. */
  /** Constructed-read memo for the Delta export faces (optimization
    * round 17, the IcebergMeta.readIceberg twin): building the read
    * DataFrame — log replay to a state, DV wiring, schema derivation,
    * slice construction — is pure driver work repeated identically per
    * call over an UNCHANGED log. The plan is a pure function of (log
    * state, arguments, cbo arm), and the log state is pinned by the
    * fingerprint of the whole `_delta_log` listing (name:size:mtime of
    * every entry — a commit appends a json, a checkpoint rewrites
    * `_last_checkpoint`, log cleanup deletes tails; each changes the
    * fingerprint). Only the ANALYZED PLAN is memoized; every action
    * still scans the parquet. Refusals throw before caching. Shared by
    * the native faces ([[read]], [[changeFeed]]), keyed there on the
    * `_manifest` listing instead. */
  private val readMemo = new Memo[DataFrame]

  private def deltaLogIdentity(root: String): String = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    FileId.listing(logDir)
  }

  def readDeltaExport(spark: SparkSession, root: String,
      useCheckpoint: Boolean = true,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None,
      pruneWhere: Option[String] = None): DataFrame =
    readMemo(spark, s"export@$root@${deltaLogIdentity(root)}" +
        s"@$useCheckpoint@$versionAsOf@$timestampAsOf@$pruneWhere" +
        s"@${spark.conf.get("spark.sql.cbo.enabled", "false")}") {
      readDeltaExportUncached(spark, root, useCheckpoint, versionAsOf,
        timestampAsOf, pruneWhere)
    }

  private def readDeltaExportUncached(spark: SparkSession, root: String,
      useCheckpoint: Boolean,
      versionAsOf: Option[Long],
      timestampAsOf: Option[Long],
      pruneWhere: Option[String]): DataFrame = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root (exportDeltaLog first)")
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val pinnedVersion = timestampAsOf match {
      case None => versionAsOf
      case Some(ts) => Some(deltaExportVersionAt(root, ts).getOrElse(
        throw new IllegalStateException(
          s"no exported log version committed at or before $ts at $root")))
    }
    pinnedVersion.foreach { v =>
      require(Files.exists(logDir.resolve(f"$v%020d.json")),
        s"no exported log version $v at $root")
    }
    // the full-JSON replay starts at version 0 by definition: a log
    // truncated below its checkpoint (vacuum maintenance) can only be
    // replayed checkpoint-seeded — refuse, never return a partial state
    if (!useCheckpoint)
      require(Files.exists(logDir.resolve(f"${0L}%020d.json")),
        s"log at $root is truncated below its checkpoint; full-JSON " +
          "replay is unavailable (read with useCheckpoint = true)")
    val state = deltaStateAt(spark, root, pinnedVersion, useCheckpoint)
    val keep = pruneWhere match {
      case Some(e) => pruneDeltaFiles(spark, state, e)
      case None => state.live
    }
    val keepSet = keep.toSet
    val out = readDeltaSlice(spark, root, state, keep,
      state.dvs.filter(kv => keepSet.contains(kv._1)))
    // residual row filter: skipping is inclusive (files with missing or
    // un-typeable stats are kept), so the predicate still applies
    val res = pruneWhere.map(out.filter).getOrElse(out)
    // CBO rowCount from the adds' stats already in hand (zero data IO;
    // physical rows — the DV anti-join sits above the scan). Computed
    // only when CBO is armed: the default path pays no per-file parse.
    if (!spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean) res
    else {
      val counts = keep.map(f => state.stats.get(f).flatMap(statsNumRecords))
      // a single stats-less add un-arms the whole count — a partial
      // sum would be WRONG, the one thing a statistic must never be
      if (counts.exists(_.isEmpty)) res
      else TableStatistics.attachForeignRowCount(spark, res, root,
        counts.flatten.sum)
    }
  }

  private lazy val statsNumRecordsMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** The add action's stats `numRecords`, parsed as real JSON — ONE
    * body for every consumer (the CBO rowCount attach, delta_files);
    * None on absent/non-numeric/malformed, never a throw. */
  private def statsNumRecords(statsJson: String): Option[Long] =
    try Option(statsNumRecordsMapper.readTree(statsJson).get("numRecords"))
      .filter(_.isNumber).map(_.asLong())
    catch { case scala.util.control.NonFatal(_) => None }

  /** APPEND-ONLY COMMIT to a FOREIGN Delta table — a `_delta_log` this
    * engine did not write (no graft manifest): the minimal writer
    * protocol every Delta implementation shares. Pins the CURRENT
    * version (max of the JSON tail and the checkpoint — a log cleaned
    * below its checkpoint must not commit "version 0"), replays and
    * validates THAT state — a metaData schema matching `df` by name,
    * type, and nullability, no column invariants or CHECK constraints
    * (their write-side obligations need evaluation this writer does
    * not do), and no writer feature outside the append-compatible set.
    * COLUMN-MAPPED tables (name or id mode) append with the data
    * lowered to PHYSICAL names + parquet field ids — stats keys,
    * partitionValues keys, and id-mode resolution all live in physical
    * space per the spec. PARTITIONED tables lay the rows out under
    * the table's own hive partitioning with spec-form partitionValues
    * per add (what a table whose partitioning is UNKNOWABLE — a
    * checkpoint omitting partitionColumns while its adds carry values —
    * refuses instead). Writes the rows as parquet under `root/data`,
    * and commits pinned-version+1
    * via the spec's optimistic concurrency: the version file is
    * created atomically, so ANY commit landing after the pin (even
    * one that would have changed the validation's answer) fails the
    * CAS with ConcurrentModificationException, leaving only
    * unreferenced data files (Delta's own uncommitted-file story —
    * vacuum reclaims them). Every refusal is loud: a best-effort
    * append to a table whose invariants it cannot honor would corrupt
    * it for EVERY reader. Returns the committed version.
    *
    * `txn` makes the append IDEMPOTENT under `txnApp` — Delta's
    * setTransaction protocol, the exactly-once contract a foreachBatch
    * streaming sink needs: when the log (JSON tail or checkpoint `txn`
    * rows) already records a watermark >= `txn` for `txnApp`, the
    * append is a detected replay and returns the current version
    * WITHOUT writing; otherwise the commit carries a
    * `{"txn":{appId,version,lastUpdated}}` action, and the CAS
    * guarantees a racing duplicate of the same batch loses. */
  def appendDeltaForeign(spark: SparkSession, root: String,
      df: DataFrame, txn: Option[Long] = None,
      txnApp: String = DefaultTxnApp): Long = {
    import org.apache.spark.sql.functions.col
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    // idempotence check BEFORE any work: a replayed micro-batch costs
    // one metadata read, not a data write it then throws away
    txn.foreach { t =>
      require(txnApp.matches("[A-Za-z0-9_.-]+"),
        s"txn app id must be [A-Za-z0-9_.-]+ (it is embedded in log " +
          s"JSON): $txnApp")
      if (deltaTxnsForeign(spark, root, cur).get(txnApp).exists(_._1 >= t))
        return cur // already committed by this writer: replay detected
    }
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalStateException(
        s"append requires a log with a metaData schemaString at $root"))
    // PARTITIONED tables append too: the rows are laid out under the
    // table's own hive partitioning and each add carries its decoded
    // partitionValues. What we CANNOT do is append to a table whose
    // partitioning is unknowable — a checkpoint written without
    // metaData.partitionColumns whose adds nevertheless carry
    // partitionValues proves partitioning without naming the columns.
    require(state.partitionCols.nonEmpty ||
        state.partVals.values.forall(_.isEmpty),
      s"live add actions at $root carry partitionValues but the " +
        "metaData's partitionColumns are unknown (a checkpoint omitted " +
        "them); appending blind would mis-lay the rows — refusing")
    val partCols = state.partitionCols
    val mapping = state.conf.getOrElse("delta.columnMapping.mode", "none")
    validateMappedWrite(root, struct, mapping, "append")
    require(!state.conf.keys.exists(_.startsWith("delta.constraints.")),
      "append to a table with CHECK constraints is not supported " +
        "(this writer does not evaluate them)")
    require(!struct.fields.exists(
        _.metadata.contains("delta.invariants")),
      "append to a table with column invariants is not supported")
    // GENERATED and IDENTITY columns oblige the writer to compute
    // values — refuse when any field actually declares one (legacy
    // writer versions 4/6 only IMPLY the capability; the metadata says
    // whether this table uses it)
    require(!struct.fields.exists(
        _.metadata.contains("delta.generationExpression")),
      "append to a table with generated columns is not supported " +
        "(this writer does not evaluate generation expressions)")
    require(!struct.fields.exists(f => f.metadata.contains(
        "delta.identity.start") || f.metadata.contains(
        "delta.identity.allowExplicitInsert")),
      "append to a table with identity columns is not supported " +
        "(this writer does not allocate identity values)")
    // legacy versions 3-6 imply constraints / generated+CDF /
    // columnMapping / identity — each verified ABOVE against what the
    // table actually declares, so the implied capability alone is
    // append-safe
    requireForeignWriterProtocol(state, root, "append",
      ForeignSafeFeaturesBase)
    // schema: exactly the table's columns, by (case-insensitive) name
    // and exact type — a silent cast would change values under readers.
    // NULLABILITY is part of the contract: appending a nullable column
    // into a nullable=false field would violate the NOT NULL writer
    // obligation for every reader that trusts it.
    val byName = struct.fields
      .map(f => f.name.toLowerCase -> f).toMap
    val dfByName = df.schema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    require(dfByName.keySet == byName.keySet &&
        byName.forall { case (n, f) =>
          dfByName(n).dataType == f.dataType &&
            (f.nullable || !dfByName(n).nullable) },
      s"append schema ${df.schema.simpleString} does not match the " +
        s"table schema ${struct.simpleString} at $root " +
        "(names, types, and nullability must all be compatible)")
    // partition columns must actually be schema columns (a foreign
    // metaData naming a ghost column cannot be laid out)
    val partMissing = partCols.filterNot(c =>
      struct.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(partMissing.isEmpty,
      s"partitionColumns ${partMissing.mkString(", ")} at $root are " +
        "not in the table schema")
    val aligned = df.select(struct.fields.map(f => bq(f.name)).toSeq: _*)
    val (physicalDf, physPartCols) =
      lowerForWrite(spark, struct, mapping, aligned, partCols)
    val rels = writeFilesRaw(physicalDf, root, physPartCols)
    val ts = System.currentTimeMillis()
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"timestamp":$ts,"operation":"WRITE","operationParameters":{"mode":"Append"}}}""")
      .append('\n')
    txn.foreach(t => sb.append(
      s"""{"txn":{"appId":"$txnApp","version":$t,"lastUpdated":$ts}}""")
      .append('\n'))
    rels.foreach(f => sb.append(addActionJson(root, f)).append('\n'))
    casCommitDeltaLog(root, logDir, cur, sb.toString, "append")
  }

  /** ALTER TABLE ADD COLUMNS on a FOREIGN Delta log — the most common
    * schema evolution, committed as Delta commits it: ONE version
    * carrying a fresh metaData action with the widened schemaString
    * (table id, partitionColumns, and configuration preserved — a new
    * id would read as a table replace), no data rewritten; readers
    * null-fill the new columns from old files. New columns must be
    * NULLABLE (existing rows have no value — a required column would
    * instantly violate every reader's trust) and must not collide
    * with existing names case-insensitively. Under an ACTIVE column
    * mapping each new field takes a fresh physicalName ("col-<uuid>",
    * Delta's own convention) and id above maxColumnId, which the
    * configuration advances — the spec's invariant that every field
    * carries them. Refuses writer features outside the safe set (an
    * unknown feature may constrain metadata this writer cannot
    * honor). Returns the committed version. */
  def addColumnsDeltaForeign(spark: SparkSession, root: String,
      colsDdl: String): Long = {
    import org.apache.spark.sql.types._
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalStateException(
        s"add columns requires a log with a metaData schemaString at $root"))
    val add = StructType.fromDDL(colsDdl)
    require(add.nonEmpty, s"ADD COLUMNS: no columns in '$colsDdl'")
    require(add.forall(_.nullable),
      s"ADD COLUMNS on a foreign table requires NULLABLE columns " +
        s"(existing rows carry no value); got '$colsDdl'")
    val existing = struct.fieldNames.map(_.toLowerCase).toSet
    add.foreach(f => require(!existing.contains(f.name.toLowerCase),
      s"column already exists at $root: ${f.name}"))
    require(add.map(_.name.toLowerCase).distinct.size == add.size,
      s"duplicate column name in '$colsDdl'")
    requireForeignWriterProtocol(state, root, "metadata",
      ForeignRowPreservingSafe)
    val mapping = state.conf.getOrElse("delta.columnMapping.mode", "none")
    val (annotated, newConf) =
      if (mapping == "none") (add.fields.toSeq, state.conf)
      else {
        require(mapping == "name" || mapping == "id",
          s"add columns under column mapping mode '$mapping' is not " +
            "supported")
        val fieldMax = struct.fields.flatMap(f =>
          if (f.metadata.contains("delta.columnMapping.id"))
            Some(f.metadata.getLong("delta.columnMapping.id"))
          else None).maxOption.getOrElse(0L)
        val confMax = state.conf.get("delta.columnMapping.maxColumnId")
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        val base = math.max(fieldMax, confMax)
        val fs = add.fields.toSeq.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("delta.columnMapping.physicalName",
              "col-" + java.util.UUID.randomUUID())
            .putLong("delta.columnMapping.id", base + i + 1)
            .build())
        }
        (fs, state.conf +
          ("delta.columnMapping.maxColumnId" -> (base + add.size).toString))
      }
    val newStruct = StructType(struct.fields.toSeq ++ annotated)
    val (idOpt, name, desc, createdTime) = deltaMetaDataExtrasOf(spark, root)
    val id = idOpt.getOrElse(
      "graft-" + graft.plans.TextExpressions.md5Hex(root).take(12))
    val ts = System.currentTimeMillis()
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"timestamp":$ts,"operation":"ADD COLUMNS","operationParameters":{"columns":"${escJson(colsDdl)}"}}}""")
      .append('\n')
    sb.append(metaDataActionJson(id, name, desc, createdTime,
      newStruct.json, state.partitionCols, newConf))
      .append('\n')
    casCommitDeltaLog(root, logDir, cur, sb.toString, "add columns")
  }

  /** delta.* property keys a metadata-only foreign commit can set
    * without taking on obligations it cannot honor. Everything
    * NON-delta.* is user metadata and always legal; other delta.*
    * keys refuse loudly: a columnMapping mode change obliges a
    * physical-name/id assignment rewrite, raw delta.constraints.*
    * skips the existing-row validation ADD CONSTRAINT performs, row
    * tracking / deletion-vector enablement change what every
    * subsequent writer must produce. */
  private val ForeignSettableDeltaProps: Map[String, String] = Seq(
    "delta.appendOnly", "delta.enableChangeDataFeed",
    "delta.deletedFileRetentionDuration", "delta.logRetentionDuration",
    "delta.checkpointInterval", "delta.dataSkippingNumIndexedCols")
    .map(k => k.toLowerCase -> k).toMap

  /** Canonicalize a property key for storage and comparison: delta.*
    * keys normalize to their canonical spelling (every enforcement
    * site — the delete/merge/restore appendOnly guards, the CDF
    * obligation checks, the retention parse — reads the exact
    * canonical key, so committing a case-variant would create a
    * property this engine never enforces); user keys stay verbatim
    * (non-delta keys are case-sensitive in Delta — normalizing them
    * would destroy case-distinct user metadata). */
  private def canonDeltaPropKey(k: String): String =
    if (k.toLowerCase.startsWith("delta."))
      ForeignSettableDeltaProps.getOrElse(k.toLowerCase, k)
    else k

  /** SET / UNSET TBLPROPERTIES on a FOREIGN Delta table — the ALTER
    * verb operational ownership needs (turn on the change feed, make a
    * table append-only, widen its retention) without rewriting a byte
    * of data: ONE metaData action with the updated configuration
    * (schema, partitioning, and table identity preserved — the ADD
    * COLUMNS discipline). PROTOCOL OBLIGATIONS travel in the SAME
    * commit, per the spec: enabling the change feed on a legacy
    * protocol bumps minWriterVersion to 4 (or adds the changeDataFeed
    * writer feature on v7 tables) so every conforming foreign writer
    * is OBLIGED to record change data from this version on — setting
    * the property without the protocol would let a minWriter-2 writer
    * legally commit removes with no cdc, silently corrupting the feed.
    * Unknown delta.* keys refuse (see [[ForeignSettableDeltaProps]]);
    * user properties pass through. Returns the committed version. */
  def setPropertiesDeltaForeign(spark: SparkSession, root: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    require(set.nonEmpty || unset.nonEmpty, "nothing to set or unset")
    (set.keys ++ unset).foreach { k =>
      require(!k.toLowerCase.startsWith("delta.") ||
          ForeignSettableDeltaProps.contains(k.toLowerCase),
        s"property '$k' imposes writer obligations this metadata-only " +
          s"commit cannot take on at $root; refusing (settable delta.* " +
          s"keys: ${ForeignSettableDeltaProps.values.toSeq.sorted.mkString(", ")})")
    }
    // keys canonicalize BEFORE any comparison or storage (delta.* to
    // the exact spelling the enforcement sites read; user keys
    // verbatim), and BOOLEAN delta.* values normalize to the exact
    // "true"/"false" those sites compare — a committed "TRUE" would
    // enable the property for conforming readers while this engine's
    // own writers keep treating it as off, the silent-corruption
    // class this function exists to prevent
    val boolKeys = Set("delta.appendOnly", "delta.enableChangeDataFeed")
    val setCanon: Map[String, String] = set.map { case (k, v) =>
      val ck = canonDeltaPropKey(k)
      val cv =
        if (!boolKeys(ck)) v
        else {
          require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
            s"$ck must be 'true' or 'false', got '$v'")
          v.toLowerCase
        }
      ck -> cv
    }
    require(setCanon.size == set.size,
      s"duplicate property key (after delta.* canonicalization) in " +
        s"${set.keys.mkString(", ")}")
    // durations must parse AT DECLARATION (reference Delta refuses
    // calendar units here too): committing an unparseable window and
    // refusing only at checkpoint/vacuum time would wedge maintenance
    setCanon.get("delta.deletedFileRetentionDuration").foreach { v =>
      require(deltaIntervalMs(v).isDefined,
        s"cannot parse delta.deletedFileRetentionDuration '$v' " +
          "(weeks/days/hours/minutes/seconds only; calendar " +
          "months/years are rejected, as reference Delta does)")
    }
    val unsetCanon = unset.map(canonDeltaPropKey).toSet
    require(setCanon.keySet.intersect(unsetCanon).isEmpty,
      "a key cannot be both SET and UNSET in one statement")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    require(state.schemaJson.isDefined,
      s"set properties requires a log with a metaData schemaString at $root")
    // the blind-partitioning guard every metaData-committing writer
    // carries: a checkpoint that omitted partitionColumns while adds
    // carry partitionValues means re-committing state.partitionCols
    // (Nil) would permanently rewrite a partitioned table as
    // unpartitioned — refuse, exactly like delete/update/merge
    require(state.partitionCols.nonEmpty ||
        state.partVals.values.forall(_.isEmpty),
      s"live add actions at $root carry partitionValues but the " +
        "metaData's partitionColumns are unknown (a checkpoint omitted " +
        "them); re-committing the metadata blind would erase the " +
        "partitioning — refusing")
    requireForeignWriterProtocol(state, root, "metadata",
      ForeignRowPreservingSafe)
    // existing variants of a set/unset delta.* key drop too (a conf
    // carrying 'delta.appendonly' beside the canonical key would leave
    // a stale enforcement-invisible twin behind)
    val doomed = unsetCanon ++ setCanon.keySet
    val newConf = state.conf
      .filterNot { case (k, _) => doomed(canonDeltaPropKey(k)) } ++ setCanon
    if (newConf == state.conf) return cur // no-op, no commit
    // protocol upgrade when CDF turns on (the spec's obligation)
    val cdfOn = setCanon.get("delta.enableChangeDataFeed").contains("true")
    val (minR, minW) = state.protocol
    val protocolLine: Option[String] =
      if (!cdfOn) None
      else if (minW >= 7) {
        if (state.writerFeatures.contains("changeDataFeed")) None
        else Some(s"""{"protocol":{"minReaderVersion":$minR,"minWriterVersion":7""" +
          (if (state.readerFeatures.nonEmpty)
            s""","readerFeatures":${state.readerFeatures
              .map(f => s""""$f"""").mkString("[", ",", "]")}"""
          else "") +
          s""","writerFeatures":${(state.writerFeatures :+ "changeDataFeed")
            .map(f => s""""$f"""").mkString("[", ",", "]")}}}""")
      } else if (minW >= 4) None
      else Some(s"""{"protocol":{"minReaderVersion":$minR,"minWriterVersion":4}}""")
    val (idOpt, name, desc, createdTime) = deltaMetaDataExtrasOf(spark, root)
    val id = idOpt.getOrElse(
      "graft-" + graft.plans.TextExpressions.md5Hex(root).take(12))
    val ts = System.currentTimeMillis()
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"timestamp":$ts,"operation":"SET TBLPROPERTIES","operationParameters":{}}}""")
      .append('\n')
    protocolLine.foreach(p => sb.append(p).append('\n'))
    sb.append(metaDataActionJson(id, name, desc, createdTime,
      state.schemaJson.get, state.partitionCols, newConf))
      .append('\n')
    casCommitDeltaLog(root, logDir, cur, sb.toString, "set properties")
  }

  /** The spec's writer-version/feature refusal skeleton every foreign
    * Delta writer runs: legacy versions 1–6 pass (their implied
    * capabilities are verified per-op against what the table actually
    * declares), v7 feature lists must stay inside `safe` — what the op
    * proves harmless by construction — and readers above 3 refuse.
    * ONE body, so vetting a new feature for one writer cannot silently
    * skip the others. */
  private def requireForeignWriterProtocol(state: DeltaReplayState,
      root: String, what: String, safe: Set[String]): Unit = {
    val (minR, minW) = state.protocol
    if (minW >= 7) {
      val extra = state.writerFeatures.filterNot(safe)
      require(extra.isEmpty,
        s"writer feature(s) ${extra.mkString(", ")} at $root impose " +
          s"obligations this $what writer cannot verify; refusing")
    } else require(minW >= 1 && minW <= 6,
      s"writer version $minW not supported")
    require(minR <= 3, s"reader version $minR not supported")
  }

  /** The features an APPEND's obligations cover; rewrites add
    * allowColumnDefaults, row-preserving ops add the constraint
    * family (each op's call site says which). */
  private val ForeignSafeFeaturesBase: Set[String] =
    Set("appendOnly", "invariants", "deletionVectors", "changeDataFeed",
      "timestampNtz", "v2Checkpoint", "columnMapping",
      // obliges only VACUUM (which runs this very gate); a table
      // declaring it must not refuse ordinary writes
      "vacuumProtocolCheck")
  private val ForeignRowPreservingSafe: Set[String] =
    ForeignSafeFeaturesBase ++ Set("allowColumnDefaults",
      "checkConstraints", "generatedColumns", "identityColumns")

  /** Identity fields of the log's LAST metaData action (JSON tail
    * first, newest wins; the checkpoint's metaData row as the id-only
    * fallback once the tail is cleaned): (id, name, description,
    * createdTime). A metadata commit must PRESERVE them — a fresh id
    * reads as a table replace, and real Delta writers always record
    * createdTime (dropping name/description from a commit that claims
    * to preserve table identity loses user metadata). */
  private def deltaMetaDataExtrasOf(spark: SparkSession, root: String)
      : (Option[String], Option[String], Option[String], Option[Long]) = {
    val logDir = Paths.get(root, "_delta_log")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val fromTail = withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString).reverse.iterator
      .flatMap { lf =>
        Files.readString(lf).split('\n').reverseIterator
          .filter(_.contains("\"metaData\""))
          .flatMap { line =>
            try Option(om.readTree(line).get("metaData")).map { m =>
              (Option(m.get("id")).map(_.asText()),
                Option(m.get("name")).filter(_.isTextual).map(_.asText()),
                Option(m.get("description")).filter(_.isTextual)
                  .map(_.asText()),
                Option(m.get("createdTime")).filter(_.isNumber)
                  .map(_.asLong()))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
      }.take(1).toSeq.headOption
    fromTail.getOrElse {
      import org.apache.spark.sql.functions.col
      val id = parseLastCheckpoint(logDir).flatMap { ptr =>
        val ck = checkpointActionsDf(spark,
          resolveDeltaCheckpoint(spark, logDir, ptr))
        if (!ck.schema.fieldNames.contains("metaData")) None
        else ck.filter(col("metaData").isNotNull).select("metaData.id")
          .collect().headOption.flatMap(r => Option(r.getString(0)))
      }
      (id, None, None, None)
    }
  }

  /** ONE metaData action line for the foreign metadata writers (ADD
    * COLUMNS, RESTORE) — identity fields carried through, optional
    * ones emitted only when present. */
  private def metaDataActionJson(id: String, name: Option[String],
      description: Option[String], createdTime: Option[Long],
      schemaJson: String, partCols: Seq[String],
      conf: Map[String, String]): String = {
    val confJson = conf.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${escJson(k)}":"${escJson(v)}"""" }.mkString("{", ",", "}")
    val parts = partCols
      .map(c => s""""${escJson(c)}"""").mkString("[", ",", "]")
    val nameF = name.fold("")(n => s""""name":"${escJson(n)}",""")
    val descF = description.fold("")(d =>
      s""""description":"${escJson(d)}",""")
    val ctF = createdTime.fold("")(t => s""","createdTime":$t""")
    s"""{"metaData":{"id":"${escJson(id)}",$nameF$descF"format":{"provider":"parquet","options":{}},"schemaString":"${escJson(schemaJson)}","partitionColumns":$parts,"configuration":$confJson$ctF}}"""
  }

  /** PIN the version a foreign write validates: the commit goes to
    * cur + 1, so a commit landing between this listing and the CAS
    * fails createLink loudly instead of being silently built upon
    * un-revalidated. `cur` must also see the CHECKPOINT version — a
    * log whose JSON tail was cleaned below its checkpoint would
    * otherwise commit "version 0", invisible to every checkpoint-
    * seeded reader and corrupting any later full-JSON replay. */
  private def pinForeignDeltaVersion(root: String, logDir: Path): Long = {
    val ckVer = parseLastCheckpoint(logDir).map(_.version)
    (deltaLogVersions(root) ++ ckVer).maxOption.getOrElse(
      throw new IllegalStateException(
        s"empty _delta_log at $root — nothing to commit to"))
  }

  /** COPY-ON-WRITE DELETE from a FOREIGN Delta table — rows matching
    * `predicate` leave the table by REWRITING only the files that hold
    * them: candidate files come from the same inclusive data skipping
    * the read path plans with (partitionValues + stats), an exact
    * row-level pass narrows them to the files with ≥1 matching row
    * (a driver sync bounded by live-file count, the planning shape),
    * each such file's KEPT rows (existing deletion vectors applied —
    * a DV'd row must not resurrect through the rewrite) are rewritten
    * under the table's own hive partitioning (column-mapped tables
    * lower to physical names + field ids, the append's machinery),
    * and ONE version commits remove+add actions via the createLink
    * CAS. Rows where the predicate is NULL are KEPT (SQL DELETE
    * semantics). Returns the committed version — or the pinned current
    * version, uncommitted, when no row matches (Delta's own no-op
    * DELETE shape).
    *
    * A CDF-recording table (`delta.enableChangeDataFeed`) gets REAL
    * cdc actions — the deleted rows as `_change_data` parquet with
    * `_change_type` 'delete', laid out under the table's partitioning
    * — because a conforming writer must commit the change set for a
    * rewrite-delete (readers would otherwise mis-derive the rewrite as
    * inserts+deletes of unchanged rows).
    *
    * Refusals — loud, never a corrupting best-effort: an append-only
    * table (`delta.appendOnly`); CDF under column mapping (change
    * files follow the data files' physical-space rules this writer
    * lays out logically); unknowable partitioning; writer features
    * outside the safe set. CHECK constraints, invariants, and
    * generated/identity columns are delete-safe by construction —
    * kept rows are a verbatim subset — so unlike the append they do
    * not refuse. */
  def deleteDeltaForeign(spark: SparkSession, root: String,
      predicate: String): Long = {
    import org.apache.spark.sql.functions.{lit, not}
    foreignCowRewrite(spark, root, predicate, what = "delete",
      opJson = s""""operation":"DELETE","operationParameters":{"predicate":"${escJson(predicate)}"}""",
      // the features whose obligations a row-SUBSET rewrite satisfies
      // by construction (CHECK constraints, generated and identity
      // columns — kept rows are verbatim): the same table properties
      // that refuse nothing under the legacy (minW <= 6 + conf)
      // encoding must not refuse under v7 features
      extraSafeFeatures =
        Set("checkConstraints", "generatedColumns", "identityColumns"),
      validate = (_, _) => (),
      rewriteRows = (slice, rowPred, _) => slice.filter(not(rowPred)),
      // the change set IS the deleted rows (kept rows did not
      // logically change)
      changeRows = (slice, rowPred, _) => slice.filter(rowPred)
        .withColumn("_change_type", lit("delete")))
  }

  /** COPY-ON-WRITE UPDATE of a FOREIGN Delta table — rows matching
    * `predicate` take the SET `assignments` (logical column name →
    * SQL expression over the row's OLD values); everything else about
    * the rewrite is [[deleteDeltaForeign]]'s machinery: inclusive
    * planning → exact matched-file pass → full-file rewrite with
    * existing deletion vectors applied → one CAS'd version of
    * remove+add actions, cdc actions (update_preimage/update_postimage
    * pairs) on CDF tables. Assignment expressions must resolve to the
    * column's EXACT type (a silent cast would change values under
    * every reader); a NULL produced for a non-nullable column fails
    * the rewrite at run time, before anything commits. UNLIKE the
    * delete, updated rows are not a verbatim subset — CHECK
    * constraints, column invariants, and generated columns impose
    * obligations this writer cannot evaluate, so tables declaring them
    * refuse; assigning an identity column refuses. Returns the
    * committed version, or the pinned current version when no row
    * matches. */
  def updateDeltaForeign(spark: SparkSession, root: String,
      predicate: String, assignments: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, raise_error, when}
    require(assignments.nonEmpty, "update requires at least one SET")
    val asgn = assignments.map { case (k, v) => k.toLowerCase -> v }
    require(asgn.size == assignments.size,
      s"duplicate SET column (case-insensitive) in ${assignments.keys}")
    foreignCowRewrite(spark, root, predicate, what = "update",
      opJson = s""""operation":"UPDATE","operationParameters":{"predicate":"${escJson(predicate)}"}""",
      extraSafeFeatures = Set("identityColumns"),
      validate = (state, struct) => {
        val byName = struct.fields.map(f => f.name.toLowerCase -> f).toMap
        val ghost = asgn.keySet.filterNot(byName.contains)
        require(ghost.isEmpty,
          s"SET column(s) ${ghost.toSeq.sorted.mkString(", ")} are not " +
            s"in the table schema at $root")
        require(!state.conf.keys.exists(_.startsWith("delta.constraints.")),
          "update of a table with CHECK constraints is not supported " +
            "(this writer does not evaluate them)")
        require(!struct.fields.exists(
            _.metadata.contains("delta.invariants")),
          "update of a table with column invariants is not supported")
        require(!struct.fields.exists(
            _.metadata.contains("delta.generationExpression")),
          "update of a table with generated columns is not supported " +
            "(this writer does not recompute generation expressions)")
        val idCols = struct.fields.filter(f =>
          f.metadata.contains("delta.identity.start") ||
            f.metadata.contains("delta.identity.allowExplicitInsert"))
          .map(_.name.toLowerCase).toSet
        val idHit = asgn.keySet.intersect(idCols)
        require(idHit.isEmpty,
          s"SET on identity column(s) ${idHit.toSeq.sorted.mkString(", ")} " +
            s"at $root is not supported")
      },
      rewriteRows = (slice, rowPred, struct) => {
        // resolve each assignment against the OLD row and require the
        // EXACT column type — then rewrite every row of the file,
        // matching rows transformed, others verbatim
        val byName = struct.fields.map(f => f.name.toLowerCase -> f).toMap
        asgn.foreach { case (c, e) =>
          val got = slice.select(expr(e)).schema.head.dataType
          require(got == byName(c).dataType,
            s"SET $c = $e resolves to ${got.simpleString}, not the " +
              s"column's ${byName(c).dataType.simpleString}; cast " +
              "explicitly in the expression")
        }
        slice.select(struct.fields.map { f =>
          asgn.get(f.name.toLowerCase) match {
            case None => bq(f.name)
            case Some(e) =>
              val newVal = when(rowPred, expr(e)).otherwise(bq(f.name))
              val guarded =
                if (f.nullable) newVal
                else coalesce(newVal, raise_error(lit(
                  s"update would write NULL into non-nullable " +
                    s"column ${f.name}")))
              guarded.as(f.name)
          }
        }.toSeq: _*)
      },
      changeRows = (slice, rowPred, struct) => {
        val matched = slice.filter(rowPred)
        val pre = matched.withColumn("_change_type",
          lit("update_preimage"))
        val post = matched.select(struct.fields.map { f =>
          asgn.get(f.name.toLowerCase)
            .fold(bq(f.name))(e => expr(e).as(f.name))
        }.toSeq: _*).withColumn("_change_type", lit("update_postimage"))
        pre.unionByName(post)
      })
  }

  /** MERGE into a FOREIGN Delta table — the CDC-apply upsert,
    * completing row-level DML on the foreign face beside
    * [[appendDeltaForeign]] / [[deleteDeltaForeign]] /
    * [[updateDeltaForeign]]. `updates` rows REPLACE the target rows
    * sharing their `keys` values (null-SAFE match — a NULL key in the
    * source replaces the existing NULL-key row, or repeated merges
    * duplicate it forever) and rows matching nothing INSERT;
    * `deleteKeys` rows REMOVE their targets (a key in both sets takes
    * the update — its post-image IS the net state, [[mergeApply]]'s
    * convention). UPSERT semantics, matching the native [[merge]]:
    * every target row with a matched key collapses to the ONE source
    * row (the source must therefore be key-unique — duplicate source
    * keys refuse loudly; Delta's own MERGE errors on multiple
    * matches).
    *
    * COPY-ON-WRITE, file-pruned: candidate files come from the source
    * keys' [min, max] bounds pushed through the SAME inclusive
    * planning as the read path ([[MetricsPruning.keyBoundsPredicate]]
    * — at 100 TB a merge touching one day's keys plans that day's
    * files, not the table), an exact row pass narrows to files with
    * ≥1 matched row (a driver sync bounded by live-FILE count), kept
    * rows are rewritten with existing deletion vectors applied, and
    * ONE version commits cdc + remove + add actions via the
    * createLink CAS. A source matching NOTHING commits adds only (an
    * insert-only merge); an empty source is a no-op returning the
    * pinned version, uncommitted.
    *
    * CDF tables get the REAL change classification Delta's MERGE
    * records: update_preimage/update_postimage for matched update
    * keys, delete for matched delete-only keys, insert for unmatched
    * update rows. Refusals are the UNION of the append's and the
    * update's batteries — inserts need what the append refuses
    * (CHECK constraints, invariants, generated/identity columns),
    * mutations need the update's (appendOnly, unknowable
    * partitioning, CDF under column mapping, unsafe writer
    * features). */
  def mergeDeltaForeign(spark: SparkSession, root: String,
      updates: DataFrame, keys: Seq[String],
      deleteKeys: Option[DataFrame] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keys.nonEmpty, "merge requires at least one key column")
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalStateException(
        s"merge requires a log with a metaData schemaString at $root"))
    require(state.conf.getOrElse("delta.appendOnly", "false") != "true",
      s"the table at $root is append-only (delta.appendOnly=true); " +
        "refusing the merge")
    require(state.partitionCols.nonEmpty ||
        state.partVals.values.forall(_.isEmpty),
      s"live add actions at $root carry partitionValues but the " +
        "metaData's partitionColumns are unknown (a checkpoint omitted " +
        "them); rewriting blind would mis-lay the rows — refusing")
    val mapping = state.conf.getOrElse("delta.columnMapping.mode", "none")
    validateMappedWrite(root, struct, mapping, "merge")
    val cdfOn = state.conf.get("delta.enableChangeDataFeed")
      .contains("true")
    require(!cdfOn || mapping == "none",
      s"merge on a CDF-recording table under column mapping mode " +
        s"'$mapping' at $root is not supported")
    // inserts impose the append's obligations, mutations the update's:
    // the battery is the union
    require(!state.conf.keys.exists(_.startsWith("delta.constraints.")),
      "merge into a table with CHECK constraints is not supported " +
        "(this writer does not evaluate them)")
    require(!struct.fields.exists(_.metadata.contains("delta.invariants")),
      "merge into a table with column invariants is not supported")
    require(!struct.fields.exists(
        _.metadata.contains("delta.generationExpression")),
      "merge into a table with generated columns is not supported " +
        "(this writer does not evaluate generation expressions)")
    require(!struct.fields.exists(f => f.metadata.contains(
        "delta.identity.start") || f.metadata.contains(
        "delta.identity.allowExplicitInsert")),
      "merge into a table with identity columns is not supported " +
        "(this writer does not allocate identity values)")
    requireForeignWriterProtocol(state, root, "merge",
      ForeignSafeFeaturesBase + "allowColumnDefaults")
    // updates carry full rows: the append's exact schema contract
    val byName = struct.fields.map(f => f.name.toLowerCase -> f).toMap
    val updByName = updates.schema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    require(updByName.keySet == byName.keySet &&
        byName.forall { case (n, f) =>
          updByName(n).dataType == f.dataType &&
            (f.nullable || !updByName(n).nullable) },
      s"merge source schema ${updates.schema.simpleString} does not " +
        s"match the table schema ${struct.simpleString} at $root " +
        "(names, types, and nullability must all be compatible)")
    val ghostKeys = keys.filterNot(k => byName.contains(k.toLowerCase))
    require(ghostKeys.isEmpty,
      s"merge key(s) ${ghostKeys.mkString(", ")} are not in the table " +
        s"schema at $root")
    deleteKeys.foreach { dk =>
      val dkByName = dk.schema.fields.map(f => f.name.toLowerCase -> f).toMap
      val bad = keys.filterNot(k => dkByName.get(k.toLowerCase)
        .exists(_.dataType == byName(k.toLowerCase).dataType))
      require(bad.isEmpty,
        s"deleteKeys must carry key column(s) ${bad.mkString(", ")} " +
          s"with the table's exact types at $root")
    }
    def keyFrame(df: DataFrame) =
      df.select(keys.map(k => bq(k).as(s"__k_$k")): _*)
    val updKeys = keyFrame(updates)
    val delKeys = deleteKeys.map(keyFrame)
    val allKeys = delKeys.fold(updKeys)(updKeys.union).distinct()
    // the source must be key-unique (upsert semantics collapse every
    // matched target row to the ONE source image; two source rows for
    // one key would be order-dependent — Delta's own MERGE errors)
    require(updKeys.groupBy(keys.map(k => col(s"__k_$k")): _*)
        .count().filter(col("count") > 1).isEmpty,
      s"merge source has duplicate key rows on (${keys.mkString(", ")})" +
        s" at $root; Delta MERGE semantics require a key-unique source")
    // candidate planning from the source keys' bounds — the same
    // inclusive evaluator as the read path; None = nothing constrains
    val (bounds, nSource) = MetricsPruning.keyBoundsPredicate(
      allKeys.toDF(keys: _*), keys)
    if (nSource == 0L) return cur // empty source: no-op, no commit
    val candidates = bounds match {
      case Some(p) => pruneDeltaFilesParsed(state, struct, p)
      case None => state.live
    }
    def keyCond(left: DataFrame) =
      keys.map(k => left(k) <=> col(s"__k_$k")).reduce(_ && _)
    val rewrite: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val candSet = candidates.toSet
        val sl = readDeltaSlice(spark, root, state, candidates,
          state.dvs.filter(kv => candSet.contains(kv._1)), withPath = true)
        sl.join(allKeys, keyCond(sl), "left_semi")
          .select("__p").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
      }
    if (rewrite.isEmpty && updates.isEmpty) return cur // nothing to do
    val rewriteSet = rewrite.toSet
    def slice() = readDeltaSlice(spark, root, state, rewrite,
      state.dvs.filter(kv => rewriteSet.contains(kv._1)))
    val alignedUpd = updates.select(
      struct.fields.map(f => bq(f.name)).toSeq: _*)
    val newRows =
      if (rewrite.isEmpty) alignedUpd
      else {
        val sl = slice()
        sl.join(allKeys, keyCond(sl), "left_anti").unionByName(alignedUpd)
      }
    val (physicalDf, physPartCols) =
      lowerForWrite(spark, struct, mapping, newRows, state.partitionCols)
    val rels = writeFilesRaw(physicalDf, root, physPartCols)
    val cdcFiles: Seq[(String, String, Long)] =
      if (!cdfOn) Nil
      else if (rewrite.isEmpty) {
        // insert-only merge: every source row is an insert
        writeCdcFiles(spark, root, cur + 1L,
          alignedUpd.withColumn("_change_type", lit("insert")),
          partColsOverride = Some(state.partitionCols))
      } else {
        // Delta MERGE's real change classification. A key in both
        // sets is an UPDATE (upsert wins), so delete rows join on the
        // delete-ONLY keys.
        val delOnly = delKeys.map(dk => dk.join(updKeys,
          keys.map(k => dk(s"__k_$k") <=> updKeys(s"__k_$k"))
            .reduce(_ && _), "left_anti"))
        val sl = slice()
        val pre = sl.join(updKeys, keyCond(sl), "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        val deleted = delOnly.map { dk =>
          val s2 = slice()
          s2.join(dk, keyCond(s2), "left_semi")
            .withColumn("_change_type", lit("delete"))
        }
        val tgtKeys = sl.select(
          keys.map(k => bq(k).as(s"__t_$k")): _*).distinct()
        def tgtCond(left: DataFrame) =
          keys.map(k => left(k) <=> col(s"__t_$k")).reduce(_ && _)
        val post = alignedUpd.join(tgtKeys, tgtCond(alignedUpd),
          "left_semi").withColumn("_change_type", lit("update_postimage"))
        val ins = alignedUpd.join(tgtKeys, tgtCond(alignedUpd),
          "left_anti").withColumn("_change_type", lit("insert"))
        val changes = (Seq(pre) ++ deleted.toSeq ++ Seq(post, ins))
          .reduce(_ unionByName _)
        writeCdcFiles(spark, root, cur + 1L, changes,
          partColsOverride = Some(state.partitionCols))
      }
    commitForeignRewriteVersion(root, logDir, state, cur,
      s""""operation":"MERGE","operationParameters":{"matchedPredicates":"[]"}""",
      rewrite, rels, cdcFiles, "merge")
  }

  /** OPTIMIZE (bin-packing compaction) of a FOREIGN Delta table — the
    * single most-run maintenance on real Delta tables: live files
    * smaller than `targetBytes` rewrite together into
    * ceil(total/target) files, committed as remove+add with
    * `dataChange: false` — the spec's pure-layout-churn marker, which
    * streams and CDF readers skip (the reader's dataChange filter) —
    * so compaction is invisible to every incremental consumer.
    * Deletion vectors of the compacted files are APPLIED and PURGED by
    * the rewrite (Delta's OPTIMIZE does the same), and the fresh adds
    * carry full stats. Legal on append-only tables: the spec's
    * appendOnly obligation bars dataChange=true removes only. CHECK
    * constraints / invariants / generated / identity columns are
    * compaction-safe (rows are verbatim). Returns the committed
    * version, or the pinned current one when fewer than two small
    * files exist (no-op, no commit).
    *
    * With `zorderBy` (OPTIMIZE ... ZORDER BY): clustered compaction —
    * EVERY live file rewrites (ZORDER is a layout of the whole
    * population, Delta's own behavior for the selected partitions)
    * into ceil(total/target) files range-partitioned + sorted on the
    * interleaved z-value ([[zorderLayout]], shared with the native
    * face), so each fresh add's stats cover a narrow range in every
    * clustered dimension at once and data skipping prunes on any of
    * them. Still dataChange=false: the rows are verbatim. Not
    * convergence-gated (re-running re-clusters, as Delta's does); a
    * ≤1-file DV-less table is the only no-op. */
  def optimizeDeltaForeign(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalStateException(
        s"optimize requires a log with a metaData schemaString at $root"))
    require(state.partitionCols.nonEmpty ||
        state.partVals.values.forall(_.isEmpty),
      s"live add actions at $root carry partitionValues but the " +
        "metaData's partitionColumns are unknown; rewriting blind " +
        "would mis-lay the rows — refusing")
    val mapping = state.conf.getOrElse("delta.columnMapping.mode", "none")
    validateMappedWrite(root, struct, mapping, "optimize")
    requireForeignWriterProtocol(state, root, "compaction",
      ForeignRowPreservingSafe)
    // ZORDER columns resolve case-insensitively against the table
    // schema (logical names — the layout runs in logical space, before
    // any column-mapping lowering) and must not be partition columns
    // (within one hive partition a partition column cannot
    // discriminate — Delta refuses it too)
    val zCols = zorderBy.map { c =>
      struct.fields.map(_.name).find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column '$c' is not in the table schema at $root"))
    }
    require(!zCols.exists(z =>
        state.partitionCols.exists(_.equalsIgnoreCase(z))),
      s"ZORDER BY on partition column(s) " +
        s"${zCols.filter(z => state.partitionCols.exists(_.equalsIgnoreCase(z))).mkString(", ")} " +
        "— partition values are constant within a file's hive " +
        "directory; cluster on data columns instead")
    // small-file selection: on-disk size, O(live files) driver stats.
    // A DV-bearing file compacts REGARDLESS of size (the rewrite purges
    // its DV — REORG's behavior, folded in). ZORDER selects EVERYTHING:
    // clustering quality is a property of the whole population.
    val small =
      if (zCols.nonEmpty) state.live
      else state.live.filter { f =>
        val p = Paths.get(root).resolve(f)
        state.dvs.contains(f) ||
          (Files.exists(p) && Files.size(p) < targetBytes)
      }
    val total = small.map(f => Files.size(Paths.get(root).resolve(f))).sum
    val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // CONVERGENCE (bin-packing only): packing must strictly shrink the
    // file count (or purge a DV) — otherwise files just under the
    // target would rewrite into the same population every call, a
    // full-table churn version per OPTIMIZE forever (real Delta's
    // per-bin ≥2 rule). A ZORDER's rewrite is the point, not churn.
    if (zCols.isEmpty &&
        (small.size < 2 || nOut >= small.size) &&
        small.forall(f => !state.dvs.contains(f)))
      return cur // nothing worth packing: no-op, no commit
    if (zCols.nonEmpty && small.size < 2 && state.dvs.isEmpty)
      return cur // one file clusters to itself: no-op, no commit
    val smallSet = small.toSet
    val rows = readDeltaSlice(spark, root, state, small,
      state.dvs.filter(kv => smallSet.contains(kv._1)))
    val aligned0 = rows.select(
      struct.fields.map(f => bq(f.name)).toSeq: _*)
    val aligned =
      if (zCols.isEmpty) aligned0.coalesce(nOut)
      else if (zCols.size == 1)
        // one column needs no curve: range-partition + sort IS the
        // optimal single-dimension clustering
        (if (state.partitionCols.isEmpty)
          aligned0.repartitionByRange(math.max(nOut, 2), bq(zCols.head))
        else aligned0.repartition(math.max(nOut, 2),
          state.partitionCols.map(bq): _*))
          .sortWithinPartitions(
            (state.partitionCols.map(bq) :+ bq(zCols.head)): _*)
      else zorderLayout(aligned0, zCols, math.max(nOut, 2),
        state.partitionCols)
    val (physicalDf, physPartCols) =
      lowerForWrite(spark, struct, mapping, aligned, state.partitionCols)
    val rels =
      if (zCols.isEmpty) writeFilesRaw(physicalDf, root, physPartCols)
      else withDeterministicRangeSample(spark)(
        writeFilesRaw(physicalDf, root, physPartCols))
    val zParam =
      if (zCols.isEmpty) ""
      else s""","zOrderBy":"[${zCols.map(c => "\\\"" + escJson(c) + "\\\"").mkString(",")}]""""
    commitForeignRewriteVersion(root, logDir, state, cur,
      s""""operation":"OPTIMIZE","operationParameters":{"targetSize":"$targetBytes"$zParam}""",
      small, rels, Nil, "optimize", dataChange = false)
  }

  /** RESTORE a FOREIGN Delta table to `version` — Delta's RESTORE
    * TABLE ... VERSION AS OF: ONE commit whose adds re-instate the
    * files live at the target (original stats/partitionValues/DVs,
    * re-committed from the target state), whose removes drop the
    * files live now but not then, and whose metaData resets the
    * schema/partitioning/configuration when the target's differ —
    * history is preserved (this is a new version; time travel still
    * sees everything). dataChange: true, Delta's own semantics (a
    * restore IS a data change). Refuses when a target file is gone
    * from disk (vacuumed past — Delta's own restore error) and on
    * CDF-recording tables (a conforming writer must commit the
    * rewrite's change rows; deriving them needs a row-level diff this
    * writer does not do — read the two versions and diff instead).
    * Returns the committed version; restoring to the current state is
    * a no-op. */
  def restoreDeltaForeign(spark: SparkSession, root: String,
      version: Long): Long = {
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    require(version <= cur, s"cannot restore to future version $version " +
      s"(current is $cur) at $root")
    val curState = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val tgtState = deltaStateAt(spark, root, Some(version),
      useCheckpoint = true)
    require(tgtState.schemaJson.isDefined,
      s"restore requires a metaData schemaString at version $version")
    // the battery every foreign writer runs: a feature like rowTracking
    // obliges every add this restore would re-commit
    requireForeignWriterProtocol(curState, root, "restore",
      ForeignRowPreservingSafe)
    // the CDF guard covers BOTH ends: the restore RESETS conf to the
    // target's, so restoring a CDF-enabled version would re-enable the
    // feed in the same dataChange=true commit it cannot write change
    // rows for — the shape the CDF reader refuses loudly
    val cdfOn = Seq(curState, tgtState).exists(
      _.conf.get("delta.enableChangeDataFeed").contains("true"))
    require(!cdfOn,
      s"restore of a CDF-recording table at $root is not supported " +
        "(the change rows of a restore need a row-level diff this " +
        "writer does not derive)")
    val curLive = curState.live.toSet
    val tgtLive = tgtState.live.toSet
    // a file live in both but under a DIFFERENT deletion vector must
    // re-add with the target's (remove + add of the same path, the
    // spec's DV-update shape)
    val dvChanged = (curLive & tgtLive).filter(f =>
      curState.dvs.get(f) != tgtState.dvs.get(f))
    val readds = (tgtLive -- curLive) ++ dvChanged
    val removes = (curLive -- tgtLive) ++ dvChanged
    val metaChanged = curState.schemaJson != tgtState.schemaJson ||
      curState.partitionCols != tgtState.partitionCols ||
      curState.conf != tgtState.conf
    if (readds.isEmpty && removes.isEmpty && !metaChanged)
      return cur // already at the target state
    // appendOnly bars dataChange=true removes — the same contract the
    // DELETE/UPDATE/MERGE writers refuse on; a restore that only
    // re-adds (pure roll-forward of appends) stays legal
    require(removes.isEmpty ||
        curState.conf.getOrElse("delta.appendOnly", "false") != "true",
      s"the table at $root is append-only (delta.appendOnly=true); " +
        "restore would remove live files — refusing")
    val missing = readds.filterNot(f =>
      Files.exists(Paths.get(root).resolve(f)))
    require(missing.isEmpty,
      s"restore to version $version needs file(s) no longer on disk " +
        s"(vacuumed): ${missing.toSeq.sorted.take(3).mkString(", ")}" +
        (if (missing.size > 3) s" (+${missing.size - 3} more)" else ""))
    // a re-added DELETION VECTOR's sidecar must be on disk too — the
    // target era's superseded sidecar is exactly what vacuum reclaims
    // once its tombstone ages out, and a dangling reference would fail
    // every subsequent read instead of this restore
    val missingDv = readds.toSeq.flatMap(f => tgtState.dvs.get(f))
      .flatMap(d => DeltaDv.filePath(root, d))
      .filterNot(Files.exists(_))
    require(missingDv.isEmpty,
      s"restore to version $version needs deletion-vector sidecar(s) " +
        s"no longer on disk (vacuumed): " +
        missingDv.map(_.getFileName).take(3).mkString(", "))
    val ts = System.currentTimeMillis()
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"timestamp":$ts,"operation":"RESTORE","operationParameters":{"version":"$version"}}}""")
      .append('\n')
    if (metaChanged) {
      val (idOpt, name, desc, createdTime) =
        deltaMetaDataExtrasOf(spark, root)
      val id = idOpt.getOrElse(
        "graft-" + graft.plans.TextExpressions.md5Hex(root).take(12))
      sb.append(metaDataActionJson(id, name, desc, createdTime,
        tgtState.schemaJson.get, tgtState.partitionCols, tgtState.conf))
        .append('\n')
    }
    removes.toSeq.sorted.foreach { f =>
      val (rawPath, rawDv) = curState.rawAdd.getOrElse(f,
        (escJson(deltaEncodePath(f)), curState.dvs.get(f).map(dvJson)))
      val dvField = rawDv.fold("")(d => s""","deletionVector":$d""")
      sb.append(s"""{"remove":{"path":"$rawPath","deletionTimestamp":$ts,"dataChange":true$dvField}}""")
        .append('\n')
    }
    readds.toSeq.sorted.foreach { f =>
      // the TARGET state's add, re-committed: raw line when the JSON
      // still has it (stats, partitionValues, and DV verbatim), else
      // rebuilt from the replayed target state
      tgtState.rawAdd.get(f) match {
        case Some((rawPath, rawDv)) =>
          val p = Paths.get(root).resolve(f)
          val pv = tgtState.partVals.get(f).map(m =>
            m.toSeq.sortBy(_._1).map { case (k, ov) =>
              s""""${escJson(k)}":${ov.fold("null")(v => s""""${escJson(v)}"""")}"""
            }.mkString("{", ",", "}")).getOrElse("{}")
          val statsField = tgtState.stats.get(f)
            .map(s => s""","stats":"${escJson(s)}"""").getOrElse("")
          val dvField = rawDv.fold("")(d => s""","deletionVector":$d""")
          sb.append(s"""{"add":{"path":"$rawPath","partitionValues":$pv,"size":${Files.size(p)},"modificationTime":${Files.getLastModifiedTime(p).toMillis},"dataChange":true$statsField$dvField}}""")
            .append('\n')
        case None =>
          val p = Paths.get(root).resolve(f)
          val pv = tgtState.partVals.get(f).map(m =>
            m.toSeq.sortBy(_._1).map { case (k, ov) =>
              s""""${escJson(k)}":${ov.fold("null")(v => s""""${escJson(v)}"""")}"""
            }.mkString("{", ",", "}")).getOrElse("{}")
          val statsField = tgtState.stats.get(f)
            .map(s => s""","stats":"${escJson(s)}"""").getOrElse("")
          val dvField = tgtState.dvs.get(f)
            .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
          sb.append(s"""{"add":{"path":"${escJson(deltaEncodePath(f))}","partitionValues":$pv,"size":${Files.size(p)},"modificationTime":${Files.getLastModifiedTime(p).toMillis},"dataChange":true$statsField$dvField}}""")
            .append('\n')
      }
    }
    casCommitDeltaLog(root, logDir, cur, sb.toString, "restore")
  }

  /** The shared COPY-ON-WRITE rewrite core of [[deleteDeltaForeign]]
    * and [[updateDeltaForeign]] (see their scaladocs for semantics):
    * pin → replay → refusal battery → inclusive candidate planning →
    * exact matched-file pass (a driver sync bounded by live-FILE
    * count) → `rewriteRows` over the matched files (existing deletion
    * vectors applied by the slice read) → cdc from `changeRows` when
    * the table records a change feed → ONE CAS'd version of
    * cdc + remove + add actions. Removes must cancel their adds under
    * the spec's ACTION RECONCILIATION, which keys a logical file on
    * the path STRING and the deletionVector's uniqueId: they reference
    * the add's raw committed path verbatim (a re-encode that
    * normalizes differently from the foreign writer — '*' vs %2A —
    * would match no add) and carry the add's deletionVector object
    * verbatim (a DV-less remove would leave a DV-bearing add LIVE
    * beside its rewrite for every conforming reader). Checkpoint-
    * seeded files have no raw line: re-encode, the form this engine's
    * own checkpoints committed. */
  private def foreignCowRewrite(spark: SparkSession, root: String,
      predicate: String, what: String, opJson: String,
      extraSafeFeatures: Set[String],
      validate: (DeltaReplayState,
        org.apache.spark.sql.types.StructType) => Unit,
      rewriteRows: (DataFrame, org.apache.spark.sql.Column,
        org.apache.spark.sql.types.StructType) => DataFrame,
      changeRows: (DataFrame, org.apache.spark.sql.Column,
        org.apache.spark.sql.types.StructType) => DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val state = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalStateException(
        s"$what requires a log with a metaData schemaString at $root"))
    require(state.conf.getOrElse("delta.appendOnly", "false") != "true",
      s"the table at $root is append-only (delta.appendOnly=true); " +
        s"refusing the $what")
    // CDF-recording tables get REAL cdc actions (below): a conforming
    // writer must commit the change rows for a rewrite, or
    // table_changes would mis-derive it as inserts+deletes
    val cdfOn = state.conf.get("delta.enableChangeDataFeed")
      .contains("true")
    require(state.partitionCols.nonEmpty ||
        state.partVals.values.forall(_.isEmpty),
      s"live add actions at $root carry partitionValues but the " +
        "metaData's partitionColumns are unknown (a checkpoint omitted " +
        "them); rewriting blind would mis-lay the rows — refusing")
    val mapping = state.conf.getOrElse("delta.columnMapping.mode", "none")
    validateMappedWrite(root, struct, mapping, what)
    // change data files follow the data files' physical-space rules
    // under a mapping; this writer lays cdc out logically — refuse the
    // combination rather than commit change rows spec readers resolve
    // to nulls
    require(!cdfOn || mapping == "none",
      s"$what on a CDF-recording table under column mapping mode " +
        s"'$mapping' at $root is not supported")
    validate(state, struct)
    requireForeignWriterProtocol(state, root, what,
      ForeignSafeFeaturesBase ++ Set("allowColumnDefaults") ++
        extraSafeFeatures)
    // candidate files (inclusive planning), then the exact row pass:
    // only files with a TRUE row rewrite — conservative candidates with
    // no matches must not churn
    val candidates = pruneDeltaFiles(spark, state, predicate)
    val rowPred = coalesce(expr(predicate), lit(false))
    val rewrite: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val candSet = candidates.toSet
        readDeltaSlice(spark, root, state, candidates,
          state.dvs.filter(kv => candSet.contains(kv._1)), withPath = true)
          .filter(rowPred).select("__p").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
      }
    if (rewrite.isEmpty) return cur // no matching row: no-op, no commit
    val rewriteSet = rewrite.toSet
    def slice() = readDeltaSlice(spark, root, state, rewrite,
      state.dvs.filter(kv => rewriteSet.contains(kv._1)))
    val newRows = rewriteRows(slice(), rowPred, struct)
    val aligned = newRows.select(struct.fields.map(f => bq(f.name)).toSeq: _*)
    val (physicalDf, physPartCols) =
      lowerForWrite(spark, struct, mapping, aligned, state.partitionCols)
    val rels = writeFilesRaw(physicalDf, root, physPartCols)
    // one more pass over the rewritten files for the change rows — the
    // price Delta's own COW rewrite pays to materialize change data
    val cdcFiles: Seq[(String, String, Long)] =
      if (!cdfOn) Nil
      else writeCdcFiles(spark, root, cur + 1L,
        changeRows(slice(), rowPred, struct),
        partColsOverride = Some(state.partitionCols))
    commitForeignRewriteVersion(root, logDir, state, cur, opJson,
      rewrite, rels, cdcFiles, what)
  }

  /** The shared cdc + remove + add commit tail of every foreign
    * rewrite writer (COW delete/update and MERGE): one CAS'd version
    * whose removes reference each add's RAW committed path and
    * deletionVector verbatim (the spec's action reconciliation keys a
    * logical file on the path STRING and the DV's uniqueId — see
    * [[foreignCowRewrite]]'s scaladoc for why a re-encode would leave
    * DV-bearing adds live beside their rewrite). */
  private def commitForeignRewriteVersion(root: String, logDir: Path,
      state: DeltaReplayState, cur: Long, opJson: String,
      removes: Seq[String], rels: Seq[String],
      cdcFiles: Seq[(String, String, Long)], what: String,
      dataChange: Boolean = true): Long = {
    val ts = System.currentTimeMillis()
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"timestamp":$ts,$opJson}}""")
      .append('\n')
    cdcFiles.foreach { case (rel, pv, size) =>
      sb.append(s"""{"cdc":{"path":"${escJson(deltaEncodePath(rel))}","partitionValues":$pv,"size":$size,"dataChange":false}}""")
        .append('\n')
    }
    removes.foreach { f =>
      val (rawPath, rawDv) = state.rawAdd.getOrElse(f,
        (escJson(deltaEncodePath(f)), state.dvs.get(f).map(dvJson)))
      val dvField = rawDv.fold("")(d => s""","deletionVector":$d""")
      sb.append(s"""{"remove":{"path":"$rawPath","deletionTimestamp":$ts,"dataChange":$dataChange$dvField}}""")
        .append('\n')
    }
    rels.foreach(f =>
      sb.append(addActionJson(root, f, dataChange)).append('\n'))
    casCommitDeltaLog(root, logDir, cur, sb.toString, what)
  }

  /** Backtick-quote a logical column name for `col()`: names may
    * contain dots under column mapping (the name class the feature
    * exists to permit). */
  private def bq(n: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col("`" + n.replace("`", "``") + "`")

  /** The column-mapping preconditions every foreign WRITE shares (see
    * [[appendDeltaForeign]]): a supported mode, every field declaring
    * physicalName/id when a mapping is active (the spec's invariant —
    * a field missing them cannot be written without guessing), and a
    * FLAT schema (nested fields carry their own physical names/ids the
    * top-level lowering does not rewrite — committing logical nested
    * names would serve NULL to every spec reader; refuse rather than
    * corrupt). */
  private def validateMappedWrite(root: String,
      struct: org.apache.spark.sql.types.StructType, mapping: String,
      what: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    require(mapping == "none" || mapping == "name" || mapping == "id",
      s"$what under column mapping mode '$mapping' is not supported")
    if (mapping != "none") {
      require(struct.fields.forall(f =>
          f.metadata.contains("delta.columnMapping.physicalName") &&
            f.metadata.contains("delta.columnMapping.id")),
        s"column mapping mode '$mapping' at $root is active but some " +
          "schema fields lack physicalName/id metadata; refusing")
      def hasNested(dt: DataType): Boolean = dt match {
        case _: StructType => true
        case a: ArrayType  => hasNested(a.elementType)
        case m: MapType    => hasNested(m.keyType) || hasNested(m.valueType)
        case _ => false
      }
      require(!struct.fields.exists(f => hasNested(f.dataType)),
        s"$what under column mapping supports FLAT schemas only at " +
          s"$root (nested fields carry their own physical names this " +
          "writer does not rewrite)")
    }
  }

  /** Set `spark.sql.parquet.fieldId.write.enabled` MONOTONICALLY on the
    * shared session — deliberately never restored. The flag is inert
    * for schemas without `parquet.field.id` column metadata (only
    * mapped/Iceberg writes attach it), and a set/restore dance on the
    * SHARED session conf would let one racing writer's `finally` clear
    * the flag mid-way through another's write job — footers without
    * ids, every id-mode reader serving null. Isolated-session writers
    * (a `spark.newSession()` of their own) scope the flag there
    * instead; every shared-session id-stamping write funnels through
    * THIS helper so the policy has one body. */
  private[graft] def ensureFieldIdWrite(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")

  /** Lower a logically-named frame to the PHYSICAL write space: under
    * an active mapping the data lives under physical names with
    * parquet field ids (spec: stats keys, partitionValues keys, and
    * id-mode resolution all run in physical space). Field ids must
    * reach the parquet footers — [[ensureFieldIdWrite]] carries the
    * monotonic-set rationale. */
  private def lowerForWrite(spark: SparkSession,
      struct: org.apache.spark.sql.types.StructType, mapping: String,
      aligned: DataFrame, partCols: Seq[String])
      : (DataFrame, Seq[String]) =
    if (mapping == "none") (aligned, partCols)
    else {
      val lowered = aligned.select(struct.fields.map { f =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id"))
          .build()
        bq(f.name).as(deltaPhysicalName(f), md)
      }.toSeq: _*)
      val physParts = partCols.map(c =>
        deltaPhysicalName(struct.fields
          .find(_.name.equalsIgnoreCase(c)).get))
      ensureFieldIdWrite(spark)
      (lowered, physParts)
    }

  /** JSON-string-escape: backslash, quote, AND control characters — a
    * raw newline/tab (legal inside a SQL string literal, e.g. a delete
    * predicate) embedded unescaped would split the NDJSON line and
    * durably corrupt the log for every reader. */
  private def escJson(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** A deletion-vector descriptor serialized back to its spec JSON —
    * the remove-action fallback for checkpoint-seeded files whose raw
    * add line is gone. */
  private def dvJson(d: DeltaDv.Descriptor): String =
    s"""{"storageType":"${escJson(d.storageType)}","pathOrInlineDv":"${escJson(d.pathOrInlineDv)}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** One stats-bearing add action for a data-dir-relative file this
    * writer just wrote — the commit line both foreign write paths
    * share. */
  private def addActionJson(root: String, f: String,
      dataChange: Boolean = true): String = {
    val p = dataDir(root).resolve(f)
    val stats = escJson(fileStatsJson(p))
    s"""{"add":{"path":"data/${escJson(deltaEncodePath(f))}","partitionValues":${hivePartValuesJson(f)},"size":${Files.size(p)},"modificationTime":${Files.getLastModifiedTime(p).toMillis},"dataChange":$dataChange,"stats":"$stats"}}"""
  }

  /** The shared commit tail of every foreign-Delta writer: commit the
    * action lines as version cur+1 via the createLink CAS. The CAS must
    * FAIL when the version exists: POSIX rename (and so ATOMIC_MOVE)
    * silently overwrites, which would DROP a concurrent writer's
    * committed version — createLink is the atomic fail-if-exists
    * primitive on every local/shared-mount filesystem. Returns the
    * committed version. */
  private def casCommitDeltaLog(root: String, logDir: Path, cur: Long,
      actions: String, what: String): Long = {
    val next = cur + 1L // the version the caller's validation is good for
    val tmp = logDir.resolve(
      s".$next.json.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, actions)
    try Files.createLink(logDir.resolve(f"$next%020d.json"), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new java.util.ConcurrentModificationException(
        s"log version $next at $root was committed concurrently; " +
          s"re-read the table state and retry the $what")
    }
    Files.deleteIfExists(tmp)
    next
  }

  /** Timestamp stats/partition text → epoch MICROS, accepted ONLY when
    * the text carries an explicit offset ('Z' or ±HH:MM) — the one form
    * that is timezone-unambiguous across Delta writers. Anything else
    * (local-time strings, exotic formats) returns None and the file is
    * kept conservatively. */
  private def deltaStatsTimestampMicros(s: String): Option[BigDecimal] =
    scala.util.Try {
      val odt = java.time.OffsetDateTime.parse(s)
      val inst = odt.toInstant
      BigDecimal(inst.getEpochSecond) * 1000000 + inst.getNano / 1000
    }.toOption

  /** DELTA DATA SKIPPING (the Delta face's scan planning, sharing the
    * Iceberg face's inclusive evaluator): keep only the live files
    * whose add-action metadata can satisfy `expr`, driver-side in
    * O(files). Two sources, per column: the add's `partitionValues`
    * (EXACT lo = hi per file — the only metadata a hive-partitioned
    * foreign log has for its partition columns, which no writer
    * records stats for because they are not in the data files), and
    * the add's stats JSON (numRecords / minValues / maxValues /
    * nullCount), both carried through checkpoints. Stats keys are
    * PHYSICAL column names under column mapping; each logical field
    * resolves through its physicalName metadata, so mapped tables
    * skip too. Values the JSON cannot type for the field keep the
    * file conservatively — timestamps prune only from offset-carrying
    * ISO-8601 text (the one timezone-unambiguous form; our own stats
    * writer emits full-precision '…Z'), and the caller's residual row
    * filter covers whatever planning kept. Delta stats carry no NaN
    * counts, so floating upper bounds never prune `x > v` (NaN orders
    * above every value in SQL engines); a predicate on a column the
    * schema lacks refuses. */
  private def pruneDeltaFiles(spark: SparkSession,
      state: DeltaReplayState, expr: String): Seq[String] = {
    // a schema-less log cannot validate the predicate's columns, let
    // alone type its stats — refuse loudly (the same contract as a
    // typo'd column), never silently scan everything
    val struct = schemaJsonToStruct(state.schemaJson).getOrElse(
      throw new IllegalArgumentException(
        "pruneWhere requires a log with a metaData schemaString; " +
        s"this log has none (predicate: $expr)"))
    val byName = struct.fields.map(f => f.name.toLowerCase -> f).toMap
    val parsed = MetricsPruning.parseChecked(spark, expr, byName.keySet,
      struct.fieldNames.mkString(", "))
    pruneDeltaFilesParsed(state, struct, parsed)
  }

  /** [[pruneDeltaFiles]] over an ALREADY-PARSED predicate tree — the
    * entry the foreign MERGE uses to plan candidate files from its
    * source keys' min/max bounds (a predicate built as Catalyst nodes
    * from collected values, never rendered to SQL text: literal
    * quoting/formatting round-trips are exactly the bug class a
    * programmatic tree avoids). */
  private def pruneDeltaFilesParsed(state: DeltaReplayState,
      struct: org.apache.spark.sql.types.StructType,
      parsed: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    import MetricsPruning.ColMeta
    val byName = struct.fields.map(f => f.name.toLowerCase -> f).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val partColSet = state.partitionCols.map(_.toLowerCase).toSet
    // one partition value (Delta's string serialization) → the norm
    // space MetricsPruning compares in. Exact: lo = hi = value.
    def normPartVal(s: String, dt: DataType): Option[Any] = dt match {
      case StringType => Some(s)
      case DateType => scala.util.Try(
        BigDecimal(java.time.LocalDate.parse(s).toEpochDay)).toOption
      case BooleanType => s.toLowerCase match {
        case "true" => Some(BigDecimal(1)); case "false" => Some(BigDecimal(0))
        case _ => None
      }
      case TimestampType =>
        // writers vary ("yyyy-MM-dd HH:mm:ss" in an unstated zone);
        // only offset-carrying text is unambiguous — else keep the file
        deltaStatsTimestampMicros(s)
      case FloatType | DoubleType => None // ranged below, never exact
      case _: NumericType => scala.util.Try(BigDecimal(s.trim)).toOption
      case _ => None
    }
    // floating partition values get the one-ulp slack as a RANGE (see
    // MetricsPruning.floatLo); everything else is exact lo = hi
    def normPartValRange(s: String, dt: DataType)
        : (Option[Any], Option[Any]) = dt match {
      case FloatType => scala.util.Try(s.toFloat).toOption
        .filter(fv => !fv.isNaN && !fv.isInfinite)
        .map(fv => (MetricsPruning.floatLo(fv.toDouble),
          MetricsPruning.floatHi(fv.toDouble)))
        .getOrElse((None, None))
      case DoubleType => scala.util.Try(s.toDouble).toOption
        .filter(d => !d.isNaN && !d.isInfinite)
        .map(d => (MetricsPruning.floatLo(d), MetricsPruning.floatHi(d)))
        .getOrElse((None, None))
      case other =>
        val n = normPartVal(s, other)
        (n, n)
    }
    def metaFor(stats: com.fasterxml.jackson.databind.JsonNode,
        pv: Option[Map[String, Option[String]]])(
        name: String): ColMeta = {
      val f = byName(name)
      val key = deltaPhysicalName(f)
      // a PARTITION column's add-action value is exact for every row —
      // this is the only metadata hive-partitioned foreign logs have
      // for it (partition columns are not in the data files, so no
      // writer records stats for them)
      if (partColSet.contains(f.name.toLowerCase)) {
        val entry = pv.flatMap(m =>
          m.get(key).orElse(m.get(f.name)).orElse(
            m.find(_._1.equalsIgnoreCase(f.name)).map(_._2)))
        entry match {
          case Some(None) => // JSON null: every row's value is null
            return ColMeta(None, None, allNull = true, noNulls = false,
              nanFree = true)
          case Some(Some(v)) =>
            val (lo, hi) = normPartValRange(v, f.dataType)
            return ColMeta(lo, hi, allNull = false, noNulls = true,
              nanFree = lo.isDefined ||
                (f.dataType != FloatType && f.dataType != DoubleType))
          case None => () // no recorded value: fall through to stats
        }
      }
      def section(s: String) =
        Option(stats.get(s)).flatMap(n => Option(n.get(key)))
      def norm(n: com.fasterxml.jackson.databind.JsonNode,
          isLower: Boolean): Option[Any] =
        f.dataType match {
          case StringType => Option(n.textValue())
          case DateType => Option(n.textValue()).flatMap(s =>
            scala.util.Try(
              BigDecimal(java.time.LocalDate.parse(s).toEpochDay)).toOption)
          case BooleanType if n.isBoolean =>
            Some(BigDecimal(if (n.booleanValue()) 1 else 0))
          case FloatType if n.isNumber =>
            // float stats text is the FLOAT's shortest repr ("1.1"), but
            // Spark compares float rows widened to DOUBLE (1.10000002…):
            // parse as float, widen, and take MetricsPruning's one-ulp
            // slack — BigDecimal("1.1") directly would understate the hi
            // and wrongly prune an equality on the widened literal.
            scala.util.Try(n.asText().toFloat).toOption
              .filter(fv => !fv.isNaN && !fv.isInfinite)
              .flatMap(fv =>
                if (isLower) MetricsPruning.floatLo(fv.toDouble)
                else MetricsPruning.floatHi(fv.toDouble))
          case DoubleType if n.isNumber =>
            // doubles likewise: the evaluator compares exact decimals,
            // Spark compares doubles — one ulp of slack covers the
            // shortest-repr-vs-literal-text discrepancy
            scala.util.Try(n.asText().toDouble).toOption
              .flatMap(d =>
                if (isLower) MetricsPruning.floatLo(d)
                else MetricsPruning.floatHi(d))
          case _: NumericType if n.isNumber =>
            Some(BigDecimal(n.decimalValue()))
          case TimestampType =>
            // ONLY offset-carrying ISO-8601 text is unambiguous; Delta
            // writers vary (local-time strings, truncated millis) and a
            // mis-zoned parse would wrongly prune — conservative None.
            // Our own stats writer emits full-precision UTC '…Z'.
            Option(n.textValue()).flatMap(deltaStatsTimestampMicros)
          case _ => None // other exotic formats: conservative
        }
      val numRecords = Option(stats.get("numRecords"))
        .filter(_.isNumber).map(_.asLong())
      val nulls = Option(stats.get("nullCount"))
        .flatMap(n => Option(n.get(key)))
        .filter(_.isNumber).map(_.asLong())
      ColMeta(
        section("minValues").flatMap(norm(_, isLower = true)),
        section("maxValues").flatMap(norm(_, isLower = false)),
        allNull = nulls.zip(numRecords).exists { case (a, b) => a == b },
        noNulls = nulls.contains(0L),
        nanFree = f.dataType != FloatType && f.dataType != DoubleType)
    }
    state.live.filter { p =>
      // a STATS-LESS file still evaluates: its partition values alone
      // may prune it (the hive-partitioned-foreign-log case); unparseable
      // stats degrade to an empty node (unknown bounds, conservative)
      val node = state.stats.get(p).map { js =>
        try mapper.readTree(js)
        catch { case scala.util.control.NonFatal(_) => null }
      }.orNull
      val safeNode: com.fasterxml.jackson.databind.JsonNode =
        if (node == null) mapper.createObjectNode() else node
      MetricsPruning.canMatch(parsed,
        metaFor(safeNode, state.partVals.get(p)))
    }
  }

  /** Checkpoint-seeded replay state of an exported/foreign Delta log at
    * `upTo` (current when None): the exact protocol a foreign Delta
    * reader follows via `_last_checkpoint` — seed from the checkpoint,
    * replay only the JSON tail (`useCheckpoint = false` forces the
    * full-JSON replay path, so both can be gated independently). A
    * pinned read may seed from the checkpoint only when it is not past
    * the pinned version. */
  private def deltaStateAt(spark: SparkSession, root: String,
      upTo: Option[Long], useCheckpoint: Boolean): DeltaReplayState = {
    val logDir = Paths.get(root, "_delta_log")
    val noSeed = (None: Option[Long], Seq.empty[String],
      None: Option[String], Map.empty[String, DeltaDv.Descriptor],
      Map.empty[String, String], Map.empty[String, String],
      Map.empty[String, Map[String, Option[String]]], Seq.empty[String],
      None: Option[(Int, Int, Seq[String], Seq[String])])
    val (ckVer, seedLive, seedSchema, seedDvs, seedConf, seedStats,
      seedPartVals, seedPartCols, seedProtocol) =
      (if (useCheckpoint) parseLastCheckpoint(logDir) else None) match {
        case Some(ptr) if !upTo.exists(_ < ptr.version) =>
          readCheckpointSeed(spark, logDir, ptr)
        case _ => noSeed
      }
    val st = replayDeltaLog(root, upTo, after = ckVer,
      seedLive = seedLive, seedSchema = seedSchema, seedDvs = seedDvs,
      seedConf = seedConf, seedStats = seedStats,
      seedPartVals = seedPartVals, seedPartCols = seedPartCols,
      seedProtocol = seedProtocol)
    // every foreign read AND write path builds its state here — the
    // one place the table-features spec's reader-side refusal can
    // gate them all (a reader feature this engine lacks means the
    // state just built may already be wrong for a conforming writer)
    requireDeltaReaderProtocol(st, root)
    st
  }

  /** Read a specific add-file slice of an exported/foreign Delta table
    * under `state`'s schema, column mapping, and the given per-file DV
    * descriptors — the incremental read unit of the delta-export
    * streaming source (and, with the full live set, the batch read). */
  private def readDeltaSlice(spark: SparkSession, root: String,
      state: DeltaReplayState, slice: Seq[String],
      dvs: Map[String, DeltaDv.Descriptor],
      withPath: Boolean = false): DataFrame = {
    val sliced = state.copy(live = slice, dvs = dvs)
    val files = slice.map(f => Paths.get(root).resolve(f).toString)
    // a FOREIGN table's files may live anywhere under the root (ours are
    // always under data/): partition discovery needs a basePath that is
    // an ancestor of every file
    val basePath =
      if (slice.forall(_.startsWith("data/"))) dataDir(root).toString
      else root
    val mappingMode = state.conf.getOrElse("delta.columnMapping.mode", "none")
    readDeltaState(spark, root, sliced, files, basePath, mappingMode,
      withPath)
  }

  /** PUBLIC slice read for the delta-export streaming source: the given
    * add files (with their DV descriptors) under the log's CURRENT
    * schema and mapping. `adds` must be non-empty. */
  def readDeltaExportFiles(spark: SparkSession, root: String,
      adds: Seq[(String, Option[DeltaDv.Descriptor])]): DataFrame = {
    require(adds.nonEmpty, "readDeltaExportFiles: empty file slice")
    val state = deltaStateAt(spark, root, None, useCheckpoint = true)
    readDeltaSlice(spark, root, state, adds.map(_._1),
      adds.collect { case (p, Some(d)) => p -> d }.toMap)
  }

  private val DeltaCdcKindRe = """"cdc"\s*:\s*\{""".r

  /** Row-level changes recorded in an exported/foreign Delta log over
    * versions `[fromVersion, toVersion]` — Delta's CDF read
    * (`table_changes` over the log alone). Per version: `cdc` actions
    * win (their `_change_data` parquet IS that commit's change set —
    * possibly empty, the no-logical-change marker of a churn-only
    * commit); a cdc-less version derives inserts from its add actions
    * and whole-file deletes from its remove actions — the spec's rule,
    * sound because a CDF writer only omits cdc when that derivation is
    * exact (our exporter writes cdc for every remove- or DV-bearing
    * commit). Output: `_change_type` + data columns + `_commit_version`
    * + `_commit_timestamp` (null where the log has no commitInfo stamp).
    * Refuses a log whose metaData does not declare
    * delta.enableChangeDataFeed — changes were never recorded (Delta's
    * own error for pre-enablement ranges). */
  // (root, version, log-file identity) → nearest metaData schemaString
  // at or below that version; see the epoch-seed walk in
  // readDeltaExportChanges for the invalidation argument
  private val epochSeedCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, FileId), Option[String]]

  def readDeltaExportChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    readMemo(spark, s"changes@$root@${deltaLogIdentity(root)}" +
        s"@$fromVersion@$toVersion") {
      readDeltaExportChangesUncached(spark, root, fromVersion, toVersion)
    }

  private def readDeltaExportChangesUncached(spark: SparkSession,
      root: String, fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"empty CDF range $fromVersion..$toVersion")
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val state = deltaStateAt(spark, root, Some(toVersion), useCheckpoint = true)
    require(state.conf.get("delta.enableChangeDataFeed").contains("true"),
      s"change data feed is not enabled on the log at $root — " +
        "changes were not recorded for this range")
    // Per-version recording guard (below, in the walk): a cdc-less
    // REWRITE commit (dataChange=true removes AND adds together) cannot
    // be derived — with CDF on, conforming writers always record cdc for
    // it, so its absence means the commit predates enablement (or a
    // foreign mid-range disable) and deriving would fabricate
    // inserts+deletes for rows that never logically changed. Checked
    // structurally per version rather than by replaying the conf at
    // fromVersion: exact for every toggle pattern, costs nothing, and
    // keeps ranges above a vacuum truncation horizon readable (a conf
    // replay at fromVersion below the checkpoint would refuse a range
    // whose JSON and cdc files are all intact). Pure adds (inserts) and
    // pure whole-file removes (deletes) derive exactly under the spec
    // rule regardless of when CDF was enabled.
    // cdc partition columns come back through hive-dir inference: cast
    // them (and any inferred column) to the log schema's declared types
    val logical = state.schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    def align(df: DataFrame): DataFrame = logical.fold(df)(sch =>
      sch.foldLeft(df)((d, f) =>
        if (d.columns.contains(f.name))
          d.withColumn(f.name, col(f.name).cast(f.dataType))
        else d))
    // ONE partitioned scan for every cdc file in the range: path →
    // (version, timestamp) is derivable from the action lists, so the
    // plan carries a single parquet-scan leg (plus a broadcast stamp
    // join) no matter how long the range is — a table_changes(0, 10000)
    // over a long-lived log costs one scan node, not 10k union legs.
    // Only cdc-LESS versions (pure adds / pure removes committed before
    // enablement) keep the per-version derive path below.
    val cdcFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Option[Long], Int)]
    // schema EPOCH per version: cdc files are written under their
    // commit's logical schema, so a range spanning an ALTER COLUMN TYPE
    // widening mixes int32 and int64 footers — one mergeSchema
    // inference over the whole range would refuse. Files group by the
    // metaData boundaries observed in the range (a metaData action
    // starts a new epoch; the pre-change tail inherits epoch 0) and
    // each group scans once; a range with no mid-range schema change
    // keeps exactly one scan leg.
    var schemaEpoch = 0
    val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def metaDataSchema(logLine: String): Option[String] =
      try Option(jsonMapper.readTree(logLine).get("metaData"))
        .flatMap(m => Option(m.get("schemaString")).map(_.asText()))
      catch { case scala.util.control.NonFatal(_) => None }
    // schemaString of the current epoch's metaData. Keying the split on
    // an ACTUAL schema change — not on every metaData action — keeps
    // the single-scan guarantee for logs with frequent metadata commits
    // (property changes, CDF key changes) that never alter a column.
    // Seeded by walking BACKWARD from the range to the nearest metaData
    // below it — no log replay (a checkpoint-less replay would refuse
    // truncated logs whose range files are all intact). The walk is
    // MEMOIZED per (version file identity): without it, a long-lived
    // log whose last schema change sits far below the range would
    // re-read every intervening commit json on the driver on EVERY
    // table_changes call — O(versions since the schema change) IO that
    // can dwarf the range itself. Keying each step on the file's
    // (size, mtime) keeps a wiped-and-re-exported root from serving a
    // stale seed. A missing/truncated version before a hit leaves the
    // seed empty (uncached — deletion is the one event that changes a
    // walk's answer), and the first in-range metaData then splits
    // conservatively.
    var epochSchema: Option[String] = {
      var v = fromVersion - 1
      var seed: Option[String] = None
      var done = v < 0
      val visited = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, FileId)]
      while (!done) {
        val lf = logDir.resolve(f"$v%020d.json")
        if (!Files.exists(lf)) done = true
        else {
          val key = (root, v, FileId(lf))
          epochSeedCache.get(key) match {
            case Some(known) => seed = known; done = true
            case None =>
              visited += key
              seed = Files.readString(lf).linesIterator
                .filter(_.contains("\"metaData\""))
                .flatMap(metaDataSchema).nextOption()
              if (seed.isDefined) done = true
              else { v -= 1; done = v < 0 }
          }
        }
      }
      // every walked version's nearest at-or-below metaData is this
      // seed; log jsons are immutable once committed, so the entries
      // never invalidate (truncation deletes files, which the
      // exists-check above handles before the cache is consulted)
      if (seed.isDefined || v < 0) visited.foreach(epochSeedCache.put(_, seed))
      seed
    }
    val perVersion = (fromVersion to toVersion).flatMap { v =>
      val lf = logDir.resolve(f"$v%020d.json")
      require(Files.exists(lf), s"no exported log version $v at $root")
      val txt = Files.readString(lf)
      txt.linesIterator.filter(_.contains("\"metaData\""))
        .flatMap(metaDataSchema).foreach { ss =>
          if (!epochSchema.contains(ss)) schemaEpoch += 1
          epochSchema = Some(ss)
        }
      val cdcPaths = txt.split('\n').toSeq.flatMap(line =>
        deltaActionPath(line, DeltaCdcKindRe).map(raw =>
          deltaDecodePath(deltaUnesc(raw))))
      val ts = txt.linesIterator.filter(_.contains("\"commitInfo\""))
        .flatMap(commitInfoTs).nextOption()
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp",
            ts.map(t => lit(new java.sql.Timestamp(t)))
              .getOrElse(lit(null)).cast("timestamp"))
      if (cdcPaths.nonEmpty) {
        cdcPaths.foreach(p => cdcFiles +=
          ((Paths.get(root).resolve(p).toString, v, ts, schemaEpoch)))
        Nil
      } else {
        // derive path (spec rule for cdc-less commits): dataChange=false
        // actions are pure layout churn (a foreign OPTIMIZE) and derive
        // NOTHING; a remove's own deletionVector masks rows that were
        // already dead before the file was removed
        val (allAdds, allRemoves) = deltaActionsDetailedIn(root, v)
        val adds = allAdds.filter(_.dataChange)
        val removes = allRemoves.filter(_.dataChange)
        require(adds.isEmpty || removes.isEmpty,
          s"version $v of the log at $root rewrote files (remove + add, " +
            "dataChange=true) without recording cdc actions — the change " +
            "data feed was not enabled when it committed; changes were " +
            "not recorded for this range")
        val ins =
          if (adds.isEmpty) None
          else Some(stamp(readDeltaSlice(spark, root, state, adds.map(_.path),
              adds.collect { case DeltaAction(p, Some(d), _) => p -> d }.toMap)
            .withColumn("_change_type", lit("insert"))))
        val del =
          if (removes.isEmpty) None
          else Some(stamp(readDeltaSlice(spark, root, state,
              removes.map(_.path),
              removes.collect { case DeltaAction(p, Some(d), _) => p -> d }
                .toMap)
            .withColumn("_change_type", lit("delete"))))
        ins.toSeq ++ del.toSeq
      }
    }
    val cdcLeg: Option[DataFrame] =
      if (cdcFiles.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{broadcast, concat, raise_error,
          timestamp_millis, when}
        require(cdcFiles.map(_._1).distinct.size == cdcFiles.size,
          s"cdc file referenced by multiple log versions at $root — " +
            "the change files of distinct commits must be distinct")
        import spark.implicits._
        val metaDf = cdcFiles.toSeq.map { case (p, v, ts, _) =>
          (p, v, ts.map(java.lang.Long.valueOf).orNull: java.lang.Long)
        }.toDF("__cdc_path", "__cdc_v", "__cdc_ts")
        // one scan per schema epoch (see the walk above), each cast to
        // the range-end logical schema via align so the epochs union by
        // name; the single broadcast stamp join sits above the union
        val scan = cdcFiles.toSeq.groupBy(_._4).toSeq.sortBy(_._1)
          .map { case (_, group) =>
            align(spark.read
              .option("basePath", Paths.get(root, "_change_data").toString)
              .option("mergeSchema", "true") // union schema WITHIN the
              // epoch, like the per-version unionByName(allowMissing) did
              .parquet(group.map(_._1): _*)
              .withColumn("__p", RowDeletes.scanFileKey("")))
          }
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val joined = scan.join(broadcast(metaDf),
          col("__p") === col("__cdc_path"), "left")
        // the scan reads EXACTLY metaDf's files, so an unmatched row can
        // only mean a path-normalization bug: fail the read, never stamp
        // null versions
        val vCol = when(col("__cdc_v").isNull,
          raise_error(concat(lit("cdc stamp join missed file: "),
            col("__p")))).otherwise(col("__cdc_v"))
        Some(joined
          .withColumn("_commit_version", vCol)
          .withColumn("_commit_timestamp", timestamp_millis(col("__cdc_ts")))
          .drop("__p", "__cdc_path", "__cdc_v", "__cdc_ts"))
      }
    (cdcLeg.toSeq ++ perVersion)
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        // every version in the range was a no-change commit (metadata
        // only, or dataChange=false churn): empty, correctly typed
        import org.apache.spark.sql.types._
        val sch = logical.getOrElse(StructType(Nil))
          .add("_change_type", StringType)
          .add("_commit_version", LongType)
          .add("_commit_timestamp", TimestampType)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      }
  }

  /** commitInfo.timestamp of one action line, parsed as real JSON —
    * foreign writers put arbitrary nested objects (operationParameters,
    * engineInfo) BEFORE the timestamp field, which no flat regex can
    * step over. */
  private def commitInfoTs(line: String): Option[Long] =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(line)
      Option(n.get("commitInfo")).flatMap(ci =>
        Option(ci.get("timestamp")).map(_.asLong()))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** commitInfo.timestamp of one exported/foreign log version (its
    * first commitInfo line) — the stamp the streaming CDF read puts on
    * initial-snapshot rows. None for logs without in-commit stamps. */
  def deltaCommitTsAt(root: String, v: Long): Option[Long] = {
    val lf = Paths.get(root, "_delta_log", f"$v%020d.json")
    if (!Files.exists(lf)) None
    else Files.readString(lf).linesIterator
      .filter(_.contains("\"commitInfo\"")).flatMap(commitInfoTs)
      .nextOption()
  }

  /** Latest exported/foreign log version committed at or before
    * `tsMillis` — the commit time is the log's own commitInfo.timestamp
    * when present (our exports and Delta writers both put it on the
    * first line), the log FILE's mtime otherwise (Delta's classic
    * fallback for logs without in-commit timestamps). */
  def deltaExportVersionAt(root: String, tsMillis: Long): Option[Long] = {
    val logDir = Paths.get(root, "_delta_log")
    if (!Files.isDirectory(logDir)) return None
    withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString)
      .filter { p =>
        try {
          // stream lines and stop at the first commitInfo (our exports
          // and Delta writers put it on the first line) — a TVF
          // timestamp bound on a long log must not read every commit's
          // full action list just to find its stamps
          val src = Files.lines(p)
          val ts =
            try src.iterator().asScala
              .filter(_.contains("\"commitInfo\""))
              .flatMap(commitInfoTs)
              .nextOption()
            finally src.close()
          ts.getOrElse(Files.getLastModifiedTime(p).toMillis) <= tsMillis
        } catch { case _: java.nio.file.NoSuchFileException => false }
      }
      .lastOption.map(_.getFileName.toString.take(20).toLong)
  }

  /** `delta_history('/p')` — the surviving commit history of an
    * exported/foreign Delta log as a read-only relation (Delta's
    * DESCRIBE HISTORY, by quoted path): per JSON version its
    * commitInfo operation/timestamp and add/remove counts — what an
    * operator inspects before checkpoint / cleanup / vacuum. Reads
    * only the log tail (post-cleanup versions); checkpointed-away
    * history is gone by design, exactly like reference Delta after
    * log retention. O(log tail) driver IO, no data scan. */
  /** `delta_files('/p')` — the LIVE add census of the current state
    * with each file's log-claimed shape: committed (decoded) path, the
    * add's stats `numRecords` (null for stats-less adds), on-disk byte
    * size, partitionValues, and the deletion-vector state (flag +
    * cardinality). The relation an operator reads before deciding to
    * OPTIMIZE or VACUUM a foreign Delta table — parity with the
    * Iceberg face's `iceberg_files`. Entirely from the already-parsed
    * replay state ([[deltaStateAt]]): zero data-file IO, no Spark job;
    * the only per-file filesystem touch is a size stat (the number the
    * compaction decision actually needs — a log-claimed size can lie
    * after an out-of-band copy; -1 marks a missing file, which is
    * itself the signal an operator wants surfaced, not an error). A
    * file under a live DV appears ONCE, flagged. */
  def deltaFilesDf(spark: SparkSession, root: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    versionAsOf.foreach(v => require(
      Files.exists(logDir.resolve(f"$v%020d.json")),
      s"no exported log version $v at $root"))
    val cur = versionAsOf.getOrElse(pinForeignDeltaVersion(root, logDir))
    val st = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val rootP = Paths.get(root)
    val rows = st.live.sorted.map { f =>
      val nr = st.stats.get(f).flatMap(statsNumRecords)
      val size =
        try Files.size(rootP.resolve(f))
        catch { case _: java.io.IOException => -1L }
      val pv = st.partVals.get(f)
        .map(_.map { case (k, v) => k -> v.orNull })
        .getOrElse(Map.empty[String, String])
      val dv = st.dvs.get(f)
      (f, nr, size, pv, dv.isDefined, dv.map(_.cardinality))
    }
    rows.toDF("path", "num_records", "size_bytes", "partition_values",
      "has_dv", "dv_cardinality")
  }

  /** `delta_detail('/p')` — the one-row table summary (Delta's
    * DESCRIBE DETAIL shape): live file count, LOGICAL total rows (the
    * adds' stats claim minus live deletion-vector cardinalities — the
    * number `count(*)` over the table serves; 0 for an empty live set,
    * which is exactly known; null only when a live add lacks stats —
    * never a partial sum), on-disk bytes of the live set (-1 when any
    * live file is MISSING on disk — an out-of-band deletion is the
    * damage this relation must surface, not mask as a smaller sum),
    * surviving log version count, and the partition columns.
    * Replay-state surfacing; the only per-file IO is the size stat. */
  def deltaDetailDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val cur = pinForeignDeltaVersion(root, logDir)
    val st = deltaStateAt(spark, root, Some(cur), useCheckpoint = true)
    val counts = st.live.map(f => st.stats.get(f).flatMap(statsNumRecords))
    val numRows: Option[Long] =
      if (counts.isEmpty) Some(0L)
      else if (counts.exists(_.isEmpty)) None
      else Some(counts.flatten.sum -
        st.dvs.values.map(_.cardinality).sum)
    val rootP = Paths.get(root)
    val sizes = st.live.map(f =>
      scala.util.Try(Files.size(rootP.resolve(f))).toOption)
    val sizeBytes =
      if (sizes.exists(_.isEmpty)) -1L else sizes.flatten.sum
    Seq((st.live.size.toLong, numRows, sizeBytes,
      deltaLogVersions(root).size.toLong,
      st.partitionCols.mkString(",")))
      .toDF("num_files", "num_rows", "size_bytes", "num_versions",
        "partition_columns")
  }

  def deltaHistoryDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val logDir = Paths.get(root, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log at $root")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = withDrained(Files.list(logDir))(
      _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
      .sortBy(_.getFileName.toString)
      .map { lf =>
        val v = lf.getFileName.toString.take(20).toLong
        var op: Option[String] = None
        var ts: Option[Long] = None
        var adds = 0L
        var removes = 0L
        Files.readString(lf).split('\n').foreach { line =>
          try {
            val n = om.readTree(line)
            Option(n.get("commitInfo")).foreach { ci =>
              if (op.isEmpty)
                op = Option(ci.get("operation")).map(_.asText())
              if (ts.isEmpty)
                ts = Option(ci.get("timestamp")).filter(_.isNumber)
                  .map(_.asLong())
            }
            if (n.has("add")) adds += 1
            if (n.has("remove")) removes += 1
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        (v, op, ts, adds, removes)
      }
    rows.toDF("version", "operation", "timestamp_ms", "n_adds",
      "n_removes")
  }

  private def readCheckpointSeed(spark: SparkSession,
      logDir: Path, ptr: DeltaCkptPointer): (Option[Long], Seq[String],
      Option[String],
      Map[String, DeltaDv.Descriptor], Map[String, String],
      Map[String, String], Map[String, Map[String, Option[String]]],
      Seq[String], Option[(Int, Int, Seq[String], Seq[String])]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = ptr.version
        val ck = checkpointActionsDf(spark,
          resolveDeltaCheckpoint(spark, logDir, ptr))
        // a v2 top with every file action in sidecars still unions to
        // a schema WITH `add` (the sidecars carry it); guard anyway —
        // an empty-table checkpoint may omit the column entirely
        val addType =
          if (!ck.schema.fieldNames.contains("add"))
            org.apache.spark.sql.types.StructType(Nil)
          else ck.schema("add").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        val hasDv = addType.fieldNames.contains("deletionVector")
        val hasStats = addType.fieldNames.contains("stats")
        val hasPv = addType.fieldNames.contains("partitionValues")
        val addRows =
          if (addType.fields.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else ck.filter(col("add").isNotNull)
          .select(col("add.path").as("p"),
            (if (hasDv) col("add.deletionVector") else lit(null)).as("dv"),
            (if (hasStats) col("add.stats") else lit(null)).as("st"),
            (if (hasPv) col("add.partitionValues") else lit(null)).as("pv"))
          .collect()
        val adds = addRows.map(r => deltaDecodePath(r.getString(0))).toSeq
        val dvm = addRows.flatMap { r =>
          Option(r.get(1)).map { case d: org.apache.spark.sql.Row =>
            deltaDecodePath(r.getString(0)) -> DeltaDv.Descriptor(
              d.getString(0), d.getString(1), d.getLong(2), d.getLong(3),
              d.getLong(4))
          }
        }.toMap
        val stm = addRows.flatMap { r =>
          Option(r.get(2)).map(s =>
            deltaDecodePath(r.getString(0)) -> s.asInstanceOf[String])
        }.toMap
        // partition values seed too: a checkpoint that lost them would
        // silently disable partition pruning for every reader seeding
        // past it (the carried-stats rule, applied to partitions)
        val pvm = addRows.flatMap { r =>
          Option(r.get(3)).map { m =>
            deltaDecodePath(r.getString(0)) ->
              m.asInstanceOf[scala.collection.Map[String, String]]
                .map { case (k, x) => k -> Option(x) }.toMap
          }
        }.toMap
        val mdType =
          if (!ck.schema.fieldNames.contains("metaData"))
            org.apache.spark.sql.types.StructType(Nil)
          else ck.schema("metaData").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        val hasConf = mdType.fieldNames.contains("configuration")
        val hasParts = mdType.fieldNames.contains("partitionColumns")
        val mdRow =
          if (mdType.fields.isEmpty)
            (None: Option[org.apache.spark.sql.Row])
          else ck.filter(col("metaData").isNotNull)
          .select(col("metaData.schemaString").as("s"),
            (if (hasConf) col("metaData.configuration") else lit(null))
              .as("c"),
            (if (hasParts) col("metaData.partitionColumns") else lit(null))
              .as("pc"))
          .collect().headOption
        val sch = mdRow.map(_.getString(0))
        // the table CONFIGURATION must seed too: a checkpointed tail has
        // no metaData action unless the schema changed afterwards, so
        // dropping it here would silently lose column-mapping mode and
        // the CDF flag for every read past the first auto-checkpoint
        val conf = mdRow.flatMap(r => Option(r.get(1)))
          .map(_.asInstanceOf[scala.collection.Map[String, String]].toMap)
          .getOrElse(Map.empty[String, String])
        val pcols = mdRow.flatMap(r => Option(r.get(2)))
          .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)
          .getOrElse(Nil)
        // the PROTOCOL row (the spec requires one in every checkpoint):
        // min versions + feature lists, so a tail with no protocol
        // action still validates against the table's true protocol
        val prot: Option[(Int, Int, Seq[String], Seq[String])] =
          if (!ck.schema.fieldNames.contains("protocol")) None
          else {
            val pType = ck.schema("protocol").dataType
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            def feats(n: String) =
              if (pType.fieldNames.contains(n)) col(s"protocol.$n")
              else lit(null)
            ck.filter(col("protocol").isNotNull)
              .select(col("protocol.minReaderVersion"),
                col("protocol.minWriterVersion"),
                feats("readerFeatures"), feats("writerFeatures"))
              .collect().headOption.map { r =>
                def fl(i: Int): Seq[String] = Option(r.get(i))
                  .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)
                  .getOrElse(Nil)
                (r.getInt(0), r.getInt(1), fl(2), fl(3))
              }
          }
        (Some(v), adds, sch, dvm, conf, stm, pvm, pcols, prot)
  }

  /** Deletion-vector positions of `dvs` as a DISTRIBUTED two-column
    * relation (`__dv_path` STRING, `__dv_pos` BIGINT): the driver ships
    * only the O(files) descriptor list; each blob is resolved and
    * decoded inside a partition on an EXECUTOR. A 1%-of-corpus MOR
    * delete at 100 TB is billions of positions — they must never
    * materialize driver-side. (Blob IO uses the same local/shared-mount
    * resolution [[DeltaDv.readPositions]] itself has.) */
  private def dvPositionsDf(spark: SparkSession, root: String,
      dvs: Map[String, DeltaDv.Descriptor]): DataFrame = {
    import spark.implicits._
    val descs = dvs.toSeq.map { case (p, d) =>
      (p, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
        d.cardinality)
    }
    val slices = math.max(1, math.min(descs.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(descs).repartition(slices)
      .flatMap { case (p, st, pid, off, size, card) =>
        DeltaDv.readPositions(root,
            DeltaDv.Descriptor(st, pid, off, size, card))
          .iterator.map(ri => (p, ri))
      }.toDF(RowDeletes.DelFile, RowDeletes.DelRow)
  }

  private def readDeltaState(spark: SparkSession, root: String,
      state: DeltaReplayState, files: Seq[String], basePath: String,
      mappingMode: String, withPath: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    // root-relative DECODED path of each row's source file — the same
    // form the replay's live/dvs/stats maps key on
    val under = Paths.get(root).toString
    val pathCol =
      if (withPath) Seq(RowDeletes.scanFileKey(under).as("__p")) else Nil
    // DELETION VECTORS: decode each live file's descriptor (spec blob →
    // 64-bit row indexes) and drop those positions. The descriptor side
    // is O(deleted rows of the live files), decoded on EXECUTORS;
    // broadcast while small.
    def applyLogDvs(raw: DataFrame): DataFrame =
      if (state.dvs.isEmpty) raw
      else RowDeletes.dropPositions(raw, under,
        dvPositionsDf(spark, root, state.dvs))
    // the log's LAST metaData schema is authoritative (what any Delta
    // reader selects): request each logical field's TYPE at its PHYSICAL
    // parquet name as an explicit read schema — this serves a
    // type-widened table's narrow-epoch files up to the wide type (a
    // mergeSchema inference would refuse to merge int32 and int64
    // footers), ignores dropped columns the files still carry, and
    // surfaces schema fields no file carries as typed nulls (the parquet
    // reader's missing-column semantics). Only a log with no metaData at
    // all (not a state our exporter produces) falls back to inference.
    schemaJsonToStruct(state.schemaJson) match {
      case Some(st) =>
        import org.apache.spark.sql.types.{StructField, StructType}
        def physOf(f: StructField): String = deltaPhysicalName(f)
        // ID-mode column mapping: fields resolve by PARQUET FIELD ID, not
        // name (the physical parquet column names are opaque). Annotate
        // the requested schema with each field's delta.columnMapping.id
        // as its parquet.field.id and let Spark's field-id matching
        // resolve it; the session flag only engages for schemas that
        // carry ids, so enabling it is inert elsewhere.
        val idMode = mappingMode == "id"
        if (idMode)
          spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        val physical = StructType(st.map { f =>
          val base = StructField(physOf(f), f.dataType, nullable = true)
          if (idMode && f.metadata.contains("delta.columnMapping.id"))
            base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id",
                f.metadata.getLong("delta.columnMapping.id"))
              .build())
          else base
        })
        val raw = spark.read
          .option("basePath", basePath)
          .schema(physical)
          .parquet(files: _*)
        applyLogDvs(raw)
          .select(st.fields.toSeq.map(f => col(physOf(f)).as(f.name)) ++
            pathCol: _*)
      case _ =>
        val raw = spark.read
          .option("basePath", basePath)
          .option("mergeSchema", "true")
          .parquet(files: _*)
        val cols = raw.columns.toSeq
        applyLogDvs(raw).select(cols.map(col) ++ pathCol: _*)
    }
  }

  private def schemaJsonToStruct(schemaJson: Option[String])
      : Option[org.apache.spark.sql.types.StructType] =
    schemaJson.map(org.apache.spark.sql.types.DataType.fromJson).collect {
      case st: org.apache.spark.sql.types.StructType => st
    }

  /** A logical field's PHYSICAL parquet column name under Delta column
    * mapping (identity when the table is unmapped) — the one resolver
    * shared by the read path and the skipping path, so a mapping-mode
    * fix cannot fork them. */
  private def deltaPhysicalName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  private val DeltaPartColsRe = """"partitionColumns":\s*\[([^\]]*)\]""".r

  /** IMPORT a foreign Delta table (transaction log + parquet files) as a
    * NATIVE graft table at `dstRoot`: replay the log's final state,
    * hard-link the live data files into `dstRoot/data` (copy when the
    * link crosses devices), convert deletionVector descriptors into a
    * graft DV sidecar (position parquet + manifest field), record
    * name-mode column mappings as graft renames, and commit it all as
    * version 0 — Delta's CONVERT TO DELTA, pointed the other way. The
    * imported table has the full native feature set from that point:
    * MOR deletes, time travel forward of the import, incremental and
    * streaming readers, the SQL face, and an independent re-export.
    *
    * Guards (refuse, never silently corrupt): id-mode column mapping
    * (name-based native resolution can't honor it), and declared
    * partition columns whose values live only in the log's
    * partitionValues rather than hive `k=` dirs (the graft manifest
    * derives partitioning from paths — importing such a table would
    * null the partition column). */
  def convertFromDelta(spark: SparkSession, srcRoot: String,
      dstRoot: String): Long = {
    require(Files.isDirectory(Paths.get(srcRoot, "_delta_log")),
      s"no _delta_log at $srcRoot")
    require(versions(dstRoot).isEmpty, s"import target is not empty: $dstRoot")
    require(Files.exists(
        Paths.get(srcRoot, "_delta_log", f"${0L}%020d.json")),
      s"log at $srcRoot is truncated below its checkpoint; a from-" +
        "scratch import would build a partial state (read it via " +
        "readDeltaExport instead)")
    val state = replayDeltaLog(srcRoot, None)
    require(state.live.nonEmpty, s"Delta table at $srcRoot has no live files")
    require(state.conf.getOrElse("delta.columnMapping.mode", "none") != "id",
      "cannot import an id-mode column-mapped Delta table: native " +
        "resolution is name-based (read it via readDeltaExport instead)")
    // declared partition columns must be derivable from the paths
    val declaredParts = {
      val logDir = Paths.get(srcRoot, "_delta_log")
      val metaTxt = withDrained(Files.list(logDir))(
        _.filter(_.getFileName.toString.matches("\\d{20}\\.json")))
        .sorted.map(Files.readString(_)).mkString("\n")
      DeltaPartColsRe.findAllMatchIn(metaTxt).toSeq.lastOption
        .map(_.group(1).split(",").toSeq.map(
          _.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
        .getOrElse(Nil)
    }
    declaredParts.foreach { c =>
      state.live.foreach(f => require(hiveEncodesColumn(f, c),
        s"partition column '$c' is not encoded in the path of '$f' " +
          "(non-hive Delta layout); cannot import without a rewrite"))
    }
    def link(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      // a leftover from a previously failed import (the manifest commit
      // is LAST, so a crash leaves only links) — replace, don't fail
      Files.deleteIfExists(dst)
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst)
      }
    }
    // dest layout: data/<source rel path minus any leading data/>
    val mapping = state.live.map(f => f -> f.stripPrefix("data/"))
    require(mapping.map(_._2).distinct.size == mapping.size,
      "import would collide two source files onto one dest path " +
        "(mixed data/-prefixed and bare layouts sharing a name)")
    mapping.foreach { case (srcRel, dstRel) =>
      link(Paths.get(srcRoot).resolve(srcRel), dataDir(dstRoot).resolve(dstRel))
    }
    // deletion vectors: decode every descriptor once — on EXECUTORS, the
    // driver ships only the descriptor list — and land the positions
    // (keyed by DEST-relative path) in one graft sidecar
    val dvField =
      if (state.dvs.isEmpty) None
      else {
        val destRelOf = mapping.toMap
        import org.apache.spark.sql.functions.col
        val destMapDf = spark.createDataFrame(
          destRelOf.toSeq).toDF("__src", "path")
        val dvName = "dv-import"
        Files.createDirectories(deletesDir(dstRoot))
        dvPositionsDf(spark, srcRoot, state.dvs)
          .join(destMapDf, col(RowDeletes.DelFile) === col("__src"))
          .select(col("path"), col(RowDeletes.DelRow).as("pos"))
          // no coalesce(1): a huge foreign delete writes its sidecar in
          // parallel; the sidecar is a directory relation either way
          .write.mode("overwrite") // failed-import leftover replaced
          .parquet(deletesDir(dstRoot).resolve(dvName).toString)
        Some(encodeDvs(state.dvs.keys.toSeq.sorted
          .map(p => destRelOf(p) -> dvName)))
      }
    // name-mode column mapping → graft renames (physical → logical)
    val renames = schemaJsonToStruct(state.schemaJson).toSeq.flatMap(_.flatMap { f =>
      if (f.metadata.contains("delta.columnMapping.physicalName")) {
        val phys = f.metadata.getString("delta.columnMapping.physicalName")
        if (phys.equalsIgnoreCase(f.name)) None else Some(phys -> f.name)
      } else None
    })
    commit(dstRoot, 0, mapping.map(_._2),
      renamedCols = if (renames.isEmpty) None else Some(encodeRenames(renames)),
      dvs = dvField)
  }

  /** ALTER TABLE ADD COLUMNS: commit a new version with the SAME file set
    * and the widened schema recorded in its manifest. Reads at or after
    * this version surface the new columns as typed nulls until appends
    * carry them (then the mergeSchema union takes over) — the metadata-only
    * evolution Delta does, with no data rewritten. Schema-dependent, so a
    * lost CAS race is an error, not a rebase. */
  def alterAddColumns(root: String, colsDdl: String): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val add = org.apache.spark.sql.types.StructType.fromDDL(colsDdl)
    require(add.nonEmpty, s"ALTER ADD COLUMNS: no columns in '$colsDdl'")
    val prior = addedColumnsAt(root, cur)
    val priorNames =
      if (prior.isEmpty) Set.empty[String]
      else org.apache.spark.sql.types.StructType.fromDDL(prior)
        .map(_.name.toLowerCase).toSet
    add.foreach(f => require(!priorNames.contains(f.name.toLowerCase),
      s"column already added: ${f.name}"))
    // a dropped physical name is a tombstone: old files still carry its
    // dead values, and re-adding the name would resurrect them through
    // the mergeSchema union (Delta needs field-id mapping for this;
    // name-based mapping must refuse)
    val dropped = droppedColumnsAt(root, cur).map(_.toLowerCase).toSet
    add.foreach(f => require(!dropped.contains(f.name.toLowerCase),
      s"column '${f.name}' was previously dropped; its name cannot be " +
        "re-used without a full rewrite"))
    // nor may an added column shadow a LOGICAL name taken by a rename
    val logicalTaken = renamedColumnsAt(root, cur).map(_._2.toLowerCase).toSet
    add.foreach(f => require(!logicalTaken.contains(f.name.toLowerCase),
      s"column '${f.name}' already exists (as a renamed column)"))
    // normalize through fromDDL→toDDL (backtick-free names enforced by the
    // SQL face; toDDL's backticks would trip no manifest delimiter, but
    // keep the stored form canonical and re-parseable)
    val merged = (if (prior.isEmpty) add
      else org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(prior) ++ add))
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    commit(root, cur + 1, readManifest(root, cur), addedCols = Some(merged))
  }

  /** Exact numeric promotions ALTER COLUMN TYPE accepts — every narrow
    * value is representable in the wide type, so old files read up with
    * no value change (the Delta type-widening allow-list, minus the
    * lossy long→double it also excludes). */
  private def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case _                                                           => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE, widening only: a metadata-only type
    * epoch (int→bigint, float→double, ...) on the column-mapping
    * machinery. NOTHING is rewritten — files keep their write epoch's
    * physical type and reads request the widened type from the parquet
    * reader (see [[widenedColumnsAt]] / [[widenedPhysicalSchema]]); new
    * writes are pinned to the wide type in [[toPhysical]]. Time travel to
    * a pre-widen version sees the original type (each version's manifest
    * carries its own widen state). Narrowing, non-numeric changes, and
    * partition columns (their values live in directory names, parsed
    * under the declared type) are rejected. */
  def alterWidenColumnType(spark: SparkSession, root: String,
      colName: String, newTypeDdl: String): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val to = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
    val schema = read(spark, root, Some(cur)).schema
    val field = schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER COLUMN TYPE: no column '$colName' " +
          s"(have ${schema.fieldNames.mkString(", ")})"))
    require(isWidening(field.dataType, to),
      s"ALTER COLUMN TYPE only widens (${field.dataType.sql} -> ${to.sql} " +
        "is not an exact numeric promotion)")
    require(!partitionColumns(root).exists(_.equalsIgnoreCase(colName)),
      s"cannot change the type of partition column '$colName'")
    // key the widen by the stable PHYSICAL name, like renames/drops, and
    // REPLACE any previous widen of the same column (int→bigint then
    // bigint→double stores one 'col>DOUBLE' entry; the legality check
    // above already ran against the current EFFECTIVE type)
    val phys = physicalNameAt(root, cur, field.name)
    val merged = widenedColumnsAt(root, cur)
      .filterNot(_._1.equalsIgnoreCase(phys)) :+ (phys -> to.sql)
    commit(root, cur + 1, readManifest(root, cur),
      widenedCols = Some(encodeWidens(merged)))
  }

  private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*"

  /** True when relative path `rel` hive-encodes partition column `c` as
    * an exact `c=` directory SEGMENT — a substring test would wrongly
    * accept 'xcol=1' for column 'col' and let a non-hive table import
    * with the partition column silently null. Shared by the Delta and
    * Iceberg import guards so a fix to one cannot miss the other. */
  private[sources] def hiveEncodesColumn(rel: String, c: String): Boolean =
    rel.split('/').dropRight(1).exists(seg =>
      seg.length > c.length && seg.charAt(c.length) == '=' &&
        seg.regionMatches(true, 0, c, 0, c.length))

  /** Total row count of `relFiles` from parquet FOOTERS only — no data
    * pages, no SparkSession (for metadata-path guards). */
  private def footerRowCount(root: String, relFiles: Seq[String]): Long =
    relFiles.map(rel => parquetRecordCount(dataDir(root).resolve(rel))).sum

  /** Footer-only record count of one parquet file (absolute path). */
  private[sources] def parquetRecordCount(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf))
    try reader.getRecordCount finally reader.close()
  }

  /** Delta-format per-file stats JSON (numRecords always;
    * minValues/maxValues/nullCount for every column whose chunks carry
    * non-null stats AND whose type has an exact Delta JSON value form:
    * plain signed ints (JSON number), float/double with FINITE
    * endpoints (JSON number via the shortest round-trip repr — every
    * decimal between that text and the binary value rounds back to the
    * same double, so the bound stays inclusive; NaN endpoints drop the
    * column because parquet-mr propagates NaN into chunk min/max),
    * DATE (ISO yyyy-MM-dd string, Delta's format), UTC-adjusted
    * TIMESTAMP (full-precision ISO-8601 with 'Z' — exact, so no
    * truncate-and-round-up-the-max dance, and offset-carrying, so the
    * reader's conservative timestamp parse accepts it), and strings up
    * to 64 chars (JSON-escaped; longer bounds are omitted rather than
    * truncated — a truncated max needs a last-char increment to stay a
    * bound). Anything else is omitted, which a Delta reader treats as
    * merely non-skippable, never wrong. One footer read; no data
    * pages. */
  private def fileStatsJson(p: Path): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val n = blocks.map(_.getRowCount).sum
      val cols = blocks.headOption.map(_.getColumns.asScala.map(
        _.getPath.toDotString).toSeq).getOrElse(Nil)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      // per column: (name, min JSON text, max JSON text, null count)
      val entries = cols.flatMap { c =>
        val chunks = blocks.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == c))
        val stats = chunks.map(_.getStatistics)
        if (chunks.isEmpty ||
            stats.exists(s => s == null || !s.hasNonNullValue)) None
        else {
          val t = chunks.head.getPrimitiveType
          def toL(v: Any): Long = v match {
            case l: java.lang.Long    => l
            case i: java.lang.Integer => i.toLong
            case other                => other.toString.toLong
          }
          def reduceL(f: Seq[Long] => Long, pick: Boolean): Long =
            f(stats.map(s => toL(
              if (pick) s.genericGetMin else s.genericGetMax)))
          val plainInt =
            (t.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
              t.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
              (t.getLogicalTypeAnnotation == null ||
                (t.getLogicalTypeAnnotation match {
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    i.isSigned
                  case _ => false
                }))
          val isDate = t.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
            t.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
          // UTC-adjusted INT64 timestamps only; the stored unit scales
          // to micros exactly (MICROS x1, MILLIS x1000). NANOS or
          // local-time (isAdjustedToUTC=false) semantics are omitted.
          val tsScale: Option[Long] =
            if (t.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
            else t.getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if ts.isAdjustedToUTC =>
                ts.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                  case _ => None
                }
              case _ => None
            }
          val isFloating =
            (t.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE ||
              t.getPrimitiveTypeName == PrimitiveTypeName.FLOAT) &&
              t.getLogicalTypeAnnotation == null
          val isString =
            t.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              t.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val jsonMinMax: Option[(String, String)] =
            if (plainInt)
              Some((reduceL(_.min, pick = true).toString,
                reduceL(_.max, pick = false).toString))
            else if (isDate)
              Some((
                java.time.LocalDate.ofEpochDay(
                  reduceL(_.min, pick = true)).toString,
                java.time.LocalDate.ofEpochDay(
                  reduceL(_.max, pick = false)).toString))
                .map { case (a, b) =>
                  (om.writeValueAsString(a), om.writeValueAsString(b)) }
            else if (tsScale.isDefined) {
              // full-precision UTC ISO-8601 with 'Z' — the one form the
              // shared evaluator accepts without timezone ambiguity, and
              // exact (no millis truncation, so no round-up-the-max rule)
              def iso(raw: Long): String = {
                val us = raw * tsScale.get
                java.time.Instant.ofEpochSecond(
                  Math.floorDiv(us, 1000000L),
                  Math.floorMod(us, 1000000L) * 1000L).toString
              }
              Some((
                om.writeValueAsString(iso(reduceL(_.min, pick = true))),
                om.writeValueAsString(iso(reduceL(_.max, pick = false)))))
            }
            else if (isFloating) {
              val mins = stats.map(_.genericGetMin.toString.toDouble)
              val maxs = stats.map(_.genericGetMax.toString.toDouble)
              val (mn, mx) = (mins.min, maxs.max)
              if (mn.isNaN || mn.isInfinite || mx.isNaN || mx.isInfinite)
                None
              else Some((mn.toString, mx.toString))
            } else if (isString) {
              val mins = stats.map(
                _.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary])
              val maxs = stats.map(
                _.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary])
              val mn = mins.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
              val mx = maxs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
              val (ms, xs) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
              if (ms.length > 64 || xs.length > 64) None
              else Some((om.writeValueAsString(ms), om.writeValueAsString(xs)))
            } else None
          // a writer may set min/max but not num_nulls (isNumNullsSet
          // false reads as -1) — emit the null count only when EVERY
          // chunk recorded one, or a foreign reader pruning IS NULL
          // predicates would act on garbage
          val nulls =
            if (stats.forall(_.isNumNullsSet))
              Some(stats.map(_.getNumNulls).sum)
            else None
          jsonMinMax.map { case (mn, mx) => (c, mn, mx, nulls) }
        }
      }
      if (entries.isEmpty) s"""{"numRecords":$n}"""
      else {
        def obj(f: ((String, String, String, Option[Long])) => String) =
          entries.map(t => s""""${t._1}":${f(t)}""").mkString("{", ",", "}")
        val withNulls = entries.filter(_._4.isDefined)
        val nullPart =
          if (withNulls.isEmpty) ""
          else "," + s""""nullCount":${withNulls.map(t =>
            s""""${t._1}":${t._4.get}""").mkString("{", ",", "}")}"""
        s"""{"numRecords":$n,"minValues":${obj(_._2)},""" +
          s""""maxValues":${obj(_._3)}$nullPart}"""
      }
    } finally reader.close()
  }

  /** Enable a GENERATED-ALWAYS identity column: metadata-only commit
    * recording (id column, order keys, watermark = 0). Subsequent
    * [[appendWithIdentity]] calls allocate wm+1..wm+n. The graft variant
    * is DETERMINISTIC where Delta's is not: ids are assigned in the
    * total order of `orderKeys` (which must be unique per batch — the
    * business key), so a rerun of the same ingest produces the same ids
    * and the assignment is oracle-expressible as
    * `wm + row_number() OVER (ORDER BY keys)`. */
  def enableIdentity(root: String, idCol: String, orderKeys: Seq[String]): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(idCol.matches(IdentRe) && orderKeys.nonEmpty &&
      orderKeys.forall(_.matches(IdentRe)),
      s"identity needs valid id column + order keys: $idCol, $orderKeys")
    require(identityAt(root, cur).isEmpty,
      s"identity already enabled at $root")
    // only on a ROW-empty table: existing rows carry no id value, so
    // later reads would surface nulls in a column appendWithIdentity
    // declares non-nullable — and id arithmetic downstream would silently
    // mis-aggregate. Footer-only count (an empty-seed create still writes
    // a zero-row part file; that is fine). A backfill variant would need
    // a full rewrite; the supported path is enable-then-ingest.
    require(footerRowCount(root, readManifest(root, cur)) == 0L,
      s"identity can only be enabled on an empty table; $root already " +
        "holds rows that have no id value (create the table empty, " +
        "enable identity, then ingest via appendWithIdentity)")
    commit(root, cur + 1, readManifest(root, cur),
      identity = Some(encodeIdentity(idCol, orderKeys, 0L)))
  }

  /** Append with GENERATED-ALWAYS identity assignment: every row gets
    * `idCol` = watermark + its rank in the batch's `orderKeys` order,
    * and the commit advances the watermark ATOMICALLY with the data (one
    * manifest CAS — no separate sequence state to drift).
    *
    * Scale shape: the global rank is repartitionByRange + per-partition
    * sort + the two-pass zipWithIndex offset scheme (partition sizes →
    * per-partition base offsets) — the canonical distributed index
    * assignment; no single-partition window anywhere. Deterministic for
    * unique keys regardless of partition boundaries (the sorted order is
    * unique, so each row's global rank is too).
    *
    * Concurrency: a conflicting writer that ADVANCED the watermark makes
    * the allocated ids stale — the ids are already baked into staged
    * files, so this aborts (caller retries the whole call) instead of
    * rebasing; a concurrent non-identity commit rebases as usual. The
    * (txn, txnApp) replay guard runs BEFORE allocation, so a replayed
    * streaming batch neither burns ids nor double-appends. */
  def appendWithIdentity(spark: SparkSession, df: DataFrame, root: String,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long = {
    val cur0 = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val (idCol, keys, wm) = identityAt(root, cur0).getOrElse(
      throw new IllegalStateException(s"identity not enabled at $root"))
    txn.foreach { t =>
      if (lastTxn(root, txnApp).exists(_ >= t)) return cur0 // replayed batch
    }
    require(!df.columns.exists(_.equalsIgnoreCase(idCol)),
      s"GENERATED ALWAYS identity: column '$idCol' may not be supplied")
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val keyCols = keys.map(col)
    val sorted =
      df.repartitionByRange(keyCols: _*).sortWithinPartitions(keyCols: _*)
    val outSchema = sorted.schema.add(idCol, LongType, nullable = false)
    val withId = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (wm + 1 + i))
      }, outSchema)
    val newFiles = writeFiles(withId, root, Nil)
    val n = filesRowCount(spark, root, newFiles)
    var attempt = 0
    while (attempt < 64) {
      val cur = currentVersion(root).get
      identityAt(root, cur) match {
        case Some((_, _, w)) if w != wm =>
          throw new java.util.ConcurrentModificationException(
            s"identity watermark advanced ($wm -> $w) under $root; " +
              "allocated ids are stale — retry appendWithIdentity")
        case None =>
          throw new IllegalStateException(s"identity disabled mid-append at $root")
        case _ => ()
      }
      try return commit(root, cur + 1, readManifest(root, cur) ++ newFiles,
        txn, txnApp, identity = Some(encodeIdentity(idCol, keys, wm + n)))
      catch {
        case e: java.util.ConcurrentModificationException =>
          txn.foreach { t =>
            if (lastTxn(root, txnApp).exists(_ >= t))
              return currentVersion(root).get
          }
          attempt += 1
          if (attempt >= 64) throw e
          Thread.sleep(math.min(64L, 1L << math.min(attempt, 6)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exact row count of freshly-written data files (one footer-only
    * Spark count — no data pages read for a count over parquet). */
  private def filesRowCount(spark: SparkSession, root: String,
      relFiles: Seq[String]): Long =
    if (relFiles.isEmpty) 0L
    else spark.read.parquet(
      relFiles.map(f => dataDir(root).resolve(f).toString): _*).count()

  /** Resolve a LOGICAL column name to its stable physical name under
    * version `v`'s mapping (identity when never renamed). */
  private def physicalNameAt(root: String, v: Long, logical: String): String =
    renamedColumnsAt(root, v).find(_._2.equalsIgnoreCase(logical))
      .map(_._1).getOrElse(logical)

  /** ALTER TABLE RENAME COLUMN: metadata-only commit of the same file set
    * with an updated (physical → logical) mapping — Delta column-mapping
    * semantics. The parquet files are never touched (the only affordable
    * rename at 100 TB); reads surface the new name, writes lower it back
    * to the stable physical name, time travel and RESTORE see each
    * version's own names. Renaming a hive partition column is rejected —
    * its name is baked into directory paths. Schema-dependent, so a lost
    * CAS race is an error, not a rebase. */
  def alterRenameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(newName.matches(IdentRe), s"invalid column name: $newName")
    val logical = read(spark, root, Some(cur)).columns
    require(logical.exists(_.equalsIgnoreCase(oldName)),
      s"RENAME COLUMN: no column '$oldName' (have ${logical.mkString(", ")})")
    require(!logical.exists(_.equalsIgnoreCase(newName)),
      s"RENAME COLUMN: column '$newName' already exists")
    require(!partitionColumns(root).exists(_.equalsIgnoreCase(oldName)),
      s"RENAME COLUMN: '$oldName' is a partition column (its name is part " +
        "of every data path); rewrite the table instead")
    val phys = physicalNameAt(root, cur, oldName)
    val updated = renamedColumnsAt(root, cur)
      .filterNot(_._1.equalsIgnoreCase(phys)) ++
      (if (phys.equalsIgnoreCase(newName)) Nil else Seq(phys -> newName))
    // CDF keys are LOGICAL names: a renamed key must follow, or the next
    // export's changeFeed call fails forever (the mirror hook swallows
    // the error, silently freezing the exported log)
    val cdfKeys = cdfKeysAt(root, cur)
    val cdfUpd =
      if (!cdfKeys.exists(_.equalsIgnoreCase(oldName))) None
      else Some(cdfKeys.map(k =>
        if (k.equalsIgnoreCase(oldName)) newName else k).mkString("|"))
    commit(root, cur + 1, readManifest(root, cur),
      renamedCols = Some(encodeRenames(updated)), cdf = cdfUpd)
  }

  /** ALTER TABLE DROP COLUMN(S): metadata-only — the physical column stays
    * in the files (and in every pre-drop version, where time travel still
    * sees it) but disappears from reads at and after this version. The
    * physical name cannot be re-introduced without a rewrite (old files
    * would resurrect dead values through the mergeSchema union — rejected
    * at the write path). Partition columns and the last remaining column
    * cannot be dropped. */
  def alterDropColumns(spark: SparkSession, root: String,
      names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMN requires at least one column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val logical = read(spark, root, Some(cur)).columns
    names.foreach { n =>
      require(logical.exists(_.equalsIgnoreCase(n)),
        s"DROP COLUMN: no column '$n' (have ${logical.mkString(", ")})")
      require(!partitionColumns(root).exists(_.equalsIgnoreCase(n)),
        s"DROP COLUMN: '$n' is a partition column; rewrite the table instead")
      require(!cdfKeysAt(root, cur).exists(_.equalsIgnoreCase(n)),
        s"DROP COLUMN: '$n' is a change-data-feed key column; the feed " +
          "cannot classify changes without it")
    }
    require(names.map(_.toLowerCase).toSet.size == names.size,
      s"DROP COLUMN: duplicate names in ${names.mkString(", ")}")
    require(logical.length > names.length,
      "DROP COLUMN: cannot drop every column of the table")
    val physNames = names.map(physicalNameAt(root, cur, _))
    // scrub dropped columns out of the other two schema-mapping fields:
    // their rename entries die with them, and an ALTER-ADDed column that
    // is dropped must leave the DDL or the null-backfill would re-add it
    val keptRenames = renamedColumnsAt(root, cur)
      .filterNot { case (p, _) => physNames.exists(_.equalsIgnoreCase(p)) }
    val prior = addedColumnsAt(root, cur)
    val keptAdded =
      if (prior.isEmpty) ""
      else org.apache.spark.sql.types.StructType.fromDDL(prior)
        .filterNot(f => physNames.exists(_.equalsIgnoreCase(f.name)))
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    // an ALTER-ADDed column that no data file ever carried leaves no
    // physical residue — dropping it needs no tombstone
    val addedOnly =
      if (prior.isEmpty) Set.empty[String]
      else org.apache.spark.sql.types.StructType.fromDDL(prior)
        .map(_.name.toLowerCase).toSet
    val carried = readSchemaPhysical(spark, root, cur).map(_.toLowerCase).toSet
    val tombstones = physNames.filter(p =>
      carried.contains(p.toLowerCase) || !addedOnly.contains(p.toLowerCase))
    commit(root, cur + 1, readManifest(root, cur),
      addedCols = Some(keptAdded),
      renamedCols = Some(encodeRenames(keptRenames)),
      droppedCols = Some((droppedColumnsAt(root, cur) ++ tombstones)
        .mkString(", ")))
  }

  /** Materialize the column mapping away (Delta's "column mapping
    * removal"): rewrite the current snapshot with the LOGICAL schema as
    * the new physical one and commit with the mapping, tombstones, and
    * add-DDL cleared — after which exports need no column-mapping
    * protocol and dropped names become usable again. The one full-table
    * rewrite in the mapping lifecycle, priced accordingly: an explicit
    * maintenance operation (like OPTIMIZE), never implicit. */
  def materializeMapping(spark: SparkSession, root: String,
      numFiles: Int = 8, partitionBy: Seq[String] = Nil): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "materializeMapping")
    val snapshot = read(spark, root, Some(cur)) // logical names, typed nulls
    val rewritten =
      if (partitionBy.nonEmpty)
        snapshot.repartition(numFiles, partitionBy.map(snapshot.col): _*)
      else snapshot.coalesce(numFiles)
    // write WITHOUT the logical→physical lowering: the logical names ARE
    // the new physical schema of this rewrite
    val newFiles = writeFilesRaw(rewritten, root, partitionBy)
    // widens clear too: the rewrite materialized the wide type physically
    commit(root, cur + 1, newFiles,
      addedCols = Some(""), renamedCols = Some(""), droppedCols = Some(""),
      widenedCols = Some(""))
  }

  /** Physical column names actually present in version `v`'s data files
    * (parquet footer union — excludes ALTER-ADDed columns nothing carries). */
  private def readSchemaPhysical(spark: SparkSession, root: String,
      v: Long): Seq[String] = {
    val files = readManifest(root, v).map(f => dataDir(root).resolve(f).toString)
    spark.read.option("basePath", dataDir(root).toString)
      .option("mergeSchema", "true").parquet(files: _*).columns.toSeq
  }

  /** Rewrite the current snapshot into `numFiles` files per partition dir
    * (small-file compaction). Data is unchanged; file count shrinks. */
  /** True when the current manifest stores files under hive partition dirs
    * (`col=value/...`). Rewrite operations must re-pass the SAME
    * partitioning, or rewritten flat files and untouched hive files would
    * share a manifest at conflicting depths and break every read. */
  private def isHivePartitioned(root: String, cur: Long): Boolean =
    readManifest(root, cur).exists(_.contains('='))

  private def requirePartitioningMatches(root: String, cur: Long,
      partitionBy: Seq[String], op: String): Unit =
    require(partitionBy.nonEmpty || !isHivePartitioned(root, cur),
      s"$op on a hive-partitioned table requires the table's partitionBy " +
        "columns — a flat rewrite would mix directory depths in one manifest")

  def compact(spark: SparkSession, root: String, numFiles: Int = 1,
      partitionBy: Seq[String] = Nil): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "compact")
    val snapshot = read(spark, root, Some(cur))
    val rewritten =
      if (partitionBy.nonEmpty)
        // numFiles-way hash repartition keyed by the partition columns →
        // at most numFiles files per partition dir (not one mega-file)
        snapshot.repartition(numFiles, partitionBy.map(snapshot.col): _*)
      else snapshot.coalesce(numFiles)
    commit(root, cur + 1, writeFiles(rewritten, root, partitionBy))
  }

  /** PARTITION-SCOPED compaction (Delta's `OPTIMIZE … WHERE`): rewrite
    * only the files of hive partitions matching `where` — a predicate
    * over partition columns ONLY — into at most `numFiles` files per
    * partition dir; every other partition's files carry into the new
    * manifest verbatim. This is the nightly-maintenance shape for a
    * 100 TB lake: the freshest day's partitions (the ones streaming
    * ingest fragmented) rewrite in O(that day), while the cold history
    * is untouched bytes. The partition-only restriction is enforced
    * structurally (a row predicate would make "compact" silently drop
    * rows); the matching-file discovery itself is partition-pruned — the
    * scan lists only matching dirs. Returns the new version, or the
    * current one when nothing (or a single file) matches. */
  def compactWhere(spark: SparkSession, root: String, where: String,
      numFiles: Int = 1): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val partCols = partitionColumns(root).map(_.toLowerCase)
    require(partCols.nonEmpty,
      s"OPTIMIZE WHERE requires a hive-partitioned table; $root has no " +
        "partition columns (use plain compact/compactSmall)")
    val refs = spark.sessionState.sqlParser.parseExpression(where).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase
    }
    val nonPart = refs.filterNot(partCols.contains)
    require(nonPart.isEmpty,
      s"OPTIMIZE WHERE predicate may reference partition columns only " +
        s"(${partCols.mkString(", ")}); found: ${nonPart.mkString(", ")}")
    val matched = filesMatching(spark, root, cur, where).toSeq.sorted
    if (matched.size <= 1) return cur
    val untouched = readManifest(root, cur).filterNot(matched.toSet)
    val rewritten = readFilesLogical(spark, root, cur, matched)
    val packed = rewritten.repartition(numFiles,
      partitionColumns(root).map(rewritten.col): _*)
    commit(root, cur + 1,
      untouched ++ writeFiles(packed, root, partitionColumns(root)))
  }

  /** Size-aware compaction (Delta's OPTIMIZE shape): rewrite ONLY files
    * smaller than `smallBytes`, bin-packed toward one file per
    * `targetBytes` of input; files already at a healthy size keep their
    * manifest entries untouched. A naive [[compact]] rewrites the whole
    * table — O(table) churn per run; this is O(small files), which is what
    * makes nightly compaction affordable on a 100 TB lake where only the
    * freshest partitions have small files. Returns the new version, or the
    * current one unchanged when at most one small file exists. */
  def compactSmall(spark: SparkSession, root: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "compactSmall")
    val all = readManifest(root, cur)
    val sized = all.map(f => f -> Files.size(dataDir(root).resolve(f)))
    val (small, large) = sized.partition(_._2 < smallBytes)
    if (small.size <= 1) return cur
    val totalSmall = small.map(_._2).sum
    val bins = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val rewritten = readFilesLogical(spark, root, cur, small.map(_._1)).coalesce(bins)
    commit(root, cur + 1,
      large.map(_._1) ++ writeFiles(rewritten, root, partitionBy))
  }

  /** Clustered compaction: rewrite the current snapshot range-partitioned
    * and sorted by `clusterCols`, with file stats taken from the parquet
    * FOOTERS of the files just written — no second scan of the data. Each
    * file ends up covering a narrow value range, so `readPruned` on those
    * columns skips most files — the single-dimension form of Z-ordering
    * (for one cluster column the skipping is optimal; for several, files
    * are sorted lexicographically and the leading column prunes best). */
  def cluster(spark: SparkSession, root: String, clusterCols: Seq[String],
      numFiles: Int = 8, partitionBy: Seq[String] = Nil): Long = {
    require(clusterCols.nonEmpty, "cluster requires at least one column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "cluster")
    val snapshot = read(spark, root, Some(cur))
    val cols = clusterCols.map(snapshot.col)
    // partitioned table: cluster WITHIN each hive partition (Delta's
    // OPTIMIZE semantics) — shuffle on the partition key so one task owns
    // a partition's rows, then sort (partition cols first) so each
    // written file covers a narrow cluster-column range inside its dir
    val rewritten =
      if (partitionBy.isEmpty)
        snapshot.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*)
      else snapshot
        .repartition(numFiles, partitionBy.map(snapshot.col): _*)
        .sortWithinPartitions(partitionBy.map(snapshot.col) ++ cols: _*)
    commitClustered(root, cur, rewritten, clusterCols, partitionBy)
  }

  /** Shared commit tail of [[cluster]]/[[zorderCluster]]: write the
    * rewritten snapshot (hive-partitioned when `partitionBy` is set),
    * commit it as the next version, and record footer stats for
    * `statsCols` in the version's stats sidecar. */
  private def commitClustered(root: String, cur: Long, rewritten: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String] = Nil): Long = {
    val newFiles = writeFiles(rewritten, root, partitionBy)
    val v = commit(root, cur + 1, newFiles)
    Files.writeString(statsPath(root, v),
      footerStats(root, newFiles, statsCols).mkString("\n"))
    v
  }

  /** Z-ORDER clustered compaction: rewrite the current snapshot ordered by
    * a space-filling curve over `zCols`, so file ranges stay narrow in
    * EVERY clustered dimension at once — the multi-column layout
    * lexicographic sort can't give (its trailing columns span the full
    * value range in every file). Each column is range-normalized to 16
    * bits (one tiny min/max agg for the bounds), the bits are interleaved
    * into one z-value, and files are range-partitioned + sorted by it;
    * stats for ALL zCols then come from the parquet footers as usual, so
    * `readPruned` skips files on any clustered column. The z-value is a
    * pure layout key — computed, sorted on, dropped — it never lands in
    * the data. */
  def zorderCluster(spark: SparkSession, root: String, zCols: Seq[String],
      numFiles: Int = 8, partitionBy: Seq[String] = Nil): Long = {
    require(zCols.size >= 2, "zorderCluster needs >= 2 columns (use cluster for 1)")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "zorderCluster")
    val snapshot = read(spark, root, Some(cur))
    val rewritten = zorderLayout(snapshot, zCols, numFiles, partitionBy)
    withDeterministicRangeSample(spark)(
      commitClustered(root, cur, rewritten, zCols, partitionBy))
  }

  /** The Z-ORDER layout plan shared by the native [[zorderCluster]]
    * and the foreign [[optimizeDeltaForeign]]'s ZORDER BY form: each
    * column range-normalized to `bits` (one tiny min/max agg for the
    * bounds), bits interleaved into one z-value, rows
    * range-partitioned + sorted by it (within each hive partition when
    * `partitionBy` is set — bounds and bit allocation stay global).
    * The z-value is a pure layout key — computed, sorted on,
    * dropped — it never lands in the data. */
  private def zorderLayout(snapshot: DataFrame, zCols: Seq[String],
      numFiles: Int, partitionBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val bounds = snapshot.agg(
      min(snapshot(zCols.head).cast("double")),
      (max(snapshot(zCols.head).cast("double")) +:
        zCols.tail.flatMap(c => Seq(min(snapshot(c).cast("double")),
          max(snapshot(c).cast("double"))))): _*).head()
    // bit positions go up to bits*nCols-1: cap at 63 TOTAL so the sign bit
    // is never set (a negative __z would sort first and break the curve)
    // and wider column sets shed precision instead of wrapping the shift
    val bits = math.min(16, 63 / zCols.size)
    val norm = zCols.zipWithIndex.map { case (c, i) =>
      // empty snapshot / all-null column leaves null bounds: degrade that
      // column (and any null VALUES) to bucket 0 rather than NPE — the
      // layout stays valid, it just doesn't discriminate on that column
      val (mn, mx) =
        if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) (0.0, 0.0)
        else (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      val span = if (mx > mn) mx - mn else 1.0
      least(lit((1L << bits) - 1), floor(
        (coalesce(snapshot(c).cast("double"), lit(mn)) - lit(mn))
          / lit(span) * lit(1 << bits).cast("double")))
        .cast("long")
    }
    val z = (for { b <- 0 until bits; (c, j) <- norm.zipWithIndex }
      yield shiftleft(shiftright(c, b).bitwiseAND(1L), b * norm.length + j))
      .reduce(_ + _)
    val withZ = snapshot.withColumn("__z", z)
    (if (partitionBy.isEmpty)
      withZ.repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
    else withZ
      .repartition(numFiles, partitionBy.map(snapshot.col): _*)
      .sortWithinPartitions(partitionBy.map(snapshot.col) :+ col("__z"): _*))
      .drop("__z")
  }

  /** Run `body` (a write of a range-partitioned plan) under a
    * deterministic range-exchange sample. RangePartitioner seeds its
    * reservoir sample from the RDD id, so the default
    * 100-rows-per-partition sample gives session-dependent
    * boundaries — two builds of the same table get different layouts,
    * and a boundary that straddles a z-octant edge costs a file of
    * pruning. A sample that COVERS the data at rewrite time makes the
    * boundaries exact quantiles (deterministic layout, octant-aligned
    * on uniform data); the cost stays O(sampleSize × partitions) at
    * any scale, and a 100 TB rewrite that exceeds it merely degrades
    * back to sampled boundaries. */
  private def withDeterministicRangeSample[T](spark: SparkSession)
      (body: => T): T = {
    val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prevSample = spark.conf.getOption(sampleKey)
    spark.conf.set(sampleKey, "200000")
    try body
    finally prevSample match {
      case Some(v) => spark.conf.set(sampleKey, v)
      case None    => spark.conf.unset(sampleKey)
    }
  }

  /** Relative manifest files of version `cur` that contain at least one
    * row matching `cond` — the predicate-based twin of merge's key-based
    * file pruning. O(matching files) rewrite follows, not O(table). */
  private def filesMatching(spark: SparkSession, root: String, cur: Long,
      cond: String): Set[String] =
    // identity-column read, NOT input_file_name() over read(): a DV'd
    // table's snapshot is an anti-JOIN, which input_file_name() rejects
    // (multi-source). DVs are NOT applied here — a file whose only
    // matches are already-deleted rows is rewritten needlessly but
    // correctly (the rewrite itself reads through the DVs).
    readFilesLogicalWithIdentity(spark, root, cur, readManifest(root, cur))
      .filter(cond).select("__dv_rel").distinct().collect()
      .map(_.getString(0)).toSet

  /** Copy-on-write delete: new version = current rows NOT matching
    * `where`. FILE-PRUNED: only files that contain a matching row are
    * rewritten — every other file carries into the new manifest verbatim
    * (same property as [[merge]]; a delete touching one day's rows
    * rewrites that day's files, not the table). */
  def deleteWhere(spark: SparkSession, root: String, where: String,
      partitionBy: Seq[String] = Nil): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "deleteWhere")
    val touched = filesMatching(spark, root, cur, where)
    if (touched.isEmpty) return cur // nothing matches — no-op, no commit
    val untouched = readManifest(root, cur).filterNot(touched)
    val remaining = readFilesLogical(spark, root, cur, touched.toSeq).filter(s"NOT ($where)")
    commit(root, cur + 1, untouched ++ writeFiles(remaining, root, partitionBy))
  }

  /** Version-`v` logical frame over `relFiles` with each row's DV
    * identity (`__dv_rel`, `__dv_ri`) attached and NO deletion vectors
    * applied — the writer-side view MOR deletes (and the change feed's
    * DV diff) compute positions from. */
  private def readFilesLogicalWithIdentity(spark: SparkSession, root: String,
      v: Long, relFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val raw = widenedPhysicalSchema(spark, root, v, relFiles) match {
      case Some(schema) =>
        spark.read.option("basePath", dataDir(root).toString).schema(schema)
          .parquet(relFiles.map(f => dataDir(root).resolve(f).toString): _*)
      case None => readFiles(spark, root, relFiles)
    }
    toLogical(raw.withColumn("__dv_rel",
        RowDeletes.scanFileKey(dataDir(root).toString))
      .withColumn("__dv_ri", col("_metadata.row_index")), root, v)
  }

  /** MERGE-ON-READ delete: record the matching rows' (file, row-position)
    * pairs as a deletion vector instead of rewriting any data file
    * ([[deleteWhere]] is the copy-on-write sibling). The commit keeps the
    * manifest's file list IDENTICAL and attaches the DV; readers
    * anti-join it (see [[applyDvs]]).
    *
    * This is the delete shape that matters at 100 TB: deleting a row from
    * a 1 GB file costs one DV row, not a 1 GB rewrite — write cost is
    * O(matched rows + touched-file DV carry-over), zero data-file IO
    * beyond the position scan of candidate files. The read-side cost (an
    * anti-join per covered file) is reclaimed by [[materializeDvs]] or by
    * any COW rewrite/compaction of the covered files (their entries drop
    * automatically — [[commit]] filters carried DVs to surviving files).
    * A file's repeated MOR deletes merge: the new DV file carries the
    * union of old and new positions, so exactly one DV covers any data
    * file at any version. Delta's deletionVectors / Iceberg's positional
    * delete files are this operator; the Delta mirror requires
    * materialization first (see [[exportDeltaLog]]). */
  def deleteWhereMor(spark: SparkSession, root: String, where: String): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val all = readManifest(root, cur)
    val matches = readFilesLogicalWithIdentity(spark, root, cur, all)
      .filter(where)
      .select(col("__dv_rel").as("path"), col("__dv_ri").as("pos"))
    val touched = matches.select("path").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (touched.isEmpty) return cur // nothing matches — no-op, no commit
    touched.find(_.contains('>')).foreach(f =>
      throw new IllegalArgumentException(
        s"data file path contains '>' (unsupported in the DV manifest field): $f"))
    val prior = dvsAt(root, cur).toMap
    val priorTouched = prior.filter(e => touched.contains(e._1))
    // union with the touched files' EXISTING deleted positions: the new DV
    // file fully replaces the old one for those files (re-matching an
    // already-deleted row is an idempotent no-op under the distinct)
    val merged =
      if (priorTouched.isEmpty) matches.distinct()
      else matches.union(dvRows(spark, root, priorTouched)).distinct()
    val dvName = s"dv-${java.util.UUID.randomUUID()}"
    Files.createDirectories(deletesDir(root))
    merged.coalesce(1).write
      .parquet(deletesDir(root).resolve(dvName).toString)
    val newDvs = (prior ++ touched.map(_ -> dvName)).toSeq.sortBy(_._1)
    commit(root, cur + 1, all, dvs = Some(encodeDvs(newDvs)))
  }

  /** Rewrite exactly the DV-covered files with their deletions applied
    * and clear the table's deletion vectors — one file-pruned COW commit.
    * Reclaims the read-side anti-join and re-enables the Delta mirror
    * (foreign readers don't speak graft DVs). Files without a DV are
    * untouched. */
  def materializeDvs(spark: SparkSession, root: String): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val dvs = dvsAt(root, cur)
    if (dvs.isEmpty) return cur
    val covered = dvs.map(_._1)
    val untouched = readManifest(root, cur).filterNot(covered.toSet)
    val live = readFilesLogical(spark, root, cur, covered) // DVs applied
    commit(root, cur + 1,
      untouched ++ writeFiles(live, root, partitionColumns(root)))
  }

  /** Copy-on-write UPDATE: rows matching `where` get each column in
    * `set` replaced by its expression (evaluated on the OLD row, SQL
    * UPDATE semantics); everything else is untouched. File-pruned like
    * [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, root: String,
      set: Seq[(String, String)], where: String,
      partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, expr, when}
    require(set.nonEmpty, "updateWhere requires at least one SET column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "updateWhere")
    val touched = filesMatching(spark, root, cur, where)
    if (touched.isEmpty) return cur
    val untouched = readManifest(root, cur).filterNot(touched)
    val base = readFilesLogical(spark, root, cur, touched.toSeq)
    val cond = expr(where)
    // all SET expressions evaluate against the PRE-update row: build every
    // new column from `base` before attaching any (no withColumn chain,
    // which would let one SET read another's result)
    val bySet = set.toMap
    val rewritten = base.select(base.columns.toSeq.map { c =>
      bySet.get(c) match {
        case Some(ex) =>
          when(cond, expr(ex).cast(base.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    commit(root, cur + 1, untouched ++ writeFiles(rewritten, root, partitionBy))
  }

  /** Read a specific file subset of the table (rel paths from a manifest). */
  private def readFiles(spark: SparkSession, root: String,
      relFiles: Seq[String]): DataFrame =
    spark.read.option("basePath", dataDir(root).toString)
      .parquet(relFiles.map(f => dataDir(root).resolve(f).toString): _*)

  /** Copy-on-write MERGE (Delta-style upsert): `updates` rows replace
    * current rows with the same `keys` values; update rows matching nothing
    * are inserted. File-pruned: only data files that actually CONTAIN a
    * matched key are rewritten — every other file carries over into the new
    * manifest verbatim. That is the property that matters at 100 TB: a merge
    * touching one day's keys rewrites that day's files, not the table.
    * (Matched-file discovery is a semi join on the keys; with stats/
    * partitioning the same pruning applies before the scan.) */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String], partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long =
    mergeApply(spark, root, updates, updates.limit(0), keys, partitionBy,
      txn, txnApp)

  /** [[merge]] generalized with DELETES (Delta's WHEN MATCHED THEN DELETE
    * / APPLY CHANGES shape): rows with `deleteKeys` values are removed,
    * `updates` rows upsert — in ONE file-pruned copy-on-write commit, so
    * a CDC apply is atomic and txn-stampable (two commits would leave a
    * crash window where deletes applied but upserts did not, or need the
    * full-table rewrite deleteWhere does). Only files containing an
    * upserted OR deleted key are rewritten. A key in both sets ends up
    * with the update row (upsert wins — its post-image IS the net state). */
  def mergeApply(spark: SparkSession, root: String, updates: DataFrame,
      deleteKeys: DataFrame, keys: Seq[String], partitionBy: Seq[String] = Nil,
      txn: Option[Long] = None, txnApp: String = DefaultTxnApp): Long = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    requirePartitioningMatches(root, cur, partitionBy, "merge")
    val all = readManifest(root, cur)
    val snap = readFilesLogical(spark, root, cur, all)
    // null-SAFE key match (<=>): a NULL key in updates must still replace
    // the existing NULL-key row, or repeated merges duplicate it forever
    val keyRows = updates
      .select(keys.map(k => updates.col(k).as(s"__k_$k")): _*)
      .union(deleteKeys.select(keys.map(k => deleteKeys.col(k).as(s"__k_$k")): _*))
      .distinct()
    def keyCond(left: DataFrame) =
      keys.map(k => left(k) <=> keyRows(s"__k_$k")).reduce(_ && _)
    // identity-column read (see filesMatching): input_file_name() cannot
    // sit above a DV'd snapshot's anti-join
    val withFile = readFilesLogicalWithIdentity(spark, root, cur, all)
      .withColumnRenamed("__dv_rel", "__file").drop("__dv_ri")
    val touched: Set[String] = withFile
      .join(keyRows, keyCond(withFile), "left_semi")
      .select("__file").distinct().collect()
      .map(_.getString(0)).toSet
    val untouched = all.filterNot(touched)
    val survivors =
      if (touched.isEmpty) updates.select(snap.columns.map(updates.col).toSeq: _*)
      else {
        val kept = readFilesLogical(spark, root, cur, touched.toSeq)
        kept.join(keyRows, keyCond(kept), "left_anti")
          .unionByName(updates.select(snap.columns.map(updates.col).toSeq: _*))
      }
    commit(root, cur + 1, untouched ++ writeFiles(survivors, root, partitionBy), txn, txnApp)
  }

  // --- Data-skipping statistics (Iceberg-style file pruning) --------------

  private def statsPath(root: String, v: Long): Path =
    manifestDir(root).resolve(s"$v.stats")

  /** Per-file min/max for `cols` from the parquet FOOTERS of `relFiles`
    * (same TSV lines as [[computeStats]], no data scan — the write-time
    * stats path: O(files) footer reads, each a few KB). Numeric chunks
    * surface as Long/Int/Double/Float; INT64-micros timestamps surface as
    * Long epoch-micros, matching `readPruned`'s lo/hi convention. Columns
    * whose chunks lack usable stats (e.g. binary/string, legacy INT96) are
    * simply omitted — readPruned keeps stat-less files, so omission is
    * always safe, never wrong. */
  private def footerStats(root: String, relFiles: Seq[String],
      cols: Seq[String]): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = new org.apache.hadoop.conf.Configuration()
    // Decimal chunks carry UNSCALED integers in their footer stats — divide
    // by 10^scale or the recorded range is off by orders of magnitude and
    // readPruned DROPS files that contain matching rows (wrong results,
    // not just bad pruning).
    def toD(v: Any, scaleDiv: Double): Double = v match {
      case l: java.lang.Long => l.toDouble / scaleDiv
      case i: java.lang.Integer => i.toDouble / scaleDiv
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case _ => Double.NaN
    }
    relFiles.flatMap { rel =>
      val p = new org.apache.hadoop.fs.Path(dataDir(root).resolve(rel).toString)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        cols.flatMap { c =>
          val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
          val stats = chunks.map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
          val scales = chunks.map(_.getPrimitiveType.getLogicalTypeAnnotation match {
            case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              math.pow(10.0, dec.getScale)
            case _ => 1.0
          })
          if (stats.isEmpty || stats.size != chunks.size) None
          else {
            val mins = stats.zip(scales).map { case (s, sc) => toD(s.genericGetMin, sc) }
            val maxs = stats.zip(scales).map { case (s, sc) => toD(s.genericGetMax, sc) }
            if (mins.exists(_.isNaN) || maxs.exists(_.isNaN)) None
            else Some(s"$rel\t$c\t${mins.min}\t${maxs.max}")
          }
        }
      } finally reader.close()
    }
  }

  /** DIAGNOSTIC / backfill path: collect per-file min/max for `cols`
    * (numeric or timestamp) over the CURRENT version by scanning the data,
    * and persist them as the version's stats sidecar (TSV: relpath, col,
    * min, max — timestamps as epoch micros). The PRODUCTION path is
    * [[footerStats]], which `cluster`/`zorderCluster` use at write time
    * (O(files) footer reads, no data scan); use this only to backfill
    * stats onto a table written before stats existed, or for columns whose
    * footer chunks carry no usable stats. */
  def computeStats(spark: SparkSession, root: String, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // identity-column read over the RAW files (see filesMatching): a DV'd
    // snapshot is a join input_file_name() rejects; DV-deleted rows only
    // WIDEN a file's [min,max], and wider stats prune less but never
    // wrongly — the over-approximation a stats sidecar is allowed.
    val df = readFilesLogicalWithIdentity(spark, root, cur,
      readManifest(root, cur))
    def asLongOrDouble(c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ → instant is UTC-pinned (session tz is UTC everywhere here)
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c).cast("double")
    }
    val aggs = cols.flatMap(c => Seq(
      min(asLongOrDouble(c)).cast("double").as(s"min_$c"),
      max(asLongOrDouble(c)).cast("double").as(s"max_$c")))
    val rows = df
      .groupBy(col("__dv_rel")).agg(aggs.head, aggs.tail: _*)
      .collect()
    val lines = rows.flatMap { r =>
      val relPath = r.getString(0)
      cols.map { c =>
        s"$relPath\t$c\t${r.getAs[Double](s"min_$c")}\t${r.getAs[Double](s"max_$c")}"
      }
    }
    Files.writeString(statsPath(root, cur), lines.mkString("\n"))
  }

  /** Read the current version keeping only files whose [min,max] range for
    * `colName` overlaps [lo,hi] (as double / epoch-micros) — Iceberg-style
    * data skipping. Files without stats are kept (safe). The caller still
    * applies the row-level filter; this only prunes whole files. */
  def readPruned(spark: SparkSession, root: String, colName: String,
      lo: Double, hi: Double): DataFrame = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val all = readManifest(root, cur)
    val sp = statsPath(root, cur)
    val keep: Set[String] =
      if (!Files.exists(sp)) all.toSet
      else {
        val ranges = Files.readAllLines(sp).asScala
          .map(_.split("\t")).filter(a => a.length == 4 && a(1) == colName)
          .map(a => a(0) -> (a(2).toDouble, a(3).toDouble)).toMap
        all.filter { f =>
          ranges.get(f) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true
          }
        }.toSet
      }
    val kept = all.filter(keep)
    val files = kept.map(f => dataDir(root).resolve(f).toString)
    applyDvs(spark, root, cur, kept,
      spark.read.option("basePath", dataDir(root).toString).parquet(files: _*))
  }

  // --- Bloom-filter file skipping (point lookups on unclustered columns) --

  private def bloomPath(root: String, v: Long): Path =
    manifestDir(root).resolve(s"$v.bloom")

  /** Typed aggregator building one bloom filter per group (file). The
    * buffer is Spark's spillable-agg-friendly sketch; inputs are the
    * column's values hashed to long. */
  private class BloomAgg(expected: Long, fpp: Double)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, a: java.lang.Long): BloomFilter = {
      if (a != null) b.putLong(a); b
    }
    def merge(x: BloomFilter, y: BloomFilter): BloomFilter = {
      x.mergeInPlace(y); x
    }
    def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos); bos.toByteArray
    }
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[BloomFilter]
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Build a per-file BLOOM sidecar for `cols` (integer-typed; values are
    * hashed as longs) over the current version. Complements the min/max
    * stats sidecar: range stats prune clustered columns, but a
    * hash-scattered key spans every file's [min,max] — only a membership
    * sketch can skip files for a point lookup there. One distributed
    * aggregation per call (map-side partial blooms merge), O(files)
    * sidecar lines; at write time a `cluster`-style rewrite would do this
    * from the rows it just wrote, with the same result. */
  def computeBloom(spark: SparkSession, root: String, cols: Seq[String],
      fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty)
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    // identity-column read over the RAW files (see filesMatching): a DV'd
    // snapshot is a join input_file_name() rejects. DV-deleted rows land
    // in the sketch — a bloom may only over-approximate, so that is safe
    // (their files are merely not skipped).
    val all = readManifest(root, cur)
    val df = readFilesLogicalWithIdentity(spark, root, cur, all)
    val nFiles = math.max(1, all.size)
    val expectedPerFile = math.max(64L, df.count() / nFiles)
    val agg = udaf(new BloomAgg(expectedPerFile, fpp))
    val aggs = cols.map(c => agg(col(c).cast("long")).as(s"__bloom_$c"))
    val rows = df
      .groupBy(col("__dv_rel")).agg(aggs.head, aggs.tail: _*)
      .collect() // O(files) rows, each carrying its tiny sketch
    val enc = java.util.Base64.getEncoder
    val lines = rows.flatMap { r =>
      val rel = r.getString(0)
      cols.zipWithIndex.map { case (c, i) =>
        s"$rel\t$c\t${enc.encodeToString(r.getAs[Array[Byte]](i + 1))}"
      }
    }
    Files.writeString(bloomPath(root, cur), lines.mkString("\n"))
  }

  /** Read the current version keeping only files whose bloom for
    * `colName` might contain `value` — point-lookup file skipping. Files
    * without a bloom entry are kept (safe); the caller still applies the
    * row filter, exactly like [[readPruned]]. */
  def readBloomPruned(spark: SparkSession, root: String, colName: String,
      value: Long): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val all = readManifest(root, cur)
    val bp = bloomPath(root, cur)
    val keep: Set[String] =
      if (!Files.exists(bp)) all.toSet
      else {
        val dec = java.util.Base64.getDecoder
        val blooms = Files.readAllLines(bp).asScala
          .map(_.split("\t")).filter(a => a.length == 3 && a(1) == colName)
          .map(a => a(0) -> BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(dec.decode(a(2))))).toMap
        all.filter(f => blooms.get(f).forall(_.mightContainLong(value))).toSet
      }
    readFilesLogical(spark, root, cur, all.filter(keep))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): a new
    * table whose version 0 references the source's files at `version`
    * (default current) via HARDLINKS — O(files) metadata ops, zero data
    * bytes copied. Safe because data files are immutable by construction:
    * every mutation on either table writes NEW files under its own root,
    * so the clones diverge freely; and vacuum on one side only unlinks
    * its own directory entry — the other side's link keeps the bytes
    * alive (the filesystem refcount plays the role of Delta's shared
    * object store). Schema state (added/renamed/dropped/widened columns),
    * deletion vectors, and the version's stats/bloom sidecars travel with
    * the clone. Falls back to a real copy on filesystems without links. */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion(srcRoot)).getOrElse(
      throw new IllegalStateException(s"no table at $srcRoot"))
    require(versions(dstRoot).isEmpty, s"clone target is not empty: $dstRoot")
    def link(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst)
      }
    }
    val rels = readManifest(srcRoot, v)
    rels.foreach(f => link(dataDir(srcRoot).resolve(f), dataDir(dstRoot).resolve(f)))
    val dvs = dvsAt(srcRoot, v)
    dvs.map(_._2).distinct.foreach { dvRel =>
      val s0 = deletesDir(srcRoot).resolve(dvRel)
      withDrained(Files.walk(s0))(identity).foreach { p =>
        val t = deletesDir(dstRoot).resolve(dvRel).resolve(s0.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else link(p, t)
      }
    }
    Files.createDirectories(manifestDir(dstRoot))
    Seq((statsPath(srcRoot, v), statsPath(dstRoot, 0L)),
      (bloomPath(srcRoot, v), bloomPath(dstRoot, 0L))).foreach { case (s0, d0) =>
      if (Files.exists(s0)) Files.copy(s0, d0,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    commit(dstRoot, 0, rels,
      addedCols = Some(addedColumnsAt(srcRoot, v)),
      renamedCols = Some(encodeRenames(renamedColumnsAt(srcRoot, v))),
      droppedCols = Some(droppedColumnsAt(srcRoot, v).mkString(", ")),
      widenedCols = Some(encodeWidens(widenedColumnsAt(srcRoot, v))),
      dvs = Some(encodeDvs(dvs)),
      // CDF enablement is a table property: a clone of a CDF table keeps
      // recording changes (Delta clone semantics — properties carry)
      cdf = Some(cdfKeysAt(srcRoot, v).mkString("|")))
  }

  // --- Secondary value index (exact value → file inverted index) ---------

  private def valueIndexDir(root: String, colName: String): Path =
    Paths.get(root, "_index", colName)

  /** Build (or rebuild) an exact SECONDARY INDEX on `colName`: the
    * distinct (value, data file) pairs of the current version, written
    * value-range-partitioned and sorted so a point lookup reads one index
    * file (footer min/max prune the rest). This is what min/max stats and
    * blooms cannot give on an UNCLUSTERED column: when every file's value
    * range overlaps (the usual case for a foreign key), stats prune
    * nothing and blooms only probabilistically — the index knows exact
    * membership. Size is O(distinct (value, file)) — the Hyperspace /
    * Iceberg-secondary-index shape. The indexed VERSION is recorded;
    * lookups stay correct against a stale index by also scanning files
    * added since (see [[readValueIndexed]]), so the index is an
    * accelerator with a freshness watermark, never a correctness
    * dependency. */
  def buildValueIndex(spark: SparkSession, root: String, colName: String,
      numFiles: Int = 4): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val all = readManifest(root, cur)
    val dir = valueIndexDir(root, colName)
    readFilesLogicalWithIdentity(spark, root, cur, all)
      .select(col(colName).as("v"), col("__dv_rel").as("f")).distinct()
      .repartitionByRange(numFiles, col("v"))
      .sortWithinPartitions(col("v"))
      .write.mode("overwrite").parquet(dir.toString)
    Files.writeString(dir.resolve("_graft_index_version"), cur.toString)
    cur
  }

  /** Point-lookup read through the [[buildValueIndex]] index: scan only
    * the files the index proves contain `value`, plus every file added
    * since the index was built (stale-safe), intersected with the current
    * manifest (files a COW rewrite replaced fall out; their replacements
    * are in the added set). The caller still applies the row filter,
    * exactly like [[readPruned]]/[[readBloomPruned]]. Driver cost is
    * O(matching files); the index scan itself is footer-pruned to the
    * value's range partition. */
  def readValueIndexed(spark: SparkSession, root: String, colName: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val dir = valueIndexDir(root, colName)
    require(Files.isDirectory(dir),
      s"no index on '$colName' at $root (buildValueIndex first)")
    val vIdx = Files.readString(dir.resolve("_graft_index_version")).trim.toLong
    val curFiles = readManifest(root, cur)
    val indexed = spark.read.parquet(dir.toString)
      .filter(col("v") === lit(value))
      .select("f").distinct().collect().map(_.getString(0)).toSet
    val atIdx = readManifest(root, vIdx).toSet
    val candidates = curFiles.filter(f => indexed(f) || !atIdx(f))
    if (candidates.isEmpty) read(spark, root, Some(cur)).limit(0)
    else readFilesLogical(spark, root, cur, candidates)
  }

  /** The file count a [[readValueIndexed]] lookup would scan — the
    * pruning observability hook (specs assert it beats the manifest
    * size; at 100 TB it is the difference between a point lookup and a
    * table scan on an unclustered column). */
  def valueIndexCandidateCount(spark: SparkSession, root: String,
      colName: String, value: Any): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val dir = valueIndexDir(root, colName)
    val vIdx = Files.readString(dir.resolve("_graft_index_version")).trim.toLong
    val indexed = spark.read.parquet(dir.toString)
      .filter(col("v") === lit(value))
      .select("f").distinct().collect().map(_.getString(0)).toSet
    val atIdx = readManifest(root, vIdx).toSet
    readManifest(root, cur).count(f => indexed(f) || !atIdx(f))
  }

  /** Delta-style RESTORE: commit a NEW version whose file list is exactly
    * that of `toVersion`. History is preserved — the rollback is itself a
    * version, so it can be rolled forward again; no data files move. */
  def restore(root: String, toVersion: Long): Long = {
    val vs = versions(root)
    require(vs.contains(toVersion), s"unknown version $toVersion at $root")
    // restore the SCHEMA of the target epoch too (Delta RESTORE restores
    // table metadata): Some("") clears ALTER-added columns — and the
    // rename/drop mapping — when restoring to a pre-ALTER version instead
    // of carrying the current ones forward
    commit(root, vs.last + 1, readManifest(root, toVersion),
      addedCols = Some(addedColumnsAt(root, toVersion)),
      renamedCols = Some(encodeRenames(renamedColumnsAt(root, toVersion))),
      droppedCols = Some(droppedColumnsAt(root, toVersion).mkString(", ")),
      widenedCols = Some(encodeWidens(widenedColumnsAt(root, toVersion))),
      // the target epoch's DELETION state too: restoring past a MOR
      // delete un-deletes (the files are still there), restoring past a
      // materialization re-attaches nothing (the DVs were cleared)
      dvs = Some(encodeDvs(dvsAt(root, toVersion))),
      // CDF keys are LOGICAL names bound to the schema epoch: restoring
      // past a rename must restore the keys of that epoch, or the next
      // export's changeFeed call references a column the rolled-back
      // schema no longer has (wedging the mirror behind the hook's
      // error swallowing)
      cdf = Some(cdfKeysAt(root, toVersion).mkString("|")))
  }

  /** Incremental read: rows of files ADDED after `fromVersion` up to
    * `toVersion` (default current). For append-only histories this is
    * exactly the appended rows — the CDC-consumer surface; across a
    * compact/merge/cluster version it returns the rewritten files'
    * contents (a file-level over-approximation, as with any
    * change-data-feed-less incremental scan). */
  def readIncremental(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val before = readManifest(root, fromVersion).toSet
    val added = readManifest(root, to).filterNot(before)
    if (added.isEmpty) read(spark, root, Some(to)).limit(0)
    else readFilesLogical(spark, root, to, added)
  }

  /** Change data feed between two versions (Delta CDF semantics, computed
    * from the manifest diff instead of stored change files): row-level net
    * changes with a `_change_type` column ∈ insert / delete /
    * update_preimage / update_postimage. `keys` identify rows across the
    * rewrite, exactly as in [[merge]].
    *
    * Only files that CHANGED between the two manifests are read — a file
    * carried through untouched is immutable, so it contains no changes by
    * definition. At 100 TB the diff therefore costs O(churned files), not
    * O(table); the keyed full-outer join shuffles only those rows. A row
    * rewritten with identical values (pure file churn: compaction,
    * clustering, a merge rewriting non-matched neighbors) emits nothing.
    * Spanning multiple versions collapses intermediate states to the NET
    * change, like Delta CDF over a version range with intermediate
    * rewrites. Schema evolution across the span surfaces as the union
    * schema, absent columns null. */
  def changeFeed(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): DataFrame =
    // the native-face twin of the readDeltaExport memo: the diff plan is
    // a pure function of the two pinned manifests (+ mapping/DV state,
    // all under _manifest) — fingerprint the whole _manifest listing
    readMemo(spark, s"cdf@$root@${FileId.listing(manifestDir(root))}" +
        s"@$fromVersion@$toVersion@${keys.mkString(",")}") {
      changeFeedUncached(spark, root, fromVersion, toVersion, keys)
    }

  private def changeFeedUncached(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "changeFeed requires at least one key column")
    val fromM = readManifest(root, fromVersion)
    val toM = readManifest(root, toVersion)
    val removed = fromM.filterNot(toM.toSet)
    val added = toM.filterNot(fromM.toSet)
    // The pre side reads under ITS OWN epoch (fromVersion's mapping
    // resolves its files' physical names, its tombstones hide dropped
    // columns, its DV state hides MOR-deleted rows), then its logical
    // names are BRIDGED onto the END epoch's (Delta CDF's
    // single-schema-per-range rule) by PHYSICAL identity below. Reading
    // the pre side directly under the end epoch is wrong both ways: a
    // RESTORE past a rename leaves the end mapping unable to name the
    // pre files' columns (fabricated null-keyed delete+insert pairs),
    // and a materializeMapping commit REWRITES physical names, so the
    // end epoch's cleared mapping mis-names every pre-materialization
    // file (the same fabrication, whole-table).
    val pre0raw = if (removed.isEmpty) read(spark, root, Some(fromVersion)).limit(0)
                  else readFilesLogical(spark, root, fromVersion, removed)
    val post0 = if (added.isEmpty) read(spark, root, Some(toVersion)).limit(0)
                else readFilesLogical(spark, root, toVersion, added)
    // Bridge: a logical column keeps its PHYSICAL identity across
    // rename/restore epochs (mappings are metadata over stable physical
    // names), and materialization physicalizes the logical names
    // themselves — in both cases, the from-epoch logical name of an
    // end-epoch column's physical name is the pre-side column that IS
    // that column. One select applies every rename simultaneously
    // (swap-safe); columns with no end-epoch counterpart keep their
    // names and null-align like any dropped column.
    val fromLogicalOfPhys = renamedColumnsAt(root, fromVersion)
      .map { case (p, l) => p.toLowerCase -> l }.toMap
    val bridge: Map[String, String] = post0.columns.toSeq.flatMap { lTo =>
      val pTo = physicalNameAt(root, toVersion, lTo)
      val lFrom = fromLogicalOfPhys.getOrElse(pTo.toLowerCase, pTo)
      if (lFrom.equalsIgnoreCase(lTo)) None
      else Some(lFrom.toLowerCase -> lTo)
    }.toMap
    val pre0 =
      if (bridge.isEmpty) pre0raw
      else pre0raw.select(pre0raw.columns.map(c =>
        pre0raw(c).as(bridge.getOrElse(c.toLowerCase, c))): _*)
    // union schema by name: a column absent on one side reads as null of
    // the other side's type (mergeSchema read semantics, mirrored here)
    val allCols = pre0.columns.toSeq ++
      post0.columns.toSeq.filterNot(pre0.columns.contains)
    require(keys.forall(allCols.contains),
      s"changeFeed keys ${keys.filterNot(allCols.contains)} not in ${allCols.mkString(",")}")
    def align(df: DataFrame, other: DataFrame): DataFrame =
      df.select(allCols.map { c =>
        if (df.columns.contains(c)) df(c)
        else lit(null).cast(other.schema(c).dataType).as(c)
      }: _*)
    // presence markers: a full-outer non-match is the ONLY way these are
    // null, so they distinguish "no row" from a row of all-null columns
    val pre = align(pre0, post0).withColumn("__pre", lit(true))
    val post = align(post0, pre0).withColumn("__post", lit(true))
    val joinCond = keys.map(k => pre(k) <=> post(k)).reduce(_ && _)
    val j = pre.join(post, joinCond, "full_outer")
    val same = allCols.map(c => pre(c) <=> post(c)).reduce(_ && _)
    val preRow = struct(allCols.map(c => pre(c).as(c)): _*)
    val postRow = struct(allCols.map(c => post(c).as(c)): _*)
    val fileLevel =
      j.filter(pre("__pre").isNull || post("__post").isNull || !same)
      .select(explode(
        when(pre("__pre").isNull,
          array(struct(lit("insert").as("_change_type"), postRow.as("row"))))
        .when(post("__post").isNull,
          array(struct(lit("delete").as("_change_type"), preRow.as("row"))))
        .otherwise(array(
          struct(lit("update_preimage").as("_change_type"), preRow.as("row")),
          struct(lit("update_postimage").as("_change_type"), postRow.as("row"))))
      ).as("c"))
      .select(col("c._change_type").as("_change_type"), col("c.row.*"))
    // MERGE-ON-READ deletes change no files — they change a carried
    // file's DELETION-VECTOR entry. For files present in both manifests
    // whose DV differs, the position sets diff directly: positions in
    // to∖from are deletes; from∖to (a RESTORE past a MOR delete) are
    // re-inserts. Cost is O(changed files' rows + DV rows) — the same
    // churned-files-only property as the file-level diff.
    val common = fromM.toSet.intersect(toM.toSet)
    val dvFrom = dvsAt(root, fromVersion).toMap
    val dvTo = dvsAt(root, toVersion).toMap
    val dvChanged = common.filter(f => dvFrom.get(f) != dvTo.get(f)).toSeq.sorted
    if (dvChanged.isEmpty) fileLevel
    else {
      val emptyPos = spark.range(0)
        .select(lit("").as("path"), lit(0L).as("pos"))
      def rowsOf(m: Map[String, String]): DataFrame = {
        val sub = m.filter(e => dvChanged.contains(e._1))
        if (sub.isEmpty) emptyPos else dvRows(spark, root, sub)
      }
      val toPos = rowsOf(dvTo)
      val fromPos = rowsOf(dvFrom)
      val withId = readFilesLogicalWithIdentity(spark, root, toVersion, dvChanged)
      def tag(posSet: DataFrame, t: String): DataFrame =
        align(withId.join(
            posSet.select(col("path").as("__dv_path"), col("pos").as("__dv_pos")),
            col("__dv_rel") === col("__dv_path") &&
              col("__dv_ri") === col("__dv_pos"), "left_semi")
          .drop("__dv_rel", "__dv_ri"), pre0)
          .select(lit(t).as("_change_type") +: allCols.map(col): _*)
      fileLevel
        .union(tag(toPos.except(fromPos), "delete"))
        .union(tag(fromPos.except(toPos), "insert"))
    }
  }

  /** Drop manifests older than `retainLast` versions and delete data files
    * no retained manifest references. Returns deleted file count. */
  def vacuum(root: String, retainLast: Int = 1): Int = {
    val vs = versions(root)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - retainLast))
    vacuumDrop(root, drop, keep)
  }

  /** TIME-based retention (Delta's `VACUUM … RETAIN n HOURS`): drop every
    * version whose IN-COMMIT timestamp (manifest-mtime fallback for
    * pre-field manifests) is older than `retainHours` before `nowMillis`,
    * and reclaim the data/DV files only those versions referenced. The
    * CURRENT version is always kept regardless of age — vacuum reclaims
    * history, never the table. `nowMillis` is injectable so retention is
    * testable without wall-clock sleeps. Time travel to a reclaimed
    * version afterwards fails with a version-not-found error listing the
    * available range, as Delta's does. */
  def vacuumRetainHours(root: String, retainHours: Double,
      nowMillis: Long = System.currentTimeMillis()): Int = {
    require(retainHours >= 0, s"retainHours must be >= 0, got $retainHours")
    val vs = versions(root)
    if (vs.isEmpty) return 0
    val horizon = nowMillis - (retainHours * 3600 * 1000).toLong
    def tsOf(v: Long): Long =
      commitTsAt(root, v).getOrElse(Files.getLastModifiedTime(
        manifestDir(root).resolve(s"$v.json")).toMillis)
    val (drop, keep) = vs.init.partition(tsOf(_) < horizon)
    vacuumDrop(root, drop, keep :+ vs.last)
  }

  private def vacuumDrop(root: String, drop: Seq[Long], keep: Seq[Long]): Int = {
    val live = keep.flatMap(readManifest(root, _)).toSet
    // deletion-vector files referenced by any RETAINED version stay; the
    // rest (superseded by a later merge, cleared by materializeDvs, or
    // belonging only to dropped versions) delete with the history
    val liveDvs = keep.flatMap(dvsAt(root, _)).map(_._2).toSet
    var deleted = 0
    drop.foreach { v =>
      readManifest(root, v).filterNot(live).foreach { f =>
        if (Files.deleteIfExists(dataDir(root).resolve(f))) deleted += 1
      }
      Files.deleteIfExists(manifestDir(root).resolve(s"$v.json"))
      Files.deleteIfExists(statsPath(root, v))
      Files.deleteIfExists(bloomPath(root, v))
    }
    if (Files.isDirectory(deletesDir(root)))
      withDrained(Files.list(deletesDir(root)))(_.filter(p =>
          !liveDvs.contains(p.getFileName.toString)))
        .foreach { p =>
          withDrained(Files.walk(p))(identity)
            .sortBy(_.getNameCount).reverse
            .foreach(q => Files.deleteIfExists(q))
          deleted += 1
        }
    // open-format maintenance rides the vacuum: dead Delta log JSONs
    // below the latest checkpoint go (readers seed from
    // _last_checkpoint), and the Iceberg chain expires the dropped
    // versions' snapshots — without this both metadata populations grow
    // with table age forever. Neither count is data reclamation, so the
    // return value stays the data-file number callers assert on.
    cleanDeltaLog(root, drop)
    IcebergMeta.maybeExpire(root, keep)
    deleted
  }

  /** Delete log JSONs of DROPPED graft versions strictly below the
    * latest exported checkpoint — a foreign reader seeds from
    * `_last_checkpoint` and replays only the tail, so those files are
    * dead weight once their data is vacuumed. Logs at or above the
    * checkpoint (or when no checkpoint exists) stay, keeping every
    * supported replay path valid; the full-JSON replay path then
    * REQUIRES log v0 and refuses a truncated log loudly. */
  private def cleanDeltaLog(root: String, dropped: Seq[Long]): Int = {
    val logDir = Paths.get(root, "_delta_log")
    if (!Files.isDirectory(logDir)) return 0
    // key on the _last_checkpoint POINTER, not checkpoint file names:
    // readers seed only from the pointer, and the documented crash state
    // (checkpoint written, pointer not yet) must not trigger truncation
    // of a log no read path could then reconstruct
    val pointer = parseLastCheckpoint(logDir)
      .map(_.version).getOrElse(return 0)
    val droppedSet = dropped.toSet
    // only a PREFIX of the surviving versions may go — deleting a middle
    // version (a non-prefix drop set from time-based retention under
    // skewed mtimes) would leave a gap no replay path can cross
    val deletable = deltaLogVersions(root)
      .takeWhile(v => droppedSet.contains(v) && v < pointer)
    if (deletable.isEmpty) return 0
    var n = 0
    deletable.foreach { v =>
      val lf = logDir.resolve(f"$v%020d.json")
      // a version's _change_data parquet is referenced ONLY by its own
      // commit JSON — reclaim it with the JSON, or a CDF table under
      // steady churn grows its change-data population forever (the same
      // aging failure vacuum closes for manifests and checkpoints)
      if (Files.exists(lf)) {
        Files.readString(lf).split('\n').foreach { line =>
          deltaActionPath(line, DeltaCdcKindRe).foreach { raw =>
            val rel = deltaDecodePath(deltaUnesc(raw))
            // DELETES must never follow a crafted path out of the table
            // root (a foreign/imported log line like
            // "_change_data/../../x"): normalize and re-check ancestry
            val target = Paths.get(root).resolve(rel).normalize()
            if (rel.startsWith("_change_data/") &&
                target.startsWith(
                  Paths.get(root, "_change_data").normalize()) &&
                Files.deleteIfExists(target)) n += 1
          }
        }
      }
      if (Files.deleteIfExists(lf)) n += 1
    }
    // superseded checkpoint files below the pointer are derivable
    // state nothing reads — without this they accumulate one full
    // table-snapshot per cadence forever. All three layouts count:
    // classic, multi-part fragments, v2 (UUID-named) tops. v2 SIDECAR
    // parquets stay: the spec lets checkpoints SHARE sidecars, so
    // reclaiming one requires proving no retained checkpoint
    // references it — not worth the bookkeeping for files only a
    // foreign writer creates
    withDrained(Files.list(logDir))(
      _.map(_.getFileName.toString)
        .filter(_.matches(
          """\d{20}\.checkpoint(\.\d{10}\.\d{10}|\.[^.]+)?\.(parquet|json)"""))
        .filter(_.take(20).toLong < pointer))
      .foreach { f => if (Files.deleteIfExists(logDir.resolve(f))) n += 1 }
    // the horizon marker turns every later would-be-partial replay into
    // a loud refusal (see replayDeltaLog)
    val tmp = Files.createTempFile(logDir, ".trunc-tmp", ".txt")
    Files.writeString(tmp, pointer.toString)
    Files.move(tmp, logDir.resolve("_graft_truncation"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    n
  }
}

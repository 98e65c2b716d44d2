package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** APACHE ICEBERG metadata mirror — the second open format the north
  * star names ("Delta/Iceberg-style lakehouse tables"): every graft
  * version is exported as an Iceberg FORMAT-VERSION 2 snapshot chain
  * under the table root, the Hadoop-catalog layout a foreign Iceberg
  * reader opens directly:
  * {{{
  *   root/metadata/v<N>.metadata.json     one per graft version (N = v+1)
  *   root/metadata/version-hint.text      latest N (Hadoop catalog hint)
  *   root/metadata/snap-<snapshotId>.avro manifest LIST, one per snapshot
  *   root/metadata/m-<snapshotId>-*.avro  manifest files (avro, field-ids)
  * }}}
  * following the public Iceberg table spec (iceberg.apache.org/spec):
  * metadata.json carries schemas (with stable field-ids), the identity
  * partition spec, the full snapshot list with sequence numbers and
  * parent links, snapshot-log and metadata-log; each snapshot points to
  * an Avro manifest list whose entries point to Avro manifest files
  * whose entries carry (status, data_file{file_path, partition,
  * record_count, file_size_in_bytes}). Like the Delta mirror
  * ([[LakehouseTable.exportDeltaLog]]) the export is INCREMENTAL and
  * IDEMPOTENT — files for already-exported versions are never rewritten,
  * and once a chain exists every later graft commit advances it in the
  * same call ([[maybeAdvance]], hooked into [[LakehouseTable]]'s commit).
  *
  * Manifest strategy (the 100 TB shape): an APPEND snapshot REUSES every
  * prior manifest and adds one new manifest listing only the added files
  * — commit cost O(new files), not O(table). A snapshot that removed
  * files (COW delete/merge/compact/overwrite) writes one fresh manifest
  * of the live set and lists only it (Iceberg's rewrite-manifests
  * shape); dead files never linger behind a live manifest list.
  *
  * MOR deletion vectors mirror as v2 POSITION-DELETE files: the full
  * current DV state lands in sorted (file_path, pos) parquet with the
  * spec's reserved field-ids behind a content=1 delete manifest —
  * PARTITION-SCOPED, one delete file per hive partition with deletions
  * (its manifest entry carries the partition values, so spec readers
  * prune delete application), written by one distributed job; rewritten
  * whenever the DV state changes (the rewrite-delete-files shape), and
  * RE-STAMPED at a rewrite's sequence number when carried unchanged
  * (spec readers apply deletes only to data-seq <= delete-seq).
  *
  * Scope guards (refuse, never corrupt): active column mapping
  * (rename/drop) is the Delta mirror's domain — its Iceberg
  * counterpart needs field ids inside the data files, which the
  * shared-parquet layout doesn't carry. Everything else — appends, COW
  * rewrites, MOR deletes, schema ADD COLUMNS, ALTER COLUMN TYPE
  * widening (Iceberg's legal int→long / float→double type promotion:
  * the field keeps its id, the schema carries the wide type, data
  * files stay narrow and readers serve them under the requested type),
  * hive partitioning — mirrors, and [[convertToGraft]] imports the
  * other direction (position deletes become a native DV sidecar). */
object IcebergMeta {

  private def metaDir(root: String): Path = Paths.get(root, "metadata")

  /** Deterministic positive snapshot id for (root, version): concurrent
    * exporters write identical chains, and an incremental run can name
    * every prior snapshot without reading it back. */
  def snapshotId(root: String, v: Long): Long = {
    val h = graft.plans.TextExpressions.md5Hex(s"iceberg:$root#$v")
    java.lang.Long.parseLong(h.take(15), 16) // 60 bits, positive
  }

  // (root, data-relative file) → footer row count; files are immutable.
  // Failures are NOT cached and FAIL the export: spec readers may answer
  // metadata-only count(*) from record_count, so a transient IO error
  // must never bake 0 into an immutable manifest (a write-through
  // advance catches the failure and lags the mirror instead).
  private val rowCountCache = TrieMap.empty[(String, String), Long]
  private def rowsOf(root: String, rel: String): Long =
    rowCountCache.get((root, rel)).getOrElse {
      val n = LakehouseTable.parquetRecordCount(Paths.get(root, "data", rel))
      rowCountCache.put((root, rel), n)
      n
    }

  /** Per-column manifest METRICS of one data file, from its parquet
    * footer: field id → (value count, null count, lower/upper bound
    * bytes in the spec's single-value binary serialization — LE
    * primitives, UTF-8 strings). A column whose chunk statistics are
    * missing or whose type has no supported serialization is simply
    * absent (the maps are per-column optional). Bounds require EVERY
    * chunk to carry usable stats — a partial merge would be a wrong
    * bound, the failure class file skipping cannot tolerate. One footer
    * open per ADDED file per export, the same IO class as the
    * record-count read; cached per (file, requested types) — the TYPE
    * is part of the key because the serialization embeds it: an ALTER
    * COLUMN TYPE widening re-listing carried files must not re-serve
    * bounds cached under the narrow type. (A sibling chunk-stat merger
    * lives in TableStatistics.appendFooter for the native stats
    * advance; their edge rules must stay aligned — esp. the NaN
    * exclusion below.) */
  private val footerMetricsCache = TrieMap.empty[String,
    Map[Int, (Long, Option[Long], Option[(Array[Byte], Array[Byte])], Option[Long])]]
  private def footerMetrics(p: Path,
      cols: Map[String, (Int, org.apache.spark.sql.types.DataType)])
      : Map[Int, (Long, Option[Long], Option[(Array[Byte], Array[Byte])], Option[Long])] = {
    // file identity includes (size, mtime): a wiped-and-re-exported root
    // reusing a data-file path in the same JVM must not serve the old
    // file's bounds into new manifests (the manifestPartCache discipline)
    footerMetricsCache.getOrElseUpdate(
      FileId.orAbsent(p).toString + "#" + cols.toSeq.sortBy(_._1).map {
        case (n, (id, dt)) => s"$n:$id:${dt.simpleString}" }.mkString(","), {
      import org.apache.spark.sql.types._
      import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import java.nio.{ByteBuffer, ByteOrder}
      // the chunk's PHYSICAL encoding must match what the Spark type's
      // single-value serialization assumes. Graft-written files always
      // do, but an imported foreign file (hard-linked parquet) may not:
      // an INT64 TIMESTAMP_MILLIS chunk serialized as-is would become
      // spec-invalid micros bounds (1000x off) that make every spec
      // reader — including pruneFiles — silently skip matching files.
      // MILLIS converts exactly (x1000); anything else unexpected drops
      // the column's bounds, like the INT96/Binary fallthrough.
      def tsUnit(t: PrimitiveType): Option[Long] =
        t.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getPrimitiveTypeName == INT64 && ts.isAdjustedToUTC =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
              case _ => None // NANOS: lossy either direction; drop
            }
          case _ => None
        }
      def physOk(t: PrimitiveType, dt: DataType): Boolean = (dt, t) match {
        case (IntegerType | ShortType | ByteType | DateType, _) =>
          t.getPrimitiveTypeName == INT32
        case (LongType, _) => t.getPrimitiveTypeName == INT64 &&
          (t.getLogicalTypeAnnotation match {
            case null => true
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              i.isSigned && i.getBitWidth == 64
            case _ => false
          })
        case (TimestampType, _) => tsUnit(t).isDefined
        case (FloatType, _) => t.getPrimitiveTypeName == FLOAT
        case (DoubleType, _) => t.getPrimitiveTypeName == DOUBLE
        case (BooleanType, _) => t.getPrimitiveTypeName == BOOLEAN
        case (StringType, _) => t.getPrimitiveTypeName == BINARY
        case _ => false
      }
      // the spec forbids NaN in lower/upper_bounds, and parquet-mr
      // propagates NaN into chunk min/max (making BOTH untrustworthy);
      // non-finite endpoints drop the column's bounds entirely
      def ser(v: Any, dt: DataType, t: PrimitiveType): Option[Array[Byte]] =
        (dt, v) match {
          case _ if !physOk(t, dt) => None
          case (IntegerType | DateType | ShortType | ByteType,
              n: java.lang.Number) =>
            Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
              .putInt(n.intValue()).array())
          case (TimestampType, n: java.lang.Number) =>
            Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
              .putLong(n.longValue() * tsUnit(t).get).array())
          case (LongType, n: java.lang.Number) =>
            Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
              .putLong(n.longValue()).array())
          case (FloatType, f: java.lang.Float) if !f.isNaN && !f.isInfinite =>
            Some(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
              .putFloat(f).array())
          case (DoubleType, d: java.lang.Double) if !d.isNaN && !d.isInfinite =>
            Some(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
              .putDouble(d).array())
          case (BooleanType, b: java.lang.Boolean) =>
            Some(Array[Byte](if (b) 1 else 0))
          case (StringType, b: org.apache.parquet.io.api.Binary) =>
            Some(b.getBytes)
          case _ => None
        }
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString),
        new org.apache.hadoop.conf.Configuration())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      // per column: (values, nulls-or-unknown, min, max, boundsUsable,
      // the chunks' shared PrimitiveType — chunks of one column that
      // disagree on physical type void the bounds)
      val acc = scala.collection.mutable.Map.empty[String,
        (Long, Option[Long], Option[Any], Option[Any], Boolean,
          Option[PrimitiveType])]
      try {
        rd.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { cc =>
            if (cc.getPath.size() == 1) {
              val name = cc.getPath.toDotString.toLowerCase
              val st = cc.getStatistics
              val (v0, n0, lo0, hi0, ok0, pt0) = acc.getOrElse(name,
                (0L, Some(0L): Option[Long], None: Option[Any],
                  None: Option[Any], true, None: Option[PrimitiveType]))
              val v1 = v0 + cc.getValueCount
              val n1 =
                if (st == null || st.isEmpty || !st.isNumNullsSet) None
                else n0.map(_ + st.getNumNulls)
              val usable = st != null && !st.isEmpty
              val samePt = pt0.forall(_ == cc.getPrimitiveType)
              val (lo1, hi1, ok1) =
                if (!usable || !samePt)
                  (lo0, hi0, false) // statless/type-mixed chunk voids bounds
                else if (!st.hasNonNullValue) (lo0, hi0, ok0) // all-null chunk
                else {
                  val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                  val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                  (Some(lo0.fold(mn: Any)(l =>
                      if (mn.compareTo(l) < 0) mn else l)),
                    Some(hi0.fold(mx: Any)(h =>
                      if (mx.compareTo(h) > 0) mx else h)), ok0)
                }
              acc(name) = (v1, n1, lo1, hi1, ok1,
                pt0.orElse(Some(cc.getPrimitiveType)))
            }
          }
        }
      } finally rd.close()
      acc.flatMap { case (name, (values, nulls, lo, hi, ok, pt)) =>
        cols.get(name).map { case (id, dt) =>
          val bounds = for {
            _ <- if (ok) Some(()) else None
            t <- pt
            l <- lo; h <- hi
            lb <- ser(l, dt, t); hb <- ser(h, dt, t)
          } yield (lb, hb)
          // parquet-mr PROPAGATES NaN into chunk min/max, so finite
          // serialized bounds on a floating column imply the file holds
          // no NaN at all — exactly what nan_value_counts=0 asserts,
          // and what lets a reader trust the UPPER bound under SQL
          // engines ordering NaN above every value (Spark, DuckDB)
          val nan = dt match {
            case org.apache.spark.sql.types.FloatType |
                 org.apache.spark.sql.types.DoubleType
                if bounds.isDefined => Some(0L)
            case _ => None
          }
          id -> ((values, nulls, bounds, nan))
        }
      }.toMap
    })
  }

  // --- Spark type → Iceberg schema JSON / Avro partition types ----------

  private def icebergType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType      => "\"boolean\""
      case IntegerType      => "\"int\""
      case ShortType        => "\"int\""
      case ByteType         => "\"int\""
      case LongType         => "\"long\""
      case FloatType        => "\"float\""
      case DoubleType       => "\"double\""
      case StringType       => "\"string\""
      case DateType         => "\"date\""
      case TimestampType    => "\"timestamptz\""
      case BinaryType       => "\"binary\""
      case d: DecimalType   => s""""decimal(${d.precision}, ${d.scale})""""
      case ArrayType(e, _)  =>
        // nested ids are assigned flatly after top-level ids; good enough
        // for the flat TPC-H-ish schemas the engine serves
        s"""{"type":"list","element-id":-1,"element":${icebergType(e)},"element-required":false}"""
      case other => throw new IllegalArgumentException(
        s"Iceberg mirror: unsupported column type ${other.sql}")
    }
  }

  private def avroPartitionType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | ShortType | ByteType => "\"int\""
      case LongType    => "\"long\""
      case StringType  => "\"string\""
      case DoubleType  => "\"double\""
      case BooleanType => "\"boolean\""
      case DateType    => """{"type":"int","logicalType":"date"}"""
      case other => throw new IllegalArgumentException(
        s"Iceberg mirror: unsupported partition column type ${other.sql}")
    }
  }

  /** Typed partition value from its hive directory string. */
  private def partitionValue(dt: org.apache.spark.sql.types.DataType,
      raw: String): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else typedPartitionValue(dt,
      java.net.URLDecoder.decode(raw.replace("+", "%2B"), "UTF-8"))

  /** Typed partition value from its DECODED text (the spec-form value
    * [[LakehouseTable.hivePartPairs]] yields). */
  private def typedPartitionValue(dt: org.apache.spark.sql.types.DataType,
      s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | ShortType | ByteType => Integer.valueOf(s.toInt)
      case LongType    => java.lang.Long.valueOf(s.toLong)
      case StringType  => s
      case DoubleType  => java.lang.Double.valueOf(s.toDouble)
      case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
      case DateType    =>
        Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"Iceberg mirror: unsupported partition type ${other.sql}")
    }
  }

  /** The identity-partitionable types [[typedPartitionValue]] and
    * [[avroPartitionType]] support — what the foreign append must
    * check BEFORE writing data files (a post-write failure would
    * orphan them with a misleading error). */
  private[graft] def supportedPartitionType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | ShortType | ByteType | LongType | StringType |
           DoubleType | BooleanType | DateType => true
      case _ => false
    }
  }

  // --- Avro schemas (Iceberg spec field-ids) -----------------------------

  private def partitionRecordJson(
      parts: Seq[(String, org.apache.spark.sql.types.DataType)]): String =
    partitionRecordJsonIds(parts.zipWithIndex.map {
      case ((name, dt), i) => (name, dt, 1000 + i) })

  /** [[partitionRecordJson]] with EXPLICIT field ids — the foreign
    * append must write the spec's DECLARED ids (an evolved spec's
    * single field may carry 1001), or spec readers resolving the
    * struct by field-id read the appended files' partition values as
    * null and silently skip matching files. Graft's own exports always
    * use 1000+i (the delegating overload). */
  private def partitionRecordJsonIds(
      parts: Seq[(String, org.apache.spark.sql.types.DataType, Int)])
      : String =
    parts.map { case (name, dt, id) =>
      s"""{"name":"$name","type":["null",${avroPartitionType(dt)}],"default":null,"field-id":$id}"""
    }.mkString("""{"type":"record","name":"r102","fields":[""", ",", "]}")

  // the spec's map<int, …> encodes in avro as array<key_value record>
  // with logicalType map; key/value field-ids per the spec appendix
  private def intMapJson(name: String, fieldId: Int, kId: Int, vId: Int,
      vType: String): String =
    s"""{"name":"$name","type":["null",{"type":"array","items":
       {"type":"record","name":"k${kId}_v$vId","fields":[
       {"name":"key","type":"int","field-id":$kId},
       {"name":"value","type":"$vType","field-id":$vId}]},
       "logicalType":"map"}],"default":null,"field-id":$fieldId}"""

  private def manifestEntrySchema(
      parts: Seq[(String, org.apache.spark.sql.types.DataType)]): Schema =
    manifestEntrySchemaIds(parts.zipWithIndex.map {
      case ((name, dt), i) => (name, dt, 1000 + i) })

  private def manifestEntrySchemaIds(
      parts: Seq[(String, org.apache.spark.sql.types.DataType, Int)])
      : Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         {"name":"status","type":"int","field-id":0},
         {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
           {"name":"content","type":"int","field-id":134},
           {"name":"file_path","type":"string","field-id":100},
           {"name":"file_format","type":"string","field-id":101},
           {"name":"partition","field-id":102,"type":${partitionRecordJsonIds(parts)}},
           {"name":"record_count","type":"long","field-id":103},
           {"name":"file_size_in_bytes","type":"long","field-id":104},
           ${intMapJson("value_counts", 109, 119, 120, "long")},
           ${intMapJson("null_value_counts", 110, 121, 122, "long")},
           ${intMapJson("nan_value_counts", 137, 138, 139, "long")},
           ${intMapJson("lower_bounds", 125, 126, 127, "bytes")},
           ${intMapJson("upper_bounds", 128, 129, 130, "bytes")}
         ]}}]}""".replaceAll("\n\\s*", ""))

  private val manifestFileSchema: Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_file","fields":[
         {"name":"manifest_path","type":"string","field-id":500},
         {"name":"manifest_length","type":"long","field-id":501},
         {"name":"partition_spec_id","type":"int","field-id":502},
         {"name":"content","type":"int","field-id":517},
         {"name":"sequence_number","type":"long","field-id":515},
         {"name":"min_sequence_number","type":"long","field-id":516},
         {"name":"added_snapshot_id","type":"long","field-id":503},
         {"name":"added_files_count","type":"int","field-id":504},
         {"name":"existing_files_count","type":"int","field-id":505},
         {"name":"deleted_files_count","type":"int","field-id":506},
         {"name":"added_rows_count","type":"long","field-id":512},
         {"name":"existing_rows_count","type":"long","field-id":513},
         {"name":"deleted_rows_count","type":"long","field-id":514},
         {"name":"partitions","type":["null",{"type":"array",
           "items":{"type":"record","name":"r508","fields":[
             {"name":"contains_null","type":"boolean","field-id":509},
             {"name":"contains_nan","type":["null","boolean"],
               "default":null,"field-id":518},
             {"name":"lower_bound","type":["null","bytes"],
               "default":null,"field-id":510},
             {"name":"upper_bound","type":["null","bytes"],
               "default":null,"field-id":511}
           ]},"element-id":508}],"default":null,"field-id":507}
         ]}""".replaceAll("\n\\s*", ""))

  /** The `partitions` FIELD SUMMARIES of one manifest (spec field-ids
    * 507–511/518): per partition field, contains_null / contains_nan /
    * single-value-serialized lower and upper bounds over every entry
    * in the manifest. The manifest list carries them precisely so a
    * predicate can skip whole manifests BEFORE opening them
    * ([[snapshotEntries]]'s pruner) — at thousands of manifests the
    * difference between O(matching) and O(all) planning IO. Computed
    * by reading back the just-written manifest (O(entries),
    * driver-side, same cost class as having written it); manifests
    * are immutable, so the result caches by path for the carry-
    * forward sites that re-list existing manifests. Returns null
    * (absent) for unpartitioned manifests. */
  // Option-wrapped: TrieMap must never store raw null (its internal
  // not-found sentinel), and an UNPARSEABLE/absent manifest yields
  // None — no summaries is always the conservative direction (the
  // reader keeps the manifest), never a thrown commit
  // private[graft] so specs can clear it to pin the no-re-read
  // guarantee of ManifestDesc.partitions (a fresh session's state)
  private[graft] val mfPartSummaryCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[AnyRef]]

  private def partitionSummariesOf(m: Path): AnyRef =
    mfPartSummaryCache.getOrElseUpdate(m.toString,
      try Option(computePartitionSummaries(m))
      catch { case scala.util.control.NonFatal(_) => None }).orNull

  private def computePartitionSummaries(m: Path): AnyRef =
    {
      val itemSchema = manifestFileSchema.getField("partitions").schema()
        .getTypes.get(1).getElementType
      val rawParts = readAvro(m).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        if (df.getSchema.getField("partition") == null) null
        else df.get("partition").asInstanceOf[GenericRecord]
      }
      // an entry without a partition struct (legacy/foreign oddity)
      // voids the whole summary — a partial one would wrongly prune
      val parts = if (rawParts.contains(null)) Nil else rawParts
      val nFields = parts.headOption
        .map(_.getSchema.getFields.size()).getOrElse(0)
      if (nFields == 0) null
      else {
        val arr = new GenericData.Array[GenericRecord](nFields,
          manifestFileSchema.getField("partitions").schema().getTypes.get(1))
        (0 until nFields).foreach { i =>
          val vals = parts.map(_.get(i))
          val rec = new GenericData.Record(itemSchema)
          rec.put("contains_null", vals.exists(_ == null))
          val nonNull = vals.filter(_ != null)
          val floating = nonNull.exists {
            case _: java.lang.Float | _: java.lang.Double => true
            case _ => false
          }
          val isNan: Any => Boolean = {
            case f: java.lang.Float => f.isNaN
            case d: java.lang.Double => d.isNaN
            case _ => false
          }
          if (floating)
            rec.put("contains_nan",
              java.lang.Boolean.valueOf(nonNull.exists(isNan)))
          val comparable = nonNull.filterNot(isNan)
          // ordering per the spec's single-value space: numerics
          // natural, strings by UTF-8 bytes unsigned — the ONE body
          // in MetricsPruning.utf8Cmp (String.compareTo misorders
          // supplementary chars)
          def utf8(v: Any): Array[Byte] = v.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8)
          val ord: Option[Ordering[Any]] = comparable.headOption.collect {
            case _: java.lang.Integer =>
              Ordering.by[Any, Int](_.asInstanceOf[java.lang.Integer].intValue())
            case _: java.lang.Long =>
              Ordering.by[Any, Long](_.asInstanceOf[java.lang.Long].longValue())
            case _: java.lang.Float =>
              Ordering.by[Any, Float](_.asInstanceOf[java.lang.Float].floatValue())
            case _: java.lang.Double =>
              Ordering.by[Any, Double](_.asInstanceOf[java.lang.Double].doubleValue())
            case _: java.lang.Boolean =>
              Ordering.by[Any, Boolean](_.asInstanceOf[java.lang.Boolean].booleanValue())
            case _: org.apache.avro.util.Utf8 | _: String =>
              new Ordering[Any] {
                def compare(x: Any, y: Any): Int =
                  MetricsPruning.utf8Cmp(x.toString, y.toString)
              }
          }
          def ser(v: Any): Option[java.nio.ByteBuffer] = {
            import java.nio.{ByteBuffer, ByteOrder}
            v match {
              case i: java.lang.Integer => Some(ByteBuffer.allocate(4)
                .order(ByteOrder.LITTLE_ENDIAN).putInt(i).flip()
                .asInstanceOf[java.nio.ByteBuffer])
              case l: java.lang.Long => Some(ByteBuffer.allocate(8)
                .order(ByteOrder.LITTLE_ENDIAN).putLong(l).flip()
                .asInstanceOf[java.nio.ByteBuffer])
              case f: java.lang.Float if !f.isInfinite =>
                Some(ByteBuffer.allocate(4)
                  .order(ByteOrder.LITTLE_ENDIAN).putFloat(f).flip()
                  .asInstanceOf[java.nio.ByteBuffer])
              case d: java.lang.Double if !d.isInfinite =>
                Some(ByteBuffer.allocate(8)
                  .order(ByteOrder.LITTLE_ENDIAN).putDouble(d).flip()
                  .asInstanceOf[java.nio.ByteBuffer])
              case b: java.lang.Boolean =>
                Some(java.nio.ByteBuffer.wrap(
                  Array[Byte](if (b) 1 else 0)))
              case _: org.apache.avro.util.Utf8 | _: String =>
                Some(java.nio.ByteBuffer.wrap(utf8(v)))
              case _ => None // other types: bounds stay absent
            }
          }
          for {
            o <- ord
            if comparable.nonEmpty
            loB <- ser(comparable.min(o))
            hiB <- ser(comparable.max(o))
          } {
            rec.put("lower_bound", loB)
            rec.put("upper_bound", hiB)
          }
          arr.add(rec)
        }
        arr
      }
    }

  /** In-memory descriptor of one written manifest — what a manifest-list
    * entry needs. Reconstructed deterministically on every export run, so
    * incremental runs never read old avro back: `partitions` (the list
    * entry's field-summaries array) is computed ONCE when the manifest
    * is written and thereafter carried here — seeded runs take it from
    * the last manifest list's own records, so a fresh session's first
    * incremental export never re-opens historical manifest avro (null =
    * unknown; the list rebuild then recomputes from the manifest). */
  private case class ManifestDesc(path: Path, content: Int, seq: Long,
      minSeq: Long, addedSnapshot: Long, addedFiles: Int, addedRows: Long,
      partitions: AnyRef = null)

  private def writeAvro(target: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Unit = {
    if (Files.exists(target)) return // immutable, deterministic content
    val tmp = Files.createTempFile(target.getParent, ".ice-tmp", ".avro")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, tmp.toFile)
    records.foreach(w.append)
    w.close()
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp) // concurrent exporter won; files are equal
    }
  }

  private def readAvro(path: Path): Seq[GenericRecord] = {
    val r = new DataFileReader(path.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toSeq finally r.close()
  }

  /** [[readAvro]] plus the file's writer schema and string metadata —
    * what a manifest REWRITE needs to re-emit a foreign manifest with
    * its own schema and header verbatim (re-encoding through OUR
    * entry schema would silently drop any fields ours lacks — column
    * sizes, distinct counts — degrading skipping for every reader). */
  private def readAvroWithMeta(path: Path)
      : (Schema, Seq[(String, String)], Seq[GenericRecord]) = {
    val r = new DataFileReader(path.toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      val meta = r.getMetaKeys.asScala.toSeq
        .filterNot(_.startsWith("avro."))
        .map(k => k -> r.getMetaString(k))
      (r.getSchema, meta, r.iterator().asScala.toSeq)
    } finally r.close()
  }

  // --- Export --------------------------------------------------------------

  /** Mirror the full graft version history at `root` into an Iceberg v2
    * metadata chain (incremental + idempotent; see object doc). Returns
    * the metadata dir. */
  def exportIcebergMeta(spark: SparkSession, root: String): Path = {
    val vs = LakehouseTable.versions(root)
    require(vs.nonEmpty, s"no table at $root")
    val dir = metaDir(root)
    Files.createDirectories(dir)
    val partCols = LakehouseTable.partitionColumns(root)
    val hint = dir.resolve("version-hint.text")
    // Guard against FOREIGN snapshots appended to the chain
    // (appendEqualityDeleteSnapshot, or a real Flink-style writer
    // bumping the hint past graft's numbering). The pre-round-10
    // behavior was catastrophic-silent: either the seed require failed
    // and the full rewalk's v{N}.metadata.json collided with the
    // foreign file (skip-if-exists kept stale metadata while the hint
    // advanced), or — when a new graft commit realigned the numbering —
    // the seeder read the FOREIGN metadata as if it covered that
    // commit and skipped exporting it. The chain tip is graft's iff
    // v{hint}.metadata.json's current-snapshot-id is the deterministic
    // graft snapshot id of graft version hint-1. A foreign tip with
    // every graft version already in the chain → idempotent no-op; a
    // foreign tip with UN-exported graft commits → refuse loudly,
    // because extending would need renumbering past the foreign files,
    // which this mirror does not do.
    val foreignTip: Boolean = Files.exists(hint) && {
      // the tip is read UNGATED (currentMetadataUngated — the same
      // (root, n, mtime, size)-keyed cache the per-commit hook
      // depends on): the read gate's v1/v3 refusal must not be
      // swallowed into tip=None here — that would flip foreignTip to
      // false and send a chain with a foreign-versioned tip into the
      // rewalk's skip-if-exists writes, the exact silent-corruption
      // mode this guard prevents. A non-v2 tip IS a foreign tip by
      // definition: graft writes v2.
      val tip = for {
        n <- scala.util.Try(Files.readString(hint).trim.toLong).toOption
        if Files.exists(dir.resolve(s"v$n.metadata.json"))
        md <- scala.util.Try(currentMetadataUngated(root)).toOption
      } yield (n, md)
      tip.exists { case (n, md) =>
        Option(md.get("format-version")).map(_.asInt()).getOrElse(0) != 2 ||
          !(vs.contains(n - 1) &&
            Option(md.get("current-snapshot-id")).map(_.asLong())
              .getOrElse(-2L) == snapshotId(root, n - 1))
      }
    }
    if (foreignTip) {
      val ids = scala.util.Try(snapshots(root).map(_.id).toSet)
        .getOrElse(Set.empty[Long])
      if (ids.contains(snapshotId(root, vs.last))) dir
      else throw new IllegalStateException(
        s"Iceberg chain at $root carries foreign snapshots at its tip " +
        s"and graft commits remain un-exported (last graft version " +
        s"${vs.last} is not in the chain); graft cannot renumber past " +
        "foreign metadata files — re-mirror to a fresh location or " +
        "compact the foreign snapshots into the table first")
    } else exportIcebergMetaWalk(spark, root, vs, dir, partCols, hint)
  }

  /** Per-version schema signature for the walk's change detection:
    * added-columns state + widen state (either starts a new schema). */
  private def schemaSig(root: String, v: Long): String =
    LakehouseTable.addedColumnsAt(root, v) + "\u00a7" +
      LakehouseTable.widenedColumnsAt(root, v)
        .map { case (c, t) => s"$c:$t" }.mkString(",")

  private def exportIcebergMetaWalk(spark: SparkSession, root: String,
      vs: Seq[Long], dir: Path, partCols: Seq[String], hint: Path): Path = {
    // field ids by column name, first appearance across the history —
    // stable for incremental runs (same walk → same ids, the Delta
    // mirror's columnIds discipline). Schema dedupe is keyed by the
    // fields-array JSON (schema-id independent), so a seeded run and a
    // from-scratch walk assign the same schema ids.
    val fieldIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val schemas = scala.collection.mutable.ArrayBuffer
      .empty[String] // schema JSON per schema-id
    val schemaIdOf = scala.collection.mutable.HashMap.empty[String, Int]
    var prevFiles = Seq.empty[String]
    var prevCols: Option[String] = None
    var prevDvs = Map.empty[String, String]
    var deleteManifest: Option[ManifestDesc] = None
    val manifests = scala.collection.mutable.ArrayBuffer.empty[ManifestDesc]
    val snapshotsJson = scala.collection.mutable.ArrayBuffer.empty[String]
    val snapshotLog = scala.collection.mutable.ArrayBuffer.empty[String]
    val metadataLog = scala.collection.mutable.ArrayBuffer.empty[String]
    var schemaStruct: org.apache.spark.sql.types.StructType = null
    var curSchemaId = 0
    var parentId: Option[Long] = None

    // FAST PATH for the per-commit write-through hook: seed the walk
    // state from the LAST exported metadata.json (it carries the full
    // snapshot/schema/log state; the last snapshot's manifest list
    // carries the manifest descriptors) and walk only the un-exported
    // tail — a steady-state commit then costs O(new files), not
    // O(history) (the Delta mirror's seedV discipline; without it a
    // long-lived mirrored stream pays O(V²) across V commits).
    val seededFrom: Option[Long] =
      if (!Files.exists(hint)) None
      else scala.util.control.Exception.nonFatalCatch.opt {
        val n = Files.readString(hint).trim.toLong
        val lastV = n - 1
        require(vs.contains(lastV))
        // cached by (hint value, file mtime) — the per-commit
        // write-through hook calls this on EVERY commit, and re-parsing
        // a long chain's metadata each time is measurable export-path
        // time (the same file currentMetadata reads, so the same cache)
        val md = currentMetadata(root)
        // the seeded metadata must actually BE graft's export of lastV
        // (not a foreign snapshot whose numbering happens to align)
        require(md.get("current-snapshot-id").asLong() ==
          snapshotId(root, lastV))
        md.get("schemas").elements().asScala.zipWithIndex.foreach {
          case (sc, i) =>
            schemas += sc.toString
            schemaIdOf(sc.get("fields").toString) = i
            sc.get("fields").elements().asScala.foreach(f =>
              fieldIds.getOrElseUpdate(
                f.get("name").asText().toLowerCase, f.get("id").asInt()))
        }
        curSchemaId = md.get("current-schema-id").asInt()
        val curSchemaNode = md.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt() == curSchemaId).get
        schemaStruct = org.apache.spark.sql.types.StructType(
          curSchemaNode.get("fields").elements().asScala.map(f =>
            org.apache.spark.sql.types.StructField(
              f.get("name").asText(), sparkType(f.get("type")))).toSeq)
        md.get("snapshots").elements().asScala
          .foreach(snapshotsJson += _.toString)
        md.get("snapshot-log").elements().asScala
          .foreach(snapshotLog += _.toString)
        md.get("metadata-log").elements().asScala
          .foreach(metadataLog += _.toString)
        metadataLog += (s"""{"metadata-file":"${dir.resolve(s"v$n.metadata.json")}",""" +
          s""""timestamp-ms":${md.get("last-updated-ms").asLong()}}""")
        parentId = Some(md.get("current-snapshot-id").asLong())
        val lastList = snapshots(root).find(
          _.id == md.get("current-snapshot-id").asLong()).get.manifestList
        readAvro(Paths.get(lastList)).foreach { mf =>
          val d = ManifestDesc(
            Paths.get(mf.get("manifest_path").toString),
            mf.get("content").asInstanceOf[Int],
            mf.get("sequence_number").asInstanceOf[Long],
            mf.get("min_sequence_number").asInstanceOf[Long],
            mf.get("added_snapshot_id").asInstanceOf[Long],
            mf.get("added_files_count").asInstanceOf[Int],
            mf.get("added_rows_count").asInstanceOf[Long],
            // the list record already carries the summaries this
            // manifest was committed with — seed them so the rebuild
            // below never re-opens historical manifest avro
            if (mf.getSchema.getField("partitions") == null) null
            else toCurrentSummaries(mf.get("partitions")))
          if (d.content == 0) manifests += d else deleteManifest = Some(d)
        }
        prevFiles = LakehouseTable.manifestFiles(root, lastV)
        prevCols = Some(schemaSig(root, lastV))
        prevDvs = LakehouseTable.dvsAt(root, lastV).toMap
        lastV
      }
    val startIdx = seededFrom.map(vs.indexOf(_) + 1).getOrElse(0)

    vs.drop(startIdx).foreach { v =>
      require(LakehouseTable.renamedColumnsAt(root, v).isEmpty &&
          LakehouseTable.droppedColumnsAt(root, v).isEmpty,
        "Iceberg mirror: column mapping (rename/drop) is not mirrored — " +
          "field-id resolution needs ids inside the data files; use the " +
          "Delta mirror for mapped tables")
      val seq = v + 1
      val sid = snapshotId(root, v)
      val ts = LakehouseTable.commitTsAt(root, v).getOrElse(0L)
      val cur = LakehouseTable.manifestFiles(root, v)
      // schema signature = added-columns state + widen state: an ALTER
      // COLUMN TYPE commit must start a new Iceberg schema (the spec's
      // type promotion — same field id, wider type) even though the
      // column LIST is unchanged
      val colsSig = schemaSig(root, v)
      val schemaChanged = prevCols.isEmpty || !prevCols.contains(colsSig)
      if (schemaChanged) {
        schemaStruct = LakehouseTable.read(spark, root, Some(v)).schema
        schemaStruct.foreach(f => fieldIds.getOrElseUpdate(
          f.name.toLowerCase, fieldIds.size + 1))
        val fieldsJson = schemaStruct.map { f =>
          s"""{"id":${fieldIds(f.name.toLowerCase)},"name":"${f.name}","required":false,"type":${icebergType(f.dataType)}}"""
        }.mkString("[", ",", "]")
        curSchemaId = schemaIdOf.getOrElseUpdate(fieldsJson, {
          schemas +=
            s"""{"type":"struct","schema-id":${schemas.size},"fields":$fieldsJson}"""
          schemas.size - 1
        })
      }
      val partTypes = partCols.map { c =>
        c -> schemaStruct.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"partition column $c missing from schema"))
      }
      val entrySchema = manifestEntrySchema(partTypes)
      val partSchema = entrySchema.getField("data_file").schema()
        .getField("partition").schema()
      val dataFileSchema = entrySchema.getField("data_file").schema()

      // column METRICS ride into the manifests (value/null counts +
      // single-value-serialized bounds): what lets any spec reader —
      // a foreign engine on this mirror, or [[pruneByPartition]] on a
      // foreign chain — skip data files from metadata alone
      val metricCols = schemaStruct.map(f =>
        f.name.toLowerCase ->
          ((fieldIds(f.name.toLowerCase), f.dataType))).toMap
      def intMap[T](field: String, entries: Seq[(Int, T)],
          conv: T => Any): java.util.List[GenericRecord] = {
        val item = dataFileSchema.getField(field).schema()
          .getTypes.get(1).getElementType
        val out = new java.util.ArrayList[GenericRecord]()
        entries.sortBy(_._1).foreach { case (k, v) =>
          val r = new GenericData.Record(item)
          r.put("key", k)
          r.put("value", conv(v))
          out.add(r)
        }
        out
      }

      def entry(rel: String): GenericRecord = {
        val p = Paths.get(root, "data", rel)
        val part = new GenericData.Record(partSchema)
        val dirVals = rel.split('/').dropRight(1).filter(_.contains('='))
          .map { seg => val Array(k, x) = seg.split("=", 2); k -> x }.toMap
        partTypes.foreach { case (c, dt) =>
          part.put(c, dirVals.get(c).map(partitionValue(dt, _)).orNull)
        }
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", 0)
        df.put("file_path", p.toString)
        df.put("file_format", "PARQUET")
        df.put("partition", part)
        df.put("record_count", rowsOf(root, rel))
        df.put("file_size_in_bytes",
          try Files.size(p) catch { case _: java.io.IOException => 0L })
        val mets = footerMetrics(p, metricCols)
        if (mets.nonEmpty) {
          df.put("value_counts", intMap("value_counts",
            mets.toSeq.map { case (id, (v, _, _, _)) => id -> v },
            (v: Long) => java.lang.Long.valueOf(v)))
          val nulls = mets.toSeq.collect {
            case (id, (_, Some(n), _, _)) => id -> n }
          if (nulls.nonEmpty)
            df.put("null_value_counts",
              intMap("null_value_counts", nulls,
                (v: Long) => java.lang.Long.valueOf(v)))
          val nans = mets.toSeq.collect {
            case (id, (_, _, _, Some(n))) => id -> n }
          if (nans.nonEmpty)
            df.put("nan_value_counts",
              intMap("nan_value_counts", nans,
                (v: Long) => java.lang.Long.valueOf(v)))
          val lows = mets.toSeq.collect {
            case (id, (_, _, Some((lo, _)), _)) => id -> lo }
          val highs = mets.toSeq.collect {
            case (id, (_, _, Some((_, hi)), _)) => id -> hi }
          if (lows.nonEmpty) {
            df.put("lower_bounds", intMap("lower_bounds", lows,
              (b: Array[Byte]) => java.nio.ByteBuffer.wrap(b)))
            df.put("upper_bounds", intMap("upper_bounds", highs,
              (b: Array[Byte]) => java.nio.ByteBuffer.wrap(b)))
          }
        }
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1) // ADDED at this snapshot
        e.put("snapshot_id", sid)
        e.put("sequence_number", null) // inherit the manifest list's
        e.put("file_sequence_number", null)
        e.put("data_file", df)
        e
      }

      val removed = prevFiles.filterNot(cur.toSet)
      val added = cur.filterNot(prevFiles.toSet)
      val curDvs = LakehouseTable.dvsAt(root, v).toMap
      val dvChanged = curDvs != prevDvs
      val manifestMeta = Seq(
        "schema" -> schemas(curSchemaId),
        "partition-spec" -> partSpecFieldsJson(partCols, fieldIds),
        "partition-spec-id" -> "0",
        "format-version" -> "2",
        "content" -> "data")
      // Iceberg summary ops: pure adds = append; anything that removed
      // files OR changed the delete state alongside adds = overwrite
      // (a tailing reader must not treat it as a clean append); a
      // DV-only change = delete. "deleted-data-files" (summary values
      // are strings, per the spec) lets readers distinguish a chain
      // REWRITE (manifests replaced) from a mixed add+delete commit.
      val operation =
        if (removed.nonEmpty) "overwrite"
        else if (dvChanged && added.nonEmpty) "overwrite"
        else if (dvChanged) "delete"
        else "append"
      if (v == vs.head || removed.nonEmpty) {
        // full rewrite: ONE manifest of the live set replaces the chain
        val m = dir.resolve(s"m-$sid-full.avro")
        writeAvro(m, entrySchema, manifestMeta, cur.sorted.map(entry))
        manifests.clear()
        manifests += ManifestDesc(m, 0, seq, seq, sid, cur.size,
          cur.map(rowsOf(root, _)).sum, partitionSummariesOf(m))
      } else if (added.nonEmpty) {
        // pure append: prior manifests REUSED, one new manifest of adds
        val m = dir.resolve(s"m-$sid-add.avro")
        writeAvro(m, entrySchema, manifestMeta, added.sorted.map(entry))
        manifests += ManifestDesc(m, 0, seq, seq, sid, added.size,
          added.map(rowsOf(root, _)).sum, partitionSummariesOf(m))
      } // metadata-only commit: same manifests, new snapshot

      // MOR deletion vectors → ONE v2 position-delete file of the FULL
      // current DV state (file_path + pos, spec field-ids 2147483546/45,
      // sorted), behind a content=1 delete manifest that REPLACES any
      // prior one — the rewrite-delete-files shape, so a reader never
      // unions stale delete states. A DV-clearing version (REORG PURGE /
      // compaction) simply drops the delete manifest from the list.
      // A FULL REWRITE with surviving DVs must RE-STAMP the delete state
      // even when it did not change: the rewrite re-lists carried files
      // at the new sequence number, and spec readers apply position
      // deletes only to data files with data-seq <= delete-seq — an
      // older delete manifest would silently resurrect deleted rows.
      val fullRewrite = v == vs.head || removed.nonEmpty
      if (dvChanged || (fullRewrite && curDvs.nonEmpty)) {
        if (curDvs.isEmpty) deleteManifest = None
        else {
          // one PARTITION-SCOPED delete parquet per hive partition with
          // deletions (the spec's shape — delete entries carry their
          // partition values for pruning); unpartitioned → one file
          val delFiles = writeDeleteParquets(spark, root, curDvs, dir, sid)
          val entries = delFiles.map { case (delParquet, pd) =>
            // just written by this export — a footer-read failure is a
            // real error and must fail the export, not record 0 deletes
            val delRows = LakehouseTable.parquetRecordCount(delParquet)
            val part = new GenericData.Record(partSchema)
            val dirVals = pd.split('/').filter(_.contains('='))
              .map { seg => val Array(k, x) = seg.split("=", 2); k -> x }
              .toMap
            partTypes.foreach { case (c, dt) =>
              part.put(c, dirVals.get(c).map(partitionValue(dt, _)).orNull)
            }
            val df = new GenericData.Record(dataFileSchema)
            df.put("content", 1) // POSITION_DELETES
            df.put("file_path", delParquet.toString)
            df.put("file_format", "PARQUET")
            df.put("partition", part)
            df.put("record_count", delRows)
            df.put("file_size_in_bytes",
              try Files.size(delParquet)
              catch { case _: java.io.IOException => 0L })
            val e = new GenericData.Record(entrySchema)
            e.put("status", 1)
            e.put("snapshot_id", sid)
            e.put("sequence_number", null)
            e.put("file_sequence_number", null)
            e.put("data_file", df)
            (e, delRows)
          }
          val m = dir.resolve(s"m-$sid-del.avro")
          writeAvro(m, entrySchema,
            manifestMeta.dropRight(1) :+ ("content" -> "deletes"),
            entries.map(_._1))
          deleteManifest = Some(ManifestDesc(m, 1, seq, seq, sid,
            entries.size, entries.map(_._2).sum, partitionSummariesOf(m)))
        }
      }

      // manifest LIST for this snapshot
      val listPath = dir.resolve(s"snap-$sid.avro")
      val listRecords = (manifests.toSeq ++ deleteManifest).map { d =>
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", d.path.toString)
        r.put("manifest_length",
          try Files.size(d.path) catch { case _: java.io.IOException => 0L })
        r.put("partition_spec_id", 0)
        r.put("content", d.content)
        r.put("sequence_number", d.seq)
        r.put("min_sequence_number", d.minSeq)
        r.put("added_snapshot_id", d.addedSnapshot)
        r.put("added_files_count", d.addedFiles)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", d.addedRows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r.put("partitions",
          // carried from write time / the seeding list record; only a
          // legacy summary-less carry pays a manifest re-read
          if (d.partitions != null) d.partitions
          else partitionSummariesOf(d.path))
        r
      }
      writeAvro(listPath, manifestFileSchema,
        Seq("snapshot-id" -> sid.toString,
          "sequence-number" -> seq.toString,
          "parent-snapshot-id" -> parentId.map(_.toString).getOrElse("null"),
          "format-version" -> "2"),
        listRecords)

      snapshotsJson += (s"""{"snapshot-id":$sid,""" +
        parentId.map(p => s""""parent-snapshot-id":$p,""").getOrElse("") +
        s""""sequence-number":$seq,"timestamp-ms":$ts,""" +
        s""""manifest-list":"${listPath}","schema-id":$curSchemaId,""" +
        s""""summary":{"operation":"$operation",""" +
        s""""deleted-data-files":"${removed.size}",""" +
        s""""added-data-files":"${added.size}"}}""")
      snapshotLog += s"""{"snapshot-id":$sid,"timestamp-ms":$ts}"""

      // metadata.json for this version (contains ALL snapshots so far)
      val mref = s"v${v + 1}.metadata.json"
      val target = dir.resolve(mref)
      if (!Files.exists(target)) {
        val uuidSeed = graft.plans.TextExpressions.md5Hex(s"iceberg-table:$root")
        val uuid = s"${uuidSeed.substring(0, 8)}-${uuidSeed.substring(8, 12)}-" +
          s"${uuidSeed.substring(12, 16)}-${uuidSeed.substring(16, 20)}-" +
          uuidSeed.substring(20, 32)
        val nameMapping = schemaStruct.map(f =>
          s"""{"field-id":${fieldIds(f.name.toLowerCase)},"names":["${f.name}"]}""")
          .mkString("[", ",", "]").replace("\\", "\\\\").replace("\"", "\\\"")
        val json =
          s"""{"format-version":2,"table-uuid":"$uuid","location":"$root",""" +
          s""""last-sequence-number":$seq,"last-updated-ms":$ts,""" +
          s""""last-column-id":${fieldIds.size},""" +
          s""""current-schema-id":$curSchemaId,"schemas":[${schemas.mkString(",")}],""" +
          s""""default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":${partSpecFieldsJson(partCols, fieldIds)}}],""" +
          s""""last-partition-id":${999 + partCols.size},""" +
          s""""default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],""" +
          s""""properties":{"schema.name-mapping.default":"$nameMapping"},""" +
          s""""current-snapshot-id":$sid,""" +
          s""""snapshots":[${snapshotsJson.mkString(",")}],""" +
          s""""snapshot-log":[${snapshotLog.mkString(",")}],""" +
          s""""metadata-log":[${metadataLog.mkString(",")}]}"""
        val tmp = Files.createTempFile(dir, ".ice-tmp", ".json")
        Files.writeString(tmp, json)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
        }
      }
      metadataLog +=
        s"""{"metadata-file":"${dir.resolve(mref)}","timestamp-ms":$ts}"""
      prevFiles = cur
      prevCols = Some(colsSig)
      prevDvs = curDvs
      parentId = Some(sid)
    }
    // the pointer readers (and the write-through hook) consult; LAST so a
    // crash mid-export leaves a valid shorter chain
    val tmp = Files.createTempFile(dir, ".hint-tmp", ".txt")
    Files.writeString(tmp, (vs.last + 1).toString)
    Files.move(tmp, hint, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  /** Write the FULL DV state as Iceberg v2 position-delete parquet:
    * columns `file_path` (string, field-id 2147483546) and `pos` (long,
    * field-id 2147483545), sorted by (file_path, pos) as the spec
    * requires; paths are the absolute data-file paths the manifests
    * carry. PARTITION-SCOPED: one delete file per hive partition with
    * deletions (one distributed partitionBy job, not a job per
    * partition), so each manifest entry carries its partition values and
    * a spec reader prunes delete application per partition; an
    * unpartitioned table writes one file. Returns (file, partition dir)
    * pairs, "" for unpartitioned. Deterministic names — concurrent
    * exporters converge; all-targets-exist skips the job entirely. */
  private def writeDeleteParquets(spark: SparkSession, root: String,
      dvs: Map[String, String], dir: Path, sid: Long): Seq[(Path, String)] = {
    import org.apache.spark.sql.functions.{col, concat, expr, lit}
    import org.apache.spark.sql.types.MetadataBuilder
    val partDirs = dvs.keys
      .map(rel => rel.split('/').dropRight(1).mkString("/"))
      .toSeq.distinct.sorted
    def targetOf(pd: String): Path = dir.resolve(
      if (pd.isEmpty) s"delete-$sid.parquet"
      else s"delete-$sid-${graft.plans.TextExpressions.md5Hex(pd).take(10)}.parquet")
    val targets = partDirs.map(pd => (targetOf(pd), pd))
    if (targets.forall(t => Files.exists(t._1))) return targets
    val fpMeta = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483545L).build()
    val prefix = Paths.get(root, "data").toString + "/"
    // an ISOLATED session (shared SparkContext, own SQLConf) carries the
    // field-id-write flag: flipping it on the caller's session would
    // race concurrent exports and leak into unrelated parquet writes
    val session = spark.newSession()
    session.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val withRel = LakehouseTable.dvRows(session, root, dvs)
      .select(col("path"),
        concat(lit(prefix), col("path")).as("file_path", fpMeta),
        col("pos").cast("long").as("pos", posMeta))
    val tmpDir = Files.createTempDirectory(dir, ".del-tmp")
    try {
      if (partDirs == Seq("")) {
        withRel.drop("path").orderBy("file_path", "pos").coalesce(1)
          .write.mode("overwrite").parquet(tmpDir.resolve("out").toString)
        val part = withListed(tmpDir.resolve("out"))(
          _.find(_.toString.endsWith(".parquet"))).getOrElse(
          throw new IllegalStateException(
            "delete parquet write produced no file"))
        try Files.move(part, targetOf(""), StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      } else {
        // dir-of-path as the write partition: hash-repartitioning puts
        // each partition's rows in one task → exactly one file per
        // partition, sorted within; ONE distributed job regardless of
        // the number of partitions with deletions
        val out = tmpDir.resolve("out")
        withRel.withColumn("__pd", expr(
            "case when path not like '%/%' then '' else " +
              "substring(path, 1, length(path) - " +
              "length(substring_index(path, '/', -1)) - 1) end"))
          .drop("path")
          .repartition(col("__pd"))
          // __pd FIRST: the dynamic-partition write requires ordering by
          // the partition column and would insert its own Sort(__pd)
          // above this one, voiding the (file_path, pos) order the spec
          // requires inside each delete file; with __pd as the prefix
          // the required ordering is already satisfied
          .sortWithinPartitions("__pd", "file_path", "pos")
          .write.partitionBy("__pd").mode("overwrite").parquet(out.toString)
        withListed(out)(_.filter(Files.isDirectory(_)).toSeq).foreach { d =>
          val name = d.getFileName.toString
          if (name.startsWith("__pd=")) {
            // Spark %XX-escapes '=', '/', etc. in partition dir names;
            // an empty dir value lands in the hive default partition
            val raw = name.stripPrefix("__pd=")
            val pd =
              if (raw == "__HIVE_DEFAULT_PARTITION__") ""
              else java.net.URLDecoder.decode(
                raw.replace("+", "%2B"), "UTF-8")
            val part = withListed(d)(
              _.find(_.toString.endsWith(".parquet"))).getOrElse(
              throw new IllegalStateException(s"no delete file for '$pd'"))
            try Files.move(part, targetOf(pd), StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.nio.file.FileAlreadyExistsException => () }
          }
        }
        targets.foreach { case (t, pd) => require(Files.exists(t),
          s"delete write produced no file for partition '$pd'") }
      }
      targets
    } finally {
      val walked = Files.walk(tmpDir)
      try walked.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walked.close()
    }
  }

  private def withListed[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def partSpecFieldsJson(partCols: Seq[String],
      fieldIds: scala.collection.Map[String, Int]): String =
    partCols.zipWithIndex.map { case (c, i) =>
      s"""{"name":"$c","transform":"identity","source-id":${fieldIds(c.toLowerCase)},"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")

  /** EXPIRE snapshots whose graft versions are no longer retained —
    * Iceberg's expire_snapshots, wired to vacuum: without it the
    * snapshot list in every metadata.json (and the chain's manifest/
    * delete-file population) grows with table age forever, which is the
    * scale killer Iceberg's own maintenance exists for. The CURRENT
    * metadata file is rewritten in place (atomic replace) with only the
    * kept snapshots; expired snapshots' manifest lists, manifests, and
    * delete files not referenced by any kept snapshot are deleted, as
    * are superseded metadata.json files (readers resolve through
    * version-hint, and the trimmed metadata-log reflects what remains).
    * Returns the number of files deleted. Time travel to an expired
    * snapshot fails with no-such-snapshot afterwards — expiry reclaims
    * history, never the current table. */
  def expireSnapshots(root: String, keepVersions: Seq[Long]): Int = {
    if (!hasChain(root)) return 0
    val dir = metaDir(root)
    val hintN = Files.readString(dir.resolve("version-hint.text")).trim.toLong
    val md = currentMetadata(root)
    val keepSeqs = keepVersions.map(_ + 1).toSet
    val all = snapshots(root)
    val (keep, expired) = all.partition(s => keepSeqs.contains(s.seq))
    if (expired.isEmpty) return 0
    require(keep.nonEmpty, "expireSnapshots would drop every snapshot")
    val keepIds = keep.map(_.id).toSet
    // the CURRENT snapshot must survive: expiring it would leave
    // current-snapshot-id dangling on deleted manifests — every later
    // read of the chain would fail
    require(keepIds.contains(md.get("current-snapshot-id").asLong()),
      "expireSnapshots must keep the current snapshot")
    // artifacts any KEPT snapshot still references stay
    val liveArtifacts = keep.flatMap { s =>
      Paths.get(s.manifestList).getFileName.toString +:
        readAvro(Paths.get(s.manifestList)).flatMap { mf =>
          val m = Paths.get(mf.get("manifest_path").toString)
          // both delete kinds (content 1 = position, 2 = equality):
          // adding eqdelete- to the expirable set below makes a LIVE
          // equality-delete file deletable unless it is protected here
          m.getFileName.toString +: readAvro(m).collect {
            case e if e.get("data_file").asInstanceOf[GenericRecord]
                .get("content").asInstanceOf[Int] != 0 =>
              Paths.get(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString).getFileName.toString
          }
        }
    }.toSet
    // rewrite the CURRENT metadata with the trimmed lists (jackson
    // round-trip of the kept nodes; field order is preserved)
    val node = md.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .deepCopy()
    def trimArray(field: String,
        pred: com.fasterxml.jackson.databind.JsonNode => Boolean): Unit = {
      val arr = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .arrayNode()
      md.get(field).elements().asScala.filter(pred).foreach(arr.add)
      node.set(field, arr)
      ()
    }
    trimArray("snapshots", s => keepIds.contains(s.get("snapshot-id").asLong()))
    trimArray("snapshot-log", s => keepIds.contains(s.get("snapshot-id").asLong()))
    trimArray("metadata-log", _ => false) // superseded files are deleted below
    val tmp = Files.createTempFile(dir, ".ice-exp", ".json")
    Files.writeString(tmp, node.toString)
    Files.move(tmp, dir.resolve(s"v$hintN.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    var deleted = 0
    // expired manifest lists + unreferenced manifests/delete files
    withListed(dir)(_.map(_.getFileName.toString).toSeq.foreach { name =>
      val expirable =
        (name.startsWith("snap-") || name.startsWith("m-") ||
          name.startsWith("delete-") || name.startsWith("eqdelete-")) &&
          !liveArtifacts.contains(name)
      val oldMeta = name.matches("v\\d+\\.metadata\\.json") &&
        name.stripPrefix("v").stripSuffix(".metadata.json").toLong < hintN
      if (expirable || oldMeta) {
        if (Files.deleteIfExists(dir.resolve(name))) deleted += 1
      }
    })
    deleted
  }

  /** Vacuum hook: expire chain snapshots of dropped graft versions;
    * failures only lag maintenance, never fail the vacuum. */
  def maybeExpire(root: String, keepVersions: Seq[Long]): Unit =
    if (hasChain(root))
      try { expireSnapshots(root, keepVersions); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"warn: iceberg snapshot expiry failed for $root " +
              s"(chain keeps stale snapshots until the next vacuum): $e")
      }

  /** WRITE-THROUGH hook (the Delta mirror's contract): once a chain
    * exists, every commit advances it; a failure only lags the mirror
    * (self-healed by the next commit), never fails the write. */
  def maybeAdvance(root: String): Unit =
    if (hasChain(root))
      SparkSession.getActiveSession.foreach { spark =>
        try exportIcebergMeta(spark, root)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"warn: iceberg mirror advance failed for $root (chain lags, " +
                s"next commit self-heals): $e")
        }
      }

  // --- Read (the foreign-reader protocol over the chain) -----------------

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  /** Parsed snapshot row: (id, parentId (-1 = none), sequenceNumber,
    * timestampMs, operation, schemaId, manifestList). */
  case class SnapshotInfo(id: Long, parent: Long, seq: Long, ts: Long,
      operation: String, schemaId: Int, manifestList: String,
      deletedDataFiles: Long = 0L)

  // (root, hint value, file identity) → parsed metadata; a
  // tailing stream's per-trigger snapshots() costs one hint read + two
  // stats after the first parse of each chain version. MTIME + SIZE in
  // the key make the cache correct under snapshot expiry, which
  // rewrites the current metadata file IN PLACE — the full-precision
  // mtime and the size together close the same-millisecond rewrite
  // window a bare millisecond-mtime key leaves open (see [[FileId]]).
  private val metadataCache = TrieMap
    .empty[(String, Long, FileId), com.fasterxml.jackson.databind.JsonNode]

  /** Read-plane format-version gate — the Iceberg twin of the Delta
    * face's `requireDeltaReaderProtocol`. A non-v2 chain read under v2
    * rules is SILENT wrong data, not a crash: a v1 chain's manifests
    * carry no sequence numbers, so v2 delete-scoping (equality deletes
    * apply strictly below, position deletes at-or-below) would
    * mis-apply; a v3 chain's `initial-default` column values would
    * null-fill instead of serving the default, and its Puffin
    * deletion-vector delete files would either crash the parquet
    * reader or — worse — be summary-pruned into an unread path and
    * resurrect deleted rows. v3 READ support is deliberately struck
    * (SURVEY §2.17): the refusal names the remedy. Runs inside
    * [[currentMetadata]], so EVERY read entry (readIceberg, changelog,
    * inspection TVFs, streaming source, convertToGraft, time travel)
    * refuses through this one body; writers carry their own per-verb
    * gate because they resolve metadata via [[trueCurrentVersion]],
    * not the hint. */
  private def requireIcebergReaderVersion(
      md: com.fasterxml.jackson.databind.JsonNode, root: String): Unit = {
    val v = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    if (v != 2) {
      val why =
        if (v == 1)
          "v1 manifests carry no sequence numbers, so v2 delete-scoping " +
            "rules would mis-apply; rewrite the table to format-version 2 " +
            "with an engine that writes v1"
        else if (v >= 3)
          "v3 adds initial-default column values (this engine would " +
            "null-fill them) and Puffin deletion vectors (deleted rows " +
            "would resurrect); compact/rewrite the table to " +
            "format-version 2 with a v3-capable engine"
        else "the format-version field is missing or unparseable"
      throw new IllegalArgumentException(
        s"this engine reads Iceberg format-version 2 only; the chain at " +
          s"$root is format-version $v — $why")
    }
  }

  /** The cached parse WITHOUT the format-version gate — only for
    * callers that must LOOK at a possibly-foreign tip to classify it
    * (the export guard); every read entry goes through
    * [[currentMetadata]], which gates. */
  private def currentMetadataUngated(root: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val dir = metaDir(root)
    val hint = dir.resolve("version-hint.text")
    require(Files.exists(hint),
      s"no Iceberg metadata at $root (exportIcebergMeta first)")
    val n = Files.readString(hint).trim.toLong
    val f = dir.resolve(s"v$n.metadata.json")
    metadataCache.getOrElseUpdate((root, n, FileId(f)),
      mapper.readTree(Files.readString(f)))
  }

  private def currentMetadata(root: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val md = currentMetadataUngated(root)
    requireIcebergReaderVersion(md, root)
    md
  }

  /** True when an exported chain exists at `root` (version-hint
    * present) — the streaming source's cheap liveness probe. */
  def hasChain(root: String): Boolean =
    Files.exists(metaDir(root).resolve("version-hint.text"))

  /** The changelog key columns the GRAFT manifest records when the
    * chain at `root` is graft's own mirror (the `cdf` field written by
    * enableChangeDataFeed); None for a pure-foreign chain or a graft
    * table streaming changes without CDF keys — callers must then be
    * given keys explicitly. */
  def graftCdfKeys(root: String): Option[Seq[String]] =
    scala.util.Try(LakehouseTable.currentVersion(root)).toOption.flatten
      .map(v => LakehouseTable.cdfKeysAt(root, v))
      .filter(_.nonEmpty)

  def snapshots(root: String): Seq[SnapshotInfo] = {
    val md = currentMetadata(root)
    // `snapshots` is OPTIONAL in v2 metadata — an empty foreign chain
    // (or one whose first commit lost the CAS) omits it; empty, never
    // an NPE
    Option(md.get("snapshots"))
      .map(_.elements().asScala).getOrElse(Iterator.empty).map { s =>
      SnapshotInfo(
        s.get("snapshot-id").asLong(),
        if (s.has("parent-snapshot-id")) s.get("parent-snapshot-id").asLong()
        else -1L,
        s.get("sequence-number").asLong(),
        s.get("timestamp-ms").asLong(),
        s.get("summary").get("operation").asText(),
        s.get("schema-id").asInt(),
        s.get("manifest-list").asText(),
        Option(s.get("summary").get("deleted-data-files"))
          .map(_.asText().toLong).getOrElse(0L))
    }.toSeq
  }

  /** Data file paths of one snapshot, via its manifest list → manifest
    * chain — exactly the walk a foreign Iceberg reader performs. */
  def snapshotFiles(root: String, snapshotId: Long): Seq[String] =
    snapshotEntries(root, snapshotId)._1.map(_._1)

  /** One live delete-manifest entry: the delete file's path, its
    * data_file `content` (1 = position deletes, 2 = equality deletes),
    * its effective sequence number (entry-level, inheriting the
    * manifest's when null — the spec's inheritance rule), and, for
    * equality deletes, the field ids the file's rows match on. */
  private[graft] case class DeleteEntry(path: String, content: Int,
      seq: Long, equalityIds: Seq[Int])

  /** ((data file, effective sequence number)s, delete entries) of one
    * snapshot. Sequence numbers ride along because both delete kinds
    * scope on them: equality deletes apply only to data files with a
    * STRICTLY SMALLER sequence number, position deletes to files with
    * sequence ≤ their own — so a carried delete never touches a path
    * re-added above it. */
  private def snapshotEntries(root: String, snapshotId: Long,
      manifestPrune: Option[GenericRecord => Boolean] = None)
      : (Seq[(String, Long)], Seq[DeleteEntry]) = {
    val (d, del, _) = snapshotEntriesPlanned(root, snapshotId, manifestPrune)
    (d, del)
  }

  /** [[snapshotEntries]] plus the kept DATA-manifest paths — what the
    * scan-planning caller feeds to [[fileMetricsIndex]]'s `only`
    * restriction so per-file pruning never re-opens pruned-away
    * manifests. */
  private def snapshotEntriesPlanned(root: String, snapshotId: Long,
      manifestPrune: Option[GenericRecord => Boolean] = None)
      : (Seq[(String, Long)], Seq[DeleteEntry], Seq[String]) = {
    val snap = snapshots(root).find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no Iceberg snapshot $snapshotId at $root"))
    def entrySeq(e: GenericRecord, mfSeq: Long): Long =
      Option(e.get("sequence_number"))
        .map(_.asInstanceOf[Long]).getOrElse(mfSeq)
    def live(mf: GenericRecord): Seq[(GenericRecord, Long)] = {
      val mfSeq = mf.get("sequence_number").asInstanceOf[Long]
      readAvro(Paths.get(mf.get("manifest_path").toString)).flatMap { e =>
        if (e.get("status").asInstanceOf[Int] == 2) None // DELETED
        else Some((e.get("data_file").asInstanceOf[GenericRecord],
          entrySeq(e, mfSeq)))
      }
    }
    // manifests of one snapshot are independent files: open them
    // CONCURRENTLY (a thousand-manifest chain's planning was the
    // sequential driver-side scale tax the round-14 verdict flagged)
    def liveAll(mfs: Seq[GenericRecord]): Seq[(GenericRecord, Long)] =
      if (mfs.sizeIs <= 1) mfs.flatMap(live)
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Await.result(Future.traverse(mfs)(m => Future(live(m))),
          Duration.Inf).flatten
      }
    val (dataAll, delsAll) = readAvro(Paths.get(snap.manifestList))
      .partition(_.get("content").asInstanceOf[Int] == 0)
    // the manifest list's partition summaries skip whole manifests
    // BEFORE opening them — BOTH kinds. Pruning a DELETE manifest is
    // sound because delete files are partition-scoped (the spec:
    // position/equality deletes under a partitioned spec apply only
    // within their partition): every row such a pruned manifest could
    // delete lives in a partition range the predicate excludes, and
    // the residual row filter in readIceberg removes those rows from
    // any conservatively-kept data file anyway — a "resurrected" row
    // can never satisfy the predicate that pruned its delete. Global
    // delete manifests (unpartitioned spec — what this engine's own
    // MOR writers emit) carry no summaries and always load.
    val data = manifestPrune.fold(dataAll)(p => dataAll.filter(p))
    val dels = manifestPrune.fold(delsAll)(p => delsAll.filter(p))
    val dataFiles = liveAll(data).map { case (df, seq) =>
      (df.get("file_path").toString, seq)
    }
    val delEntries = liveAll(dels).map { case (df, seq) =>
      val content = df.get("content").asInstanceOf[Int]
      val eqIds =
        if (df.getSchema.getField("equality_ids") == null) Seq.empty[Int]
        else Option(df.get("equality_ids")) match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.map(_.asInstanceOf[Int])
          case _ => Seq.empty[Int]
        }
      DeleteEntry(df.get("file_path").toString, content, seq, eqIds)
    }
    (dataFiles, delEntries, data.map(_.get("manifest_path").toString))
  }

  /** Field-id → logical name for one schema-id — how an equality
    * delete's `equality_ids` resolve to join columns. */
  private def fieldNamesById(root: String, schemaId: Int): Map[Int, String] = {
    val md = currentMetadata(root)
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId).getOrElse(
        throw new IllegalStateException(s"schema $schemaId missing"))
    schemaNode.get("fields").elements().asScala.map(f =>
      f.get("id").asInt() -> f.get("name").asText()).toMap
  }

  // --- Field-id column resolution (Iceberg spec, "Column Projection") --
  //
  // The spec's rule: data-file columns resolve by FIELD ID; files
  // written without parquet field ids resolve through the table's
  // `schema.name-mapping.default` property. Name-based resolution is
  // only exact when no field was ever renamed — true for every graft
  // mirror (the export refuses renames) and most foreign chains, so
  // that stays the zero-overhead fast path; a rename-bearing FOREIGN
  // chain (Spark/Flink/Trino write field ids and rename freely) routes
  // through [[chainScan]]'s per-footer classification instead of
  // silently null-filling pre-rename files under the new name.

  /** (field id, name, Spark type) rows of one schema-id in the current
    * metadata — [[schemaFieldsOf]] plus the ids the spec resolves by. */
  private def schemaIdFieldsOf(root: String, schemaId: Int)
      : Seq[(Int, String, org.apache.spark.sql.types.DataType)] = {
    val md = currentMetadata(root)
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId).getOrElse(
        throw new IllegalStateException(s"schema $schemaId missing"))
    schemaNode.get("fields").elements().asScala.map(f =>
      (f.get("id").asInt(), f.get("name").asText(),
        sparkType(f.get("type")))).toSeq
  }

  /** Parsed `schema.name-mapping.default`: lowercase file column name →
    * field id (flat top-level entries — the engine's chains are flat).
    * None when the chain declares no mapping. A mapping naming one
    * column for two ids is spec-invalid and refuses here, before it can
    * mis-resolve a scan. */
  private def nameMappingOf(root: String): Option[Map[String, Int]] = {
    val md = currentMetadata(root)
    Option(md.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .map { node =>
        val pairs = mapper.readTree(node.asText()).elements().asScala
          .flatMap { e =>
            // field-id is OPTIONAL in the name-mapping spec (Iceberg's
            // NameMappingParser omits it when unassigned): an id-less
            // entry maps its names to NOTHING — the spec reader serves
            // null for them — so it contributes no resolution here
            // (and must not NPE the whole read)
            Option(e.get("field-id")).filter(_.isNumber).toSeq
              .flatMap { idNode =>
                val id = idNode.asInt()
                e.get("names").elements().asScala.map(n =>
                  n.asText().toLowerCase -> id).toSeq
              }
          }.toSeq
        val dup = pairs.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
        require(dup.isEmpty,
          s"invalid schema.name-mapping.default at $root: column(s) " +
          s"${dup.keys.toSeq.sorted.mkString(", ")} mapped to multiple " +
          "field ids")
        pairs.toMap
      }
  }

  /** `schema.name-mapping.default` EXTENDED to cover `fields`
    * ((current name, field id) of the schema the commit serves) —
    * None when the chain declares no mapping (nothing to maintain) or
    * the mapping already covers every name. Iceberg's own writers
    * keep the mapping in step with schema changes (MappingUtil.update);
    * a foreign commit that adds columns or appends under a new name
    * without extending would leave every id-less file written LATER by
    * the table's other writers unresolvable for that column. A name
    * already mapped to a DIFFERENT id stays untouched: re-pointing it
    * would re-resolve every existing id-less file that carries the
    * name — this writer's own files are immune either way (their
    * footers carry field ids, which take precedence over any mapping). */
  private def extendedNameMapping(
      md: com.fasterxml.jackson.databind.JsonNode,
      fields: Seq[(String, Int)]): Option[String] =
    Option(md.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .flatMap { node =>
        val arr = mapper.readTree(node.asText())
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        val known: Set[String] = arr.elements().asScala.flatMap(e =>
          e.get("names").elements().asScala.map(
            _.asText().toLowerCase)).toSet
        // field-id is optional per entry (see [[nameMappingOf]]): an
        // id-less entry still RESERVES its names (kept in `known`
        // above) but cannot be merged into by id — skip it here
        // instead of NPEing every append against a chain that merely
        // declares such a mapping
        val byId: Map[Int, com.fasterxml.jackson.databind.JsonNode] =
          arr.elements().asScala.flatMap(e =>
            Option(e.get("field-id")).filter(_.isNumber)
              .map(_.asInt() -> e)).toMap
        val missing = fields.filterNot(f => known(f._1.toLowerCase))
        if (missing.isEmpty) None
        else {
          missing.foreach { case (n, id) =>
            byId.get(id) match {
              case Some(e) =>
                // the id already has an entry under an OLD name (a
                // foreign rename): MERGE the new name into it —
                // Iceberg's MappingUtil.update — never mint a second
                // entry for the same field-id (spec readers index the
                // mapping by id and reject duplicates)
                e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                  .withArray("names").add(n)
                ()
              case None =>
                val e = mapper.createObjectNode()
                e.put("field-id", id)
                val names = e.putArray("names")
                names.add(n)
                arr.add(e)
                ()
            }
          }
          Some(arr.toString)
        }
      }

  /** Apply an [[extendedNameMapping]] result to the metadata object a
    * foreign commit is about to CAS — the `extraMeta` hook shape of
    * [[commitForeignSnapshot]] / the ADD COLUMNS commit. */
  private def setNameMapping(
      obj: com.fasterxml.jackson.databind.node.ObjectNode,
      mapping: String): Unit = {
    val props = Option(obj.get("properties"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse {
        val p = mapper.createObjectNode()
        obj.set("properties", p)
        p
      }
    props.put("schema.name-mapping.default", mapping)
    ()
  }

  /** Lowercase identity-partition FIELD name → source column field id,
    * across ALL partition specs (old data files reference old specs).
    * Only identity transforms matter for column projection: bucket /
    * truncate / temporal partition fields are not schema columns and
    * are never requested. A partition-field name claimed by two specs
    * with different source columns cannot be resolved from a manifest
    * struct alone and refuses. */
  private def identityPartSources(root: String): Map[String, Int] = {
    val md = currentMetadata(root)
    val pairs = Option(md.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .filter(_.get("transform").asText() == "identity")
      .map(f => f.get("name").asText().toLowerCase ->
        f.get("source-id").asInt())
      .distinct
    val dup = pairs.groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"identity partition field name(s) ${dup.keys.toSeq.sorted
        .mkString(", ")} map to different source columns across " +
      s"partition specs at $root")
    pairs.toMap
  }

  /** Lowercase NON-IDENTITY partition field name → (parsed transform,
    * source column field id), across all specs — what scan planning
    * derives source-column pruning from on a `day(ts)`/`bucket[N]`/
    * `truncate[W]`-partitioned foreign chain (the most common real
    * Iceberg layouts). Unknown/void transforms are absent (no pruning
    * information, files kept conservatively). A field name claimed by
    * two specs with different (transform, source) cannot be resolved
    * from a manifest struct alone and refuses, like the identity
    * sibling above. */
  private def transformPartSources(root: String)
      : Map[String, (IcebergTransforms.Transform, Int)] = {
    val md = currentMetadata(root)
    val pairs = Option(md.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .flatMap { f =>
        IcebergTransforms.parse(f.get("transform").asText()).map(t =>
          f.get("name").asText().toLowerCase ->
            ((t, f.get("source-id").asInt())))
      }
      .distinct
    val dup = pairs.groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"transform partition field name(s) ${dup.keys.toSeq.sorted
        .mkString(", ")} map to different transforms or source columns " +
      s"across partition specs at $root")
    pairs.toMap
  }

  /** Partition FIELD-ID → (transform — None for identity — and source
    * field id), across ALL partition specs, plus the set of EVERY
    * declared field-id (including unknown/void transforms, which carry
    * no pruning information but must not fall through to name
    * resolution — a void value is always null and would masquerade as
    * an all-rows-null identity value). Field-ids are the spec's stable
    * per-field identity: evolution reuses an id for the same
    * (source, transform) and assigns fresh ids otherwise, so one id
    * carrying two meanings is spec-invalid metadata and refuses
    * (silence would mis-prune). This is what lets a chain whose specs
    * EVOLVED — a field name meaning identity in one spec and a
    * transform in another — resolve each file under the spec it was
    * written with instead of refusing. */
  private def partFieldsById(root: String): (Set[Int],
      Map[Int, (Option[IcebergTransforms.Transform], Int)]) = {
    val md = currentMetadata(root)
    val all = Option(md.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .flatMap { f =>
        Option(f.get("field-id")).map(fid => fid.asInt() ->
          ((f.get("transform").asText(), f.get("source-id").asInt())))
      }
      .distinct
    val dup = all.groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"partition field id(s) ${dup.keys.toSeq.sorted.mkString(", ")} " +
        s"carry different (transform, source) across partition specs " +
        s"at $root; the metadata is spec-invalid")
    val usable = all.flatMap { case (fid, (tr, src)) =>
      if (tr == "identity")
        Some(fid -> ((None: Option[IcebergTransforms.Transform], src)))
      else IcebergTransforms.parse(tr).map(t => fid -> ((Some(t), src)))
    }.toMap
    (all.map(_._1).toSet, usable)
  }

  /** Source field ids of IDENTITY partition fields across all specs —
    * the id-keyed view consumers use to ask "is this schema column an
    * identity partition source anywhere in the chain's history",
    * without the name-ambiguity refusals of [[identityPartSources]]
    * (ids cannot be ambiguous). */
  private def identitySourceIds(root: String): Set[Int] =
    Option(currentMetadata(root).get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .filter(_.get("transform").asText() == "identity")
      .map(_.get("source-id").asInt()).toSet

  /** NON-refusing (name, field-id?, transform, source-id) list of the
    * parseable transform partition fields across all specs — the key
    * universe [[pruneFiles]] folds [[FileMetrics.trans]] with. An
    * ambiguous NAME is harmless here: name keys only ever appear in a
    * file's trans map when the refusing name fallback in
    * [[fileMetricsIndex]] passed (i.e. no ambiguity existed), so an
    * ambiguous entry can never match one. */
  private def transformPartPairs(root: String)
      : Seq[(String, Option[Int], IcebergTransforms.Transform, Int)] =
    Option(currentMetadata(root).get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .flatMap { f =>
        IcebergTransforms.parse(f.get("transform").asText()).map(t =>
          (f.get("name").asText().toLowerCase,
            Option(f.get("field-id")).map(_.asInt()), t,
            f.get("source-id").asInt()))
      }
      .distinct

  /** Everything the manifests record about one data file that scan
    * planning can use: identity-partition values (by SOURCE field id),
    * TRANSFORM-partition values (keyed `"#<field-id>"` when the struct
    * carries spec field-ids, by partition FIELD name for legacy
    * id-less structs — day/bucket/truncate results are not schema
    * columns, so source-id keying would collide with identity values),
    * and the per-column metrics maps (value/null counts,
    * single-value-serialized bounds). Null entries in either partition
    * map are meaningful: a null partition value proves every row's
    * source value is null (all the supported transforms are
    * null-preserving). */
  private[graft] case class FileMetrics(part: Map[Int, Any],
      trans: Map[String, Any],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long],
      nanCounts: Map[Int, Long],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]])

  // manifest file identity → its parsed per-file metrics. Manifests are
  // immutable; entries never invalidate.
  private val manifestPartCache = TrieMap
    .empty[FileId, Map[String, FileMetrics]]
  // manifest LIST identity → its data-manifest paths (lists are
  // immutable too): keeps a per-query prune/fill at O(new metadata)
  // instead of re-reading every snapshot's list avro
  private val manifestListCache = TrieMap
    .empty[FileId, Seq[String]]

  /** Normalized data-file path → manifest metrics, from every
    * snapshot's data manifests — consulted only when a scan actually
    * needs a fill or a prune. Per-manifest memoized: steady-state cost
    * is O(new manifests), not O(history). */
  /** `only`: restrict the index to the given data-manifest paths —
    * the scan-planning path passes the manifests that SURVIVED
    * manifest-list summary pruning, so the per-file prune never
    * re-opens what the manifest-level prune skipped (at thousands of
    * manifests, the whole point). Default: the full chain (the fill /
    * time-travel consumers, per-manifest results cached either way). */
  private def fileMetricsIndex(root: String,
      only: Option[Seq[String]] = None): Map[String, FileMetrics] = {
    // PER-FILE SPEC RESOLUTION (partition evolution): each manifest's
    // partition struct fields carry their spec field-id as an avro
    // field property, keying every value by the spec the file was
    // WRITTEN under — a name that changed meaning across specs
    // (identity in one, a transform in another) resolves exactly.
    // Name resolution survives only as the fallback for id-less
    // legacy structs, where it must refuse ambiguity.
    val (declaredFids, byFid) = partFieldsById(root)
    // the fallback maps are LAZY: forcing them refuses on cross-spec
    // name ambiguity, which per-file id resolution renders legal — so
    // the refusal fires only when an id-less struct actually needs
    // names. A name that is identity in one spec and a transform (or
    // an unparseable transform, e.g. void — always null, which would
    // masquerade as an all-rows-null identity value) in another would
    // feed a transform ordinal into FileMetrics.part as an exact row
    // value — silent wrong pruning, the class this evaluator must
    // never produce.
    lazy val srcs = identityPartSources(root)
    lazy val transNames = transformPartSources(root).keySet
    lazy val fallbackChecked: Unit = {
      val unknownNames = Option(currentMetadata(root)
        .get("partition-specs")).toSeq
        .flatMap(_.elements().asScala)
        .flatMap(_.get("fields").elements().asScala)
        .filter(f => f.get("transform").asText() != "identity" &&
          IcebergTransforms.parse(f.get("transform").asText()).isEmpty)
        .map(_.get("name").asText().toLowerCase).toSet
      val clash = srcs.keySet.intersect(transNames) ++
        srcs.keySet.intersect(unknownNames) ++
        transNames.intersect(unknownNames)
      require(clash.isEmpty,
        s"partition field name(s) ${clash.toSeq.sorted.mkString(", ")} " +
          "carry different transforms across specs at " +
          s"$root; id-less manifest structs cannot be resolved " +
          "unambiguously")
    }
    def intMapOf(df: GenericRecord, field: String): Map[Int, Any] =
      if (df.getSchema.getField(field) == null) Map.empty
      else df.get(field) match {
        case l: java.util.List[_] => l.asScala.map { r0 =>
          val r = r0.asInstanceOf[GenericRecord]
          r.get("key").asInstanceOf[Int] -> r.get("value")
        }.toMap
        case _ => Map.empty
      }
    def bytesOf(v: Any): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val d = b.duplicate(); val out = new Array[Byte](d.remaining())
        d.get(out); out
      case a: Array[Byte] => a
    }
    val manifests = only.getOrElse(
      snapshots(root).map(_.manifestList).distinct
        .flatMap { l =>
          val p = Paths.get(l)
          manifestListCache.getOrElseUpdate(FileId(p),
            readAvro(p)
              .filter(_.get("content").asInstanceOf[Int] == 0)
              .map(_.get("manifest_path").toString))
        }.distinct)
    // manifests are independent files: index them CONCURRENTLY (the
    // snapshotEntries discipline) — on a cold cache this is the other
    // sequential driver-side walk planning pays
    val indexOne = (m: String) => {
      val p = Paths.get(m)
      manifestPartCache.getOrElseUpdate(FileId(p),
        readAvro(p).map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val partRec = Option(df.get("partition"))
            .map(_.asInstanceOf[GenericRecord]).toSeq
          val valsB = scala.collection.mutable.Map.empty[Int, Any]
          val tvalsB = scala.collection.mutable.Map.empty[String, Any]
          partRec.foreach { part =>
            part.getSchema.getFields.asScala.foreach { f =>
              val fid = Option(f.getObjectProp("field-id")).collect {
                case n: java.lang.Number => n.intValue()
              }
              fid match {
                case Some(id) if declaredFids.contains(id) =>
                  // the id names the writing spec's field exactly;
                  // ids declared with an unusable transform resolve
                  // to "no pruning information" (kept conservatively)
                  byFid.get(id).foreach {
                    case (None, srcId) =>
                      valsB(srcId) = part.get(f.pos())
                    case (Some(_), _) =>
                      tvalsB("#" + id) = part.get(f.pos())
                  }
                case _ =>
                  // no id (legacy writer), or an id no spec declares
                  // (metadata lost its spec): NAME fallback, refusing
                  // cross-spec ambiguity first
                  fallbackChecked
                  val n = f.name().toLowerCase
                  srcs.get(n).foreach(srcId =>
                    valsB(srcId) = part.get(f.pos()))
                  if (transNames.contains(n))
                    tvalsB(n) = part.get(f.pos())
              }
            }
          }
          val vals = valsB.toMap
          val tvals = tvalsB.toMap
          RowDeletes.locationKey(df.get("file_path").toString) -> FileMetrics(
            vals, tvals,
            intMapOf(df, "value_counts")
              .map { case (k, v) => k -> v.asInstanceOf[Long] },
            intMapOf(df, "null_value_counts")
              .map { case (k, v) => k -> v.asInstanceOf[Long] },
            intMapOf(df, "nan_value_counts")
              .map { case (k, v) => k -> v.asInstanceOf[Long] },
            intMapOf(df, "lower_bounds")
              .map { case (k, v) => k -> bytesOf(v) },
            intMapOf(df, "upper_bounds")
              .map { case (k, v) => k -> bytesOf(v) })
        }.toMap)
    }
    val perManifest =
      if (manifests.sizeIs <= 1) manifests.map(indexOne)
      else {
        // the lazy name-fallback maps stay lazy (forcing them would
        // refuse chains that never need name resolution); concurrent
        // first-touch is safe — lazy val init is synchronized, and a
        // throwing ambiguity require propagates loudly through Await
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        Await.result(Future.traverse(manifests)(m => Future(indexOne(m))),
          Duration.Inf)
      }
    perManifest.flatten.toMap
  }

  /** Normalized data-file path → identity-partition values (the
    * [[chainScan]] fill's view of [[fileMetricsIndex]]). */
  private def partitionValueIndex(root: String): Map[String, Map[Int, Any]] =
    if (identitySourceIds(root).isEmpty) Map.empty
    else fileMetricsIndex(root).map { case (p, fm) => p -> fm.part }

  /** One raw avro partition value → the Spark EXTERNAL value of the
    * requested column type (what `createDataFrame` rows carry). The
    * supported set is Iceberg's identity-partitionable primitives;
    * anything else refuses rather than serving a mis-typed value. */
  private def partitionExternal(v: Any,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == null) null
    else {
      val raw = v match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case x => x
      }
      (dt, raw) match {
        case (IntegerType, n: java.lang.Number) => Integer.valueOf(n.intValue())
        case (LongType, n: java.lang.Number) => java.lang.Long.valueOf(n.longValue())
        case (ShortType, n: java.lang.Number) => java.lang.Short.valueOf(n.shortValue())
        case (ByteType, n: java.lang.Number) => java.lang.Byte.valueOf(n.byteValue())
        case (DoubleType, n: java.lang.Number) => java.lang.Double.valueOf(n.doubleValue())
        case (FloatType, n: java.lang.Number) => java.lang.Float.valueOf(n.floatValue())
        case (StringType, s: String) => s
        case (BooleanType, b: java.lang.Boolean) => b
        case (DateType, n: java.lang.Number) =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue()))
        case (TimestampType, n: java.lang.Number) =>
          // spec: timestamp partition values are microseconds
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(n.longValue(), 1000000L),
            Math.floorMod(n.longValue(), 1000000L) * 1000L))
        case _ => throw new IllegalArgumentException(
          s"unsupported identity-partition value $raw " +
          s"(${raw.getClass.getName}) for column type ${dt.sql}")
      }
    }
  }

  /** True when any field id carries more than one name across the
    * chain's schema history or its name-mapping — the trigger for
    * per-file field-id resolution on raw data scans. False (every graft
    * mirror and any foreign chain that never renamed) keeps the single
    * explicit-schema name scan with zero added planning cost. */
  private[graft] def chainHasRenames(root: String): Boolean = {
    val md = currentMetadata(root)
    val namesById = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Set[String]]
    md.get("schemas").elements().asScala.foreach { s =>
      s.get("fields").elements().asScala.foreach { f =>
        namesById.getOrElseUpdate(f.get("id").asInt(),
          scala.collection.mutable.Set.empty) +=
          f.get("name").asText().toLowerCase
      }
    }
    nameMappingOf(root).foreach(_.foreach { case (n, id) =>
      namesById.getOrElseUpdate(id,
        scala.collection.mutable.Set.empty) += n
    })
    namesById.values.exists(_.size > 1)
  }

  // data-file identity (path, size, mtime) → top-level footer columns
  // (name, optional parquet field id). Size+mtime guard wiped-and-re-
  // exported roots reusing a path in one JVM — the manifestPartCache /
  // manifestListCache invalidation discipline. Consulted only on
  // rename-bearing chains.
  private val footerCache =
    TrieMap.empty[FileId, Seq[(String, Option[Int])]]

  private def footerKey(path: String): FileId = FileId.orAbsent(Paths.get(path))

  private[graft] def footerColumns(path: String): Seq[(String, Option[Int])] =
    footerCache.getOrElseUpdate(footerKey(path), {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.conf.Configuration())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(t => (t.getName, Option(t.getId).map(_.intValue()))).toSeq
      finally rd.close()
    })

  /** Warm [[footerCache]] for a scan's file slice. Small tails read on
    * the driver; a wide rename-bearing scan classifies the un-cached
    * tail in ONE distributed job — the same footers every task re-opens
    * at execution, so planning adds no new IO class at 100 TB. */
  private def classifyFooters(spark: SparkSession, files: Seq[String]): Unit = {
    val missing = files.filterNot(f => footerCache.contains(footerKey(f)))
    if (missing.size > 64) {
      // self-contained closure: no capture of this module
      val readOne: String => Seq[(String, Option[Int])] = { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          new org.apache.hadoop.conf.Configuration())
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(t => (t.getName, Option(t.getId).map(_.intValue()))).toSeq
        finally rd.close()
      }
      spark.sparkContext
        .parallelize(missing, math.max(1, math.min(missing.size, 32)))
        .map(p => (p, readOne(p))).collect()
        .foreach { case (p, c) => footerCache.put(footerKey(p), c) }
    } else missing.foreach(footerColumns)
  }

  /** Resolve the requested fields against ONE id-less footer signature
    * (the lowercase top-level column names of files written without
    * parquet field ids). Returns field id → physical column name to
    * request; None = the field is absent from these files (serve typed
    * nulls / partition-dir values). Resolution follows the spec:
    * name-mapping when the chain declares one; otherwise the schema
    * EPOCHS whose column sets cover the signature, which must agree.
    * Ambiguity — one footer name claimed by two field ids (a rename
    * followed by name reuse), or covering epochs that disagree —
    * REFUSES loudly instead of guessing. */
  private def resolveIdLessGroup(root: String, sig: Set[String],
      fields: Seq[(Int, String, org.apache.spark.sql.types.DataType)],
      sample: String): Map[Int, Option[String]] = {
    val assigned: Seq[(Int, Option[String])] = nameMappingOf(root) match {
      case Some(m) =>
        val out = fields.map { case (id, n, _) =>
          val cands = sig.filter(s => m.get(s).contains(id))
          require(cands.size <= 1,
            s"ambiguous name-mapping resolution for field id $id in " +
            s"id-less file $sample at $root: columns " +
            s"${cands.toSeq.sorted.mkString(", ")} all map to it")
          // absent from the mapping: request the current name only when
          // the footer does NOT carry it (partition columns / columns
          // these files predate); a footer column of that name belongs
          // to some OTHER field per the authoritative mapping
          id -> cands.headOption.orElse(
            if (sig.contains(n.toLowerCase)) None else Some(n))
        }
        // Strictness over the spec's "ignore unmapped names": when the
        // footer carries a column the mapping does not name AND some
        // requested field found no physical column, the file is most
        // likely PRE-RENAME output the mapping predates — null-filling
        // would silently drop its data, the failure class this module
        // refuses on. A fully-resolved read ignores extra columns
        // (spec behavior); an unresolved field with no orphan columns
        // null-fills honestly (the file predates the column).
        val unresolved = out.collect { case (id, phys)
          if !phys.exists(p => sig.contains(p.toLowerCase)) => id }
        // an unmapped footer column is an orphan even when it carries a
        // field's CURRENT name: with that field unresolved, the likeliest
        // reading is post-rename output a stale mapping predates — data
        // physically present under the requested name that null-filling
        // would silently drop. (With every field resolved the orphans
        // are ignored below, per the spec's unmapped-name rule.)
        val orphans = sig.filterNot(m.contains)
        require(unresolved.isEmpty || orphans.isEmpty,
          s"cannot resolve columns of id-less data file $sample at " +
          s"$root: footer column(s) ${orphans.toSeq.sorted.mkString(", ")} " +
          "match no schema.name-mapping.default entry while field id(s) " +
          s"${unresolved.sorted.mkString(", ")} resolve to no footer " +
          "column — likely a rename the mapping predates; extend the " +
          "mapping with the historical name(s)")
        out
      case None =>
        val epochs = {
          val md = currentMetadata(root)
          md.get("schemas").elements().asScala.map { s =>
            s.get("fields").elements().asScala.map(f =>
              f.get("id").asInt() -> f.get("name").asText().toLowerCase).toMap
          }.toSeq
        }
        val covering = epochs.filter(e => sig.subsetOf(e.values.toSet))
        require(covering.nonEmpty,
          s"cannot resolve columns of id-less data file $sample at $root: " +
          s"no schema epoch covers columns ${sig.toSeq.sorted.mkString(", ")} " +
          "and the chain declares no schema.name-mapping.default")
        fields.map { case (id, n, _) =>
          val res = covering.flatMap(_.get(id)).filter(sig.contains).distinct
          require(res.size <= 1,
            s"ambiguous column resolution for field id $id in id-less " +
            s"file $sample at $root: covering schema epochs disagree " +
            s"(${res.sorted.mkString(" vs ")}); declare a " +
            "schema.name-mapping.default to disambiguate")
          id -> res.headOption.orElse(
            if (sig.contains(n.toLowerCase)) None else Some(n))
        }
    }
    // one footer column claimed by two requested fields = a rename
    // followed by name reuse these files cannot disambiguate
    val taken = assigned.collect { case (id, Some(p)) if sig.contains(p.toLowerCase) => (id, p.toLowerCase) }
    val clash = taken.groupBy(_._2).filter(_._2.size > 1)
    require(clash.isEmpty,
      s"ambiguous column resolution in id-less file $sample at $root: " +
      clash.map { case (p, ids) =>
        s"column '$p' claimed by field ids ${ids.map(_._1).sorted.mkString(", ")}"
      }.mkString("; ") +
      " (rename followed by name reuse); declare a schema.name-mapping.default")
    assigned.toMap
  }

  private def fidMeta(id: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id.toLong).build()

  /** Read a raw chain-file slice under the requested schema fields with
    * the spec's column resolution. The rename-free fast path is ONE
    * scan under an explicit (name, type) schema (exactly the proven
    * pre-round-12 read). Rename-bearing chains classify each file's
    * footer (memoized; distributed beyond 64 new files) and split:
    *
    *   - files WITH parquet field ids: one scan whose requested schema
    *     carries each field's id as `parquet.field.id` — Spark's
    *     field-id matching serves renamed columns from any epoch,
    *     upcasts narrow footers of widened columns, and null-fills ids
    *     a file predates. An id-less straggler FAILS the read loudly
    *     (`fieldId.read.ignoreMissing` stays false: silent nulls are
    *     the failure class this path exists to prevent);
    *   - files WITHOUT ids: grouped by footer column signature (one
    *     scan per write epoch, never per file), each group resolved via
    *     [[resolveIdLessGroup]].
    *
    * Output: the requested names/types in order, plus row identity
    * `__p` (normalized file path) and `__ri` (row index) when
    * `withIdentity` — a union erases `_metadata`, so identity is
    * projected inside each leg. */
  /** Raw chain scan over `files` with the spec's field-id /
    * name-mapping column resolution, PLUS the spec's identity-partition
    * fill ("Column Projection" rule 2: a field not present in a data
    * file returns the value from partition metadata when an identity
    * transform exists for it). Writers may omit identity-partition
    * source columns from data files; under a hive-style layout Spark's
    * directory inference recovers them for free, but a foreign chain
    * using Iceberg's OBJECT-STORAGE layout (hash-prefixed flat paths —
    * standard on S3 at scale) or a renamed partition directory keeps
    * the values ONLY in the manifests' partition structs. Detection is
    * zero-IO on the happy paths: unpartitioned chains and chains whose
    * every file hive-encodes every identity source column (every graft
    * mirror) short-circuit on string checks alone; only files whose
    * paths lack the encoding get their footers classified, and only
    * files whose footers also lack the column join the broadcast
    * per-file value map (ONE extra scan leg per distinct fill set —
    * never a leg per partition). */
  private def chainScan(spark: SparkSession, root: String,
      files: Seq[String],
      fields: Seq[(Int, String, org.apache.spark.sql.types.DataType)],
      withIdentity: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val distinctFiles = files.distinct
    val srcs = identitySourceIds(root)
    val idPartFields = fields.filter { case (id, _, _) =>
      srcs.contains(id) }
    // directory inference can only serve a column from segments BELOW
    // the scan's basePath — a hive-looking segment in the table root
    // itself (/warehouse/region=eu/...) must not mask a missing fill
    val basePrefix = Paths.get(root, "data").toString + "/"
    def dirServed(f: String, n: String): Boolean =
      f.startsWith(basePrefix) &&
        ("/" + f.stripPrefix(basePrefix).toLowerCase)
          .contains(s"/${n.toLowerCase}=")
    val suspects =
      if (idPartFields.isEmpty) Nil
      else distinctFiles.filter(f =>
        idPartFields.exists { case (_, n, _) => !dirServed(f, n) })
    if (suspects.isEmpty)
      chainScanResolved(spark, root, distinctFiles, fields, withIdentity)
    else {
      classifyFooters(spark, suspects)
      // a field needs filling for a file when neither the directory,
      // nor the footer (under the resolution rule the scan itself will
      // use: field id when the file carries ids, name / name-mapping
      // otherwise), serves it. Id-less resolution runs once per
      // DISTINCT footer signature, not per file — the module's
      // one-resolution-per-write-epoch discipline.
      val physOf = scala.collection.mutable.Map
        .empty[Set[String], Map[Int, Option[String]]]
      def missing(f: String): Set[Int] = {
        val foot = footerColumns(f)
        val idFul = foot.exists(_._2.isDefined)
        lazy val sig = foot.map(_._1.toLowerCase).toSet
        lazy val phys = physOf.getOrElseUpdate(sig,
          if (chainHasRenames(root)) resolveIdLessGroup(root, sig, fields, f)
          else fields.map { case (id, n, _) => id -> Some(n) }.toMap)
        idPartFields.filter { case (id, n, _) =>
          !dirServed(f, n) && {
            if (idFul) !foot.exists(_._2.contains(id))
            else !phys(id).exists(p => sig.contains(p.toLowerCase))
          }
        }.map(_._1).toSet
      }
      val fillOf = suspects.map(f => f -> missing(f)).toMap
      val fillSets = fillOf.filter(_._2.nonEmpty)
      if (fillSets.isEmpty)
        chainScanResolved(spark, root, distinctFiles, fields, withIdentity)
      else {
        val plain = distinctFiles.filterNot(f =>
          fillOf.get(f).exists(_.nonEmpty))
        val pidx = partitionValueIndex(root)
        val legs = scala.collection.mutable.Buffer.empty[DataFrame]
        if (plain.nonEmpty)
          legs += chainScanResolved(spark, root, plain, fields, withIdentity)
        fillSets.groupBy(_._2).foreach { case (ids, group) =>
          val fs = group.keys.toSeq.sorted
          val inner = chainScanResolved(spark, root, fs, fields,
            withIdentity = true)
          val fillFields = fields.filter { case (id, _, _) =>
            ids.contains(id) }
          val schema = org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("__fp",
              org.apache.spark.sql.types.StringType) +:
            fillFields.map { case (_, n, dt) =>
              org.apache.spark.sql.types.StructField(s"__fill_$n", dt) })
          val rows = fs.map { f =>
            val np = RowDeletes.locationKey(f)
            // absent value = the spec's "return null in all other
            // cases" (a file committed before the field was partitioned)
            val vals = pidx.getOrElse(np, Map.empty)
            org.apache.spark.sql.Row.fromSeq(np +: fillFields.map {
              case (id, _, dt) =>
                partitionExternal(vals.get(id).orNull, dt)
            })
          }
          val fillDf = spark.createDataFrame(rows.asJava, schema)
          val joined = inner.join(broadcast(fillDf),
            col("__p") === col("__fp"), "left")
          val outCols = fields.map { case (id, n, _) =>
            if (ids.contains(id)) col(s"__fill_$n").as(n) else col(n) }
          legs += joined.select(outCols ++
            (if (withIdentity) Seq(col("__p"), col("__ri")) else Nil): _*)
        }
        legs.reduce(_ unionByName _)
      }
    }
  }

  private def chainScanResolved(spark: SparkSession, root: String,
      files: Seq[String],
      fields: Seq[(Int, String, org.apache.spark.sql.types.DataType)],
      withIdentity: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(files.nonEmpty, "chainScan: empty file slice")
    val basePath = Paths.get(root, "data").toString
    def finish(df: DataFrame, nameOf: Int => Option[String]): DataFrame = {
      // (__p, __ri) are RowDeletes.File/Row: on a union, which has no
      // `_metadata`, dropPositions joins on these columns as they are
      val base =
        if (!withIdentity) df
        else df.withColumn("__p", RowDeletes.scanFileKey(""))
          .withColumn("__ri", col("_metadata.row_index"))
      val out = fields.map { case (id, n, dt) =>
        nameOf(id) match {
          case Some(p) if base.columns.exists(_.equalsIgnoreCase(p)) =>
            col(p).cast(dt).as(n)
          case _ => lit(null).cast(dt).as(n)
        }
      }
      base.select(
        (if (withIdentity) out ++ Seq(col("__p"), col("__ri")) else out): _*)
    }
    val distinctFiles = files.distinct
    // PARTITION EVOLUTION leaves each era's files under its own spec's
    // hive layout (`cat=…` beside `ts_day=…`): Spark's partition
    // discovery refuses conflicting dir-key names under one basePath,
    // so files scan in ONE LEG PER LAYOUT SIGNATURE (the set of hive
    // keys between basePath and the file) — bounded by the number of
    // specs the chain ever had, never by file count
    val basePrefix = basePath + "/"
    def hiveSig(f: String): Seq[String] =
      if (!f.startsWith(basePrefix)) Seq("<outside>")
      else f.stripPrefix(basePrefix).split('/').dropRight(1).toSeq
        .filter(_.contains('='))
        .map(_.takeWhile(_ != '=').toLowerCase)
    val bySig = distinctFiles.groupBy(hiveSig)
    if (bySig.size > 1)
      bySig.toSeq.sortBy(_._1.mkString(","))
        .map { case (_, fs) =>
          chainScanResolved(spark, root, fs, fields, withIdentity) }
        .reduce(_ unionByName _)
    else if (!chainHasRenames(root)) {
      val raw = spark.read.option("basePath", basePath)
        .schema(explicitSchema(fields.map { case (_, n, dt) => (n, dt) }))
        .parquet(distinctFiles: _*)
      finish(raw, id => fields.find(_._1 == id).map(_._2))
    } else {
      classifyFooters(spark, distinctFiles)
      val classed = distinctFiles.map(f => f -> footerColumns(f))
      val (idFul, idLess) = classed.partition(_._2.exists(_._2.isDefined))
      val legs = scala.collection.mutable.Buffer.empty[DataFrame]
      if (idFul.nonEmpty) {
        // inert for schemas without id metadata, so session-global is safe
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        val req = org.apache.spark.sql.types.StructType(fields.map {
          case (id, n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt, nullable = true,
              fidMeta(id))
        })
        val raw = spark.read.option("basePath", basePath).schema(req)
          .parquet(idFul.map(_._1): _*)
        legs += finish(raw, id => fields.find(_._1 == id).map(_._2))
      }
      idLess.groupBy(_._2.map(_._1.toLowerCase).toSet).toSeq
        .sortBy(_._2.head._1).foreach { case (sig, group) =>
          val phys = resolveIdLessGroup(root, sig, fields, group.head._1)
          val reqFields = fields.flatMap { case (id, _, dt) =>
            phys(id).map(p => org.apache.spark.sql.types.StructField(p, dt))
          }
          val raw = spark.read.option("basePath", basePath)
            .schema(org.apache.spark.sql.types.StructType(reqFields))
            .parquet(group.map(_._1): _*)
          legs += finish(raw, id => phys(id))
        }
      legs.reduce(_ unionByName _)
    }
  }

  /** An equality-delete file's key columns served under the CURRENT
    * schema names, with the data files' resolution rule (delete files
    * share it, per spec): id-ful files resolve by parquet field id,
    * id-less ones through name-mapping / covering epochs. A delete KEY
    * that cannot be resolved REFUSES — a null key under null-safe
    * equality would silently match the wrong rows. */
  private def readDeleteKeyColumns(spark: SparkSession, root: String,
      path: String,
      cols: Seq[(Int, String, org.apache.spark.sql.types.DataType)])
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!chainHasRenames(root)) {
      val delRaw = spark.read.parquet(path)
      val missing = cols.filterNot { case (_, c, _) =>
        delRaw.columns.exists(_.equalsIgnoreCase(c)) }
      require(missing.isEmpty,
        s"equality-delete file $path lacks column(s) " +
        s"${missing.map(_._2).mkString(", ")}; physical-name delete " +
        "files (active column mapping) are unsupported")
      delRaw.select(cols.map { case (_, c, _) => col(c) }: _*)
    } else {
      val foot = footerColumns(path)
      if (foot.exists(_._2.isDefined)) {
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        val req = org.apache.spark.sql.types.StructType(cols.map {
          case (id, n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt, nullable = true,
              fidMeta(id))
        })
        spark.read.schema(req).parquet(path)
          .select(cols.map { case (_, n, _) => col(n) }: _*)
      } else {
        val sig = foot.map(_._1.toLowerCase).toSet
        val phys = resolveIdLessGroup(root, sig, cols, path)
        val missing = cols.filter { case (id, _, _) =>
          !phys(id).exists(p => sig.contains(p.toLowerCase)) }
        require(missing.isEmpty,
          s"equality-delete file $path: key column(s) " +
          s"${missing.map(_._2).mkString(", ")} cannot be resolved by " +
          "field id, name-mapping, or schema epoch")
        val req = org.apache.spark.sql.types.StructType(cols.map {
          case (id, _, dt) =>
            org.apache.spark.sql.types.StructField(phys(id).get, dt)
        })
        spark.read.schema(req).parquet(path)
          .select(cols.map { case (id, n, _) => col(phys(id).get).as(n) }: _*)
      }
    }
  }

  /** Iceberg schema type string → Spark type (inverse of [[icebergType]],
    * scalars + list). */
  private def sparkType(n: com.fasterxml.jackson.databind.JsonNode)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (n.isTextual) n.asText() match {
      case "boolean"     => BooleanType
      case "int"         => IntegerType
      case "long"        => LongType
      case "float"       => FloatType
      case "double"      => DoubleType
      case "string"      => StringType
      case "date"        => DateType
      case "timestamptz" => TimestampType
      case "binary"      => BinaryType
      case d if d.startsWith("decimal(") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg type '$other'")
    } else if (n.get("type").asText() == "list")
      ArrayType(sparkType(n.get("element")))
    else throw new IllegalArgumentException(
      s"unsupported Iceberg type ${n.toString}")
  }

  /** IMPORT an Iceberg table (metadata chain + parquet files) as a
    * NATIVE graft table at `dstRoot` — CONVERT TO GRAFT pointed at the
    * second open format: hardlink the current snapshot's live files into
    * `dstRoot/data` (copy when the link crosses devices) and commit them
    * as version 0. The imported table has the full native feature set
    * from that point, including an independent re-export.
    *
    * Guards (refuse, never silently corrupt): row-level delete manifests
    * (apply them with a rewrite/compaction first), and identity
    * partition fields whose values are not encoded as hive `k=` path
    * segments (the graft manifest derives partitioning from paths). */
  def convertToGraft(spark: SparkSession, srcRoot: String,
      dstRoot: String): Long = {
    require(hasChain(srcRoot), s"no Iceberg metadata at $srcRoot")
    require(LakehouseTable.versions(dstRoot).isEmpty,
      s"import target is not empty: $dstRoot")
    val md = currentMetadata(srcRoot)
    val sid = md.get("current-snapshot-id").asLong()
    val snap = snapshots(srcRoot).find(_.id == sid).getOrElse(
      throw new IllegalStateException(s"current snapshot $sid missing"))
    val (dataEntries, deleteEntries) = snapshotEntries(srcRoot, sid)
    val files = dataEntries.map(_._1)
    // position deletes convert to a native DV sidecar below; EQUALITY
    // deletes have no position form without a full matching scan —
    // refuse (rewrite/compact in the source engine first), never import
    // rows the source would not serve
    require(deleteEntries.forall(_.content == 1),
      s"Iceberg table at $srcRoot carries equality-delete files; " +
        "compact them to data rewrites in the source engine before import")
    val deleteFiles = deleteEntries.map(_.path)
    require(files.nonEmpty, s"Iceberg table at $srcRoot has no live files")
    // declared identity partition fields must be hive-encoded in paths
    val specId = md.get("default-spec-id").asInt()
    val identityCols = md.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == specId).toSeq
      .flatMap(_.get("fields").elements().asScala)
      .filter(_.get("transform").asText() == "identity")
      .map(_.get("name").asText())
    val srcPrefix = Paths.get(srcRoot).toString + "/"
    val mapping = files.map { f =>
      require(f.startsWith(srcPrefix),
        s"data file outside the table root cannot be imported: $f")
      f -> f.stripPrefix(srcPrefix).stripPrefix("data/")
    }
    require(mapping.map(_._2).distinct.size == mapping.size,
      "import would collide two source files onto one dest path")
    identityCols.foreach { c =>
      mapping.map(_._2).foreach(rel => require(
        LakehouseTable.hiveEncodesColumn(rel, c),
        s"identity partition '$c' is not hive-encoded in the path of " +
          s"'$rel'; cannot import without a rewrite"))
    }
    mapping.foreach { case (src, rel) =>
      val dst = Paths.get(dstRoot, "data", rel)
      Files.createDirectories(dst.getParent)
      Files.deleteIfExists(dst) // failed-import leftover (commit is LAST)
      try Files.createLink(dst, Paths.get(src))
      catch {
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          Files.copy(Paths.get(src), dst)
      }
    }
    // position-delete files → one native DV sidecar (the same
    // (path, pos) shape), keyed by dest-relative path and scoped to the
    // files the deletes actually cover — the inverse of the export
    val dvField =
      if (deleteFiles.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{col, substring}
        val dataPrefix = Paths.get(srcRoot, "data").toString + "/"
        val del = spark.read.parquet(deleteFiles: _*)
        val bad = del
          .filter(!col("file_path").startsWith(dataPrefix)).limit(1).count()
        require(bad == 0L,
          "position-delete file references a data file outside the " +
            s"table's data dir; cannot import $srcRoot")
        val dvName = "dv-import"
        Files.createDirectories(LakehouseTable.deletesDir(dstRoot))
        del.select(
            substring(col("file_path"), dataPrefix.length + 1, Int.MaxValue)
              .as("path"),
            col("pos").cast("long").as("pos"))
          .write.mode("overwrite") // failed-import leftover replaced
          .parquet(LakehouseTable.deletesDir(dstRoot).resolve(dvName).toString)
        val live = mapping.map(_._2).toSet
        val covered = del.select("file_path").distinct().collect()
          .map(_.getString(0).stripPrefix(dataPrefix)).filter(live)
          .sorted.toSeq
        if (covered.isEmpty) None
        else Some(LakehouseTable.encodeDvs(covered.map(_ -> dvName)))
      }
    LakehouseTable.commit(dstRoot, 0, mapping.map(_._2), dvs = dvField)
  }

  /** Relocate every data file of the chain to a FLAT hash-prefixed
    * path under `data/` and rewrite the manifests to match — Iceberg's
    * OBJECT-STORAGE layout (`write.object-storage.enabled`, the
    * S3-scale default), produced here as a FOREIGN-WRITER stand-in so
    * gate fixtures can prove that identity-partition values serve from
    * the manifests' partition structs (spec "Column Projection" rule 2)
    * rather than from hive directory names. Files move on disk, so the
    * NATIVE table at `root` must not be read afterwards — fixtures
    * build a dedicated clone first. */
  private[graft] def relocateDataFilesFlat(root: String): Unit = {
    val dataDir = Paths.get(root, "data")
    val movedTo = scala.collection.mutable.Map.empty[String, String]
    val lists = snapshots(root).map(_.manifestList).distinct
      .map(l => readAvro(Paths.get(l)))
    // a position-delete parquet's file_path VALUES would keep pointing
    // at the pre-move paths — silent fail-open resurrection on read.
    // Refuse rather than relocate what this helper does not rewrite.
    require(!lists.exists(_.exists(_.get("content").asInstanceOf[Int] == 1)),
      s"relocateDataFilesFlat: chain at $root carries delete manifests " +
      "whose delete files reference data paths by value; relocating " +
      "would orphan them")
    val manifests = lists
      .flatMap(_.filter(_.get("content").asInstanceOf[Int] == 0)
        .map(_.get("manifest_path").toString)).distinct
    manifests.foreach { m =>
      val p = Paths.get(m)
      val (schema, meta, recs) = readAvroWithMeta(p)
      recs.foreach { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val orig = df.get("file_path").toString
        val op = Paths.get(orig)
        // idempotent re-run after a kill: an already-flat entry moves
        // (and rewrites) to the SAME name, never a second hash prefix
        if (op.getParent != dataDir)
          df.put("file_path", movedTo.getOrElseUpdate(orig, {
            val flat = dataDir.resolve(
              f"${orig.hashCode & 0xfffff}%05x-${op.getFileName.toString}")
            if (Files.exists(op)) Files.move(op, flat)
            flat.toString
          }))
      }
      // rewrite via temp + atomic replace: a kill between a delete and
      // a rewrite would orphan the manifest-list reference forever
      val tmp = Files.createTempFile(p.getParent, ".flat", ".avro")
      Files.delete(tmp)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      meta.foreach { case (k, v) => w.setMeta(k, v) }
      w.create(schema, tmp.toFile)
      recs.foreach(w.append)
      w.close()
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** FOREIGN-WRITER STAND-IN (like [[appendEqualityDeleteSnapshot]]):
    * convert an exported chain's IDENTITY partition spec into a
    * TRANSFORM spec — the footprint of a writer that declared
    * `day(ts)` / `bucket[N](k)` / `truncate[W](s)` partitioning, the
    * most common real Iceberg layouts. The graft engine itself always
    * exports identity specs over materialized partition columns; this
    * helper exists so the read path's transform pruning is gated
    * against chains shaped like what Spark/Flink/Trino writers
    * actually produce. For each `partField -> (transform, sourceCol)`:
    * the spec field's transform and source-id are rewritten (the
    * partition VALUES already match — the fixture materialized the
    * transform result as the partition column), the partition column
    * is dropped from every schema (transform fields are not schema
    * columns), and, when `dropSourceMetrics`, the source column's
    * manifest metrics are stripped (a `write.metadata.metrics.default
    * =none` writer) so planning exercises the transform derivation,
    * not column bounds. The NATIVE table at `root` must not be read
    * afterwards — fixtures build a dedicated clone first. */
  private[graft] def convertSpecToTransform(root: String,
      conversions: Map[String, (String, String)],
      dropSourceMetrics: Boolean = true): Unit = {
    val dir = metaDir(root)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val convLower = conversions.map { case (k, v) => k.toLowerCase -> v }
    val dropCols = convLower.keySet
    // --- metadata.json files: spec fields + schema columns ---
    val metaFiles = withListed(dir)(_.filter(
      _.getFileName.toString.matches("v\\d+\\.metadata\\.json")).toSeq)
    var srcIds = Map.empty[String, Int] // source column (lower) → field id
    metaFiles.foreach { mf =>
      val node = mapper.readTree(Files.readString(mf))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      // resolve source field ids from this file's own schemas
      node.get("schemas").elements().asScala.foreach { s =>
        s.get("fields").elements().asScala.foreach { f =>
          srcIds += f.get("name").asText().toLowerCase -> f.get("id").asInt()
        }
      }
      node.get("partition-specs").elements().asScala.foreach { spec =>
        spec.get("fields").elements().asScala.foreach { f =>
          convLower.get(f.get("name").asText().toLowerCase).foreach {
            case (transform, srcCol) =>
              val fo = f.asInstanceOf[
                com.fasterxml.jackson.databind.node.ObjectNode]
              fo.put("transform", transform)
              fo.put("source-id", srcIds.getOrElse(srcCol.toLowerCase,
                throw new IllegalArgumentException(
                  s"no source column '$srcCol' in schemas at $root")))
              ()
          }
        }
      }
      // drop the materialized partition columns from every schema
      node.get("schemas").elements().asScala.foreach { s =>
        val so = s.asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode]
        val kept = com.fasterxml.jackson.databind.node.JsonNodeFactory
          .instance.arrayNode()
        s.get("fields").elements().asScala
          .filterNot(f => dropCols.contains(f.get("name").asText().toLowerCase))
          .foreach(kept.add)
        so.set("fields", kept)
        ()
      }
      val tmp = Files.createTempFile(dir, ".conv", ".json")
      Files.writeString(tmp, node.toString)
      Files.move(tmp, mf, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val dropIds: Set[Int] =
      if (!dropSourceMetrics) Set.empty
      else convLower.values.map { case (_, srcCol) =>
        srcIds.getOrElse(srcCol.toLowerCase, -1) }.toSet
    // --- manifests: spec metadata + (optionally) source metrics ---
    val manifests = snapshots(root).map(_.manifestList).distinct
      .flatMap(l => readAvro(Paths.get(l))
        .filter(_.get("content").asInstanceOf[Int] == 0)
        .map(_.get("manifest_path").toString)).distinct
    manifests.foreach { m =>
      val p = Paths.get(m)
      val (schema, meta, recs) = readAvroWithMeta(p)
      val newMeta = meta.map {
        case ("partition-spec", js) =>
          val arr = mapper.readTree(js)
          arr.elements().asScala.foreach { f =>
            convLower.get(f.get("name").asText().toLowerCase).foreach {
              case (transform, srcCol) =>
                val fo = f.asInstanceOf[
                  com.fasterxml.jackson.databind.node.ObjectNode]
                fo.put("transform", transform)
                fo.put("source-id", srcIds(srcCol.toLowerCase))
                ()
            }
          }
          "partition-spec" -> arr.toString
        case other => other
      }
      if (dropIds.nonEmpty) recs.foreach { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        Seq("value_counts", "null_value_counts", "nan_value_counts",
          "lower_bounds", "upper_bounds").foreach { field =>
          if (df.getSchema.getField(field) != null) df.get(field) match {
            case l: java.util.List[_] =>
              val kept = new java.util.ArrayList[Any]()
              l.asScala.foreach { kv =>
                val key = kv.asInstanceOf[GenericRecord].get("key")
                  .asInstanceOf[Int]
                if (!dropIds.contains(key)) kept.add(kv)
              }
              df.put(field, kept)
            case _ => ()
          }
        }
      }
      val tmp = Files.createTempFile(p.getParent, ".conv", ".avro")
      Files.delete(tmp)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      newMeta.foreach { case (k, v) => w.setMeta(k, v) }
      w.create(schema, tmp.toFile)
      recs.foreach(w.append)
      w.close()
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Append a snapshot carrying an EQUALITY-DELETE file (v2 content=2)
    * to an existing chain — the commit shape a Flink-style streaming
    * upsert writer produces when it cannot locate row positions, so it
    * deletes by key. The graft engine itself never commits this
    * (deleteWhereMor computes exact positions); it exists as the
    * FOREIGN-WRITER stand-in so the read path's equality semantics are
    * gated against chains the engine did not write. The delete parquet
    * is id-less; readers resolve its columns through the chain's
    * schema.name-mapping.default property, like the shared data
    * parquet. Unpartitioned tables only. `seqOverride` crafts a
    * sequence number below the tip (what a concurrent foreign commit
    * produces) so specs can pin the strictly-smaller application rule.
    * Returns the new snapshot id. */
  private[graft] def appendEqualityDeleteSnapshot(spark: SparkSession,
      root: String, eqCols: Seq[String], deleteRows: DataFrame,
      seqOverride: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(hasChain(root), s"no Iceberg metadata at $root")
    require(LakehouseTable.partitionColumns(root).isEmpty,
      "equality-delete stand-in supports unpartitioned tables only")
    require(eqCols.nonEmpty, "equality delete requires key columns")
    val dir = metaDir(root)
    val md = currentMetadata(root)
    val hintN = Files.readString(dir.resolve("version-hint.text")).trim.toLong
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = seqOverride.getOrElse(lastSeq + 1)
    val parent = md.get("current-snapshot-id").asLong()
    val curSchemaId = md.get("current-schema-id").asInt()
    val idOf = fieldNamesById(root, curSchemaId).map(_.swap)
    val eqIds = eqCols.map(c => idOf.getOrElse(c,
      throw new IllegalArgumentException(
        s"no field '$c' in schema $curSchemaId at $root")))
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-eqdel:$root#$seq#$hintN").take(15), 16)
    // the delete parquet: one row per deleted key tuple
    val delTarget = dir.resolve(s"eqdelete-$sid.parquet")
    val nDel = {
      val stage = Files.createTempDirectory(dir, ".eqdel-tmp")
      try {
        val rows = deleteRows.select(eqCols.map(col): _*)
        rows.coalesce(1).write.mode("overwrite")
          .parquet(stage.resolve("out").toString)
        val part = withListed(stage.resolve("out"))(
          _.find(_.toString.endsWith(".parquet"))).getOrElse(
          throw new IllegalStateException("delete write produced no file"))
        try Files.move(part, delTarget, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        LakehouseTable.parquetRecordCount(delTarget)
      } finally {
        val walked = Files.walk(stage)
        try walked.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walked.close()
      }
    }
    // delete manifest: the spec entry schema + equality_ids (135/136)
    val schemaJson = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).get.toString
    val entrySchema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         {"name":"status","type":"int","field-id":0},
         {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
           {"name":"content","type":"int","field-id":134},
           {"name":"file_path","type":"string","field-id":100},
           {"name":"file_format","type":"string","field-id":101},
           {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
           {"name":"record_count","type":"long","field-id":103},
           {"name":"file_size_in_bytes","type":"long","field-id":104},
           {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
         ]}}]}""".replaceAll("\n\\s*", ""))
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    val df = new GenericData.Record(dataFileSchema)
    df.put("content", 2) // EQUALITY_DELETES
    df.put("file_path", delTarget.toString)
    df.put("file_format", "PARQUET")
    df.put("partition", new GenericData.Record(partSchema))
    df.put("record_count", nDel)
    df.put("file_size_in_bytes", Files.size(delTarget))
    df.put("equality_ids", eqIds.map(Int.box).asJava)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1)
    e.put("snapshot_id", sid)
    e.put("sequence_number", null) // inherit the manifest list's
    e.put("file_sequence_number", null)
    e.put("data_file", df)
    val m = dir.resolve(s"m-$sid-eqdel.avro")
    writeAvro(m, entrySchema, Seq(
      "schema" -> schemaJson,
      "partition-spec" -> "[]",
      "partition-spec-id" -> "0",
      "format-version" -> "2",
      "content" -> "deletes"), Seq(e))
    // manifest list: the parent's entries carried verbatim + the new
    // delete manifest stamped at this snapshot's sequence number
    val parentList = snapshots(root).find(_.id == parent).getOrElse(
      throw new IllegalStateException(s"parent snapshot $parent missing"))
      .manifestList
    val carried = readAvro(Paths.get(parentList)).map(toCurrentListRecord)
    val mfRec = new GenericData.Record(manifestFileSchema)
    mfRec.put("manifest_path", m.toString)
    mfRec.put("manifest_length", Files.size(m))
    mfRec.put("partition_spec_id", 0)
    mfRec.put("content", 1) // deletes manifest
    mfRec.put("sequence_number", seq)
    mfRec.put("min_sequence_number", seq)
    mfRec.put("added_snapshot_id", sid)
    mfRec.put("added_files_count", 1)
    mfRec.put("existing_files_count", 0)
    mfRec.put("deleted_files_count", 0)
    mfRec.put("added_rows_count", nDel)
    mfRec.put("existing_rows_count", 0L)
    mfRec.put("deleted_rows_count", 0L)
    mfRec.put("partitions", partitionSummariesOf(m))
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"), carried.toSeq :+ mfRec)
    // new metadata.json: the current one with the snapshot appended
    val ts = math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1)
    val obj = mapper.readTree(Files.readString(
        dir.resolve(s"v$hintN.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.put("last-sequence-number", math.max(lastSeq, seq))
    obj.put("last-updated-ms", ts)
    obj.put("current-snapshot-id", sid)
    val snapJson = s"""{"snapshot-id":$sid,"parent-snapshot-id":$parent,""" +
      s""""sequence-number":$seq,"timestamp-ms":$ts,""" +
      s""""manifest-list":"$listPath","schema-id":$curSchemaId,""" +
      s""""summary":{"operation":"delete","deleted-data-files":"0",""" +
      s""""added-data-files":"0"}}"""
    obj.withArray("snapshots").add(mapper.readTree(snapJson))
    obj.withArray("snapshot-log").add(mapper.readTree(
      s"""{"snapshot-id":$sid,"timestamp-ms":$ts}"""))
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$hintN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    val target = dir.resolve(s"v${hintN + 1}.metadata.json")
    val tmp = Files.createTempFile(dir, ".ice-tmp", ".json")
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
    }
    val hintTmp = Files.createTempFile(dir, ".hint-tmp", ".txt")
    Files.writeString(hintTmp, (hintN + 1).toString)
    Files.move(hintTmp, dir.resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    sid
  }

  /** APPEND-ONLY COMMIT to a FOREIGN Iceberg chain — metadata this
    * engine did not export (no graft manifest): the Delta-side
    * [[LakehouseTable.appendDeltaForeign]]'s symmetric twin, following
    * the HadoopTables commit protocol. Resolves the CURRENT metadata
    * as the MAX v*.metadata.json on disk (the version-hint is a hint —
    * a writer that crashed between its metadata CAS and the hint
    * update must not wedge every later append into a permanent
    * version collision; committing on the true max heals the hint),
    * validates the append is one it cannot corrupt — format-version 2
    * ONLY (v1 lacks sequence numbers; v3 would need row-lineage fields
    * this writer does not produce), current schema matching `df` by
    * name, type, and required-ness, and a default spec whose every
    * field is identity OR a transform this writer can EVALUATE —
    * day/month/year/hour (UTC epoch arithmetic, tz-independent),
    * bucket[N] (the spec's murmur3 over Appendix-B byte forms),
    * truncate[W] — laying the rows out hive-style under the evaluated
    * layout columns with the evaluated values in the partition structs
    * (the day-partitioned table is the append shape real pipelines
    * commit daily; unknown transforms refuse) — writes the rows as
    * parquet under `root/data` (via the Delta face's shared
    * [[LakehouseTable.writeFilesRaw]] protocol), wraps them in ONE
    * new manifest with full column metrics (value/null/NaN counts,
    * bounds — a foreign append must not punch a skipping hole into a
    * metrics-bearing chain), carries the parent's manifest list
    * verbatim (existing position/equality deletes keep applying to
    * OLD files only: the new files' data sequence exceeds every
    * existing delete sequence, per the spec's application rules; a
    * freshly-created chain with current-snapshot-id −1 gets a
    * parentless first snapshot), advances `refs.main` when the chain
    * carries branch refs (spec readers reject metadata whose main ref
    * disagrees with current-snapshot-id), and commits
    * `v(max+1).metadata.json` via a createLink CAS — POSIX rename
    * overwrites, so a rename-based commit would DROP a concurrent
    * writer's version — then moves the version-hint FORWARD ONLY,
    * under a cross-process lock (a slow winner must not regress the
    * hint over a faster writer's newer commit). A lost race raises
    * ConcurrentModificationException leaving only unreferenced files.
    * Returns the new snapshot id. */
  def appendIcebergForeign(spark: SparkSession, root: String,
      df: org.apache.spark.sql.DataFrame,
      branch: Option[String] = None): Long = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    // refusals — loud, never a corrupting best-effort. Format version
    // FIRST: v1 metadata lacks the fields below (NPE instead of a
    // refusal), and a v3 chain would get a v2-shaped snapshot without
    // v3's row-lineage fields — silent corruption for spec readers.
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"append supports Iceberg format-version 2 only; the chain at " +
        s"$root is format-version $fmtVer")
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    // a BRANCH append (write-audit-publish staging) parents on the
    // branch ref's head, never on main — main's readers see nothing
    // until FAST FORWARD publishes
    val parent = branch match {
      case None => md.get("current-snapshot-id").asLong()
      case Some(b) =>
        // 'main' is the managed current pointer (createRefForeign
        // refuses it too): the branch arm would advance refs.main
        // WITHOUT moving current-snapshot-id — a half-commit the next
        // plain append silently orphans
        require(!b.equalsIgnoreCase("main"),
          "'main' is the managed current-state branch; use a plain " +
            "INSERT (no branch argument) to commit to it")
        val r = Option(md.get("refs")).flatMap(rs => Option(rs.get(b)))
          .getOrElse(throw new IllegalArgumentException(
            s"no ref '$b' at $root; CREATE BRANCH first"))
        require(r.get("type").asText() == "branch",
          s"ref '$b' at $root is a ${r.get("type").asText()}, not a " +
            "branch; a tag is immutable and cannot take appends")
        r.get("snapshot-id").asLong()
    }
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-append:$root#$seq#$curN#$uuid").take(15), 16)
    val (m, nFiles, totalRows, defaultSpecId, curSchemaId) =
      writeForeignDataManifest(spark, root, dir, md, df, sid, "append")
    // manifest list: the parent's entries carried verbatim + the adds.
    // A freshly-created foreign table has current-snapshot-id -1 and no
    // snapshots — the most ordinary append target: parentless first
    // snapshot, nothing carried.
    val hasParent = parent != -1L
    val carried =
      if (!hasParent) Nil
      else carriedManifests(md, parent)
    val mfRec = manifestListRecord(m, defaultSpecId, content = 0,
      seq, sid, nFiles, totalRows)
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" ->
        (if (hasParent) parent.toString else "null"),
      "format-version" -> "2"), carried :+ mfRec)
    // keep schema.name-mapping.default in step (Iceberg's own writers
    // do): a chain whose id-less files resolve by mapping gets any
    // unmapped current-schema names minted in the SAME commit, so a
    // name-mapping-only reader resolves every era — ours by footer
    // ids, the foreign id-less ones by the mapping
    val curFields = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId)
      .map(_.get("fields").elements().asScala.map(f =>
        (f.get("name").asText(), f.get("id").asInt())).toSeq)
      .getOrElse(Nil)
    val nmExt = extendedNameMapping(md, curFields)
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "append",
      s""""deleted-data-files":"0","added-data-files":"$nFiles"""",
      "append", extraMeta = obj =>
        nmExt.foreach(nm => setNameMapping(obj, nm)),
      branch = branch)
    sid
  }

  /** Re-shape a manifest-list record read from an EXISTING list onto
    * the current [[manifestFileSchema]] — a record read under a
    * legacy schema (no `partitions` field) cannot be re-serialized
    * under the extended one (GenericDatumWriter resolves fields by
    * POSITION of the writer schema; the legacy record's value array
    * is one short). Absent fields carry null (the schema default). */
  private def toCurrentListRecord(r: GenericRecord): GenericRecord =
    // SCHEMA equality, not field count: a foreign 14-field record
    // (e.g. key_metadata instead of partitions at position 13) passed
    // through unchanged would serialize position-resolved against the
    // wrong slot and kill every carry-forward commit in avro
    if (r.getSchema == manifestFileSchema) r
    else {
      val nr = new GenericData.Record(manifestFileSchema)
      manifestFileSchema.getFields.asScala.foreach { f =>
        if (r.getSchema.getField(f.name) != null) {
          val v =
            if (f.name == "partitions") toCurrentSummaries(r.get(f.name))
            else r.get(f.name)
          nr.put(f.pos(), v)
        }
      }
      nr
    }

  /** The nested half of [[toCurrentListRecord]]: a carried `partitions`
    * array whose ELEMENT records differ from this engine's summary
    * shape (foreign 3-field pre-contains_nan summaries are spec-legal)
    * re-shapes element-by-element — GenericDatumWriter resolves nested
    * fields by the writer schema's positions too, so a verbatim copy
    * would serialize lower_bound bytes into the contains_nan slot. */
  private def toCurrentSummaries(v: Any): AnyRef = v match {
    case l: java.util.List[_] =>
      val arrSchema = manifestFileSchema.getField("partitions")
        .schema().getTypes.get(1)
      val itemSchema = arrSchema.getElementType
      val arr = new GenericData.Array[GenericRecord](l.size(), arrSchema)
      l.asScala.foreach { e0 =>
        val e = e0.asInstanceOf[GenericRecord]
        if (e.getSchema == itemSchema) arr.add(e)
        else {
          val nr = new GenericData.Record(itemSchema)
          itemSchema.getFields.asScala.foreach { f =>
            if (e.getSchema.getField(f.name) != null)
              nr.put(f.pos(), e.get(f.name))
          }
          // contains_null is non-nullable in our shape; a (spec-
          // invalid) foreign element missing it carries the
          // conservative value rather than failing serialization
          if (nr.get("contains_null") == null)
            nr.put("contains_null", java.lang.Boolean.TRUE)
          arr.add(nr)
        }
      }
      arr
    case other => other.asInstanceOf[AnyRef] // null stays null
  }

  /** The parent snapshot's manifest-list entries, carried verbatim
    * into a child commit — EXCEPT manifests holding only DELETED
    * entries, which the spec lets later snapshots drop: the deletion
    * record belongs to the snapshot that did the deleting (changelogs
    * read it there), and carrying it forever would pin every
    * compacted-away file against snapshot expiry. Manifests with
    * unknown counts carry conservatively. */
  private def carriedManifests(
      md: com.fasterxml.jackson.databind.JsonNode,
      parent: Long): Seq[GenericRecord] =
    readAvro(Paths.get(md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == parent).getOrElse(
        throw new IllegalStateException(
          s"parent snapshot $parent missing"))
      .get("manifest-list").asText()))
      .map(toCurrentListRecord)
      .filter { mf =>
        def cnt(f: String): Option[Int] =
          Option(mf.get(f)).map(_.asInstanceOf[Int])
        val allDeleted = (for {
          a <- cnt("added_files_count"); e <- cnt("existing_files_count")
          d <- cnt("deleted_files_count")
        } yield a + e == 0 && d > 0).getOrElse(false)
        !allDeleted
      }

  /** One manifest-list record — the shared builder of every foreign
    * commit's added manifest entry (content 0 = data, 1 = deletes). */
  private def manifestListRecord(m: Path, specId: Int, content: Int,
      seq: Long, sid: Long, files: Int, rows: Long): GenericRecord = {
    val mfRec = new GenericData.Record(manifestFileSchema)
    mfRec.put("manifest_path", m.toString)
    mfRec.put("manifest_length", Files.size(m))
    mfRec.put("partition_spec_id", specId)
    mfRec.put("content", content)
    mfRec.put("sequence_number", seq)
    mfRec.put("min_sequence_number", seq)
    mfRec.put("added_snapshot_id", sid)
    mfRec.put("added_files_count", files)
    mfRec.put("existing_files_count", 0)
    mfRec.put("deleted_files_count", 0)
    mfRec.put("added_rows_count", rows)
    mfRec.put("existing_rows_count", 0L)
    mfRec.put("deleted_rows_count", 0L)
    mfRec.put("partitions", partitionSummariesOf(m))
    mfRec
  }

  /** Validate `df` against the chain's CURRENT schema and DEFAULT
    * spec, lay it out (identity + evaluated transforms) and write
    * under root/data, and build ONE data manifest with full column
    * metrics at snapshot `sid` — the shared write body of the foreign
    * APPEND and the foreign UPDATE's post-image. Returns (manifest
    * path, files written, rows written, default spec id, current
    * schema id). */
  /** Refuse a DEFAULT spec this writer cannot evaluate per row — a
    * metadata-only check every data-writing foreign commit runs BEFORE
    * touching disk (a post-write refusal would strand files behind
    * every attempt). */
  private def requireEvaluableDefaultSpec(
      md: com.fasterxml.jackson.databind.JsonNode, root: String,
      what: String): Unit = {
    val defaultSpecId = md.get("default-spec-id").asInt()
    val specFields = md.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == defaultSpecId)
      .map(_.get("fields").elements().asScala.toSeq).getOrElse(Nil)
    val unknownTr = specFields.filter(f =>
      f.get("transform").asText() != "identity" &&
        IcebergTransforms.parse(f.get("transform").asText()).isEmpty)
    require(unknownTr.isEmpty,
      s"$what to a chain partitioned by unsupported transform(s) " +
        s"${unknownTr.map(f => f.get("transform").asText() + "(" +
          f.get("name").asText() + ")").mkString(", ")} at $root is " +
        "not supported (this writer cannot evaluate them)")
  }

  private def writeForeignDataManifest(spark: SparkSession, root: String,
      dir: Path, md: com.fasterxml.jackson.databind.JsonNode,
      df: org.apache.spark.sql.DataFrame, sid: Long, what: String,
      enforceRequired: Boolean = true)
      : (Path, Int, Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val curSchemaId = md.get("current-schema-id").asInt()
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    val defaultSpecId = md.get("default-spec-id").asInt()
    val specFields = md.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == defaultSpecId)
      .map(_.get("fields").elements().asScala.toSeq).getOrElse(Nil)
    // IDENTITY fields pass source values through; the supported
    // TRANSFORMS (day/month/year/hour, bucket[N], truncate[W]) are
    // EVALUATED per row with [[IcebergTransforms]]' own arithmetic —
    // the day-partitioned table is the append shape real pipelines
    // commit daily. Unknown transforms refuse rather than mis-bucket.
    requireEvaluableDefaultSpec(md, root, what)
    // schema: exactly the current schema's columns by name, type, and
    // REQUIRED-ness (appending a nullable column into a required field
    // would violate the contract for every reader)
    val fields = schemaNode.get("fields").elements().asScala.map { f =>
      (f.get("name").asText(), sparkType(f.get("type")),
        f.get("required").asBoolean(), f.get("id").asInt())
    }.toSeq
    val dfByName = df.schema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    // enforceRequired=false: the UPDATE path's select/when lineage is
    // schema-nullable even though a raise_error guard proves every
    // required value non-null at run time BEFORE anything commits
    require(dfByName.keySet == fields.map(_._1.toLowerCase).toSet &&
        fields.forall { case (n, dt, required, _) =>
          val g = dfByName(n.toLowerCase)
          g.dataType == dt &&
            (!required || !enforceRequired || !g.nullable) },
      s"$what schema ${df.schema.simpleString} does not match the " +
        s"chain's current schema at $root (names, types, and " +
        "required-ness must all be compatible)")
    // spec fields → everything the layout and the partition struct
    // need: the spec's DECLARED field-id (an evolved spec's field may
    // carry 1001 — positional 1000+i would make id-resolving readers
    // serve null), the LAYOUT column the hive dirs key on (the source
    // column for identity; a derived column named like the spec field
    // for transforms), the struct's VALUE type (date for day, int for
    // month/year/hour/bucket, the source type for identity/truncate),
    // and the transform's row-level evaluation — tz-independent: the
    // temporal derivations run on epoch arithmetic, never session-tz
    // calendar functions (spec: transforms count UTC units from epoch)
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{expr, pmod, substring, udf}
    val byId = fields.map(f => f._4 -> f).toMap
    case class PartField(specName: String, srcCol: String,
        structDt: DataType, fieldId: Int, layoutCol: String,
        derived: Option[org.apache.spark.sql.Column])
    // EXACT integer floor-division in LONG space: `/` on longs is
    // DOUBLE division, which misclassifies boundary instants once the
    // quotient's half-ulp exceeds a unit — the reader's temporalRange
    // is exact BigDecimal arithmetic, so a rounded-up day value would
    // make it wrongly prune the file's boundary rows
    def floorDivSql(m: String, d: Long): String =
      s"(($m) - pmod($m, ${d}L)) DIV ${d}L"
    def utcDate(src: String) = expr(
      s"date_from_unix_date(CAST(${floorDivSql(
        s"unix_micros(`$src`)", 86400000000L)} AS INT))")
    val partFields: Seq[PartField] = specFields.map { sf =>
      val srcId = sf.get("source-id").asInt()
      val (srcCol, srcDt, _, _) = byId.getOrElse(srcId,
        throw new IllegalArgumentException(
          s"partition source field id $srcId is not in the current " +
            s"schema at $root"))
      val specName = sf.get("name").asText()
      val fid = sf.get("field-id").asInt()
      def bad(why: String) = throw new IllegalArgumentException(
        s"append cannot evaluate ${sf.get("transform").asText()}" +
          s"($srcCol: ${srcDt.simpleString}) at $root: $why")
      IcebergTransforms.parse(sf.get("transform").asText()) match {
        case None => // identity
          if (!supportedPartitionType(srcDt))
            bad("unsupported identity partition type")
          PartField(specName, srcCol, srcDt, fid, srcCol, None)
        case Some(tr) =>
          require(!fields.exists(_._1.equalsIgnoreCase(specName)),
            s"transform partition field '$specName' at $root collides " +
              "with a schema column; the layout column cannot be added")
          val (dt, c) = (tr, srcDt) match {
            case (IcebergTransforms.Day, TimestampType) =>
              (DateType, utcDate(srcCol))
            case (IcebergTransforms.Day, DateType) =>
              (DateType, col(srcCol))
            case (IcebergTransforms.Hour, TimestampType) =>
              (IntegerType, expr(s"CAST(${floorDivSql(
                s"unix_micros(`$srcCol`)", 3600000000L)} AS INT)"))
            case (IcebergTransforms.Month, TimestampType | DateType) =>
              val d = if (srcDt == DateType) col(srcCol) else utcDate(srcCol)
              (IntegerType, ((org.apache.spark.sql.functions.year(d) -
                1970) * 12 +
                org.apache.spark.sql.functions.month(d) - 1).cast(IntegerType))
            case (IcebergTransforms.Year, TimestampType | DateType) =>
              val d = if (srcDt == DateType) col(srcCol) else utcDate(srcCol)
              (IntegerType,
                (org.apache.spark.sql.functions.year(d) - 1970)
                  .cast(IntegerType))
            case (IcebergTransforms.Bucket(n), _) =>
              // ONE hash body: every integral/temporal type buckets as
              // its 8-byte-LE long (Appendix B) — only the long-valued
              // input expression differs per type. Compiled as a
              // codegen'd Expression (the repo's per-row standard),
              // not a UDF: bucket-partitioned appends evaluate this
              // once per appended row
              import org.apache.spark.sql.graftbridge.ColumnBridge
              def bucketed(in: org.apache.spark.sql.Column) =
                ColumnBridge.column(IcebergBucketIndex(
                  ColumnBridge.expression(in), n))
              val h: org.apache.spark.sql.Column = srcDt match {
                case LongType | IntegerType | ShortType | ByteType =>
                  bucketed(col(srcCol).cast(LongType))
                case TimestampType =>
                  bucketed(expr(s"unix_micros(`$srcCol`)"))
                case DateType =>
                  bucketed(expr(s"CAST(unix_date(`$srcCol`) AS BIGINT)"))
                case StringType =>
                  bucketed(col(srcCol))
                case _ => bad("this writer does not implement the " +
                  "Appendix-B byte form for this source type")
              }
              (IntegerType, h)
            case (IcebergTransforms.Truncate(w), LongType | IntegerType |
                ShortType | ByteType) =>
              (srcDt, (col(srcCol) - pmod(col(srcCol),
                org.apache.spark.sql.functions.lit(w))).cast(srcDt))
            case (IcebergTransforms.Truncate(w), StringType) =>
              (StringType, substring(col(srcCol), 1, w))
            case _ => bad("this writer does not evaluate the transform " +
              "for this source type (the spec may define it; the " +
              "limitation is this writer's)")
          }
          PartField(specName, srcCol, dt, fid, specName, Some(c))
      }
    }
    // Iceberg FIELD IDS ride into the parquet footers
    // (parquet.field.id + the session write flag, the same monotonic
    // discipline as the Delta face's mapped writes): the appended
    // files resolve BY ID for every spec reader — including chains
    // whose older files are id-less and resolve only through
    // schema.name-mapping.default, where a rename would otherwise
    // orphan name-resolved new files. Identity/transform layout
    // columns stay out of the data files (partitionBy), so only
    // schema columns carry ids.
    val aligned = df.select(fields.map { case (n, _, _, id) =>
      val fmd = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id.toLong).build()
      col(n).as(n, fmd)
    }: _*)
    LakehouseTable.ensureFieldIdWrite(spark)
    val laidOut = partFields.foldLeft(aligned) { (acc, p) =>
      p.derived.fold(acc)(c => acc.withColumn(p.layoutCol, c))
    }
    // EMPTY-STRING transform values are unrecoverable from the hive
    // layout (Spark writes '' as __HIVE_DEFAULT_PARTITION__, which
    // reconstructs as struct NULL): for a truncate[W] string field the
    // SOURCE column physically holds '' rows inside the data file, so
    // an all-null struct value would make the pruning reader wrongly
    // skip them. Refuse before writing — one filter over the append
    // batch, only when a string-valued transform layout exists.
    val strTransformCols = partFields
      .filter(p => p.derived.isDefined && p.structDt == StringType)
      .map(_.layoutCol)
    if (strTransformCols.nonEmpty) {
      val emptyPred = strTransformCols
        .map(c => col(c) === "").reduce(_ || _)
      require(laidOut.filter(emptyPred).isEmpty,
        s"$what batch contains empty-string value(s) for transform " +
          s"partition field(s) ${strTransformCols.mkString(", ")} at " +
          s"$root; the hive layout cannot represent '' distinctly from " +
          "null and the struct value would wrongly prune the rows")
    }
    // data files under root/data, unique names — ONE write protocol
    // with the Delta face (micros timestamps, staged + uuid-prefixed
    // atomic moves, hive layout keyed by the layout columns, which
    // partitionBy excludes from the data files): the appends must not
    // drift
    val written = LakehouseTable
      .writeFilesRaw(laidOut, root, partFields.map(_.layoutCol))
      .map(rel => (rel, Paths.get(root, "data").resolve(rel)))
    // one manifest of the adds, with FULL column metrics from footers.
    // The partition struct keys on the SPEC field names and DECLARED
    // ids with each field's VALUE type (identity = the source value,
    // transforms = the evaluated unit/bucket/prefix).
    val cols = fields.map { case (n, dt, _, id) =>
      n.toLowerCase -> ((id, dt)) }.toMap
    val entrySchema = manifestEntrySchemaIds(
      partFields.map(p => (p.specName, p.structDt, p.fieldId)))
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    // one file's hive dirs → the partition struct: dirs key on the
    // LAYOUT column, the struct on the spec field name. ONE shared
    // dir parse with the Delta face (hivePartPairs).
    def partRecord(rel: String): GenericData.Record = {
      val rec = new GenericData.Record(partSchema)
      val dirVals = LakehouseTable.hivePartPairs(rel)
        .map { case (k, ov) => k.toLowerCase -> ov }.toMap
      partFields.foreach { p =>
        rec.put(p.specName,
          dirVals.get(p.layoutCol.toLowerCase).flatten
            .map(typedPartitionValue(p.structDt, _)).orNull)
      }
      rec
    }
    def intMap(field: String, m: Seq[(Int, Any)]): Any = {
      val itemSchema = dataFileSchema.getField(field).schema()
        .getTypes.get(1).getElementType
      val arr = new java.util.ArrayList[GenericRecord]()
      m.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k); r.put("value", v); arr.add(r)
      }
      arr
    }
    var totalRows = 0L
    val entries = written.map { case (rel, p) =>
      val rows = LakehouseTable.parquetRecordCount(p)
      totalRows += rows
      val mets = footerMetrics(p, cols)
      val dfr = new GenericData.Record(dataFileSchema)
      dfr.put("content", 0)
      dfr.put("file_path", p.toString)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", partRecord(rel))
      dfr.put("record_count", rows)
      dfr.put("file_size_in_bytes", Files.size(p))
      dfr.put("value_counts", intMap("value_counts",
        mets.toSeq.map { case (id, (v, _, _, _)) =>
          id -> java.lang.Long.valueOf(v) }))
      val nulls = mets.toSeq.collect {
        case (id, (_, Some(n), _, _)) => id -> java.lang.Long.valueOf(n) }
      if (nulls.nonEmpty) dfr.put("null_value_counts",
        intMap("null_value_counts", nulls))
      val nans = mets.toSeq.collect {
        case (id, (_, _, _, Some(n))) => id -> java.lang.Long.valueOf(n) }
      if (nans.nonEmpty)
        dfr.put("nan_value_counts", intMap("nan_value_counts", nans))
      val lows = mets.toSeq.collect {
        case (id, (_, _, Some((lo, _)), _)) =>
          id -> java.nio.ByteBuffer.wrap(lo) }
      val highs = mets.toSeq.collect {
        case (id, (_, _, Some((_, hi)), _)) =>
          id -> java.nio.ByteBuffer.wrap(hi) }
      if (lows.nonEmpty) {
        dfr.put("lower_bounds", intMap("lower_bounds", lows))
        dfr.put("upper_bounds", intMap("upper_bounds", highs))
      }
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", sid)
      e.put("sequence_number", null) // inherit the manifest list's
      e.put("file_sequence_number", null)
      e.put("data_file", dfr)
      e
    }
    val m = dir.resolve(s"m-$sid-$what.avro")
    writeAvro(m, entrySchema, Seq(
      "schema" -> schemaNode.toString,
      "partition-spec" ->
        specFields.map(_.toString).mkString("[", ",", "]"),
      "partition-spec-id" -> defaultSpecId.toString,
      "format-version" -> "2",
      "content" -> "data"), entries)
    (m, written.size, totalRows, defaultSpecId, curSchemaId)
  }

  /** The shared metadata tail of every foreign-chain snapshot commit:
    * build v(curN+1) from `md` with the new snapshot appended
    * (snapshot-log entry, metadata-log entry, last-sequence-number),
    * advance refs.main — real Iceberg (>= 0.14) metadata carries it,
    * and spec readers REJECT metadata whose main ref disagrees with
    * current-snapshot-id — apply `extraMeta`, and CAS-commit. */
  private def commitForeignSnapshot(root: String, dir: Path, curN: Long,
      md: com.fasterxml.jackson.databind.JsonNode, sid: Long, seq: Long,
      parent: Long, listPath: Path, schemaId: Int, operation: String,
      summaryFields: String, what: String,
      extraMeta: com.fasterxml.jackson.databind.node.ObjectNode => Unit =
        _ => (),
      branch: Option[String] = None): Unit = {
    val hasParent = parent != -1L
    val ts = math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1)
    val obj = md.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.put("last-sequence-number", seq)
    obj.put("last-updated-ms", ts)
    // a BRANCH commit never moves main: current-snapshot-id stays, the
    // snapshot-log (main's current-snapshot history, the spec's rule)
    // gets no entry, and only the branch ref advances
    if (branch.isEmpty) obj.put("current-snapshot-id", sid)
    obj.withArray("snapshots").add(mapper.readTree(
      s"""{"snapshot-id":$sid,""" +
      (if (hasParent) s""""parent-snapshot-id":$parent,""" else "") +
      s""""sequence-number":$seq,"timestamp-ms":$ts,""" +
      s""""manifest-list":"$listPath","schema-id":$schemaId,""" +
      s""""summary":{"operation":"$operation",$summaryFields}}"""))
    if (branch.isEmpty)
      obj.withArray("snapshot-log").add(mapper.readTree(
        s"""{"snapshot-id":$sid,"timestamp-ms":$ts}"""))
    branch match {
      case Some(b) =>
        // the ref's existence/type were validated when the parent was
        // resolved; advance it (concurrent movers lose at the CAS).
        // Mutate the refs node DIRECTLY — a JSON-Pointer path
        // (withObject("/" + b)) would reinterpret '/' or '~' inside a
        // git-style branch name ('release/1.0') as pointer syntax,
        // writing a nested object while the real ref never advances,
        // silently orphaning every subsequent staged append.
        val refs = Option(obj.get("refs"))
          .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
          .getOrElse(throw new IllegalStateException(
            s"branch commit to '$b' at $root found no refs object"))
        Option(refs.get(b))
          .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
          .getOrElse(throw new IllegalStateException(
            s"branch commit found no ref '$b' at $root"))
          .put("snapshot-id", sid)
        ()
      case None =>
        Option(obj.get("refs")).foreach { refs =>
          val ro = refs.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val main = Option(ro.get("main"))
            .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
            .getOrElse {
              val m = mapper.createObjectNode()
              m.put("type", "branch")
              ro.set("main", m)
              m
            }
          main.put("snapshot-id", sid)
          ()
        }
    }
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$curN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    extraMeta(obj)
    casCommitMetadata(root, dir, curN, obj, what)
  }

  /** MERGE-ON-READ DELETE from a foreign Iceberg chain — rows matching
    * `predicate` leave the table WITHOUT rewriting any data file:
    * candidate files come from the same inclusive scan planning
    * `readIceberg(pruneWhere)` uses (partition transforms + column
    * metrics), the matching rows' (file, position) pairs are written as
    * spec v2 POSITION-DELETE parquet (file_path/pos under the reserved
    * field-ids 2147483546/2147483545, range-partitioned and sorted —
    * many sorted delete files at scale, never one giant coalesce), and
    * one snapshot commits them behind a content=1 delete manifest at
    * the NEW sequence number — every live data file has a smaller one,
    * so spec readers apply the deletes exactly; prior delete files keep
    * applying (re-listing an already-deleted position is spec-legal and
    * harmless). The delete manifest's partition spec is an
    * UNPARTITIONED one (found, or added to partition-specs by this
    * commit without touching the default): the spec's global-delete
    * form, applied to every partition — a partition-scoped form under
    * one spec could not cover files written under EVOLVED specs.
    * Existing deletes are deliberately NOT applied before matching: an
    * already-deleted row that matches re-lists its position, which
    * changes nothing. Rows where the predicate is NULL are kept (SQL
    * DELETE semantics). Returns the committed snapshot id — or the
    * current one, uncommitted, when no row matches. */
  def deleteIcebergForeign(spark: SparkSession, root: String,
      predicate: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"delete supports Iceberg format-version 2 only; the chain at " +
        s"$root is format-version $fmtVer")
    val parent = md.get("current-snapshot-id").asLong()
    if (parent == -1L) return parent // an empty chain holds no rows
    val curSchemaId = md.get("current-schema-id").asInt()
    val (dataEntries, _) = snapshotEntries(root, parent)
    if (dataEntries.isEmpty) return parent
    val candidates = pruneFiles(spark, root, curSchemaId, dataEntries,
      predicate)
    if (candidates.isEmpty) return parent
    val fields = schemaIdFieldsOf(root, curSchemaId)
    val rowPred = coalesce(expr(predicate), lit(false))
    // raw candidate rows with identity (__p normalized path, __ri row
    // index) — existing deletes NOT applied (see scaladoc)
    val scan = chainScan(spark, root, candidates.map(_._1), fields,
      withIdentity = true)
    // normalized path → the manifest's own path string: delete files
    // must carry the form the manifests carry, resolved through a
    // broadcast of the (bounded) candidate list
    val matched = matchedPositionFrame(spark, candidates, scan, rowPred)
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-delete:$root#$seq#$curN#$uuid").take(15), 16)
    val delFiles = writePositionDeleteFiles(spark, dir, sid, matched)
    if (delFiles.isEmpty) return parent // planning kept, rows say no
    val (m, delSpecId, specToAdd, delRows) =
      writePositionDeleteManifest(dir, md, sid, delFiles, curSchemaId)
    val carried = carriedManifests(md, parent)
    val mfRec = manifestListRecord(m, delSpecId, content = 1,
      seq, sid, delFiles.size, delRows)
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"), carried :+ mfRec)
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "delete",
      s""""added-delete-files":"${delFiles.size}",""" +
        s""""added-position-deletes":"$delRows"""",
      "delete", extraMeta = specToAdd)
    sid
  }

  /** MERGE-ON-READ UPDATE of a foreign Iceberg chain — rows matching
    * `predicate` take the SET `assignments` (column name → SQL
    * expression over the row's OLD values) in ONE snapshot that
    * commits BOTH a position-delete manifest (the matched rows' old
    * positions, [[deleteIcebergForeign]]'s machinery — existing
    * deletes ARE applied first, so an already-deleted row cannot
    * resurrect as an updated copy) and a data manifest of the updated
    * rows laid out under the DEFAULT spec
    * ([[appendIcebergForeign]]'s machinery — a SET on a partition
    * source column relocates the row). Both manifests ride the new
    * sequence number: the position deletes apply to every OLD data
    * file (strictly smaller sequence is not required — ≤ — but the
    * new files' paths match no delete row), exactly the Flink/Spark
    * upsert shape. Assignment expressions must resolve to the
    * column's EXACT type; a NULL produced for a required column fails
    * at run time before anything commits. Returns the committed
    * snapshot id — or the current one, uncommitted, when no row
    * matches. */
  def updateIcebergForeign(spark: SparkSession, root: String,
      predicate: String, assignments: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error}
    require(hasChain(root), s"no Iceberg metadata at $root")
    require(assignments.nonEmpty, "update requires at least one SET")
    val asgn = assignments.map { case (k, v) => k.toLowerCase -> v }
    require(asgn.size == assignments.size,
      s"duplicate SET column (case-insensitive) in ${assignments.keys}")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"update supports Iceberg format-version 2 only; the chain at " +
        s"$root is format-version $fmtVer")
    val parent = md.get("current-snapshot-id").asLong()
    if (parent == -1L) return parent // an empty chain holds no rows
    val curSchemaId = md.get("current-schema-id").asInt()
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    val reqFields = schemaNode.get("fields").elements().asScala.map { f =>
      (f.get("name").asText(), sparkType(f.get("type")),
        f.get("required").asBoolean())
    }.toSeq
    val byName = reqFields.map(f => f._1.toLowerCase -> f).toMap
    val ghost = asgn.keySet.filterNot(byName.contains)
    require(ghost.isEmpty,
      s"SET column(s) ${ghost.toSeq.sorted.mkString(", ")} are not in " +
        s"the current schema at $root")
    // refuse-before-write: the data side's spec evaluability is
    // knowable from the metadata alone — a post-write refusal would
    // strand delete parquets and data files behind every attempt
    requireEvaluableDefaultSpec(md, root, "update")
    val (dataEntries, dels) = snapshotEntries(root, parent)
    if (dataEntries.isEmpty) return parent
    val candidates = pruneFiles(spark, root, curSchemaId, dataEntries,
      predicate)
    if (candidates.isEmpty) return parent
    val fields = schemaIdFieldsOf(root, curSchemaId)
    val rowPred = coalesce(expr(predicate), lit(false))
    // the VISIBLE candidate rows (existing deletes applied — an
    // already-deleted row matching the predicate must not resurrect
    // as an updated copy), with (__p, __ri) identity kept
    def visible() = applyDeleteEntries(spark, root, curSchemaId,
      chainScan(spark, root, candidates.map(_._1), fields,
        withIdentity = true), dataEntries, dels)
    // assignment expressions must resolve to the column's EXACT type
    val probe = visible()
    asgn.foreach { case (c, e) =>
      val got = probe.select(expr(e)).schema.head.dataType
      require(got == byName(c)._2,
        s"SET $c = $e resolves to ${got.simpleString}, not the " +
          s"column's ${byName(c)._2.simpleString}; cast explicitly " +
          "in the expression")
    }
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-update:$root#$seq#$curN#$uuid").take(15), 16)
    val delFiles = writePositionDeleteFiles(spark, dir, sid,
      matchedPositionFrame(spark, candidates, visible(), rowPred))
    if (delFiles.isEmpty) return parent // planning kept, rows say no
    val totalMatched = delFiles.map(_._2).sum
    // the updated rows, laid out under the DEFAULT spec: a second
    // candidate pass, the price the Delta twin also pays
    val updated = visible().filter(rowPred).select(reqFields.map {
      case (n, dt, required) =>
        asgn.get(n.toLowerCase) match {
          case None => col("`" + n.replace("`", "``") + "`")
          case Some(e) =>
            val v = expr(e)
            val guarded =
              if (!required) v
              else coalesce(v, raise_error(lit(
                s"update would write NULL into required column $n")))
            guarded.as(n)
        }
    }.toSeq: _*)
    val (dm, nFiles, nRows, defaultSpecId, _) =
      writeForeignDataManifest(spark, root, dir, md, updated, sid,
        "update", enforceRequired = false)
    require(nRows == totalMatched,
      s"update wrote $nRows rows for $totalMatched matched positions " +
        s"at $root — refusing to commit a lossy rewrite")
    val (delM, delSpecId, specToAdd, delRows) =
      writePositionDeleteManifest(dir, md, sid, delFiles, curSchemaId)
    val carried = carriedManifests(md, parent)
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"),
      carried :+
        manifestListRecord(dm, defaultSpecId, content = 0,
          seq, sid, nFiles, nRows) :+
        manifestListRecord(delM, delSpecId, content = 1,
          seq, sid, delFiles.size, delRows))
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "overwrite",
      s""""added-data-files":"$nFiles",""" +
        s""""added-delete-files":"${delFiles.size}",""" +
        s""""added-position-deletes":"$delRows"""",
      "update", extraMeta = specToAdd)
    sid
  }

  /** MERGE into a foreign Iceberg chain — the CDC-apply upsert,
    * completing row-level DML on the chain face beside
    * [[appendIcebergForeign]] / [[deleteIcebergForeign]] /
    * [[updateIcebergForeign]]. `updates` rows REPLACE the target rows
    * sharing their `keys` values (null-safe) and rows matching
    * nothing INSERT; `deleteKeys` rows REMOVE their targets (a key in
    * both sets takes the update). MERGE-ON-READ in ONE snapshot: a
    * position-delete manifest of every matched target row's (file,
    * pos) AND a data manifest of ALL the update rows laid out under
    * the default spec, both at the new sequence number — readers
    * never see the in-between state a delete-then-append pair would
    * expose, and NO base data file is rewritten (at 100 TB the merge
    * touches the matched rows' delete positions plus the new images,
    * nothing else). Existing deletes apply BEFORE matching, so an
    * already-deleted row cannot resurrect by matching. Candidate
    * files come from the source keys' [min, max] bounds through the
    * same inclusive manifest planning as the read path. UPSERT
    * semantics, the Delta face's convention: every matched target row
    * collapses to the ONE source image, so the source must be
    * key-unique (duplicate source keys refuse). A source matching
    * nothing commits a plain append; an empty source is a no-op
    * returning the current snapshot, uncommitted. */
  def mergeIcebergForeign(spark: SparkSession, root: String,
      updates: org.apache.spark.sql.DataFrame, keys: Seq[String],
      deleteKeys: Option[org.apache.spark.sql.DataFrame] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(hasChain(root), s"no Iceberg metadata at $root")
    require(keys.nonEmpty, "merge requires at least one key column")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"merge supports Iceberg format-version 2 only; the chain at " +
        s"$root is format-version $fmtVer")
    val parent = md.get("current-snapshot-id").asLong()
    val curSchemaId = md.get("current-schema-id").asInt()
    requireEvaluableDefaultSpec(md, root, "merge")
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    val typeByName = schemaNode.get("fields").elements().asScala.map { f =>
      f.get("name").asText().toLowerCase -> sparkType(f.get("type"))
    }.toMap
    val ghostKeys = keys.filterNot(k => typeByName.contains(k.toLowerCase))
    require(ghostKeys.isEmpty,
      s"merge key(s) ${ghostKeys.mkString(", ")} are not in the " +
        s"current schema at $root")
    deleteKeys.foreach { dk =>
      val dkByName = dk.schema.fields.map(f => f.name.toLowerCase -> f).toMap
      val bad = keys.filterNot(k => dkByName.get(k.toLowerCase)
        .exists(_.dataType == typeByName(k.toLowerCase)))
      require(bad.isEmpty,
        s"deleteKeys must carry key column(s) ${bad.mkString(", ")} " +
          s"with the schema's exact types at $root")
    }
    // the source schema validates BEFORE any metadata file is written:
    // writeForeignDataManifest re-checks, but only AFTER the position
    // deletes — a post-write refusal would orphan delete parquets and
    // a manifest behind every mistyped attempt
    val updByName = updates.schema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    require(updByName.keySet == typeByName.keySet &&
        typeByName.forall { case (n, dt) =>
          updByName.get(n).exists(_.dataType == dt) },
      s"merge source schema ${updates.schema.simpleString} does not " +
        s"match the current schema at $root (names and exact types)")
    def bq(n: String) = col("`" + n.replace("`", "``") + "`")
    def keyFrame(df: org.apache.spark.sql.DataFrame) =
      df.select(keys.map(k => bq(k).as(s"__k_$k")): _*)
    val updKeys = keyFrame(updates)
    require(updKeys.groupBy(keys.map(k => col(s"__k_$k")): _*)
        .count().filter(col("count") > 1).isEmpty,
      s"merge source has duplicate key rows on (${keys.mkString(", ")})" +
        s" at $root; merge semantics require a key-unique source")
    val allKeys = deleteKeys.map(keyFrame)
      .fold(updKeys)(updKeys.union).distinct()
    val (bounds, nSource) = MetricsPruning.keyBoundsPredicate(
      allKeys.toDF(keys: _*), keys)
    if (nSource == 0L) return parent // empty source: no-op, no commit
    // a chain with no live data rows cannot match: pure append
    val (dataEntries, dels) =
      if (parent == -1L) (Nil, Nil) else snapshotEntries(root, parent)
    def pureAppend(): Long =
      if (updates.isEmpty) parent
      else appendIcebergForeign(spark, root, updates)
    if (dataEntries.isEmpty) return pureAppend()
    val candidates = bounds match {
      case Some(p) => pruneFilesParsed(root, curSchemaId, dataEntries, p)
      case None => dataEntries
    }
    if (candidates.isEmpty) return pureAppend()
    val fields = schemaIdFieldsOf(root, curSchemaId)
    // VISIBLE candidate rows (existing deletes applied — an already-
    // deleted row must not resurrect by matching), (__p, __ri) kept
    def visible() = applyDeleteEntries(spark, root, curSchemaId,
      chainScan(spark, root, candidates.map(_._1), fields,
        withIdentity = true), dataEntries, dels)
    def keyCond(left: org.apache.spark.sql.DataFrame) =
      keys.map(k => left(k) <=> col(s"__k_$k")).reduce(_ && _)
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-merge:$root#$seq#$curN#$uuid").take(15), 16)
    val vis = visible()
    val delFiles = writePositionDeleteFiles(spark, dir, sid,
      matchedPositionFrame(spark, candidates,
        vis.join(allKeys, keyCond(vis), "left_semi"), lit(true)))
    if (delFiles.isEmpty) return pureAppend() // planning kept, rows say no
    val (delM, delSpecId, specToAdd, delRows) =
      writePositionDeleteManifest(dir, md, sid, delFiles, curSchemaId)
    val carried = carriedManifests(md, parent)
    val listPath = dir.resolve(s"snap-$sid.avro")
    if (updates.isEmpty) {
      // delete-only merge: the deleteIcebergForeign commit shape
      writeAvro(listPath, manifestFileSchema, Seq(
        "snapshot-id" -> sid.toString,
        "sequence-number" -> seq.toString,
        "parent-snapshot-id" -> parent.toString,
        "format-version" -> "2"),
        carried :+ manifestListRecord(delM, delSpecId, content = 1,
          seq, sid, delFiles.size, delRows))
      commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
        listPath, curSchemaId, "delete",
        s""""added-delete-files":"${delFiles.size}",""" +
          s""""added-position-deletes":"$delRows"""",
        "merge", extraMeta = specToAdd)
      return sid
    }
    // ALL update rows ride ONE data manifest: matched keys' new
    // images and inserts alike (the deletes above only cover rows
    // that matched, so an insert has nothing to cancel)
    val (dm, nFiles, nRows, defaultSpecId, _) =
      writeForeignDataManifest(spark, root, dir, md, updates, sid,
        "merge")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"),
      carried :+
        manifestListRecord(dm, defaultSpecId, content = 0,
          seq, sid, nFiles, nRows) :+
        manifestListRecord(delM, delSpecId, content = 1,
          seq, sid, delFiles.size, delRows))
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "overwrite",
      s""""added-data-files":"$nFiles",""" +
        s""""added-delete-files":"${delFiles.size}",""" +
        s""""added-position-deletes":"$delRows"""",
      "merge", extraMeta = specToAdd)
    sid
  }

  /** COMPACTION of a foreign chain's MERGE-ON-READ state — Iceberg's
    * rewrite_data_files, the maintenance every MOR table needs (each
    * accumulated delete file is work EVERY reader re-does on EVERY
    * scan; compaction pays it once): rewrite exactly the data files
    * some delete APPLIES to — position deletes name their files
    * (applied at fileSeq ≤ delSeq), equality deletes cover every file
    * with fileSeq < delSeq — with all deletes applied, laid out under
    * the default spec, and commit ONE `replace` snapshot where
    *
    *   - untouched parent manifests carry VERBATIM (zero rewrite cost
    *     for the cold part of a 100 TB table),
    *   - manifests holding rewritten files re-emit with their OWN
    *     schema/header (no metrics loss), untouched entries as
    *     EXISTING and rewritten ones as DELETED — both with EXPLICIT
    *     sequence numbers (inheriting the new snapshot's would
    *     re-scope every carried delete and corrupt time travel),
    *   - every delete manifest re-emits all-DELETED (each delete file
    *     is now fully applied by construction — that is what makes
    *     dropping them sound even with equality deletes present).
    *
    * The replace snapshot is pure file churn: the keyed changelog
    * derives zero net rows from it, and time travel to the parent
    * still serves the MOR state (expiry reclaims it later). Returns
    * the committed snapshot id, or the current one (uncommitted) when
    * there is nothing to compact. */
  def rewriteDataFilesForeign(spark: SparkSession, root: String): Long = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"compaction supports Iceberg format-version 2 only; the chain " +
        s"at $root is format-version $fmtVer")
    val parent = md.get("current-snapshot-id").asLong()
    if (parent == -1L) return parent
    val curSchemaId = md.get("current-schema-id").asInt()
    requireEvaluableDefaultSpec(md, root, "compaction")
    val (dataEntries, dels) = snapshotEntries(root, parent)
    if (dels.isEmpty) return parent // no deletes: nothing to reclaim
    val normSeq: Map[String, Long] = dataEntries.map { case (p, s) =>
      RowDeletes.locationKey(p) -> s }.toMap
    val posRefs: Set[String] = dels.filter(_.content == 1).flatMap { d =>
      spark.read.parquet(d.path).select("file_path").distinct()
        .collect().iterator.map(r => RowDeletes.locationKey(r.getString(0)))
        .filter(np => normSeq.get(np).exists(_ <= d.seq))
    }.toSet
    val maxEq = dels.filter(_.content == 2).map(_.seq).maxOption
    val targets = dataEntries.filter { case (p, s) =>
      posRefs.contains(RowDeletes.locationKey(p)) || maxEq.exists(s < _)
    }
    if (targets.isEmpty) return parent // deletes reference nothing live
    val fields = schemaIdFieldsOf(root, curSchemaId)
    val visible = applyDeleteEntries(spark, root, curSchemaId,
      chainScan(spark, root, targets.map(_._1), fields,
        withIdentity = true), dataEntries, dels)
      .drop("__p", "__ri")
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-compact:$root#$seq#$curN#$uuid").take(15), 16)
    val targetSet = targets.map(_._1).toSet
    var rwIdx = 0
    def rc(df: GenericRecord): Long =
      Option(df.get("record_count")).map(_.asInstanceOf[Long]).getOrElse(0L)
    // re-emit one parent manifest with entries re-statused; EXPLICIT
    // sequence numbers everywhere (a null would inherit the NEW list
    // entry's sequence and re-scope every carried delete)
    def rewriteManifest(mf: GenericRecord,
        keepPred: String => Boolean): GenericRecord = {
      val mPath = Paths.get(mf.get("manifest_path").toString)
      val (schema, metaKVs, entries) = readAvroWithMeta(mPath)
      require(schema.getField("sequence_number") != null,
        s"manifest ${mPath.getFileName} at $root has no sequence_number " +
          "field (a v1-era manifest); compaction cannot re-emit it")
      val mfSeq = mf.get("sequence_number").asInstanceOf[Long]
      var existing = 0; var deleted = 0
      var exRows = 0L; var delRows = 0L
      var minSeq = Long.MaxValue
      val out = entries.flatMap { e =>
        if (e.get("status").asInstanceOf[Int] == 2) None // gone upstream
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val eSeq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(mfSeq)
          e.put("sequence_number", eSeq)
          // file_sequence_number arrived later in the v2 entry schema
          // than sequence_number (pre-1.1 writers omit it), and a put
          // against such a manifest's own writer schema throws — set
          // it only where the schema declares it. Delete application
          // scopes on sequence_number (pinned explicitly above), so an
          // old-schema manifest stays exactly as conforming as its
          // writer made it.
          if (schema.getField("file_sequence_number") != null)
            e.put("file_sequence_number",
              Option(e.get("file_sequence_number"))
                .map(_.asInstanceOf[Long]).getOrElse(mfSeq))
          minSeq = math.min(minSeq, eSeq)
          if (keepPred(df.get("file_path").toString)) {
            e.put("status", 0); existing += 1; exRows += rc(df)
          } else {
            e.put("status", 2); e.put("snapshot_id", sid)
            deleted += 1; delRows += rc(df)
          }
          Some(e)
        }
      }
      val m = dir.resolve(s"m-$sid-rw-$rwIdx.avro"); rwIdx += 1
      writeAvro(m, schema, metaKVs, out)
      val rec = new GenericData.Record(manifestFileSchema)
      rec.put("manifest_path", m.toString)
      rec.put("manifest_length", Files.size(m))
      rec.put("partition_spec_id",
        mf.get("partition_spec_id").asInstanceOf[Int])
      rec.put("content", mf.get("content").asInstanceOf[Int])
      rec.put("sequence_number", seq)
      rec.put("min_sequence_number",
        if (minSeq == Long.MaxValue) seq else minSeq)
      rec.put("added_snapshot_id", sid)
      rec.put("added_files_count", 0)
      rec.put("existing_files_count", existing)
      rec.put("deleted_files_count", deleted)
      rec.put("added_rows_count", 0L)
      rec.put("existing_rows_count", exRows)
      rec.put("deleted_rows_count", delRows)
      rec.put("partitions", partitionSummariesOf(m))
      rec
    }
    val outRecords = carriedManifests(md, parent).map { mf =>
      val content = mf.get("content").asInstanceOf[Int]
      if (content != 0) rewriteManifest(mf, _ => false) // deletes: all applied
      else {
        val mPath = Paths.get(mf.get("manifest_path").toString)
        val hit = readAvro(mPath).exists(e =>
          e.get("status").asInstanceOf[Int] != 2 &&
            targetSet.contains(e.get("data_file")
              .asInstanceOf[GenericRecord].get("file_path").toString))
        if (!hit) mf else rewriteManifest(mf, p => !targetSet.contains(p))
      }
    }
    // the compacted rows: ONE data manifest under the default spec
    // (zero rows — every targeted row deleted — commits manifest-less)
    val compacted: Option[GenericRecord] =
      if (visible.isEmpty) None
      else {
        val (dm, nFiles, nRows, defaultSpecId, _) =
          writeForeignDataManifest(spark, root, dir, md, visible, sid,
            "compaction", enforceRequired = false)
        Some(manifestListRecord(dm, defaultSpecId, content = 0,
          seq, sid, nFiles, nRows))
      }
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"), outRecords ++ compacted.toSeq)
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "replace",
      s""""deleted-data-files":"${targets.size}",""" +
        s""""added-data-files":"${if (compacted.isEmpty) 0 else 1}",""" +
        s""""removed-delete-files":"${dels.size}"""",
      "compaction")
    sid
  }

  /** REWRITE MANIFESTS of a foreign Iceberg chain — Iceberg's
    * rewrite_manifests: consolidate the current snapshot's many small
    * DATA manifests into one per (partition-spec, writer-schema) group
    * WITHOUT reading or writing any data file. The cost a streaming-
    * append table accretes is exactly here: every append adds one
    * manifest, and every subsequent plan pays O(manifests) metadata IO
    * forever — [[rewriteDataFilesForeign]] compacts data, nothing
    * compacts the manifest population. One `replace` snapshot commits
    * the consolidated lists; every entry re-emits with EXPLICIT
    * sequence/file-sequence numbers and snapshot id (inherited from
    * its manifest where the original carried null — the compaction
    * lesson: a null would inherit the NEW list entry's sequence and
    * re-scope every carried delete), status=existing. DELETE manifests
    * carry verbatim (Iceberg's rewrite_manifests touches data
    * manifests only), as do data manifests whose Avro writer schema is
    * unique in their spec group — records re-emit under their OWN
    * writer schema, never coerced across schemas (a foreign manifest's
    * extra fields — column sizes, distinct counts — carry verbatim).
    * Time travel to the parent is intact (its list is untouched) and
    * the keyed changelog derives ZERO rows (no added/deleted entries).
    * Returns the committed snapshot id — or the current one,
    * uncommitted, when no group has two manifests to merge. */
  def rewriteManifestsForeign(root: String): Long = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"rewrite manifests supports Iceberg format-version 2 only; the " +
        s"chain at $root is format-version $fmtVer")
    val parent = md.get("current-snapshot-id").asLong()
    if (parent == -1L) return parent
    val curSchemaId = md.get("current-schema-id").asInt()
    val mfs = carriedManifests(md, parent)
    // read each DATA manifest once; group by (spec id, writer schema)
    case class Loaded(listRec: GenericRecord, schema: Schema,
        metaKVs: Seq[(String, String)], entries: Seq[GenericRecord])
    val loaded = mfs.map { mf =>
      if (mf.get("content").asInstanceOf[Int] != 0) Left(mf)
      else {
        val mPath = Paths.get(mf.get("manifest_path").toString)
        val (schema, metaKVs, entries) = readAvroWithMeta(mPath)
        if (schema.getField("sequence_number") == null)
          Left(mf) // a v1-era manifest cannot re-emit: carry verbatim
        else Right(Loaded(mf, schema, metaKVs, entries))
      }
    }
    val groups = loaded.collect { case Right(l) => l }.groupBy(l =>
      (l.listRec.get("partition_spec_id").asInstanceOf[Int],
        l.schema.toString))
    if (!groups.values.exists(_.size >= 2))
      return parent // nothing to consolidate: no-op, no commit
    val lastSeq = md.get("last-sequence-number").asLong()
    val seq = lastSeq + 1
    val uuid = java.util.UUID.randomUUID().toString
    val sid = java.lang.Long.parseLong(graft.plans.TextExpressions
      .md5Hex(s"iceberg-rwm:$root#$seq#$curN#$uuid").take(15), 16)
    def rc(df: GenericRecord): Long =
      Option(df.get("record_count")).map(_.asInstanceOf[Long]).getOrElse(0L)
    var gIdx = 0
    var merged = 0
    val outRecords: Seq[GenericRecord] =
      loaded.collect { case Left(mf) => mf } ++
      groups.toSeq.sortBy(_._1._1).flatMap { case ((specId, _), ms) =>
        if (ms.size < 2) ms.map(_.listRec)
        else {
          merged += ms.size
          var existing = 0
          var exRows = 0L
          var minSeq = Long.MaxValue
          val out = ms.flatMap { l =>
            val mfSeq = l.listRec.get("sequence_number")
              .asInstanceOf[Long]
            val mfSid = l.listRec.get("added_snapshot_id")
              .asInstanceOf[Long]
            l.entries.flatMap { e =>
              // status-2 (deleted) markers belong to the snapshot
              // that did the deleting; a new snapshot drops them
              if (e.get("status").asInstanceOf[Int] == 2) None
              else {
                val eSeq = Option(e.get("sequence_number"))
                  .map(_.asInstanceOf[Long]).getOrElse(mfSeq)
                e.put("status", 0)
                e.put("sequence_number", eSeq)
                if (l.schema.getField("file_sequence_number") != null)
                  e.put("file_sequence_number",
                    Option(e.get("file_sequence_number"))
                      .map(_.asInstanceOf[Long]).getOrElse(mfSeq))
                if (e.get("snapshot_id") == null)
                  e.put("snapshot_id", mfSid)
                minSeq = math.min(minSeq, eSeq)
                existing += 1
                exRows += rc(e.get("data_file")
                  .asInstanceOf[GenericRecord])
                Some(e)
              }
            }
          }
          if (out.isEmpty) Nil
          else {
            val m = dir.resolve(s"m-$sid-rwm-$gIdx.avro")
            gIdx += 1
            writeAvro(m, ms.head.schema, ms.head.metaKVs, out)
            val rec = new GenericData.Record(manifestFileSchema)
            rec.put("manifest_path", m.toString)
            rec.put("manifest_length", Files.size(m))
            rec.put("partition_spec_id", specId)
            rec.put("content", 0)
            rec.put("sequence_number", seq)
            rec.put("min_sequence_number",
              if (minSeq == Long.MaxValue) seq else minSeq)
            rec.put("added_snapshot_id", sid)
            rec.put("added_files_count", 0)
            rec.put("existing_files_count", existing)
            rec.put("deleted_files_count", 0)
            rec.put("added_rows_count", 0L)
            rec.put("existing_rows_count", exRows)
            rec.put("deleted_rows_count", 0L)
            rec.put("partitions", partitionSummariesOf(m))
            Seq(rec)
          }
        }
      }
    val listPath = dir.resolve(s"snap-$sid.avro")
    writeAvro(listPath, manifestFileSchema, Seq(
      "snapshot-id" -> sid.toString,
      "sequence-number" -> seq.toString,
      "parent-snapshot-id" -> parent.toString,
      "format-version" -> "2"), outRecords)
    commitForeignSnapshot(root, dir, curN, md, sid, seq, parent,
      listPath, curSchemaId, "replace",
      s""""manifests-replaced":"$merged",""" +
        s""""manifests-created":"$gIdx",""" +
        """"deleted-data-files":"0","added-data-files":"0"""",
      "rewrite-manifests")
    sid
  }

  /** Manifest paths referenced by snapshot `sid` (the current one when
    * None) — the observable population [[rewriteManifestsForeign]]
    * exists to shrink; exposed for maintenance monitoring and the
    * consolidation pins. */
  def manifestPaths(root: String, sid: Option[Long] = None): Seq[String] = {
    val md = currentMetadata(root)
    val id = sid.getOrElse(md.get("current-snapshot-id").asLong())
    if (id == -1L) return Nil
    readAvro(Paths.get(md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == id).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $id at $root")).get("manifest-list").asText()))
      .map(_.get("manifest_path").toString)
  }

  /** EXPIRE old snapshots of a foreign chain — Iceberg's
    * expire_snapshots, the other maintenance half (without it the
    * snapshot list, the manifest population, and every superseded data
    * file grow with table age FOREVER — at a 100 TB table's commit
    * rate, unbounded metadata is eventually the query-planning time):
    * keeps the current snapshot, the `retainLast` most recent, every
    * ref target (branches/tags pin their snapshots, the spec's rule),
    * and — when `olderThanMillis` is given — everything stamped at or
    * after it; commits the trimmed metadata as a NEW version through
    * the same createLink CAS every foreign writer uses (concurrent
    * writers lose loudly, never silently), then deletes the artifacts
    * (manifest lists, manifests, delete files, DATA files) referenced
    * ONLY by expired snapshots — with an ancestry guard so a crafted
    * foreign path can never walk the delete out of the table root.
    * Returns the number of files deleted. Time travel to an expired
    * snapshot fails with no-such-snapshot afterwards — expiry reclaims
    * history, never the current table. */
  def expireSnapshotsForeign(root: String, retainLast: Int = 1,
      olderThanMillis: Option[Long] = None): Int = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val current = md.get("current-snapshot-id").asLong()
    if (current == -1L) return 0
    val all = snapshots(root)
    val refIds: Set[Long] = Option(md.get("refs")).map(_.elements()
      .asScala.map(_.get("snapshot-id").asLong()).toSet)
      .getOrElse(Set.empty)
    val keepIds = all.sortBy(-_.seq).take(retainLast).map(_.id).toSet ++
      Set(current) ++ refIds ++
      olderThanMillis.map(t =>
        all.filter(_.ts >= t).map(_.id)).getOrElse(Nil)
    val (keep, expired) = all.partition(s => keepIds.contains(s.id))
    if (expired.isEmpty) return 0
    // commit the trimmed metadata FIRST (CAS — a concurrent commit
    // wins loudly), delete files only after the new version is durable
    val obj = md.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def trimArray(field: String): Unit = {
      val arr = mapper.createArrayNode()
      Option(md.get(field)).foreach(_.elements().asScala
        .filter(s => keepIds.contains(s.get("snapshot-id").asLong()))
        .foreach(arr.add))
      obj.set(field, arr)
      ()
    }
    trimArray("snapshots")
    trimArray("snapshot-log")
    obj.put("last-updated-ms", math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1))
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$curN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    casCommitMetadata(root, dir, curN, obj, "expire")
    // a snapshot's reachable paths, ONE walk per snapshot with shared
    // manifests decoded once per call: (everything mentioned, the LIVE
    // subset). Protection counts files LIVE in kept snapshots plus
    // their manifests/lists outright — a DELETED entry is a tombstone
    // record, not a readable reference, and with its only readers (the
    // expired parents) gone the file is reclaimable, Iceberg's own
    // expire rule. Reclamation sweeps every mentioned path.
    val mfCache = scala.collection.mutable
      .HashMap.empty[String, Seq[GenericRecord]]
    def cachedAvro(p: Path): Seq[GenericRecord] =
      mfCache.getOrElseUpdate(p.toString, readAvro(p))
    def artifacts(s: SnapshotInfo): (Set[Path], Set[Path]) = {
      val all = scala.collection.mutable.HashSet.empty[Path]
      val live = scala.collection.mutable.HashSet.empty[Path]
      val list = Paths.get(s.manifestList)
      all += list; live += list
      cachedAvro(list).foreach { mf =>
        val m = Paths.get(mf.get("manifest_path").toString)
        all += m; live += m
        cachedAvro(m).foreach { e =>
          val p = Paths.get(e.get("data_file")
            .asInstanceOf[GenericRecord].get("file_path").toString)
          all += p
          if (e.get("status").asInstanceOf[Int] != 2) live += p
        }
      }
      (all.toSet, live.toSet)
    }
    val keptPairs = keep.map(artifacts)
    val keptLive = keptPairs.flatMap(_._2).toSet
    val rootAbs = Paths.get(root).toAbsolutePath.normalize()
    var n = 0
    (expired.flatMap(s => artifacts(s)._1).toSet ++
      keptPairs.flatMap(_._1))
      .diff(keptLive).foreach { p =>
        val abs = p.toAbsolutePath.normalize()
        if (abs.startsWith(rootAbs) && Files.deleteIfExists(abs)) n += 1
      }
    n
  }

  /** `remove_orphan_files` for a foreign Iceberg chain — reclaims the
    * debris a lost commit race leaves behind: a crashed or CAS-beaten
    * append/delete/merge writes its data parquet (under `root/data`),
    * position-delete parquet, manifest avro, and manifest list (under
    * `root/metadata`) BEFORE the metadata CAS, so losing the race
    * orphans them forever — no snapshot references them, and neither
    * snapshot expiry (which walks only reachable snapshots) nor the
    * Delta face's vacuum will ever touch them. The sweep deletes a
    * candidate only when ALL hold:
    *   - it is mentioned by NO snapshot in the current metadata (every
    *     entry of every manifest of every snapshot, any status — refs/
    *     branches/tags all live in the snapshots array, so the same
    *     ancestry protection [[expireSnapshotsForeign]] honors holds);
    *   - no CO-LOCATED face references it: the graft-native manifest
    *     (all versions) and the Delta log's full mention set
    *     ([[LakehouseTable.deltaReferencedPaths]]) are both protected —
    *     the three faces share one `root/data`;
    *   - its mtime is older than the `olderThanHours` grace horizon
    *     (an in-flight writer's files are younger by construction —
    *     the vacuumDeltaForeign discipline).
    * The retention is a REQUIRED argument (the bare-VACUUM precedent:
    * an implicit default on an irreversible deletion is how data loss
    * ships); the SQL face refuses a call without OLDER THAN. Scope is
    * `root/data` (recursive, non-hidden) plus the engine's own
    * metadata artifact shapes (`m-*.avro`, `snap-*.avro`,
    * `delete-*.parquet`) — never `v*.metadata.json`, the hint, or
    * anything it does not recognize. Idempotent: a re-run deletes
    * nothing. Returns the deleted paths relative to `root`. */
  def removeOrphanFilesForeign(spark: SparkSession, root: String,
      olderThanHours: Double): Seq[String] = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    require(olderThanHours >= 0,
      s"olderThanHours must be >= 0, got $olderThanHours")
    val dir = metaDir(root)
    currentMetadata(root) // format-version gate before any planning
    val horizon = System.currentTimeMillis() -
      (olderThanHours * 3600.0 * 1000.0).toLong
    val rootAbs = Paths.get(root).toAbsolutePath.normalize()
    val mfCache = scala.collection.mutable
      .HashMap.empty[String, Seq[GenericRecord]]
    def cachedAvro(p: Path): Seq[GenericRecord] =
      mfCache.getOrElseUpdate(p.toString, readAvro(p))
    val referenced = scala.collection.mutable.HashSet.empty[Path]
    // a referenced path protects under BOTH normalizations: the raw
    // committed form with only the file:-URI prefix stripped (the read
    // plane's RowDeletes.locationKey; matches an on-disk layout carrying
    // literal %XX escapes — Spark writes them into partition dir names)
    // AND the full URI decode (matches a URI/percent-ENCODED manifest
    // over a decoded layout). Protecting both costs set entries; a
    // one-sided choice deletes live files on whichever layout it
    // mis-guessed — the irreversible direction. A stray '%' that
    // URLDecoder rejects keeps the raw form only, never a crash.
    def metaRef(p: String): Path =
      Paths.get(RowDeletes.locationKey(p)).toAbsolutePath.normalize()
    def addRef(raw: String): Unit = {
      referenced += metaRef(raw)
      scala.util.Try(RowDeletes.fileKey(raw, "")).foreach(d =>
        referenced += Paths.get(d).toAbsolutePath.normalize())
    }
    snapshots(root).foreach { s =>
      val list = metaRef(s.manifestList)
      addRef(s.manifestList)
      cachedAvro(list).foreach { mf =>
        val m = metaRef(mf.get("manifest_path").toString)
        addRef(mf.get("manifest_path").toString)
        cachedAvro(m).foreach { e =>
          addRef(e.get("data_file")
            .asInstanceOf[GenericRecord].get("file_path").toString)
        }
      }
    }
    LakehouseTable.versions(root).foreach(v =>
      LakehouseTable.manifestFiles(root, v).foreach(rel =>
        referenced += Paths.get(root, "data", rel)
          .toAbsolutePath.normalize()))
    referenced ++= LakehouseTable.deltaReferencedPaths(spark, root)
    val deleted = Seq.newBuilder[String]
    // the mtime probe tolerates a file vanishing between the listing
    // and the check (an aborting in-flight writer removing its own
    // temp output — the very race the grace horizon exists for):
    // already-gone = not sweepable, never an aborted sweep
    def sweepable(abs: Path): Unit =
      if (!referenced.contains(abs) &&
          scala.util.Try(Files.getLastModifiedTime(abs).toMillis)
            .toOption.exists(_ < horizon) &&
          Files.deleteIfExists(abs))
        deleted += rootAbs.relativize(abs).toString
    def hidden(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }
    def walkData(d: Path): Unit =
      withListed(d)(_.toSeq).sortBy(_.toString).foreach { p =>
        if (!hidden(p)) {
          if (Files.isDirectory(p)) walkData(p)
          else sweepable(p.toAbsolutePath.normalize())
        }
      }
    val dataDir = Paths.get(root, "data")
    if (Files.isDirectory(dataDir)) walkData(dataDir)
    val ArtifactRe =
      """m-.*\.avro|snap-.*\.avro|(?:eq)?delete-.*\.parquet""".r
    withListed(dir)(_.toSeq).sortBy(_.toString).foreach { p =>
      if (!Files.isDirectory(p) &&
          ArtifactRe.matches(p.getFileName.toString))
        sweepable(p.toAbsolutePath.normalize())
    }
    deleted.result()
  }

  /** ROLLBACK a foreign chain to an earlier snapshot — Iceberg's
    * rollback_to_snapshot procedure: a NEW metadata version whose
    * `current-snapshot-id` (and refs.main) points back at `sid`; no
    * snapshot is added or removed, history is preserved (time travel
    * forward of the rollback still works, and a later expiry trims as
    * usual), and `last-sequence-number` stays — the next commit's
    * sequence continues above everything ever written, the spec's
    * monotonic-sequence rule. Committed through the same createLink
    * CAS as every foreign writer. Returns the new metadata version. */
  def rollbackIcebergForeign(root: String, sid: Long): Long = {
    val (dir, curN, md, obj) = foreignMetaEdit(root, "rollback")
    if (md.get("current-snapshot-id").asLong() == sid) return curN // no-op
    require(md.get("snapshots").elements().asScala
        .exists(_.get("snapshot-id").asLong() == sid),
      s"no snapshot $sid at $root (expired or never committed)")
    val ts = obj.get("last-updated-ms").asLong()
    obj.put("current-snapshot-id", sid)
    obj.withArray("snapshot-log").add(mapper.readTree(
      s"""{"snapshot-id":$sid,"timestamp-ms":$ts}"""))
    Option(obj.get("refs")).foreach { refs =>
      Option(refs.get("main")).foreach { m =>
        m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("snapshot-id", sid)
        ()
      }
    }
    casCommitMetadata(root, dir, curN, obj, "rollback")
    curN + 1
  }

  /** The shared preamble of every metadata-only foreign commit:
    * resolve the true current version, parse it, require format v2,
    * and hand back a deep-copied ObjectNode with last-updated-ms
    * advanced and the metadata-log entry appended — the caller edits
    * and CAS-commits. */
  private def foreignMetaEdit(root: String, what: String)
      : (Path, Long, com.fasterxml.jackson.databind.JsonNode,
         com.fasterxml.jackson.databind.node.ObjectNode) = {
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"$what supports Iceberg format-version 2 only; the chain at " +
        s"$root is format-version $fmtVer")
    val obj = md.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.put("last-updated-ms", math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1))
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$curN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    (dir, curN, md, obj)
  }

  /** SET / UNSET table properties on a foreign Iceberg chain — a new
    * metadata version with the properties map merged, nothing else
    * touched (Iceberg's UpdateProperties). The keys this engine itself
    * MAINTAINS refuse: `schema.name-mapping.default` is extended by
    * the evolution/append machinery (a blind overwrite would
    * re-resolve every id-less file the chain has), and reserved
    * metadata fields are not properties at all. Returns the committed
    * metadata version. */
  def setPropertiesIcebergForeign(root: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    require(set.nonEmpty || unset.nonEmpty, "nothing to set or unset")
    require(set.keySet.intersect(unset.toSet).isEmpty,
      "a key cannot be both SET and UNSET in one statement")
    val managed = Set("schema.name-mapping.default", "format-version",
      "current-snapshot-id")
    (set.keys ++ unset).foreach(k => require(!managed(k.toLowerCase),
      s"property '$k' is maintained by the engine's own evolution " +
        s"machinery at $root; refusing a blind overwrite"))
    val (dir, curN, md, obj) = foreignMetaEdit(root, "set properties")
    val props = Option(obj.get("properties"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse {
        val p = mapper.createObjectNode()
        obj.set("properties", p)
        p
      }
    val before = props.toString
    unset.foreach(k => { props.remove(k); () })
    set.foreach { case (k, v) => props.put(k, v); () }
    if (props.toString == before) {
      val _ = md
      return curN // no-op, no commit
    }
    casCommitMetadata(root, dir, curN, obj, "set properties")
    curN + 1
  }

  /** CREATE a snapshot ref (TAG or BRANCH) on a foreign chain —
    * Iceberg's ref surface: a named pointer in `refs` that (a) time
    * travel can resolve by name ([[refSnapshotId]]) and (b)
    * [[expireSnapshotsForeign]] PROTECTS (its keep-set already honors
    * every ref target) — tagging a snapshot is how a production table
    * pins an audit/repro state against routine expiry. `main` is the
    * managed current pointer and refuses; an existing name refuses
    * (drop it first — silent re-pointing is how a pinned audit state
    * quietly vanishes). Returns the committed metadata version. */
  def createRefForeign(root: String, name: String, sid: Long,
      refType: String = "tag"): Long = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    require(name.nonEmpty && !name.equalsIgnoreCase("main"),
      "'main' is the managed current-state branch; pick another name")
    // git-style names ('release/1.0') are fine — the branch-commit arm
    // mutates the refs object directly, never via JSON Pointer — but
    // control characters, whitespace, and quote characters would make
    // the ref unaddressable from the SQL face and unreadable in logs
    require(name.matches("""[A-Za-z0-9._+\-/]+"""),
      s"ref name '$name' contains characters outside " +
        "[A-Za-z0-9._+-/]; pick a plainer name")
    val (dir, curN, md, obj) = foreignMetaEdit(root, "create ref")
    // snapshots / current-snapshot-id are OPTIONAL in v2 metadata (an
    // empty foreign chain omits them) — refuse loudly, never NPE
    require(Option(md.get("snapshots")).exists(_.elements().asScala
        .exists(_.get("snapshot-id").asLong() == sid)),
      s"no snapshot $sid at $root (expired or never committed)")
    val refs = Option(obj.get("refs"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse {
        val r = mapper.createObjectNode()
        // a chain that never carried refs gets main minted alongside,
        // pointing at the current snapshot (real metadata's shape)
        val cur = Option(md.get("current-snapshot-id"))
          .map(_.asLong()).getOrElse(-1L)
        if (cur != -1L) {
          val m = mapper.createObjectNode()
          m.put("snapshot-id", cur)
          m.put("type", "branch")
          r.set("main", m)
          ()
        }
        obj.set("refs", r)
        r
      }
    require(refs.get(name) == null,
      s"ref '$name' already exists at $root; DROP it first")
    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", sid)
    entry.put("type", refType)
    refs.set(name, entry)
    casCommitMetadata(root, dir, curN, obj, "create ref")
    curN + 1
  }

  /** DROP a snapshot ref. Unknown names refuse (a typo'd drop that
    * "succeeds" hides that the pin is still live); `main` refuses;
    * when `expectType` is given (the SQL face's DROP TAG / DROP
    * BRANCH), a type mismatch refuses too — Iceberg's own behavior,
    * so a mistyped verb cannot remove a pointer of the other kind. */
  def dropRefForeign(root: String, name: String,
      expectType: Option[String] = None): Long = {
    require(!name.equalsIgnoreCase("main"),
      "'main' is the managed current-state branch and cannot be dropped")
    val (dir, curN, md, obj) = foreignMetaEdit(root, "drop ref")
    val _ = md
    val refs = Option(obj.get("refs"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    val entry = refs.flatMap(r => Option(r.get(name)))
    require(entry.isDefined, s"no ref '$name' at $root")
    expectType.foreach { want =>
      val actual = Option(entry.get.get("type")).map(_.asText())
        .getOrElse("branch")
      require(actual.equalsIgnoreCase(want),
        s"ref '$name' at $root is a $actual, not a $want " +
          s"(use DROP ${actual.toUpperCase})")
    }
    refs.foreach(r => { r.remove(name); () })
    casCommitMetadata(root, dir, curN, obj, "drop ref")
    curN + 1
  }

  /** FAST-FORWARD main to a branch head — the PUBLISH half of
    * write-audit-publish: staged branch appends become main's current
    * state in one metadata-only commit (no data or manifest IO; the
    * branch's snapshots are already in the chain). Requires main's
    * current snapshot to be an ANCESTOR of the branch head (or main
    * empty): publishing then only APPENDS history. When main moved
    * since the branch forked, refuse — replaying branch commits onto
    * a diverged main is cherry-pick territory (a data-rewriting
    * operation this engine deliberately does not fake with a metadata
    * edit; rebuild the branch from current main instead). Returns the
    * published snapshot id. */
  def fastForwardForeign(root: String, branch: String): Long = {
    val (dir, curN, md, obj) = foreignMetaEdit(root, "fast-forward")
    val entry = Option(md.get("refs")).flatMap(r => Option(r.get(branch)))
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$branch' at $root"))
    val refType = Option(entry.get("type")).map(_.asText())
      .getOrElse("branch")
    require(refType.equalsIgnoreCase("branch"),
      s"ref '$branch' at $root is a $refType; FAST FORWARD publishes " +
        "branches only")
    val target = entry.get("snapshot-id").asLong()
    val cur = md.get("current-snapshot-id").asLong()
    if (target == cur) return target // already published: no-op
    // ancestry from the SAME metadata foreignMetaEdit pinned —
    // snapshots(root) trusts version-hint.text, and in the documented
    // crash window (commit landed, hint not yet advanced) the stale
    // hint's snapshot list would spuriously refuse a valid publish
    val parentOf: Map[Long, Long] =
      Option(md.get("snapshots")).toSeq
        .flatMap(_.elements().asScala)
        .map(s => s.get("snapshot-id").asLong() ->
          (if (s.has("parent-snapshot-id"))
             s.get("parent-snapshot-id").asLong() else -1L))
        .toMap
    require(parentOf.contains(target),
      s"branch '$branch' head $target is not in the snapshot list at " +
        s"$root; the metadata is invalid")
    var anc = target
    var found = cur == -1L
    while (!found && anc != -1L)
      parentOf.get(anc) match {
        case Some(p) => found = p == cur; anc = p
        case None => anc = -1L // expired ancestry below: stop
      }
    require(found,
      s"main at $cur is not an ancestor of branch '$branch' head " +
        s"$target at $root; fast-forward would drop main-only " +
        "commits (cherry-pick is out of scope — recreate the branch " +
        "from current main and re-stage)")
    obj.put("current-snapshot-id", target)
    obj.withObject("/refs").withObject("/main")
      .put("type", "branch").put("snapshot-id", target)
    // main's current-snapshot changed: the snapshot-log records it
    obj.withArray("snapshot-log").add(mapper.readTree(
      s"""{"snapshot-id":$target,"timestamp-ms":${
        obj.get("last-updated-ms").asLong()}}"""))
    casCommitMetadata(root, dir, curN, obj, "fast-forward")
    target
  }

  /** `iceberg_snapshots('/p')` — the chain's snapshot history as a
    * read-only relation (Iceberg's `snapshots` metadata table): what
    * an operator inspects BEFORE deciding to expire / compact /
    * rewrite-manifests. Driver-derived from already-parsed metadata;
    * zero data IO. */
  def snapshotsDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    snapshots(root).map(s => (s.id,
      if (s.parent == -1L) None else Some(s.parent),
      s.seq, s.ts, s.operation, s.schemaId, s.manifestList))
      .toDF("snapshot_id", "parent_id", "sequence_number",
        "committed_ms", "operation", "schema_id", "manifest_list")
  }

  /** `iceberg_manifests('/p')` — the manifest population of the
    * current (or a pinned) snapshot (Iceberg's `manifests` metadata
    * table): the relation a rewrite-manifests / expiry decision
    * actually reads (many small data manifests → consolidate; content
    * kinds and counts say what a commit touched). One avro read of
    * the manifest LIST, zero manifest or data IO. */
  def manifestsDf(spark: SparkSession, root: String,
      snapshotAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val md = currentMetadata(root)
    // current-snapshot-id is OPTIONAL in v2 metadata — empty, not NPE
    val sid = snapshotAsOf.getOrElse(Option(md.get("current-snapshot-id"))
      .map(_.asLong()).getOrElse(-1L))
    val rows =
      if (sid == -1L) Nil
      else {
        val snap = snapshots(root).find(_.id == sid).getOrElse(
          throw new IllegalArgumentException(
            s"no Iceberg snapshot $sid at $root"))
        readAvro(Paths.get(snap.manifestList)).map { mf =>
          def i(f: String): Int = mf.get(f).asInstanceOf[Int]
          (mf.get("manifest_path").toString,
            mf.get("manifest_length").asInstanceOf[Long],
            mf.get("partition_spec_id").asInstanceOf[Int],
            i("content"),
            mf.get("sequence_number").asInstanceOf[Long],
            mf.get("added_snapshot_id").asInstanceOf[Long],
            i("added_files_count"), i("existing_files_count"),
            i("deleted_files_count"))
        }
      }
    rows.toDF("manifest_path", "manifest_length", "partition_spec_id",
      "content", "sequence_number", "added_snapshot_id",
      "added_files_count", "existing_files_count",
      "deleted_files_count")
  }

  /** `iceberg_files('/p')` — the LIVE data files of the current (or a
    * pinned) snapshot with their manifest-recorded shape: path, row
    * count, byte size, effective sequence number. The planning-side
    * truth every maintenance decision reads (small files → compact,
    * many manifests → rewrite). O(manifests) driver IO, no data
    * scan. */
  def filesDf(spark: SparkSession, root: String,
      snapshotAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val md = currentMetadata(root)
    // current-snapshot-id is OPTIONAL in v2 metadata — empty, not NPE
    val sid = snapshotAsOf.getOrElse(Option(md.get("current-snapshot-id"))
      .map(_.asLong()).getOrElse(-1L))
    val rows =
      if (sid == -1L) Nil
      else {
        val snap = snapshots(root).find(_.id == sid).getOrElse(
          throw new IllegalArgumentException(
            s"no Iceberg snapshot $sid at $root"))
        readAvro(Paths.get(snap.manifestList))
          .filter(_.get("content").asInstanceOf[Int] == 0)
          .flatMap { mf =>
            val mfSeq = mf.get("sequence_number").asInstanceOf[Long]
            readAvro(Paths.get(mf.get("manifest_path").toString))
              .filter(_.get("status").asInstanceOf[Int] != 2)
              .map { e =>
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                def optLong(f: String): Option[Long] =
                  if (df.getSchema.getField(f) == null) None
                  else Option(df.get(f)).map(_.asInstanceOf[Long])
                (df.get("file_path").toString,
                  optLong("record_count"),
                  optLong("file_size_in_bytes"),
                  Option(e.get("sequence_number"))
                    .map(_.asInstanceOf[Long]).getOrElse(mfSeq))
              }
          }
      }
    rows.toDF("file_path", "record_count", "file_size", "sequence_number")
  }

  /** `iceberg_refs('/p')` — the chain's named references (Iceberg's
    * `refs` metadata table): branch/tag name, type, pinned snapshot.
    * The relation a WAP operator reads before FAST FORWARD / DROP
    * decisions. One metadata parse, zero file IO beyond it. */
  def refsDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val md = currentMetadata(root)
    Option(md.get("refs")).map(_.properties().asScala.toSeq.map { e =>
      (e.getKey,
        Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch"),
        e.getValue.get("snapshot-id").asLong())
    }.sortBy(_._1)).getOrElse(Nil)
      .toDF("ref_name", "ref_type", "snapshot_id")
  }

  /** `iceberg_partitions('/p'[, snapshot])` — per-partition live file
    * and row counts (Iceberg's `partitions` metadata table): the
    * relation behind skew/compaction decisions ("which partition holds
    * the small files?"). Each live data entry's partition struct
    * renders as `field=value` pairs (spec field names, the struct's
    * own avro values — transform fields show their transform units,
    * evolution eras keep their own field sets, exactly the spec
    * table's behavior). O(manifests) driver avro IO, zero data IO. */
  def partitionsDf(spark: SparkSession, root: String,
      snapshotAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val md = currentMetadata(root)
    // current-snapshot-id is OPTIONAL in v2 metadata (empty chains
    // omit it) — empty relation, never an NPE
    val sid = snapshotAsOf.getOrElse(Option(md.get("current-snapshot-id"))
      .map(_.asLong()).getOrElse(-1L))
    val rows =
      if (sid == -1L) Nil
      else {
        val snap = snapshots(root).find(_.id == sid).getOrElse(
          throw new IllegalArgumentException(
            s"no Iceberg snapshot $sid at $root"))
        readAvro(Paths.get(snap.manifestList))
          .filter(_.get("content").asInstanceOf[Int] == 0)
          .flatMap { mf =>
            readAvro(Paths.get(mf.get("manifest_path").toString))
              .filter(_.get("status").asInstanceOf[Int] != 2)
              .map { e =>
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                val part =
                  if (df.getSchema.getField("partition") == null) null
                  else df.get("partition").asInstanceOf[GenericRecord]
                // SPEC field order (the struct's own avro order, and
                // the hive layout's) — not alphabetical: a consumer
                // matching rendered keys against directory paths or a
                // real engine's partitions table must see 'year=…/
                // month=…', never a reordered key
                val pstr =
                  if (part == null) ""
                  else part.getSchema.getFields.asScala.toSeq
                    .map(f => f.name + "=" +
                      Option(part.get(f.pos)).map(_.toString)
                        .getOrElse("null"))
                    .mkString("/")
                def optLong(f: String): Long =
                  if (df.getSchema.getField(f) == null) 0L
                  else Option(df.get(f)).map(_.asInstanceOf[Long])
                    .getOrElse(0L)
                (pstr, optLong("record_count"),
                  optLong("file_size_in_bytes"))
              }
          }
      }
    rows.groupBy(_._1).toSeq.map { case (p, es) =>
      (p, es.size.toLong, es.map(_._2).sum, es.map(_._3).sum)
    }.sortBy(_._1)
      .toDF("partition", "n_files", "n_rows", "size_bytes")
  }

  /** The snapshot id a ref points at — the name-resolution half of
    * `VERSION AS OF 'tag'` time travel. */
  def refSnapshotId(root: String, name: String): Option[Long] = {
    val md = currentMetadata(root)
    Option(md.get("refs")).flatMap(r => Option(r.get(name)))
      .map(_.get("snapshot-id").asLong())
  }

  /** ALTER TABLE ADD COLUMNS on a foreign Iceberg chain — schema
    * evolution the spec way: a NEW schema object (fresh schema-id,
    * existing fields verbatim, new fields with ids above
    * `last-column-id` — ids are append-only forever, the rule that
    * makes field-id resolution sound) committed as v(curN+1) metadata
    * with `current-schema-id` advanced; NO snapshot, no data write —
    * readers resolve old files by field-id, find no column, and
    * null-fill. New columns must be optional (`required` would break
    * every existing row) and must not collide case-insensitively.
    * Returns the committed metadata version. */
  def addColumnsIcebergForeign(root: String, colsDdl: String): Long = {
    import org.apache.spark.sql.types.StructType
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"add columns supports Iceberg format-version 2 only; the chain " +
        s"at $root is format-version $fmtVer")
    val add = StructType.fromDDL(colsDdl)
    require(add.nonEmpty, s"ADD COLUMNS: no columns in '$colsDdl'")
    require(add.forall(_.nullable),
      s"ADD COLUMNS on a foreign chain requires NULLABLE (optional) " +
        s"columns; got '$colsDdl'")
    require(add.map(_.name.toLowerCase).distinct.size == add.size,
      s"duplicate column name in '$colsDdl'")
    val curSchemaId = md.get("current-schema-id").asInt()
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    val existing = schemaNode.get("fields").elements().asScala
      .map(_.get("name").asText().toLowerCase).toSet
    add.foreach(f => require(!existing.contains(f.name.toLowerCase),
      s"column already exists at $root: ${f.name}"))
    // last-column-id is the id high-water mark across ALL schemas —
    // trust it when sane, else derive (a foreign chain must never get
    // a reused field id out of this writer)
    val maxFieldId = md.get("schemas").elements().asScala.flatMap(
      _.get("fields").elements().asScala.map(_.get("id").asInt()))
      .maxOption.getOrElse(0)
    val base = math.max(maxFieldId,
      Option(md.get("last-column-id")).map(_.asInt()).getOrElse(0))
    val newSchemaId = md.get("schemas").elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val newSchema = schemaNode.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    newSchema.put("schema-id", newSchemaId)
    add.fields.zipWithIndex.foreach { case (f, i) =>
      // PRIMITIVES only: icebergType's nested forms carry the
      // exporter's element-id shortcut (-1), which would commit
      // spec-invalid field ids into a foreign chain — refuse rather
      // than corrupt. The field node builds through jackson so a
      // quoted name (backtick DDL allows '"' and '\\') cannot split
      // the committed JSON.
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType =>
          throw new IllegalArgumentException(
            s"ADD COLUMNS on a foreign chain supports primitive types " +
              s"only; got ${f.name} ${f.dataType.sql} (nested types " +
              "need element/key/value field ids this writer does not " +
              "allocate)")
        case _ => ()
      }
      val fieldNode = mapper.createObjectNode()
      fieldNode.put("id", base + i + 1)
      fieldNode.put("name", f.name)
      fieldNode.put("required", false)
      fieldNode.set[com.fasterxml.jackson.databind.JsonNode]("type",
        mapper.readTree(icebergType(f.dataType)))
      newSchema.withArray("fields").add(fieldNode)
      ()
    }
    val obj = md.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.withArray("schemas").add(newSchema)
    obj.put("current-schema-id", newSchemaId)
    obj.put("last-column-id", base + add.size)
    obj.put("last-updated-ms", math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1))
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$curN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    // a chain that resolves id-less files through
    // schema.name-mapping.default gets the new columns minted into the
    // mapping in the SAME commit (Iceberg's MappingUtil.update
    // discipline): without the entries, every id-less file a foreign
    // writer adds later would serve null for the new columns even when
    // it physically carries them
    extendedNameMapping(md, add.fields.zipWithIndex.map { case (f, i) =>
      (f.name, base + i + 1) }.toSeq)
      .foreach(nm => setNameMapping(obj, nm))
    casCommitMetadata(root, dir, curN, obj, "add columns")
    curN + 1
  }

  /** Matched rows' (manifest-form path, position) pairs under the
    * spec's reserved delete-file field-ids — the write-side frame of
    * every MOR mutation. `scan` must carry chainScan's (__p, __ri)
    * identity; the normalized-path → manifest-path translation rides a
    * broadcast of the (bounded) candidate list. */
  private def matchedPositionFrame(spark: SparkSession,
      candidates: Seq[(String, Long)],
      scan: DataFrame, rowPred: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.types.MetadataBuilder
    import spark.implicits._
    val lookup = candidates
      .map { case (p, _) => (RowDeletes.locationKey(p), p) }
      .toDF("__np", "__mp")
    val fpMeta = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483545L).build()
    // the reserved field-ids must reach the footers (monotonic set —
    // see LakehouseTable.ensureFieldIdWrite for why never restored)
    LakehouseTable.ensureFieldIdWrite(spark)
    scan.filter(rowPred)
      .select(col("__p"), col("__ri"))
      .join(broadcast(lookup), col("__p") === col("__np"))
      .select(col("__mp").as("file_path", fpMeta),
        col("__ri").cast("long").as("pos", posMeta))
  }

  /** ONE scan of the candidates: write the matched positions as spec
    * v2 position-delete parquet (range-partitioned and sorted — many
    * sorted delete files at scale, never one giant coalesce), reading
    * the no-op answer off the written footers (an isEmpty probe would
    * execute the whole candidate scan a second time). */
  private def writePositionDeleteFiles(spark: SparkSession, dir: Path,
      sid: Long, matched: DataFrame): Seq[(Path, Long)] = {
    import org.apache.spark.sql.functions.col
    val tmpOut = Files.createTempDirectory(dir, ".del-tmp")
    try {
      matched.repartitionByRange(col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite").parquet(tmpOut.resolve("out").toString)
      val parts = withListed(tmpOut.resolve("out"))(
        _.filter(_.toString.endsWith(".parquet")).toSeq).sorted
        .map(p => p -> LakehouseTable.parquetRecordCount(p))
        .filter(_._2 > 0L)
      parts.zipWithIndex.map { case ((p, rows), i) =>
        val dst = dir.resolve(f"delete-$sid-$i%05d.parquet")
        Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
        (dst, rows)
      }
    } finally {
      val walked = Files.walk(tmpOut)
      try walked.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { Files.deleteIfExists(x); () })
      finally walked.close()
    }
  }

  /** The content=1 delete manifest of `delFiles` under an
    * UNPARTITIONED spec (global-delete form — found in the chain, or
    * added by the commit through the returned extraMeta, never as the
    * default): a partition-scoped form under one spec could not cover
    * files written under EVOLVED specs. Returns (manifest path, spec
    * id, the metadata mutation that declares the spec when absent,
    * total delete rows). */
  private def writePositionDeleteManifest(dir: Path,
      md: com.fasterxml.jackson.databind.JsonNode, sid: Long,
      delFiles: Seq[(Path, Long)], curSchemaId: Int)
      : (Path, Int,
        com.fasterxml.jackson.databind.node.ObjectNode => Unit, Long) = {
    val existingUnpart = md.get("partition-specs").elements().asScala
      .find(s => !s.get("fields").elements().hasNext)
      .map(_.get("spec-id").asInt())
    val delSpecId = existingUnpart.getOrElse(
      md.get("partition-specs").elements().asScala
        .map(_.get("spec-id").asInt()).max + 1)
    val entrySchema = manifestEntrySchemaIds(Nil)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    val entries = delFiles.map { case (p, rows) =>
      val dfr = new GenericData.Record(dataFileSchema)
      dfr.put("content", 1) // POSITION_DELETES
      dfr.put("file_path", p.toString)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(partSchema))
      dfr.put("record_count", rows)
      dfr.put("file_size_in_bytes", Files.size(p))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", sid)
      e.put("sequence_number", null) // inherit the manifest list's
      e.put("file_sequence_number", null)
      e.put("data_file", dfr)
      (e, rows)
    }
    val m = dir.resolve(s"m-$sid-delete.avro")
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    writeAvro(m, entrySchema, Seq(
      "schema" -> schemaNode.toString,
      "partition-spec" -> "[]",
      "partition-spec-id" -> delSpecId.toString,
      "format-version" -> "2",
      "content" -> "deletes"), entries.map(_._1))
    val addSpec: com.fasterxml.jackson.databind.node.ObjectNode => Unit =
      obj =>
        if (existingUnpart.isEmpty) {
          obj.withArray("partition-specs").add(mapper.readTree(
            s"""{"spec-id":$delSpecId,"fields":[]}"""))
          ()
        }
    (m, delSpecId, addSpec, entries.map(_._2).sum)
  }

  /** The TRUE current metadata version: the max v*.metadata.json on
    * disk — the version-hint is a hint; committing on the true max
    * heals a predecessor's crash between CAS and hint update instead
    * of wedging every later writer. */
  private def trueCurrentVersion(dir: Path, root: String): Long =
    withListed(dir)(_.map(_.getFileName.toString).toSeq)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toLong }
      .maxOption.getOrElse(
        throw new IllegalStateException(s"no metadata files at $root"))

  /** The shared commit tail of every foreign-chain writer: commit
    * `obj` as v(curN+1).metadata.json via the createLink CAS and move
    * the version-hint forward-only under the cross-process lock. */
  private def casCommitMetadata(root: String, dir: Path, curN: Long,
      obj: com.fasterxml.jackson.databind.node.ObjectNode,
      what: String): Unit = {
    val target = dir.resolve(s"v${curN + 1}.metadata.json")
    val tmp = Files.createTempFile(dir, s".ice-$what", ".json")
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    // the CAS: createLink fails atomically if the version exists (a
    // rename would silently overwrite a concurrent writer's commit)
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new java.util.ConcurrentModificationException(
        s"metadata version ${curN + 1} at $root was committed " +
          s"concurrently; re-read the chain and retry the $what")
    }
    Files.deleteIfExists(tmp)
    // the hint is a pointer, updated only by the CAS WINNER — and only
    // FORWARD, under a cross-process lock: a slow winner of v6 must
    // not overwrite v7's hint after a faster writer advanced it, or
    // the committed v7 becomes invisible to every hint-trusting reader
    // until the next append heals it
    val lockPath = dir.resolve(".hint.lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        val hint = dir.resolve("version-hint.text")
        val have =
          if (!Files.exists(hint)) -1L
          else scala.util.Try(
            Files.readString(hint).trim.toLong).getOrElse(-1L)
        if (curN + 1 > have) {
          val hintTmp = Files.createTempFile(dir, ".hint-tmp", ".txt")
          Files.writeString(hintTmp, (curN + 1).toString)
          Files.move(hintTmp, hint, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      } finally lock.release()
    } finally ch.close()
  }

  /** PARTITION EVOLUTION on a foreign chain — the `ALTER TABLE …
    * REPLACE PARTITION FIELD` analog: commits v(max+1).metadata.json
    * whose new DEFAULT spec is `fields` (partition field name,
    * transform, source column; empty = evolve to unpartitioned),
    * leaving every existing manifest under the spec it was written
    * with — scan planning resolves each file by its struct's field-ids
    * (see [[partFieldsById]]), and [[appendIcebergForeign]] lays new
    * data out under the new spec. Field-ids follow the spec's
    * evolution rules: a (source-id, transform) pair already declared
    * by ANY spec keeps its field-id; new pairs take fresh ids above
    * every declared id (and `last-partition-id`). Refuses loudly:
    * non-v2 chains, unknown source columns, transforms this writer
    * cannot evaluate on append (the spec may define more; committing
    * a default spec the engine's own writer would then refuse to
    * append under would wedge the table), identity fields over
    * unsupported types, a non-identity field named like a schema
    * column (the appended hive layout dir would shadow the data
    * column), and duplicate field names within the new spec. Returns
    * the new spec id. */
  def evolvePartitionSpecForeign(root: String,
      fields: Seq[(String, String, String)]): Int = {
    import org.apache.spark.sql.types._
    require(hasChain(root), s"no Iceberg metadata at $root")
    val dir = metaDir(root)
    val curN = trueCurrentVersion(dir, root)
    val md = mapper.readTree(Files.readString(
      dir.resolve(s"v$curN.metadata.json")))
    val fmtVer = Option(md.get("format-version")).map(_.asInt()).getOrElse(0)
    require(fmtVer == 2,
      s"partition evolution supports Iceberg format-version 2 only; " +
        s"the chain at $root is format-version $fmtVer")
    val curSchemaId = md.get("current-schema-id").asInt()
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).getOrElse(
        throw new IllegalStateException(s"schema $curSchemaId missing"))
    val schemaByName = schemaNode.get("fields").elements().asScala.map {
      f => f.get("name").asText().toLowerCase ->
        ((f.get("id").asInt(), sparkType(f.get("type"))))
    }.toMap
    val dupNames = fields.map(_._1.toLowerCase)
      .groupBy(identity).filter(_._2.size > 1)
    require(dupNames.isEmpty,
      s"duplicate partition field name(s) ${dupNames.keys.toSeq.sorted
        .mkString(", ")} in the new spec for $root")
    // what the engine's own append can evaluate per row — committing
    // a wider default spec would wedge every subsequent append
    def appendable(tr: Option[IcebergTransforms.Transform],
        dt: DataType): Boolean = tr match {
      case None => supportedPartitionType(dt)
      case Some(IcebergTransforms.Day) =>
        dt == TimestampType || dt == DateType
      case Some(IcebergTransforms.Hour) => dt == TimestampType
      case Some(IcebergTransforms.Month | IcebergTransforms.Year) =>
        dt == TimestampType || dt == DateType
      case Some(IcebergTransforms.Bucket(_)) => dt match {
        case LongType | IntegerType | ShortType | ByteType |
             TimestampType | DateType | StringType => true
        case _ => false
      }
      case Some(IcebergTransforms.Truncate(_)) => dt match {
        case LongType | IntegerType | ShortType | ByteType |
             StringType => true
        case _ => false
      }
    }
    val resolved = fields.map { case (name, trText, srcCol) =>
      val (srcId, srcDt) = schemaByName.getOrElse(srcCol.toLowerCase,
        throw new IllegalArgumentException(
          s"no source column '$srcCol' in the current schema at $root"))
      val tr =
        if (trText == "identity") None
        else Some(IcebergTransforms.parse(trText).getOrElse(
          throw new IllegalArgumentException(
            s"unknown or unsupported transform '$trText' for the new " +
              s"default spec at $root")))
      require(appendable(tr, srcDt),
        s"this writer cannot evaluate $trText(${srcCol}: " +
          s"${srcDt.simpleString}) on append; committing it as the " +
          s"default spec would wedge the table at $root")
      require(tr.isEmpty || !schemaByName.contains(name.toLowerCase),
        s"transform partition field '$name' at $root collides with a " +
          "schema column; the appended layout column cannot be added")
      (name, if (tr.isEmpty) "identity" else trText, srcId)
    }
    // one spec may not declare the same (source, transform) twice —
    // field-id reuse would collide the two fields onto one id
    val dupPair = resolved.map(r => (r._2, r._3))
      .groupBy(identity).filter(_._2.size > 1)
    require(dupPair.isEmpty,
      s"the new spec declares duplicate (transform, source) pair(s) " +
        s"${dupPair.keys.mkString(", ")} at $root")
    // field-id assignment per the spec's evolution rules
    val declaredTriples = Option(md.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap(_.get("fields").elements().asScala)
      .flatMap(f => Option(f.get("field-id")).map(fid =>
        (f.get("transform").asText(), f.get("source-id").asInt()) ->
          fid.asInt()))
      .toMap
    var nextFid = math.max(999,
      math.max(declaredTriples.values.maxOption.getOrElse(999),
        Option(md.get("last-partition-id")).map(_.asInt()).getOrElse(999)))
    val newSpecId = Option(md.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala)
      .map(_.get("spec-id").asInt()).maxOption.getOrElse(-1) + 1
    val specFieldsJson = resolved.map { case (name, trText, srcId) =>
      val fid = declaredTriples.getOrElse((trText, srcId), {
        nextFid += 1; nextFid
      })
      s"""{"name":"$name","transform":"$trText",""" +
        s""""source-id":$srcId,"field-id":$fid}"""
    }.mkString("[", ",", "]")
    val ts = math.max(System.currentTimeMillis(),
      md.get("last-updated-ms").asLong() + 1)
    val obj = md.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.withArray("partition-specs").add(mapper.readTree(
      s"""{"spec-id":$newSpecId,"fields":$specFieldsJson}"""))
    obj.put("default-spec-id", newSpecId)
    obj.put("last-partition-id", nextFid)
    obj.put("last-updated-ms", ts)
    obj.withArray("metadata-log").add(mapper.readTree(
      s"""{"metadata-file":"${dir.resolve(s"v$curN.metadata.json")}","timestamp-ms":${md.get("last-updated-ms").asLong()}}"""))
    casCommitMetadata(root, dir, curN, obj, "spec evolution")
    newSpecId
  }

  /** The logical fields (name, Spark type) of one schema-id in the
    * current metadata. */
  private def schemaFieldsOf(root: String,
      schemaId: Int): Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val md = currentMetadata(root)
    val schemaNode = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId).getOrElse(
        throw new IllegalStateException(s"schema $schemaId missing"))
    schemaNode.get("fields").elements().asScala.map(f =>
      (f.get("name").asText(), sparkType(f.get("type")))).toSeq
  }

  /** Data files ADDED by one snapshot — the entries of the manifests
    * that snapshot itself contributed (added_snapshot_id == sid, status
    * ADDED): the incremental unit of the iceberg-export streaming
    * source. O(that snapshot's manifests), never a chain replay. */
  def snapshotAddedFiles(root: String, sid: Long): Seq[String] = {
    val snap = snapshots(root).find(_.id == sid).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg snapshot $sid at $root"))
    readAvro(Paths.get(snap.manifestList))
      .filter(mf => mf.get("content").asInstanceOf[Int] == 0 &&
        mf.get("added_snapshot_id").asInstanceOf[Long] == sid)
      .flatMap { mf =>
        readAvro(Paths.get(mf.get("manifest_path").toString)).flatMap { e =>
          if (e.get("status").asInstanceOf[Int] != 1) None
          else Some(e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)
        }
      }
  }

  /** Read a specific chain-file slice under the CURRENT metadata schema
    * — the streaming source's batch unit. `deletesOfSnapshot` applies
    * that snapshot's position-delete files to the slice (the replay of a
    * non-append range must not resurrect MOR-deleted rows); None = no
    * delete application (pure-append slices have none). */
  def readIcebergFiles(spark: SparkSession, root: String,
      files: Seq[String],
      deletesOfSnapshot: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(files.nonEmpty, "readIcebergFiles: empty file slice")
    val schemaId = currentSchemaId(root)
    val idFields = schemaIdFieldsOf(root, schemaId)
    val raw = chainScan(spark, root, files, idFields,
      withIdentity = deletesOfSnapshot.nonEmpty)
    val visible = deletesOfSnapshot
      .map { dsid =>
        val (dataEntries, dels) = snapshotEntries(root, dsid)
        applyDeleteEntries(spark, root, schemaId, raw, dataEntries, dels)
      }
      .getOrElse(raw)
    visible.select(idFields.map { case (_, n, _) => col(n) }: _*)
  }

  /** Apply a snapshot's delete entries to its raw data scan.
    *
    * v2 POSITION deletes (content 1): anti-join on (file path, row
    * index) — the same shape the Delta DV read uses. Paths are never
    * reused, so no sequence scoping is needed.
    *
    * v2 EQUALITY deletes (content 2 — what a Flink-style streaming
    * upsert writer commits when it cannot locate row positions): each
    * delete row removes every data row whose `equality_ids` columns are
    * null-safe EQUAL, but only from data files with a sequence number
    * STRICTLY SMALLER than the delete file's (the spec's rule — a row
    * re-inserted after the delete survives). Delete files group by
    * their id set; each group is one broadcast anti-join whose non-equi
    * seq conjunct rides the small (delete) side. */
  private def applyDeleteEntries(spark: SparkSession, root: String,
      schemaId: Int, raw: DataFrame, dataEntries: Seq[(String, Long)],
      dels: Seq[DeleteEntry]): DataFrame =
    if (dels.isEmpty) raw
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val unknown = dels.filter(d => d.content != 1 && d.content != 2)
      require(unknown.isEmpty,
        s"unsupported delete-file content ${unknown.map(_.content).distinct} at $root")
      // a chainScan caller provides row identity (__p, __ri) explicitly
      // — a unioned scan has no `_metadata` — and keeps those columns on
      // the output; a plain single-scan caller derives and drops them
      val hasIdentity = raw.columns.contains("__p")
      val withP =
        if (hasIdentity) raw
        else raw.withColumn("__p", RowDeletes.scanFileKey(""))
      // data-file sequence numbers ride in via an O(files) broadcast —
      // BOTH delete kinds scope on them per spec: a position delete
      // applies to data files of sequence ≤ its own (so a path REMOVED
      // and later RE-ADDED above a carried delete's sequence reads raw,
      // agreeing with the batched changelog leg's pure-append
      // classification), an equality delete to STRICTLY SMALLER
      // sequences. The manifest's file_path must be keyed by
      // RowDeletes.locationKey, the location twin of __p's key: a
      // foreign chain storing file: URIs would otherwise miss the join,
      // leave __seq null, and a null-vs-seq condition would silently KEEP
      // rows the delete covers (fail-open resurrection).
      import spark.implicits._
      val seqDf = dataEntries
        .map { case (p, s) => (RowDeletes.locationKey(p), s) }
        .toDF("__seq_path", "__seq")
      val withSeq = withP.join(
        org.apache.spark.sql.functions.broadcast(seqDf),
        col("__p") === col("__seq_path"), "left")
      // Backstop: if a scanned row still has no sequence number, FAIL
      // the read rather than fail open. Guarded inside the join
      // conditions — it fires exactly when a delete matches a row whose
      // scoping is unknown, the only case where a null __seq could flip
      // the result.
      val seqScoped = org.apache.spark.sql.functions.when(
        col("__seq").isNull,
        org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.concat(lit(
            "iceberg delete application: data file missing from the " +
            "manifest sequence map (path normalization mismatch?): "),
            col("__p")))).otherwise(col("__seq"))
      val posDels = dels.filter(_.content == 1)
      val afterPos =
        if (posDels.isEmpty) withSeq
        else {
          // file_path is keyed by the location twin of __p's key (on
          // both sides of every path join): a foreign writer storing
          // file: URIs in its delete files would otherwise never match
          // and the anti-join would silently KEEP every deleted row
          // (fail-open resurrection)
          val del = posDels.map(d =>
              spark.read.parquet(d.path)
                .select(RowDeletes.locationKey(col("file_path"))
                  .as(RowDeletes.DelFile), col("pos").as(RowDeletes.DelRow))
                .withColumn("__del_seq", lit(d.seq)))
            .reduce(_ unionByName _)
          RowDeletes.dropPositions(withSeq, "", del,
            Some(seqScoped <= col("__del_seq")))
        }
      val eqDels = dels.filter(_.content == 2)
      val result =
        if (eqDels.isEmpty) afterPos
        else {
          val idFields = schemaIdFieldsOf(root, schemaId)
          val names = idFields.map { case (id, n, _) => id -> n }.toMap
          eqDels.groupBy(_.equalityIds).foldLeft(afterPos) {
            case (acc, (ids, group)) =>
              require(ids.nonEmpty,
                s"equality delete without equality_ids at $root")
              val cols = ids.map(id => names.getOrElse(id,
                throw new IllegalArgumentException(
                  s"equality_ids field $id not in schema $schemaId at $root")))
              // equality columns resolve by LOGICAL name on both the
              // raw data scan and the delete parquet; a chain with an
              // active column mapping stores PHYSICAL names in the
              // files, which this application path does not translate —
              // refuse with a clear error instead of an unresolved-
              // column failure (or worse, a null-match keep-all)
              val missingData = cols.filterNot(c =>
                acc.columns.exists(_.equalsIgnoreCase(c)))
              require(missingData.isEmpty,
                s"equality-delete columns ${missingData.mkString(", ")} not " +
                s"present in the data files at $root; chains with an active " +
                "column mapping (physical file names differing from logical " +
                "schema names) are unsupported for equality-delete reads")
              val keyFields = ids.map(id => idFields.find(_._1 == id).get)
              val delDf = group.map { d =>
                  readDeleteKeyColumns(spark, root, d.path, keyFields)
                    .withColumn("__dseq", lit(d.seq))
                }.reduce(_ unionByName _)
                .select(cols.map(c => col(c).as(s"__eq_$c")) :+
                  col("__dseq"): _*)
              val cond = cols.map(c => acc(c) <=> delDf(s"__eq_$c"))
                .reduce(_ && _) && seqScoped < delDf("__dseq")
              acc.join(
                org.apache.spark.sql.functions.broadcast(delDf),
                cond, "left_anti")
          }
        }
      // identity callers keep (__p, __ri) — they carry row identity
      // through further legs (the eq-level changelog dedupe); plain
      // callers get the data columns back unchanged
      val noSeq = result.drop("__seq_path", "__seq")
      if (hasIdentity) noSeq else noSeq.drop("__p")
    }

  /** Read the table THROUGH the Iceberg chain only — version-hint →
    * metadata.json → (current or pinned) snapshot → manifest list →
    * manifests → live files, served under the metadata schema. The graft
    * manifest is deliberately not consulted: gating this against an
    * oracle gates the exported FORMAT. */
  /** Constructed-read memo (optimization round 17): building the read
    * DataFrame is pure driver work — metadata walk, manifest planning,
    * delete wiring, schema alignment — measured at 0.1–0.44 s per call,
    * repeated identically on every invocation over an UNCHANGED chain.
    * The plan is a pure function of (chain state, read arguments,
    * cbo arm), and the chain state is fully pinned by the current
    * metadata file's version and [[FileId]] — every commit, rollback,
    * or maintenance verb rewrites that file, so a write invalidates the
    * key the same way it already invalidates [[metadataCache]]. Only
    * the ANALYZED PLAN is memoized (catalog semantics, the
    * Tables.load rule): every action still scans the parquet.
    * Refusals (reader-version gate, missing snapshot) throw before
    * anything is cached. */
  private val readMemo = new Memo[DataFrame]

  private def metadataIdentity(root: String): String = {
    val dir = metaDir(root)
    val hint = dir.resolve("version-hint.text")
    require(Files.exists(hint),
      s"no Iceberg metadata at $root (exportIcebergMeta first)")
    val n = Files.readString(hint).trim.toLong
    s"$n:${FileId(dir.resolve(s"v$n.metadata.json"))}"
  }

  def readIceberg(spark: SparkSession, root: String,
      snapshotAsOf: Option[Long] = None,
      asOfTimestamp: Option[Long] = None,
      pruneWhere: Option[String] = None): DataFrame = {
    val cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    readMemo(spark, s"$root@${metadataIdentity(root)}" +
        s"@$snapshotAsOf@$asOfTimestamp@$pruneWhere@$cbo") {
      readIcebergUncached(spark, root, snapshotAsOf, asOfTimestamp, pruneWhere)
    }
  }

  private def readIcebergUncached(spark: SparkSession, root: String,
      snapshotAsOf: Option[Long],
      asOfTimestamp: Option[Long],
      pruneWhere: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(snapshotAsOf.isEmpty || asOfTimestamp.isEmpty,
      "snapshotAsOf and asOfTimestamp are mutually exclusive")
    val md = currentMetadata(root)
    // timestamp travel resolves through the chain's own snapshot
    // timestamps (Iceberg's as-of-timestamp rule: latest snapshot
    // committed at or before the stamp) — survives copies and rsyncs
    val byTs = asOfTimestamp.map { ts =>
      snapshots(root).filter(_.ts <= ts).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no Iceberg snapshot committed at or before $ts at $root")).id
    }
    val sid = snapshotAsOf.orElse(byTs)
      .getOrElse(md.get("current-snapshot-id").asLong())
    val snap = snapshots(root).find(_.id == sid).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg snapshot $sid at $root"))
    // Iceberg's schema-resolution rule: a CURRENT read uses the
    // table's CURRENT schema (a metadata-only ADD COLUMNS with no new
    // snapshot must be visible immediately); TIME TRAVEL uses the
    // schema the snapshot was committed under
    val readSchemaId =
      if (snapshotAsOf.isEmpty && asOfTimestamp.isEmpty)
        md.get("current-schema-id").asInt()
      else snap.schemaId
    val fields = schemaFieldsOf(root, readSchemaId)
    // parse the predicate ONCE; it prunes at BOTH planning levels —
    // whole manifests from the manifest list's partition summaries
    // (before any manifest is opened), then per-file from partition
    // values + column metrics inside the surviving manifests
    val parsedPrune = pruneWhere.map { expr =>
      val sf = schemaIdFieldsOf(root, readSchemaId)
      MetricsPruning.parseChecked(spark, expr,
        sf.map(_._2.toLowerCase).toSet, sf.map(_._2).mkString(", "))
    }
    val (allDataEntries, deleteEntries, keptManifests) =
      snapshotEntriesPlanned(root, sid, manifestPrune =
        parsedPrune.map(manifestPruneFn(root, readSchemaId, _)))
    val dataEntries = parsedPrune match {
      case Some(p) =>
        // per-file prune over ONLY the surviving manifests' metrics —
        // re-indexing the whole chain here would re-open every
        // manifest the summary prune just skipped
        pruneFilesParsed(root, readSchemaId, allDataEntries, p,
          idxOverride = Some(fileMetricsIndex(root,
            only = Some(keptManifests))))
      case None => allDataEntries
    }
    val raw =
      if (dataEntries.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], explicitSchema(fields))
      else chainScan(spark, root, dataEntries.map(_._1),
        schemaIdFieldsOf(root, readSchemaId),
        withIdentity = deleteEntries.nonEmpty)
    // deletes on an empty data scan remove nothing — and the empty
    // LocalRelation above has no file-source `_metadata` for
    // applyDeleteEntries to derive row identity from (a snapshot can
    // carry live delete manifests with zero data manifests when a COW
    // rewrite removed every data file under an un-expired delete)
    val visible =
      if (dataEntries.isEmpty) raw
      else applyDeleteEntries(spark, root, readSchemaId, raw,
        dataEntries, deleteEntries)
    // align to the metadata schema: absent columns (an older snapshot's
    // files under a later ADD COLUMNS) null-fill; partition columns come
    // back from directory inference and are cast to the declared type
    val aligned = visible.select(fields.map { case (n, dt) =>
      (if (visible.columns.exists(_.equalsIgnoreCase(n))) col(n)
       else org.apache.spark.sql.functions.lit(null)).cast(dt).as(n)
    }: _*)
    // residual row filter: file pruning is exact for tuples the
    // manifests carry, but files with UNKNOWN partition values (commits
    // predating the partitioning) are kept conservatively — their rows
    // still need the predicate applied
    val res = pruneWhere.map(aligned.filter).getOrElse(aligned)
    // CBO rowCount from the manifest LIST's row counts (already-read
    // metadata, zero extra IO; physical rows — delete anti-joins sit
    // above the scan). Armed-CBO only, and only for UNPRUNED reads —
    // a pruned read's surviving-file counts are not in the list.
    if (pruneWhere.isDefined || dataEntries.isEmpty ||
        !spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean) res
    else listLiveRowCount(snap).map(rc =>
      TableStatistics.attachForeignRowCount(spark, res, root, rc))
      .getOrElse(res)
  }

  /** Live physical rows of a snapshot from its manifest LIST alone:
    * Σ (added_rows_count + existing_rows_count) over data manifests —
    * the counts every commit of this engine writes and the spec asks
    * of foreign writers. None when any manifest's counts are absent
    * (a partial sum would be a WRONG statistic, worse than none).
    * Cached by the list's [[FileId]] — a snapshot's list is
    * immutable, so every CBO-armed read of the same snapshot skips the
    * avro re-read (one GET per plan on an object store); mtime+size in
    * the key (the metadataCache discipline) so a table RE-CREATED at
    * the same root — whose deterministic snapshot ids land the new
    * list on the identical path — never serves the old table's count.
    * Option-valued: the TrieMap never stores raw null. */
  private val listRowCountCache =
    TrieMap.empty[FileId, Option[Long]]

  private def listLiveRowCount(snap: SnapshotInfo): Option[Long] = {
    val lp = Paths.get(snap.manifestList)
    listRowCountCache.getOrElseUpdate(FileId(lp), {
      def num(r: GenericRecord, f: String): Option[Long] =
        if (r.getSchema.getField(f) == null) None
        else Option(r.get(f)).collect {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
        }
      val counts = readAvro(lp)
        .filter(mf => num(mf, "content").forall(_ == 0L))
        .map { mf =>
          for { a <- num(mf, "added_rows_count")
                e <- num(mf, "existing_rows_count") } yield a + e
        }
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    })
  }

  /** SCAN PLANNING from manifest metadata (the Iceberg reader's
    * partition pruning + metrics file skipping): keep only the data
    * files whose manifest metadata can satisfy `expr` — an INCLUSIVE
    * evaluator over identity-partition values (exact: min = max =
    * value) and the per-column lower/upper bounds and null counts the
    * manifests record, evaluated driver-side in O(files), never a data
    * scan. NON-IDENTITY partition transforms prune too — a `day(ts)`
    * value derives the file's exact UTC-micros range for `ts`,
    * `month`/`year`/`hour` likewise, `truncate[W]` an int range or
    * string-prefix range, and `bucket[N]` an equality-only check via
    * the spec's murmur3 hash ([[IcebergTransforms]]) — so the most
    * common real Iceberg layouts plan files from the partition struct
    * even though transform fields are not schema columns. At 100 TB
    * this is the difference between scanning a partition (or a key
    * range) and scanning the table on a chain whose layout Spark's
    * directory pruning cannot see. Predicate
    * shapes beyond AND / OR / comparisons / IN / IS (NOT) NULL on a
    * column vs literals keep the file conservatively, as do columns
    * with no recorded metadata — the residual row filter in
    * [[readIceberg]] covers whatever planning kept. A predicate
    * referencing a column the schema does not have refuses loudly. */
  /** Single-value-serialized bound bytes → the normalized comparable
    * space MetricsPruning evaluates in (BigDecimal / String). Shared
    * by per-file pruning (data-file bounds, [[pruneFilesParsed]]) and
    * per-MANIFEST pruning (manifest-list partition summaries,
    * [[manifestPruneFn]]). */
  private def normBound(b: Array[Byte],
      dt: org.apache.spark.sql.types.DataType,
      isLower: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    val bb = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType | ShortType | ByteType
          if b.length == 4 => Some(BigDecimal(bb.getInt))
      case LongType | TimestampType if b.length == 8 =>
        Some(BigDecimal(bb.getLong))
      // a foreign writer may have serialized non-finite endpoints
      // (spec-invalid for NaN, legal for ±Inf): no BigDecimal form —
      // keep the file conservatively rather than throw. Finite
      // floating bounds take MetricsPruning's one-ulp slack.
      case FloatType if b.length == 4 =>
        val d = bb.getFloat.toDouble
        if (isLower) MetricsPruning.floatLo(d)
        else MetricsPruning.floatHi(d)
      case DoubleType if b.length == 8 =>
        val d = bb.getDouble
        if (isLower) MetricsPruning.floatLo(d)
        else MetricsPruning.floatHi(d)
      case BooleanType if b.length == 1 => Some(BigDecimal(b(0).toInt))
      case StringType =>
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
  }

  /** Raw (un-normalized) single value from bound bytes — what the
    * transform range derivations (truncateRange / temporalRange /
    * bucket index) consume. `dt` is the TRANSFORM VALUE type. */
  private def rawBound(b: Array[Byte],
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    val bb = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if b.length == 4 => Some(bb.getInt)
      case LongType | TimestampType if b.length == 8 => Some(bb.getLong)
      case StringType =>
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
  }

  // tighten a base range with a transform-derived one: the true row
  // range satisfies BOTH, so lo takes the greater, hi the smaller
  // (incomparable values — impossible within one column's norm
  // space — fall back to the base, conservatively)
  private def maxLo(a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        MetricsPruning.cmp(x, y).map(c => if (c >= 0) x else y).orElse(a)
      case _ => a.orElse(b)
    }
  private def minHi(a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        MetricsPruning.cmp(x, y).map(c => if (c <= 0) x else y).orElse(a)
      case _ => a.orElse(b)
    }

  private def pruneFiles(spark: SparkSession, root: String,
      schemaId: Int, entries: Seq[(String, Long)], expr: String)
      : Seq[(String, Long)] = {
    val fields = schemaIdFieldsOf(root, schemaId)
    val byName = fields.map { case (id, n, dt) =>
      n.toLowerCase -> ((id, dt)) }.toMap
    val parsed = MetricsPruning.parseChecked(spark, expr, byName.keySet,
      fields.map(_._2).mkString(", "))
    pruneFilesParsed(root, schemaId, entries, parsed)
  }

  /** [[pruneFiles]] over an ALREADY-PARSED predicate tree — the entry
    * the foreign MERGE uses to plan candidate files from its source
    * keys' min/max bounds (Catalyst nodes built from collected values,
    * never rendered to SQL text). */
  private def pruneFilesParsed(root: String,
      schemaId: Int, entries: Seq[(String, Long)],
      parsed: org.apache.spark.sql.catalyst.expressions.Expression,
      idxOverride: Option[Map[String, FileMetrics]] = None)
      : Seq[(String, Long)] = {
    import org.apache.spark.sql.types._
    import MetricsPruning.ColMeta
    val fields = schemaIdFieldsOf(root, schemaId)
    val byName = fields.map { case (id, n, dt) =>
      n.toLowerCase -> ((id, dt)) }.toMap
    val partSrcIds = identitySourceIds(root)
    // source field id → its transform partition fields: what a day/
    // bucket/truncate value says about the SOURCE column's rows. Both
    // key forms a file's trans map can carry: "#<field-id>" from the
    // id-resolved path, the lowercase field name from the legacy
    // fallback (see fileMetricsIndex — an ambiguous name entry here
    // can never match, the fallback refuses before producing one)
    val transByCol: Map[Int, Seq[(String, IcebergTransforms.Transform)]] =
      transformPartPairs(root)
        .flatMap { case (name, fidOpt, tr, srcId) =>
          (srcId -> (name, tr)) +:
            fidOpt.toSeq.map(fid => srcId -> (("#" + fid), tr))
        }
        .groupBy(_._1)
        .map { case (id, xs) => id -> xs.map(_._2).distinct }
    def normPart(v: Any): Option[Any] = v match {
      case null => None
      case u: org.apache.avro.util.Utf8 => Some(u.toString)
      case s: String => Some(s)
      case b: java.lang.Boolean => Some(BigDecimal(if (b) 1 else 0))
      case n: java.lang.Number if MetricsPruning.finite(n) =>
        Some(BigDecimal(n.toString))
      case _ => None
    }
    // one transform-partition value folded into a column's metadata.
    // The supported transforms are all null-preserving, so a null
    // value proves every source row null and a non-null value proves
    // none are; the temporal/truncate ranges are exact row bounds.
    def applyTransform(m: ColMeta, tr: IcebergTransforms.Transform,
        raw: Any, dt: DataType): ColMeta = {
      if (raw == null)
        return m.copy(allNull = true, noNulls = false)
      val v = raw match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case x => x
      }
      val withVal = m.copy(noNulls = true)
      tr match {
        case IcebergTransforms.Bucket(n) =>
          val bucket = v match {
            case x: java.lang.Number => Some(x.intValue())
            case _ => None
          }
          bucket.fold(withVal) { b =>
            val prev = withVal.eqKeep
            withVal.copy(eqKeep = lit =>
              prev(lit) &&
                IcebergTransforms.bucketOf(n, lit, dt).forall(_ == b))
          }
        case IcebergTransforms.Truncate(w) =>
          IcebergTransforms.truncateRange(w, v, dt).fold(withVal) {
            case (lo, hi) => withVal.copy(lo = maxLo(withVal.lo, lo),
              hi = minHi(withVal.hi, hi))
          }
        case temporal =>
          val units = v match {
            case x: java.lang.Number => Some(x.longValue())
            case _ => None
          }
          units.flatMap(IcebergTransforms.temporalRange(temporal, _, dt))
            .fold(withVal) { case (lo, hi) =>
              withVal.copy(lo = maxLo(withVal.lo, Some(lo)),
                hi = minHi(withVal.hi, Some(hi)))
            }
      }
    }
    // what the manifests know about one column of one file (see
    // MetricsPruning for the nanFree / ordering rules)
    def metaFor(fm: FileMetrics)(name: String): ColMeta = {
      val (id, dt) = byName(name)
      val floating = dt == FloatType || dt == DoubleType
      val base = if (partSrcIds.contains(id) && fm.part.contains(id)) {
        val v = fm.part(id)
        if (v == null)
          ColMeta(None, None, allNull = true, noNulls = false,
            nanFree = true)
        else {
          val n = normPart(v)
          // an identity-partition value IS every row's value: a normed
          // (finite) value implies no NaN rows in the file. Floating
          // values take the one-ulp slack (see MetricsPruning.floatLo).
          val (lo, hi) = v match {
            case f: java.lang.Float if n.isDefined =>
              (MetricsPruning.floatLo(f.toDouble),
                MetricsPruning.floatHi(f.toDouble))
            case d: java.lang.Double if n.isDefined =>
              (MetricsPruning.floatLo(d), MetricsPruning.floatHi(d))
            case _ => (n, n)
          }
          ColMeta(lo, hi, allNull = false, noNulls = true,
            nanFree = n.isDefined)
        }
      } else {
        val nulls = fm.nullCounts.get(id)
        val values = fm.valueCounts.get(id)
        ColMeta(fm.lower.get(id).flatMap(normBound(_, dt, isLower = true)),
          fm.upper.get(id).flatMap(normBound(_, dt, isLower = false)),
          allNull = nulls.zip(values).exists { case (n, v) => n == v },
          noNulls = nulls.contains(0L),
          nanFree = !floating || fm.nanCounts.get(id).contains(0L))
      }
      transByCol.getOrElse(id, Nil).foldLeft(base) {
        case (m, (fname, tr)) =>
          if (!fm.trans.contains(fname)) m
          else applyTransform(m, tr, fm.trans(fname), dt)
      }
    }
    val idx = idxOverride.getOrElse(fileMetricsIndex(root))
    entries.filter { case (p, _) =>
      idx.get(RowDeletes.locationKey(p))
        .forall(fm => MetricsPruning.canMatch(parsed, metaFor(fm)))
    }
  }

  /** MANIFEST-level scan planning: can a data manifest hold matching
    * rows, judged from its manifest-list `partitions` summaries alone
    * — evaluated BEFORE the manifest is opened. The same inclusive
    * ColMeta evaluator as [[pruneFilesParsed]], fed with per-spec-
    * field RANGES instead of per-file values: identity bounds
    * tighten the source column directly; temporal/truncate bounds
    * derive a source range from [lower unit, upper unit]; bucket
    * bounds keep equality only when the literal's bucket falls inside
    * the recorded index range. Entries with no summaries (old lists),
    * mismatched arity, or an unknown spec keep the manifest
    * conservatively — exactly the residual-filter discipline of the
    * per-file path. */
  private def manifestPruneFn(root: String, schemaId: Int,
      parsed: org.apache.spark.sql.catalyst.expressions.Expression)
      : GenericRecord => Boolean = {
    import org.apache.spark.sql.types._
    import MetricsPruning.ColMeta
    val fields = schemaIdFieldsOf(root, schemaId)
    val byName = fields.map { case (id, n, dt) =>
      n.toLowerCase -> ((id, dt)) }.toMap
    val md = currentMetadata(root)
    val specs: Map[Int, Seq[(String, Int)]] =
      Option(md.get("partition-specs")).toSeq
        .flatMap(_.elements().asScala)
        .map { s => s.get("spec-id").asInt() ->
          s.get("fields").elements().asScala.map(f =>
            (f.get("transform").asText(), f.get("source-id").asInt()))
            .toSeq }
        .toMap
    case class Summary(containsNull: Boolean, containsNan: Option[Boolean],
        lower: Option[Array[Byte]], upper: Option[Array[Byte]])
    def bytesOf(o: Any): Option[Array[Byte]] = o match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate()
        val a = new Array[Byte](d.remaining()); d.get(a); Some(a)
      case _ => None
    }
    (mf: GenericRecord) => {
      // legacy lists (pre-summary) lack the field entirely — and
      // GenericData.Record.get(name) THROWS on unknown fields rather
      // than returning null
      val sums: Seq[GenericRecord] =
        if (mf.getSchema.getField("partitions") == null) Nil
        else mf.get("partitions") match {
          case l: java.util.List[_] =>
            l.asScala.toSeq.map(_.asInstanceOf[GenericRecord])
          case _ => Nil
        }
      val specId = mf.get("partition_spec_id").asInstanceOf[Int]
      specs.get(specId) match {
        case Some(sf) if sums.nonEmpty && sums.size == sf.size =>
          // every field is read SCHEMA-GUARDED: summary records from
          // foreign lists legally omit the optional fields (e.g.
          // contains_nan predates Iceberg 0.11), and Avro's
          // get(name) THROWS on schema-absent fields — an absent
          // field means "unknown", which maps to the conservative
          // value (contains_null true, no bounds), never a crash
          def opt(r: GenericRecord, f: String): Option[Any] =
            if (r.getSchema.getField(f) == null) None
            else Option(r.get(f))
          val perCol: Map[Int, Seq[(String, Summary)]] =
            sf.zip(sums).map { case ((tr, srcId), r) =>
              srcId -> ((tr, Summary(
                opt(r, "contains_null")
                  .map(_.asInstanceOf[Boolean]).getOrElse(true),
                opt(r, "contains_nan").map(_.asInstanceOf[Boolean]),
                opt(r, "lower_bound").flatMap(bytesOf),
                opt(r, "upper_bound").flatMap(bytesOf))))
            }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
          def metaFor(name: String): ColMeta = {
            val (cid, dt) = byName(name)
            val floating = dt == FloatType || dt == DoubleType
            val base = ColMeta(None, None, allNull = false,
              noNulls = false, nanFree = !floating)
            perCol.getOrElse(cid, Nil).foldLeft(base) {
              case (m, (tr, s)) =>
                // every supported transform is null-preserving: a
                // summary proving no null transform values proves no
                // null source rows in the whole manifest
                val noNulls2 = m.noNulls || !s.containsNull
                tr match {
                  case "identity" =>
                    m.copy(
                      lo = maxLo(m.lo, s.lower
                        .flatMap(normBound(_, dt, isLower = true))),
                      hi = minHi(m.hi, s.upper
                        .flatMap(normBound(_, dt, isLower = false))),
                      noNulls = noNulls2,
                      nanFree = m.nanFree || s.containsNan.contains(false))
                  case other => IcebergTransforms.parse(other) match {
                    case None => m // unknown/void transform: no info
                    case Some(IcebergTransforms.Bucket(n)) =>
                      val loB = s.lower.flatMap(rawBound(_, IntegerType))
                        .collect { case i: Int => i }
                      val hiB = s.upper.flatMap(rawBound(_, IntegerType))
                        .collect { case i: Int => i }
                      (loB, hiB) match {
                        case (Some(l), Some(h)) =>
                          val prev = m.eqKeep
                          m.copy(noNulls = noNulls2, eqKeep = lit =>
                            prev(lit) && IcebergTransforms
                              .bucketOf(n, lit, dt)
                              .forall(b => b >= l && b <= h))
                        case _ => m.copy(noNulls = noNulls2)
                      }
                    case Some(IcebergTransforms.Truncate(w)) =>
                      val lo = s.lower.flatMap(rawBound(_, dt))
                        .flatMap(v => IcebergTransforms
                          .truncateRange(w, v, dt)).flatMap(_._1)
                      val hi = s.upper.flatMap(rawBound(_, dt))
                        .flatMap(v => IcebergTransforms
                          .truncateRange(w, v, dt)).flatMap(_._2)
                      m.copy(lo = maxLo(m.lo, lo), hi = minHi(m.hi, hi),
                        noNulls = noNulls2)
                    case Some(temporal) =>
                      val lo = s.lower.flatMap(rawBound(_, IntegerType))
                        .collect { case i: Int => i.toLong }
                        .flatMap(IcebergTransforms
                          .temporalRange(temporal, _, dt)).map(_._1)
                      val hi = s.upper.flatMap(rawBound(_, IntegerType))
                        .collect { case i: Int => i.toLong }
                        .flatMap(IcebergTransforms
                          .temporalRange(temporal, _, dt)).map(_._2)
                      m.copy(lo = maxLo(m.lo, lo), hi = minHi(m.hi, hi),
                        noNulls = noNulls2)
                  }
                }
            }
          }
          MetricsPruning.canMatch(parsed, metaFor)
        case _ => true // no/odd summaries or unknown spec: open it
      }
    }
  }

  /** The DATA manifests scan planning would OPEN at the current
    * snapshot under `pruneWhere` — the manifest-list summary pruning
    * made observable (Round15Spec pins a strict drop on a partitioned
    * multi-manifest chain, results hash-unchanged). */
  private[graft] def plannedDataManifests(spark: SparkSession,
      root: String, pruneWhere: Option[String],
      content: Int = 0): Seq[String] = {
    val md = currentMetadata(root)
    val sid = md.get("current-snapshot-id").asLong()
    val snap = snapshots(root).find(_.id == sid).getOrElse(
      throw new IllegalArgumentException(s"no current snapshot at $root"))
    val schemaId = md.get("current-schema-id").asInt()
    val data = readAvro(Paths.get(snap.manifestList))
      .filter(_.get("content").asInstanceOf[Int] == content)
    val kept = pruneWhere match {
      case None => data
      case Some(expr) =>
        val sf = schemaIdFieldsOf(root, schemaId)
        val parsed = MetricsPruning.parseChecked(spark, expr,
          sf.map(_._2.toLowerCase).toSet, sf.map(_._2).mkString(", "))
        data.filter(manifestPruneFn(root, schemaId, parsed))
    }
    kept.map(_.get("manifest_path").toString)
  }

  /** CHANGELOG FACE: row-level changes derived from the Iceberg chain
    * ALONE (Iceberg's changelog-scan / create_changelog_view analog) —
    * the interop symmetry partner of the Delta mirror's cdc records.
    * For each snapshot with sequence number in (fromSeq, toSeq]:
    *
    *   - file-level rewrites (added/removed data files — append, COW
    *     delete, MERGE): a keyed full-outer diff of the removed files'
    *     rows (visible under the PARENT's deletes) against the added
    *     files' rows (visible under this snapshot's) → insert / delete /
    *     update_preimage / update_postimage, identical-row rewrites
    *     (pure file churn) emitting nothing;
    *   - position-delete state diffs on CARRIED files (MOR deletes): new
    *     (path, pos) pairs → deletes, vanished pairs (a restore past a
    *     MOR delete) → inserts;
    *   - new EQUALITY-delete files: the parent-visible rows of data
    *     files with a strictly smaller sequence number matching the
    *     delete keys → deletes.
    *
    * Refusals (loud, never approximate): empty `keys`; a snapshot
    * combining a file rewrite with new equality deletes (their relative
    * order inside one snapshot is not expressible in the chain).
    *
    * Output: `_change_type` + the current-schema data columns +
    * `_commit_snapshot_id`, `_sequence_number`, `_commit_timestamp` —
    * Iceberg-native stamps; a Delta-parity consumer derives its version
    * as sequence−1. Cost per snapshot is O(churned files + delete rows),
    * never a table rescan: carried-file reads are restricted to files
    * named by the position diff, and the keyed join shuffles only the
    * rewritten files' rows. */
  def icebergChangelog(spark: SparkSession, root: String,
      fromSeq: Long, toSeq: Long, keys: Seq[String]): DataFrame = {
    // constructed-plan memo, the [[readIceberg]] rule: the changelog
    // plan is a pure function of the pinned chain state + arguments
    readMemo(spark, s"changelog@$root@${metadataIdentity(root)}" +
        s"@$fromSeq@$toSeq@${keys.mkString(",")}") {
      icebergChangelogUncached(spark, root, fromSeq, toSeq, keys)
    }
  }

  private def icebergChangelogUncached(spark: SparkSession, root: String,
      fromSeq: Long, toSeq: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "icebergChangelog requires at least one key column")
    val snaps = snapshots(root).sortBy(_.seq)
    val range = snaps.filter(s => s.seq > fromSeq && s.seq <= toSeq)
    // SINGLE-SCAN fast path (the readDeltaExportChanges treatment): a
    // snapshot whose own state AND parent state carry no delete files is
    // PURE FILE CHURN — its changelog is derivable from raw file reads
    // alone, so the whole range's churn batches into at most four scan
    // legs (insert-only adds, delete-only removes, rewrite pre-state,
    // rewrite post-state), each ONE parquet scan per schema epoch with a
    // broadcast path→(snapshot_id, sequence, timestamp) stamp join. A
    // 10k-snapshot append/rewrite history costs O(1) plan legs, not 10k
    // union subtrees. Delete-bearing snapshots (MOR position diffs,
    // equality deletes, or churn whose pre/post states sit under delete
    // files) keep the exact per-snapshot derivation.
    val entryMemo = scala.collection.mutable.HashMap
      .empty[Long, (Seq[(String, Long)], Seq[DeleteEntry])]
    def entriesOf(id: Long) = entryMemo.getOrElseUpdate(id,
      snapshotEntries(root, id))
    case class Churn(snap: SnapshotInfo, added: Seq[String],
        removed: Seq[String])
    // Small ranges skip classification entirely: batching needs more
    // than 4 churn snapshots (crossover note below), and range.size
    // bounds churn count — a streaming micro-batch or a q198-sized TVF
    // range pays zero extra manifest reads for a decision that could
    // only come out "legged".
    val batchEligible = range.size > 4
    val classified: Seq[Either[Churn, SnapshotInfo]] =
      if (!batchEligible) range.map(Right(_))
      else range.flatMap { s =>
      requireParentRetained(root, s)
      val parent = snaps.find(_.id == s.parent)
      val (dataN, delsN) = entriesOf(s.id)
      parent match {
        case None =>
          if (delsN.nonEmpty) Some(Right(s))
          else if (dataN.isEmpty) None // empty first snapshot
          else Some(Left(Churn(s, dataN.map(_._1).sorted, Nil)))
        case Some(p) =>
          val (dataP, delsP) = entriesOf(p.id)
          val nPaths = dataN.map(_._1).toSet
          val pPaths = dataP.map(_._1).toSet
          val added = dataN.map(_._1).filterNot(pPaths).sorted
          val removed = dataP.map(_._1).filterNot(nPaths).sorted
          def dKey(d: DeleteEntry) = (d.path, d.content, d.seq, d.equalityIds)
          val delsSame = delsN.map(dKey).toSet == delsP.map(dKey).toSet
          if (delsN.isEmpty && delsP.isEmpty) {
            if (added.isEmpty && removed.isEmpty) None // metadata-only
            else Some(Left(Churn(s, added, removed)))
          } else if (delsSame && removed.isEmpty) {
            // PURE APPEND under a carried (untouched) delete set is
            // still batchable: the added files carry the snapshot's own
            // sequence number, which no carried delete reaches — a
            // position delete applies only to sequences ≤ its own and
            // an equality delete to STRICTLY SMALLER ones, and
            // applyDeleteEntries enforces BOTH scopings (so even a
            // carried position delete naming a re-ADDED path agrees:
            // the legged path reads the re-added file's rows raw too).
            if (added.isEmpty) None // metadata-only
            else Some(Left(Churn(s, added, Nil)))
          } else Some(Right(s))
      }
      }
    // Short churn keeps the per-snapshot legs: the batched path's fixed
    // overhead (two stamp broadcasts, one wider full-outer diff, the
    // leg union) exceeds its plan-flattening benefit until the leg
    // COUNT itself dominates — measured crossover ≈4 churn snapshots at
    // sf0.1 (q198's 2-snapshot range: legged ~0.8 s vs batched ~1.5 s;
    // a 100-snapshot chain: batched 3 legs ~1 s vs ~110 legged legs).
    val churnAll = classified.collect { case Left(c) => c }
    val batchWorthwhile = churnAll.size > 4
    val churn = if (batchWorthwhile) churnAll else Nil
    val perSnapshot = classified.collect { case Right(s) => s } ++
      (if (batchWorthwhile) Nil else churnAll.map(_.snap))
    val batched: Seq[DataFrame] =
      if (churn.isEmpty) Nil
      else {
        val inserts = churn.filter(_.removed.isEmpty)
          .flatMap(c => c.added.map(_ -> c.snap))
        val deletes = churn.filter(c => c.added.isEmpty && c.removed.nonEmpty)
          .flatMap(c => c.removed.map(_ -> c.snap))
        val rewrites = churn.filter(c =>
          c.added.nonEmpty && c.removed.nonEmpty)
        val insertLeg =
          if (inserts.isEmpty) None
          else Some(finishStamped(
            stampedChurnScan(spark, root, inserts)
              .withColumn("_change_type", lit("insert"))))
        val deleteLeg =
          if (deletes.isEmpty) None
          else Some(finishStamped(
            stampedChurnScan(spark, root, deletes)
              .withColumn("_change_type", lit("delete"))))
        val rewriteLeg =
          if (rewrites.isEmpty) None
          else {
            val cols = currentSchemaFields(root).map(_._1)
            require(keys.forall(k => cols.exists(_.equalsIgnoreCase(k))),
              s"icebergChangelog keys ${keys.filterNot(k =>
                cols.exists(_.equalsIgnoreCase(k)))} not in schema")
            val pre = stampedChurnScan(spark, root,
                rewrites.flatMap(c => c.removed.map(_ -> c.snap)))
              .withColumn("__pre", lit(true))
            val post = stampedChurnScan(spark, root,
                rewrites.flatMap(c => c.added.map(_ -> c.snap)))
              .withColumn("__post", lit(true))
            // seq equality scopes the keyed diff to ONE snapshot: a pre
            // row of sequence 5 never matches a post row of sequence 7,
            // so every snapshot's full-outer diff rides one join
            val cond = keys.map(k => pre(k) <=> post(k)).reduce(_ && _) &&
              pre("__seq") === post("__seq")
            val j = pre.join(post, cond, "full_outer")
            val same = cols.map(c => pre(c) <=> post(c)).reduce(_ && _)
            val preRow = struct(cols.map(c => pre(c).as(c)): _*)
            val postRow = struct(cols.map(c => post(c).as(c)): _*)
            Some(j
              .filter(pre("__pre").isNull || post("__post").isNull || !same)
              .select(explode(
                when(pre("__pre").isNull, array(struct(
                  lit("insert").as("_change_type"), postRow.as("row"))))
                .when(post("__post").isNull, array(struct(
                  lit("delete").as("_change_type"), preRow.as("row"))))
                .otherwise(array(
                  struct(lit("update_preimage").as("_change_type"),
                    preRow.as("row")),
                  struct(lit("update_postimage").as("_change_type"),
                    postRow.as("row"))))).as("c"),
                coalesce(pre("__sid"), post("__sid")).as("__sid"),
                coalesce(pre("__seq"), post("__seq")).as("__seq"),
                coalesce(pre("__ts"), post("__ts")).as("__ts"))
              .select(col("c.row.*") +: col("c._change_type")
                  .as("_change_type") +:
                Seq(col("__sid").as("_commit_snapshot_id"),
                  col("__seq").as("_sequence_number"),
                  timestamp_millis(col("__ts"))
                    .as("_commit_timestamp")): _*))
          }
        Seq(insertLeg, deleteLeg, rewriteLeg).flatten
      }
    val legs = batched ++
      perSnapshot.flatMap(s =>
        snapshotChangelog(spark, root, s, keys, entriesOf))
    // canonical column order on BOTH paths (data columns, _change_type,
    // then the three stamps) — without it the empty-range frame and the
    // union of whichever leg came first would disagree positionally
    if (legs.isEmpty) {
      val empty = readIceberg(spark, root).limit(0)
      empty.select(empty.columns.map(col).toSeq :+
        lit("").as("_change_type") :+
        lit(0L).as("_commit_snapshot_id") :+
        lit(0L).as("_sequence_number") :+
        lit(null).cast("timestamp").as("_commit_timestamp"): _*)
        .limit(0)
    } else legs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Refuse a snapshot whose parent id is SET but absent from the chain
    * — the normal state of the oldest retained snapshot after foreign
    * snapshot expiration. Deriving its changes would silently emit the
    * whole snapshot as inserts; parent == -1 (a true first snapshot) is
    * the only insert-everything case. */
  private def requireParentRetained(root: String, snap: SnapshotInfo): Unit =
    if (snap.parent != -1L && !snapshots(root).exists(_.id == snap.parent))
      throw new IllegalStateException(
        s"icebergChangelog: snapshot ${snap.id} (sequence ${snap.seq}) at " +
          s"$root names parent ${snap.parent}, which is no longer in the " +
          "chain (expired). Changes below this snapshot cannot be " +
          s"derived — start the range at sequence ${snap.seq} or later")

  /** Schema-id of the CURRENT snapshot — the one place this lookup
    * lives (changelog legs, plain reads, and the eq-delete leg must all
    * project under the same resolution rule). */
  private def currentSchemaId(root: String): Int = {
    val sid = currentMetadata(root).get("current-snapshot-id").asLong()
    snapshots(root).find(_.id == sid).map(_.schemaId)
      .getOrElse(throw new IllegalStateException(s"snapshot $sid missing"))
  }

  /** (name, type) fields of the CURRENT metadata schema — the projection
    * every changelog leg aligns to. */
  private def currentSchemaFields(root: String)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    schemaFieldsOf(root, currentSchemaId(root))

  /** ONE batched scan over churned files spanning many snapshots under
    * the CURRENT metadata schema via [[chainScan]] — NOT grouped by
    * stamping-snapshot schema-id (that pre-widening design was
    * abandoned: mergeSchema INFERENCE refuses a range whose churned
    * files span an ALTER COLUMN TYPE widening — int32 and int64 footers
    * of one column in one inference — while an explicit requested
    * schema has the parquet reader serve each narrow file under the
    * wider type and null-fill columns a file predates, the
    * widenedPhysicalSchema discipline). Rename-bearing foreign chains
    * additionally split by footer field-id presence inside chainScan.
    * Paths dedupe because a RESTORE re-adds a previously-removed path:
    * the file reads once and a broadcast path→(snapshot, sequence, ts)
    * join fans its rows out to one copy per (snapshot, path) pair —
    * raise_error on a miss (the scan reads exactly the stamp map's
    * files, so a miss is a normalization bug, never a stampable row).
    * Output: current-schema columns + `__sid`, `__seq`, `__ts`. */
  private def stampedChurnScan(spark: SparkSession, root: String,
      files: Seq[(String, SnapshotInfo)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val idFields = schemaIdFieldsOf(root, currentSchemaId(root))
    val scan = chainScan(spark, root, files.map(_._1), idFields,
      withIdentity = true).drop("__ri")
    import spark.implicits._
    val meta = files.map { case (f, s) =>
      (RowDeletes.locationKey(f), s.id, s.seq, s.ts)
    }.toDF("__mp", "__msid", "__mseq", "__mts")
    scan.join(broadcast(meta), col("__p") === col("__mp"), "left")
      .withColumn("__sid", when(col("__msid").isNull,
        raise_error(concat(
          lit("icebergChangelog stamp join missed file: "), col("__p"))))
        .otherwise(col("__msid")))
      .withColumn("__seq", col("__mseq"))
      .withColumn("__ts", col("__mts"))
      .drop("__p", "__mp", "__msid", "__mseq", "__mts")
  }

  /** Canonical changelog column order for a stamped-scan leg: data
    * columns, `_change_type`, then the three commit stamps. */
  private def finishStamped(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = df.columns
      .filterNot(Set("_change_type", "__sid", "__seq", "__ts"))
      .map(col).toSeq
    df.select(data :+ col("_change_type") :+
      col("__sid").as("_commit_snapshot_id") :+
      col("__seq").as("_sequence_number") :+
      timestamp_millis(col("__ts")).as("_commit_timestamp"): _*)
  }

  /** Explicit read schema for a raw data-file scan: the snapshot
    * schema's (name, type) fields. An INFERRED mergeSchema union would
    * refuse a file set spanning an ALTER COLUMN TYPE widening (int32
    * and int64 footers of one column); requesting the schema instead
    * has the parquet reader serve each narrow file under the wide type
    * and null-fill columns a file predates — the widenedPhysicalSchema
    * discipline, and exactly how a spec reader serves Iceberg type
    * promotion. */
  private def explicitSchema(
      fields: Seq[(String, org.apache.spark.sql.types.DataType)])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(fields.map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt) })

  /** One snapshot's row-level changes (see [[icebergChangelog]]); None
    * when the snapshot changes nothing row-visible (a metadata-only
    * commit). */
  private def snapshotChangelog(spark: SparkSession, root: String,
      snap: SnapshotInfo, keys: Seq[String],
      entriesOf: Long => (Seq[(String, Long)], Seq[DeleteEntry]))
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    // canonical leg order: data columns, _change_type, stamps — the
    // file/pos/eq legs place _change_type differently and unionByName
    // keeps the FIRST frame's order, so without this reorder the same
    // call would return different column orders depending on which leg
    // kinds the range happened to contain
    def stamp(df: DataFrame): DataFrame = {
      val data = df.columns.filter(_ != "_change_type").map(col).toSeq
      df.select(data :+ col("_change_type") :+
        lit(snap.id).as("_commit_snapshot_id") :+
        lit(snap.seq).as("_sequence_number") :+
        lit(new java.sql.Timestamp(snap.ts)).as("_commit_timestamp"): _*)
    }
    requireParentRetained(root, snap)
    val parentOpt = snapshots(root).find(_.id == snap.parent)
    parentOpt match {
      case None =>
        // first snapshot: everything visible is an insert
        val (dataN, _) = entriesOf(snap.id)
        if (dataN.isEmpty) None
        else Some(stamp(
          readIcebergFiles(spark, root, dataN.map(_._1), Some(snap.id))
            .withColumn("_change_type", lit("insert"))))
      case Some(p) =>
        val (dataN, delsN) = entriesOf(snap.id)
        val (dataP, delsP) = entriesOf(p.id)
        val nPaths = dataN.map(_._1).toSet
        val pPaths = dataP.map(_._1).toSet
        val added = dataN.map(_._1).filterNot(pPaths).sorted
        val removed = dataP.map(_._1).filterNot(nPaths).sorted
        val carried = dataN.map(_._1).filter(pPaths).sorted
        val newEq = delsN.filter(_.content == 2)
          .filterNot(e => delsP.exists(_.path == e.path))
        require(newEq.isEmpty || (added.isEmpty && removed.isEmpty),
          s"icebergChangelog: snapshot ${snap.id} at $root combines a " +
            "file rewrite with new equality-delete files; their relative " +
            "order within one snapshot is not expressible in the chain — " +
            "read the snapshot states directly instead")

        // (1) file-level rewrite: keyed full-outer diff, churned files only
        val fileLevel: Option[DataFrame] =
          if (added.isEmpty && removed.isEmpty) None
          else {
            val pre0 =
              if (removed.isEmpty) None
              else Some(readIcebergFiles(spark, root, removed, Some(p.id)))
            val post0 =
              if (added.isEmpty) None
              else Some(readIcebergFiles(spark, root, added, Some(snap.id)))
            (pre0, post0) match {
              case (None, Some(post)) =>
                Some(post.withColumn("_change_type", lit("insert")))
              case (Some(pre), None) =>
                Some(pre.withColumn("_change_type", lit("delete")))
              case (Some(pre0), Some(post0)) =>
                val cols = post0.columns.toSeq
                require(keys.forall(k =>
                    cols.exists(_.equalsIgnoreCase(k))),
                  s"icebergChangelog keys ${keys.filterNot(k =>
                    cols.exists(_.equalsIgnoreCase(k)))} not in schema")
                val pre = pre0.withColumn("__pre", lit(true))
                val post = post0.withColumn("__post", lit(true))
                val cond = keys.map(k => pre(k) <=> post(k)).reduce(_ && _)
                val j = pre.join(post, cond, "full_outer")
                val same = cols.map(c => pre(c) <=> post(c)).reduce(_ && _)
                val preRow = struct(cols.map(c => pre(c).as(c)): _*)
                val postRow = struct(cols.map(c => post(c).as(c)): _*)
                Some(j
                  .filter(pre("__pre").isNull || post("__post").isNull || !same)
                  .select(explode(
                    when(pre("__pre").isNull, array(struct(
                      lit("insert").as("_change_type"), postRow.as("row"))))
                    .when(post("__post").isNull, array(struct(
                      lit("delete").as("_change_type"), preRow.as("row"))))
                    .otherwise(array(
                      struct(lit("update_preimage").as("_change_type"),
                        preRow.as("row")),
                      struct(lit("update_postimage").as("_change_type"),
                        postRow.as("row"))))).as("c"))
                  .select(col("c._change_type").as("_change_type"),
                    col("c.row.*")))
              case (None, None) => None
            }
          }

        // (2) position-delete diff on carried files: MOR deletes and
        // restores surface as (path, pos) set changes
        def posRows(dels: Seq[DeleteEntry]): Option[DataFrame] = {
          val files = dels.filter(_.content == 1).map(_.path).distinct
          if (files.isEmpty) None
          else Some(spark.read.parquet(files: _*)
            .select(RowDeletes.locationKey(col("file_path")).as("file_path"),
              col("pos")))
        }
        val posLevel: Option[DataFrame] = {
          val posN = posRows(delsN)
          val posP = posRows(delsP)
          if (posN.isEmpty && posP.isEmpty) None
          else {
            val emptyPos = spark.range(0)
              .select(lit("").as("file_path"), lit(0L).as("pos"))
            val n = posN.getOrElse(emptyPos)
            val pp = posP.getOrElse(emptyPos)
            val newDel = n.except(pp)
            val restored = pp.except(n)
            // which carried files do the diffs touch? O(files) driver sync
            val touched = newDel.union(restored)
              .select(col("file_path")).distinct()
              .collect().map(_.getString(0))
              .filter(f => carried.exists(c => RowDeletes.locationKey(c) == f))
              .sorted
            if (touched.isEmpty) None
            else {
              val rawFiles = carried.filter(c =>
                touched.contains(RowDeletes.locationKey(c)))
              val raw = chainScan(spark, root, rawFiles,
                schemaIdFieldsOf(root, currentSchemaId(root)),
                withIdentity = true)
              def tag(posSet: DataFrame, t: String): DataFrame =
                alignToCurrentSchema(root,
                  raw.join(posSet
                      .select(col("file_path").as("__dp"), col("pos").as("__dr")),
                    col("__p") === col("__dp") && col("__ri") === col("__dr"),
                    "left_semi"))
                  .withColumn("_change_type", lit(t))
              Some(tag(newDel, "delete").unionByName(tag(restored, "insert")))
            }
          }
        }

        // (3) new equality-delete files: parent-visible rows of
        // smaller-sequence data files matching the delete keys. The
        // per-delete-file semi-joins below can OVERLAP (one physical
        // row matched by two delete files, or by two key sets), so the
        // union dedupes on (file path, row index) identity — never on
        // row VALUES, which would collapse genuinely duplicate table
        // rows into a single delete record and break the row-for-row
        // Delta-cdc parity the q198 gate claims.
        val eqLevel: Option[DataFrame] =
          if (newEq.isEmpty) None
          else {
            val schemaId = snap.schemaId
            val idFieldsSnap = schemaIdFieldsOf(root, schemaId)
            val names = idFieldsSnap.map { case (id, n, _) => id -> n }.toMap
            val maxSeq = newEq.map(_.seq).max
            val scopedAll = dataN.filter(_._2 < maxSeq).map(_._1).sorted
            if (scopedAll.isEmpty) None
            else {
              // parent-visible rows of every scopable file, ONE scan,
              // with row identity carried; per-delete-file sequence
              // scoping becomes a filter on the broadcast-joined seq
              val curSchemaId = currentSchemaId(root)
              val raw = chainScan(spark, root, scopedAll,
                schemaIdFieldsOf(root, curSchemaId), withIdentity = true)
              import spark.implicits._
              val seqDf = dataN
                .map { case (pa, sq) => (RowDeletes.locationKey(pa), sq) }
                .toDF("__sc_path", "__sc_seq")
              val visAll = applyDeleteEntries(spark, root, curSchemaId,
                  raw, dataP, delsP)
                .withColumnRenamed("__p", "__id_p")
                .withColumnRenamed("__ri", "__id_r")
                .join(broadcast(seqDf),
                  col("__id_p") === col("__sc_path"), "inner")
              val parts = newEq.groupBy(_.equalityIds).toSeq.flatMap {
                case (ids, group) =>
                  val cols = ids.map(id => names.getOrElse(id,
                    throw new IllegalArgumentException(
                      s"equality_ids field $id not in schema $schemaId at $root")))
                  group.map { d =>
                    val keyFields = ids.map(id =>
                      idFieldsSnap.find(_._1 == id).get)
                    val delKeys =
                      readDeleteKeyColumns(spark, root, d.path, keyFields)
                      .select(cols.map(c => col(c).as(s"__eq_$c")): _*)
                      .distinct()
                    val cond = cols.map(c =>
                      visAll(c) <=> delKeys(s"__eq_$c")).reduce(_ && _)
                    visAll.filter(col("__sc_seq") < lit(d.seq))
                      .join(broadcast(delKeys), cond, "left_semi")
                  }
              }
              if (parts.isEmpty) None
              else Some(alignToCurrentSchema(root,
                  parts.reduce(_ unionByName _)
                    .dropDuplicates("__id_p", "__id_r"))
                .withColumn("_change_type", lit("delete")))
            }
          }

        val pieces = Seq(fileLevel, posLevel, eqLevel).flatten
        if (pieces.isEmpty) None
        else Some(stamp(pieces.reduce(
          _.unionByName(_, allowMissingColumns = true))))
    }
  }

  /** Align a raw carried-file scan to the current metadata schema (the
    * [[readIcebergFiles]] projection, shared). */
  private def alignToCurrentSchema(root: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fields = schemaFieldsOf(root, currentSchemaId(root))
    df.select(fields.map { case (n, dt) =>
      (if (df.columns.exists(_.equalsIgnoreCase(n))) col(n)
       else org.apache.spark.sql.functions.lit(null)).cast(dt).as(n)
    }: _*)
  }
}

package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/** ANALYZE TABLE for the planner: table-level row counts and per-column
  * NDV / min / max / null counts, persisted next to the table
  * (`_graft_stats.json`, atomic tmp+rename like every other commit
  * artifact) and attached to the read plan's `LogicalRelation` as
  * `CatalogStatistics` — exactly the shape Spark's cost-based optimizer
  * consumes (`spark.sql.cbo.enabled` + filter/join estimation +
  * `joinReorder`). With CBO off (the default) the attachment is inert:
  * `toPlanStats` falls back to size-only, so plans are bit-identical to
  * the un-analyzed read.
  *
  * STALENESS DISCIPLINE: stats record the VERSION they were computed at
  * and are attached only when the read serves that same version — a
  * commit silently un-arms them (re-run ANALYZE to re-arm) rather than
  * letting a delete's stale row count mis-estimate a join side. This is
  * stricter than Hive/Delta (which serve stale stats); the refusal
  * family this engine prefers.
  *
  * Scale shape: one aggregation pass over the table computes every
  * column's stats (approx_count_distinct = the same HLL Spark's own
  * ANALYZE uses); the result is a single small JSON on the driver.
  * Attachment is a cached file probe + an analyzed-plan transform. */
object TableStatistics {

  /** distinctCount/nullCount are Options: an append-advanced stat may
    * record a field as ABSENT (unknowable without a scan) rather than
    * serving a stale count. `hist` is a serialized equi-height
    * histogram ([[org.apache.spark.sql.catalyst.plans.logical
    * .HistogramSerializer]] base64) — computed when
    * `spark.sql.statistics.histogram.enabled` is set at ANALYZE time,
    * exactly Spark's own ANALYZE semantics; dropped on append-advance
    * (bin contents are unknowable without a scan). */
  final case class ColStat(distinctCount: Option[Long],
      nullCount: Option[Long],
      min: Option[String], max: Option[String],
      avgLen: Long, maxLen: Long,
      hist: Option[String] = None)

  final case class TableStats(version: Long, rowCount: Long,
      sizeInBytes: Long, cols: Map[String, ColStat])

  private def statsPath(root: String) = Paths.get(root, "_graft_stats.json")

  /** min/max are recorded only for types whose external string form
    * round-trips losslessly through CatalogColumnStat. */
  private def minMaxable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DoubleType |
         FloatType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  private def atomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | BinaryType => false
    case _ => true
  }

  /** Compute + persist statistics for the CURRENT version. `columns`
    * empty = all eligible (atomic) columns. Returns what was written. */
  def analyze(spark: SparkSession, root: String,
      columns: Seq[String] = Nil): TableStats = {
    import org.apache.spark.sql.functions._
    val v = LakehouseTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val df = LakehouseTable.read(spark, root, Some(v))
    val eligible = df.schema.fields.filter(f => atomic(f.dataType))
      .filter(f => columns.isEmpty ||
        columns.exists(_.equalsIgnoreCase(f.name)))
    val unknown = columns.filterNot(c =>
      df.schema.fields.exists(_.name.equalsIgnoreCase(c)))
    require(unknown.isEmpty,
      s"ANALYZE: column(s) ${unknown.mkString(", ")} not in the table at $root")
    // Equi-height histograms, gated exactly like Spark's own ANALYZE:
    // the percentile pass piggybacks on the main stats aggregation; the
    // per-bin NDV pass is one extra Aggregate (so histograms cost one
    // additional scan total, not one per column).
    val histEnabled = spark.conf
      .get("spark.sql.statistics.histogram.enabled", "false").toBoolean
    val numBins = spark.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    def histable(f: StructField): Boolean =
      minMaxable(f.dataType) && f.dataType != BooleanType
    val pcts = (0 to numBins).map(_.toDouble / numBins).toArray
    val aggs = Seq(count(lit(1)).as("__n")) ++ eligible.flatMap { f =>
      val c = col(f.name)
      Seq(approx_count_distinct(c).as(s"__ndv__${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nul__${f.name}")) ++
      (if (minMaxable(f.dataType))
         Seq(min(c).cast("string").as(s"__min__${f.name}"),
           max(c).cast("string").as(s"__max__${f.name}"))
       else Nil) ++
      (if (f.dataType == StringType)
         Seq(avg(length(c)).as(s"__avl__${f.name}"),
           max(length(c)).as(s"__mxl__${f.name}"))
       else Nil) ++
      (if (histEnabled && histable(f))
         Seq(percentile_approx(c.cast("double"), lit(pcts), lit(10000))
           .as(s"__pct__${f.name}"))
       else Nil)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def opt[T](name: String): Option[T] =
      if (!row.schema.fieldNames.contains(name)) None
      else {
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) None else Some(row.getAs[T](i))
      }
    val n = row.getAs[Long]("__n")
    // second histogram pass: per-bin NDV over the percentile endpoints
    // (Spark's ApproxCountDistinctForIntervals), ONE Aggregate plan for
    // every histogrammed column together
    val hists: Map[String, String] =
      if (!histEnabled) Map.empty
      else {
        import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, CreateArray, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals
        import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Histogram, HistogramBin, HistogramSerializer}
        val cands = eligible.filter(histable).flatMap { f =>
          Option(row.getAs[scala.collection.Seq[Double]](
              s"__pct__${f.name}"))
            .filter(_.length == numBins + 1).map(f -> _.toSeq)
        }
        if (cands.isEmpty) Map.empty
        else {
          val child = df.queryExecution.analyzed
          val ivAggs = cands.map { case (f, pts) =>
            val attr = child.output
              .find(_.name.equalsIgnoreCase(f.name)).getOrElse(
                throw new IllegalStateException(s"histogram: ${f.name}?"))
            Alias(ApproxCountDistinctForIntervals(
              Cast(attr, DoubleType),
              CreateArray(pts.map(p => Literal(p, DoubleType))), 0.05)
              .toAggregateExpression(), s"__iv__${f.name}")()
          }
          val r2 = org.apache.spark.sql.GraftStreamingShims
            .dataFrameFromPlan(spark, Aggregate(Nil, ivAggs, child))
            .collect()(0)
          cands.map { case (f, pts) =>
            val ndvs = r2.getAs[scala.collection.Seq[Long]](
              s"__iv__${f.name}")
            val nonNull = n - row.getAs[Long](s"__nul__${f.name}")
            val bins = pts.sliding(2).zip(ndvs.iterator).map {
              case (Seq(lo, hi), ndv) => HistogramBin(lo, hi, ndv)
            }.toArray
            f.name -> HistogramSerializer.serialize(
              Histogram(nonNull.toDouble / numBins, bins))
          }.toMap
        }
      }
    val cols = eligible.map { f =>
      val defaultLen = f.dataType.defaultSize.toLong
      val avgLen = opt[Double](s"__avl__${f.name}")
        .map(d => math.max(1L, math.round(d))).getOrElse(defaultLen)
      val maxLen = opt[Int](s"__mxl__${f.name}").map(_.toLong)
        .getOrElse(defaultLen)
      f.name -> ColStat(
        distinctCount = Some(row.getAs[Long](s"__ndv__${f.name}")),
        nullCount = Some(row.getAs[Long](s"__nul__${f.name}")),
        min = opt[String](s"__min__${f.name}"),
        max = opt[String](s"__max__${f.name}"),
        avgLen = avgLen, maxLen = maxLen,
        hist = hists.get(f.name))
    }.toMap
    val size = LakehouseTable.manifestFiles(root, v)
      .map(LakehouseTable.dataFileSize(root, _)).sum
    val stats = TableStats(v, n, math.max(size, 1L), cols)
    write(root, stats)
    stats
  }

  /** EXACT advance across a PURE APPEND, O(new files): the appended
    * files' row count, size, AND per-column min/max/null-count are all
    * in their parquet footers, so rowCount/sizeInBytes advance exactly
    * and every min/max-able column's range stats MERGE exactly instead
    * of un-arming — a continuously-appended table (every streaming
    * ingest target) keeps join-cardinality and filter-range estimation
    * armed across micro-batches. NDV advances to its exact upper bound
    * (see the inline note — Spark's filter estimation requires a
    * distinct count to use min/max at all). What is NOT knowable drops
    * HONESTLY: a column whose new-file chunks carry no usable stats
    * drops entirely, and string columns drop (their avgLen/NDV would
    * be stale).
    * Deletes/merges/overwrites still un-arm completely (their removed
    * row counts are not knowable from the commit alone). No-op unless
    * stats exist and were exact at the pre-append version — a
    * concurrent writer that slipped in between leaves them un-armed,
    * never wrong. */
  private[sources] def advanceForAppend(root: String, prevV: Long,
      newV: Long, newFiles: Seq[String]): Unit =
    statsOf(root).filter(_.version == prevV).foreach { st =>
      // a zero-row part file (an empty streaming micro-batch's output)
      // contributes nothing — its footer carries no column chunks, and
      // letting its empty cols map through would drop EVERY surviving
      // column stat for a no-op append
      val footers = newFiles.map(f => appendFooter(root, f))
        .filter(_.rows > 0)
      val addedRows = footers.map(_.rows).sum
      val addedBytes = newFiles.map(LakehouseTable.dataFileSize(root, _)).sum
      val cols = st.cols.flatMap { case (name, c) =>
        val perFile = footers.map(_.cols.get(name.toLowerCase))
        if (perFile.exists(_.isEmpty)) None // chunk missing/unusable
        else {
          val fs = perFile.flatten
          // every file's min/max contribution must be usable unless the
          // file holds no non-null values for the column at all
          if (fs.exists(f => f.minMax.isEmpty && !f.allNull)) None
          else {
            // external-string → comparable (booleans order false < true)
            def parseExt(s: String): Option[BigDecimal] = s match {
              case "true" => Some(BigDecimal(1))
              case "false" => Some(BigDecimal(0))
              case _ => scala.util.Try(BigDecimal(s)).toOption
            }
            val oldRange = c.min.zip(c.max).flatMap { case (lo, hi) =>
              parseExt(lo).zip(parseExt(hi)).map { case (l, h) =>
                (l, lo, h, hi)
              }
            }
            if (c.min.isDefined && oldRange.isEmpty) None // unorderable
            else {
              val ranges = oldRange.toSeq ++ fs.flatMap(_.minMax)
              // old stats had no range (all-null column) and footers add
              // none: min/max stay absent — still exact
              val (mn, mx) =
                if (ranges.isEmpty) (None, None)
                else
                  (Some(ranges.minBy(_._1)._2), Some(ranges.maxBy(_._3)._4))
              val nulls = c.nullCount.flatMap { old =>
                val per = fs.map(_.numNulls)
                if (per.exists(_.isEmpty)) None
                else Some(old + per.flatten.sum)
              }
              // NDV advances to its exact UPPER BOUND (old + appended
              // non-null rows, capped by row count) rather than dropping:
              // Spark's evaluateBinaryForNumeric gates on hasMinMaxStats
              // AND hasDistinctCount, so an absent NDV would disarm the
              // very filter-range estimation the min/max merge preserves.
              // A bound errs only toward SMALLER equality estimates and
              // is never stale-below-truth; ANALYZE restores a measured
              // value.
              val ndv = c.distinctCount.map { old =>
                val addedNulls = (nulls, c.nullCount) match {
                  case (Some(now), Some(was)) => now - was
                  case _ => 0L
                }
                math.min(old + math.max(addedRows - addedNulls, 0L),
                  st.rowCount + addedRows)
              }
              Some(name -> ColStat(distinctCount = ndv, nullCount = nulls,
                min = mn, max = mx, avgLen = c.avgLen, maxLen = c.maxLen))
            }
          }
        }
      }
      write(root, TableStats(newV, st.rowCount + addedRows,
        st.sizeInBytes + addedBytes, cols))
    }

  /** One footer column's append contribution: min/max as (BigDecimal
    * for ordering, external string for storage), null count when the
    * chunks report it, and whether every value is null. */
  private case class FooterCol(
      minMax: Option[(BigDecimal, String, BigDecimal, String)],
      numNulls: Option[Long], allNull: Boolean)
  private case class FooterFile(rows: Long, cols: Map[String, FooterCol])

  /** Read one appended file's footer stats for every min/max-able
    * column — the column-stat twin of parquetRecordCount, one footer
    * open per file. A column whose chunk stats are malformed (NaN,
    * unsupported physical type) is simply absent from the map. */
  private def appendFooter(root: String, rel: String): FooterFile = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val p = new org.apache.hadoop.fs.Path(
      Paths.get(root, "data").resolve(rel).toString)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p,
      new org.apache.hadoop.conf.Configuration()))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString.toLowerCase)
      val cols = byCol.flatMap { case (name, chunks) =>
        if (chunks.head.getPath.size() != 1) None // nested: not stat-able
        else {
          val scale = chunks.head.getPrimitiveType
            .getLogicalTypeAnnotation match {
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(d.getScale)
            case _ => None
          }
          // (comparable BigDecimal, external string) of one stat value
          def conv(v: Any): Option[(BigDecimal, String)] = v match {
            case b: java.lang.Boolean =>
              Some((BigDecimal(if (b) 1 else 0), b.toString))
            case l: java.lang.Long => scale match {
              case Some(s) =>
                val d = BigDecimal(l.longValue(), s); Some((d, d.toString))
              case None => Some((BigDecimal(l.longValue()), l.toString))
            }
            case i: java.lang.Integer => scale match {
              case Some(s) =>
                val d = BigDecimal(i.intValue(), s); Some((d, d.toString))
              case None => Some((BigDecimal(i.intValue()), i.toString))
            }
            case d: java.lang.Double =>
              if (d.isNaN || d.isInfinite) None
              else Some((BigDecimal(d.doubleValue()), d.toString))
            case f: java.lang.Float =>
              if (f.isNaN || f.isInfinite) None
              else Some((BigDecimal(f.floatValue().toDouble), f.toString))
            case b: org.apache.parquet.io.api.Binary if scale.isDefined =>
              val d = BigDecimal(new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), scale.get))
              Some((d, d.toString))
            case _ => None
          }
          val stats = chunks.map(_.getStatistics)
          if (stats.exists(s => s == null || s.isEmpty)) None
          else {
            val withVals = stats.filter(_.hasNonNullValue)
            val mm = {
              val mins = withVals.map(s => conv(s.genericGetMin))
              val maxs = withVals.map(s => conv(s.genericGetMax))
              if (withVals.isEmpty || mins.exists(_.isEmpty) ||
                  maxs.exists(_.isEmpty)) None
              else {
                val lo = mins.flatten.minBy(_._1)
                val hi = maxs.flatten.maxBy(_._1)
                Some((lo._1, lo._2, hi._1, hi._2))
              }
            }
            val nulls =
              if (stats.forall(_.isNumNullsSet))
                Some(stats.map(_.getNumNulls).sum)
              else None
            Some(name -> FooterCol(mm, nulls, allNull =
              stats.forall(!_.hasNonNullValue)))
          }
        }
      }
      FooterFile(rows, cols)
    } finally reader.close()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def write(root: String, st: TableStats): Unit = {
    val colsJson = st.cols.toSeq.sortBy(_._1).map { case (name, c) =>
      jstr(name) + ":{" +
        c.distinctCount.map(n => s""""ndv":$n,""").getOrElse("") +
        c.nullCount.map(n => s""""nulls":$n,""").getOrElse("") +
        c.min.map(m => s""""min":${jstr(m)},""").getOrElse("") +
        c.max.map(m => s""""max":${jstr(m)},""").getOrElse("") +
        c.hist.map(h => s""""hist":${jstr(h)},""").getOrElse("") +
        s""""avgLen":${c.avgLen},"maxLen":${c.maxLen}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"version":${st.version},"rowCount":${st.rowCount},""" +
      s""""sizeInBytes":${st.sizeInBytes},"cols":$colsJson}"""
    val p = statsPath(root)
    val tmp = Files.createTempFile(p.getParent, ".stats-tmp", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    cache.remove(root)
  }

  // (root → (file identity, parsed)) — the read path probes on every query
  private val cache = TrieMap.empty[String, (FileId, Option[TableStats])]

  /** Parsed stats if present (cached by file identity). */
  def statsOf(root: String): Option[TableStats] = {
    val p = statsPath(root)
    if (!Files.exists(p)) None
    else {
      val id = FileId(p)
      cache.get(root) match {
        case Some((cached, st)) if cached == id => st
        case _ =>
          val parsed = scala.util.Try {
            val n = mapper.readTree(Files.readString(p))
            val cols = n.get("cols").properties().asScala.map { e =>
              val c = e.getValue
              e.getKey -> ColStat(
                Option(c.get("ndv")).map(_.asLong()),
                Option(c.get("nulls")).map(_.asLong()),
                Option(c.get("min")).map(_.asText()),
                Option(c.get("max")).map(_.asText()),
                c.get("avgLen").asLong(), c.get("maxLen").asLong(),
                Option(c.get("hist")).map(_.asText()))
            }.toMap
            TableStats(n.get("version").asLong(), n.get("rowCount").asLong(),
              n.get("sizeInBytes").asLong(), cols)
          }.toOption
          cache.put(root, (id, parsed))
          parsed
      }
    }
  }

  /** Does this relation scan ONLY files under `root/data`? Stamping is
    * restricted to the table's data-file scan: a MOR read's plan also
    * carries the deletion-vector relation (applyDvs' anti-join side,
    * under root/deletes/ — or the Iceberg face's delete parquet under
    * root/metadata/), which must NOT inherit the table's rowCount —
    * CBO would size the anti-join's tiny side like the whole table and
    * mis-order every downstream join. dir-boundary match (prefix +
    * "/"), not a bare string prefix — a sibling dir extending the name
    * ("data_old") must not inherit the table's rowCount. */
  private def isDataScanUnder(root: String)(
      lr: LogicalRelation): Boolean = {
    val dataDir = Paths.get(root, "data").toUri.getPath.stripSuffix("/")
    lr.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.nonEmpty &&
          fs.location.rootPaths.forall { p =>
            val u = p.toUri.getPath
            u == dataDir || u.startsWith(dataDir + "/")
          }
      case _ => false
    }
  }

  /** Attach a TABLE-LEVEL rowCount to a foreign relation's data scan —
    * the number the log's add-action stats / the manifest list's row
    * counts already carry, so the attach costs ZERO data IO.
    * sizeInBytes comes from the scan's own file index (exact by
    * construction). No column stats: foreign logs carry no NDV, and
    * rowCount alone is what `cbo.joinReorder` needs to size a star
    * join's sides. Version-exact by construction — the count is
    * computed from the same pinned state the scan serves. Inert with
    * CBO off ([[attach]]'s toPlanStats note); callers gate on
    * `spark.sql.cbo.enabled` so the default path also skips the
    * count's own computation. */
  private[graft] def attachForeignRowCount(spark: SparkSession,
      df: DataFrame, root: String, rowCount: Long): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val withStats = analyzed.transform {
      case lr: LogicalRelation
          if lr.catalogTable.isEmpty && isDataScanUnder(root)(lr) =>
        lr.copy(catalogTable = Some(CatalogTable(
          identifier = TableIdentifier("graft_foreign_" +
            graft.plans.TextExpressions.md5Hex(root).take(12)),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(Paths.get(root).toUri)),
          schema = StructType(lr.output.map(a =>
            StructField(a.name, a.dataType, a.nullable))),
          provider = Some("parquet"),
          stats = Some(CatalogStatistics(
            sizeInBytes = BigInt(lr.relation.sizeInBytes),
            rowCount = Some(BigInt(rowCount)),
            colStats = Map.empty)))))
    }
    org.apache.spark.sql.GraftStreamingShims
      .dataFrameFromPlan(spark, withStats)
  }

  /** Attach persisted stats to `df`'s scan relation when they were
    * computed at exactly the version being read; identity otherwise. */
  private[graft] def attach(spark: SparkSession, df: DataFrame,
      root: String, v: Long): DataFrame =
    statsOf(root).filter(_.version == v) match {
      case None => df
      case Some(st) =>
        val colStats: Map[String, CatalogColumnStat] = st.cols.collect {
          case (name, c) =>
            name -> CatalogColumnStat(
              distinctCount = c.distinctCount.map(BigInt(_)),
              min = c.min, max = c.max,
              nullCount = c.nullCount.map(BigInt(_)),
              avgLen = Some(c.avgLen), maxLen = Some(c.maxLen),
              histogram = c.hist.map(org.apache.spark.sql.catalyst
                .plans.logical.HistogramSerializer.deserialize))
        }
        val catStats = CatalogStatistics(
          sizeInBytes = BigInt(st.sizeInBytes),
          rowCount = Some(BigInt(st.rowCount)),
          colStats = colStats)
        val analyzed = df.queryExecution.analyzed
        val withStats = analyzed.transform {
          case lr: LogicalRelation
              if lr.catalogTable.isEmpty && isDataScanUnder(root)(lr) =>
            lr.copy(catalogTable = Some(CatalogTable(
              identifier = TableIdentifier(
                "graft_" + graft.plans.TextExpressions.md5Hex(root).take(12)),
              tableType = CatalogTableType.EXTERNAL,
              storage = CatalogStorageFormat.empty.copy(
                locationUri = Some(Paths.get(root).toUri)),
              schema = StructType(lr.output.map(a =>
                StructField(a.name, a.dataType, a.nullable))),
              provider = Some("parquet"),
              stats = Some(catStats))))
        }
        org.apache.spark.sql.GraftStreamingShims
          .dataFrameFromPlan(spark, withStats)
    }
}

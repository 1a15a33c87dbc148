package org.apache.spark.sql.graft

import java.util.OptionalLong

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.FieldReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DSv2 scan machinery of the registered `graft` source — lives in
  * the `org.apache.spark.sql` namespace because it composes Spark's own
  * parquet DSv2 internals ([[ParquetScanBuilder]], [[InMemoryFileIndex]])
  * rather than re-implementing a columnar parquet reader: after graft's
  * bloom/zone/partition index pruning selects the FILE set, the scan IS
  * Spark's vectorized parquet scan over exactly those files — whole-stage
  * codegen, columnar batches, row-group pushdown and all. Every read of
  * a graft table — `spark.read.format("graft")`, the `USING graft` temp
  * view and the `graft` catalog — plans through this builder; only
  * writes and the streaming sink stay V1.
  *
  * Catalyst filters arrive verbatim ([[SupportsPushDownCatalystFilters]],
  * the same entry the file sources use), drive the index probes in their
  * translated `sources.Filter` form, and are ALL returned as residual —
  * Spark re-evaluates every predicate above the scan, so bloom false
  * positives stay invisible and pruning is strictly a file-skip
  * optimization. */
class GraftV2ScanBuilder(
    spark: SparkSession, table: String, version: Option[Long],
    tableSchema: StructType)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  // ONE version resolution per scan, at builder construction: an
  // unpinned read that re-resolved per probe (file list, DV presence,
  // DV mask, stats) would let a DML committing between two probes apply
  // a NEWER version's mask to an OLDER planned file list — worst case a
  // concurrent CoW/OPTIMIZE retires a masked file's entries and the
  // scan resurrects deleted rows. Every metadata probe below threads
  // this concrete snapshot, so file list + mask + stats always come
  // from the same committed version.
  private val snapshotVersion: Option[Long] =
    version.orElse(
      graft.sources.WarehouseFs.currentVersion(spark, table).map(_._1))

  // column mapping: `tableSchema` is LOGICAL (what users see); committed
  // files store PHYSICAL spellings. The delegate parquet machinery works
  // entirely in the physical domain (schemas, pushed filters, file
  // index), index probes take logical names (the probe leaves translate
  // themselves), and the final scan re-labels its output physical →
  // logical — a pure name change, zero-cost on rows and batches.
  private val l2p: Map[String, String] =
    graft.sources.WarehouseFs.pruneStaleMapping(spark, table, snapshotVersion,
      graft.sources.WarehouseFs.columnMapping(spark, table))
  private val p2l: Map[String, String] = l2p.map(_.swap)
  private def phys(n: String): String = l2p.getOrElse(n, n)
  private val physTableSchema: StructType =
    if (l2p.isEmpty) tableSchema
    else StructType(tableSchema.map(f => f.copy(name = phys(f.name))))
  private def physExprs(exprs: Seq[Expression]): Seq[Expression] =
    if (l2p.isEmpty) exprs
    else exprs.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if l2p.contains(a.name) =>
        a.copy(name = phys(a.name))(a.exprId, a.qualifier)
    })
  private def physStruct(s: StructType): StructType =
    if (l2p.isEmpty) s
    else StructType(s.map(f => f.copy(name = phys(f.name))))

  private var delegate: Option[ParquetScanBuilder] = None
  private var required: Option[StructType] = None
  private var pruneEvidence: (Int, Int) = (0, 0)
  private var filtered = false
  private var pushedAgg: Option[(StructType, InternalRow)] = None

  // ---- metadata-only COUNT(*) / MIN / MAX --------------------------------
  //
  // `SELECT COUNT(*), MIN(c), MAX(c) FROM t` on an unfiltered table
  // answers from COMMITTED metadata — zero data I/O on a 100 TB table:
  // the count from the stats relation, min/max from a fold of the
  // zone-map rows. Sound only when provably exact:
  // [[graft.sources.WarehouseFs.exactCommittedRowCount]] /
  // [[graft.sources.WarehouseFs.exactCommittedMinMax]] restrict the
  // answer to full-publish versions, whose metadata was derived from (or
  // compaction-copied content-identical to) exactly their own files; a
  // CoW version may carry prior metadata forward (`refreshStats =
  // false`) and scans instead. Spark only attempts aggregate pushdown
  // when no residual filter remains — and this builder reports EVERY
  // filter as residual — so a WHERE clause always scans.

  private sealed trait Need
  private case object RowCount extends Need
  private case class Lo(c: String) extends Need
  private case class Hi(c: String) extends Need

  private def aggFromStats(agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (filtered || agg.groupByExpressions().nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: FieldReference if f.fieldNames().length == 1 &&
          tableSchema.fieldNames.contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    val needs = agg.aggregateExpressions().map {
      case _: CountStar => Some(RowCount)
      case m: Min => colOf(m.column()).map(Lo)
      case m: Max => colOf(m.column()).map(Hi)
      case _ => None
    }
    if (needs.isEmpty || needs.exists(_.isEmpty)) return None
    val mmCols = needs.flatten.collect { case Lo(c) => c case Hi(c) => c }
      .distinct.toSeq
    val rowCount =
      if (!needs.flatten.contains(RowCount)) Some(0L)
      else graft.sources.WarehouseFs.exactCommittedRowCount(spark, table, snapshotVersion)
    val minMax =
      if (mmCols.isEmpty) Some(Map.empty[String, (Any, Any)])
      else graft.sources.WarehouseFs.exactCommittedMinMax(spark, table, mmCols, snapshotVersion)
    if (rowCount.isEmpty || minMax.isEmpty) return None
    def dt(c: String) = tableSchema(c).dataType
    def internal(v: Any, c: String): Any = {
      // a WIDENED column's committed zone rows may still carry the
      // narrower pre-widen type (int min/max under a bigint
      // declaration) — answer in the declared type via a catalyst
      // Cast instead of crashing the converter
      val lit = Literal(v)
      if (lit.dataType == dt(c))
        CatalystTypeConverters.createToCatalystConverter(dt(c))(v)
      else Cast(lit, dt(c), Some("UTC")).eval()
    }
    val fields = needs.flatten.map {
      case RowCount =>
        org.apache.spark.sql.types.StructField("count(*)",
          org.apache.spark.sql.types.LongType, nullable = false)
      case Lo(c) => org.apache.spark.sql.types.StructField(s"min($c)", dt(c))
      case Hi(c) => org.apache.spark.sql.types.StructField(s"max($c)", dt(c))
    }
    val values = needs.flatten.map {
      case RowCount => rowCount.get: Any
      case Lo(c) => internal(minMax.get(c)._1, c)
      case Hi(c) => internal(minMax.get(c)._2, c)
    }
    Some((StructType(fields.toSeq), InternalRow.fromSeq(values.toSeq)))
  }

  // Spark probes supportCompletePushDown then pushAggregation with the
  // SAME Aggregation; memoize so the metadata resolution (stats read +
  // zone fold job) runs once, not twice, per pushed aggregate
  private var aggMemo: (Aggregation, Option[(StructType, InternalRow)]) =
    (null, None)
  private def aggFromStatsMemo(agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (!(aggMemo._1 eq agg)) aggMemo = (agg, aggFromStats(agg))
    aggMemo._2
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggFromStatsMemo(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    aggFromStatsMemo(agg) match {
      case Some(sr) => pushedAgg = Some(sr); true
      case None => false
    }

  private var scanPartCols: Seq[String] = Nil
  private var scanRelFiles: Seq[String] = Nil

  // whether THIS version carries a deletion vector decides the scan
  // shape up front (the read schema gains the parquet row-index column
  // the per-task mask keys on) — one memoized metadata probe
  private lazy val dvActive: Boolean =
    graft.sources.WarehouseFs.hasDeletionVectors(spark, table, snapshotVersion)

  // the parquet readers GENERATE this column (true file row indexes,
  // row-group skipping accounted) when the read schema carries Spark's
  // temporary row-index name; it must be nullable so the requested-
  // schema clip treats it as OPTIONAL (the file itself never has it)
  // rather than erroring on a required-but-missing column
  private def rowIdxField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)

  private def withRowIdx(s: StructType): StructType =
    if (dvActive) StructType(s.fields :+ rowIdxField) else s

  private def mkDelegate(exprs: Seq[Expression]): ParquetScanBuilder = {
    val v1 = exprs.flatMap(e =>
      DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))
    val (point, ranges) = GraftV2ScanBuilder.indexProbes(v1.toArray)
    val (files, partCols, kept, total) =
      graft.sources.WarehouseFs.prunedFiles(spark, table, point, ranges, snapshotVersion)
        .getOrElse(throw new IllegalStateException(
          s"graft source: $table vanished between schema and scan"))
    pruneEvidence = (kept, total)
    scanPartCols = partCols
    scanRelFiles = files.map(_.stripPrefix(s"$table/"))
    val fileIndex =
      GraftV2ScanBuilder.fileIndex(spark, files, partCols, physTableSchema)
    val dataSchema =
      StructType(physTableSchema.filterNot(f => partCols.contains(f.name)))
    ParquetScanBuilder(spark, fileIndex, physTableSchema, withRowIdx(dataSchema),
      CaseInsensitiveStringMap.empty())
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    filtered = filters.nonEmpty
    val d = mkDelegate(filters)
    // the delegate splits partition vs data filters against the REAL
    // partition schema, translates, and pushes row-group filters into
    // parquet; its residual answer is ignored because we re-apply ALL
    d.pushFilters(physExprs(filters))
    required.foreach(r => d.pruneColumns(withRowIdx(physStruct(r))))
    delegate = Some(d)
    filters
  }

  override def pushedFilters: Array[Predicate] =
    delegate.map(_.pushedFilters).getOrElse(Array.empty)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
    delegate.foreach(_.pruneColumns(withRowIdx(physStruct(requiredSchema))))
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) => GraftStatsAggScan(table, schema, row)
    case None => buildFileScan()
  }

  private def buildFileScan(): Scan = {
    val d = delegate.getOrElse {
      val x = mkDelegate(Nil)
      required.foreach(r => x.pruneColumns(withRowIdx(physStruct(r))))
      delegate = Some(x); x
    }
    val parquetScan = d.build()
    // deletion-vector masking stays INSIDE the scan: the delegate reads
    // the parquet row-index column and [[GraftDvScan]] drops each file's
    // masked positions per task — bloom/zone file pruning, columnar
    // batches and committed stats all survive the MoR window
    val scan =
      if (!dvActive) parquetScan
      else {
        val full = parquetScan.readSchema()
        val idxPos = full.fieldIndex(rowIdxField.name)
        val mask = graft.sources.WarehouseFs
          .dvMaskForScan(spark, table, snapshotVersion, scanRelFiles)
          .getOrElse(Map.empty)
        GraftDvScan(parquetScan, full, idxPos, mask)
      }
    // committed table statistics ride into Catalyst when the scan is
    // UNPRUNED (a pruned scan's row count is unknown; its byte size from
    // the surviving files is already exact via the delegate)
    val committed =
      if (pruneEvidence._1 == pruneEvidence._2)
        graft.sources.WarehouseFs.readStats(spark, table, snapshotVersion)
      else None
    // storage-partitioned joins: a layout-partitioned table reports
    // KeyGroupedPartitioning so two co-partitioned graft tables joined
    // on their partition keys skip BOTH Exchanges. Double-gated — on
    // Spark's own SPJ switch (v2 bucketing) AND an explicit graft
    // opt-in — because honest key grouping costs scan-split freedom:
    // each partition value's files must land in ONE task group, so a
    // plain full scan of a table with few large partitions would lose
    // its parallelism. That is exactly Iceberg's posture
    // (`preserve-data-grouping`, default off): enable it for the
    // sessions running co-partitioned fact-fact joins, where one
    // eliminated shuffle dwarfs the grouped-scan cost.
    // SPJ composes with the MoR window since the grouped DV rework:
    // masked splits keep FilePartition grouping and regroup by partition
    // value WITH their per-split masks ([[GraftKeyedBatch]]), so a
    // deletion-vectored fact still joins its co-partitioned twin with
    // zero Exchanges
    val spjSchema =
      if (spark.sessionState.conf.v2BucketingEnabled && scanPartCols.nonEmpty &&
          spark.conf.getOption("spark.graft.planning.preserveDataGrouping")
            .exists(_.toBoolean))
        Some(StructType(scanPartCols.flatMap(c =>
          tableSchema.find(_.name == p2l.getOrElse(c, c)))))
      else None
    // runtime (DPP-style) file pruning: declare the columns the indexes
    // can prune on — partition-layout columns plus bloom/zone-indexed
    // ones — and re-run the SAME candidate resolution with the join's
    // runtime values. Over-declaring never mis-prunes (an unprunable
    // probe keeps every file); it only costs the broadcast reuse.
    val partColsNow = scanPartCols
    val filterable = () => {
      val (bloomCols, zoneCols, _) =
        graft.sources.WarehouseFs.versionMetadata(spark, table)
      // index metadata names PHYSICAL spellings; runtime-filter columns
      // are declared against the scan's (logical) output
      (partColsNow ++ bloomCols ++ zoneCols).distinct
        .map(c => p2l.getOrElse(c, c))
    }
    val relFilesNow = scanRelFiles
    val runtimePrune: (Map[String, Seq[Any]], Map[String, (Any, Any)]) => Option[(Set[String], Set[String])] =
      (point, ranges) => graft.sources.WarehouseFs
        .prunedFiles(spark, table, point, ranges, snapshotVersion)
        .map { case (files, _, _, _) =>
          (files.map(f => graft.sources.WarehouseFs
            .relUriSpelling(f.stripPrefix(s"$table/"))).toSet,
            relFilesNow.map(_.takeWhile(_ != '/')).toSet)
        }
    GraftMetaScan(scan, committed, tableSchema, spjSchema,
      filterable, runtimePrune, renames = p2l)
  }
}

object GraftV2ScanBuilder {
  /** (point-equality probes, bounded-range probes) extractable from the
    * pushed conjunction — ONLY top-level conjuncts participate (a
    * disjunction can't prune per-branch without union semantics), and
    * unsupported shapes simply don't prune. Shared by the scan builder
    * and the SQL DML translation; public so tests can pin the
    * translation. */
  def indexProbes(filters: Array[Filter])
      : (Map[String, Seq[Any]], Map[String, (Any, Any)]) = {
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    val flat = filters.flatMap {
      case And(l, r) => Seq(l, r)
      case f => Seq(f)
    }
    val point = flat.collect {
      case EqualTo(a, v) if v != null => a -> Seq(v)
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) => a -> vs.toSeq
    }.groupBy(_._1)
      // two point conjuncts on one column must BOTH hold → value-set ∩
      .map { case (c, ps) => c -> ps.map(_._2.toSet).reduce(_ intersect _).toSeq }
      .filter(_._2.nonEmpty)
    val los = flat.collect {
      case GreaterThan(a, v) => a -> v
      case GreaterThanOrEqual(a, v) => a -> v
      case EqualTo(a, v) if v != null => a -> v
    }.groupBy(_._1).map { case (c, vs) =>
      val bs = vs.map(_._2).toSeq; c -> bs.max(boundOrdering(bs)) }
    val his = flat.collect {
      case LessThan(a, v) => a -> v
      case LessThanOrEqual(a, v) => a -> v
      case EqualTo(a, v) if v != null => a -> v
    }.groupBy(_._1).map { case (c, vs) =>
      val bs = vs.map(_._2).toSeq; c -> bs.min(boundOrdering(bs)) }
    val ranges = los.keySet.intersect(his.keySet)
      .map(c => c -> ((los(c), his(c)))).toMap
    (point, ranges)
  }

  /** Tightest-bound selection among multiple inequality conjuncts on
    * one column happens in the VALUE's type — numerics numerically
    * (`id > 3 AND id > 25` probes lo = 25, not the lexicographic 3),
    * same-class `Comparable`s (strings, dates, timestamps) natively —
    * with a lexicographic last resort that is still safe: the chosen
    * bound is looser-or-equal and the exact filters re-apply above. */
  private def boundOrdering(vs: Seq[Any]): Ordering[Any] = {
    def num(a: Any): Option[BigDecimal] = a match {
      case n: java.lang.Number =>
        scala.util.Try(BigDecimal(n.toString)).toOption // NaN/Inf → None
      case _ => None
    }
    if (vs.forall(num(_).isDefined)) Ordering.by((a: Any) => num(a).get)
    else if (vs.map(_.getClass).distinct.size == 1 &&
             vs.head.isInstanceOf[Comparable[_]])
      new Ordering[Any] {
        def compare(x: Any, y: Any): Int =
          x.asInstanceOf[Comparable[Any]].compareTo(y)
      }
    else Ordering.by((_: Any).toString)
  }

  /** A [[PartitioningAwareFileIndex]] over an EXPLICIT file set.
    * Flat layouts list the files as roots (no partition discovery —
    * there is nothing to discover). Hive layouts get a hand-built
    * [[PartitionSpec]]: graft's CoW manifests can reference files across
    * several immutable version dirs, which Spark's base-path discovery
    * cannot express, but the partition values are pure path arithmetic
    * (`key=value` segments) so each file's parent dir becomes one
    * partition entry with values cast through the table schema's types. */
  def fileIndex(spark: SparkSession, files: Seq[String], partCols: Seq[String],
                tableSchema: StructType): InMemoryFileIndex = {
    // fully qualify (scheme + authority): the index's internal listing
    // keys partition dirs by QUALIFIED parent path, so unqualified
    // PartitionPath dirs would match zero files
    val hconf = spark.sessionState.newHadoopConf()
    val paths = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(hconf).makeQualified(p)
    }
    if (partCols.isEmpty)
      new InMemoryFileIndex(spark, paths, Map.empty[String, String], None)
    else {
      val partSchema = StructType(partCols.flatMap(c => tableSchema.find(_.name == c)))
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val partitions = paths.groupBy(_.getParent).toSeq
        .sortBy(_._1.toString)
        .map { case (dir, _) =>
          val segs = dir.toString.split('/')
          val values = partSchema.map { f =>
            val enc = segs.collectFirst {
              case s if s.startsWith(s"${f.name}=") => s.drop(f.name.length + 1)
            }.getOrElse(throw new IllegalStateException(
              s"graft source: file dir $dir does not encode partition ${f.name}"))
            val raw = ExternalCatalogUtils.unescapePathName(enc)
            if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else Cast(Literal.create(raw, StringType), f.dataType, tz).eval()
          }
          PartitionPath(InternalRow.fromSeq(values), dir)
        }
      new InMemoryFileIndex(spark, paths, Map.empty[String, String],
        userSpecifiedSchema = None,
        userSpecifiedPartitionSpec = Some(PartitionSpec(partSchema, partitions)))
    }
  }
}

/** The completely-pushed-down COUNT(*)/MIN/MAX: one driver-local row
  * carrying committed-metadata answers — `spark.table(t).count()` (or
  * an unfiltered min/max over a zone-mapped column) never opens a data
  * file. */
case class GraftStatsAggScan(table: String, schemaArg: StructType,
                             row: InternalRow) extends LocalScan {
  override def readSchema(): StructType = schemaArg
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String =
    s"graft agg-from-stats($table: ${schemaArg.fieldNames.mkString(", ")})"
}

/** Delegating scan carrying graft's COMMITTED metadata into Catalyst:
  *
  *   - statistics: the committed row count and per-column NDV / null
  *     count / min / max ([[graft.sources.WarehouseFs.readStats]])
  *     report through DSv2 [[Statistics.columnStats]] alongside the
  *     parquet scan's exact byte size, so CBO join reordering and
  *     broadcast decisions at 100× run on committed truth instead of
  *     compressed-byte guesses;
  *   - partitioning: when the session enables v2 bucketing, a
  *     layout-partitioned table reports [[KeyGroupedPartitioning]] over
  *     its partition columns and the batch regroups the parquet splits
  *     so each partition value's files form one keyed input partition
  *     ([[GraftKeyedBatch]]) — Spark's storage-partitioned-join
  *     machinery then elides BOTH Exchanges when two co-partitioned
  *     graft tables join on their partition keys, THE shuffle
  *     eliminator for fact-fact joins at 100 TB.
  *
  * Everything else — readers, columnar mode, metrics — is the
  * delegate's. */
case class GraftMetaScan(delegate: Scan,
                         committed: Option[graft.sources.WarehouseFs.TableStats],
                         tableSchema: StructType,
                         spjSchema: Option[StructType],
                         filterable: () => Seq[String] = () => Nil,
                         runtimePrune: (Map[String, Seq[Any]], Map[String, (Any, Any)]) => Option[(Set[String], Set[String])] = null,
                         renames: Map[String, String] = Map.empty)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  // under a column mapping the delegate reads PHYSICAL spellings; the
  // scan's contract with Spark is the LOGICAL names it was asked to
  // prune to — a pure re-label, rows and batches untouched
  override def readSchema(): StructType = {
    val s = delegate.readSchema()
    if (renames.isEmpty) s
    else StructType(s.map(f => f.copy(name = renames.getOrElse(f.name, f.name))))
  }
  override def description(): String = s"graft(${delegate.description()})"
  override def supportedCustomMetrics(): Array[CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()

  // ---- runtime (DPP-style) FILE pruning ---------------------------------
  //
  // Dynamic partition pruning, generalized to graft's file indexes: when
  // a broadcast join's build side resolves, Spark hands the join-key
  // values here ([[SupportsRuntimeV2Filtering]]) and the probe-side scan
  // re-prunes its FILE set through the same bloom/zone/partition probes
  // the planner used — a fact-dim join at 100 TB opens only the fact
  // files that might hold the dim's surviving keys, decided by metadata.
  // Strictly a file-skip optimization (bloom has no false negatives and
  // the join re-applies the condition), disabled under SPJ (the keyed
  // grouping pins its partition count at planning).

  /** (kept files, planned files) of the LAST runtime prune — test
    * observability. */
  @volatile var runtimeEvidence: Option[(Int, Int)] = None

  @volatile private var survivors: Option[(Set[String], Set[String])] = None

  // resolved LAZILY: the filterable-column set costs index-footer reads
  // (versionMetadata), which only a join shape the PartitionPruning rule
  // probes should ever pay — a plain scan build stays metadata-free
  private lazy val filterableCols: Seq[String] = filterable()

  override def filterAttributes(): Array[NamedReference] =
    if (spjSchema.isDefined || runtimePrune == null) Array.empty
    else filterableCols.map(Expressions.column).toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val point = GraftMetaScan.pointValuesOf(predicates)
    // range-shaped pruning rides the SAME zone maps the planner probes:
    // explicit comparison predicates contribute their bounds, and every
    // point-value set ALSO contributes its [min, max] span — a
    // zone-mapped (but bloom-unindexed) column then still skips files
    // whose zones miss the build side's value range entirely
    val ranges = GraftMetaScan.rangeBoundsOf(predicates) ++
      point.flatMap { case (c, vs) =>
        GraftMetaScan.spanOf(vs).map(c -> _)
      }
    if ((point.nonEmpty || ranges.nonEmpty) && runtimePrune != null)
      survivors = runtimePrune(point, ranges)
  }

  // one batch instance: outputPartitioning's partition count and
  // planInputPartitions' length must agree
  private lazy val keyedBatch: Option[GraftKeyedBatch] =
    spjSchema.map(ps => new GraftKeyedBatch(delegate.toBatch, ps))

  // memoized PER runtime-filter state: a toBatch call before filter()
  // must not freeze the unfiltered batch, and repeated calls after it
  // must not rebuild. The filtered batch reports its (kept, planned)
  // evidence from its OWN single planning pass — no second driver-side
  // re-plan of the inner batch, and no side effects in toBatch itself.
  @volatile private var builtFor: (Option[(Set[String], Set[String])], Batch) =
    null

  override def toBatch: Batch = keyedBatch.getOrElse(synchronized {
    val s = survivors
    if (builtFor == null || (builtFor._1 ne s)) {
      val b = s match {
        case Some((files, allDirs)) =>
          new GraftRuntimeFilteredBatch(delegate.toBatch, files, allDirs,
            onPlanned = (kept, total) => runtimeEvidence = Some((kept, total)))
        case None => delegate.toBatch
      }
      builtFor = (s, b)
    }
    builtFor._2
  })

  override def outputPartitioning(): Partitioning = keyedBatch match {
    case Some(kb) => new KeyGroupedPartitioning(
      spjSchema.get.fieldNames.map(Expressions.identity(_):
        org.apache.spark.sql.connector.expressions.Expression),
      kb.planInputPartitions().length)
    case None => new UnknownPartitioning(0)
  }

  override def estimateStatistics(): Statistics = {
    val base = delegate match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => null
    }
    new Statistics {
      // with committed stats, size is the MAX of two estimates — row
      // count × estimated width (Spark's 8 + defaultSize rule) and the
      // delegate's file bytes. Each signal alone can under-report in
      // the direction that mis-picks a broadcast build side: compressed
      // file bytes under-count an RLE-friendly 100M-row table (its
      // in-memory size follows cardinality), while defaultSize prices
      // every string at 20 bytes and under-counts a modest-row-count
      // table of wide blobs (100k rows × 10 KB strings ≈ 1 GB reported
      // as ~2.8 MB — a driver-OOM broadcast). Neither alone can
      // under-report the max
      override def sizeInBytes(): OptionalLong = committed match {
        case Some(s) =>
          val byRows = s.rowCount * (8L + tableSchema.defaultSize)
          val byFiles =
            if (base == null) OptionalLong.empty() else base.sizeInBytes()
          OptionalLong.of(
            if (byFiles.isPresent) math.max(byRows, byFiles.getAsLong)
            else byRows)
        case None =>
          if (base == null) OptionalLong.empty() else base.sizeInBytes()
      }
      override def numRows(): OptionalLong =
        committed.fold(OptionalLong.empty())(s => OptionalLong.of(s.rowCount))
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = {
        val m = new java.util.HashMap[NamedReference, ColumnStatistics]()
        for {
          ts <- committed
          cs <- ts.columns
          // stats sidecars may carry physical (publish-time profile) or
          // logical (post-rename ANALYZE) spellings — report logical
          logical = renames.getOrElse(cs.name, cs.name)
          f <- tableSchema.find(_.name == logical)
        } m.put(Expressions.column(logical),
          GraftMetaScan.columnStatistics(cs, ts.rowCount, f.dataType))
        m
      }
    }
  }
}

object GraftMetaScan {
  /** Extract column → point values from runtime V2 predicates: `IN` and
    * `=` shapes over a single column, literal values converted back to
    * their EXTERNAL Scala forms (the domain the index probes
    * canonicalize from). Anything else contributes nothing — runtime
    * pruning silently degrades to a no-op, never to a wrong skip. */
  private[graft] def pointValuesOf(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Map[String, Seq[Any]] = {
    import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue}
    def externalOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: LiteralValue[_] => Option(
        CatalystTypeConverters.convertToScala(l.value, l.dataType))
      case _ => None
    }
    predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" | "=" if kids.nonEmpty =>
          kids.head match {
            case f: FieldReference if f.fieldNames().length == 1 =>
              val vs = kids.tail.flatMap(externalOf)
              // every value must convert, or the probe would silently
              // narrow the match set
              if (vs.length == kids.length - 1 && vs.nonEmpty)
                Some(f.fieldNames()(0) -> vs.toSeq)
              else None
            case _ => None
          }
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)((a, b) => (a ++ b).distinct)
  }

  /** The [min, max] span of a point-value set, when its values carry a
    * usable ordering (every external form the index probes see — numbers,
    * strings, java.sql dates/timestamps — is Comparable). None otherwise:
    * a span-less set simply skips the zone probe, never mis-prunes. */
  private[graft] def spanOf(vs: Seq[Any]): Option[(Any, Any)] =
    if (vs.isEmpty) None
    else scala.util.Try {
      val ord = new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
      (vs.min(ord), vs.max(ord))
    }.toOption

  /** Column → closed [lo, hi] bounds from comparison-shaped runtime V2
    * predicates (`>`, `>=`, `<`, `<=` over one column and a literal,
    * either operand order). Only BOTH-bounded columns emit — the zone
    * probe needs a closed span — and bounds tighten conservatively
    * (max of lowers, min of uppers); strict comparisons widen to their
    * inclusive superset, which can only keep extra files. Unparseable
    * shapes contribute nothing. */
  private[graft] def rangeBoundsOf(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Map[String, (Any, Any)] = {
    import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue}
    val lows = scala.collection.mutable.Map.empty[String, Any]
    val highs = scala.collection.mutable.Map.empty[String, Any]
    def tighten(m: scala.collection.mutable.Map[String, Any], c: String,
                v: Any, keepGreater: Boolean): Unit =
      m.get(c) match {
        case None => m(c) = v
        case Some(prev) =>
          scala.util.Try(
            v.asInstanceOf[Comparable[Any]].compareTo(prev)).toOption match {
            case Some(cmp) if (cmp > 0) == keepGreater => m(c) = v
            case Some(_) => // prior bound already tighter
            case None => m.remove(c) // incomparable: drop the column, safe
          }
      }
    predicates.foreach { p =>
      val kids = p.children()
      if (kids.length == 2) {
        val parsed = (kids(0), kids(1)) match {
          case (f: FieldReference, l: LiteralValue[_])
              if f.fieldNames().length == 1 =>
            Some((f.fieldNames()(0), l, false))
          case (l: LiteralValue[_], f: FieldReference)
              if f.fieldNames().length == 1 =>
            Some((f.fieldNames()(0), l, true))
          case _ => None
        }
        val side = p.name() match {
          case ">" | ">=" => Some(true) // col > lit ⇒ lit is a lower bound
          case "<" | "<=" => Some(false)
          case _ => None // not a comparison: contributes nothing
        }
        for {
          (c, l, flipped) <- parsed
          colOnGreaterSide <- side.map(_ != flipped)
          v <- Option(CatalystTypeConverters.convertToScala(l.value, l.dataType))
        } {
          if (colOnGreaterSide) tighten(lows, c, v, keepGreater = true)
          else tighten(highs, c, v, keepGreater = false)
        }
      }
    }
    emitBoth(lows, highs)
  }

  private def emitBoth(lows: scala.collection.mutable.Map[String, Any],
                       highs: scala.collection.mutable.Map[String, Any])
      : Map[String, (Any, Any)] =
    lows.keySet.intersect(highs.keySet)
      .map(c => c -> (lows(c), highs(c))).toMap

  /** One committed column profile as DSv2 [[ColumnStatistics]]: NDV and
    * null count verbatim; min/max re-typed from their profiled string
    * forms through a UTC cast (CATALYST-internal values, as the
    * [[org.apache.spark.sql.catalyst.plans.logical.ColumnStat]]
    * conversion expects) — a value that does not round-trip its type
    * simply reports no bound, never a wrong one. */
  private[graft] def columnStatistics(
      cs: graft.sources.WarehouseFs.ColumnStats, rowCount: Long,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    def typed(s: Option[String]): java.util.Optional[Object] =
      s.flatMap { v =>
        scala.util.Try(Cast(Literal(v), dt, Some("UTC")).eval()).toOption
          .flatMap(Option(_))
      } match {
        case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
        case None => java.util.Optional.empty[Object]()
      }
    val minV = typed(cs.minStr)
    val maxV = typed(cs.maxStr)
    // ANALYZE-computed equi-height histogram (numeric columns): rides
    // through the same DSv2 colstats surface into Catalyst's ColumnStat,
    // where FilterEstimation prefers bins over min/max on skewed
    // predicates
    val histV: java.util.Optional[
        org.apache.spark.sql.connector.read.colstats.Histogram] =
      cs.histogram.filter(_.nonEmpty) match {
        case Some(bs) =>
          val binArr = bs.map { case (lo0, hi0, ndv0) =>
            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
              override def lo(): Double = lo0
              override def hi(): Double = hi0
              override def ndv(): Long = ndv0
            }
          }.toArray
          java.util.Optional.of(
            new org.apache.spark.sql.connector.read.colstats.Histogram {
              override def height(): Double =
                cs.nNonNull.toDouble / binArr.length
              override def bins(): Array[
                  org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                binArr
            })
        case None => java.util.Optional.empty()
      }
    new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
      override def distinctCount(): OptionalLong =
        cs.nDistinct.fold(OptionalLong.empty())(OptionalLong.of)
      override def nullCount(): OptionalLong =
        OptionalLong.of(math.max(0L, rowCount - cs.nNonNull))
      override def min(): java.util.Optional[Object] = minV
      override def max(): java.util.Optional[Object] = maxV
      override def histogram(): java.util.Optional[
          org.apache.spark.sql.connector.read.colstats.Histogram] = histV
    }
  }
}

/** A parquet batch regrouped on partition VALUES: every file of one
  * partition tuple lands in one [[HasPartitionKey]] input partition, so
  * the exec can key-group them for a storage-partitioned join. Readers
  * delegate to the parquet factory with the inner [[FilePartition]]
  * unwrapped — vectorized/columnar paths untouched. */
class GraftKeyedBatch(delegate: Batch,
                      partSchema: StructType) extends Batch {
  import org.apache.spark.sql.catalyst.util.InternalRowComparableWrapper
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.FilePartition

  private lazy val grouped: Array[InputPartition] = {
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    val raw = delegate.planInputPartitions()
    // flatten to (split, mask) pairs — clean splits carry a null mask,
    // masked partitions contribute their per-split arrays, and a shape
    // this regrouping doesn't know passes the whole plan through
    val pairs =
      scala.collection.mutable.ArrayBuffer.empty[(PartitionedFile, Array[Long])]
    var known = true
    raw.foreach {
      case g: GraftDvMaskedPartition =>
        g.delegate.files.indices.foreach(i =>
          pairs += ((g.delegate.files(i), g.masks(i))))
      case fp: FilePartition => fp.files.foreach(f => pairs += ((f, null)))
      case _ => known = false
    }
    if (!known) raw
    else {
      val types = partSchema.map(_.dataType)
      pairs
        .groupBy { case (f, _) =>
          new InternalRowComparableWrapper(f.partitionValues, types) }
        .toSeq.sortBy(_._2.head._1.urlEncodedPath)
        .zipWithIndex.map { case ((key, fs), i) =>
          val files = fs.map(_._1).toArray
          val masks = fs.map(_._2).toArray
          val inner: InputPartition =
            if (masks.forall(_ == null)) FilePartition(i, files)
            else GraftDvMaskedPartition(FilePartition(i, files), masks)
          GraftKeyedFilePartition(inner, key.row): InputPartition
        }.toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] = grouped

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = delegate.createReaderFactory()
    new PartitionReaderFactory {
      private def unwrap(p: InputPartition): InputPartition = p match {
        case k: GraftKeyedFilePartition => k.delegate
        case other => other
      }
      override def createReader(p: InputPartition) = inner.createReader(unwrap(p))
      override def createColumnarReader(p: InputPartition) =
        inner.createColumnarReader(unwrap(p))
      override def supportColumnarReads(p: InputPartition): Boolean =
        inner.supportColumnarReads(unwrap(p))
    }
  }
}

case class GraftKeyedFilePartition(
    delegate: org.apache.spark.sql.connector.read.InputPartition,
    key: InternalRow)
    extends org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

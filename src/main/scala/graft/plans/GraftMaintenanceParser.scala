package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType, TimestampType}

import graft.sources.WarehouseFs

/** Maintenance statements for graft tables — the surface a lakehouse
  * operator runs nightly, parsed AHEAD of Spark's grammar (none of
  * these words exist there, so nothing legal is shadowed; everything
  * else delegates verbatim):
  *
  * {{{
  *   OPTIMIZE graft.t                    -- fold a CoW chain / small files
  *                                          into one size-targeted full-
  *                                          publish version (indexes kept)
  *   OPTIMIZE graft.t ZORDER BY (a, b)   -- same fold, rows re-clustered
  *                                          on the Morton curve; zone maps
  *                                          rebuilt over (a, b)
  *   VACUUM graft.t [RETAIN 3 VERSIONS]  -- tighten retention + GC now
  *                                          (bare: the table's stored
  *                                          keepVersions governs)
  *   VACUUM graft.t RETAIN 7 DAYS        -- TIME retention: versions
  *                                          committed within the window
  *                                          survive regardless of count
  *                                          (also HOURS; commit instants
  *                                          from the manifest bodies)
  *   ANALYZE TABLE graft.t COMPUTE STATISTICS
  *                                       -- (re)profile committed stats
  *                                          (row count, per-column NDV/
  *                                          null/min/max) for the CBO —
  *                                          no rewrite; non-graft idents
  *                                          delegate to Spark's own verb
  *   DESCRIBE HISTORY graft.t            -- retained versions: commit
  *                                          time, manifest format, files,
  *                                          bytes
  *   DESCRIBE DETAIL graft.t             -- one-row operational summary:
  *                                          version, layout, indexes,
  *                                          retention, properties
  * }}}
  *
  * Identifiers resolve through the SAME mapping as the catalog
  * (`graft.ns.t` → `<warehouse>/ns/t`, via the registered catalog's
  * `warehouse` conf); a backtick-quoted single part is taken as a
  * direct table path, so API-published tables outside any catalog are
  * reachable too. Installed by [[graft.plans.GraftExtensions]]. */
class GraftMaintenanceParser(delegate: ParserInterface) extends ParserInterface {

  private val OptimizeZRe =
    """(?is)\s*OPTIMIZE\s+(.+?)\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\)\s*;?\s*""".r
  private val OptimizeWhereRe =
    """(?is)\s*OPTIMIZE\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(.+?)\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(.+?)\s+RETAIN\s+(\d+)\s+VERSIONS(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val VacuumTimeRe =
    """(?is)\s*VACUUM\s+(.+?)\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(DAYS?|HOURS?)(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val VacuumDryRe =
    """(?is)\s*VACUUM\s+(.+?)\s+DRY\s+RUN\s*;?\s*""".r
  private val VacuumDefaultRe =
    """(?is)\s*VACUUM\s+(.+?)\s*;?\s*""".r
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+(.+?)\s+COMPUTE\s+STATISTICS\s*(?:FOR\s+ALL\s+COLUMNS\s*)?;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+([A-Za-z_]\w*)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+([A-Za-z_]\w*)\s*;?\s*""".r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+(?:PARQUET\s*\.\s*)?(.+?)\s*;?\s*""".r
  private val ReindexRe =
    """(?is)\s*REINDEX\s+TABLE\s+(.+?)((?:\s+BLOOM\s*\([^)]*\)|\s+ZONE\s*\([^)]*\)|\s+STATS)*)\s*;?\s*""".r
  private val ReindexBloomRe = """(?is)BLOOM\s*\(([^)]*)\)""".r
  private val ReindexZoneRe = """(?is)ZONE\s*\(([^)]*)\)""".r
  private val ReindexStatsRe = """(?is)\bSTATS\b""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(.+?)\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+(.+?)\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    // Delta ships the same `OPTIMIZE [… ZORDER BY | … WHERE]` / `RESTORE
    // TABLE` spellings: claim them only for graft catalog identifiers or
    // a direct-path (single-part) identifier, and DELEGATE explicitly on
    // a failed claim — a guard-only `case … if` would fall through to the
    // broader OPTIMIZE pattern below, whose lazy `(.+?)` swallows the
    // clause into the identifier and errors in graft code instead of
    // reaching the co-installed extension's parser
    case OptimizeZRe(ident, cols) =>
      if (graftClaim(ident)) GraftOptimizeCommand(tablePath(ident),
        cols.split(',').map(c => c.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq)
      else delegate.parsePlan(sqlText)
    case OptimizeWhereRe(ident, cond) =>
      if (graftClaim(ident)) GraftOptimizePartitionCommand(tablePath(ident), cond)
      else delegate.parsePlan(sqlText)
    case OptimizeRe(ident) =>
      if (graftClaim(ident)) GraftOptimizeCommand(tablePath(ident))
      else delegate.parsePlan(sqlText)
    case VacuumRe(ident, n, dry) =>
      GraftVacuumCommand(tablePath(ident), Some(n.toInt), dryRun = dry != null)
    case VacuumTimeRe(ident, n, unit, dry) =>
      val days =
        if (unit.toUpperCase.startsWith("HOUR")) n.toDouble / 24.0
        else n.toDouble
      GraftVacuumCommand(tablePath(ident), None, Some(days), dryRun = dry != null)
    case VacuumDryRe(ident) =>
      GraftVacuumCommand(tablePath(ident), None, dryRun = true)
    case VacuumDefaultRe(ident) => GraftVacuumCommand(tablePath(ident), None)
    // ANALYZE exists in Spark's own grammar — claim it ONLY for graft
    // catalog identifiers; everything else parses through the delegate
    // untouched (the session catalog's ANALYZE keeps working)
    case AnalyzeRe(ident) if graftIdent(ident) =>
      GraftAnalyzeCommand(tablePath(ident))
    // ANSI constraint DDL as sugar over the `check.<name>` property —
    // claimed only for graft catalog identifiers (Spark's own grammar
    // keeps every other table)
    case AddConstraintRe(ident, name, expr) if graftIdent(ident) =>
      GraftAddConstraintCommand(tablePath(ident), name, expr.trim)
    case DropConstraintRe(ident, name) if graftIdent(ident) =>
      GraftDropConstraintCommand(tablePath(ident), name)
    case RestoreRe(ident, v) if graftClaim(ident) =>
      GraftRestoreCommand(tablePath(ident), Left(v.toLong))
    case RestoreTsRe(ident, ts) if graftClaim(ident) =>
      GraftRestoreCommand(tablePath(ident), Right(ts))
    case ConvertRe(ident) if graftClaim(ident) =>
      GraftConvertCommand(tablePath(ident))
    case ReindexRe(ident, opts) =>
      def cols(re: scala.util.matching.Regex): Seq[String] =
        re.findFirstMatchIn(opts).map(_.group(1).split(',')
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil)
      GraftReindexCommand(tablePath(ident),
        cols(ReindexBloomRe), cols(ReindexZoneRe),
        ReindexStatsRe.findFirstIn(opts).isDefined)
    case HistoryRe(ident) => GraftDescribeHistoryCommand(tablePath(ident))
    case DetailRe(ident) => GraftDescribeDetailCommand(tablePath(ident))
    case _ => delegate.parsePlan(sqlText)
  }

  /** [[graftIdent]] OR the documented direct-path form (a single-part,
    * usually backtick-quoted, identifier naming a table directory) —
    * the claim gate for statements another extension (Delta) also
    * parses: a multipart identifier outside every graft catalog falls
    * through to the delegate instead of erroring in graft code. */
  private def graftClaim(identText: String): Boolean =
    graftIdent(identText) ||
      (try delegate.parseMultipartIdentifier(identText).length == 1
       catch { case _: Exception => false })

  /** Does `identText` name a table of a REGISTERED graft catalog?
    * (The gate for shadowing statements Spark's own grammar also has.) */
  private def graftIdent(identText: String): Boolean =
    try {
      val parts = delegate.parseMultipartIdentifier(identText)
      parts.length > 1 && SparkSession.active.conf
        .getOption(s"spark.sql.catalog.${parts.head}")
        .contains(classOf[graft.sources.GraftCatalog].getName)
    } catch { case _: Exception => false }

  /** `graft.ns.t` (a registered graft catalog) → warehouse path;
    * anything else joins as a direct path (backticks supported). */
  private def tablePath(identText: String): String = {
    val parts = delegate.parseMultipartIdentifier(identText)
    val conf = SparkSession.active.conf
    val catKey = s"spark.sql.catalog.${parts.head}"
    conf.getOption(catKey) match {
      case Some(cls) if cls == classOf[graft.sources.GraftCatalog].getName
          && parts.length > 1 =>
        val wh = conf.getOption(s"$catKey.warehouse").getOrElse(
          throw new IllegalArgumentException(
            s"graft maintenance: catalog '${parts.head}' is a graft " +
              s"catalog but $catKey.warehouse is not set — configure the " +
              "warehouse directory before OPTIMIZE/VACUUM/DESCRIBE HISTORY"))
        (wh +: parts.tail).mkString("/")
      // a multipart identifier whose head names a DIFFERENT registered
      // catalog (e.g. a Delta table when both extensions are installed)
      // must not silently fall through to a literal-path resolution —
      // the eventual "not a versioned table" error would point nowhere
      case Some(other) if parts.length > 1 =>
        throw new UnsupportedOperationException(
          s"graft maintenance: ${parts.mkString(".")} resolves through " +
            s"catalog '${parts.head}' ($other), which is not a graft " +
            "catalog — OPTIMIZE/VACUUM/DESCRIBE HISTORY apply to graft " +
            "tables (or a backtick-quoted direct table path) only")
      case _ => parts.mkString("/")
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** `OPTIMIZE t` → [[graft.operators.ScaleJoins.compactParquet]]: reads
  * the resolved current version (carried CoW files included), rewrites
  * it size-targeted into one full-publish version (every file in its
  * own dir, no mask) with the prior version's
  * bloom/zone/stats metadata preserved, CAS-pinned against concurrent
  * DML. `OPTIMIZE t ZORDER BY (c1[, c2…])` →
  * [[graft.operators.ScaleJoins.zOrderCompact]]: same rewrite, rows
  * re-clustered along the Morton curve of the named columns, zone maps
  * REBUILT to cover them (tight per-file min/max is the point — a
  * DML-scattered zone-mapped table gets its range pruning back).
  * Returns (new_version, partitions). */
case class GraftOptimizeCommand(path: String, zorderBy: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("partitions", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // fail BEFORE mutating: compactParquet also handles plain dirs, but
    // the SQL surface promises versioned semantics (a new version row)
    require(WarehouseFs.currentVersion(spark, path).isDefined,
      s"OPTIMIZE: $path is not a versioned table")
    // the table's STORED retention governs the fold's GC — an OPTIMIZE
    // defaulting to 2 would silently expire versions the table asked
    // to keep (the same rule every DML write path follows)
    val keep = graft.sources.GraftCatalog.keepVersionsOf(
      graft.sources.GraftCatalog.readProps(spark, path))
    val parts =
      if (zorderBy.isEmpty)
        graft.operators.ScaleJoins.compactParquet(spark, path,
          keepVersions = keep)
      else graft.operators.ScaleJoins.zOrderCompact(spark, path, zorderBy,
        keepVersions = keep)
    val v = WarehouseFs.currentVersion(spark, path).map(_._1).get
    Seq(Row(v, parts))
  }
}

/** `VACUUM t [RETAIN n VERSIONS | RETAIN n DAYS/HOURS]` →
  * [[WarehouseFs.vacuum]]. Without a RETAIN clause the table's own
  * stored `keepVersions` + `keepDays` govern (the retention every write
  * path already honors — a bare VACUUM is "GC to my declared window
  * NOW", never a surprise tightening). Mixed semantics are a UNION —
  * the stricter rule wins: `RETAIN n VERSIONS` keeps the newest n AND
  * whatever the stored `keepDays` window keeps; `RETAIN n DAYS` keeps
  * the window AND whatever the stored `keepVersions` count keeps. A
  * compaction storm of k versions inside a time window therefore GCs
  * nothing — that is the point of time retention. Returns the retained
  * version numbers. */
case class GraftVacuumCommand(path: String, keep: Option[Int],
                              retainDays: Option[Double] = None,
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(
      AttributeReference("would_delete", StringType, nullable = false)())
    else Seq(
      AttributeReference("retained_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val n = keep.getOrElse(graft.sources.GraftCatalog.keepVersionsOf(
      graft.sources.GraftCatalog.readProps(spark, path)))
    if (dryRun)
      // `VACUUM … DRY RUN`: what the same rules WOULD delete — nothing is
      WarehouseFs.vacuumDryRun(spark, path, n, retainDays).map(Row(_))
    else {
      WarehouseFs.vacuum(spark, path, n, retainDays)
      WarehouseFs.listVersions(spark, path).map(Row(_))
    }
  }
}

/** `ANALYZE TABLE graft.t COMPUTE STATISTICS` →
  * [[WarehouseFs.refreshCommittedStats]]: one aggregation pass over the
  * current version's LOGICAL content (masked rows excluded) rewrites
  * the `_stats` sidecar the DSv2 scan reports to the CBO — the verb
  * that un-stales stats after `refreshStats = false` DML chains and
  * deletion-vector commits, without a data rewrite. */
case class GraftAnalyzeCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("row_count", LongType, nullable = false)(),
    AttributeReference("columns", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val stats = WarehouseFs.refreshCommittedStats(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"ANALYZE: $path is not a versioned table"))
    val v = WarehouseFs.currentVersion(spark, path).map(_._1).getOrElse(0L)
    Seq(Row(v, stats.rowCount, stats.columns.size))
  }
}

/** `DESCRIBE DETAIL t` — the one-row operational summary of a
  * versioned table: current version + commit instant, manifest format,
  * resolved file count/bytes, layout partition columns, index and
  * stats coverage, retained version window, stored properties.
  * Metadata-only (manifest parses + one listing), no data I/O. */
case class GraftDescribeDetailCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("bloom_index_columns", StringType, nullable = false)(),
    AttributeReference("zone_map_columns", StringType, nullable = false)(),
    AttributeReference("has_stats", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    // rows masked by the current version's deletion vector — 0 in the
    // steady state; the OPTIMIZE-cadence signal beside the span count
    AttributeReference("masked_rows", LongType, nullable = false)(),
    // length of the carried delta chain (sidecar FILES the manifest
    // references) — each merge-on-read commit appends one; the fold
    // consolidates. A long chain with few masked rows means many tiny
    // mask reads per scan: the second OPTIMIZE signal
    AttributeReference("dv_delta_files", IntegerType, nullable = false)(),
    AttributeReference("retained_versions", IntegerType, nullable = false)(),
    // the time-travel floor: a compliance reader checks THIS instant
    // against its retention requirement, not the version count
    AttributeReference("oldest_retained_at", TimestampType, nullable = false)(),
    // active logical→physical renames (empty = files store the logical
    // spellings) and declared row constraints — the two metadata layers
    // a reader can't infer from the files
    AttributeReference("column_mapping", StringType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val hist = WarehouseFs.describeHistory(spark, path)
    require(hist.nonEmpty,
      s"DESCRIBE DETAIL: $path is not a versioned table (or has no " +
        "retained versions)")
    val (v, ts, _, fmt, nf, bytes, _, _) = hist.last
    val (bloom, zone, hasStats) = WarehouseFs.versionMetadata(spark, path)
    val partCols = WarehouseFs.layoutPartitionCols(spark, path)
    val props = graft.sources.GraftCatalog.readProps(spark, path)
      .toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
      .mkString(",")
    val mapping = WarehouseFs.columnMapping(spark, path)
      .toSeq.sorted.map { case (l, ph) => s"$l->$ph" }.mkString(",")
    val checks = WarehouseFs.storedChecks(spark, path)
      .map { case (n, e) => s"$n: $e" }.mkString("; ")
    Seq(Row(path, fmt, v, ts, nf, bytes, partCols.mkString(","),
      bloom.mkString(","), zone.mkString(","), hasStats,
      WarehouseFs.deletionVectorRows(spark, path),
      WarehouseFs.deletionVectorDeltaFiles(spark, path), hist.size,
      hist.head._2, mapping, checks, props))
  }
}

/** `DESCRIBE HISTORY t` → [[WarehouseFs.describeHistory]], each row
  * stamped with the VERB that committed it ([[WarehouseFs.commitOperation]]
  * — "full", "append", "delete", "merge", "restore", …; "-" for
  * pre-`op:` manifests): the provenance that answers "which commit was
  * the bad DML" before a RESTORE. `format` is always `file-list`, the
  * one manifest format; the column stays so the result schema does not
  * change. */
case class GraftDescribeHistoryCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    // the idempotent-writer stamp ("<appId>#<batchId>", "-" when none):
    // which stream landed this commit, and which micro-batch — the
    // exactly-once provenance beside the verb
    AttributeReference("txn", StringType, nullable = false)(),
    AttributeReference("data_dir", StringType, nullable = false)(),
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("files", IntegerType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rows = WarehouseFs.describeHistory(spark, path)
    require(rows.nonEmpty,
      s"DESCRIBE HISTORY: $path is not a versioned table (or has no " +
        "retained versions)")
    rows.map { case (v, ts, dir, fmt, nf, bytes, op, txn) =>
      Row(v, ts, op, txn, dir, fmt, nf, bytes)
    }
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` — ANSI sugar over
  * the `check.<name>` table property: validates the table's EXISTING
  * rows in one aggregated pass (a contradicting declaration refuses
  * loudly and persists nothing), then stores the expression; every
  * subsequent write path enforces it pre-commit
  * ([[WarehouseFs.storedChecks]]). */
case class GraftAddConstraintCommand(path: String, name: String,
                                     expr: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val bad = WarehouseFs.validateChecks(spark, path, Seq((name, expr)))
    require(bad.isEmpty,
      s"ADD CONSTRAINT: '$name' ($expr) is violated by existing rows of " +
        s"$path — fix the data first; nothing was persisted")
    graft.sources.GraftCatalog.writeProps(spark, path,
      graft.sources.GraftCatalog.readProps(spark, path) +
        (s"check.$name" -> expr))
    Nil
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — removes the stored check;
  * unknown names refuse (a typo'd drop that "succeeds" would leave the
  * constraint silently enforced). */
case class GraftDropConstraintCommand(path: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val props = graft.sources.GraftCatalog.readProps(spark, path)
    require(props.keys.exists(_.equalsIgnoreCase(s"check.$name")),
      s"DROP CONSTRAINT: no constraint '$name' on $path")
    graft.sources.GraftCatalog.writeProps(spark, path,
      props.filter { case (k, _) => !k.equalsIgnoreCase(s"check.$name") })
    Nil
  }
}

/** `CONVERT TO GRAFT [parquet.]`/path`` (or a graft catalog identifier
  * naming a warehouse subdirectory) → [[WarehouseFs.convertToGraft]]:
  * adopt an existing plain-parquet directory as a versioned table at
  * zero data I/O — version 1 references the files where they already
  * live. Returns (version, files adopted). */
case class GraftConvertCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = WarehouseFs.convertToGraft(spark, path)
    val n = WarehouseFs.describeHistory(spark, path).last._5
    Seq(Row(v, n))
  }
}

/** `REINDEX TABLE t [BLOOM (c1, c2)] [ZONE (c3)] [STATS]` →
  * [[WarehouseFs.reindexCurrentVersion]]: bloom/zone/stats sidecars for
  * the CURRENT version from one read-only scan — no data rewrite. The
  * step-2 upgrade after `CONVERT TO GRAFT` (the adoption manifest
  * carries no metadata; REINDEX gives the converted 100 TB directory
  * point-lookup pruning and CBO statistics at metadata cost, where
  * OPTIMIZE would rewrite everything it adopted), and the rebuild verb
  * for a bloom index invalidated by a float→double widen. Bare form
  * refreshes the coverage the version already carries. */
case class GraftReindexCommand(path: String, bloom: Seq[String],
                               zone: Seq[String], withStats: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("bloom_columns", StringType, nullable = false)(),
    AttributeReference("zone_columns", StringType, nullable = false)(),
    AttributeReference("stats", org.apache.spark.sql.types.BooleanType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, b, z, s) = WarehouseFs.reindexCurrentVersion(
      spark, path, bloom, zone, withStats)
    Seq(Row(v, b.mkString(","), z.mkString(","), s))
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` (or `TO TIMESTAMP AS OF 'ts'`,
  * resolved against manifest commit instants) →
  * [[WarehouseFs.restoreVersion]]: one new commit re-pointing at the
  * retained target version's files and masks — zero data I/O, the
  * rollback verb for a bad DML. Honors the table's stored retention. */
case class GraftRestoreCommand(path: String, target: Either[Long, String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = target match {
      case Left(n) => n
      case Right(ts) =>
        val ms = graft.streaming.CdfSource.parseInstantMillis(ts)
        WarehouseFs.versionAtTimestamp(spark, path, ms).getOrElse(
          throw new IllegalArgumentException(
            s"RESTORE: no version of $path existed at '$ts' (before " +
              "creation, or past the retention window)"))
    }
    val keep = graft.sources.GraftCatalog.keepVersionsOf(
      graft.sources.GraftCatalog.readProps(spark, path))
    WarehouseFs.restoreVersion(spark, path, v, keep)
    Seq(Row(v, WarehouseFs.currentVersion(spark, path).get._1))
  }
}

/** `OPTIMIZE t WHERE partCol = v [AND …]` →
  * [[WarehouseFs.compactPartition]]: partition-scoped small-file fold —
  * one CoW commit rewriting only the matching layout partitions, the
  * rest carried by reference. The condition is a conjunction of
  * `column = literal` equalities over layout partition columns (string
  * literals quoted, numbers/dates bare or quoted — values canonicalize
  * through the column's type). Returns (new_version, partitions) —
  * `partitions` is the fold's shuffle width (a partitioned layout may
  * fan each task across several partition dirs), matching OPTIMIZE. */
case class GraftOptimizePartitionCommand(path: String, cond: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("partitions", IntegerType, nullable = false)())
  private val EqRe =
    """\s*`?([\w.]+)`?\s*=\s*(?:'([^']*)'|([\w.\-]+))\s*""".r
  override def run(spark: SparkSession): Seq[Row] = {
    val spec: Map[String, Any] = cond.split("(?i)\\s+AND\\s+").toSeq.map {
      case EqRe(c, quoted, bare) =>
        c -> (if (quoted != null) quoted else bare): (String, Any)
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE … WHERE takes a conjunction of column = literal " +
          s"equalities over partition columns, got: '$other'")
    }.toMap
    val keep = graft.sources.GraftCatalog.keepVersionsOf(
      graft.sources.GraftCatalog.readProps(spark, path))
    val written = WarehouseFs.compactPartition(spark, path, spec,
      keepVersions = keep)
    Seq(Row(WarehouseFs.currentVersion(spark, path).get._1, written))
  }
}

package graft.sources

import java.util

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 [[TableCatalog]] over a warehouse directory of versioned graft
  * tables — the piece that makes the engine reachable from STANDARD SQL:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  * CREATE TABLE graft.tx (id BIGINT, v STRING) PARTITIONED BY (day)
  * INSERT INTO graft.tx SELECT …                  -- append-only commit
  * INSERT OVERWRITE graft.tx SELECT …             -- new full version
  * CREATE TABLE graft.agg AS SELECT …             -- CTAS
  * SELECT * FROM graft.tx WHERE id = 42           -- bloom/zone-pruned DSv2 scan
  * SELECT * FROM graft.tx VERSION AS OF 3         -- manifest time travel
  * SELECT * FROM graft.tx TIMESTAMP AS OF '…'     -- commit-time resolution
  * MERGE INTO graft.tx USING s ON … WHEN MATCHED … -- CoW DML (GraftDml)
  * }}}
  *
  * Identifiers map to paths: `graft.ns.t` → `<warehouse>/ns/t`; a table
  * EXISTS iff its dir holds a committed `_versions` manifest, so tables
  * published through [[WarehouseFs]] directly are visible with no
  * registration step (and vice versa — catalog writes are plain
  * versioned tables).
  *
  * Reads resolve through the same DSv2 scan as `spark.read.format
  * ("graft")` (index-pruned file set → Spark's vectorized parquet scan,
  * committed stats reported to Catalyst). Writes go through the V1 write
  * fallback ([[V1Write]] — the JDBC-catalog posture): INSERT INTO lands
  * as an append-only CoW commit (zero files rewritten,
  * [[WarehouseFs.appendRows]]), INSERT OVERWRITE / truncate as a full
  * [[WarehouseFs.publishVersioned]] that re-applies the table's stored
  * partitioning and index properties. Row-level MERGE / UPDATE / DELETE
  * are translated by the [[graft.plans.GraftExtensions]] resolution rule
  * onto the CoW verbs.
  *
  * Table properties understood at CREATE (stored in `_meta/props`, a
  * tiny k=v sidecar): `bloomIndexCols`, `zoneMapCols` (comma-lists),
  * `keepVersions`, `keepDays` (TIME retention: versions committed
  * within the window survive every GC regardless of count — the
  * stricter rule wins; see [[WarehouseFs.vacuum]]).
  * `PARTITIONED BY (identity cols)` persists the same
  * way and re-applies on every full publish and on the first non-empty
  * append. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': option 'warehouse' (a directory of " +
          "versioned tables) is required — set spark.sql.catalog." +
          s"$name.warehouse"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  private[sources] def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def nsPath(namespace: Array[String]): String =
    (warehouse +: namespace.toSeq).mkString("/")

  private def exists(ident: Identifier): Boolean =
    WarehouseFs.currentVersion(spark, tablePath(ident)).isDefined

  override def tableExists(ident: Identifier): Boolean = exists(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    WarehouseFs.listNames(spark, nsPath(namespace))
      .filter(n => WarehouseFs.currentVersion(spark, s"${nsPath(namespace)}/$n").isDefined)
      .map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    GraftCatalogTable(spark, tablePath(ident),
      GraftTable.resolveSchema(spark, tablePath(ident), None),
      GraftCatalog.readProps(spark, tablePath(ident)))
  }

  /** SQL `SELECT … FROM t VERSION AS OF n` — a read pinned to a
    * retained manifest version (expired/unknown versions refuse with
    * the retention message). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"graft catalog: VERSION AS OF takes a version number, got '$version'"))
    GraftCatalogTable(spark, tablePath(ident),
      GraftTable.resolveSchema(spark, tablePath(ident), Some(v)),
      GraftCatalog.readProps(spark, tablePath(ident)), pinned = Some(v))
  }

  /** SQL `SELECT … FROM t TIMESTAMP AS OF ts` (`ts` arrives in
    * MICROseconds): resolves to the latest version committed at or
    * before `ts` — manifest files are rename-committed once, so their
    * modification time is the commit time. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val v = WarehouseFs.versionAtTimestamp(spark, tablePath(ident),
        timestamp / 1000L).getOrElse(throw new IllegalArgumentException(
      s"graft catalog: no version of $ident existed at timestamp " +
        s"${timestamp / 1000L} ms (before creation, or past the " +
        "retention window)"))
    loadTable(ident, v.toString)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val path = tablePath(ident)
    val partCols = info.partitions().toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft catalog: only identity partitioning is supported, got $other")
    }
    val props = GraftCatalog.ownProps(info.properties()) ++
      (if (partCols.nonEmpty) Map("partitionBy" -> partCols.mkString(",")) else Map.empty)
    GraftCatalog.writeProps(spark, path, props)
    // commit an empty version 1 so the table is immediately readable;
    // the layout itself materializes with the first rows (an empty
    // dynamic-partition write emits no files), re-applied from the
    // stored partitionBy property. repartition(1): a 0-partition plan
    // writes zero files and would leave the table schema-less; one empty
    // task writes one schema-bearing file. Index relations are created
    // (empty) here so CoW appends maintain them from the start.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], info.schema())
      .repartition(1)
    WarehouseFs.publishVersioned(empty, path,
      keepVersions = GraftCatalog.keepVersionsOf(props),
      bloomIndexCols = GraftCatalog.colListOf(props, "bloomIndexCols"),
      zoneMapCols = GraftCatalog.colListOf(props, "zoneMapCols"))
    GraftCatalogTable(spark, path, info.schema(), props)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTable(ident, new TableInfo.Builder()
      .withColumns(columns).withPartitions(partitions)
      .withProperties(properties).build())

  /** `ALTER TABLE …` evolution, all at O(one sidecar write):
    * ADD COLUMNS (additive, nullable — existing rows surface NULL,
    * [[WarehouseFs.alterAddColumns]]), RENAME COLUMN and DROP COLUMN
    * (column-mapping metadata — files keep their bytes and keep
    * serving, [[WarehouseFs.alterRenameColumn]]), and property changes
    * (`SET TBLPROPERTIES('keepVersions'='5')`; `check.<name>` /
    * `notNullCols` constraint declarations validate existing rows
    * before persisting), plus ALTER COLUMN TYPE along the safe
    * widening lattice ([[WarehouseFs.alterWidenColumn]] — committed
    * files keep their narrower bytes and upcast at read). Narrowing
    * or reinterpreting type changes refuse loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident)
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        // silently committing `ADD COLUMN x NOT NULL` as nullable would
        // be a contract change the user never asked for: existing rows
        // have no value for the column, so NULL-ability is forced —
        // refuse rather than reinterpret
        if (!a.isNullable())
          throw new UnsupportedOperationException(
            s"graft catalog: ADD COLUMN ${a.fieldNames()(0)} NOT NULL is " +
              "not supported — existing rows have no value for the new " +
              "column, so it must be nullable")
        // additive evolution APPENDS; honoring FIRST/AFTER would require
        // rewriting every committed file's column order
        if (a.position() != null)
          throw new UnsupportedOperationException(
            s"graft catalog: ADD COLUMN ${a.fieldNames()(0)} with a " +
              "position (FIRST/AFTER) is not supported — added columns " +
              "append at the end (committed files are never rewritten)")
        // multi-part names address STRUCT LEAVES (`meta.lang`) — the
        // verb's dotted-spelling form
        org.apache.spark.sql.types.StructField(
          a.fieldNames().mkString("."), a.dataType(), nullable = true)
    }
    val propSets = changes.collect {
      case p: TableChange.SetProperty => p.property() -> p.value()
    }
    // RENAME/DROP COLUMN lower onto the column-mapping sidecar — one
    // metadata write, zero data I/O; old files keep serving through the
    // logical→physical resolution ([[WarehouseFs.alterRenameColumn]])
    val renames = changes.collect {
      case r: TableChange.RenameColumn =>
        if (r.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"graft catalog: RENAME of a nested field " +
              s"(${r.fieldNames().mkString(".")}) is not supported")
        r.fieldNames()(0) -> r.newName()
    }
    // nested (multi-part) DROP lowers onto the dotted-leaf verb: the
    // declaration's struct narrows, reads hide the leaf's bytes
    val drops = changes.collect {
      case d: TableChange.DeleteColumn => d.fieldNames().mkString(".")
    }
    // `ALTER COLUMN c TYPE <wider>` lowers onto the safe-widening verb
    // (byte→short→int→long, float→double, decimal precision growth at
    // equal scale) — narrowing/reinterpreting refuses inside the verb
    val widens = changes.collect {
      case u: TableChange.UpdateColumnType =>
        u.fieldNames().mkString(".") -> u.newDataType()
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType])
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft catalog: only ADD COLUMNS, RENAME COLUMN, DROP COLUMN, " +
          s"ALTER COLUMN TYPE (safe widening) and SET TBLPROPERTIES are " +
          s"supported — got ${unsupported.mkString(", ")}")
    if (adds.nonEmpty)
      WarehouseFs.alterAddColumns(spark, path,
        org.apache.spark.sql.types.StructType(adds))
    renames.foreach { case (from, to) =>
      WarehouseFs.alterRenameColumn(spark, path, from, to) }
    drops.foreach(c => WarehouseFs.alterDropColumn(spark, path, c))
    widens.foreach { case (c, to) =>
      WarehouseFs.alterWidenColumn(spark, path, c, to) }
    if (propSets.nonEmpty) {
      // refuse what will not persist — a silently-dropped property (a
      // typo, or partitionBy, whose layout is fixed by written files)
      // reads as success while changing nothing
      val rejected = propSets.map(_._1)
        .filterNot(GraftCatalog.persistable)
      if (rejected.nonEmpty)
        throw new UnsupportedOperationException(
          s"graft catalog: TBLPROPERTIES ${rejected.mkString(", ")} cannot " +
            "be altered (persistable: bloomIndexCols, zoneMapCols, " +
            "keepVersions, keepDays, keyCols, dmlMode, compactMaskedRows, " +
            "check.<name>, notNullCols; partitioning is fixed by the " +
            "written layout)")
      // a NEW constraint must hold on the rows already committed — one
      // aggregated pass; a violating declaration refuses and persists
      // nothing (write-time enforcement then never trips on legacy rows)
      val newChecks = propSets.collect {
        case (k, v) if k.toLowerCase.startsWith("check.") =>
          (k.drop("check.".length), v)
      } ++ propSets.collectFirst {
        case (k, v) if k.equalsIgnoreCase("notNullCols") => v
      }.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .map(c => (s"$c is not null", s"`$c` IS NOT NULL"))
      if (newChecks.nonEmpty) {
        val bad = WarehouseFs.validateChecks(spark, path, newChecks)
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"graft catalog: constraint(s) ${bad.mkString(", ")} are " +
              s"violated by existing rows of $ident — fix the data first; " +
              "nothing was persisted")
      }
      GraftCatalog.writeProps(spark, path,
        GraftCatalog.readProps(spark, path) ++ propSets)
    }
    loadTable(ident)
  }

  // drop, rename and namespace drop go through the read-side memos'
  // invalidation: a table re-created (or renamed) onto a path reuses its
  // version numbers and data-dir names
  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    WarehouseFs.deleteIfExists(spark, tablePath(ident))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!exists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (exists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val from = new Path(tablePath(oldIdent))
    val to = new Path(tablePath(newIdent))
    val fs = from.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to),
      s"graft catalog: rename $oldIdent → $newIdent failed")
    WarehouseFs.invalidateReadMemos(spark, from.toString)
    WarehouseFs.invalidateReadMemos(spark, to.toString)
  }

  // ---- namespaces: directories under the warehouse root ----------------
  //
  // Namespaces NEST: `a.b.c` is the directory <warehouse>/a/b/c. A dir
  // is a TABLE iff it holds a committed `_versions` manifest; any other
  // non-meta dir is a namespace — the two are disjoint, so listing a
  // namespace never surfaces a table's internal version dirs and
  // vice versa.

  private def childNamespaces(namespace: Array[String]): Array[String] = {
    val base = new Path(nsPath(namespace))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(n => WarehouseFs.currentVersion(spark,
        s"${nsPath(namespace)}/$n").isEmpty)
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(Array.empty).map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace))
      childNamespaces(namespace).map(namespace :+ _)
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = new Path(nsPath(namespace))
      // a table dir is NOT a namespace — the concepts are disjoint
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p) &&
        WarehouseFs.currentVersion(spark, nsPath(namespace)).isEmpty
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val p = new Path(nsPath(namespace))
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val p = new Path(nsPath(namespace))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not empty")
    // a cascade drops its tables: clear their read-side memos too
    WarehouseFs.deleteIfExists(spark, p.toString)
    true
  }
}

object GraftCatalog {
  /** The table properties this catalog persists (everything else — the
    * engine-reserved `provider`/`owner`/… — is dropped, not stored).
    * `keyCols` declares the table's logical key for streaming reads
    * (`readStream.table` → the change-feed source). */
  private val OwnKeys =
    Set("bloomindexcols", "zonemapcols", "keepversions", "keepdays",
      "keycols", "dmlmode", "compactmaskedrows")

  /** Constraint properties persist too: `check.<name>` carries a boolean
    * SQL expression enforced on every write, `notNullCols` the NOT NULL
    * sugar ([[WarehouseFs.storedChecks]]). */
  private def persistable(k: String): Boolean =
    OwnKeys(k.toLowerCase) || k.toLowerCase.startsWith("check.") ||
      k.equalsIgnoreCase("notNullCols")

  def ownProps(properties: util.Map[String, String]): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    properties.forEach((k, v) => if (persistable(k)) b += (k -> v))
    b.result()
  }

  def keepVersionsOf(props: Map[String, String]): Int =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase("keepVersions") =>
      v.toInt }.getOrElse(2)

  def colListOf(props: Map[String, String], key: String): Seq[String] =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  private def propsFile(table: String) = new Path(table, "_meta/props")

  def writeProps(spark: SparkSession, table: String,
                 props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val f = propsFile(table)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(f.getParent)
    val out = fs.create(f, true)
    try out.write(props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  def readProps(spark: SparkSession, table: String): Map[String, String] = {
    val f = propsFile(table)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(f)) Map.empty
    else {
      val in = fs.open(f)
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      text.linesIterator.map(_.trim).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }
  }
}

/** The catalog's table: same DSv2 read as [[GraftTable]] (index-pruned
  * file set → vectorized parquet scan) plus the V1-fallback WRITE path —
  * `INSERT INTO` / `df.writeTo(…).append()` commit an append-only CoW
  * version, `INSERT OVERWRITE` / `writeTo(…).overwrite(lit(true))` /
  * truncate publish a full new version with the stored partitioning and
  * index properties re-applied; `INSERT OVERWRITE … PARTITION (col=v, …)`
  * with EVERY partition column pinned replaces exactly that partition as
  * a CoW commit (all other files carried by reference; an empty source
  * truncates it — the ANSI contract). Partial specs on multi-level
  * partitioning and non-partition overwrite filters are refused loudly —
  * use dynamic mode, MERGE, or DELETE. */
case class GraftCatalogTable(spark: SparkSession, path: String,
                             schemaArg: StructType,
                             props: Map[String, String],
                             pinned: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsPartitionManagement {

  override def name(): String =
    s"graft.`$path`${pinned.fold("")(v => s"@v$v")}"
  override def schema(): StructType = schemaArg
  // declared so ResolveInsertInto accepts `INSERT OVERWRITE … PARTITION
  // (col=v)` specs (it validates them against the table's partitioning)
  // and DESCRIBE surfaces the layout; stored property first, live
  // key=value layout as the registration-free fallback
  override def partitioning(): Array[Transform] = {
    val cols = GraftCatalog.colListOf(props, "partitionBy") match {
      case Nil => WarehouseFs.layoutPartitionCols(spark, path)
      case cs => cs
    }
    cols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  }
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }
  // AUTOMATIC_SCHEMA_EVOLUTION gates `MERGE … WITH SCHEMA EVOLUTION`:
  // Spark's ResolveMergeIntoSchemaEvolution computes the additive
  // column set and applies it through this catalog's alterTable — which
  // lowers onto the zero-data-I/O declared-schema sidecar
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new org.apache.spark.sql.graft.GraftV2ScanBuilder(
      spark, path, pinned, schemaArg, GraftRelation.indexProbes)

  // ---- read-only partition management: SHOW PARTITIONS ------------------
  //
  // Partition METADATA is the file layout itself (`key=value` path
  // segments of the current version's manifest) — listing is pure path
  // arithmetic over one manifest parse, no data I/O at any table size.
  // Mutations refuse: partitions materialize with writes and retire
  // through row-level DML / partition overwrites, never by metadata
  // fiat (a metadata-dropped partition whose files survive would be a
  // silent resurrection at the next manifest rebuild).

  override def partitionSchema(): StructType = {
    val cols = GraftCatalog.colListOf(props, "partitionBy") match {
      case Nil => WarehouseFs.layoutPartitionCols(spark, path)
      case cs => cs
    }
    StructType(cols.flatMap(c => schemaArg.find(_.name == c)))
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val ps = partitionSchema()
    if (ps.isEmpty) return Array.empty
    val (files, _, _, _) = WarehouseFs.prunedFiles(spark, path,
      version = pinned).getOrElse(return Array.empty)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val tuples = files.flatMap { f =>
      val segs = f.split('/')
      val values = ps.fields.map { fd =>
        segs.collectFirst {
          case s if s.startsWith(s"${fd.name}=") => s.drop(fd.name.length + 1)
        }.map { enc =>
          val raw = ExternalCatalogUtils.unescapePathName(enc)
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else Cast(Literal.create(raw,
            org.apache.spark.sql.types.StringType), fd.dataType, tz).eval()
        }
      }
      if (values.exists(_.isEmpty)) None // flat legacy file: no tuple
      else Some(values.map(_.get).toSeq)
    }.distinct
    // prefix filter: SHOW PARTITIONS t PARTITION (day=3) passes the
    // named columns + their values
    val idx = names.map(n => ps.fieldNames.indexOf(n))
    tuples.collect {
      case t if idx.zipWithIndex.forall { case (fi, i) =>
        fi >= 0 && t(fi) == ident.get(i, ps.fields(fi).dataType) } =>
        InternalRow.fromSeq(t)
    }.toArray
  }

  private def refusePartitionDdl(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog: $what — partitions materialize with writes and " +
        "retire through DELETE / INSERT OVERWRITE PARTITION, never by " +
        "metadata-only DDL")

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
                               properties: util.Map[String, String]): Unit =
    refusePartitionDdl("ALTER TABLE … ADD PARTITION")
  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    refusePartitionDdl("ALTER TABLE … DROP PARTITION")
  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    refusePartitionDdl("partition metadata replacement")
  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinned.isDefined) throw new UnsupportedOperationException(
      s"graft catalog: ${name()} is a time-travel read — writes go to the " +
        "current version")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      private var overwriteAll = false
      private var staticSpec: Option[Map[String, Any]] = None

      override def truncate(): WriteBuilder = { overwriteAll = true; this }

      override def overwrite(filters: Array[Filter]): WriteBuilder =
        if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) truncate()
        else {
          // STATIC partition overwrite (`INSERT OVERWRITE t PARTITION
          // (day=5) SELECT …`): the filters are equality constraints
          // pinning EVERY partition column — the OverwriteByExpression
          // contract is "delete every row matching the spec, then
          // insert", which [[WarehouseFs.overwriteStaticPartition]]
          // implements exactly (spec-derived touched set, so an empty
          // source truncates the named partition). A PARTIAL spec on a
          // multi-level table (`PARTITION (a=1)` with b dynamic) must
          // refuse: the data-derived dynamic verb would silently keep
          // a=1 rows whose b values are absent from the data — wrong
          // table state under the static contract. Anything that is not
          // a full partition-equality spec stays refused.
          val partBy = {
            val stored = GraftCatalog.colListOf(props, "partitionBy")
            if (stored.nonEmpty) stored
            else WarehouseFs.layoutPartitionCols(spark, path)
          }
          // static specs arrive as EqualNullSafe (a PARTITION value is a
          // literal, so null-safety is irrelevant here)
          val eqs = filters.collect {
            case e: org.apache.spark.sql.sources.EqualTo
                if e.value != null => e.attribute -> e.value
            case e: org.apache.spark.sql.sources.EqualNullSafe
                if e.value != null => e.attribute -> e.value
          }
          if (partBy.nonEmpty && eqs.length == filters.length &&
              eqs.map(_._1).toSet == partBy.toSet &&
              eqs.map(_._1).distinct.length == eqs.length) {
            staticSpec = Some(eqs.toMap); this
          } else throw new UnsupportedOperationException(
            s"graft catalog: partial INSERT OVERWRITE (filters " +
              s"${filters.mkString(", ")}) is not supported — only " +
              "whole-partition overwrites (PARTITION (col=value, …) " +
              "pinning EVERY partition column); use dynamic " +
              "partitionOverwriteMode, MERGE INTO, or DELETE + INSERT " +
              "for anything narrower")
        }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val keep = GraftCatalog.keepVersionsOf(props)
              val partBy = GraftCatalog.colListOf(props, "partitionBy")
              if (staticSpec.isDefined) {
                val cols =
                  if (partBy.nonEmpty) partBy
                  else WarehouseFs.layoutPartitionCols(spark, path)
                WarehouseFs.overwriteStaticPartition(data, path, cols,
                  staticSpec.get, keepVersions = keep)
              } else if (overwrite || overwriteAll) {
                // an API-published table has no props sidecar — fall back
                // to the LIVE layout and index columns, or the overwrite
                // would silently flatten the table and drop its indexes
                val (liveBloom, liveZone, _) =
                  WarehouseFs.versionMetadata(spark, path)
                def orElse(a: Seq[String], b: Seq[String]) =
                  if (a.nonEmpty) a else b
                WarehouseFs.publishVersioned(data, path,
                  partitionBy = orElse(partBy,
                    WarehouseFs.layoutPartitionCols(spark, path)),
                  keepVersions = keep,
                  bloomIndexCols = orElse(
                    GraftCatalog.colListOf(props, "bloomIndexCols"), liveBloom),
                  zoneMapCols = orElse(
                    GraftCatalog.colListOf(props, "zoneMapCols"), liveZone))
              } else
                WarehouseFs.appendRows(data, path, keepVersions = keep,
                  createPartitionBy = partBy,
                  createBloomIndexCols = GraftCatalog.colListOf(props, "bloomIndexCols"),
                  createZoneMapCols = GraftCatalog.colListOf(props, "zoneMapCols"),
                  partitionByHint = partBy)
            }
          }
      }
    }
  }
}

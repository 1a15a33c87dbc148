package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The warehouse as a registered Spark data source: versioned manifest
  * tables readable with `spark.read.format("graft")` (and writable with
  * `df.write.format("graft")`), or attachable from pure SQL —
  *
  * {{{
  * CREATE TEMPORARY VIEW tx USING graft OPTIONS (table '/wh/tx')
  * SELECT * FROM tx WHERE user_id = 42        -- bloom file pruning
  * SELECT * FROM tx WHERE day BETWEEN 10 AND 12  -- zone file pruning
  * }}}
  *
  * Options: `table` (path, required), `version` (time travel).
  *
  * Every read is DSv2 ([[org.apache.spark.sql.connector.catalog.TableProvider]]):
  * `spark.read.format("graft")`, the `USING graft` temp view (Spark
  * resolves a `TableProvider` through DSv2 first) and the `graft`
  * catalog all build their scan in
  * [[org.apache.spark.sql.graft.GraftV2ScanBuilder]]. Pushed filters
  * drive the index probes — equality / IN conjuncts the bloom index and
  * partition paths, bounded ranges the zone map — and every filter is
  * re-evaluated above the scan, so index pruning is strictly a
  * file-skip optimization and bloom false positives stay invisible.
  * After pruning picks the file set, the scan IS Spark's vectorized
  * parquet scan over those files — columnar batches, whole-stage
  * codegen, row-group pushdown — and committed table statistics report
  * into Catalyst on unpruned scans.
  *
  * Only batch writes and the streaming sink are V1: the table reports
  * no write capability, so Spark falls back to
  * [[CreatableRelationProvider]] / [[StreamSinkProvider]] — an
  * overwrite publishes a new version via
  * [[WarehouseFs.publishVersioned]] (bloom/zone columns via
  * `bloomIndexCols` / `zoneMapCols` comma-lists). */
class GraftSource extends CreatableRelationProvider with StreamSinkProvider
    with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {
  override def shortName(): String = "graft"

  // --- DSv2 read path -------------------------------------------------
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private def versionOf(m: java.util.Map[String, String]): Option[Long] =
    Option(m.get("version")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.resolveSchema(SparkSession.active,
      tableOf(scalaMap(options)), versionOf(options))

  /** True so WRITE paths hand us the frame's own schema instead of
    * inferring — inference on a not-yet-existing table would fail before
    * Spark's no-write-capability fallback routes the write to the V1
    * [[CreatableRelationProvider]] / [[StreamSinkProvider]]. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table =
    GraftTable(SparkSession.active, tableOf(scalaMap(properties)),
      versionOf(properties), schema)

  private def scalaMap(m: java.util.Map[String, String]): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    m.forEach((k, v) => b += (k -> v))
    b.result()
  }

  /** `writeStream.format("graft")`: each micro-batch upserts into a
    * versioned table — by default through the copy-on-write path (the
    * declarative face of
    * [[graft.streaming.EventStreams.upsertSinkCoW]]), per-batch write
    * cost O(files touched by the batch's keys) on a bloom-indexed
    * table, never the snapshot rewrite. With `dmlMode=mor` (sink option
    * or the table's stored property) each micro-batch lands
    * MERGE-ON-READ instead: matched keys MASK through a deletion-vector
    * delta and the batch's images append as one small file — O(batch)
    * I/O per trigger regardless of how many files the keys scatter
    * across, the right shape for high-frequency small batches; the
    * `compactMaskedRows` budget folds the accumulated masks on cadence.
    * Update and Append modes both land as upserts; in either mode a
    * micro-batch repeating a key fails and commits nothing.
    *
    * COMMITS ARE EXACTLY-ONCE when the sink has a durable writer
    * identity: each landed micro-batch stamps `txn:<batchId>:<appId>`
    * into its manifest (appId = the `txnAppId` option, defaulting to
    * the stream's `checkpointLocation` — stable across restarts by
    * construction), and a batch replayed after a crash between the
    * manifest commit and the checkpoint commit is SKIPPED
    * ([[WarehouseFs.lastCommittedTxn]]): one image file, one history
    * commit, zero mask growth per batch, no matter how many times the
    * batch re-runs. CHECKPOINT-RECREATION HAZARD: deleting and
    * recreating the checkpoint restarts batch numbering at 0 under the
    * SAME writer identity — the sink refuses a stamped table's batch 0
    * loudly (escape hatches: a fresh `txnAppId` for a reborn stream,
    * `txnReset=true` for a genuine first-batch replay) rather than
    * silently dropping the new stream's first batches as replays. The
    * stamp assumes ONE live writer per (table, appId); concurrent
    * writers sharing an appId are additionally caught by the commit
    * loop's own floor re-check ([[WarehouseFs.publishCoW]]), which
    * skips a batch another writer landed. Without either option (no
    * checkpoint location in
    * the options map) the sink degrades to at-least-once — replays
    * re-put the same key/value pairs, so results stay value-idempotent
    * provided each batch carries one row per key (dedupe upstream with
    * `dropDuplicates`/`latestPerKey`), but a replay then appends a
    * duplicate image file and history commit. Stats refresh is skipped
    * per batch; run a scheduled publish/compaction to re-profile. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val table = tableOf(parameters)
    // Hive-partitioned TARGETS are fine: both DML paths preserve the
    // table's own key=value layout (rewrites land under it; MoR batch
    // images append under it). A stream-side partitionBy() is accepted
    // only when it AGREES with that layout — the table governs, and a
    // silent disagreement would read as data loss to the caller
    if (partitionColumns.nonEmpty) {
      val layout = WarehouseFs.layoutPartitionCols(
        sqlContext.sparkSession, table)
      require(layout == partitionColumns,
        s"graft sink: partitionBy(${partitionColumns.mkString(", ")}) " +
          s"disagrees with $table's committed layout " +
          s"(${if (layout.isEmpty) "unpartitioned" else layout.mkString(", ")}) " +
          "— the table's own layout governs micro-batch upserts; drop " +
          "the partitionBy or re-publish the table partitioned")
    }
    // keyCol present → per-batch upserts; ABSENT → the keyless
    // append-only sink: each micro-batch lands as one blind-append
    // commit (zero existing files touched) on a ROW-TRACKED table, so
    // the appended rows get stable ids and the keyless change feed /
    // replica chain works end to end. Tracking is required — an
    // untracked keyless sink is usually a forgotten keyCol, and loud
    // beats a silently key-free upsert pipeline.
    val keyCol: Option[String] = parameters.get("keyCol")
    if (keyCol.isEmpty) {
      val sp = sqlContext.sparkSession
      require(WarehouseFs.isRowTracked(sp, table) ||
          GraftCatalog.readProps(sp, table).get("rowTracking")
            .exists(_.equalsIgnoreCase("true")),
        s"graft sink: no 'keyCol' option — the keyless append sink " +
          s"needs $table row-tracked: set " +
          "TBLPROPERTIES('rowTracking'='true') (ids backfill at the " +
          "next commit), or pass keyCol for the upsert sink")
    }
    val keep = parameters.get("keepVersions").map(_.toInt).getOrElse(2)
    val sinkMode = parameters.get("dmlMode").map(_.toLowerCase)
    // the durable writer identity the exactly-once stamp keys on: the
    // checkpoint location IS the stream's identity across restarts
    // (replays come from exactly that checkpoint), overridable when one
    // logical writer spans checkpoints
    val txnApp = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
    // escape hatch for the batch-0 refusal below — set ONLY when this
    // genuinely is the original stream replaying its very first
    // micro-batch (crash between the first manifest commit and the
    // first checkpoint commit); a recreated checkpoint wants a fresh
    // txnAppId instead, never this
    val txnReset = parameters.get("txnReset").exists(_.toBoolean)
    new org.apache.spark.sql.execution.streaming.Sink {
      // ONE history scan at stream start (memoized): this sink is the
      // only writer stamping its appId, so after the first lookup the
      // high-water batchId advances purely in-process — a per-trigger
      // manifest scan would be pure metadata overhead on a
      // high-frequency stream
      @volatile private var txnFloor: Option[Option[Long]] = None
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = data.sparkSession
        // replay gate FIRST — a batch this writer already landed (crash
        // between manifest commit and checkpoint commit) must not re-run
        // the DML: skipping here is what makes commits exactly-once
        val floor: Option[Long] = txnApp match {
          case Some(app) =>
            if (txnFloor.isEmpty)
              txnFloor = Some(WarehouseFs.lastCommittedTxn(spark, table, app))
            txnFloor.get
          case None => None
        }
        // a stamped table seeing batchId 0 is, overwhelmingly, a
        // checkpoint DELETED AND RECREATED at the same location: Spark
        // restarts batch numbering at 0 while the table's txn floor is
        // high, so the silent replay-skip below would DROP the reborn
        // stream's first floor+1 real batches as "already landed".
        // Refuse loudly with the two escape hatches instead — the only
        // legitimate batch-0 skip is the original stream replaying its
        // very first micro-batch, which the caller affirms with
        // txnReset=true
        if (floor.isDefined && batchId == 0L && !txnReset)
          throw new IllegalStateException(
            s"graft sink: $table already carries commits from writer " +
              s"'${txnApp.get}' up to batchId ${floor.get}, but this " +
              "stream is starting at batchId 0 — a checkpoint recreated " +
              "at the same location restarts numbering and would have " +
              "its first batches silently dropped as replays. Pass a " +
              "fresh 'txnAppId' to land this stream as a new writer, or " +
              "'txnReset=true' only if this is the original stream " +
              "replaying its first micro-batch")
        if (floor.exists(_ >= batchId)) return
        val txn = txnApp.map(app => (app, batchId))
        val pinned = org.apache.spark.sql.graft.StreamingInternal.asBatch(data)
        pinned.persist()
        try {
          if (!pinned.isEmpty) {
            keyCol match {
              case None => // keyless append-only (row-tracked target)
                WarehouseFs.appendRows(pinned, table, keep, txn = txn)
              case Some(k) =>
                val mor = sinkMode
                  .orElse(WarehouseFs.storedDmlMode(spark, table))
                  .contains("mor")
                if (mor) {
                  import org.apache.spark.sql.functions.col
                  WarehouseFs.mergeIntoKeysVectors(pinned, table, Seq(k),
                    whenMatchedUpdate = pinned.columns.filterNot(_ == k)
                      .map(c => c -> col(s"src_$c")).toMap,
                    whenNotMatchedInsert = true, keepVersions = keep,
                    txn = txn)
                } else
                  WarehouseFs.upsertRows(pinned, table, k, keep,
                    refreshStats = false, txn = txn)
            }
          }
          // the landed batch advances the in-process floor (empty
          // batches commit nothing and may replay — harmlessly)
          if (txnApp.isDefined && !pinned.isEmpty)
            txnFloor = Some(Some(batchId))
        } finally pinned.unpersist()
      }
      override def toString: String =
        s"GraftCoWSink($table, key=${keyCol.getOrElse("<row-id append>")}" +
          s"${sinkMode.fold("")(m => s", $m")})"
    }
  }

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("table",
      throw new IllegalArgumentException("graft source: option 'table' required"))

  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val table = tableOf(parameters)
    def cols(k: String) = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = WarehouseFs.currentVersion(data.sparkSession, table).isDefined
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft source: $table already exists")
      case SaveMode.Ignore if exists => // leave as-is
      case SaveMode.Append if exists =>
        // versions are full snapshots; a silent append-as-overwrite would
        // drop data. Row-level addition is upsertRows/mergeInto territory.
        throw new UnsupportedOperationException(
          "graft source: Append is not a snapshot semantics — publish a " +
            "new version (Overwrite) or use WarehouseFs.upsertRows/mergeInto")
      case _ =>
        WarehouseFs.publishVersioned(data, table,
          partitionBy = cols("partitionBy"),
          keepVersions = parameters.get("keepVersions").map(_.toInt).getOrElse(2),
          collectStats = parameters.get("collectStats").exists(_.toBoolean),
          bloomIndexCols = cols("bloomIndexCols"),
          zoneMapCols = cols("zoneMapCols"))
    }
    // Spark only re-caches by the returned relation; it reads nothing
    // from it, so the table is not re-read after the commit
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

/** The DSv2 face of a versioned table: read-only (no write capability —
  * Spark routes writes to the V1 providers above), with scans assembled
  * by [[org.apache.spark.sql.graft.GraftV2ScanBuilder]] (index-pruned
  * file set → Spark's own vectorized parquet scan). */
case class GraftTable(spark: org.apache.spark.sql.SparkSession,
                      tablePath: String, pinnedVersion: Option[Long],
                      schemaArg: StructType)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String =
    s"graft.`$tablePath`${pinnedVersion.fold("")(v => s"@v$v")}"
  override def schema(): StructType = schemaArg
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.graft.GraftV2ScanBuilder(
      spark, tablePath, pinnedVersion, schemaArg)
}

object GraftTable {
  def apply(spark: org.apache.spark.sql.SparkSession, table: String,
            version: Option[Long]): GraftTable =
    GraftTable(spark, table, version, resolveSchema(spark, table, version))

  def resolveSchema(spark: org.apache.spark.sql.SparkSession,
                    table: String, version: Option[Long]): StructType =
    (version match {
      case Some(v) => WarehouseFs.readTableVersion(spark, table, v)
      case None => WarehouseFs.readTable(spark, table)
    }).getOrElse(throw new IllegalArgumentException(
      s"graft source: $table${version.fold("")(v => s"@v$v")} is not a " +
        "committed versioned table")).schema
}

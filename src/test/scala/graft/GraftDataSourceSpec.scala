package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThanOrEqual => FGe, In => FIn, LessThanOrEqual => FLe, StringContains}
import graft.sources.WarehouseFs
import org.apache.spark.sql.graft.GraftV2ScanBuilder.indexProbes

/** The registered `graft` data source: versioned tables via
  * `spark.read.format("graft")` and SQL `USING graft`, with pushed
  * filters driving bloom/zone FILE pruning and everything re-checked
  * above the relation. */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable() =
    s"${java.nio.file.Files.createTempDirectory("graft_ds_")}/t"

  /** Unwrap graft's scan decorators (stats/SPJ/runtime-filter wrapper,
    * DV masking wrapper) down to the parquet FileScan. */
  private def unwrapScan(s: org.apache.spark.sql.connector.read.Scan)
      : org.apache.spark.sql.connector.read.Scan = s match {
    case m: org.apache.spark.sql.graft.GraftMetaScan => unwrapScan(m.delegate)
    case d: org.apache.spark.sql.graft.GraftDvScan => unwrapScan(d.delegate)
    case other => other
  }

  private def publish(t: String): Unit =
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"),
          (col("id") % 7).as("grp"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, bloomIndexCols = Seq("id", "user"),
      zoneMapCols = Seq("id"))

  test("format(graft): schema, full read, point read, and SQL attach agree") {
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
    val t = tmpTable(); publish(t)
    val df = spark.read.format("graft").option("table", t).load()
    assert(df.columns.toSeq === Seq("id", "user", "grp"))
    assert(df.count() === 8000)
    assert(df.filter(col("id") === 1234L).select("user").as[String].collect() ===
      Array("u1234"))
    // short name resolves from SQL too
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ds_v " +
      s"USING graft OPTIONS (table '$t')")
    val viaView = spark.sql("SELECT user FROM graft_ds_v WHERE id = 77")
    assert(viaView.as[String].collect() === Array("u77"))
    // the view resolves through DSv2, not a V1 relation: its plans hold
    // the DSv2 relation and Spark's batch scan
    assert(viaView.queryExecution.analyzed
      .collectFirst { case r: DataSourceV2Relation => r }.isDefined,
      s"USING graft must analyze to a DSv2 relation:\n${viaView.queryExecution.analyzed}")
    assert(viaView.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.isDefined,
      s"USING graft must execute as a BatchScan:\n${viaView.queryExecution.executedPlan}")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_ds_v WHERE id BETWEEN 100 AND 199")
      .as[Long].collect() === Array(100L))
    spark.sql("DROP VIEW graft_ds_v")
  }

  test("pushed filters prune files: bloom for equality/IN, zones for ranges, intersected") {
    val t = tmpTable(); publish(t)
    // translation: conjuncts split, IN sets intersect, eq feeds ranges too
    val (point, ranges) = indexProbes(Array(
      FAnd(FEq("user", "u10"), FIn("id", Array(10L, 11L)))))
    assert(point === Map("user" -> Seq("u10"), "id" -> Seq(10L, 11L)))
    // equality doubles as a degenerate range (zone-prunable); IN does not
    assert(ranges === Map("user" -> (("u10", "u10"))))
    // a range-only probe
    val (_, r2) = indexProbes(Array(FGe("id", 2000L), FLe("id", 2100L)))
    assert(r2 === Map("id" -> ((2000L, 2100L))))
    // unsupported shapes translate to nothing (and stay correct upstream)
    assert(indexProbes(Array(StringContains("user", "u1"))) ===
      ((Map.empty, Map.empty)))
    // tightest-bound selection among multiple conjuncts is TYPED:
    // {9, 10} resolves numerically (lexicographic would pick "9" as the
    // larger lower bound and under-prune)
    val (_, rTight) = indexProbes(Array(
      FGe("id", 9L), FGe("id", 10L), FLe("id", 10L), FLe("id", 9L)))
    assert(rTight === Map("id" -> ((10L, 9L))),
      "numeric bounds must compare in the value's type, not as strings")
    // strings keep their natural (lexicographic) comparison
    val (_, rStr) = indexProbes(Array(
      FGe("user", "a"), FGe("user", "b"), FLe("user", "z")))
    assert(rStr === Map("user" -> (("b", "z"))))

    // pruning evidence through the combined scan: equality on a bloom
    // column + range on the zone column opens a strict file subset
    val Some((_, _, nPoint, total)) = WarehouseFs.prunedFiles(spark, t,
      point = Map("id" -> Seq(42L)))
    assert(total === 8)
    assert(nPoint < total, "bloom must prune the range-clustered layout")
    val Some((_, _, nBoth, _)) = WarehouseFs.prunedFiles(spark, t,
      point = Map("user" -> Seq("u4000")),
      ranges = Map("id" -> ((0L, 10L))))
    assert(nBoth === 0,
      "intersection: u4000's bloom files and id≤10's zone files are disjoint")

    // end-to-end parity on every path, including the empty-intersection read
    val ds = spark.read.format("graft").option("table", t).load()
    assert(ds.filter(col("user") === "u4000" && col("id") <= 10L).count() === 0)
    assert(ds.filter(col("id") >= 2000L && col("id") <= 2100L).count() === 101)
    assert(ds.filter(col("user").isin("u1", "u2", "u9999")).count() === 2)
  }

  test("partitioned table through the source: partition predicates prune by path") {
    val t = tmpTable()
    Seq.tabulate(400)(i => (i.toLong, i % 4, s"u$i")).toDF("id", "day", "user")
      .write.format("graft").option("table", t)
      .option("partitionBy", "day").option("keepVersions", "5").save()
    // evidence at the prunedFiles layer: day=2 keeps a strict file subset
    val Some((_, _, n2, total)) = WarehouseFs.prunedFiles(spark, t,
      point = Map("day" -> Seq(2)))
    assert(n2 < total, s"partition point predicate must prune: $n2 of $total")
    // end-to-end parity incl. the partition column in the output
    val ds = spark.read.format("graft").option("table", t).load()
    assert(ds.filter(col("day") === 2).count() === 100)
    assert(ds.filter(col("day") === 2).select("user").limit(1).collect().nonEmpty)
    assert(ds.count() === 400)
  }

  test("DSv2 read is columnar: BatchScan parquet, no row-conversion node, stats reach Catalyst") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"),
          (col("id") % 7).as("grp"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, collectStats = true,
      bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    val full = spark.read.format("graft").option("table", t).load()
    assert(full.count() === 8000)
    val plan = full.queryExecution.executedPlan
    // the scan is Spark's own vectorized parquet batch scan…
    val batchScan = plan.collectFirst { case b: BatchScanExec => b }
    assert(batchScan.isDefined, s"expected BatchScanExec, got:\n$plan")
    assert(batchScan.get.supportsColumnar, "the delegated parquet scan must emit columnar batches")
    // …with NO V1 row boundary anywhere in the plan
    val planStr = plan.toString
    assert(!planStr.contains("Scan ExistingRDD") && !planStr.contains("RowDataSourceScan"),
      s"row-conversion node in a DSv2 full scan:\n$planStr")
    // committed statistics report through the scan into Catalyst: the
    // relation's row count is the EXACT published count, no manual hint
    assert(full.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(8000)),
      "committed stats must reach the logical plan")
    // column pruning reaches the parquet ReadSchema
    val pruned = full.select("user")
    val prunedScanStr = pruned.queryExecution.executedPlan.toString
    assert(prunedScanStr.contains("ReadSchema: struct<user:string>"),
      s"projection must prune the parquet read:\n$prunedScanStr")

    // pushed filters prune FILES through the V2 path: the scan's file
    // index holds a strict subset of the 8 range files
    val point = spark.read.format("graft").option("table", t).load()
      .filter(col("id") === 4242L)
    assert(point.count() === 1)
    val pointScan = point.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    val scanned = unwrapScan(pointScan.scan)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
      .fileIndex.inputFiles.length
    assert(scanned < 8, s"bloom/zone pruning must reach the V2 scan ($scanned of 8 files)")
  }

  test("COUNT(*) answers from committed stats; filtered and CoW counts pay the honest scan") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, collectStats = true, bloomIndexCols = Seq("id"),
      zoneMapCols = Seq("id"))
    val df = spark.read.format("graft").option("table", t).load()
    val cnt = df.groupBy().count()
    assert(cnt.head().getLong(0) === 8000)
    val plan = cnt.queryExecution.executedPlan
    assert(plan.collectFirst { case l: LocalTableScanExec => l }.isDefined,
      s"an unfiltered COUNT(*) must come from committed stats:\n$plan")
    assert(plan.collectFirst { case b: BatchScanExec => b }.isEmpty,
      s"an unfiltered COUNT(*) must open zero data files:\n$plan")
    assert(df.count() === 8000)
    // MIN/MAX over a zone-mapped column folds the zone rows — still no
    // data files; a mixed COUNT+MIN+MAX pushes as one metadata row
    val mm = df.agg(min("id"), max("id"), count(lit(1)))
    assert(mm.head() === org.apache.spark.sql.Row(0L, 7999L, 8000L))
    assert(mm.queryExecution.executedPlan
      .collectFirst { case l: LocalTableScanExec => l }.isDefined,
      "unfiltered MIN/MAX over zone-mapped columns must come from metadata")
    // an un-zoned column's MIN pays the scan and agrees
    val mu = df.agg(min("user"))
    assert(mu.head().getString(0) === "u0")
    assert(!mu.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // a WHERE clause pays the honest scan (every filter is residual
    // here, and residual filters bar aggregate pushdown)
    val fcnt = df.filter(col("id") < 100).groupBy().count()
    assert(fcnt.head().getLong(0) === 100)
    // (AQE wraps the aggregate — assert on the executed plan's string)
    assert(fcnt.queryExecution.executedPlan.toString.contains("BatchScan"),
      "a filtered count must scan")
    // a CoW version may carry prior stats (refreshStats = false): its
    // recorded row count is stale, so the count scans — and is right
    WarehouseFs.deleteWhere(spark, t, "id", Seq(7L), keepVersions = 5,
      refreshStats = false)
    val c2 = spark.read.format("graft").option("table", t).load().groupBy().count()
    assert(c2.head().getLong(0) === 7999)
    assert(!c2.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "carried CoW stats must never serve a metadata count")
    def countOf(table: String) = {
      val c = spark.read.format("graft").option("table", table).load().groupBy().count()
      (c.head().getLong(0), c.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    }
    // OPTIMIZE folds the chain into a full publish of its own files,
    // profiled from exactly those files: metadata answers again
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 5)
    assert(countOf(t) === ((7999L, true)),
      "an OPTIMIZE'd version's stats must serve the metadata count")
    // a RESTORE to the full-publish v1 lists v1's files under its own
    // attempt dir with v1's stats copied: not its own files, so it scans
    WarehouseFs.restoreVersion(spark, t, 1L, keepVersions = 5)
    assert(countOf(t) === ((8000L, false)),
      "a restored version's copied stats must never serve a metadata count")
    // CONVERT adopts files where they lie and REINDEX … STATS profiles
    // them — the version owns no file of its own dir, so it scans too
    val plain = tmpTable()
    spark.range(500).toDF("id").write.parquet(plain)
    WarehouseFs.convertToGraft(spark, plain)
    WarehouseFs.reindexCurrentVersion(spark, plain, withStats = true)
    assert(WarehouseFs.readStats(spark, plain).map(_.rowCount) === Some(500L))
    assert(countOf(plain) === ((500L, false)),
      "a CONVERTed version's stats must never serve a metadata count")
  }

  test("DSv2 reads partitioned CoW file-list versions: partition values survive across version dirs") {
    val t = tmpTable()
    Seq.tabulate(400)(i => (i.toLong, i % 4, s"u$i")).toDF("id", "day", "user")
      .write.format("graft").option("table", t)
      .option("partitionBy", "day").option("keepVersions", "5")
      .option("bloomIndexCols", "id").mode("overwrite").save()
    // a CoW delete makes the current version a FILE-LIST manifest whose
    // files span v1 (carried) and v2 (rewritten) dirs — the hand-built
    // PartitionSpec must restore `day` for both groups
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 5)
    val ds = spark.read.format("graft").option("table", t).load()
    assert(ds.count() === 399)
    assert(ds.schema.fieldNames.contains("day"))
    assert(ds.filter(col("day") === 2).count() === 99) // id 42 was day 2
    assert(ds.filter(col("day") === 3).count() === 100)
    assert(ds.filter(col("id") === 42L).count() === 0)
    assert(ds.filter(col("id") === 43L).select("user").collect()
      .map(_.getString(0)).toSeq === Seq("u43"))
    // partition pruning still reaches the scan on the mixed-dir layout
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = ds.filter(col("day") === 1)
    assert(q.count() === 100)
    val scan = unwrapScan(q.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
    assert(scan.fileIndex.partitionSchema.fieldNames.toSeq === Seq("day"))
  }

  test("a plain (non-manifest) parquet dir reads through the source — the migration posture") {
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_plain_")}/t"
    spark.range(100).select(col("id"), (col("id") % 3).as("g"))
      .write.partitionBy("g").parquet(dir)
    val ds = spark.read.format("graft").option("table", dir).load()
    assert(ds.count() === 100)
    assert(ds.filter(col("g") === 1).count() > 0)
    assert(ds.filter(col("id") === 7L).count() === 1)
  }

  test("time travel via option(version), write path publishes a version") {
    val t = tmpTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("graft")
      .option("table", t).option("bloomIndexCols", "id")
      .option("keepVersions", "5").save()
    WarehouseFs.deleteWhere(spark, t, "id", Seq(1L), keepVersions = 5)
    assert(spark.read.format("graft").option("table", t).load().count() === 1)
    assert(spark.read.format("graft").option("table", t)
      .option("version", "1").load().count() === 2)
    // ErrorIfExists honors existing tables
    intercept[IllegalStateException] {
      Seq((9L, "z")).toDF("id", "v").write.format("graft")
        .option("table", t).mode("error").save()
    }
    // a count(*) with no required columns still counts rows
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ds_w " +
      s"USING graft OPTIONS (table '$t')")
    assert(spark.sql("SELECT count(*) AS n FROM graft_ds_w").as[Long].collect()
      === Array(1L))
    spark.sql("DROP VIEW graft_ds_w")
  }

  test("deletion vectors mask INSIDE the DSv2 scan: same pruning, columnar plan, exact values") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.graft.GraftDvMaskedPartition
    val t = tmpTable()
    // fixture with nulls, a double and a date — the selective columnar
    // copy must round-trip every type class the tables use
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"),
        when(col("id") % 11 === 0, lit(null)).otherwise(concat(lit("u"), col("id")))
          .as("user"),
        (col("id") * 1.5).as("score"),
        date_add(lit("2026-01-01"), (col("id") % 300).cast("int")).as("d"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    def read() = spark.read.format("graft").option("table", t).load()
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    def filesOf(b: BatchScanExec): Set[String] = b.inputPartitions.flatMap {
      case g: GraftDvMaskedPartition => g.delegate.files.map(_.filePath.urlEncoded)
      case f: FilePartition => f.files.map(_.filePath.urlEncoded)
      case other => fail(s"unexpected partition ${other.getClass}")
    }.toSet
    def rangeQ() = read().filter(col("id") >= 2000L && col("id") <= 2100L)
    val cleanScan = scanOf(rangeQ())
    val cleanFiles = filesOf(cleanScan)
    assert(cleanFiles.size < 8 && cleanScan.supportsColumnar)

    // the scattered-key regime: every 8th id masks in EVERY file
    WarehouseFs.deleteWhereVectors(spark, t, "id",
      (0L until 8000L by 8L).toVector, keepVersions = 5)
    assert(WarehouseFs.hasDeletionVectors(spark, t))

    // SAME zone-pruned file subset, SAME columnar posture, NO join node
    // (the old reconciliation swapped in a V1 anti-join plan)
    val dvScan = scanOf(rangeQ())
    assert(filesOf(dvScan) === cleanFiles,
      "a DV'd version must keep bloom/zone file pruning in the scan")
    assert(dvScan.supportsColumnar,
      "a DV'd version must keep the columnar parquet path")
    val planStr = rangeQ().queryExecution.executedPlan.toString
    assert(!planStr.contains("Join"),
      s"the mask must apply inside the scan, not as a plan-level join:\n$planStr")
    assert(planStr.contains("graft-dv"), "the scan advertises the mask")

    // values ≡ the V1 masked read, on every column type
    val v1 = WarehouseFs.readTable(spark, t).get.collect().map(_.toSeq).toSet
    val v2 = read().collect().map(_.toSeq).toSet
    assert(v2 === v1 && v2.size === 7000)
    assert(rangeQ().collect().map(_.toSeq).toSet ===
      WarehouseFs.readTable(spark, t).get
        .filter(col("id") >= 2000L && col("id") <= 2100L)
        .collect().map(_.toSeq).toSet)
    // point reads across the mask boundary
    assert(read().filter(col("id") === 8L).count() === 0)
    assert(read().filter(col("id") === 9L).select("user").as[String]
      .collect().toSeq === Seq("u9"))
    // committed stats still ride along (estimate-only overcount is the
    // documented refreshStats=false staleness class) and aggregates
    // stay honest: COUNT(*) refuses the stale metadata answer
    assert(read().count() === 7000)
    // time travel: the pre-DV version reads unmasked through the scan
    assert(spark.read.format("graft").option("table", t)
      .option("version", "1").load().count() === 8000)
    // OPTIMIZE folds the mask; the wrapper disappears from the plan
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 5)
    assert(!WarehouseFs.hasDeletionVectors(spark, t))
    assert(!read().queryExecution.executedPlan.toString.contains("graft-dv"))
    assert(read().count() === 7000)
  }

  test("runtime file pruning: a broadcast dim join re-prunes fact FILES via the bloom index") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable(); publish(t) // 8 range files, bloom on id/user, zone on id
    // the dim must be a real source with a surviving selective Filter
    // node — a local relation folds the predicate away and the
    // PartitionPruning rule then sees nothing selective to derive from
    val dimPath = s"${java.nio.file.Files.createTempDirectory("graft_rt_dim_")}/d"
    Seq((100L, "x"), (4242L, "y"), (7777L, "z")).toDF("id", "tag")
      .write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rt_dim")
    spark.read.format("graft").option("table", t).load()
      .createOrReplaceTempView("rt_fact")
    val q = spark.sql(
      """SELECT f.id, f.user, d.tag
        |FROM rt_fact f JOIN rt_dim d ON f.id = d.id
        |WHERE d.tag = 'x'""".stripMargin)
    val rows = q.collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((100L, "u100")))
    // AQE wraps the join: query stages are LEAF nodes, so descend into
    // them (and the adaptive root) explicitly
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      p.collect {
        case b: BatchScanExec => Seq(b)
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case qs: QueryStageExec => allScans(qs.plan)
      }.flatten
    }
    val scanExec = allScans(q.queryExecution.executedPlan).head
    assert(scanExec.runtimeFilters.nonEmpty,
      s"DPP must inject a runtime filter into the graft scan:\n" +
        q.queryExecution.executedPlan)
    val meta = scanExec.scan.asInstanceOf[org.apache.spark.sql.graft.GraftMetaScan]
    assert(meta.runtimeEvidence.exists { case (kept, total) =>
      kept < total && kept >= 1 },
      s"the runtime bloom probe must drop fact files, got ${meta.runtimeEvidence}")
  }

  test("range-shaped runtime pruning: comparison predicates probe the " +
      "zone maps and open only in-range files") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable()
    // zone maps ONLY — the point-value bloom probe cannot serve here
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, zoneMapCols = Seq("id"))
    val df = spark.read.format("graft").option("table", t).load()
    val meta = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[org.apache.spark.sql.graft.GraftMetaScan]
    def pred(name: String, v: Long) = new Predicate(name,
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("id"), Expressions.literal(v)))
    meta.filter(Array(pred(">=", 2000L), pred("<=", 2100L)))
    val kept = meta.toBatch.planInputPartitions().length
    assert(meta.runtimeEvidence.exists { case (k, total) =>
      k < total && k >= 1 },
      s"a [2000, 2100] runtime range must drop zone-missed files, " +
        s"got ${meta.runtimeEvidence}")
    assert(kept <= 2, s"8 range files, one in-range: kept $kept")
  }

  test("runtime pruning derives [min,max] from IN values: a zone-mapped, " +
      "bloom-unindexed fact still skips out-of-span files under DPP") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, zoneMapCols = Seq("id"))
    val dimPath =
      s"${java.nio.file.Files.createTempDirectory("graft_rr_dim_")}/d"
    Seq((2000L, "x"), (2050L, "x"), (2100L, "x"), (9999L, "other"))
      .toDF("id", "tag").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rr_dim")
    spark.read.format("graft").option("table", t).load()
      .createOrReplaceTempView("rr_fact")
    val q = spark.sql(
      """SELECT f.id, f.user FROM rr_fact f JOIN rr_dim d ON f.id = d.id
        |WHERE d.tag = 'x'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2000L, 2050L, 2100L))
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      p.collect {
        case b: BatchScanExec => Seq(b)
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case qs: QueryStageExec => allScans(qs.plan)
      }.flatten
    }
    val factScan = allScans(q.queryExecution.executedPlan)
      .find(_.scan.isInstanceOf[org.apache.spark.sql.graft.GraftMetaScan]).get
    val meta = factScan.scan.asInstanceOf[org.apache.spark.sql.graft.GraftMetaScan]
    assert(meta.runtimeEvidence.exists { case (kept, total) =>
      kept < total && kept >= 1 },
      s"the IN-derived span must zone-prune fact files, got " +
        s"${meta.runtimeEvidence}")
  }

  test("in-scan DV masking composes with additive schema evolution (pre-ALTER files NULL-fill)") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(2000).select(col("id"), concat(lit("u"), col("id")).as("user")),
      t, keepVersions = 6, bloomIndexCols = Seq("id"))
    // ALTER adds a column the v1 files don't have, then append post-ALTER
    // rows that do — the masked scan must serve BOTH widths: the
    // generated row-index column and the NULL-filled declared column
    // come from two different reader mechanisms in the same scan
    WarehouseFs.alterAddColumns(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType))))
    WarehouseFs.appendRows(
      spark.range(2000, 2400).select(col("id"),
        concat(lit("u"), col("id")).as("user"), lit("new").as("tag")),
      t, keepVersions = 6)
    // masks land in BOTH width regimes
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(7L, 2007L),
      keepVersions = 6)
    val df = spark.read.format("graft").option("table", t).load()
    assert(df.columns.toSeq === Seq("id", "user", "tag"))
    assert(df.count() === 2398)
    assert(df.filter(col("id").isin(7L, 2007L)).count() === 0)
    assert(df.filter(col("id") === 8L).select("tag").head().isNullAt(0),
      "pre-ALTER rows NULL-fill the added column through the masked scan")
    assert(df.filter(col("id") === 2008L).select("tag").as[String]
      .head() === "new")
    // parity with the V1 masked read
    assert(df.collect().map(_.toSeq).toSet ===
      WarehouseFs.readTable(spark, t).get.collect().map(_.toSeq).toSet)
  }

  test("DV masking preserves the delegate's partition grouping: a multi-" +
      "split masked file keeps its split parallelism, values exact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpTable()
    // ONE file big enough that the scan must split it
    WarehouseFs.publishVersioned(
      spark.range(2000000L).select(col("id"),
        concat(lit("user_payload_padding_padding_"), col("id")).as("user"))
        .coalesce(1),
      t, keepVersions = 5, bloomIndexCols = Seq("id"))
    def read() = spark.read.format("graft").option("table", t).load()
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b }.get
    withConf("spark.sql.files.maxPartitionBytes" -> (1 << 20).toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      val cleanParts = scanOf(read()).inputPartitions.length
      assert(cleanParts > 1, "fixture must be multi-split to prove anything")
      WarehouseFs.deleteWhereVectors(spark, t, "id",
        Seq(5L, 1000000L, 1999999L), keepVersions = 5)
      val df = read()
      assert(scanOf(df).inputPartitions.length === cleanParts,
        "a masked file must keep the clean scan's split grouping — " +
          "single-file re-planning loses its parallelism")
      assert(df.count() === 2000000L - 3)
      assert(df.filter(col("id").isin(5L, 1000000L, 1999999L)).count() === 0)
      assert(df.filter(col("id").isin(4L, 6L, 1999998L)).count() === 3)
    }
  }

  test("scan planning materializes only the SCANNED files' mask entries " +
      "driver-side, never the table's whole mask") {
    val t = tmpTable(); publish(t) // 8 range files, bloom + zones on id
    // every 8th id masks: 125 entries in each of the 8 files
    WarehouseFs.deleteWhereVectors(spark, t, "id",
      (0L until 8000L by 8L).toVector, keepVersions = 5)
    val before = WarehouseFs.dvMaskCollectedEntries.get()
    val pruned = spark.read.format("graft").option("table", t).load()
      .filter(col("id") === 2001L)
    assert(pruned.count() === 1)
    val delta = WarehouseFs.dvMaskCollectedEntries.get() - before
    assert(delta > 0 && delta <= 250,
      s"a 1-file pruned scan must collect ~125 of the 1000 mask entries, " +
        s"collected $delta")
  }
}

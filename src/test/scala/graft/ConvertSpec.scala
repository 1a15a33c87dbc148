package graft

import org.apache.spark.sql.functions._

import graft.sources.WarehouseFs

/** `CONVERT TO GRAFT`: adopt an existing plain-parquet directory as a
  * versioned table at zero data I/O — version 1 references the files
  * where they already live. Reads, time travel, DSv2 partition pruning
  * and copy-on-write DML apply immediately; merge-on-read refuses with
  * the upgrade path until one OPTIMIZE folds the pre-conversion files
  * into managed dirs. */
class ConvertSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_convert_").toString + "/t"

  test("flat directory: zero-copy adoption, value parity, time travel, " +
      "CoW DML carries pre-conversion files by reference") {
    val t = tmpDir()
    spark.range(5000)
      .select(col("id"), concat(lit("u"), col("id")).as("user"))
      .repartition(4).write.parquet(t)
    val preFiles = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(WarehouseFs.convertToGraft(spark, t) === 1L)
    // nothing moved or copied: the same files, byte-for-byte placement
    assert(new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet === preFiles)
    val df = WarehouseFs.readTable(spark, t).get
    assert(df.count() === 5000)
    assert(df.filter(col("id") === 42L).select("user").as[String]
      .head() === "u42")
    assert(WarehouseFs.commitOperation(spark, t, 1L) === Some("convert"))
    // CoW DML: the delete rewrites candidates into a managed dir and
    // carries every untouched pre-conversion file by reference
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 4)
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 4999)
    assert(after.filter(col("id") === 42L).count() === 0)
    assert(after.filter(col("id") === 43L).count() === 1)
    // time travel to the pre-DML converted state still serves
    assert(WarehouseFs.readTableVersion(spark, t, 1L).get.count() === 5000)
    // a second conversion refuses: the directory is managed now
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.convertToGraft(spark, t) }
    assert(e.getMessage.contains("already a versioned graft table"))
  }

  test("Hive-partitioned directory: layout survives adoption — partition " +
      "column serves, DSv2 prunes by it, OPTIMIZE folds into managed dirs") {
    val t = tmpDir()
    spark.range(8000)
      .select(col("id"), (col("id") % 4).cast("int").as("day"),
        concat(lit("u"), col("id")).as("v"))
      .write.partitionBy("day").parquet(t)
    assert(WarehouseFs.convertToGraft(spark, t) === 1L)
    val df = WarehouseFs.readTable(spark, t).get
    assert(df.columns.toSet === Set("id", "day", "v"))
    assert(df.count() === 8000)
    assert(df.filter(col("day") === 3).count() === 2000)
    assert(WarehouseFs.layoutPartitionCols(spark, t) === Seq("day"))
    // DSv2 read + partition value intact
    val ds = spark.read.format("graft").option("table", t).load()
    assert(ds.count() === 8000)
    assert(ds.filter(col("day") === 3 && col("id") === 42L).count() === 0,
      "42 lives in day=2 — the partition value must prune/filter correctly")
    assert(ds.filter(col("day") === 2 && col("id") === 42L).count() === 1)
    // MoR refuses while pre-conversion files are candidates, naming the
    // upgrade path
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(7L),
        keepVersions = 4) }
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
    // partition-pruned CoW update rewrites ONLY day=3: the other days'
    // pre-conversion files are carried BY REFERENCE in the new manifest
    WarehouseFs.updateWhere(spark, t, "day", Seq(3),
      Map("v" -> lit("patched")), keepVersions = 4)
    val upd = WarehouseFs.readTable(spark, t).get
    assert(upd.filter(col("v") === "patched").count() === 2000)
    assert(upd.count() === 8000)
    val carried = WarehouseFs.readTableVersion(spark, t, 2L) // exists
    assert(carried.isDefined)
    assert(new java.io.File(s"$t/day=0").exists(),
      "untouched pre-conversion partitions stay in place, referenced")
    // one OPTIMIZE folds everything into managed dirs → full MoR applies
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 4)
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(7L), keepVersions = 4)
    val masked = WarehouseFs.readTable(spark, t).get
    assert(masked.count() === 7999)
    assert(masked.filter(col("id") === 7L).count() === 0)
    assert(WarehouseFs.hasDeletionVectors(spark, t))
  }

  test("SQL surface: CONVERT TO GRAFT parquet.`path`, then catalog-free " +
      "SQL DML and DESCRIBE HISTORY over the adopted table") {
    val t = tmpDir()
    spark.range(100)
      .select(col("id"), concat(lit("u"), col("id")).as("v"))
      .coalesce(2).write.parquet(t)
    val res = spark.sql(s"CONVERT TO GRAFT parquet.`$t`").collect().head
    assert(res.getLong(0) === 1L && res.getInt(1) === 2)
    val hist = spark.sql(s"DESCRIBE HISTORY `$t`").collect()
    assert(hist.map(_.getString(2)).toSeq === Seq("convert"))
    assert(spark.read.format("graft").option("table", t).load()
      .count() === 100)
  }

  test("REINDEX upgrades a converted table at metadata cost: point " +
      "lookups open ONE of 8 files, CBO sees committed row counts, zero " +
      "data dirs written; sidecars GC with their version") {
    val t = tmpDir()
    spark.range(8000)
      .select(col("id"), concat(lit("u"), col("id")).as("user"))
      .repartitionByRange(8, col("id")).write.parquet(t)
    WarehouseFs.convertToGraft(spark, t)
    // the adoption manifest carries no metadata
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42L)).isEmpty)
    assert(WarehouseFs.readStats(spark, t).isEmpty)
    // bare REINDEX refuses with guidance — nothing to refresh yet
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.reindexCurrentVersion(spark, t) }
    assert(e.getMessage.contains("BLOOM"), e.getMessage)
    def topNames() = new java.io.File(t).listFiles().map(_.getName).toSet
    val before = topNames()
    val res = spark.sql(s"REINDEX TABLE `$t` BLOOM (id) ZONE (id) STATS")
      .collect().head
    assert(res.getLong(0) === 1L && res.getString(1) === "id" &&
      res.getString(2) === "id" && res.getBoolean(3))
    // METADATA cost only: nothing appeared but the sidecar dirs — no
    // data dir was written, no adopted file touched
    assert((topNames() -- before).subsetOf(Set("_index", "_zones", "_stats")),
      s"unexpected new entries: ${topNames() -- before}")
    // point lookup now opens one of the 8 adopted files
    val hit = WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42L)).get
    assert(hit.size === 1, s"bloom must prune to the one file, got $hit")
    val pruned = graftRead(t).filter(col("id").isin(42L))
    assert(pruned.select("user").as[String].collect().toSeq === Seq("u42"))
    // range pruning over the range-clustered adoption
    val zhit = WarehouseFs.zoneCandidateFiles(spark, t, "id", 10L, 20L).get
    assert(zhit.size === 1, s"got $zhit")
    // CBO input: committed row count from the stats sidecar
    assert(WarehouseFs.readStats(spark, t).get.rowCount === 8000L)
    // a subsequent CoW DML rides the new index (file-granular touched
    // set) and CARRIES it forward
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 2)
    assert(WarehouseFs.readTable(spark, t).get.count() === 7999)
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(43L))
      .exists(_.nonEmpty), "the carried index must keep pruning")
    // bare REINDEX now has coverage to refresh — it rebuilds v2's entry
    val (v2, b2, z2, s2) = WarehouseFs.reindexCurrentVersion(spark, t)
    assert(v2 === 2L && b2 === Seq("id") && z2 === Seq("id") && s2)
    // retention: once v1 expires, its sidecar entries die with it
    WarehouseFs.deleteWhere(spark, t, "id", Seq(43L), keepVersions = 2) // v3: v1 GCs
    val idxEntries = new java.io.File(s"$t/_index").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    val retained = WarehouseFs.listVersions(spark, t)
    assert(!retained.contains(1L), "v1 must have expired")
    val liveDirs = retained.flatMap(v =>
      WarehouseFs.describeHistory(spark, t).find(_._1 == v).map(_._3)).toSet
    assert(idxEntries.forall(liveDirs.contains),
      s"expired versions' index entries must GC: $idxEntries vs $liveDirs")
  }

  test("refusals: empty dirs, mixed layouts, half-managed dirs") {
    val empty = tmpDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    val e1 = intercept[IllegalArgumentException] {
      WarehouseFs.convertToGraft(spark, empty) }
    assert(e1.getMessage.contains("no parquet files"))
    val mixed = tmpDir()
    spark.range(10).select(col("id"), (col("id") % 2).as("day"))
      .write.partitionBy("day").parquet(mixed)
    spark.range(10).toDF("id").coalesce(1)
      .write.mode("append").parquet(mixed) // a flat straggler
    val e2 = intercept[IllegalArgumentException] {
      WarehouseFs.convertToGraft(spark, mixed) }
    assert(e2.getMessage.contains("layout"))
  }
}

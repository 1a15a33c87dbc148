package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.WarehouseFs

/** Type widening through the declared-schema epoch: the declaration's
  * type grows along the safe lattice, committed files keep their
  * narrower physical bytes and upcast at the read boundary, new writes
  * land the wider type — and every metadata surface (bloom, zone,
  * committed min/max) stays honest across the mix. */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable() =
    s"${java.nio.file.Files.createTempDirectory("graft_widen_")}/t"

  /** 8 range-clustered files; id INT, score FLOAT, price DECIMAL(7,2). */
  private def publishFixture(t: String): Unit =
    WarehouseFs.publishVersioned(
      spark.range(8000).select(
        col("id").cast("int").as("id"),
        concat(lit("u"), col("id")).as("user"),
        (col("id") % 100).cast("float").as("score"),
        (col("id") % 50 + 0.25).cast("decimal(7,2)").as("price"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 8, collectStats = true,
      bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))

  test("int→long / float→double / decimal-precision widening: old files " +
      "upcast at read, new files land wide, values exact across the mix") {
    val t = tmpTable(); publishFixture(t)
    WarehouseFs.alterWidenColumn(spark, t, "id", LongType)
    WarehouseFs.alterWidenColumn(spark, t, "score", DoubleType)
    WarehouseFs.alterWidenColumn(spark, t, "price", DecimalType(12, 2))
    // narrowing and reinterpreting refuse
    intercept[IllegalArgumentException] {
      WarehouseFs.alterWidenColumn(spark, t, "id", IntegerType) }
    intercept[IllegalArgumentException] {
      WarehouseFs.alterWidenColumn(spark, t, "price", DecimalType(12, 4)) }
    intercept[IllegalArgumentException] {
      WarehouseFs.alterWidenColumn(spark, t, "user", LongType) }
    // API read surfaces the widened schema over the NARROW files
    val df = WarehouseFs.readTable(spark, t).get
    assert(df.schema("id").dataType === LongType)
    assert(df.schema("score").dataType === DoubleType)
    assert(df.schema("price").dataType === DecimalType(12, 2))
    assert(df.count() === 8000)
    val r42 = df.filter(col("id") === 42L).head()
    assert(r42.getAs[Long]("id") === 42L &&
      r42.getAs[Double]("score") === 42.0 &&
      r42.getAs[java.math.BigDecimal]("price").doubleValue() === 42.25)
    // DSv2 read: the vectorized parquet scan serves INT32 bytes under
    // the LONG read schema; filters work in the wider type
    val ds = spark.read.format("graft").option("table", t).load()
    assert(ds.schema("id").dataType === LongType)
    assert(ds.filter(col("id") === 42L).count() === 1)
    assert(ds.agg(sum("id")).head().getLong(0) === 8000L * 7999 / 2)
    // metadata-only COUNT/MIN/MAX answer in the DECLARED type even
    // though the committed zone rows still carry the narrow one
    val mm = ds.agg(count(lit(1)), min("id"), max("id")).head()
    assert(mm.getLong(0) === 8000L && mm.getLong(1) === 0L &&
      mm.getLong(2) === 7999L)
    // DML keys on the widened column with LONG keys: bloom probes
    // canonicalize through the wider type and still prune
    val bloomHit = WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42L))
    assert(bloomHit.exists(fs0 => fs0.nonEmpty && fs0.size < 8),
      s"bloom must prune with a LONG probe over INT-built bitsets, got $bloomHit")
    val zoneHit = WarehouseFs.zoneCandidateFiles(spark, t, "id", 10L, 20L)
    assert(zoneHit.exists(fs0 => fs0.nonEmpty && fs0.size < 8),
      s"zone must prune comparing in the wider type, got $zoneHit")
    // upsert: matched key rewrites (wide file), new key appends
    WarehouseFs.upsertRows(
      Seq((42L, "u42x", 1.5d, new java.math.BigDecimal("9.99")),
        (90001L, "new", 2.5d, new java.math.BigDecimal("1.00")))
        .toDF("id", "user", "score", "price")
        .select(col("id"), col("user"), col("score"),
          col("price").cast("decimal(12,2)").as("price")),
      t, "id", keepVersions = 8, refreshStats = false)
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 8001)
    assert(after.filter(col("id") === 42L).select("user").as[String]
      .head() === "u42x")
    assert(after.filter(col("id") === 90001L).select("score").as[Double]
      .head() === 2.5)
    // the mixed version (old int files + new long file) still serves
    // the DSv2 path whole
    val ds2 = spark.read.format("graft").option("table", t).load()
    assert(ds2.count() === 8001)
    assert(ds2.filter(col("id") > 7990L).count() === 10) // 7991..7999 + 90001
  }

  test("SQL surface: ALTER COLUMN TYPE BIGINT through the catalog; " +
      "SHOW CREATE shows the new type; INSERT and point reads work; " +
      "narrowing refuses") {
    val n = s"widen_sql_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE graft.$n (id INT, v STRING) " +
      "TBLPROPERTIES('keepVersions'='6')")
    spark.sql(s"INSERT INTO graft.$n VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE graft.$n ALTER COLUMN id TYPE BIGINT")
    val show = spark.sql(s"SHOW CREATE TABLE graft.$n").head().getString(0)
    assert(show.toUpperCase.contains("ID BIGINT"),
      s"SHOW CREATE must surface the widened type, got: $show")
    assert(spark.table(s"graft.$n").schema("id").dataType === LongType)
    spark.sql(s"INSERT INTO graft.$n VALUES (${Int.MaxValue.toLong + 7}, 'big')")
    assert(spark.sql(s"SELECT v FROM graft.$n WHERE id = ${Int.MaxValue.toLong + 7}")
      .head().getString(0) === "big")
    assert(spark.sql(s"SELECT sum(id) FROM graft.$n").head().getLong(0) ===
      3L + Int.MaxValue.toLong + 7)
    // narrowing is refused before anything persists — Spark's analyzer
    // rejects the downcast itself (NOT_SUPPORTED_CHANGE_COLUMN); the
    // verb's own lattice guard stands behind it for API callers
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$n ALTER COLUMN id TYPE INT") }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("not a safe widening"), s"got: ${e.getMessage}")
    assert(spark.table(s"graft.$n").schema("id").dataType === LongType,
      "the refused narrowing must not have persisted")
    spark.sql(s"DROP TABLE graft.$n")
  }

  test("float→double widening INVALIDATES that column's bloom bitsets " +
      "(the one lattice member whose string form is unstable) — key DML " +
      "degrades to a full read instead of silently missing rows; other " +
      "columns' bitsets survive") {
    val t = tmpTable()
    // FRACTIONAL float values: 0.1f canonicalizes as "0.1" pre-widen but
    // its exact double reading is "0.10000000149011612" — the unstable
    // case (the integral fixture above never exercises it)
    WarehouseFs.publishVersioned(
      spark.range(8000).select(
        col("id").cast("int").as("id"),
        (col("id") / 10.0).cast("float").as("score"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 8, collectStats = true,
      bloomIndexCols = Seq("id", "score"), zoneMapCols = Seq("id"))
    // pre-widen: both columns prune
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "score", Seq(0.1f))
      .exists(fs0 => fs0.nonEmpty && fs0.size < 8))
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42))
      .exists(fs0 => fs0.nonEmpty && fs0.size < 8))
    WarehouseFs.alterWidenColumn(spark, t, "score", DoubleType)
    // the widened column's bitsets are GONE (None = no index: callers
    // fall back to the full file set) — the alternative is a stale
    // float-form index FALSE-NEGATIVING every fractional double probe
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "score",
      Seq(0.1f.toDouble)).isEmpty,
      "a float-built bitset must not survive a float→double widen")
    // …while the untouched column still prunes
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42))
      .exists(fs0 => fs0.nonEmpty && fs0.size < 8),
      "invalidation must be column-scoped")
    // end-to-end: key DML on the widened column finds its rows through
    // the degraded (full) candidate set — with a stale index this
    // delete would prune away the containing files and remove NOTHING
    val doomed = 0.1f.toDouble // what a post-widen reader naturally probes
    WarehouseFs.deleteWhere(spark, t, "score", Seq(doomed), keepVersions = 8)
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 7999,
      "the row with score 0.1f must actually delete")
    assert(after.filter(col("score") === doomed).count() === 0)
    // REINDEX rebuilds the invalidated column under the WIDE canonical
    // form — pruning returns, and the index finds fractional doubles
    val (rv, rb, _, _) =
      WarehouseFs.reindexCurrentVersion(spark, t, bloomCols = Seq("score"))
    assert(rb === Seq("score"))
    val rebuilt = WarehouseFs.bloomCandidateFiles(spark, t, "score",
      Seq(0.2f.toDouble))
    assert(rebuilt.exists(fs0 => fs0.nonEmpty && fs0.size < 8),
      s"the rebuilt index must prune on double probes, got $rebuilt")
    assert(graftRead(t).filter(col("score").isin(0.2f.toDouble)).count() === 1,
      "and the pruned read finds the row exactly")
    // a table whose ONLY bloom column widens drops the whole entry
    val t2 = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(100).select(col("id").cast("int").as("id"),
        (col("id") / 10.0).cast("float").as("score")),
      t2, keepVersions = 4, bloomIndexCols = Seq("score"))
    assert(WarehouseFs.bloomCandidateFiles(spark, t2, "score", Seq(0.1f))
      .isDefined)
    WarehouseFs.alterWidenColumn(spark, t2, "score", DoubleType)
    assert(WarehouseFs.bloomCandidateFiles(spark, t2, "score",
      Seq(0.1)).isEmpty)
  }

  test("widening composes with RENAME: the mapped, widened column " +
      "serves old files under the new name and the new type") {
    val t = tmpTable(); publishFixture(t)
    WarehouseFs.alterRenameColumn(spark, t, "id", "uid")
    WarehouseFs.alterWidenColumn(spark, t, "uid", LongType)
    val df = WarehouseFs.readTable(spark, t).get
    assert(df.schema("uid").dataType === LongType)
    assert(df.filter(col("uid") === 42L).count() === 1)
    // bloom still prunes: logical name + wider type translate through
    // the mapping to the INT-built physical index
    val hit = WarehouseFs.bloomCandidateFiles(spark, t, "uid", Seq(42L))
    assert(hit.exists(fs0 => fs0.nonEmpty && fs0.size < 8), s"got $hit")
    // a full publish retires mapping AND widening into real bytes
    WarehouseFs.publishVersioned(df, t, keepVersions = 8,
      expectedVersion = WarehouseFs.currentVersion(spark, t).map(_._1))
    assert(WarehouseFs.columnMapping(spark, t).isEmpty)
    val clean = WarehouseFs.readTable(spark, t).get
    assert(clean.schema("uid").dataType === LongType)
    assert(clean.count() === 8000)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.sources.WarehouseFs

/** The graft DSv2 TableCatalog: standard SQL — CREATE/CTAS, INSERT
  * INTO/OVERWRITE, SELECT, MERGE/UPDATE/DELETE — resolving onto the
  * versioned-manifest engine, with the same file-granular CoW economics
  * and index pruning as the API verbs. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val wh = SparkTestBase.catalogWarehouse
  private def fresh(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Parquet files of the CURRENT version's own data dir (the rewritten
    * set of a CoW commit). */
  private def currentDirFiles(path: String): Int = {
    val dir = WarehouseFs.currentVersion(spark, path).get._2
    WarehouseFs.listNames(spark, dir).count(_.endsWith(".parquet")) +
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.listFiles.count(_.getName.endsWith(".parquet"))).sum
  }

  test("CREATE TABLE + INSERT INTO + SELECT round-trip; inserts are append-only commits") {
    val t = fresh("cat_basic")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING)")
    assert(spark.table(s"graft.$t").count() === 0)
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CONCAT('u', id) FROM range(10, 13)")
    assert(spark.sql(s"SELECT * FROM graft.$t ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (10L, "u10"), (11L, "u11"), (12L, "u12")))
    // three commits: create-empty, insert, insert — each append carried
    // prior files by reference (append-only commit); default keepVersions
    // = 2 retains the trailing window
    assert(WarehouseFs.currentVersion(spark, s"$wh/$t").get._1 === 3L)
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === Seq(2L, 3L))
    spark.sql(s"INSERT OVERWRITE graft.$t VALUES (9, 'z')")
    assert(spark.table(s"graft.$t").as[(Long, String)].collect().toSeq ===
      Seq((9L, "z")))
    assert(spark.sql(s"SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains(t))
    spark.sql(s"DROP TABLE graft.$t")
    assert(!spark.catalog.tableExists(s"graft.$t"))
  }

  test("CTAS lands as a versioned table; writeTo().append() advances versions") {
    val t = fresh("cat_ctas")
    spark.sql(s"CREATE TABLE graft.$t AS SELECT id, id % 3 AS grp FROM range(100)")
    assert(spark.table(s"graft.$t").count() === 100)
    spark.range(100, 120).select(col("id"), (col("id") % 3).as("grp"))
      .writeTo(s"graft.$t").append()
    assert(spark.table(s"graft.$t").count() === 120)
    assert(WarehouseFs.readTable(spark, s"$wh/$t").get.count() === 120,
      "catalog tables ARE versioned-manifest tables — the API reads them too")
  }

  test("PARTITIONED BY persists through the empty create: first insert lands key=value layout") {
    val t = fresh("cat_part")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, day INT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CAST(id % 4 AS INT) FROM range(400)")
    val dir = WarehouseFs.currentVersion(spark, s"$wh/$t").get._2
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("day=")),
      "stored PARTITIONED BY must re-apply on the first non-empty append")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$t WHERE day = 2")
      .head().getLong(0) === 100L)
  }

  test("SQL DELETE is file-granular: bloom-pruned candidates only, parity with a full filter") {
    val t = fresh("cat_del")
    val path = s"$wh/$t"
    // registration-free visibility: publish through the API, query via SQL
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      path, keepVersions = 5, bloomIndexCols = Seq("id"))
    spark.sql(s"DELETE FROM graft.$t WHERE id = 4242")
    assert(spark.table(s"graft.$t").count() === 7999)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$t WHERE id = 4242")
      .head().getLong(0) === 0L)
    // the CoW commit rewrote only the bloom candidate file(s), not 8
    val rewritten = currentDirFiles(path)
    assert(rewritten <= 2, s"a 1-key delete must rewrite ≤2 of 8 files, got $rewritten")
    // time travel still serves the pre-delete state
    assert(WarehouseFs.readTableVersion(spark, path, 1).get.count() === 8000)
  }

  test("SQL UPDATE sets expressions on matched rows only, file-granular") {
    val t = fresh("cat_upd")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), (col("id") % 100).as("bal"))
        .repartitionByRange(8, col("id")),
      path, keepVersions = 5, bloomIndexCols = Seq("id"))
    spark.sql(s"UPDATE graft.$t SET bal = bal + 1000 WHERE id IN (7, 4242)")
    val got = spark.sql(
      s"SELECT id, bal FROM graft.$t WHERE id IN (6, 7, 4242) ORDER BY id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((6L, 6L), (7L, 1007L), (4242L, 1042L)))
    assert(currentDirFiles(path) <= 3,
      "a 2-key update must rewrite only the candidate files")
    assert(spark.table(s"graft.$t").count() === 8000)
  }

  test("SQL MERGE: update + insert clauses, value parity with the API verb") {
    val tSql = fresh("cat_merge_sql"); val tApi = fresh("cat_merge_api")
    val seed = spark.range(100)
      .select(col("id"), concat(lit("u"), col("id")).as("user"))
    WarehouseFs.publishVersioned(seed, s"$wh/$tSql", keepVersions = 5,
      bloomIndexCols = Seq("id"))
    WarehouseFs.publishVersioned(seed, s"$wh/$tApi", keepVersions = 5,
      bloomIndexCols = Seq("id"))
    val src = Seq((5L, "five"), (200L, "two hundred")).toDF("id", "user")
    src.createOrReplaceTempView("merge_src")

    spark.sql(s"""MERGE INTO graft.$tSql t USING merge_src s ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET user = s.user
                  WHEN NOT MATCHED THEN INSERT *""")
    WarehouseFs.mergeInto(src, s"$wh/$tApi", "id",
      whenMatchedUpdate = Map("user" -> col("src_user")), keepVersions = 5)

    val sqlState = spark.table(s"graft.$tSql").collect().map(_.toSeq).toSet
    val apiState = WarehouseFs.readTable(spark, s"$wh/$tApi").get
      .collect().map(_.toSeq).toSet
    assert(sqlState === apiState, "SQL MERGE ≡ the API verb")
    assert(sqlState.contains(Seq(5L, "five")) && sqlState.contains(Seq(200L, "two hundred")))
    assert(sqlState.size === 101)
  }

  test("SQL MERGE: conditional matched delete and not-matched-by-source delete") {
    val t = fresh("cat_merge_del")
    WarehouseFs.publishVersioned(
      spark.range(10).select(col("id"), (col("id") * 10).as("amt")),
      s"$wh/$t", keepVersions = 5, bloomIndexCols = Seq("id"))
    Seq((3L, 0L), (4L, 77L), (20L, 5L)).toDF("id", "amt")
      .createOrReplaceTempView("merge_src2")
    // delete matched rows whose incoming amt is 0, update the rest,
    // insert unmatched source rows, purge target rows the source dropped
    // with id ≥ 8
    spark.sql(s"""MERGE INTO graft.$t t USING merge_src2 s ON t.id = s.id
                  WHEN MATCHED AND s.amt = 0 THEN DELETE
                  WHEN MATCHED THEN UPDATE SET amt = s.amt
                  WHEN NOT MATCHED THEN INSERT *
                  WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE""")
    val got = spark.table(s"graft.$t").orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L), (1L, 10L), (2L, 20L), (4L, 77L),
      (5L, 50L), (6L, 60L), (7L, 70L), (20L, 5L)))
  }

  test("DELETE/UPDATE WHERE key IN (subquery) lower onto the key-granular merge path") {
    val t = fresh("cat_insub")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      path, keepVersions = 5, bloomIndexCols = Seq("id"))
    Seq(4242L, 4243L, 9999999L).toDF("id").createOrReplaceTempView("del_stage")
    spark.sql(s"DELETE FROM graft.$t WHERE id IN (SELECT id FROM del_stage)")
    val afterDel = spark.table(s"graft.$t")
    assert(afterDel.count() === 7998)
    assert(afterDel.filter(col("id").isin(4242L, 4243L)).count() === 0)
    // key-granular: the staged keys live in ONE of the 8 range files
    // (inputFiles via the API read — DSv2 scans report none)
    val delRefs = WarehouseFs.readTable(spark, path).get.inputFiles
    assert(delRefs.count(_.contains("/v00000001/")) === 7,
      s"7 files must carry by reference: ${delRefs.toSeq}")
    // residual conjuncts guard the action per matched row
    Seq(10L, 11L, 5000L).toDF("id").createOrReplaceTempView("upd_stage")
    spark.sql(s"UPDATE graft.$t SET user = 'staged' " +
      s"WHERE id IN (SELECT id FROM upd_stage) AND id % 2 = 0")
    val got = spark.table(s"graft.$t")
    assert(got.filter(col("user") === "staged").select("id").as[Long]
      .collect().toSet === Set(10L, 5000L),
      "only even staged ids take the update")
    // NOT IN (null-aware anti semantics) still refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.$t WHERE id NOT IN (SELECT id FROM del_stage)")
    }
    assert(e.getMessage.contains("subquery"), s"got: ${e.getMessage}")
  }

  test("DELETE WHERE EXISTS (correlated equality) lowers onto the staged-key merge path") {
    val t = fresh("cat_exists")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      path, keepVersions = 5, bloomIndexCols = Seq("id"))
    Seq((700L, "hot"), (701L, "cold"), (12345678L, "hot"))
      .toDF("ref_id", "status").createOrReplaceTempView("ex_stage")
    // correlated equality + an inner-only predicate: only 'hot' staged
    // ids delete; 701 survives (status filter), 12345678 misses
    spark.sql(s"DELETE FROM graft.$t WHERE EXISTS " +
      s"(SELECT 1 FROM ex_stage s WHERE s.ref_id = id AND s.status = 'hot')")
    val after = spark.table(s"graft.$t")
    assert(after.count() === 7999)
    assert(after.filter(col("id") === 700L).count() === 0)
    assert(after.filter(col("id") === 701L).count() === 1)
    val refs = WarehouseFs.readTable(spark, path).get.inputFiles
    assert(refs.count(_.contains("/v00000001/")) === 7,
      s"7 files must carry by reference: ${refs.toSeq}")
    // correlation wider than target-key equality still refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.$t WHERE EXISTS " +
        s"(SELECT 1 FROM ex_stage s WHERE s.ref_id > id)")
    }
    assert(e.getMessage.contains("subquery"), s"got: ${e.getMessage}")
  }

  test("static INSERT OVERWRITE PARTITION replaces exactly that partition as a CoW commit") {
    val t = fresh("cat_statovr")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING, day INT) " +
      "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='5')")
    spark.sql(s"INSERT INTO graft.$t " +
      "SELECT id, CONCAT('u', id), CAST(id % 4 AS INT) FROM range(400)")
    val refsBefore = WarehouseFs.readTable(spark, s"$wh/$t").get.inputFiles.toSet
    val otherDayFiles = refsBefore.filterNot(_.contains("day=2"))
    spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (day = 2) " +
      "SELECT id, 'nv' FROM range(5)")
    val after = spark.table(s"graft.$t")
    assert(after.count() === 305, "day 2's 100 rows replaced by 5")
    assert(after.filter(col("day") === 2).select("v").distinct()
      .as[String].collect().toSeq === Seq("nv"))
    assert(after.filter(col("day") =!= 2).count() === 300,
      "other partitions untouched")
    val refsAfter = WarehouseFs.readTable(spark, s"$wh/$t").get.inputFiles.toSet
    assert(otherDayFiles.subsetOf(refsAfter),
      "every other partition's files must carry by reference")
    assert(!refsAfter.exists(f => f.contains("day=2") && refsBefore(f)),
      "day 2's old files must be gone from the new version")
    // a non-partition overwrite filter still refuses
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (day = 2) " +
        "SELECT id, 'x' FROM range(2)")
      // (partition filters are fine — drive a genuine non-partition one
      // through the API spelling)
      spark.range(2).select(col("id"), lit("x").as("v"), lit(2).as("day"))
        .writeTo(s"graft.$t").overwrite(col("id") === 1)
    }
    assert(e.getMessage.contains("not supported"), s"got: ${e.getMessage}")
  }

  test("static INSERT OVERWRITE: full two-level spec replaces; partial spec refuses; empty source truncates") {
    val t = fresh("cat_statovr2")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, a INT, b INT) " +
      "PARTITIONED BY (a, b) TBLPROPERTIES('keepVersions'='8')")
    spark.sql(s"INSERT INTO graft.$t " +
      "SELECT id, CAST(id % 2 AS INT), CAST(id % 3 AS INT) FROM range(120)")
    // full spec: exactly (a=1, b=2) replaced, every other tuple carried
    val before = spark.table(s"graft.$t").filter(col("a") === 1 && col("b") === 2).count()
    assert(before === 20)
    spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (a = 1, b = 2) " +
      "SELECT id FROM range(3)")
    assert(spark.table(s"graft.$t").filter(col("a") === 1 && col("b") === 2)
      .count() === 3)
    assert(spark.table(s"graft.$t").count() === 103)
    // PARTIAL static spec (a pinned, b dynamic): the OverwriteByExpression
    // contract is "delete everything under a=1 then insert" — rows under
    // a=1 with b values absent from the data would silently survive the
    // dynamic verb, so this must refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (a = 1) " +
        "SELECT id, CAST(0 AS INT) FROM range(2)")
    }
    assert(e.getMessage.contains("partial INSERT OVERWRITE"), s"got: ${e.getMessage}")
    // ANSI empty-source truncate: the named partition empties, the rest
    // stays — the touched set derives from the SPEC, not the data
    spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (a = 1, b = 2) " +
      "SELECT id FROM range(5) WHERE id < 0")
    assert(spark.table(s"graft.$t").filter(col("a") === 1 && col("b") === 2)
      .count() === 0, "empty source must truncate the named partition")
    assert(spark.table(s"graft.$t").count() === 100, "other partitions intact")
    // a spec naming a partition that never existed, with an empty source:
    // provably nothing to do, no version bump
    val v0 = WarehouseFs.currentVersion(spark, s"$wh/$t").get._1
    spark.sql(s"INSERT OVERWRITE graft.$t PARTITION (a = 7, b = 7) " +
      "SELECT id FROM range(5) WHERE id < 0")
    assert(WarehouseFs.currentVersion(spark, s"$wh/$t").get._1 === v0)
  }

  test("SQL MERGE: multiple conditional matched clauses fold first-match-wins (ANSI order)") {
    val t = fresh("cat_merge_multi")
    WarehouseFs.publishVersioned(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("id", "v", "amt"),
      s"$wh/$t", keepVersions = 5, bloomIndexCols = Seq("id"))
    Seq((1L, "x1", 100L, 100L), (2L, "x2", 5L, 5L), (3L, "x3", 200L, 200L),
        (4L, "x4", 999L, 999L), (5L, "new", 50L, 50L), (6L, "no", 10L, 10L))
      .toDF("id", "v", "amt", "delta").createOrReplaceTempView("mm_src")
    spark.sql(s"""MERGE INTO graft.$t g USING mm_src s ON g.id = s.id
                  WHEN MATCHED AND s.delta > 150 THEN UPDATE SET v = 'big', amt = s.delta
                  WHEN MATCHED AND g.amt < 15 THEN UPDATE SET v = 'small'
                  WHEN MATCHED AND s.delta = 999 THEN DELETE
                  WHEN NOT MATCHED AND s.delta >= 50 THEN INSERT *""")
    val got = spark.table(s"graft.$t").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    // id 4 (delta 999) is claimed by the FIRST clause (999 > 150) — the
    // later DELETE never sees it; id 6 fails the insert gate and drops
    assert(got === Seq((1L, "small", 10L), (2L, "b", 20L),
      (3L, "big", 200L), (4L, "big", 999L), (5L, "new", 50L)))
    // a trailing unconditional clause takes everything earlier ones left
    spark.sql(s"""MERGE INTO graft.$t g USING mm_src s ON g.id = s.id
                  WHEN MATCHED AND g.v = 'big' THEN UPDATE SET v = 'kept'
                  WHEN MATCHED THEN DELETE""")
    assert(spark.table(s"graft.$t").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((3L, "kept", 200L), (4L, "kept", 999L)))
  }

  test("SQL MERGE: conditional NOT MATCHED insert gates on source rows; target refs refuse") {
    val t = fresh("cat_merge_cins")
    WarehouseFs.publishVersioned(
      Seq((1L, "a")).toDF("id", "v"),
      s"$wh/$t", keepVersions = 5, bloomIndexCols = Seq("id"))
    Seq((1L, "m1"), (2L, "m2"), (3L, "m3"), (4L, "m4")).toDF("id", "v")
      .createOrReplaceTempView("ci_src")
    spark.sql(s"""MERGE INTO graft.$t g USING ci_src s ON g.id = s.id
                  WHEN NOT MATCHED AND s.id % 2 = 0 THEN INSERT *""")
    assert(spark.table(s"graft.$t").orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "m2"), (4L, "m4")),
      "only even unmatched ids pass the gate; matched rows untouched")
    // a NOT MATCHED gate referencing target columns cannot evaluate on
    // source rows — refused (by graft or by Spark's own resolution)
    intercept[Exception] {
      spark.sql(s"""MERGE INTO graft.$t g USING ci_src s ON g.id = s.id
                    WHEN NOT MATCHED AND g.v IS NULL THEN INSERT *""")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: additive columns at zero data I/O, file-granular merge") {
    val t = fresh("cat_merge_evo")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      path, keepVersions = 5, bloomIndexCols = Seq("id"))
    spark.range(4242, 4243).select(col("id"), lit("w").as("user"),
      lit(7.5).as("score")).createOrReplaceTempView("evo_src")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$t g
                  USING evo_src s ON g.id = s.id
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.table(s"graft.$t")
    assert(got.columns.toSeq === Seq("id", "user", "score"),
      "the source's new column must evolve the table")
    assert(got.count() === 8000)
    assert(got.filter(col("id") === 4242).select("user", "score").head()
      .toSeq === Seq("w", 7.5))
    assert(got.filter(col("score").isNotNull).count() === 1,
      "pre-evolution rows read NULL for the added column")
    // the evolution was a SIDECAR write + a file-granular CoW merge —
    // 7 of the 8 original files must carry by reference, un-rewritten
    val files = WarehouseFs.readTable(spark, path).get.inputFiles
    assert(files.count(_.contains("/v00000001/")) === 7,
      s"evolution must not rewrite untouched files: ${files.toSeq}")
    assert(WarehouseFs.declaredSchema(spark, path).isDefined,
      "the declared-schema sidecar carries the evolved width")
    // parity with the API composition: alterAddColumns + mergeIntoKeys
    val tApi = fresh("cat_merge_evo_api")
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      s"$wh/$tApi", keepVersions = 5, bloomIndexCols = Seq("id"))
    WarehouseFs.alterAddColumns(spark, s"$wh/$tApi",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
    WarehouseFs.mergeIntoKeys(
      spark.range(4242, 4243).select(col("id"), lit("w").as("user"),
        lit(7.5).as("score")),
      s"$wh/$tApi", Seq("id"),
      whenMatchedUpdate = Map("user" -> col("src_user"),
        "score" -> col("src_score")),
      keepVersions = 5)
    assert(got.collect().map(_.toSeq).toSet ===
      WarehouseFs.readTable(spark, s"$wh/$tApi").get.collect().map(_.toSeq).toSet,
      "SQL evolution merge ≡ alterAddColumns + the API verb")
  }

  test("unsupported DML shapes fail loudly, naming the clause") {
    val t = fresh("cat_unsup")
    WarehouseFs.publishVersioned(
      spark.range(5).select(col("id"), col("id").as("v")), s"$wh/$t",
      keepVersions = 2)
    spark.range(3).select(col("id"), col("id").as("v"))
      .createOrReplaceTempView("unsup_src")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO graft.$t t USING unsup_src s
                    ON t.id = s.id AND t.v > 2
                    WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("graft DML"), s"got: ${e.getMessage}")
  }

  test("DML on a catalog-created, bloom-propertied table keeps its index maintained") {
    val t = fresh("cat_props")
    spark.sql(s"""CREATE TABLE graft.$t (id BIGINT, v STRING)
                  TBLPROPERTIES ('bloomIndexCols'='id', 'keepVersions'='5')""")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CONCAT('u', id) FROM range(1000)")
    // the bloom index exists and serves point pruning through the API too
    val cand = WarehouseFs.bloomCandidateFiles(spark, s"$wh/$t", "id", Seq(7L))
    assert(cand.isDefined, "catalog-stored bloomIndexCols must build the index")
    spark.sql(s"DELETE FROM graft.$t WHERE id = 7")
    assert(spark.table(s"graft.$t").count() === 999)
  }

  test("maintenance SQL: DESCRIBE HISTORY, OPTIMIZE, VACUUM") {
    val t = fresh("cat_maint")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keepVersions'='5', 'bloomIndexCols'='id')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CONCAT('u', id) FROM range(1000)")
    spark.sql(s"DELETE FROM graft.$t WHERE id = 7")
    val hist = spark.sql(s"DESCRIBE HISTORY graft.$t")
    assert(hist.columns.toSeq ===
      Seq("version", "committed_at", "operation", "txn", "data_dir",
        "format", "files", "bytes"))
    val rows = hist.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // the committing verb rides in the manifest — the provenance that
    // answers "which commit was the bad DML" before a RESTORE
    assert(rows.map(_.getString(2)).toSeq === Seq("full", "append", "delete"))
    // no streaming writer here → no idempotent-writer stamp
    assert(rows.map(_.getString(3)).toSeq === Seq("-", "-", "-"))
    assert(rows.last.getString(5) === "file-list", "a CoW delete commits a file-list manifest")
    // OPTIMIZE folds the CoW chain into one full-publish version,
    // preserving the bloom index through the rewrite
    val opt = spark.sql(s"OPTIMIZE graft.$t").collect()
    assert(opt.head.getLong(0) === 4L)
    assert(WarehouseFs.commitOperation(spark, s"$wh/$t", 4L)
      .contains("optimize"))
    assert(spark.table(s"graft.$t").count() === 999)
    assert(WarehouseFs.bloomCandidateFiles(spark, s"$wh/$t", "id", Seq(9L))
      .isDefined, "OPTIMIZE must keep the bloom index")
    // a BARE vacuum GCs to the table's own stored retention (5): with
    // only one retained version left it provably removes nothing
    spark.sql(s"INSERT INTO graft.$t VALUES (5000, 'x')") // v5
    spark.sql(s"VACUUM graft.$t")
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") ===
      Seq(1L, 2L, 3L, 4L, 5L),
      "bare VACUUM must honor the stored keepVersions, not a default")
    // VACUUM RETAIN tightens retention and GCs unreferenced dirs now
    spark.sql(s"VACUUM graft.$t RETAIN 1 VERSIONS")
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === Seq(5L))
    assert(spark.table(s"graft.$t").count() === 1000)
    // everything else still parses through the delegate
    assert(spark.sql("SELECT 1 AS x").head().getInt(0) === 1)
    intercept[Exception] { spark.sql("OPTIMIZE graft.nope_missing").collect() }
  }

  test("storage-partitioned join: co-partitioned graft tables join with ZERO Exchanges") {
    val a = fresh("cat_spj_a"); val b = fresh("cat_spj_b")
    for (t <- Seq(a, b)) {
      spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING, day INT) " +
        "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='4')")
      spark.sql(s"INSERT INTO graft.$t " +
        s"SELECT id, CONCAT('$t', id), CAST(id % 8 AS INT) FROM range(4000)")
    }
    def joined = spark.sql(
      s"""SELECT x.day AS day, COUNT(*) AS n
         |FROM graft.$a x JOIN graft.$b y ON x.day = y.day
         |GROUP BY x.day""".stripMargin)
    // the baseline plan shuffles both sides on day
    val shuffled = joined.collect().map(_.toSeq).toSet
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
             "spark.graft.planning.preserveDataGrouping" -> "true",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"two day-partitioned graft tables joined on day must not shuffle:\n$plan")
      assert(joined.collect().map(_.toSeq).toSet === shuffled,
        "the storage-partitioned plan must be value-identical to the shuffled one")
    }
  }

  test("storage-partitioned join composes with the MoR window: masked " +
      "co-partitioned tables still join with ZERO Exchanges") {
    val a = fresh("cat_spjdv_a"); val b = fresh("cat_spjdv_b")
    for (t <- Seq(a, b)) {
      spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING, day INT) " +
        "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='4')")
      spark.sql(s"INSERT INTO graft.$t " +
        s"SELECT id, CONCAT('$t', id), CAST(id % 8 AS INT) FROM range(4000)")
    }
    // deletion vectors on BOTH sides — pre-r14 this reported unknown
    // partitioning and re-introduced both Exchanges for the MoR window
    WarehouseFs.deleteWhereVectors(spark, s"$wh/$a", "id",
      Seq(8L, 16L, 1000L), keepVersions = 4)
    WarehouseFs.deleteWhereVectors(spark, s"$wh/$b", "id",
      Seq(24L, 2000L), keepVersions = 4)
    assert(WarehouseFs.hasDeletionVectors(spark, s"$wh/$a"))
    def joined = spark.sql(
      s"""SELECT x.day AS day, COUNT(*) AS n
         |FROM graft.$a x JOIN graft.$b y ON x.day = y.day
         |GROUP BY x.day""".stripMargin)
    val shuffled = joined.collect().map(_.toSeq).toSet
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
             "spark.graft.planning.preserveDataGrouping" -> "true",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"masked co-partitioned tables joined on day must not shuffle:\n$plan")
      assert(joined.collect().map(_.toSeq).toSet === shuffled,
        "the masked storage-partitioned plan must be value-identical")
    }
  }

  test("committed column stats reach the CBO: NDV/null/min-max from the stats sidecar") {
    val t = fresh("cat_cbo")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(1000).select(col("id"), (col("id") % 13).as("grp"),
        concat(lit("u"), col("id")).as("user")),
      path, keepVersions = 4, collectStats = true, zoneMapCols = Seq("id"))
    withConf("spark.sql.cbo.enabled" -> "true") {
      val rel = spark.table(s"graft.$t").queryExecution.optimizedPlan
        .collect { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
        .head
      val stats = rel.computeStats()
      assert(stats.rowCount.contains(BigInt(1000)))
      val byName = stats.attributeStats.map { case (k, v) => k.name -> v }
      assert(byName.contains("grp"), s"got attrs: ${byName.keySet}")
      val grp = byName("grp")
      assert(grp.distinctCount.exists(d => d >= 12 && d <= 14),
        s"approx NDV of grp must be ~13, got ${grp.distinctCount}")
      assert(grp.nullCount.contains(BigInt(0)))
      assert(byName("id").min.contains(0L) && byName("id").max.contains(999L),
        s"id bounds from the committed profile, got ${byName("id")}")
    }
  }

  test("ANALYZE histograms: equi-height bins reach the CBO and fix skewed selectivity") {
    val t = fresh("cat_hist")
    val path = s"$wh/$t"
    // severe skew min/max cannot see: 99% of v lies in [0, 49], 1% at 900
    WarehouseFs.publishVersioned(
      spark.range(10000).select(col("id"),
        when(col("id") % 100 === 0, lit(900L)).otherwise(col("id") % 50)
          .as("v")),
      path, keepVersions = 4, collectStats = true)
    withConf("spark.sql.cbo.enabled" -> "true",
             "spark.sql.statistics.histogram.enabled" -> "true",
             "spark.sql.statistics.histogram.numBins" -> "16") {
      spark.sql(s"ANALYZE TABLE graft.$t COMPUTE STATISTICS")
      val rel = spark.table(s"graft.$t").queryExecution.optimizedPlan
        .collect { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
        .head
      val vStat = rel.computeStats().attributeStats
        .collectFirst { case (k, s) if k.name == "v" => s }.get
      assert(vStat.histogram.isDefined,
        "ANALYZE under Spark's histogram switches must publish bins")
      assert(vStat.histogram.get.bins.length === 16)
      // selectivity of v > 100: truth = 100 rows (the 1% at 900).
      // A min/max-uniform estimate says (900-100)/900 ≈ 89% ≈ 8900 rows;
      // the bins confine the tail to ~1/16 of the mass
      val est = spark.table(s"graft.$t").filter(col("v") > 100L)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(_ < BigInt(2000)),
        s"histogram estimate must beat uniform (~8900), got $est")
    }
    // without histograms (fresh ANALYZE under default switches), the
    // same filter mis-estimates by the uniform assumption — the
    // contrast that proves the bins are doing the work
    withConf("spark.sql.cbo.enabled" -> "true") {
      spark.sql(s"ANALYZE TABLE graft.$t COMPUTE STATISTICS")
      val est = spark.table(s"graft.$t").filter(col("v") > 100L)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(_ > BigInt(5000)),
        s"uniform estimate should be ~8900 without bins, got $est")
    }
  }

  test("ANALYZE histograms on DATE and TIMESTAMP columns: the pipeline's " +
      "own skew dimension estimates bins-accurate") {
    val t = fresh("cat_hist_dt")
    val path = s"$wh/$t"
    // the report_dt shape: 99% of dates in a 50-day window, 1% at day
    // 900 — min/max-uniform mispredicts a recent-date filter by ~89×
    val dayOff = when(col("id") % 100 === 0, lit(900))
      .otherwise((col("id") % 50).cast("int")).cast("int")
    WarehouseFs.publishVersioned(
      spark.range(10000).select(col("id"),
        date_add(lit("2026-01-01").cast("date"), dayOff).as("report_dt"),
        timestamp_seconds(lit(1767225600L) + dayOff.cast("long") * 86400L)
          .as("evt_ts")),
      path, keepVersions = 4, collectStats = true)
    withConf("spark.sql.cbo.enabled" -> "true",
             "spark.sql.statistics.histogram.enabled" -> "true",
             "spark.sql.statistics.histogram.numBins" -> "16") {
      spark.sql(s"ANALYZE TABLE graft.$t COMPUTE STATISTICS")
      val rel = spark.table(s"graft.$t").queryExecution.optimizedPlan
        .collect { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
        .head
      val stats = rel.computeStats().attributeStats
      def statOf(n: String) =
        stats.collectFirst { case (k, s) if k.name == n => s }.get
      assert(statOf("report_dt").histogram.isDefined,
        "DATE columns must publish equi-height bins (days since epoch)")
      assert(statOf("evt_ts").histogram.isDefined,
        "TIMESTAMP columns must publish equi-height bins (µs since epoch)")
      // truth = 100 rows (the 1% tail); uniform says ~8900
      val estD = spark.table(s"graft.$t")
        .filter(col("report_dt") > lit("2026-04-15").cast("date"))
        .queryExecution.optimizedPlan.stats.rowCount
      assert(estD.exists(_ < BigInt(2000)),
        s"date histogram estimate must beat uniform (~8900), got $estD")
      val estT = spark.table(s"graft.$t")
        .filter(col("evt_ts") > timestamp_seconds(lit(1767225600L + 104L * 86400L)))
        .queryExecution.optimizedPlan.stats.rowCount
      assert(estT.exists(_ < BigInt(2000)),
        s"timestamp histogram estimate must beat uniform (~8900), got $estT")
    }
  }

  test("dmlMode=mor: SQL DELETE/UPDATE commit deletion vectors; DSv2 SELECT reconciles them") {
    val t = fresh("cat_mor")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, user STRING) " +
      "TBLPROPERTIES('dmlMode'='mor', 'bloomIndexCols'='id', " +
      "'keepVersions'='8', 'keyCols'='id')")
    spark.sql(s"INSERT INTO graft.$t " +
      "SELECT id, CONCAT('u', id) FROM range(4000)")                  // v2
    spark.sql(s"DELETE FROM graft.$t WHERE id IN (5, 1005, 2005)")    // v3: sidecar only
    assert(WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    assert(!new java.io.File(
      WarehouseFs.currentVersion(spark, s"$wh/$t").get._2).exists(),
      "a mor DELETE must commit zero data files")
    // DSv2 SELECT reconciles the mask (the DvRead rule)
    assert(spark.table(s"graft.$t").count() === 3997)
    assert(spark.sql(s"SELECT * FROM graft.$t WHERE id = 1005").count() === 0)
    assert(spark.sql(s"SELECT user FROM graft.$t WHERE id = 1006")
      .as[String].head() === "u1006")
    // aggregate answers stay honest (no stale metadata count)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft.$t").head().getLong(0) === 3997)
    // mor UPDATE: mask + one small file of updated images
    spark.sql(s"UPDATE graft.$t SET user = 'zz' WHERE id = 8")        // v4
    assert(spark.sql(s"SELECT user FROM graft.$t WHERE id = 8")
      .as[String].collect().toSeq === Seq("zz"))
    assert(spark.table(s"graft.$t").count() === 3997)
    // DESCRIBE DETAIL surfaces the mask size AND the delta-chain length
    // (the two OPTIMIZE signals)
    val detail = spark.sql(s"DESCRIBE DETAIL graft.$t").collect().head
    assert(detail.getAs[Long]("masked_rows") === 4L, "3 deletes + 1 update mask")
    assert(detail.getAs[Int]("dv_delta_files") >= 2,
      "each MoR commit contributes at least one carried delta file")
    // time travel reads each version's own mask
    assert(spark.sql(s"SELECT * FROM graft.$t VERSION AS OF 2").count() === 4000)
    assert(spark.sql(s"SELECT * FROM graft.$t VERSION AS OF 3").count() === 3997)
    // the batch feed classifies from the DV delta
    assert(spark.sql(s"SELECT * FROM table_changes('graft.$t', 3, 3)")
      .select("id", "_change_type").as[(Long, String)].collect().toSet ===
      Set((5L, "delete"), (1005L, "delete"), (2005L, "delete")))
    // mor MERGE: matched rows mask + images/inserts land as one small
    // file; no pre-existing file rewrites
    Seq((7L, "m7"), (99999L, "ins")).toDF("id", "user")
      .createOrReplaceTempView("mor_src")
    // inputFiles of a masked read includes the _dv sidecar, which is
    // per-version by design — compare DATA files only
    val filesBefore = spark.table(s"graft.$t").inputFiles
      .filterNot(_.contains("/_dv/")).toSet
    spark.sql(s"""MERGE INTO graft.$t g USING mor_src s ON g.id = s.id
                  WHEN MATCHED THEN UPDATE SET user = s.user
                  WHEN NOT MATCHED THEN INSERT *""")            // v5
    assert(spark.sql(s"SELECT user FROM graft.$t WHERE id IN (7, 99999)")
      .as[String].collect().sorted.toSeq === Seq("ins", "m7"))
    assert(spark.table(s"graft.$t").count() === 3998)
    assert(filesBefore.subsetOf(spark.table(s"graft.$t").inputFiles
        .filterNot(_.contains("/_dv/")).toSet),
      "a mor MERGE must carry every pre-existing data file by reference")
    // OPTIMIZE folds the vectors; the steady-state DSv2 scan returns
    spark.sql(s"OPTIMIZE graft.$t")
    assert(!WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    assert(spark.table(s"graft.$t").count() === 3998)
    assert(spark.sql(s"SELECT user FROM graft.$t WHERE id = 8")
      .as[String].collect().toSeq === Seq("zz"))
  }

  test("table_changes TVF: SQL feed ≡ API feed, timestamp bounds via commit instants, retention refuses") {
    val t = fresh("cat_tvf")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keyCols'='id', 'keepVersions'='10', " +
      "'bloomIndexCols'='id')")                                       // v1
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 'a'), (2, 'b')")      // v2
    Thread.sleep(20); val betweenMs = System.currentTimeMillis(); Thread.sleep(20)
    spark.sql(s"UPDATE graft.$t SET v = 'a2' WHERE id = 1")           // v3
    spark.sql(s"DELETE FROM graft.$t WHERE id = 2")                   // v4
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "_change_type", "_commit_version")
        .collect().map(_.toSeq).toSet
    // SQL feed ≡ API feed over an explicit version range
    val sqlFeed = spark.sql(s"SELECT * FROM table_changes('graft.$t', 2, 4)")
    val apiFeed = WarehouseFs.tableChanges(spark, s"$wh/$t", Seq("id"), 2L, Some(4L))
    assert(canon(sqlFeed) === canon(apiFeed))
    assert(canon(sqlFeed) === Set(
      Seq(1L, "a", "insert", 2L), Seq(2L, "b", "insert", 2L),
      Seq(1L, "a", "update_preimage", 3L), Seq(1L, "a2", "update_postimage", 3L),
      Seq(2L, "b", "delete", 4L)))
    // the commit-instant stamp rides along and is monotone
    val stamps = sqlFeed.select("_commit_version", "_commit_timestamp")
      .distinct().collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
      .toMap
    assert(stamps.keySet === Set(2L, 3L, 4L) && stamps(2L) <= stamps(4L))
    // omitted `to` = current version; version 1 arrives as the initial
    // (empty-table) snapshot
    assert(spark.sql(s"SELECT * FROM table_changes('graft.$t', 1)")
      .count() === 5, "v1 is the created-empty snapshot: zero rows of it")
    // a version bound past the current head refuses at analysis
    val e0 = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('graft.$t', 2, 99)").collect()
    }
    assert(e0.getMessage.contains("after the current version"), s"got: ${e0.getMessage}")
    // TIMESTAMP bounds resolve through the manifest commit instants:
    // from = earliest commit at-or-after the instant
    val tsFeed2 = spark.sql(s"SELECT * FROM table_changes('graft.$t', '$betweenMs')")
    assert(tsFeed2.select("_commit_version").distinct()
      .as[Long].collect().toSet === Set(3L, 4L),
      "a timestamp between v2 and v3 starts the feed at v3")
    // out-of-retention refuses loudly (v2's predecessor GC'd)
    spark.sql(s"VACUUM graft.$t RETAIN 2 VERSIONS")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('graft.$t', 2, 4)").collect()
    }
    assert(e.getMessage.contains("no longer retained"), s"got: ${e.getMessage}")
    // a table with no keyCols property refuses with guidance
    val t2 = fresh("cat_tvf2")
    spark.sql(s"CREATE TABLE graft.$t2 (id BIGINT)")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('graft.$t2', 1)").collect()
    }
    assert(e2.getMessage.contains("keyCols"), s"got: ${e2.getMessage}")
  }

  test("ANALYZE TABLE refreshes committed stats after stale-copy commits; non-graft delegates") {
    val t = fresh("cat_analyze")
    val path = s"$wh/$t"
    WarehouseFs.publishVersioned(
      spark.range(1000).select(col("id"), (col("id") % 7).as("grp")),
      path, keepVersions = 5, collectStats = true, bloomIndexCols = Seq("id"))
    // a DV commit copies stats forward — the recorded row count goes stale
    WarehouseFs.deleteWhereVectors(spark, path, "id",
      (0L until 100L).toVector, keepVersions = 5)
    assert(WarehouseFs.readStats(spark, path).get.rowCount === 1000L,
      "copied-forward stats overcount the masked rows (the documented trade)")
    val row = spark.sql(s"ANALYZE TABLE graft.$t COMPUTE STATISTICS").collect().head
    assert(row.getLong(1) === 900L, "ANALYZE re-profiles the LOGICAL content")
    assert(WarehouseFs.readStats(spark, path).get.rowCount === 900L)
    assert(WarehouseFs.readStats(spark, path).get.column("grp")
      .exists(_.nDistinct.exists(d => d >= 6 && d <= 8)))
    // the session catalog's own ANALYZE still parses through the delegate
    spark.sql("CREATE TABLE IF NOT EXISTS sc_analyze_probe (id INT) USING parquet")
    try spark.sql("ANALYZE TABLE sc_analyze_probe COMPUTE STATISTICS")
    finally spark.sql("DROP TABLE IF EXISTS sc_analyze_probe")
  }

  test("time retention: keepDays survives a compaction storm; RETAIN n DAYS/HOURS from commit instants") {
    val t = fresh("cat_timeret")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT) " +
      "TBLPROPERTIES('keepVersions'='2', 'keepDays'='7')")
    // a storm: 6 versions within seconds — count retention (2) alone
    // would GC four of them and destroy the time-travel window
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO graft.$t VALUES ($i)"))
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === (1L to 6L),
      "every write path's GC must honor the stored keepDays window")
    // bare VACUUM and even an explicit COUNT tightening cannot break the
    // stored time guarantee (union semantics — the stricter rule wins)
    spark.sql(s"VACUUM graft.$t")
    spark.sql(s"VACUUM graft.$t RETAIN 1 VERSIONS")
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === (1L to 6L))
    // HOURS spelling parses and resolves from manifest commit instants
    spark.sql(s"VACUUM graft.$t RETAIN 1 HOURS")
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === (1L to 6L))
    // DESCRIBE DETAIL surfaces the time-travel floor
    val d = spark.sql(s"DESCRIBE DETAIL graft.$t").collect().head
    assert(d.getAs[java.sql.Timestamp]("oldest_retained_at").getTime <=
      d.getAs[java.sql.Timestamp]("committed_at").getTime)
    assert(d.getAs[Int]("retained_versions") === 6)
    // an explicit zero-width window overrides the stored time rule for
    // this vacuum; the count rule (stored keepVersions = 2) remains
    WarehouseFs.vacuum(spark, s"$wh/$t", keepVersions = 2, retainDays = Some(0.0))
    assert(WarehouseFs.listVersions(spark, s"$wh/$t") === Seq(5L, 6L))
  }

  test("OPTIMIZE ZORDER BY: a scattered table gets selective zone pruning back") {
    val t = fresh("cat_zopt")
    val path = s"$wh/$t"
    // hash-scattered layout: every file spans ~the full (x, y) domain —
    // the state a DML-heavy chain degrades into — so a range probe's
    // zone maps keep every file
    val base = spark.range(40000).select(col("id"),
      pmod(col("id") * 2654435761L, lit(10000L)).as("x"),
      pmod(col("id") * 40503L, lit(10000L)).as("y"))
      .repartition(8)
    WarehouseFs.publishVersioned(base, path, keepVersions = 5,
      bloomIndexCols = Seq("id"), zoneMapCols = Seq("x", "y"))
    // one CoW update to give OPTIMIZE a chain to fold
    spark.sql(s"UPDATE graft.$t SET y = 0 WHERE id = 7")
    val contentBefore = spark.table(s"graft.$t").collect().map(_.toSeq).toSet
    val probe = Map("x" -> ((100L: Any, 600L: Any)))
    val before = WarehouseFs.prunedFiles(spark, path, ranges = probe).get
    assert(before._3 === before._4,
      s"scattered layout must defeat zone pruning (kept ${before._3} of ${before._4})")

    val res = spark.sql(s"OPTIMIZE graft.$t ZORDER BY (x, y)").collect()
    assert(res.head.getLong(0) === 3L, "OPTIMIZE must commit a new version")
    assert(spark.table(s"graft.$t").collect().map(_.toSeq).toSet ===
      contentBefore, "same rows, new order")
    // metadata preserved: bloom carried, zone maps rebuilt over (x, y)
    val (bloomCols, zoneCols, _) = WarehouseFs.versionMetadata(spark, path)
    assert(bloomCols === Seq("id") && zoneCols.toSet === Set("x", "y"))

    // the sizing target makes this tiny table ONE file — re-cluster the
    // API way with a 1 MB target to hold the multi-file pruning bound
    val big = spark.range(2000000).select(col("id"),
      pmod(col("id") * 2654435761L, lit(10000L)).as("x"),
      pmod(col("id") * 40503L, lit(10000L)).as("y"))
      .repartition(16)
    val tb = fresh("cat_zopt_big")
    WarehouseFs.publishVersioned(big, s"$wh/$tb", keepVersions = 5,
      zoneMapCols = Seq("x", "y"))
    val b0 = WarehouseFs.prunedFiles(spark, s"$wh/$tb", ranges = probe).get
    assert(b0._3 === b0._4, "scattered: nothing prunes")
    graft.operators.ScaleJoins.zOrderCompact(spark, s"$wh/$tb",
      Seq("x", "y"), targetMB = 1)
    val b1 = WarehouseFs.prunedFiles(spark, s"$wh/$tb", ranges = probe).get
    assert(b1._4 > 4, s"sizing must produce several files, got ${b1._4}")
    assert(b1._3 * 2 <= b1._4,
      s"a 5% x-range must prune at least half the z-ordered files " +
        s"(kept ${b1._3} of ${b1._4})")
  }

  test("ALTER TABLE ADD COLUMNS: additive evolution without rewriting a byte") {
    val t = fresh("cat_alter")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keepVersions'='5')")
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE graft.$t ADD COLUMNS (score DOUBLE)")
    // pre-ALTER rows surface NULL through SQL (DSv2) and the API read
    assert(spark.table(s"graft.$t").columns.toSeq === Seq("id", "v", "score"))
    assert(spark.sql(s"SELECT score FROM graft.$t WHERE id = 1").head().isNullAt(0))
    assert(WarehouseFs.readTable(spark, s"$wh/$t").get.columns.toSeq ===
      Seq("id", "v", "score"))
    // new writes carry the column; a mixed old/new-width manifest reads whole
    spark.sql(s"INSERT INTO graft.$t VALUES (3, 'c', 0.5)")
    assert(spark.sql(s"SELECT id FROM graft.$t WHERE score > 0")
      .as[Long].collect() === Array(3L))
    assert(spark.table(s"graft.$t").count() === 3)
    // CoW DML sees the evolved width: SET the new column on a pre-ALTER row
    spark.sql(s"UPDATE graft.$t SET score = 9.0 WHERE id = 1")
    assert(spark.sql(s"SELECT score FROM graft.$t WHERE id = 1")
      .head().getDouble(0) === 9.0)
    // duplicate names and reinterpreting changes refuse loudly
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$t ADD COLUMNS (v INT)")
    }
    assert(dup.getMessage.contains("already exist"), s"got: ${dup.getMessage}")
    // renames are now column-mapping metadata (ColumnMappingSpec); TYPE
    // changes still reinterpret written bytes and refuse
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$t ALTER COLUMN score TYPE INT")
    }
    // NOT NULL would silently become nullable (existing rows have no
    // value); FIRST/AFTER would reorder committed files — both refuse
    val nn = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$t ADD COLUMNS (w INT NOT NULL)")
    }
    assert(nn.getMessage.contains("NOT NULL"), s"got: ${nn.getMessage}")
    val pos = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$t ADD COLUMNS (w INT AFTER id)")
    }
    assert(pos.getMessage.contains("FIRST/AFTER"), s"got: ${pos.getMessage}")
    assert(spark.table(s"graft.$t").columns.toSeq === Seq("id", "v", "score"),
      "refused ALTERs must leave the schema untouched")
  }

  test("SHOW PARTITIONS lists the layout; partition DDL refuses; SHOW CREATE TABLE round-trips") {
    val t = fresh("cat_showpart")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING, day INT) " +
      "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='5')")
    spark.sql(s"INSERT INTO graft.$t " +
      "SELECT id, 'x', CAST(id % 3 AS INT) FROM range(30)")
    assert(spark.sql(s"SHOW PARTITIONS graft.$t").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("day=0", "day=1", "day=2"))
    // prefix-filtered listing
    assert(spark.sql(s"SHOW PARTITIONS graft.$t PARTITION (day=2)")
      .collect().map(_.getString(0)).toSeq === Seq("day=2"))
    // a partition retired by DML disappears from the listing
    spark.sql(s"DELETE FROM graft.$t WHERE day = 1")
    assert(spark.sql(s"SHOW PARTITIONS graft.$t").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("day=0", "day=2"))
    // metadata-only partition DDL refuses (partitions materialize with
    // writes; files surviving a metadata drop would silently resurrect)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$t DROP PARTITION (day=0)")
    }
    assert(e.getMessage.contains("DROP PARTITION"), s"got: ${e.getMessage}")
    // SHOW CREATE TABLE surfaces schema, partitioning and properties
    val ddl = spark.sql(s"SHOW CREATE TABLE graft.$t").head().getString(0)
    assert(ddl.contains("PARTITIONED BY") && ddl.contains("day"),
      s"got: $ddl")
    assert(ddl.contains("keepVersions"), s"got: $ddl")
  }

  test("nested namespaces, SHOW TBLPROPERTIES, DESCRIBE DETAIL") {
    val ns = fresh("nsa")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    spark.sql(s"CREATE NAMESPACE graft.$ns.inner")
    assert(spark.sql(s"SHOW NAMESPACES IN graft.$ns").collect()
      .map(_.getString(0)).contains(s"$ns.inner"),
      "nested namespaces must round-trip through SHOW NAMESPACES")
    val t = fresh("deep")
    spark.sql(s"CREATE TABLE graft.$ns.inner.$t (id BIGINT, day INT) " +
      "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='5', " +
      "'bloomIndexCols'='id', 'keyCols'='id')")
    spark.sql(s"INSERT INTO graft.$ns.inner.$t " +
      "SELECT id, CAST(id % 3 AS INT) FROM range(300)")
    assert(spark.sql(s"SHOW TABLES IN graft.$ns.inner").collect()
      .map(_.getString(1)).contains(t))
    assert(spark.table(s"graft.$ns.inner.$t").count() === 300)
    // a table dir is never a namespace (its version dirs must not leak)
    assert(!spark.sql(s"SHOW NAMESPACES IN graft.$ns.inner").collect()
      .map(_.getString(0)).exists(_.contains(t)))
    // stored properties surface through standard SQL
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.$ns.inner.$t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("keepVersions") === Some("5"), s"got $props")
    assert(props.get("bloomIndexCols") === Some("id"))
    // DESCRIBE DETAIL: the one-row operational summary
    val d = spark.sql(s"DESCRIBE DETAIL graft.$ns.inner.$t").collect().head
    assert(d.getAs[String]("location").endsWith(s"$ns/inner/$t"))
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[String]("partition_columns") === "day")
    assert(d.getAs[String]("bloom_index_columns") === "id")
    assert(d.getAs[Int]("retained_versions") === 2)
    assert(d.getAs[String]("properties").contains("keepVersions=5"))
    assert(d.getAs[Int]("num_files") > 0 && d.getAs[Long]("size_bytes") > 0)
  }

  test("VACUUM ... DRY RUN names what would expire and deletes NOTHING; " +
      "the real VACUUM then deletes exactly the named paths") {
    val t = fresh("cat_vacdry")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keepVersions'='8')")
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO graft.$t VALUES (2, 'b')") // v3
    spark.sql(s"INSERT INTO graft.$t VALUES (3, 'c')") // v4
    val path = s"$wh/$t"
    val before = WarehouseFs.listVersions(spark, path)
    assert(before === Seq(1L, 2L, 3L, 4L))
    val dry = spark.sql(s"VACUUM graft.$t RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(dry.nonEmpty, "three expirable versions must name paths")
    // the dry run deleted NOTHING: every named path still exists and
    // every version is still retained and readable
    val (fs, _) = WarehouseFs.fsFor(spark, path)
    dry.foreach(p => assert(fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"dry run must not delete $p"))
    assert(WarehouseFs.listVersions(spark, path) === before)
    assert(WarehouseFs.readTableVersion(spark, path, 1L).isDefined)
    // the real sweep with the same rules deletes exactly what was named
    spark.sql(s"VACUUM graft.$t RETAIN 1 VERSIONS")
    dry.foreach(p => assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"the real VACUUM must delete the dry run's $p"))
    assert(WarehouseFs.listVersions(spark, path) === Seq(4L))
    assert(spark.table(s"graft.$t").count() === 3)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("maintenance SQL: missing warehouse conf and foreign catalogs refuse with guidance") {
    withConf("spark.sql.catalog.gbad" ->
        classOf[graft.sources.GraftCatalog].getName) {
      val e = intercept[Exception] { spark.sql("OPTIMIZE gbad.t") }
      assert(e.getMessage.contains("spark.sql.catalog.gbad.warehouse"),
        s"got: ${e.getMessage}")
    }
    withConf("spark.sql.catalog.notgraft" -> "org.example.OtherCatalog") {
      val e = intercept[Exception] {
        spark.sql("DESCRIBE HISTORY notgraft.db.t")
      }
      assert(e.getMessage.contains("not a graft catalog"),
        s"got: ${e.getMessage}")
    }
    // RESTORE / OPTIMIZE family are Delta-compatible spellings: a
    // multipart identifier outside every graft catalog must fall through
    // to the DELEGATE parser (Spark's grammar → ParseException), never
    // error inside graft code or shadow a co-installed extension. The
    // ParseException must come from the delegate parsing the WHOLE
    // statement (error at 'OPTIMIZE'/'RESTORE', the token Spark's
    // grammar rejects) — a fallthrough to a broader graft pattern would
    // ALSO raise ParseException, but from parseMultipartIdentifier
    // choking on the swallowed clause ('WHERE'/'ZORDER'), which reads
    // identically to a test that only checks the exception type
    withConf("spark.sql.catalog.notgraft" -> "org.example.OtherCatalog") {
      def delegated(sql: String, rejectedToken: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        assert(e.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException],
          s"expected delegate ParseException for '$sql', got: $e")
        assert(e.getMessage.contains(rejectedToken),
          s"'$sql' must reach the delegate whole (error at " +
            s"'$rejectedToken'), got: ${e.getMessage}")
      }
      delegated("RESTORE TABLE notgraft.db.t TO VERSION AS OF 1", "RESTORE")
      delegated("OPTIMIZE notgraft.db.t WHERE day = 3", "OPTIMIZE")
      delegated("OPTIMIZE notgraft.db.t ZORDER BY (day)", "OPTIMIZE")
      delegated("OPTIMIZE notgraft.db.t", "OPTIMIZE")
    }
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF pin retained versions") {
    val t = fresh("cat_tt")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keepVersions'='5')")
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO graft.$t VALUES (2, 'b')") // v3
    assert(spark.sql(s"SELECT * FROM graft.$t VERSION AS OF 2").count() === 1)
    assert(spark.sql(s"SELECT * FROM graft.$t VERSION AS OF 3").count() === 2)
    // commit time resolves through manifest mtimes: "now" → the current
    // version; a pre-creation probe refuses instead of silently serving
    // the oldest retained state
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 5000).toString
    assert(spark.sql(s"SELECT * FROM graft.$t TIMESTAMP AS OF '$now'")
      .count() === 2)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.$t TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no version"), s"got: ${e.getMessage}")
    // an unknown / expired version refuses with the retention message
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.$t VERSION AS OF 99").collect()
    }
  }

  test("dynamic INSERT OVERWRITE replaces present partitions only, carrying the rest") {
    val t = fresh("cat_dynpart")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, day INT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CAST(id % 4 AS INT) FROM range(400)")
    val priorDir = WarehouseFs.currentVersion(spark, s"$wh/$t").get._2
      .split('/').last
    val mode0 = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(
        s"INSERT OVERWRITE graft.$t SELECT id + 1000, CAST(1 AS INT) FROM range(50)")
      val got = spark.table(s"graft.$t")
      // day=1's 100 rows replaced by the 50 new ones; days 0/2/3 intact
      assert(got.count() === 350)
      assert(got.filter(col("day") === 1).count() === 50)
      assert(got.filter(col("day") === 1 && col("id") < 1000).count() === 0)
      // file economics: the three untouched day partitions carry by
      // REFERENCE from the prior version's dir (API read — the DSv2
      // scan does not surface inputFiles)
      val refs = WarehouseFs.readTable(spark, s"$wh/$t").get.inputFiles
      assert(refs.count(_.contains(s"/$priorDir/")) >= 3,
        s"untouched partitions must carry by reference: ${refs.toSeq}")
      assert(refs.filter(_.contains(s"/$priorDir/"))
        .forall(!_.contains("day=1")),
        "every day=1 file must come from the new version's dir")

      // the API spelling routes through the same plan
      spark.range(2000, 2020).select(col("id"),
          org.apache.spark.sql.functions.lit(3).cast("int").as("day"))
        .writeTo(s"graft.$t").overwritePartitions()
      assert(spark.table(s"graft.$t").filter(col("day") === 3).count() === 20)
      assert(spark.table(s"graft.$t").count() === 270) // 350 - 100 + 20

      // dynamic mode on an UNPARTITIONED table = full replace
      val u = fresh("cat_dynflat")
      spark.sql(s"CREATE TABLE graft.$u (id BIGINT, v STRING)")
      spark.sql(s"INSERT INTO graft.$u VALUES (1, 'a'), (2, 'b')")
      spark.sql(s"INSERT OVERWRITE graft.$u VALUES (9, 'z')")
      assert(spark.table(s"graft.$u").as[(Long, String)].collect().toSeq ===
        Seq((9L, "z")))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode0)
  }

  test("CHECK / NOT NULL constraints: violating writes refuse pre-commit, " +
      "the table is untouched; declarations validate existing rows") {
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    def refused(body: => Unit): String =
      rootMsg(intercept[Throwable] { body })
    val t = fresh("cat_check")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, amount BIGINT, user STRING) " +
      "TBLPROPERTIES('keepVersions'='8', " +
      "'check.positive_amount'='amount > 0', 'notNullCols'='user')")
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 10, 'a'), (2, 20, 'b')")
    assert(spark.table(s"graft.$t").count() === 2)
    val v = WarehouseFs.currentVersion(spark, s"$wh/$t").get._1
    // violating INSERT refuses BEFORE the commit; nothing changes
    val m1 = refused(spark.sql(s"INSERT INTO graft.$t VALUES (3, -5, 'c')"))
    assert(m1.contains("positive_amount"), m1)
    assert(WarehouseFs.currentVersion(spark, s"$wh/$t").get._1 === v,
      "a refused write must not commit a version")
    assert(spark.table(s"graft.$t").count() === 2)
    // NOT NULL sugar
    val m2 = refused(spark.sql(s"INSERT INTO graft.$t VALUES (4, 5, NULL)"))
    assert(m2.contains("user"), m2)
    assert(spark.table(s"graft.$t").count() === 2)
    // compliant DML unaffected; violating DML refuses with state intact
    spark.sql(s"UPDATE graft.$t SET amount = 30 WHERE id = 1")
    assert(spark.sql(s"SELECT amount FROM graft.$t WHERE id = 1")
      .head().getLong(0) === 30L)
    val m3 = refused(spark.sql(s"UPDATE graft.$t SET amount = -1 WHERE id = 2"))
    assert(m3.contains("positive_amount"), m3)
    assert(spark.sql(s"SELECT amount FROM graft.$t WHERE id = 2")
      .head().getLong(0) === 20L)
    // a NEW declaration must hold on existing rows (id=1 has amount 30)
    val m4 = refused(spark.sql(
      s"ALTER TABLE graft.$t SET TBLPROPERTIES('check.small'='amount < 25')"))
    assert(m4.contains("violated by existing rows"), m4)
    // the refused declaration persisted nothing: a row it would ban passes
    spark.sql(s"INSERT INTO graft.$t VALUES (5, 29, 'e')")
    // a consistent declaration persists and enforces from then on
    spark.sql(
      s"ALTER TABLE graft.$t SET TBLPROPERTIES('check.cap'='amount <= 1000')")
    val m5 = refused(spark.sql(s"INSERT INTO graft.$t VALUES (6, 2000, 'f')"))
    assert(m5.contains("cap"), m5)
    assert(spark.table(s"graft.$t").count() === 3)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("ADD/DROP CONSTRAINT SQL; DESCRIBE DETAIL surfaces mapping and " +
      "constraints; constrained columns refuse rename/drop") {
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    val t = fresh("cat_cddl")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, amount BIGINT) " +
      "TBLPROPERTIES('keepVersions'='8')")
    spark.sql(s"INSERT INTO graft.$t VALUES (1, 10), (2, 20)")
    spark.sql(
      s"ALTER TABLE graft.$t ADD CONSTRAINT amount_pos CHECK (amount > 0)")
    // enforced from now on
    val m1 = rootMsg(intercept[Throwable] {
      spark.sql(s"INSERT INTO graft.$t VALUES (3, -1)") })
    assert(m1.contains("amount_pos"), m1)
    assert(spark.table(s"graft.$t").count() === 2)
    // a contradicting declaration refuses, persists nothing
    val m2 = rootMsg(intercept[Throwable] {
      spark.sql(
        s"ALTER TABLE graft.$t ADD CONSTRAINT small CHECK (amount < 15)") })
    assert(m2.contains("violated by existing rows"), m2)
    // the operational summary names what the files can't show
    spark.sql(s"ALTER TABLE graft.$t RENAME COLUMN id TO ident")
    val d = spark.sql(s"DESCRIBE DETAIL graft.$t").collect().head
    assert(d.getAs[String]("constraints").contains("amount_pos"))
    assert(d.getAs[String]("column_mapping") === "ident->id")
    // renaming/dropping a CONSTRAINED column refuses with guidance
    val m3 = rootMsg(intercept[Throwable] {
      spark.sql(s"ALTER TABLE graft.$t RENAME COLUMN amount TO amt") })
    assert(m3.contains("amount_pos") && m3.contains("DROP CONSTRAINT"), m3)
    val m4 = rootMsg(intercept[Throwable] {
      spark.sql(s"ALTER TABLE graft.$t DROP COLUMN amount") })
    assert(m4.contains("amount_pos"), m4)
    // DROP CONSTRAINT frees the column; unknown names refuse
    spark.sql(s"ALTER TABLE graft.$t DROP CONSTRAINT amount_pos")
    intercept[Throwable] {
      spark.sql(s"ALTER TABLE graft.$t DROP CONSTRAINT nope") }
    spark.sql(s"ALTER TABLE graft.$t RENAME COLUMN amount TO amt")
    spark.sql(s"INSERT INTO graft.$t VALUES (3, -1)")
    assert(spark.table(s"graft.$t").count() === 3)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("RESTORE TABLE rolls back a bad DML at zero data I/O: files " +
      "re-point, the feed reverses, masks restore, time travel intact") {
    val t = fresh("cat_restore")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, user STRING) " +
      "TBLPROPERTIES('bloomIndexCols'='id', 'keepVersions'='12', " +
      "'keyCols'='id')")                                          // v1
    spark.sql(s"INSERT INTO graft.$t " +
      s"SELECT id, CONCAT('u', id) FROM range(1000)")             // v2
    spark.sql(s"DELETE FROM graft.$t WHERE id = 5")               // v3
    spark.sql(s"UPDATE graft.$t SET user = 'X' WHERE id = 7")     // v4
    val res = spark.sql(
      s"RESTORE TABLE graft.$t TO VERSION AS OF 2").collect().head
    assert(res.getLong(0) === 2L && res.getLong(1) === 5L)        // v5
    val df = spark.table(s"graft.$t")
    assert(df.count() === 1000)
    assert(df.filter(col("id") === 5L).count() === 1)
    assert(df.filter(col("id") === 7L).select("user").as[String]
      .head() === "u7")
    // ZERO data I/O: the restore commit owns no physical data dir —
    // its manifest re-points at version 2's files by reference
    assert(!new java.io.File(s"$wh/$t").listFiles()
      .exists(_.getName.startsWith("v00000005-")),
      "a restore must not write any data file")
    // the change feed across the restore is the file-granular REVERSE
    val feed = spark.sql(s"SELECT * FROM table_changes('graft.$t', 5, 5)")
      .collect()
    assert(feed.length < 600,
      s"the restore feed must be file-granular, got ${feed.length} rows")
    val inserted5 = feed.exists(r =>
      r.getAs[Long]("id") == 5L && r.getAs[String]("_change_type") == "insert")
    assert(inserted5, "undoing the delete surfaces id 5 as an insert")
    // the bad era stays time-travelable
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.$t VERSION AS OF 4")
      .head().getLong(0) === 999L)
    // masks restore too: a MoR delete, then a restore past it and back
    WarehouseFs.deleteWhereVectors(spark, s"$wh/$t", "id", Seq(10L),
      keepVersions = 12)                                          // v6
    assert(WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    spark.sql(s"RESTORE TABLE graft.$t TO VERSION AS OF 5")       // v7
    assert(!WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    assert(spark.table(s"graft.$t").count() === 1000)
    spark.sql(s"RESTORE TABLE graft.$t TO VERSION AS OF 6")       // v8
    assert(WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    assert(spark.table(s"graft.$t").count() === 999)
    assert(spark.table(s"graft.$t").filter(col("id") === 10L).count() === 0)
    // the TIMESTAMP spelling resolves through manifest commit instants
    val tsOfV2 = spark.sql(s"DESCRIBE HISTORY graft.$t").collect()
      .find(_.getLong(0) == 2L).get.getTimestamp(1)
    spark.sql(s"RESTORE TABLE graft.$t TO TIMESTAMP AS OF " +
      s"'${tsOfV2.toInstant}'")                                   // v9
    assert(spark.table(s"graft.$t").count() === 1000)
    // out-of-retention targets refuse with guidance
    val e = intercept[Exception] {
      spark.sql(s"RESTORE TABLE graft.$t TO VERSION AS OF 99").collect() }
    assert(e.getMessage.contains("not retained") ||
      e.getMessage.contains("retention"), e.getMessage)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("OPTIMIZE ... WHERE folds one partition's small files as one CoW " +
      "commit; every other partition carries by reference") {
    val t = fresh("cat_optwhere")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING, day INT) " +
      "PARTITIONED BY (day) TBLPROPERTIES('keepVersions'='8', 'keyCols'='id')")
    // small-file debris in day=3: three separate appends
    for (k <- 0 until 3)
      spark.sql(s"INSERT INTO graft.$t " +
        s"SELECT id + ${k * 100}, CONCAT('x', id), 3 FROM range(100)")
    spark.sql(s"INSERT INTO graft.$t " +
      s"SELECT id + 1000, CONCAT('y', id), CAST(id % 3 AS INT) FROM range(300)")
    def files() = WarehouseFs.prunedFiles(spark, s"$wh/$t").get._1
    val before = files()
    val day3Before = before.filter(_.contains("day=3"))
    val otherBefore = before.filterNot(_.contains("day=3")).toSet
    assert(day3Before.size >= 3, s"debris fixture: ${day3Before.size} files")
    val content = spark.table(s"graft.$t").collect().map(_.toSeq).toSet
    // a masked row in day=3 folds away with the rewrite
    WarehouseFs.deleteWhereVectors(spark, s"$wh/$t", "id", Seq(5L),
      keepVersions = 8)
    assert(WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"))
    val res = spark.sql(s"OPTIMIZE graft.$t WHERE day = 3").collect().head
    assert(res.getInt(1) >= 1, "files_written")
    val after = files()
    val day3After = after.filter(_.contains("day=3"))
    assert(day3After.size < day3Before.size,
      s"day=3 must fold: ${day3Before.size} -> ${day3After.size}")
    assert(after.filterNot(_.contains("day=3")).toSet === otherBefore,
      "every other partition's files must carry by reference, unrewritten")
    assert(!WarehouseFs.hasDeletionVectors(spark, s"$wh/$t"),
      "the touched partition's mask entries retire with the fold")
    assert(spark.table(s"graft.$t").collect().map(_.toSeq).toSet ===
      content.filterNot(_.head == 5L), "values exact, masked row stays gone")
    // non-partition columns refuse with guidance
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft.$t WHERE id = 5").collect() }
    assert(e.getMessage.contains("not a layout partition column"),
      e.getMessage)
    // a spec matching nothing commits nothing
    val v = WarehouseFs.currentVersion(spark, s"$wh/$t").get._1
    spark.sql(s"OPTIMIZE graft.$t WHERE day = 99").collect()
    assert(WarehouseFs.currentVersion(spark, s"$wh/$t").get._1 === v)
    spark.sql(s"DROP TABLE graft.$t")
  }
}

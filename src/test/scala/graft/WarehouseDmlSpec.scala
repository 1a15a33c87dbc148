package graft

import org.apache.spark.sql.functions._
import graft.sources.WarehouseFs

/** Copy-on-write row-level DML over file-list manifests: deletes and
  * upserts rewrite ONLY the files that might contain the touched keys,
  * carry every other file by reference, keep the bloom index maintained
  * at O(rewritten), survive GC across chains, and feed the ordinary
  * reader / time-travel / change-feed / compaction surfaces unchanged.
  */
class WarehouseDmlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable() =
    s"${java.nio.file.Files.createTempDirectory("graft_dml_")}/t"

  /** Range-clustered 8-file fixture with a bloom index on id. */
  private def publishFixture(t: String, keepVersions: Int = 2): Unit =
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"),
          (col("id") % 7).as("grp"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = keepVersions, bloomIndexCols = Seq("id", "user"))

  private def dirFileCount(t: String, dirName: String): Int =
    WarehouseFs.listNames(spark, s"$t/$dirName").count(_.endsWith(".parquet"))

  /** Data-dir name of the CURRENT version (CoW dirs are attempt-unique). */
  private def currentDir(t: String): String =
    WarehouseFs.currentVersion(spark, t).get._2.split('/').last

  test("deleteWhere rewrites only matching files; content, time travel, and feed stay exact") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    val before = WarehouseFs.readTable(spark, t).get
      .select("id").as[Long].collect().toSet

    WarehouseFs.deleteWhere(spark, t, "id", Seq(1234L, 1250L), keepVersions = 5)

    // content parity
    val after = WarehouseFs.readTable(spark, t).get
      .select("id").as[Long].collect().toSet
    assert(after === before -- Set(1234L, 1250L))
    // both keys share one range file → exactly one file rewritten
    assert(dirFileCount(t, currentDir(t)) === 1,
      "only the bloom-matched file may be rewritten")
    // carried files still live in v1's dir, referenced not copied
    assert(dirFileCount(t, "v00000001") === 8)
    // time travel to the pre-delete version still resolves fully
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 8000)
    // the change feed across the DML version is exactly the two deletes
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
    assert(feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1234L, "delete"), (1250L, "delete")))
  }

  test("bloom index is maintained through DML at O(rewritten)") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 5)
    // surviving key: pruned read parity, still a strict file subset
    val cand = WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(7000L)).get
    assert(cand.nonEmpty && cand.size < 8)
    assert(graftRead(t).filter(col("id").isin(7000L))
      .select("user").as[String].collect() === Array("u7000"))
    // the deleted key's file was re-indexed from surviving rows only —
    // the pruned read finds nothing
    assert(graftRead(t).filter(col("id").isin(42L)).count() === 0)
    // string column index carried/rebuilt too
    assert(graftRead(t).filter(col("user").isin("u6999"))
      .select("id").as[Long].collect() === Array(6999L))
  }

  test("upsertRows updates matched keys in place; pure inserts touch zero existing files") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    // update one existing row + insert one brand-new key
    WarehouseFs.upsertRows(
      Seq((10L, "u10_fixed", 99L), (90000L, "u90000", 99L))
        .toDF("id", "user", "grp"),
      t, "id", keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 8001)
    assert(got.filter(col("id") === 10L).select("user").as[String].collect() ===
      Array("u10_fixed"))
    assert(got.filter(col("id") === 90000L).count() === 1)

    // a pure insert whose key no file can contain rewrites nothing: the
    // new version dir holds ONLY the inserted rows' file
    WarehouseFs.upsertRows(Seq((91000L, "u91000", 99L)).toDF("id", "user", "grp"),
      t, "id", keepVersions = 5)
    assert(dirFileCount(t, currentDir(t)) === 1)
    assert(WarehouseFs.readTable(spark, t).get.count() === 8002)
    // ordinary reads keep working across the whole chain
    assert(graftRead(t).filter(col("id").isin(91000L)).count() === 1)
  }

  test("GC keeps carried ancestor dirs alive until unreferenced; compaction folds the chain") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 2)
    WarehouseFs.deleteWhere(spark, t, "id", Seq(5L), keepVersions = 2)
    WarehouseFs.deleteWhere(spark, t, "id", Seq(6L), keepVersions = 2)
    // manifest 1 expired (keep 2 of 3) — but v1's DIR must survive: the
    // retained file-list manifests still reference its carried files
    assert(WarehouseFs.listVersions(spark, t) === Seq(2L, 3L))
    assert(WarehouseFs.listNames(spark, t).contains("v00000001"))
    assert(WarehouseFs.readTable(spark, t).get.count() === 7998)
    assert(WarehouseFs.readTableVersion(spark, t, 2).get.count() === 7999)

    // compaction reads the resolved chain and publishes a clean dir
    // version; after one more publish the ancestor dirs fall out of
    // reference and GC finally reclaims them
    graft.operators.ScaleJoins.compactParquet(spark, t)
    assert(WarehouseFs.readTable(spark, t).get.count() === 7998)
    WarehouseFs.publishVersioned(WarehouseFs.readTable(spark, t).get, t,
      keepVersions = 1)
    val dirs = WarehouseFs.listNames(spark, t).filter(_.startsWith("v0"))
    assert(!dirs.contains("v00000001"), s"unreferenced ancestor must GC: $dirs")
    assert(WarehouseFs.readTable(spark, t).get.count() === 7998)
  }

  test("updateWhere sets expressions on matched rows only, file-granular") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    WarehouseFs.updateWhere(spark, t, "id", Seq(100L, 101L),
      Map("user" -> concat(col("user"), lit("_redacted")),
          "grp" -> lit(-1L)), keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 8000)
    assert(got.filter(col("id").isin(100L, 101L))
      .select("user", "grp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("u100_redacted", -1L), ("u101_redacted", -1L)))
    // neighbors in the same rewritten file are untouched
    assert(got.filter(col("id") === 102L).select("user").as[String].collect() ===
      Array("u102"))
    // both keys share one range file → one file rewritten
    assert(dirFileCount(t, currentDir(t)) === 1)
    // unknown SET column fails loudly
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.updateWhere(spark, t, "id", Seq(1L), Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown SET columns"))
  }

  test("zone maps: range reads open only overlapping files, survive DML, GC with their version") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(8000)
        .select(col("id"), concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    // range-clustered: a narrow range hits ~1 of 8 files
    val cand = WarehouseFs.zoneCandidateFiles(spark, t, "id", 2000L, 2100L).get
    assert(cand.nonEmpty && cand.size <= 2, s"zones must prune: $cand")
    val got = graftRead(t).filter(col("id").between(2000L, 2100L))
    assert(got.count() === 101)
    assert(got.agg(min("id"), max("id")).head().toSeq === Seq(2000L, 2100L))
    // out-of-domain range: zero candidates, empty result, schema intact
    assert(WarehouseFs.zoneCandidateFiles(spark, t, "id", -50L, -1L).get.isEmpty)
    assert(graftRead(t).filter(col("id").between(-50L, -1L)).count() === 0)
    // unzoned column degrades to a full-read filter
    assert(graftRead(t).filter(col("user").between("u10", "u10")).count() === 1)

    // DML maintains the zone map at O(rewritten): carried rows + new-dir rows
    WarehouseFs.deleteWhere(spark, t, "id", Seq(2050L), keepVersions = 5)
    val got2 = graftRead(t).filter(col("id").between(2000L, 2100L))
    assert(got2.count() === 100)
    val cand2 = WarehouseFs.zoneCandidateFiles(spark, t, "id", 7000L, 7010L).get
    assert(cand2.nonEmpty && cand2.size <= 2, s"carried zones must keep pruning: $cand2")

    // GC drops the expired version's zone map with its manifest
    WarehouseFs.publishVersioned(spark.range(10).toDF("id"), t, keepVersions = 1,
      zoneMapCols = Seq("id"))
    assert(WarehouseFs.listNames(spark, s"$t/_zones") === Seq("v00000003"))
  }

  test("zone maps over a Z-ordered layout prune range predicates on BOTH dimensions") {
    val t = tmpTable()
    val df = spark.range(20000)
      .select(col("id"), ((col("id") * 7919L) % 20000L).as("b"))
    WarehouseFs.publishVersioned(
      graft.operators.ScaleJoins.zOrderClusterN(df, Seq(col("id"), col("b")), 16),
      t, keepVersions = 2, zoneMapCols = Seq("id", "b"))
    // a narrow range on EITHER column keeps a strict subset of the 16 files
    val candA = WarehouseFs.zoneCandidateFiles(spark, t, "id", 100L, 400L).get
    val candB = WarehouseFs.zoneCandidateFiles(spark, t, "b", 100L, 400L).get
    assert(candA.size < 16 && candB.size < 16,
      s"z-order + zones must prune both dims: id=${candA.size}, b=${candB.size}")
    assert(graftRead(t).filter(col("id").between(100L, 400L)).count() === 301)
    assert(graftRead(t).filter(col("b").between(100L, 400L)).count() ===
      df.filter(col("b").between(100L, 400L)).count())
  }

  test("DML on a Hive-partitioned table: layout preserved, partition-moving update, missing table refused") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      (1 to 300).map(i => (i.toLong, i % 3, s"u$i")).toDF("id", "day", "user")
        .repartition(col("day")),
      t, partitionBy = Seq("day"), keepVersions = 5, bloomIndexCols = Seq("id"))

    // delete: partition column survives the file-list read, layout kept
    WarehouseFs.deleteWhere(spark, t, "id", Seq(5L), keepVersions = 5)
    val afterDel = WarehouseFs.readTable(spark, t).get
    assert(afterDel.count() === 299)
    assert(afterDel.columns.toSet === Set("id", "day", "user"))
    assert(afterDel.filter(col("id") === 6L).select("day").as[Int].collect() ===
      Array(0), "partition values must be restored across carried + rewritten files")
    // the rewritten file landed under its key=value subdir in the new version dir
    val newDir = currentDir(t)
    assert(WarehouseFs.listNames(spark, s"$t/$newDir").exists(_.startsWith("day=")),
      "CoW write must preserve the Hive layout")

    // merge: an update that MOVES a row across partitions + an insert
    WarehouseFs.mergeInto(
      Seq((7L, 99, "u7_moved"), (1000L, 1, "u1000")).toDF("id", "day", "user"),
      t, "id",
      whenMatchedUpdate = Map("day" -> col("src_day"), "user" -> col("src_user")),
      keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 300)
    assert(got.filter(col("id") === 7L).select("day", "user").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((99, "u7_moved")))
    assert(got.filter(col("day") === 99).count() === 1)
    assert(got.filter(col("id") === 1000L).select("day").as[Int].collect() ===
      Array(1))
    // time travel across the partitioned DML chain stays exact
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 300)
    assert(WarehouseFs.readTableVersion(spark, t, 2).get.count() === 299)

    // missing table still refuses loudly
    intercept[IllegalArgumentException] {
      WarehouseFs.deleteWhere(spark, s"$t-nope", "id", Seq(1L))
    }

    // pruned reads of the partitioned FILE-LIST version keep the
    // partition column: the scan rebuilds each file's partition values
    // from its path
    val pruned = graftRead(t).filter(col("id").isin(100L))
    assert(pruned.columns.toSet === Set("id", "day", "user"))
    assert(pruned.select("id", "day").collect().map(_.toSeq).toSet ===
      Set(Seq(100L, 1)))
  }

  test("a table partitioned by an underscore-named column publishes, deletes and reads back") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      (1 to 300).map(i => (i.toLong, i % 3, s"u$i")).toDF("id", "_p", "user")
        .repartition(col("_p")),
      t, partitionBy = Seq("_p"), keepVersions = 5, bloomIndexCols = Seq("id"))
    // `_p=…` dirs are partition data, not hidden sidecars: the full
    // publish lists their files
    def listed(): Seq[String] = {
      val latest = new java.io.File(s"$t/_versions").listFiles()
        .map(_.getName).filter(_.matches("\\d{8}")).max
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_versions/$latest")), "UTF-8")
        .linesIterator.filter(_.endsWith(".parquet")).toSeq
    }
    assert(listed().nonEmpty && listed().forall(_.contains("/_p=")))
    val v1 = WarehouseFs.readTable(spark, t).get
    assert(v1.count() === 300)
    assert(v1.columns.toSet === Set("id", "_p", "user"))
    // a bloom-pruned CoW delete rewrites one `_p=…` file and lists it
    // beside the two carried ones
    WarehouseFs.deleteWhere(spark, t, "id", Seq(5L), keepVersions = 5)
    assert(listed().count(_.startsWith(currentDir(t) + "/_p=")) === 1)
    assert(listed().size === 3)
    val afterDel = WarehouseFs.readTable(spark, t).get
    assert(afterDel.count() === 299)
    assert(afterDel.filter(col("id") === 6L).select("_p").as[Int].collect() ===
      Array(0))
    WarehouseFs.deleteWhere(spark, t, "_p", Seq(1), keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.select("_p").distinct()
      .as[Int].collect().toSet === Set(0, 2))
    assert(WarehouseFs.readTable(spark, t).get.count() === 199)
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 300)
  }

  test("committed statistics refresh through DML when the prior version carried them") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(spark.range(100).toDF("id"), t,
      keepVersions = 5, collectStats = true, bloomIndexCols = Seq("id"))
    assert(WarehouseFs.readStats(spark, t).get.rowCount === 100)
    WarehouseFs.deleteWhere(spark, t, "id", Seq(5L), keepVersions = 5)
    // the hinted-read surface must not silently degrade after a delete
    assert(WarehouseFs.readStats(spark, t).get.rowCount === 99)
    // a table published WITHOUT stats stays stats-free through DML
    val t2 = tmpTable()
    WarehouseFs.publishVersioned(spark.range(10).toDF("id"), t2,
      keepVersions = 5, bloomIndexCols = Seq("id"))
    WarehouseFs.deleteWhere(spark, t2, "id", Seq(1L), keepVersions = 5)
    assert(WarehouseFs.readStats(spark, t2).isEmpty)
  }

  test("mergeInto: update, delete, and insert clauses land in ONE file-granular commit") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    // source: 100 → update (grp from source), 101 → delete (grp=99 marker),
    // 90000 → insert. All three keys hit one range file + one insert file.
    val src = Seq((100L, "u100_new", 50L), (101L, "kill", 99L),
      (90000L, "u90000", 7L)).toDF("id", "user", "grp")
    WarehouseFs.mergeInto(src, t, "id",
      whenMatchedUpdate = Map(
        "user" -> col("src_user"),
        "grp" -> (col("grp") * 100L + col("src_grp"))),
      whenMatchedDelete = Some(col("src_grp") === 99L),
      keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 8000L) // 8000 - 1 delete + 1 insert
    assert(got.filter(col("id") === 101L).count() === 0, "matched-delete row gone")
    // SET expressions see both sides: target grp (100%7=2) and source grp
    assert(got.filter(col("id") === 100L).select("user", "grp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === Set(("u100_new", 250L)))
    assert(got.filter(col("id") === 90000L).select("user").as[String].collect() ===
      Array("u90000"))
    // unmatched neighbor in the rewritten file untouched
    assert(got.filter(col("id") === 102L).select("user").as[String].collect() ===
      Array("u102"))
    // file-granular: 100/101 share one range file; inserts land beside it
    assert(dirFileCount(t, currentDir(t)) <= 2,
      "only the bloom-matched file (plus inserts) may be written")
    assert(dirFileCount(t, "v00000001") === 8)
    // change feed across the merge is exactly the three row effects
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
    assert(feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((100L, "update_preimage"), (100L, "update_postimage"),
        (101L, "delete"), (90000L, "insert")))
  }

  test("mergeInto: bulk regime (keys above maxPointKeys) matches the point regime exactly") {
    val tP = tmpTable(); val tB = tmpTable()
    publishFixture(tP, keepVersions = 5); publishFixture(tB, keepVersions = 5)
    val src = spark.range(0, 3000, 2) // 1500 keys: evens 0..2998 update
      .select(col("id"), concat(lit("m"), col("id")).as("user"), lit(0L).as("grp"))
      .union(Seq((99999L, "m99999", 0L)).toDF("id", "user", "grp"))
    def run(t: String, maxPoint: Int) = WarehouseFs.mergeInto(src, t, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")),
      whenMatchedDelete = Some(col("id") % 10L === 4L), // every 5th even key
      maxPointKeys = maxPoint, keepVersions = 5)
    run(tP, 10000) // point: collected keys drive the bloom probe
    run(tB, 10)    // bulk: same semantics, no key collection
    val p = WarehouseFs.readTable(spark, tP).get
      .select("id", "user", "grp").collect().map(_.toSeq).toSet
    val b = WarehouseFs.readTable(spark, tB).get
      .select("id", "user", "grp").collect().map(_.toSeq).toSet
    assert(p === b, "regimes must be semantically identical")
    assert(p.size === 8000 - 300 + 1) // 300 deletes (evens ending in 4), 1 insert
  }

  test("mergeInto: whenNotMatchedBySourceDelete syncs the target to the source") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    // full sync to a 100-row source: ids 0..49 keep (updated), 7950..7999
    // keep via the condition guard (grp 6 is protected), everything else goes
    val src = spark.range(50)
      .select(col("id"), concat(lit("s"), col("id")).as("user"), lit(0L).as("grp"))
    WarehouseFs.mergeInto(src, t, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")),
      whenNotMatchedBySourceDelete = Some(col("grp") =!= 6L), keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    val expectProtected = (50L until 8000L).filter(_ % 7 == 6)
    assert(got.count() === 50 + expectProtected.size)
    assert(got.filter(col("id") === 10L).select("user").as[String].collect() ===
      Array("s10"))
    assert(got.filter(col("id") >= 50L).select("grp").distinct()
      .as[Long].collect().toSeq === Seq(6L),
      "only condition-protected unmatched rows survive")
    // the sync regime inspects every file: the new version owns all its data
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 8000)
  }

  test("mergeInto: duplicate or null source keys are rejected; empty source is a no-op") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    val dup = intercept[IllegalArgumentException] {
      WarehouseFs.mergeInto(
        Seq((1L, "a", 0L), (1L, "b", 0L)).toDF("id", "user", "grp"), t, "id")
    }
    assert(dup.getMessage.contains("unique"))
    val nul = intercept[IllegalArgumentException] {
      WarehouseFs.mergeInto(
        Seq((Some(1L), "a", 0L), (None, "b", 0L))
          .toDF("id", "user", "grp"), t, "id")
    }
    assert(nul.getMessage.contains("null keys"))
    // update-only merge may carry a partial schema (key + referenced cols)
    WarehouseFs.mergeInto(Seq((7L, "seven")).toDF("id", "nick"), t, "id",
      whenMatchedUpdate = Map("user" -> col("src_nick")),
      whenNotMatchedInsert = false, keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.filter(col("id") === 7L)
      .select("user").as[String].collect() === Array("seven"))
    // empty source: no new version
    val vBefore = WarehouseFs.listVersions(spark, t).max
    WarehouseFs.mergeInto(
      spark.emptyDataFrame.select(lit(1L).as("id"), lit("x").as("user"),
        lit(0L).as("grp")).limit(0), t, "id")
    assert(WarehouseFs.listVersions(spark, t).max === vBefore)
  }

  test("CDC replication: a replica follows the source through a DML chain, O(changes) files per step") {
    val src = tmpTable(); val dst = tmpTable()
    publishFixture(src, keepVersions = 10)
    publishFixture(dst, keepVersions = 10)
    // a chain of three heterogeneous DMLs on the source
    WarehouseFs.deleteWhere(spark, src, "id", Seq(777L), keepVersions = 10)
    WarehouseFs.upsertRows(
      Seq((12L, "u12_v2", 3L), (91000L, "u91000", 3L)).toDF("id", "user", "grp"),
      src, "id", keepVersions = 10)
    WarehouseFs.mergeInto(
      Seq((13L, "u13_v3", 0L), (14L, "x", 99L)).toDF("id", "user", "grp"),
      src, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")),
      whenMatchedDelete = Some(col("src_grp") === 99L), keepVersions = 10)

    assert(WarehouseFs.replicate(spark, src, dst, Seq("id"), 1L, 4L,
      keepVersions = 10) === Some(3))
    val s = WarehouseFs.readTable(spark, src).get
      .select("id", "user", "grp").collect().map(_.toSeq).toSet
    val d = WarehouseFs.readTable(spark, dst).get
      .select("id", "user", "grp").collect().map(_.toSeq).toSet
    assert(d === s, "replica must converge to the source")
    // each replica step was copy-on-write: v1's 8 files still carried
    assert(dirFileCount(dst, "v00000001") === 8)
    assert(dirFileCount(dst, currentDir(dst)) <= 2,
      "a 2-key step may rewrite at most its bloom-matched file + inserts")
    // every intermediate state is visible on the replica's own chain
    assert(WarehouseFs.readTableVersion(spark, dst, 2).get.count() === 7999)
    // a feed key changing twice in one hand-built batch is rejected
    val bad = Seq((1L, "a", 0L, "insert"), (1L, "b", 0L, "delete"))
      .toDF("id", "user", "grp", "_change_type")
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.applyChangeFeed(spark, bad, dst, "id")
    }
    assert(e.getMessage.contains("unique"))
  }

  test("CDC replication across Hive-partitioned tables keeps layout and partition values") {
    val src = tmpTable(); val dst = tmpTable()
    val seed = (1 to 300).map(i => (i.toLong, i % 3, s"u$i")).toDF("id", "day", "user")
      .repartition(col("day"))
    for (t <- Seq(src, dst))
      WarehouseFs.publishVersioned(seed, t, partitionBy = Seq("day"),
        keepVersions = 10, bloomIndexCols = Seq("id"))
    WarehouseFs.deleteWhere(spark, src, "id", Seq(10L), keepVersions = 10)
    WarehouseFs.mergeInto(
      Seq((20L, 99, "u20_moved"), (900L, 2, "u900")).toDF("id", "day", "user"),
      src, "id",
      whenMatchedUpdate = Map("day" -> col("src_day"), "user" -> col("src_user")),
      keepVersions = 10)
    assert(WarehouseFs.replicate(spark, src, dst, Seq("id"), 1L, 3L,
      keepVersions = 10) === Some(2))
    val s = WarehouseFs.readTable(spark, src).get
      .select("id", "day", "user").collect().map(_.toSeq).toSet
    val d = WarehouseFs.readTable(spark, dst).get
      .select("id", "day", "user").collect().map(_.toSeq).toSet
    assert(d === s, "partitioned replica must converge incl. partition values")
    assert(d.exists(_ == Seq(20L, 99, "u20_moved")), "partition move replicated")
    // replica's CoW dirs keep the Hive layout too
    assert(WarehouseFs.listNames(spark, s"$dst/${currentDir(dst)}")
      .exists(_.startsWith("day=")))
  }

  test("composite-key merge and replication: tuple matching, intersected file pruning") {
    val t = tmpTable()
    // SCD2-style history keyed on (id, vfrom): same id appears in many rows
    WarehouseFs.publishVersioned(
      spark.range(4000).select(
        (col("id") % 1000L).as("id"),
        (col("id") / 1000L).cast("long").as("vfrom"),
        concat(lit("s"), col("id")).as("state"))
        .repartitionByRange(8, col("id"), col("vfrom")),
      t, keepVersions = 10, bloomIndexCols = Seq("id", "vfrom"))

    // touch ONE version slice of one entity; the other 3 slices stay
    WarehouseFs.mergeIntoKeys(
      Seq((7L, 2L, "s7_fixed"), (7L, 9L, "s7_new")).toDF("id", "vfrom", "state"),
      t, Seq("id", "vfrom"),
      whenMatchedUpdate = Map("state" -> col("src_state")), keepVersions = 10)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 4001)
    assert(got.filter(col("id") === 7L).orderBy("vfrom")
      .select("vfrom", "state").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((0L, "s7"), (1L, "s1007"), (2L, "s7_fixed"),
        (3L, "s3007"), (9L, "s7_new")))
    // tuple semantics: (7, 0) was NOT treated as matched by (7, 2)
    // pruning evidence: candidates intersected across both key columns
    assert(dirFileCount(t, currentDir(t)) <= 2)

    // composite-key replication follows the merge
    val dst = tmpTable()
    WarehouseFs.publishVersioned(
      WarehouseFs.readTableVersion(spark, t, 1).get, dst, keepVersions = 10,
      bloomIndexCols = Seq("id"))
    assert(WarehouseFs.replicate(spark, t, dst, Seq("id", "vfrom"), 1L, 2L,
      keepVersions = 10) === Some(1))
    val s = WarehouseFs.readTable(spark, t).get.collect().map(_.toSeq).toSet
    val d = WarehouseFs.readTable(spark, dst).get.collect().map(_.toSeq).toSet
    assert(d === s)
    // a tuple-duplicate source is rejected even when each column alone is unique
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.mergeIntoKeys(
        Seq((1L, 1L, "x"), (1L, 1L, "y")).toDF("id", "vfrom", "state"),
        t, Seq("id", "vfrom"))
    }
    assert(e.getMessage.contains("unique"))
  }

  test("partition-value pruning: DML keyed on the partition column touches only its subdirs") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      (1 to 400).map(i => (i.toLong, i % 4, s"u$i")).toDF("id", "day", "user")
        .repartition(col("day")),
      t, partitionBy = Seq("day"), keepVersions = 5)
    // no bloom index at all — the path alone must prune to day=2
    WarehouseFs.updateWhere(spark, t, "day", Seq(2),
      Map("user" -> concat(col("user"), lit("_d2"))), keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.filter(col("day") === 2).filter(!col("user").endsWith("_d2"))
      .count() === 0)
    assert(got.filter(col("day") === 1).filter(col("user").endsWith("_d2"))
      .count() === 0)
    // the rewrite touched ONLY day=2: the new version dir holds one
    // partition subdir, and the other three days' files are carried
    val dirs = WarehouseFs.listNames(spark, s"$t/${currentDir(t)}")
      .filter(_.startsWith("day="))
    assert(dirs === Seq("day=2"), s"path pruning must confine the rewrite: $dirs")
    // a typed probe prunes too: long 3L against the int partition column
    WarehouseFs.deleteWhere(spark, t, "day", Seq(3L), keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.count() === 300)
    assert(WarehouseFs.readTable(spark, t).get
      .filter(col("day") === 3).count() === 0)
  }

  test("typed bloom probes: a long probe against a double column still prunes, never misses") {
    val t = tmpTable()
    // double-typed key: the stored value stringifies as "7.0", a naive
    // long probe as "7" — without type canonicalization the bloom
    // reports a FALSE NEGATIVE and the delete silently no-ops
    WarehouseFs.publishVersioned(
      spark.range(1000).select(col("id").cast("double").as("id"),
        concat(lit("u"), col("id")).as("user"))
        .repartitionByRange(4, col("id")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"))
    val cand = WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(7L)).get
    assert(cand.nonEmpty && cand.size < 4,
      s"typed probe must find the file holding 7.0: $cand")
    WarehouseFs.deleteWhere(spark, t, "id", Seq(7L), keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.count() === 999)
    // and a merge whose source keys arrive as long upserts in place
    // instead of duplicating the double-keyed row
    WarehouseFs.mergeInto(Seq((8L, "u8_new")).toDF("id", "user"), t, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")), keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 999, "update, not a duplicate insert")
    assert(got.filter(col("id") === 8.0).select("user").as[String].collect() ===
      Array("u8_new"))
    // lossy writer types refuse loudly: a string-typed INSERT against the
    // double column is schema drift, not an upcast — refused before any
    // file is written
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.mergeInto(Seq(("99999", "u9")).toDF("id", "user"), t, "id")
    }
    assert(e.getMessage.contains("safe upcast"))
  }

  test("upsertRows refuses schema drift instead of silently dropping columns") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      Seq((1L, "a")).toDF("id", "v"), t, bloomIndexCols = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.upsertRows(Seq((1L, "b", 9)).toDF("id", "v", "extra"), t, "id")
    }
    assert(e.getMessage.contains("must equal"))
  }

  test("upsertRows refuses a batch that repeats a key and leaves the table unchanged") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      Seq((1L, "a"), (7L, "b")).toDF("id", "v"), t, bloomIndexCols = Seq("id"))
    val before = WarehouseFs.currentVersion(spark, t).get._1
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.upsertRows(Seq((7L, "x"), (7L, "y")).toDF("id", "v"), t, "id")
    }
    assert(e.getMessage.contains("unique"))
    assert(WarehouseFs.currentVersion(spark, t).get._1 === before)
    assert(WarehouseFs.readTable(spark, t).get.filter(col("id") === 7L)
      .select("v").as[String].collect() === Array("b"))
  }

  test("a full delete of a partitioned table leaves a readable, DML-capable empty table") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      (1 to 400).map(i => (i.toLong, i % 4, s"u$i")).toDF("id", "day", "user")
        .repartition(col("day")),
      t, partitionBy = Seq("day"), keepVersions = 5)
    // dynamic-partition writers emit zero files for an empty rewrite —
    // without the empty-state guard this commit would leave the table
    // schema-less and every later read/DML would throw
    WarehouseFs.deleteWhere(spark, t, "day", Seq(0, 1, 2, 3), keepVersions = 5)
    val empty = WarehouseFs.readTable(spark, t).get
    assert(empty.count() === 0)
    assert(empty.columns.toSet === Set("id", "day", "user"),
      "the empty state must keep the full logical schema")
    // the emptied table accepts new rows through every DML verb
    WarehouseFs.upsertRows(Seq((500L, 9, "u500")).toDF("id", "day", "user"),
      t, "id", keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.select("id", "day", "user")
      .collect().map(_.toSeq).toSet === Set(Seq(500L, 9, "u500")))
    WarehouseFs.mergeInto(Seq((501L, 9, "u501")).toDF("id", "day", "user"),
      t, "id", keepVersions = 5)
    assert(WarehouseFs.readTable(spark, t).get.count() === 2)
    // time travel to the pre-delete state still resolves
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 400)
    // the partition LAYOUT survives the flat empty state: the manifest's
    // partcols header re-applies on the next non-empty publish, so the
    // post-empty rows landed under day=… again (path pruning restored,
    // not silently flat forever)
    val vd = new java.io.File(s"$t/_versions")
    val latest = vd.listFiles().map(_.getName).filter(_.matches("\\d{8}")).max
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_versions/$latest")), "UTF-8")
    assert(manifest.contains("partcols:day"),
      "manifest must declare the logical partition columns")
    assert(manifest.linesIterator.exists(_.contains("day=9")),
      "post-empty publishes must restore the key=value layout")
    // a partitioned FULL publish of zero rows lands the same flat empty
    // state: its writer emits no part file either, and a manifest must
    // list at least one schema-bearing file to stay readable
    WarehouseFs.publishVersioned(
      Seq.empty[(Long, Int, String)].toDF("id", "day", "user"), t,
      partitionBy = Seq("day"), keepVersions = 5)
    val emptied = WarehouseFs.readTable(spark, t).get
    assert(emptied.count() === 0)
    assert(emptied.columns.toSet === Set("id", "day", "user"))
  }

  test("change feed is file-granular: a 1-row delete's feed scans only the rewritten file + its ancestor") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5) // 8 range files, bloom on id
    WarehouseFs.deleteWhere(spark, t, "id", Seq(4242L), keepVersions = 5)
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
    assert(feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((4242L, "delete")))
    // the 6 shared files are bit-identical in both manifests and must
    // not be read at all: the feed's scan set is 1 ancestor + 1 rewrite
    assert(feed.inputFiles.length === 2,
      s"feed must diff only non-shared files, scanned: ${feed.inputFiles.toSeq}")

    // a pure insert shares every prior file → the feed scans ONLY the
    // new file and classifies the row as an insert
    WarehouseFs.upsertRows(Seq((90000L, "u90000", 1L)).toDF("id", "user", "grp"),
      t, "id", keepVersions = 5)
    val feed2 = WarehouseFs.changeFeed(spark, t, Seq("id"), 2, 3).get
    assert(feed2.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((90000L, "insert")))
    assert(feed2.inputFiles.length === 1,
      s"insert-only feed must scan just the new file: ${feed2.inputFiles.toSeq}")

    // updates in place: pre/post pair, still confined to the touched pair
    WarehouseFs.updateWhere(spark, t, "id", Seq(10L),
      Map("user" -> lit("u10_fixed")), keepVersions = 5)
    val feed3 = WarehouseFs.changeFeed(spark, t, Seq("id"), 3, 4).get
    assert(feed3.select("id", "_change_type", "user").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      Set((10L, "update_preimage", "u10"), (10L, "update_postimage", "u10_fixed")))
    assert(feed3.inputFiles.length === 2)
  }

  test("bulk upsert above maxPointKeys resolves touched files distributively, no driver key collect") {
    val t = tmpTable()
    // range-clustered + BOTH index kinds: the zone probe is what keeps
    // bulk batches file-granular (bloom FPs union across a large batch)
    // range(0, 8000, 1, 8): exactly 8 contiguous 1000-row partitions —
    // deterministic file boundaries, unlike sampled repartitionByRange
    WarehouseFs.publishVersioned(
      spark.range(0, 8000, 1, 8)
        .select(col("id"), concat(lit("u"), col("id")).as("user"),
          (col("id") % 7).as("grp")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    // 1000 keys, all inside one range file, forced into the bulk regime
    val updates = spark.range(1000)
      .select(col("id"), concat(lit("fixed"), col("id")).as("user"),
        lit(99L).as("grp"))
    WarehouseFs.upsertRows(updates, t, "id", keepVersions = 5,
      maxPointKeys = 100)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 8000)
    assert(got.filter(col("id") < 1000 && !col("user").startsWith("fixed"))
      .count() === 0)
    assert(got.filter(col("id") >= 1000 && col("user").startsWith("fixed"))
      .count() === 0)
    // the zone probe confined the rewrite to the one clustered file
    assert(dirFileCount(t, currentDir(t)) === 1,
      "bulk regime must stay file-granular on a clustered key batch")
  }

  test("bulk regime with a single index kind: zone-only streams keys, bloom-only stays bounded") {
    // zone-only: the keys STREAM against the broadcast (file, min, max)
    // relation — the unbounded-batch leg — and still confine the rewrite
    val tz = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 8000, 1, 8)
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      tz, keepVersions = 5, zoneMapCols = Seq("id"))
    WarehouseFs.upsertRows(
      spark.range(1000).select(col("id"), lit("z").as("user")),
      tz, "id", keepVersions = 5, maxPointKeys = 0)
    assert(WarehouseFs.readTable(spark, tz).get
      .filter(col("user") === "z").count() === 1000)
    assert(dirFileCount(tz, currentDir(tz)) === 1,
      "zone-only bulk regime must stay file-granular")

    // bloom-only: the per-key membership leg alone still prunes
    val tb = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 8000, 1, 8)
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      tb, keepVersions = 5, bloomIndexCols = Seq("id"))
    WarehouseFs.upsertRows(
      spark.range(500).select(col("id"), lit("b").as("user")),
      tb, "id", keepVersions = 5, maxPointKeys = 0)
    assert(WarehouseFs.readTable(spark, tb).get
      .filter(col("user") === "b").count() === 500)
    assert(dirFileCount(tb, currentDir(tb)) < 8,
      "bloom-only bulk regime must open a strict file subset")
  }

  test("a 20k-key bulk merge whose keys live in 2 of 8 files rewrites exactly 2 files") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 80000, 1, 8) // 8 exact 10k-row contiguous files
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    // 20k keys > default maxPointKeys → bulk regime, zero key collect;
    // keys span exactly the first two 10k-row range files
    val source = spark.range(20000)
      .select(col("id"), concat(lit("m"), col("id")).as("user"))
    WarehouseFs.mergeInto(source, t, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")), keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 80000)
    assert(got.filter(col("id") < 20000 && !col("user").startsWith("m"))
      .count() === 0)
    assert(got.filter(col("id") >= 20000 && col("user").startsWith("m"))
      .count() === 0)
    // file-granular economics: 6 of 8 original files ride by REFERENCE
    // (the current version still reads them from v1's dir), and only
    // the 2 zone-matched files were rewritten into the new dir
    val refs = got.inputFiles
    assert(refs.count(_.contains("/v00000001/")) === 6,
      s"6 untouched files must carry by reference: ${refs.toSeq}")
    assert(refs.count(_.contains(s"/${currentDir(t)}/")) <= 2,
      "file-granular economics must survive a 20k-key batch")
    // and the CDC apply path shares the regime: feed the merge's delta
    // to a replica published the same way — same 2-file rewrite
    val dst = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 80000, 1, 8)
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      dst, keepVersions = 5, bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
    WarehouseFs.applyChangeFeed(spark, feed, dst, "id", keepVersions = 5)
    val dstRead = WarehouseFs.readTable(spark, dst).get
    assert(dstRead.collect().map(_.toSeq).toSet ===
      got.collect().map(_.toSeq).toSet)
    assert(dstRead.inputFiles.count(_.contains("/v00000001/")) === 6,
      "bulk CDC apply must stay file-granular too")
  }

  test("alterAddColumns evolves reads, DML, feeds, and time travel at zero data I/O") {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 8000, 1, 8)
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"))
    WarehouseFs.alterAddColumns(spark, t,
      StructType(Seq(StructField("score", DoubleType))))
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.columns.toSeq === Seq("id", "user", "score"))
    assert(got.filter(col("score").isNotNull).count() === 0)
    // CoW upsert carrying the new column: 1 file rewritten wide, the
    // other 7 stay as written and read NULL-filled
    WarehouseFs.upsertRows(
      Seq((42L, "u42x", 1.5)).toDF("id", "user", "score"), t, "id",
      keepVersions = 5)
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 8000)
    assert(after.filter(col("id") === 42).select("score").head().getDouble(0) === 1.5)
    assert(after.inputFiles.count(_.contains("/v00000001/")) === 7,
      "evolution must not rewrite untouched files")
    // the change feed across the ALTER boundary stays well-typed
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
    assert(feed.columns.toSeq === Seq("id", "user", "score", "_change_type"))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("score").head().getDouble(0) === 1.5)
    // time travel reads the declared width too (additive NULLs)
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.columns.toSeq ===
      Seq("id", "user", "score"))
    // nullability and name clashes refuse
    intercept[IllegalArgumentException] {
      WarehouseFs.alterAddColumns(spark, t,
        StructType(Seq(StructField("user", DoubleType))))
    }
    // a later FULL publish materializes the schema in its files and
    // retires the sidecar
    WarehouseFs.publishVersioned(after, t, keepVersions = 5,
      expectedVersion = Some(2L))
    assert(WarehouseFs.declaredSchema(spark, t).isEmpty,
      "a full publish must retire the declared-schema sidecar")
    assert(WarehouseFs.readTable(spark, t).get.columns.toSeq ===
      Seq("id", "user", "score"))
  }

  test("a >1M-key merge on a bloom-only table rewrites only matching files via the key-scan leg") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 80000, 1, 8) // 8 contiguous 10k-row files
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      t, keepVersions = 5, bloomIndexCols = Seq("id")) // no zone map
    // 1.2M distinct keys — past MaxBloomProbeKeys, so the metadata legs
    // are out (bloom deferred, no zones, unclustered): the exact
    // key-column scan must confine the rewrite with zero driver key
    // materialization. Matching keys (60000..79999) live in the last 2
    // of the 8 range files; the other ~1.18M keys miss the table.
    val source = spark.range(60000, 1260000)
      .select(col("id"), concat(lit("m"), col("id")).as("user"))
    WarehouseFs.mergeInto(source, t, "id",
      whenMatchedUpdate = Map("user" -> col("src_user")),
      whenNotMatchedInsert = false, keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 80000)
    assert(got.filter(col("id") >= 60000 && !col("user").startsWith("m"))
      .count() === 0)
    assert(got.filter(col("id") < 60000 && col("user").startsWith("m"))
      .count() === 0)
    val refs = got.inputFiles
    assert(refs.count(_.contains("/v00000001/")) === 6,
      s"6 untouched files must carry by reference: ${refs.toSeq}")
    assert(refs.count(_.contains(s"/${currentDir(t)}/")) <= 2,
      "the exact scan leg must confine a >1M-key rewrite to the matching files")
  }

  test("syncToState: full-snapshot reconcile commits CoW deltas only; no-change sync commits nothing") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 5)
    val current = WarehouseFs.readTable(spark, t).get
    // new desired state: one update, one delete, one insert
    val newState = current
      .filter(col("id") =!= 777L)
      .withColumn("user", when(col("id") === 42L, lit("changed"))
        .otherwise(col("user")))
      .unionByName(Seq((9000L, "u9000", 9000L % 7)).toDF("id", "user", "grp"))
      .localCheckpoint()
    assert(WarehouseFs.syncToState(newState, t, Seq("id"), keepVersions = 5))
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 8000) // 8000 - 1 deleted + 1 inserted
    assert(got.filter(col("id") === 42L).select("user").head().getString(0)
      === "changed")
    assert(got.filter(col("id") === 777L).count() === 0)
    assert(got.filter(col("id") === 9000L).count() === 1)
    // only the files holding ids 42 / 777 (+ the insert's own file) may
    // rewrite; the rest of the 8 range files carry by reference
    assert(got.inputFiles.count(_.contains("/v00000001/")) >= 6,
      s"untouched files must carry: ${got.inputFiles.toSeq}")
    // reconciling to the state the table already holds commits NOTHING
    val v = WarehouseFs.currentVersion(spark, t).get._1
    assert(!WarehouseFs.syncToState(got.localCheckpoint(), t, Seq("id"),
      keepVersions = 5))
    assert(WarehouseFs.currentVersion(spark, t).get._1 === v,
      "a no-change sync must not bump the version")
  }

  test("bulk key-scan over mixed pre/post-ALTER candidates treats old-width files as untouched") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(0, 80000, 1, 8) // 8 contiguous 10k-row files
        .select(col("id"), concat(lit("u"), col("id")).as("user")),
      t, keepVersions = 5, bloomIndexCols = Seq("id"))
    WarehouseFs.alterAddColumns(spark, t,
      StructType(Seq(StructField("tag", StringType))))
    // one small CoW upsert materializes a WIDE file for ids 79900..79999
    // (bloom-confined to the last range file); the other 7 files stay
    // pre-ALTER (no `tag` column in their footers)
    WarehouseFs.upsertRows(
      spark.range(79900, 80000).select(col("id"),
        concat(lit("w"), col("id")).as("user"), lit("x").as("tag")),
      t, "id", keepVersions = 5)
    val wideDir = currentDir(t)
    // merge keyed on (id, tag): 1.2M distinct tuples — the bloom leg
    // (b_id) defers past MaxBloomProbeKeys and there is no zone map, so
    // the EXACT key-column scan runs over every candidate file,
    // including the pre-ALTER ones that cannot contain `tag`. Those
    // groups are provably untouched (their rows read NULL tags, which
    // non-null probes never match) — before the reconciliation fix this
    // died with an AnalysisException on the old footers.
    val source = spark.range(0, 1200000)
      .select(col("id"), concat(lit("m"), col("id")).as("user"),
        lit("x").as("tag"))
    WarehouseFs.mergeIntoKeys(source, t, Seq("id", "tag"),
      whenMatchedUpdate = Map("user" -> col("src_user")),
      whenNotMatchedInsert = false, keepVersions = 5)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 80000)
    assert(got.filter(col("tag").isNotNull && !col("user").startsWith("m"))
      .count() === 0, "every wide (tag='x') row must take the update")
    assert(got.filter(col("tag").isNull && col("user").startsWith("m"))
      .count() === 0, "pre-ALTER rows (NULL tag) must never match")
    val refs = got.inputFiles
    assert(refs.count(_.contains("/v00000001/")) >= 6,
      s"pre-ALTER files must carry by reference: ${refs.toSeq}")
    assert(!refs.exists(_.contains(s"/$wideDir/")),
      "the matched wide file must have been rewritten, not carried")
    assert(refs.count(_.contains(s"/${currentDir(t)}/")) <= 2,
      "the exact scan must confine the rewrite to the wide file(s)")
  }

  test("deletion vectors: a scattered 1k-key delete commits ZERO data files, value-exact vs CoW") {
    val t = tmpTable(); val tCow = tmpTable()
    publishFixture(t, keepVersions = 6); publishFixture(tCow, keepVersions = 6)
    // every 8th id: 125 keys in EACH of the 8 range files — the
    // GDPR-erasure shape where copy-on-write degenerates to a full rewrite
    val keys: Seq[Any] = (0L until 8000L by 8L).toVector
    WarehouseFs.deleteWhereVectors(spark, t, "id", keys, keepVersions = 6)
    WarehouseFs.deleteWhere(spark, tCow, "id", keys, keepVersions = 6)
    // the CoW sibling rewrote every file — the regime DVs exist for
    assert(dirFileCount(tCow, currentDir(tCow)) === 8)
    // the DV commit wrote NO data files at all: sidecar only
    assert(!new java.io.File(s"$t/${currentDir(t)}").exists(),
      "a DV-only commit must not create a data dir")
    assert(WarehouseFs.hasDeletionVectors(spark, t))
    assert(WarehouseFs.deletionVectorRows(spark, t) === 1000L)
    // reads are value-exact against the CoW path
    val a = WarehouseFs.readTable(spark, t).get.collect().map(_.toSeq).toSet
    val b = WarehouseFs.readTable(spark, tCow).get.collect().map(_.toSeq).toSet
    assert(a === b && a.size === 7000)
    // time travel reads each version's OWN mask: v1 is unmasked
    assert(WarehouseFs.readTableVersion(spark, t, 1).get.count() === 8000)
    // the change feed classifies from the DV delta — exact vs the CoW feed
    def feedSet(p: String) = WarehouseFs.changeFeed(spark, p, Seq("id"), 1, 2)
      .get.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feedSet(t) === feedSet(tCow))
    assert(feedSet(t).size === 1000 && feedSet(t).forall(_._2 == "delete"))
    // a masked row cannot re-delete: provably nothing to do, no version
    val v0 = WarehouseFs.currentVersion(spark, t).get._1
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(8L), keepVersions = 6)
    assert(WarehouseFs.currentVersion(spark, t).get._1 === v0)
    // OPTIMIZE folds the vectors into a clean rewrite and retires them
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 6)
    assert(!WarehouseFs.hasDeletionVectors(spark, t))
    assert(WarehouseFs.readTable(spark, t).get.count() === 7000)
    assert(WarehouseFs.readTable(spark, t).get.select("id").as[Long]
      .collect().toSet === a.map(_.head.asInstanceOf[Long]))
  }

  test("deletion vectors compose with CoW DML and MoR updates on one chain") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 10)
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(5L), keepVersions = 10)      // v2
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(6L, 7L), keepVersions = 10)  // v3: masks accumulate
    assert(WarehouseFs.deletionVectorRows(spark, t) === 3L)
    // bloom-pruned point reads honor the mask
    assert(graftRead(t).filter(col("id").isin(5L)).count() === 0)
    assert(graftRead(t).filter(col("id").isin(8L)).count() === 1)
    // a CoW update rewriting the masked rows' file: the rewrite reads
    // MASKED (5/6/7 stay deleted) and that file's DV entries retire
    WarehouseFs.updateWhere(spark, t, "id", Seq(10L),
      Map("user" -> lit("X")), keepVersions = 10)
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.filter(col("id").isin(5L, 6L, 7L)).count() === 0,
      "a CoW rewrite must not resurrect masked rows")
    assert(got.filter(col("id") === 10L).select("user").head().getString(0) === "X")
    assert(!WarehouseFs.hasDeletionVectors(spark, t),
      "all masked rows lived in the rewritten file — the vector retires with it")
    // merge-on-read UPDATE: mask + one small new file, zero rewrites
    val before = currentDir(t)
    WarehouseFs.updateMatchingVectors(spark, t, col("id") === 20L,
      Map("user" -> lit("Y")), keepVersions = 10,
      pruning = (Map("id" -> Seq(20L)), Map.empty))
    assert(WarehouseFs.hasDeletionVectors(spark, t))
    assert(dirFileCount(t, currentDir(t)) === 1,
      "the MoR update writes exactly the updated rows' file")
    // plan audit: the mask reconciles as a BROADCAST anti-join (the
    // sidecar is tiny) — a shuffle here would tax every read of a
    // masked version with an Exchange of the whole table
    val maskedPlan = WarehouseFs.readTable(spark, t).get
      .queryExecution.executedPlan.toString()
    assert(maskedPlan.contains("BroadcastHashJoin") &&
      !maskedPlan.contains("SortMergeJoin"),
      s"the DV anti-join must broadcast the sidecar:\n$maskedPlan")
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 7997)
    assert(after.filter(col("id") === 20L).select("user").as[String]
      .collect().toSeq === Seq("Y"), "exactly one (updated) image of the row")
    // the feed across the MoR update is a clean pre/post pair
    val v = WarehouseFs.currentVersion(spark, t).get._1
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), v - 1, v).get
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((20L, "update_preimage"), (20L, "update_postimage")))
    // DV commits count toward the span-dir budget (each adds its
    // version's dir to the referenced set), so the EtlPipeline nightly
    // fold — which keys on versionSpanDirs — retires long mask chains
    // exactly like long CoW chains
    val spanBefore = WarehouseFs.versionSpanDirs(spark, t).get
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(30L), keepVersions = 10)
    assert(WarehouseFs.versionSpanDirs(spark, t).get === spanBefore + 1)
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 10)
    assert(WarehouseFs.versionSpanDirs(spark, t).get === 1)
    assert(!WarehouseFs.hasDeletionVectors(spark, t))
    assert(WarehouseFs.readTable(spark, t).get.count() === 7996)
  }

  test("merge-on-read MERGE: masks + one image file, value-equivalent to the CoW merge") {
    val t = tmpTable(); val tCow = tmpTable()
    publishFixture(t, keepVersions = 6); publishFixture(tCow, keepVersions = 6)
    // scattered source: one key per range file updates, one deletes, plus inserts
    val src = Seq(
      (100L, "m100", 0L), (1100L, "m1100", 0L), (2100L, "m2100", 0L),
      (3100L, "del", -1L), (4100L, "del", -1L),
      (9000L, "new9000", 9L), (9001L, "new9001", 9L))
      .toDF("id", "user", "grp")
    def run(path: String, mor: Boolean): Unit = {
      val update = Map("user" -> col("src_user"))
      val del = Some(col("src_grp") === -1L)
      if (mor) WarehouseFs.mergeIntoKeysVectors(src, path, Seq("id"),
        whenMatchedUpdate = update, whenMatchedDelete = del,
        keepVersions = 6)
      else WarehouseFs.mergeInto(src, path, "id",
        whenMatchedUpdate = update, whenMatchedDelete = del,
        keepVersions = 6)
    }
    run(t, mor = true); run(tCow, mor = false)
    // value equivalence across the two tiers
    val a = WarehouseFs.readTable(spark, t).get.collect().map(_.toSeq).toSet
    val b = WarehouseFs.readTable(spark, tCow).get.collect().map(_.toSeq).toSet
    assert(a === b && a.size === 8000 - 2 + 2)
    // MoR economics: one small image file, all 8 originals carried
    assert(dirFileCount(t, currentDir(t)) === 1,
      "updated images + inserts land as ONE new file")
    assert(dirFileCount(t, "v00000001") === 8, "originals carried, not rewritten")
    assert(WarehouseFs.deletionVectorRows(spark, t) === 5L,
      "3 updated + 2 deleted matched rows mask")
    // the CoW twin rewrote the matched keys' files (sampled range
    // boundaries may co-locate two keys — several files either way)
    assert(dirFileCount(tCow, currentDir(tCow)) >= 4)
    // feed across the MoR merge classifies updates/deletes/inserts exactly
    val feed = WarehouseFs.changeFeed(spark, t, Seq("id"), 1, 2).get
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("update_preimage" -> 3L, "update_postimage" -> 3L,
      "delete" -> 2L, "insert" -> 2L))
  }

  test("per-commit deletion-vector deltas: each MoR commit writes O(own rows) sidecar") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 10)
    def dvRowsInDir(dirName: String): Long =
      spark.read.parquet(s"$t/_dv/$dirName").count()
    WarehouseFs.deleteWhereVectors(spark, t, "id",
      (0L until 8000L by 8L).toVector, keepVersions = 10)              // v2
    val d2 = currentDir(t)
    assert(dvRowsInDir(d2) === 1000)
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(1L, 9L),
      keepVersions = 10)                                               // v3
    assert(dvRowsInDir(currentDir(t)) === 2,
      "a delta holds only its OWN entries — not the accumulated mask")
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(17L),
      keepVersions = 10)                                               // v4
    assert(dvRowsInDir(currentDir(t)) === 1)
    // the union of the referenced deltas is the full mask
    assert(WarehouseFs.deletionVectorRows(spark, t) === 1003)
    assert(WarehouseFs.readTable(spark, t).get.count() === 8000 - 1003)
    assert(spark.read.format("graft").option("table", t).load()
      .count() === 6997, "the DSv2 in-scan mask resolves the delta chain")
    // time travel: each version's mask is exactly ITS chain prefix
    assert(WarehouseFs.readTableVersion(spark, t, 2).get.count() === 7000)
    assert(WarehouseFs.readTableVersion(spark, t, 3).get.count() === 6998)
    // an append carries the chain BY REFERENCE: no sidecar write at all
    WarehouseFs.appendRows(
      spark.range(8000, 8010).select(col("id"),
        concat(lit("u"), col("id")).as("user"), (col("id") % 7).as("grp")),
      t, keepVersions = 10)                                            // v5
    assert(!new java.io.File(s"$t/_dv/${currentDir(t)}").exists(),
      "an untouched-files commit must write zero mask bytes")
    assert(WarehouseFs.readTable(spark, t).get.count() === 7007)
    assert(WarehouseFs.deletionVectorRows(spark, t) === 1003)
    // a CoW rewrite CONSOLIDATES: the touched file's entries retire
    WarehouseFs.updateWhere(spark, t, "id", Seq(3L),
      Map("user" -> lit("X")), keepVersions = 10)                      // v6
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 7007)
    assert(after.filter(col("id") === 3L).select("user").as[String]
      .collect().toSeq === Seq("X"))
    assert(after.filter(col("id").isin(8L, 16L, 1L, 9L, 17L)).count() === 0,
      "the rewrite must not resurrect masked rows")
    assert(WarehouseFs.deletionVectorRows(spark, t) < 1003,
      "the rewritten file's mask entries retire at consolidation")
    // GC keeps every delta dir a retained manifest references
    WarehouseFs.vacuum(spark, t, keepVersions = 2)
    assert(WarehouseFs.readTable(spark, t).get.count() === 7007)
    assert(spark.read.format("graft").option("table", t).load()
      .count() === 7007)
  }

  test("deletion vectors survive URI-escapable partition values (space, %, #)") {
    // `_metadata.file_path` spells a dir `p=a b` as `p=a%20b` and the
    // on-disk `p=100%25` (value "100%") as `p=100%2525`; manifests carry
    // the raw spelling. Before relUriSpelling, the exists-gate compared
    // the two spellings directly, skipped the anti-join, and deleted
    // rows silently resurfaced.
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(90).select(col("id"),
        when(col("id") % 3 === 0, "a b")
          .when(col("id") % 3 === 1, "100%").otherwise("x#y").as("p")),
      t, partitionBy = Seq("p"), keepVersions = 8, bloomIndexCols = Seq("id"))
    WarehouseFs.deleteMatchingVectors(spark, t,
      col("p") === "a b" && col("id") < 30, keepVersions = 8)
    WarehouseFs.deleteMatchingVectors(spark, t,
      col("p") === "100%" && col("id") < 10, keepVersions = 8)
    assert(WarehouseFs.hasDeletionVectors(spark, t))
    val got = WarehouseFs.readTable(spark, t).get
    assert(got.count() === 90 - 10 - 3,
      "masked rows must not resurface under escaped partition spellings")
    assert(got.filter(col("p") === "a b" && col("id") < 30).count() === 0)
    assert(got.filter(col("p") === "100%" && col("id") < 10).count() === 0)
    // the DSv2 in-scan mask resolves the same spellings (its per-file
    // position lookup works on the URI-escaped PartitionedFile path)
    val v2 = spark.read.format("graft").option("table", t).load()
    assert(v2.count() === 77)
    assert(v2.filter(col("p") === "a b" && col("id") < 30).count() === 0)
    assert(v2.filter(col("p") === "a b").count() ===
      got.filter(col("p") === "a b").count())
    // projection to PARTITION columns only: the parquet data schema is
    // then just the generated row-index column — the mask must still
    // apply (per-partition counts equal the V1 masked read's)
    assert(v2.groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      got.groupBy("p").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    // a CoW rewrite of ANOTHER partition must not resurrect the masks
    // (retiring touched files' entries also compares the two spellings)
    WarehouseFs.updateMatching(spark, t, col("p") === "x#y" && col("id") === 2L,
      Map("id" -> lit(9002L)), keepVersions = 8,
      pruning = (Map.empty, Map.empty))
    val after = WarehouseFs.readTable(spark, t).get
    assert(after.count() === 77)
    assert(after.filter(col("p") === "a b" && col("id") < 30).count() === 0)
    assert(after.filter(col("id") === 9002L).count() === 1)
    // and the fold to a clean version keeps the same logical content
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 8)
    assert(!WarehouseFs.hasDeletionVectors(spark, t))
    assert(WarehouseFs.readTable(spark, t).get.count() === 77)
  }

  test("hasDeletionVectors memoizes per (table, version) and invalidates on drop") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 8)
    def probes[T](body: => T): (T, Long) = {
      val before = WarehouseFs.dvProbeCount.get()
      val r = body
      (r, WarehouseFs.dvProbeCount.get() - before)
    }
    val (first, n1) = probes(WarehouseFs.hasDeletionVectors(spark, t))
    assert(!first && n1 === 1L, "first call pays exactly one probe")
    val (_, n2) = probes {
      (1 to 10).foreach(_ => assert(!WarehouseFs.hasDeletionVectors(spark, t)))
    }
    assert(n2 === 0L, "repeat calls on an immutable version are cache hits")
    // a new commit = a new version = one fresh probe, then cached again
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(3L), keepVersions = 8)
    val (second, n3) = probes(WarehouseFs.hasDeletionVectors(spark, t))
    assert(second && n3 === 1L)
    val (_, n4) = probes(WarehouseFs.hasDeletionVectors(spark, t))
    assert(n4 === 0L)
    // a pinned probe of an already-cached version is a hit too
    val (v1has, n5) = probes(WarehouseFs.hasDeletionVectors(spark, t, Some(1L)))
    assert(!v1has && n5 === 0L)
    // drop + recreate at the SAME path may reuse (path, version) pairs —
    // the delete choke point must invalidate BOTH caches (DV presence
    // and manifest parses): recreate with DIFFERENT content to prove
    // reads never serve the dropped table's cached manifest
    WarehouseFs.deleteIfExists(spark, t)
    WarehouseFs.publishVersioned(
      spark.range(5).select(col("id"), lit("n").as("user"), lit(0L).as("grp")),
      t, keepVersions = 8, bloomIndexCols = Seq("id"))
    val (fresh, n6) = probes(WarehouseFs.hasDeletionVectors(spark, t, Some(1L)))
    assert(!fresh && n6 === 1L, "recreated table must re-probe, not reuse")
    assert(WarehouseFs.readTableVersion(spark, t, 1L).get.count() === 5L,
      "a recreated table's v1 read must be the NEW content, not a cached parse")
  }

  test("merge-on-read DML refuses non-deterministic predicates and SET expressions") {
    val t = tmpTable()
    publishFixture(t, keepVersions = 4)
    // a predicate that can disagree between two physical evaluations
    // could mask one row set and re-insert another — refuse loudly, the
    // posture of every lakehouse engine
    val e1 = intercept[IllegalArgumentException] {
      WarehouseFs.deleteMatchingVectors(spark, t, rand() < 0.5, keepVersions = 4)
    }
    assert(e1.getMessage.contains("deterministic"))
    val e2 = intercept[IllegalArgumentException] {
      WarehouseFs.updateMatchingVectors(spark, t, col("id") === 1L,
        Map("user" -> concat(lit("u"), (rand() * 100).cast("int"))),
        keepVersions = 4)
    }
    assert(e2.getMessage.contains("deterministic"))
    val e3 = intercept[IllegalArgumentException] {
      WarehouseFs.mergeIntoKeysVectors(
        spark.range(3).select(col("id"), lit("z").as("user"),
          lit(0L).as("grp")),
        t, Seq("id"), whenMatchedUpdate = Map("user" -> lit("z")),
        whenMatchedDelete = Some(rand() < 0.5), keepVersions = 4)
    }
    assert(e3.getMessage.contains("deterministic"))
    // the table is untouched by all three refusals
    assert(WarehouseFs.currentVersion(spark, t).get._1 === 1L)
    assert(WarehouseFs.readTable(spark, t).get.count() === 8000)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, WarehouseFs}

/** Row tracking: stable per-row identity for KEYLESS tables — the
  * append-heavy log-shaped case that cannot produce CDC by key
  * diffing. Ids derive from manifest-assigned per-file bases
  * (`rid:` headers) and survive CoW rewrites through the hidden
  * physical carrier column; the keyless change feed / stream / sink
  * then key on `_row_id` with the keyed feed's file-granular
  * economics. */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable() =
    s"${java.nio.file.Files.createTempDirectory("graft_rid_")}/t"

  /** A keyless log-shaped fixture: `id` is bloom-indexed for predicate
    * pruning but NEVER declared a key; `bucket` carries duplicates. */
  private def publishTracked(t: String): Unit = {
    GraftCatalog.writeProps(spark, t, Map("rowTracking" -> "true"))
    WarehouseFs.publishVersioned(
      spark.range(8000).select(col("id"), (col("id") % 100).as("bucket"),
        concat(lit("p"), col("id")).as("payload"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 12, bloomIndexCols = Seq("id"))
  }

  /** Collect a version's content keyed by `_row_id`. */
  private def byId(t: String, v: Long): Map[Long, (Long, Long, String)] =
    WarehouseFs.readWithRowId(spark, t, Some(v)).get
      .select("_row_id", "id", "bucket", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  /** Apply one version's feed rows to a replica map keyed on _row_id. */
  private def applyFeed(replica: Map[Long, (Long, Long, String)],
                        rows: Seq[(Long, String, Long, Long, String)])
      : Map[Long, (Long, Long, String)] =
    rows.foldLeft(replica) { case (acc, (rid, ct, id, bucket, payload)) =>
      ct match {
        case "insert" | "update_postimage" =>
          acc + (rid -> ((id, bucket, payload)))
        case "delete" => acc - rid
        case "update_preimage" => acc // retraction info only
      }
    }

  private def feedRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String, Long, Long, String)] =
    df.select("_row_id", "_change_type", "id", "bucket", "payload")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq

  test("keyless DML chain: ids are stable through CoW rewrites, the " +
      "_row_id feed is exact and file-granular, and feed apply " +
      "reconstructs every version") {
    val t = tmpTable(); publishTracked(t)
    assert(WarehouseFs.isRowTracked(spark, t))
    val v1 = byId(t, 1L)
    assert(v1.size === 8000)
    assert(v1.keySet.size === 8000, "ids must be unique")
    // the hidden carrier column never leaks into reads
    assert(!WarehouseFs.readTable(spark, t).get.columns
      .contains(WarehouseFs.RowIdCol))
    // v2: CoW delete of ONE row — its file rewrites, co-located rows
    // keep their identity through the move
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 12)
    val v2 = byId(t, 2L)
    assert(v2.size === 7999)
    val deletedId = v1.collectFirst { case (rid, (42L, _, _)) => rid }.get
    assert(v1 - deletedId === v2,
      "every surviving row keeps its id AND its values through the rewrite")
    // the keyless feed: exactly one delete, nothing for the ~999
    // co-located rows the rewrite moved
    val f12 = WarehouseFs.changeFeed(spark, t, Nil, 1L, 2L).get
    // FILE-GRANULAR: the 1-row change reads the rewritten file + its
    // ancestor, never the other 7 untouched files
    val scanned = f12.inputFiles.map(_.split('/').last).toSet
    assert(scanned.size <= 3, s"a 1-row delete's feed must scan ~2 files, got $scanned")
    val r12 = feedRows(f12)
    assert(r12 === Seq((deletedId, "delete", 42L, 42L, "p42")),
      s"got: $r12")
    // v3: CoW update of one row — an update pair under ONE identity
    WarehouseFs.updateWhere(spark, t, "id", Seq(4242L),
      Map("payload" -> lit("patched")), keepVersions = 12)
    val f23 = feedRows(WarehouseFs.changeFeed(spark, t, Nil, 2L, 3L).get)
    val patchedId = v1.collectFirst { case (rid, (4242L, _, _)) => rid }.get
    assert(f23.toSet === Set(
      (patchedId, "update_preimage", 4242L, 42L, "p4242"),
      (patchedId, "update_postimage", 4242L, 42L, "patched")),
      s"got: $f23")
    // v4: blind append — fresh identities above every prior id
    WarehouseFs.appendRows(
      Seq((90001L, 1L, "new1"), (90002L, 2L, "new2"))
        .toDF("id", "bucket", "payload"), t, keepVersions = 12)
    val f34 = feedRows(WarehouseFs.changeFeed(spark, t, Nil, 3L, 4L).get)
    assert(f34.map(_._2).toSet === Set("insert") && f34.size === 2)
    assert(f34.map(_._1).forall(rid => !v1.contains(rid)),
      "appended rows must get FRESH ids")
    // v5: merge-on-read delete — a mask moves no rows, identity free
    WarehouseFs.deleteWhereVectors(spark, t, "id", Seq(77L),
      keepVersions = 12)
    val f45 = feedRows(WarehouseFs.changeFeed(spark, t, Nil, 4L, 5L).get)
    assert(f45.map(r => (r._2, r._3)) === Seq(("delete", 77L)), s"got $f45")
    // v6: OPTIMIZE folds the chain — identity survives the full
    // rewrite, so the feed across it is EMPTY
    graft.operators.ScaleJoins.compactParquet(spark, t, keepVersions = 12)
    assert(WarehouseFs.changeFeed(spark, t, Nil, 5L, 6L).get.count() === 0,
      "an OPTIMIZE of a tracked table must be invisible to the feed")
    // replica reconstruction: apply the whole feed version by version
    // and match EVERY intermediate state exactly
    var replica = Map.empty[Long, (Long, Long, String)]
    (1L to 6L).foreach { v =>
      val step = WarehouseFs.tableChanges(spark, t, Nil, v, Some(v))
      replica = applyFeed(replica, feedRows(step))
      assert(replica === byId(t, v),
        s"feed apply must reconstruct v$v exactly")
    }
    // RESTORE rolls identity back with the files
    WarehouseFs.restoreVersion(spark, t, 2L, keepVersions = 12)
    replica = applyFeed(replica,
      feedRows(WarehouseFs.changeFeed(spark, t, Nil, 6L, 7L).get))
    assert(replica === byId(t, 2L),
      "the feed across a RESTORE is the file-granular reverse of what " +
        "it undoes")
  }

  test("enabling rowTracking on an EXISTING table backfills ids at the " +
      "next commit; untracked feeds refuse with the enabling step") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(100).select(col("id"), concat(lit("u"), col("id")).as("v")),
      t, keepVersions = 8, bloomIndexCols = Seq("id"))
    assert(!WarehouseFs.isRowTracked(spark, t))
    val e = intercept[IllegalArgumentException] {
      WarehouseFs.changeFeed(spark, t, Nil, 1L, 1L).get }
    assert(e.getMessage.contains("rowTracking"), e.getMessage)
    // enable → the next commit backfills bases for every existing file
    GraftCatalog.writeProps(spark, t,
      GraftCatalog.readProps(spark, t) + ("rowTracking" -> "true"))
    WarehouseFs.appendRows(Seq((1000L, "new")).toDF("id", "v"), t,
      keepVersions = 8)
    assert(WarehouseFs.isRowTracked(spark, t))
    val ids = WarehouseFs.readWithRowId(spark, t).get
      .select("_row_id").as[Long].collect()
    assert(ids.length === 101 && ids.distinct.length === 101,
      "backfilled + appended rows all carry unique ids")
    // and the feed works from the enabling commit forward
    WarehouseFs.deleteWhere(spark, t, "id", Seq(5L), keepVersions = 8)
    val feed = WarehouseFs.changeFeed(spark, t, Nil, 2L, 3L).get
    assert(feed.select("_change_type").as[String].collect().toSeq ===
      Seq("delete"))
  }

  test("a keyless WAREHOUSE replica maintains itself: seed from the " +
      "id-carrying snapshot, applyChangeFeed keyed on _row_id — end " +
      "state equals the source exactly") {
    val t = tmpTable(); publishTracked(t)
    // replica: the snapshot WITH ids, _row_id as an ordinary (bloom-
    // indexed) column — the feed's identity becomes the replica's key
    val replica = tmpTable()
    WarehouseFs.publishVersioned(
      WarehouseFs.readWithRowId(spark, t).get, replica,
      keepVersions = 8, bloomIndexCols = Seq("_row_id"))
    // a DML burst on the source
    WarehouseFs.deleteWhere(spark, t, "id", Seq(42L), keepVersions = 12)
    WarehouseFs.updateWhere(spark, t, "id", Seq(4242L),
      Map("payload" -> lit("patched")), keepVersions = 12)
    WarehouseFs.appendRows(
      Seq((90001L, 1L, "new1")).toDF("id", "bucket", "payload"), t,
      keepVersions = 12)
    val feed = WarehouseFs.tableChanges(spark, t, Nil, 2L, Some(4L))
    assert(feed.columns.contains("_row_id"))
    // apply version-by-version (the applyChangeFeed uniqueness contract)
    (2L to 4L).foreach { v =>
      WarehouseFs.applyChangeFeedKeys(spark,
        feed.filter(col("_commit_version") === v), replica,
        Seq("_row_id"), keepVersions = 8, refreshStats = false)
    }
    val got = WarehouseFs.readTable(spark, replica).get
      .select("_row_id", "id", "bucket", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === byId(t, 4L),
      "the replica must equal the source state row-for-row, id-for-id")
  }

  test("keyless upserts keep innocents' identity: co-located rows in a " +
      "rewritten file emit nothing; replaced keys emit delete+insert " +
      "pairs under their own ids") {
    val t = tmpTable(); publishTracked(t)
    val v1 = byId(t, 1L)
    // upsertRows on a TRACKED table (keyed verb, tracked storage):
    // matched key 100 rewrites its file; 7999 co-located rows carry
    WarehouseFs.upsertRows(
      Seq((100L, 1L, "upserted"), (95000L, 5L, "fresh"))
        .toDF("id", "bucket", "payload"),
      t, "id", keepVersions = 12, refreshStats = false)
    val f = feedRows(WarehouseFs.changeFeed(spark, t, Nil, 1L, 2L).get)
    val oldId = v1.collectFirst { case (rid, (100L, _, _)) => rid }.get
    assert(f.size === 3, s"got $f")
    assert(f.contains((oldId, "delete", 100L, 0L, "p100")),
      s"the replaced image retires under its old id: $f")
    assert(f.exists(r => r._2 == "insert" && r._3 == 100L &&
      r._5 == "upserted" && r._1 != oldId),
      "the new image is a NEW identity (upsert replaces, not mutates)")
    assert(f.exists(r => r._2 == "insert" && r._3 == 95000L))
  }

  test("keyed rewrites keep bystanders' identity: a 1-key MERGE, sync or " +
      "feed apply emits only that key's rows") {
    val verbs: Seq[(String, String => Unit)] = Seq(
      "mergeIntoKeys" -> (t => WarehouseFs.mergeIntoKeys(
        Seq((100L, "merged")).toDF("id", "payload"), t, Seq("id"),
        whenMatchedUpdate = Map("payload" -> col("src_payload")),
        whenNotMatchedInsert = false, keepVersions = 12)),
      "syncToState" -> (t => WarehouseFs.syncToState(
        WarehouseFs.readTable(spark, t).get.withColumn("payload",
          when(col("id") === 100L, lit("synced")).otherwise(col("payload"))),
        t, Seq("id"), keepVersions = 12)),
      "applyChangeFeedKeys" -> (t => WarehouseFs.applyChangeFeedKeys(spark,
        Seq((100L, 0L, "applied", "update_postimage"))
          .toDF("id", "bucket", "payload", "_change_type"),
        t, Seq("id"), keepVersions = 12)))
    // key 100 shares its file with 999 rows that must emit nothing:
    // per verb, (feed rows, feed rows of other keys)
    val got = verbs.map { case (verb, change) =>
      val t = tmpTable(); publishTracked(t)
      change(t)
      val f = feedRows(WarehouseFs.changeFeed(spark, t, Nil, 1L, 2L).get)
      verb -> ((f.size, f.count(_._3 != 100L)))
    }
    assert(got.forall(_._2 == ((2, 0))), got.mkString(", "))
  }
}

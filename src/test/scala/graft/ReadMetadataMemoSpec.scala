package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.WarehouseFs

/** The read-side metadata memos of [[WarehouseFs]]: each committed data
  * dir's parquet data schema and each bloom index entry's bitsets are
  * derived once, so a warm point read of a bloom-indexed table plans
  * without a Spark job and runs exactly one (the scan). The memos must
  * never serve stale metadata: an index swap, an additive ALTER, a
  * drop-and-recreate at the same path and a session whose parquet confs
  * infer differently all see what they would see without them. */
class ReadMetadataMemoSpec extends SparkSpec {
  import spark.implicits._

  private val wh = SparkTestBase.catalogWarehouse
  private def fresh(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
  private def tmpTable() =
    s"${java.nio.file.Files.createTempDirectory("graft_memo_")}/t"

  /** `body`'s result and the Spark jobs started while it ran, counted by
    * a listener. A marker job after `body` flushes the listener queue
    * (events arrive in order), so the count is complete. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val markerGroup = fresh("memo_marker")
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == markerGroup))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(markerGroup, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener queue did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Does the table's current manifest list files (a CoW chain) rather
    * than name one data dir? */
  private def isFileListVersion(path: String): Boolean = {
    val v = WarehouseFs.currentVersion(spark, path).get._1
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$path/_versions/$v%08d")), "UTF-8")
    body.startsWith("files:")
  }

  test("a warm point SELECT on a bloom-indexed table runs exactly one Spark " +
      "job, on a copy-on-write file-list version and on a post-OPTIMIZE dir version") {
    val t = fresh("memo_jobs")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, grp INT, v STRING) " +
      "TBLPROPERTIES ('bloomIndexCols'='id', 'keyCols'='id')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CAST(id % 10 AS INT), " +
      s"CONCAT('v', id) FROM range(0, 20000, 1, 4)")
    spark.sql(s"UPDATE graft.$t SET v = 'u' WHERE id IN (7, 15007)")
    def select(k: Long) =
      spark.sql(s"SELECT id, grp, v FROM graft.$t WHERE id = $k")
        .as[(Long, Int, String)].collect().toSeq
    def warmPointRead(k: Long, want: (Long, Int, String)): Unit = {
      select(k + 1) // warm-up: the first read of this version fills the memos
      val (rows, jobs) = jobsOf(select(k))
      assert(rows === Seq(want))
      assert(jobs === 1, s"a warm point read should start only its scan job, started $jobs")
    }
    assert(isFileListVersion(s"$wh/$t"))
    warmPointRead(7L, (7L, 7, "u"))
    warmPointRead(12345L, (12345L, 5, "v12345"))
    spark.sql(s"OPTIMIZE graft.$t")
    assert(!isFileListVersion(s"$wh/$t"))
    warmPointRead(15007L, (15007L, 7, "u"))
    warmPointRead(42L, (42L, 2, "v42"))
    // an absent key finds no candidate file and still answers correctly
    val (none, _) = jobsOf(select(999999L))
    assert(none.isEmpty)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("a float→double widen and a REINDEX swap the bloom entry: the memo " +
      "misses, and the point read finds its row (no false negative)") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(8000).select(
        col("id").cast("int").as("id"),
        (col("id") / 10.0).cast("float").as("score"))
        .repartitionByRange(8, col("id")),
      t, keepVersions = 8, bloomIndexCols = Seq("id", "score"))
    // memoize the float-built entry
    val pre = WarehouseFs.bloomCandidateFiles(spark, t, "score", Seq(0.2f))
    assert(pre.exists(fs0 => fs0.nonEmpty && fs0.size < 8), s"got $pre")
    WarehouseFs.alterWidenColumn(spark, t, "score", DoubleType)
    // the swapped entry has no score bitsets any more; a stale memo
    // would still prune with the float-form ones
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "score",
      Seq(0.2f.toDouble)).isEmpty)
    assert(WarehouseFs.bloomCandidateFiles(spark, t, "id", Seq(42))
      .exists(fs0 => fs0.nonEmpty && fs0.size < 8))
    WarehouseFs.reindexCurrentVersion(spark, t, bloomCols = Seq("score"))
    val probe = 0.2f.toDouble // "0.20000000298023224", not the float form "0.2"
    val rebuilt = WarehouseFs.bloomCandidateFiles(spark, t, "score", Seq(probe))
    assert(rebuilt.exists(fs0 => fs0.nonEmpty && fs0.size < 8), s"got $rebuilt")
    assert(WarehouseFs.readBloomPruned(spark, t, "score", Seq(probe))
      .get.select("id").as[Int].collect().toSeq === Seq(2))
    val (files, _, kept, total) =
      WarehouseFs.prunedFiles(spark, t, point = Map("score" -> Seq(probe))).get
    assert(kept >= 1 && kept < total)
    assert(spark.read.parquet(files: _*).filter(col("score") === probe.toFloat)
      .count() === 1)
  }

  test("a column added by ALTER TABLE … ADD COLUMNS after a memoized read " +
      "reads NULL-filled on the old files") {
    val t = fresh("memo_alter")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('bloomIndexCols'='id')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CONCAT('v', id) FROM range(0, 100, 1, 2)")
    assert(spark.sql(s"SELECT v FROM graft.$t WHERE id = 5").as[String]
      .collect().toSeq === Seq("v5"))
    spark.sql(s"ALTER TABLE graft.$t ADD COLUMNS (note STRING, n INT)")
    assert(spark.table(s"graft.$t").columns.toSeq === Seq("id", "v", "note", "n"))
    val old = spark.sql(s"SELECT id, v, note, n FROM graft.$t WHERE id = 5").collect()
    assert(old.length === 1 && old.head.getString(1) === "v5" &&
      old.head.isNullAt(2) && old.head.isNullAt(3))
    spark.sql(s"INSERT INTO graft.$t VALUES (500, 'new', 'hello', 3)")
    assert(spark.sql(s"SELECT id, note, n FROM graft.$t WHERE id IN (5, 500) ORDER BY id")
      .as[(Long, Option[String], Option[Int])].collect().toSeq ===
      Seq((5L, None, None), (500L, Some("hello"), Some(3))))
    assert(spark.sql(s"SELECT count(*) FROM graft.$t WHERE note IS NULL")
      .as[Long].head() === 100L)
    spark.sql(s"DROP TABLE graft.$t")
  }

  test("a table dropped and re-created at the same path with another " +
      "schema reads the new schema") {
    val t = fresh("memo_recreate")
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('bloomIndexCols'='id')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, CONCAT('v', id) FROM range(0, 50)")
    assert(spark.sql(s"SELECT v FROM graft.$t WHERE id = 3").as[String]
      .collect().toSeq === Seq("v3"))
    spark.sql(s"DROP TABLE graft.$t")
    // same path, same version numbers and data-dir names, other columns
    spark.sql(s"CREATE TABLE graft.$t (id BIGINT, w DOUBLE, v INT) " +
      "TBLPROPERTIES ('bloomIndexCols'='id')")
    spark.sql(s"INSERT INTO graft.$t SELECT id, id * 0.5, CAST(id * 2 AS INT) FROM range(0, 50)")
    val df = spark.sql(s"SELECT * FROM graft.$t WHERE id = 3")
    assert(df.schema.map(f => f.name -> f.dataType) ===
      Seq("id" -> LongType, "w" -> DoubleType, "v" -> IntegerType))
    assert(df.as[(Long, Double, Int)].collect().toSeq === Seq((3L, 1.5, 6)))
    assert(WarehouseFs.readTable(spark, s"$wh/$t").get.schema("v").dataType === IntegerType)
    spark.sql(s"DROP TABLE graft.$t")
    // the same through DROP NAMESPACE … CASCADE
    val ns = fresh("memo_ns")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO graft.$ns.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT v FROM graft.$ns.t WHERE id = 2").as[String]
      .collect().toSeq === Seq("b"))
    spark.sql(s"DROP NAMESPACE graft.$ns CASCADE")
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO graft.$ns.t VALUES (2, 2.5)")
    assert(spark.sql(s"SELECT v FROM graft.$ns.t WHERE id = 2").as[Double]
      .collect().toSeq === Seq(2.5))
    spark.sql(s"DROP NAMESPACE graft.$ns CASCADE")
  }

  test("two sessions that differ in spark.sql.legacy.parquet.nanosAsLong " +
      "each get the schema their own conf infers") {
    val t = tmpTable()
    WarehouseFs.publishVersioned(
      spark.range(3).select(col("id"), (col("id") * 1000L).as("ts")), t)
    // the version's data dir now holds a file from a non-Spark writer:
    // nanosecond timestamps and no Spark schema in the footer, so what
    // inference returns depends on the reading session's conf
    val dir = new java.io.File(WarehouseFs.currentVersion(spark, t).get._2)
    dir.listFiles().filter(f => f.getName.endsWith(".parquet") ||
      f.getName.endsWith(".parquet.crc")).foreach(f => assert(f.delete()))
    writeNanosFile(new java.io.File(dir, "part-00000-foreign.parquet").toString,
      Seq(0L -> 1000000000123L, 1L -> 2000000000456L))
    def session(nanosAsLong: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
      s
    }
    val (asLong, strict) = (session(true), session(false))
    def read(s: org.apache.spark.sql.SparkSession) =
      WarehouseFs.readTable(s, t).get
    // the nanos-as-long session memoizes the dir's schema first …
    assert(read(asLong).schema("ts").dataType === LongType)
    assert(read(asLong).orderBy("id").select("ts").as[Long].collect().toSeq ===
      Seq(1000000000123L, 2000000000456L))
    // … and the strict session must not be served it: its own inference
    // refuses nanosecond timestamps
    val e = intercept[Exception](read(strict).collect())
    assert(e.getMessage.contains("NANOS"), e.getMessage)
    assert(read(asLong).schema("ts").dataType === LongType)
  }

  /** One parquet file with `id` INT64 and `ts` INT64 TIMESTAMP(NANOS),
    * written by parquet's example writer (no Spark schema metadata). */
  private def writeNanosFile(path: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      rows.foreach { case (id, ts) => w.write(groups.newGroup().append("id", id).append("ts", ts)) }
    } finally w.close()
  }
}

package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end replay of the reference's 3 shipped days through the full
  * pipeline (feeds → SCD2/SCD1/fact → fraud mart), with re-run idempotence.
  * The days are the reference files or the generated feeds that reproduce
  * their vectors (`SparkTestBase.refDir`, FIXTURES.md §A).
  */
class EtlPipelineSpec extends SparkSpec {
  private val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toString

  private lazy val firstRun: Unit =
    EtlPipeline.run(spark, refDir, wh, None)

  /** Served-table read through the latest commit (the fact stays a
    * plain path). */
  private def served(whDir: String, name: String) =
    graft.sources.WarehouseFs.readCommitted(spark, whDir, name).get

  test("golden counts after 3 days: 155 hist rows, 47116 tx, 24 blacklist") {
    firstRun
    assert(served(wh, "dwh_dim_terminals_hist").count() === 155)
    assert(spark.read.parquet(s"$wh/dwh_fact_transactions").count() === 47116)
    assert(served(wh, "dwh_fact_pssprt_blcklst").count() === 24)
    assert(served(wh, "rep_fraud").count() > 0)
  }

  test("transactions fact is partitioned by day (partition pruning)") {
    firstRun
    val days = new java.io.File(s"$wh/dwh_fact_transactions").list()
      .filter(_.startsWith("day=")).sorted
    assert(days.toSeq === Seq("day=2021-03-01", "day=2021-03-02", "day=2021-03-03"))
  }

  test("re-running the whole pipeline is a no-op (idempotent loads)") {
    firstRun
    val histBefore = served(wh, "dwh_dim_terminals_hist").collect().toSet
    EtlPipeline.run(spark, refDir, wh, None)
    assert(spark.read.parquet(s"$wh/dwh_fact_transactions").count() === 47116)
    assert(served(wh, "dwh_dim_terminals_hist").collect().toSet === histBefore)
  }

  test("a feed dir that does not exist is refused, naming the path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nofeed_").toString
    val missing = s"$tmp/no_such_feeds"
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, missing, s"$tmp/wh", None)
    }
    assert(e.getMessage.contains(missing), e.getMessage)
    assert(!new java.io.File(s"$tmp/wh").exists(), "a refused run writes nothing")
  }

  test("an empty feed dir is an empty night: the warehouse is unchanged") {
    firstRun
    import graft.sources.WarehouseFs
    val empty = java.nio.file.Files.createTempDirectory("graft_emptyfeed_").toString
    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(wh)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          ((f.toFile.length(), f.toFile.lastModified()))).toMap
      finally walk.close()
    }
    val commitBefore = WarehouseFs.currentCommit(spark, wh)
    val filesBefore = snapshot()
    EtlPipeline.run(spark, empty, wh, None)
    assert(WarehouseFs.currentCommit(spark, wh) === commitBefore)
    assert(snapshot() === filesBefore)
  }

  test("file-name day extraction matches the reference's DDMMYYYY scheme") {
    assert(EtlPipeline.dayOf("transactions_01032021.txt") === "2021-03-01")
    assert(EtlPipeline.dayOf("terminals_31122021.xlsx") === "2021-12-31")
  }

  test("factSlice prunes the fact scan to the day window (PartitionFilters)") {
    firstRun
    import org.apache.spark.sql.execution.FileSourceScanExec
    val factDir = s"$wh/dwh_fact_transactions"
    val slice = EtlPipeline.factSlice(spark, factDir,
      java.sql.Date.valueOf("2021-03-02"), java.sql.Date.valueOf("2021-03-03"))
    slice.collect() // populate this plan's own scan metrics
    val scan = slice.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    def parquetFilesUnder(p: java.io.File): Int =
      Option(p.listFiles()).toSeq.flatten.map {
        case d if d.isDirectory => parquetFilesUnder(d)
        case f if f.getName.endsWith(".parquet") => 1
        case _ => 0
      }.sum
    val total = parquetFilesUnder(new java.io.File(factDir))
    val read = scan.metrics("numFiles").value
    assert(read < total, s"scan read $read of $total files — no pruning")
    assert(slice.select("day").distinct().count() === 2)
  }

  /** Stage a feed dir holding exactly `files` (reference file names). */
  private def stageFeeds(dir: String, files: Seq[String]): String = {
    val fd = new java.io.File(dir); fd.mkdirs()
    for (n <- files)
      java.nio.file.Files.copy(new java.io.File(refDir, n).toPath, fd.toPath.resolve(n))
    dir
  }
  private def asOf(i: Int) = java.sql.Timestamp.valueOf(s"2021-03-0$i 23:59:00")
  private def exportBank(whFull: String, bank: String): Unit = {
    val (cl, ac, cd) = EtlPipeline.demoBankTables(spark, whFull)
    cl.write.parquet(s"$bank/clients.parquet")
    ac.write.parquet(s"$bank/accounts.parquet")
    cd.write.parquet(s"$bank/cards.parquet")
  }
  private def assertMartParity(whInc: String, whFull: String): Unit = {
    val full = served(whFull, "rep_fraud").drop("report_dt")
    val inc = served(whInc, "rep_fraud").drop("report_dt")
    assert(inc.count() === full.count())
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
  }
  private def txFile(d: Int) = f"transactions_0${d}032021.txt"
  private def termFile(d: Int) = f"terminals_0${d}032021.xlsx"
  private def blFile(d: Int) = f"passport_blacklist_0${d}032021.xlsx"

  test("three incremental nightly runs equal one full rebuild (mart parity)") {
    firstRun
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_").toString
    val whFull = s"$tmp/wh_full"; val whInc = s"$tmp/wh_inc"; val bank = s"$tmp/bank"
    for (i <- 1 to 3)
      stageFeeds(s"$tmp/feeds_$i", Seq(txFile(i), termFile(i), blFile(i)))
    // full rebuild: all three days in one run; its demo bank fixture
    // (deterministic over the complete fact) is exported so the
    // incremental warehouse sees the IDENTICAL dimension rows
    EtlPipeline.run(spark, refDir, whFull, None, Some(asOf(3)))
    exportBank(whFull, bank)
    // one nightly run per feed day
    for (i <- 1 to 3)
      EtlPipeline.run(spark, s"$tmp/feeds_$i", whInc, Some(bank), Some(asOf(i)))
    assertMartParity(whInc, whFull)
  }

  test("backfilling a day after its successor equals the full rebuild (crossing pairs recovered)") {
    // day 1's transactions arrive LAST (a late batch): day 2's original run
    // could not pair day1→day2 midnight-crossing city hops (the reference
    // data has 4 such pairs; day2→day3 has none), so the backfill run must
    // re-derive day 2 (right-edge extension) and anti-join the mart so
    // only the recovered pairs are appended
    firstRun
    val tmp = java.nio.file.Files.createTempDirectory("graft_ooo_").toString
    val whFull = s"$tmp/wh_full"; val whInc = s"$tmp/wh_inc"; val bank = s"$tmp/bank"
    // dims (terminals/passport) arrive on days 2 and 3 in BOTH warehouses —
    // only the transactions feed is late, so dim state matches exactly
    val fullFeeds = stageFeeds(s"$tmp/feeds_full",
      Seq(termFile(2), termFile(3), blFile(2), blFile(3), txFile(1), txFile(2), txFile(3)))
    EtlPipeline.run(spark, fullFeeds, whFull, None, Some(asOf(3)))
    exportBank(whFull, bank)
    stageFeeds(s"$tmp/feeds_2", Seq(termFile(2), blFile(2), txFile(2)))
    stageFeeds(s"$tmp/feeds_3", Seq(termFile(3), blFile(3), txFile(3)))
    stageFeeds(s"$tmp/feeds_1late", Seq(txFile(1)))
    EtlPipeline.run(spark, s"$tmp/feeds_2", whInc, Some(bank), Some(asOf(2)))
    EtlPipeline.run(spark, s"$tmp/feeds_3", whInc, Some(bank), Some(asOf(3)))
    val day2Before = served(whInc, "rep_fraud")
      .filter(to_date(col("event_dt")) === lit(java.sql.Date.valueOf("2021-03-02"))).count()
    EtlPipeline.run(spark, s"$tmp/feeds_1late", whInc, Some(bank), Some(asOf(4)))
    val day2After = served(whInc, "rep_fraud")
      .filter(to_date(col("event_dt")) === lit(java.sql.Date.valueOf("2021-03-02"))).count()
    // the extension actually recovered crossing pairs (the data has them)
    assert(day2After > day2Before, s"no day-2 events recovered ($day2Before)")
    assertMartParity(whInc, whFull)
  }

  test("loading day1+day3 with day2 already present equals the full rebuild (no dup events)") {
    firstRun
    val tmp = java.nio.file.Files.createTempDirectory("graft_gap_").toString
    val whFull = s"$tmp/wh_full"; val whInc = s"$tmp/wh_inc"; val bank = s"$tmp/bank"
    val fullFeeds = stageFeeds(s"$tmp/feeds_full",
      Seq(termFile(2), blFile(2), txFile(1), txFile(2), txFile(3)))
    EtlPipeline.run(spark, fullFeeds, whFull, None, Some(asOf(3)))
    exportBank(whFull, bank)
    stageFeeds(s"$tmp/feeds_2", Seq(termFile(2), blFile(2), txFile(2)))
    stageFeeds(s"$tmp/feeds_13", Seq(txFile(1), txFile(3)))
    EtlPipeline.run(spark, s"$tmp/feeds_2", whInc, Some(bank), Some(asOf(2)))
    // one run loading two non-contiguous days around the existing one:
    // two windows; day2 must not be re-reported (anti-join), day1→day2
    // crossings must be recovered via the first window's extension
    EtlPipeline.run(spark, s"$tmp/feeds_13", whInc, Some(bank), Some(asOf(3)))
    assertMartParity(whInc, whFull)
  }

  test("a second run under the same report_dt keeps the first run's mart rows") {
    firstRun
    val tmp = java.nio.file.Files.createTempDirectory("graft_same_").toString
    val whInc = s"$tmp/wh_inc"; val bank = s"$tmp/bank"
    EtlPipeline.run(spark, refDir, s"$tmp/wh_seed", None, Some(asOf(3)))
    exportBank(s"$tmp/wh_seed", bank)
    stageFeeds(s"$tmp/feeds_1", Seq(termFile(1), blFile(1), txFile(1)))
    stageFeeds(s"$tmp/feeds_2", Seq(txFile(2)))
    // both batches land on the same calendar day → same report_dt partition
    EtlPipeline.run(spark, s"$tmp/feeds_1", whInc, Some(bank), Some(asOf(2)))
    val afterFirst = served(whInc, "rep_fraud").collect().toSet
    assert(afterFirst.nonEmpty)
    EtlPipeline.run(spark, s"$tmp/feeds_2", whInc, Some(bank),
      Some(java.sql.Timestamp.valueOf("2021-03-02 23:59:30")))
    val afterSecond = served(whInc, "rep_fraud").collect().toSet
    assert(afterFirst.subsetOf(afterSecond),
      s"${afterFirst.size - (afterFirst & afterSecond).size} rows lost by dynamic overwrite")
    assert(afterSecond.size > afterFirst.size) // day 2 events arrived
  }

  test("z-ordered fact day: terminal-scoped query skips most row groups") {
    firstRun
    import org.apache.spark.sql.execution.FileSourceScanExec
    val factPath = s"$wh/dwh_fact_transactions"
    // recluster one day into 8 files so the pruner has row groups to skip
    // (the nightly path sizes by bytes — tiny test data would give 1 file)
    EtlPipeline.zOrderFactDays(spark, factPath, Seq("2021-03-01"), filesPerDay = Some(16))
    val day = java.sql.Date.valueOf("2021-03-01")
    val fact = spark.read.parquet(factPath)
    val dayRows = fact.filter(col("day") === lit(day)).count()
    // deterministic terminal choice: an arbitrary head() picks whatever
    // partition answers first, and terminals whose z-range straddles more
    // row-group boundaries materialize more — the suite-order-dependent
    // flake r6 hit (57% materialized in-suite, <50% isolated)
    val term = fact.filter(col("day") === lit(day)).select("terminal")
      .orderBy("terminal").head().getString(0)
    val q = fact.filter(col("day") === lit(day) && col("terminal") === lit(term))
    val hits = q.count()
    assert(hits > 0)
    q.collect()
    val scan = q.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metrics("numFiles").value === 16, "partition pruning to the one day")
    // pushed terminal filter skips row groups whose min/max exclude it:
    // the scan materializes only surviving groups, a fraction of the day
    val materialized = scan.metrics("numOutputRows").value
    assert(materialized < dayRows / 2,
      s"row-group pruning materialized $materialized of $dayRows day rows")
  }

  test("atomic-commit mode: served tables flip in ONE commit; mid-publish state invisible; carry-forward by reference") {
    firstRun // baseline mart in `wh` (run without asOf) for content parity
    import graft.sources.WarehouseFs
    val tmp = java.nio.file.Files.createTempDirectory("graft_wh_ac_").toString
    val whA = s"$tmp/wh"
    EtlPipeline.run(spark, refDir, whA, None, Some(asOf(3)))
    val (c1, t1) = WarehouseFs.currentCommit(spark, whA).get
    assert(t1.keySet === Set("dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst", "rep_fraud"))
    assert(WarehouseFs.readCommitted(spark, whA, "dwh_dim_terminals_hist").get.count() === 155)
    assert(WarehouseFs.readCommitted(spark, whA, "dwh_fact_pssprt_blcklst").get.count() === 24)
    // mart content parity with the baseline run
    val aMart = WarehouseFs.readCommitted(spark, whA, "rep_fraud").get.drop("report_dt")
    val bMart = served(wh, "rep_fraud").drop("report_dt")
    assert(aMart.exceptAll(bMart).count() === 0)
    assert(bMart.exceptAll(aMart).count() === 0)
    // the run's private staging area is gone after the commit
    assert(!WarehouseFs.hasData(spark, s"$whA/_work"))

    // idempotent re-run: only the blacklist re-applies → commit c1+1;
    // the untouched mart and terminal history re-pin the SAME member
    // version — zero data I/O
    EtlPipeline.run(spark, refDir, whA, None, Some(asOf(3)))
    val (c2, t2) = WarehouseFs.currentCommit(spark, whA).get
    assert(c2 === c1 + 1)
    assert(t2("rep_fraud") === t1("rep_fraud"))
    assert(t2("dwh_dim_terminals_hist") === t1("dwh_dim_terminals_hist"))
    assert(WarehouseFs.readCommitted(spark, whA, "dwh_fact_pssprt_blcklst").get.count() === 24)
    assert(WarehouseFs.readCommitted(spark, whA, "rep_fraud").get.count() > 0)
    // a reader pinned to c1 still sees the mutually consistent OLD set
    assert(WarehouseFs.commitVersion(spark, whA, c1).get._2 === t1)
    // committed statistics ride with the commit set: changed tables get
    // fresh stats, re-pinned tables resolve the stats of the version
    // their commit line pins
    val blStats = WarehouseFs.readCommittedStats(spark, whA, "dwh_fact_pssprt_blcklst").get
    assert(blStats.rowCount === 24)
    assert(blStats.column("passport_num").get.nNonNull === 24)
    val martStats = WarehouseFs.readCommittedStats(spark, whA, "rep_fraud").get
    assert(martStats.rowCount ===
      WarehouseFs.readCommitted(spark, whA, "rep_fraud").get.count())
    // SQL over the served warehouse: one attach = one commit snapshot,
    // every view consistent, committed stats hinting broadcasts
    val (attachedCommit, views) = GraftSession.attachWarehouse(spark, whA).get
    assert(attachedCommit === c2)
    assert(views.toSet === t2.keySet)
    val joined = spark.sql(
      """SELECT count(*) AS n FROM rep_fraud r
         JOIN dwh_fact_pssprt_blcklst b ON r.passport = b.passport_num""")
    joined.collect()
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // the investigation access path: a bloom-indexed point lookup on
    // the served mart, read through the graft source at the pinned
    // version, returns exactly the passport's fraud events
    val somePassport = WarehouseFs.readCommitted(spark, whA, "rep_fraud").get
      .select("passport").head().getString(0)
    val lookedUp = graftRead(s"$whA/rep_fraud", Some(t2("rep_fraud")))
      .filter(col("passport") === somePassport)
    assert(lookedUp.count() ===
      WarehouseFs.readCommitted(spark, whA, "rep_fraud").get
        .filter(col("passport") === somePassport).count())
    assert(lookedUp.columns.contains("report_dt"),
      "partition column must survive the indexed read")

    // simulated crash MID-publish: a member version lands in its chain
    // but no commit pins it — commit readers and a fresh attach still
    // resolve EVERY table through c2; the half-published state is
    // invisible (this is the "mart(vN) ⋈ blacklist(vN−1)" anomaly the
    // commit set prevents: tables only flip when the commit file lands)
    val blPath = s"$whA/dwh_fact_pssprt_blcklst"
    WarehouseFs.publishVersioned(
      WarehouseFs.readCommitted(spark, whA, "dwh_fact_pssprt_blcklst").get.limit(1),
      blPath, keepVersions = 8)
    assert(WarehouseFs.currentVersion(spark, blPath).get._1 >
      t2("dwh_fact_pssprt_blcklst"))
    assert(WarehouseFs.currentCommit(spark, whA).get === ((c2, t2)))
    assert(WarehouseFs.readCommitted(spark, whA, "dwh_fact_pssprt_blcklst").get.count() === 24)
    assert(GraftSession.attachWarehouse(spark, whA).get._1 === c2)
    assert(spark.sql("SELECT count(*) FROM dwh_fact_pssprt_blcklst")
      .head().getLong(0) === 24)
  }

  test("versioned commit sets: a small blacklist day feeds file-granular; unchanged tables re-pin") {
    import graft.sources.WarehouseFs
    val tmp = java.nio.file.Files.createTempDirectory("graft_wh_vcs_").toString
    val whV = s"$tmp/wh"
    stageFeeds(s"$tmp/feeds_12", Seq(termFile(1), termFile(2),
      blFile(1), blFile(2), txFile(1), txFile(2)))
    stageFeeds(s"$tmp/feeds_3", Seq(blFile(3))) // a blacklist-only nightly
    EtlPipeline.run(spark, s"$tmp/feeds_12", whV, None, Some(asOf(2)))
    val (c1, t1) = WarehouseFs.currentCommit(spark, whV).get
    assert(t1.forall { case (n, v) =>
      WarehouseFs.currentVersion(spark, s"$whV/$n").map(_._1).contains(v) },
      s"served tables must pin their members' current versions, got $t1")
    val blBefore = WarehouseFs
      .readCommitted(spark, whV, "dwh_fact_pssprt_blcklst").get.count()

    EtlPipeline.run(spark, s"$tmp/feeds_3", whV, None, Some(asOf(3)))
    val (c2, t2) = WarehouseFs.currentCommit(spark, whV).get
    assert(c2 === c1 + 1)
    // untouched members re-pin their version — ZERO data I/O, total
    // cross-commit file sharing by entry equality
    assert(t2("dwh_dim_terminals_hist") === t1("dwh_dim_terminals_hist"))
    assert(t2("rep_fraud") === t1("rep_fraud"))
    val blAfter = WarehouseFs
      .readCommitted(spark, whV, "dwh_fact_pssprt_blcklst").get.count()
    assert(blAfter > blBefore, "day 3 must add blacklist entries")

    // the commit feed of the changed member is FILE-GRANULAR: the two
    // pinned manifests share every untouched file, so the diff scans
    // only the rewritten file + its replacement — never the table
    val feed = WarehouseFs.changeFeedCommitted(spark, whV,
      "dwh_fact_pssprt_blcklst", Seq("passport_num"), c1, c2).get
    val feedRows = feed.collect()
    assert(feedRows.length === (blAfter - blBefore),
      "a cumulative-feed day must surface as exactly its added entries")
    assert(feedRows.forall(_.getAs[String]("_change_type") == "insert"))
    assert(feed.inputFiles.length <= 2,
      s"the feed must scan only non-shared files, read: ${feed.inputFiles.toSeq}")
    // the changed member itself shares its untouched files across commits
    val blPath = s"$whV/dwh_fact_pssprt_blcklst"
    val fFrom = WarehouseFs.readTableVersion(spark, blPath,
      t1("dwh_fact_pssprt_blcklst")).get.inputFiles.toSet
    val fTo = WarehouseFs.readTableVersion(spark, blPath,
      t2("dwh_fact_pssprt_blcklst")).get.inputFiles.toSet
    assert((fFrom -- fTo).size <= 1,
      s"at most one file of the prior blacklist version may rewrite: ${fFrom -- fTo}")

    // an idempotent re-run seals a carry-forward commit: every pin equal
    EtlPipeline.run(spark, s"$tmp/feeds_3", whV, None, Some(asOf(3)))
    val (c3, t3) = WarehouseFs.currentCommit(spark, whV).get
    assert(c3 === c2 + 1 && t3 === t2,
      "a no-change run must re-pin every member version unchanged")

    // maintenance cadence: the blacklist's CoW chain spans 2 dirs after
    // its day-3 sync; with a 1-dir budget the next run folds it back to
    // one full-publish version and pins the compacted state — same rows
    assert(WarehouseFs.versionSpanDirs(spark, blPath) === Some(2))
    val rowsBefore = WarehouseFs.readTable(spark, blPath).get
      .collect().map(_.toSeq).toSet
    withConf("spark.graft.etl.compactSpanDirs" -> "1") {
      EtlPipeline.run(spark, s"$tmp/feeds_3", whV, None, Some(asOf(3)))
    }
    assert(WarehouseFs.versionSpanDirs(spark, blPath) === Some(1),
      "past-budget chains must fold before the seal")
    assert(WarehouseFs.readTable(spark, blPath).get
      .collect().map(_.toSeq).toSet === rowsBefore)
    val (_, t4) = WarehouseFs.currentCommit(spark, whV).get
    assert(t4("dwh_fact_pssprt_blcklst") >
      t3("dwh_fact_pssprt_blcklst"),
      "the commit must pin the compacted version")

    // mask-budget trigger: a merge-on-read delete masks rows while the
    // dir span stays AT the budget (a high-frequency MoR workload can
    // mask thousands of rows in tiny deltas without ever tripping the
    // span rule) — `compactMaskedRows` folds it clean at the next run
    val keyC = WarehouseFs.readTable(spark, blPath).get.columns.head
    val vKey = WarehouseFs.readTable(spark, blPath).get
      .select(keyC).head().get(0)
    WarehouseFs.deleteMatchingVectors(spark, blPath,
      org.apache.spark.sql.functions.col(keyC) === vKey, keepVersions = 4)
    assert(WarehouseFs.hasDeletionVectors(spark, blPath))
    graft.sources.GraftCatalog.writeProps(spark, blPath,
      graft.sources.GraftCatalog.readProps(spark, blPath) +
        ("compactMaskedRows" -> "0"))
    withConf("spark.graft.etl.compactSpanDirs" -> "64") {
      EtlPipeline.run(spark, s"$tmp/feeds_3", whV, None, Some(asOf(3)))
    }
    assert(!WarehouseFs.hasDeletionVectors(spark, blPath),
      "the mask-row budget must trip the fold even inside the span budget")
    // content: the run's sync re-reconciles to the day-3 feed (the
    // source of truth re-inserts the out-of-band-deleted row), and the
    // fold preserves exactly that state
    assert(WarehouseFs.readTable(spark, blPath).get
      .collect().map(_.toSeq).toSet === rowsBefore)
  }

  test("a retroactive blacklist entry re-derives only the affected days (parity with rebuild)") {
    firstRun
    val tmp = java.nio.file.Files.createTempDirectory("graft_retro_").toString
    val whFull = s"$tmp/wh_full"; val whInc = s"$tmp/wh_inc"; val bank = s"$tmp/bank"
    val fullFeeds = stageFeeds(s"$tmp/feeds_full",
      Seq(termFile(1), termFile(2), termFile(3), blFile(1), blFile(3),
          txFile(1), txFile(2), txFile(3)))
    EtlPipeline.run(spark, fullFeeds, whFull, None, Some(asOf(3)))
    exportBank(whFull, bank)
    // all three transaction days with only day 1's blacklist…
    stageFeeds(s"$tmp/feeds_main", Seq(termFile(1), termFile(2), termFile(3),
      blFile(1), txFile(1), txFile(2), txFile(3)))
    EtlPipeline.run(spark, s"$tmp/feeds_main", whInc, Some(bank), Some(asOf(3)))
    val before = served(whInc, "rep_fraud").count()
    // …then day 3's cumulative blacklist arrives with NO new transactions:
    // its entries with entry_dt on days 2-3 are retroactive
    stageFeeds(s"$tmp/feeds_bl3", Seq(blFile(3)))
    EtlPipeline.run(spark, s"$tmp/feeds_bl3", whInc, Some(bank), Some(asOf(4)))
    val after = served(whInc, "rep_fraud").count()
    assert(after > before, "retroactive entries produced no new rule-1 events")
    assertMartParity(whInc, whFull)
  }

  /** The failure specs' inputs: bank tables, nights 1 and 2 as feed
    * dirs, and a reference warehouse of both nights run uninterrupted. */
  private lazy val failureFixture = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fail_").toString
    val bank = s"$tmp/bank"
    firstRun
    exportBank(wh, bank)
    for (i <- 1 to 2) stageFeeds(s"$tmp/feeds_$i", Seq(txFile(i), termFile(i), blFile(i)))
    val whRef = s"$tmp/wh_ref"
    for (i <- 1 to 2)
      EtlPipeline.run(spark, s"$tmp/feeds_$i", whRef, Some(bank), Some(asOf(i)))
    (tmp, bank, whRef)
  }
  /** Failure contract: after a good night 1 (and `arm`, which may plant a
    * fault in the warehouse), night 2 from `feeds2` with `bank2` fails as
    * `expected` ([[failAgain]]). Returns the warehouse. */
  private def failNight2(name: String, feeds2: String, bank2: String,
      arm: String => Unit = _ => ())(expected: Throwable => Boolean): String = {
    val (tmp, bank, _) = failureFixture
    val whFail = s"$tmp/wh_$name"
    EtlPipeline.run(spark, s"$tmp/feeds_1", whFail, Some(bank), Some(asOf(1)))
    arm(whFail)
    failAgain(whFail, feeds2, bank2)(expected)
    whFail
  }
  /** Night 2 from `feeds2` with `bank2` fails as `expected` on `whFail`,
    * and leaves the commit, the fact's day partitions and the staging as
    * they were, every served member's head reading what the commit pins,
    * with no pool thread alive. */
  private def failAgain(whFail: String, feeds2: String, bank2: String)(
      expected: Throwable => Boolean): Unit = {
    import graft.sources.WarehouseFs
    val commitBefore = WarehouseFs.currentCommit(spark, whFail)
    val e = intercept[Throwable](releasesWhatItHolds(
      EtlPipeline.run(spark, feeds2, whFail, Some(bank2), Some(asOf(2)))))
    assert(expected(e), e)
    assert(WarehouseFs.currentCommit(spark, whFail) === commitBefore)
    assert(factDays(whFail) === Seq("day=2021-03-01"))
    assert(!new java.io.File(s"$whFail/_work").exists())
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName == EtlPipeline.BranchThread))
    // the take-back restored every member the run committed: each one's
    // latest version reads the rows the commit pins
    for ((t, pin) <- commitBefore.get._2) {
      val (head, pinned) = (WarehouseFs.readTable(spark, s"$whFail/$t").get,
        WarehouseFs.readTableVersion(spark, s"$whFail/$t", pin).get)
      assert(head.exceptAll(pinned).count() === 0 && pinned.exceptAll(head).count() === 0, t)
    }
  }
  /** Runs `body` and asserts it left no RDD persisted: the run released
    * its staged states, checkpoints and persisted feeds, also on failure. */
  private def releasesWhatItHolds(body: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
  private def factDays(whDir: String) = new java.io.File(s"$whDir/dwh_fact_transactions")
    .list().filter(_.startsWith("day=")).sorted.toSeq
  /** Re-runs night 2 with the good input as of `night` into a warehouse a
    * failed night 2 left behind: it then equals the reference (its mart
    * up to `report_dt` when the re-run's day differs), and night 2's
    * fraud events are there, each once. */
  private def assertRerunEqualsReference(whFail: String, night: Int): Unit = {
    val (tmp, bank, whRef) = failureFixture
    EtlPipeline.run(spark, s"$tmp/feeds_2", whFail, Some(bank), Some(asOf(night)))
    assert(factDays(whFail) === Seq("day=2021-03-01", "day=2021-03-02"))
    for (t <- Seq("rep_fraud", "dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst")) {
      def read(wh: String) =
        if (t == "rep_fraud" && night != 2) served(wh, t).drop("report_dt") else served(wh, t)
      val (got, want) = (read(whFail), read(whRef))
      assert(got.count() === want.count(), t)
      assert(got.exceptAll(want).count() === 0, t)
      assert(want.exceptAll(got).count() === 0, t)
    }
    assert(served(whFail, "rep_fraud").filter(to_date(col("event_dt")) === "2021-03-02")
      .count() > 0, "night 2's fraud events were never derived")
  }

  test("a run failing after the fact append commits nothing and takes its day back") {
    // the bank dir exists but lacks clients.parquet: the run fails in the
    // mart phase, after night 2's transactions were appended
    val (tmp, _, _) = failureFixture
    val noBank = s"$tmp/bank_without_clients"
    new java.io.File(noBank).mkdirs()
    val whFail = failNight2("no_clients", s"$tmp/feeds_2", noBank)(
      _.getMessage.contains("clients.parquet"))
    assertRerunEqualsReference(whFail, night = 2)
  }

  test("a failing load branch fails the run after every branch ends; nothing commits") {
    // a corrupt terminals snapshot fails one branch while the fact branch
    // appends night 2 beside it
    val (tmp, bank, _) = failureFixture
    val bad = stageFeeds(s"$tmp/feeds_2_bad_terminals", Seq(txFile(2), blFile(2)))
    java.nio.file.Files.write(java.nio.file.Paths.get(bad, termFile(2)),
      "not a zip archive".getBytes("UTF-8"))
    val whFail = failNight2("bad_terminals", bad, bank)(
      _.isInstanceOf[java.util.zip.ZipException])
    assertRerunEqualsReference(whFail, night = 2)
  }

  /** A stored CHECK that night 2's terminal versions violate: it fails the
    * terminal history's member commit, while the other members commit
    * beside it. */
  private def terminalsCheck(wh: String) =
    java.nio.file.Paths.get(wh, "dwh_dim_terminals_hist", "_meta", "props")
  private def armTerminalsCheck(wh: String): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val check = "check.before_night2 = effective_from < TIMESTAMP '2021-03-02 00:00:00'\n"
    assert(!Files.exists(terminalsCheck(wh)))
    Files.createDirectories(terminalsCheck(wh).getParent)
    Files.write(terminalsCheck(wh), check.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
  }
  private def violatesCheck(e: Throwable) = e.getMessage.contains("CHECK constraint violated")

  test("a member commit failing beside the mart's is taken back; a later re-run duplicates no event") {
    import graft.sources.WarehouseFs
    import java.nio.file.Files
    val (tmp, bank, _) = failureFixture
    // a stored CHECK that night 2's terminal versions violate fails the
    // terminal history's member commit; the mart's commit runs beside it
    val whFail = failNight2("member_commit", s"$tmp/feeds_2", bank,
      arm = armTerminalsCheck)(violatesCheck)
    // the mart's member version landed, then a restore to the version it
    // committed onto took it back
    val mart = s"$whFail/rep_fraud"
    val pinned = WarehouseFs.currentCommit(spark, whFail).get._2("rep_fraud")
    assert(WarehouseFs.listVersions(spark, mart).max === pinned + 2)
    val (head, pin) = (WarehouseFs.readTable(spark, mart).get,
      WarehouseFs.readTableVersion(spark, mart, pinned).get)
    assert(head.exceptAll(pin).count() === 0 && pin.exceptAll(head).count() === 0)
    Files.delete(terminalsCheck(whFail))
    // a re-run on a later day writes night 2's events under a new
    // report_dt: a kept mart version would carry them twice
    assertRerunEqualsReference(whFail, night = 3)
  }

  test("five failing nights in a row expire no pinned member version; a good re-run equals the reference") {
    import graft.sources.WarehouseFs
    val (tmp, bank, _) = failureFixture
    // each failed night commits the mart and the blacklist, then takes
    // both back: two versions per member per night, ten in all, past the
    // eight a member keeps by count
    val whFail = failNight2("five_nights", s"$tmp/feeds_2", bank,
      arm = armTerminalsCheck)(violatesCheck)
    for (_ <- 2 to 5) failAgain(whFail, s"$tmp/feeds_2", bank)(violatesCheck)
    val mart = s"$whFail/rep_fraud"
    val pinned = WarehouseFs.currentCommit(spark, whFail).get._2("rep_fraud")
    assert(WarehouseFs.listVersions(spark, mart).max === pinned + 10)
    // the served warehouse still resolves every table the commit pins
    val (_, views) = GraftSession.attachWarehouse(spark, whFail).get
    assert(views.toSet === Set("dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst", "rep_fraud"))
    java.nio.file.Files.delete(terminalsCheck(whFail))
    releasesWhatItHolds(assertRerunEqualsReference(whFail, night = 3))
  }
}

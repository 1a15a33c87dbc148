package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{FraudDetection, Scd}
import graft.sources.{BankFeeds, WarehouseFs}

/** End-to-end replacement for the reference's daily cron run
  * (main.py:544-580): discover feed files by pattern, load them in
  * day order, maintain the SCD2 terminal history / SCD1 blacklist /
  * append-only transactions fact as parquet tables, and rebuild the
  * fraud mart.
  *
  * Usage: runMain graft.EtlPipeline <feedDir> <warehouseDir> [bankDir]
  *
  * Differences from the reference, by design (SURVEY §3):
  *   - staging tables, per-statement DDL and the close/insert UPDATE
  *     sequence collapse into pure snapshot-rewrite transformations
  *     committed atomically, one commit per run — no non-transactional
  *     window;
  *   - the processed-file ledger is the warehouse state itself (loads are
  *     idempotent: SCD1/SCD2 re-application is a fixpoint, and the fact
  *     load skips days already present);
  *   - `bank.*` tables come from parquet fixtures in bankDir; without one,
  *     deterministic demo fixtures are derived from the card numbers seen
  *     in the feed (clearly a demo: the reference assumes these tables
  *     pre-exist in the bank, main.py:410-414).
  */
object EtlPipeline {
  private val DayRe = """(\d{2})(\d{2})(\d{4})""".r.unanchored

  def dayOf(fileName: String): String = fileName match {
    case DayRe(dd, mm, yyyy) => s"$yyyy-$mm-$dd"
    case _ => throw new IllegalArgumentException(s"no DDMMYYYY in $fileName")
  }

  def main(args: Array[String]): Unit = {
    val feedDir = args.lift(0).getOrElse(BankFeeds.ReferenceDir)
    val whDir = args.lift(1).getOrElse("/tmp/graft_warehouse")
    val bankDir = args.lift(2)
    val spark = GraftSession.builder().appName("graft-etl").getOrCreate()
    run(spark, feedDir, whDir, bankDir)
    spark.stop()
  }

  /** The tables the warehouse SERVES (the atomic commit set spans
    * them); the append-only transactions fact intentionally stays
    * outside. */
  private val servedTables =
    Seq("dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst", "rep_fraud")

  /** @param asOf logical "run time" (defaults to now) — drives the SCD2
    *   as-of snapshot and report_dt; injectable so tests can replay one
    *   nightly run per feed day deterministically. */
  def run(spark: SparkSession, feedDir: String, whDir: String,
          bankDir: Option[String], asOf: Option[Timestamp] = None): Unit = {
    // all warehouse/feed paths go through the Hadoop FileSystem API so the
    // same pipeline runs against file://, hdfs:// or s3a:// unchanged.
    // An absent feed dir is a mistyped or unmounted path, not an empty
    // night: refuse it (an existing dir without feed files still runs).
    val (feedFs, feedPath) = WarehouseFs.fsFor(spark, feedDir)
    if (!feedFs.exists(feedPath))
      throw new IllegalArgumentException(s"etl: feed dir $feedDir does not exist")
    val files = WarehouseFs.listNames(spark, feedDir)
    def feed(prefix: String): Seq[(String, String)] = // (day, path) in day order
      files.filter(_.startsWith(prefix)).map(f => (dayOf(f), s"$feedDir/$f")).sortBy(_._1)

    def tablePath(name: String) = s"$whDir/$name"
    // Every SERVED table (terminal history, blacklist, fraud mart) flips
    // in ONE commit ([[WarehouseFs.publishAtomicVersioned]]) at the end
    // of the run, so a reader resolving through the latest commit can
    // never join mart(vN) against blacklist(vN−1). During the run the
    // pipeline stages its intermediate states under `_work/` (private to
    // the run). The append-only transactions fact deliberately stays
    // OUTSIDE the commit set: its day partitions are immutable once
    // written (new days only append), so there is no version mixture to
    // protect against, and re-committing O(history) fact bytes nightly
    // is exactly what the member chains' file sharing exists to avoid.
    val workDir = s"$whDir/_work"
    val committedTables: Map[String, Long] =
      WarehouseFs.currentCommit(spark, whDir).map(_._2).getOrElse(Map.empty)
    val workWritten = scala.collection.mutable.LinkedHashSet.empty[String]
    // reads resolve, in order: this run's own staged state, the version
    // the latest commit pins, the plain directory (the transactions fact)
    def readIf(name: String): Option[DataFrame] =
      if (workWritten(name)) Some(spark.read.parquet(s"$workDir/$name"))
      else committedTables.get(name)
        .map(v => WarehouseFs.readTableVersion(spark, tablePath(name), v).getOrElse(
          // an expired version pin must fail LOUDLY: falling through to
          // the table path would compute downstream tables from a
          // stale, possibly unsealed state
          throw new IllegalStateException(
            s"etl: $name resolves to an expired member version (@$v) " +
              "— raise the member table's keepVersions")))
        .orElse(WarehouseFs.readTable(spark, tablePath(name)))
    def overwrite(df: DataFrame, name: String): Unit = {
      WarehouseFs.publish(df, s"$workDir/$name"); workWritten += name
    }
    // One commit spanning everything this run changed. Served tables are
    // VERSIONED MEMBER CHAINS at their own table paths ($wh/<name>): a
    // changed dim SYNCS by row-level delta into its chain
    // ([[WarehouseFs.syncToState]] — copy-on-write, only files holding
    // changed keys rewrite), the mart's report day lands as a CoW
    // partition overwrite, and ONE commit file pins every member's
    // current version (`table=@version` body lines). An unchanged table
    // re-pins its version with zero I/O, a barely-changed one shares
    // every untouched file, and commit feeds
    // ([[WarehouseFs.changeFeedCommitted]]) diff only non-shared files —
    // the reference's cumulative blacklist feed of ~8 rows/day reads one
    // rewritten file, never the table.
    val memberKeep = 8 // member versions retained — covers the commit window
    val syncKeys = Map(
      "dwh_dim_terminals_hist" -> Seq("terminal_id", "effective_from"),
      "dwh_fact_pssprt_blcklst" -> Seq("passport_num"))
    // bloom file indexes keep the CoW syncs file-granular (touched-set
    // resolution) AND serve the investigation point lookups
    val bloomCols = Map(
      "rep_fraud" -> Seq("passport"),
      "dwh_fact_pssprt_blcklst" -> Seq("passport_num"),
      "dwh_dim_terminals_hist" -> Seq("terminal_id"))
    def commitAtomic(martDay: Option[DataFrame]): Unit = {
      def isVersioned(n: String) =
        WarehouseFs.currentVersion(spark, tablePath(n)).isDefined
      // the first publish of a member with no version yet. Stats ride
      // with every member publish: served tables are dims/mart-sized
      // (never the fact), so the profiling scan is cheap and readers get
      // committed row counts for join planning
      def lift(n: String, df: DataFrame, partBy: Seq[String] = Nil): Unit =
        WarehouseFs.publishVersioned(df, tablePath(n), partitionBy = partBy,
          keepVersions = memberKeep, collectStats = true,
          bloomIndexCols = bloomCols.getOrElse(n, Nil))
      var touched = false
      for (n <- workWritten) {
        val state = spark.read.parquet(s"$workDir/$n")
        if (isVersioned(n))
          WarehouseFs.syncToState(state, tablePath(n), syncKeys(n),
            keepVersions = memberKeep)
        else lift(n, state)
        touched = true
      }
      martDay.foreach { rep =>
        if (isVersioned("rep_fraud"))
          // CoW partition overwrite: replace only this run's report
          // day(s), carry every other day's files by reference
          WarehouseFs.overwritePartitions(rep, tablePath("rep_fraud"),
            Seq("report_dt"), keepVersions = memberKeep)
        else lift("rep_fraud", rep, Seq("report_dt"))
        touched = true
      }
      // every member a prior commit pinned stays pinned, including tables
      // committed into this warehouse beside the served set
      val allServed = (servedTables ++ committedTables.keySet).distinct
      // maintenance cadence: a member whose CoW chain spans more data
      // dirs than the budget folds back into ONE clean dir version
      // (indexes/stats preserved, CAS-pinned) BEFORE the seal, so the
      // commit pins the compacted state. Nightly syncs add ~1 dir per
      // changed member per run; without this the read-side union grows
      // one parquet relation per night forever. Deletion-vector commits
      // count toward the same span (each adds its version's dir to the
      // referenced set), and the fold reads MASKED and publishes a clean
      // dir version — so accumulated DVs retire here too and the
      // nightly path never serves a long mask chain. The fold rewrites the
      // member once per ~spanMax nights — amortized O(table/spanMax)
      // per night, and the next commit feed across it honestly scans
      // both sides (nothing is shared with the pre-fold version).
      val spanMax = spark.conf.getOption("spark.graft.etl.compactSpanDirs")
        .map(_.toInt).getOrElse(16)
      // second trigger, same fold: accumulated MASK ROWS. A
      // high-frequency merge-on-read delete workload can mask thousands
      // of rows while staying within a small dir span (deltas are tiny
      // files) — every read then pays the per-row mask check for rows
      // that will never come back. When the live mask exceeds the
      // budget, fold now rather than waiting for the span rule.
      val maskedMaxDefault = spark.conf
        .getOption("spark.graft.etl.compactMaskedRows")
        .map(_.toLong).getOrElse(100000L)
      def maskedMaxOf(n: String): Long = WarehouseFs
        .storedCompactMaskedRows(spark, tablePath(n)) // per-table property
        .getOrElse(maskedMaxDefault)
      for (n <- allServed if isVersioned(n)
           if WarehouseFs.versionSpanDirs(spark, tablePath(n)).exists(_ > spanMax) ||
             (WarehouseFs.hasDeletionVectors(spark, tablePath(n)) &&
               WarehouseFs.deletionVectorRows(spark, tablePath(n)) > maskedMaxOf(n))) {
        graft.operators.ScaleJoins.compactParquet(spark, tablePath(n),
          keepVersions = memberKeep)
        touched = true
      }
      if (touched) {
        WarehouseFs.publishAtomicVersioned(spark, Map.empty, whDir,
          pinCurrent = allServed.filter(isVersioned).toSet,
          keepVersions = memberKeep)
        WarehouseFs.deleteIfExists(spark, workDir)
      }
    }

    val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

    // --- terminals: daily full snapshots → SCD2 history (main.py:556-565)
    for ((day, path) <- feed("terminals")) {
      val loadTs = Timestamp.valueOf(s"$day 00:00:00")
      val hist = readIf("dwh_dim_terminals_hist")
      val already = hist.exists(h =>
        h.filter(col("effective_from") === lit(loadTs)).limit(1).count() > 0)
      if (!already) {
        val snap = BankFeeds.terminals(spark, path)
        overwrite(Scd.scd2Apply(spark, hist, snap, "terminal_id", termAttrs, loadTs),
          "dwh_dim_terminals_hist")
      }
    }

    // --- blacklist: cumulative feed → SCD1 fact (main.py:566-570).
    // The pre-feed state is materialized (localCheckpoint) so the
    // added-entry delta below survives the publish swapping the directory
    // out from under a lazy reader. The blacklist is a small dim — this is
    // a tiny job, not a fact scan.
    val passportFeeds = feed("passport")
    val blBefore =
      if (passportFeeds.isEmpty) None
      else readIf("dwh_fact_pssprt_blcklst").map(_.localCheckpoint())
    for ((_, path) <- passportFeeds) {
      val snap = BankFeeds.blacklist(spark, path)
      overwrite(Scd.scd1Apply(readIf("dwh_fact_pssprt_blcklst"), snap,
        "passport_num", Seq("entry_dt")), "dwh_fact_pssprt_blcklst")
    }
    // Entries added by this run whose entry_dt reaches back to an
    // already-loaded fact day are RETROACTIVE: rule 1 would have flagged
    // those past transactions had the entry existed — the mart pass below
    // re-derives exactly the affected days (a full rebuild would too, but
    // at O(history) every night).
    val blAddedMinEntry: Option[Date] =
      if (passportFeeds.isEmpty) None
      else readIf("dwh_fact_pssprt_blcklst").flatMap { after =>
        val added = blBefore match {
          case Some(before) => after.exceptAll(before)
          case None => after
        }
        Option(added.agg(min(col("entry_dt"))).head().getDate(0))
      }

    // --- transactions: daily increments → append-only fact, partitioned by
    // day for partition pruning (the scalable form of main.py:417's
    // current-day filter). Loaded days come from the partition directory
    // names (pure filesystem metadata) — no fact scan, no collect.
    val existingDays: Set[String] =
      WarehouseFs.listNames(spark, tablePath("dwh_fact_transactions"))
        .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSet
    val loadedDays = for ((day, path) <- feed("transactions") if !existingDays.contains(day))
      yield {
        BankFeeds.transactionsFact(spark, path)
          .withColumn("day", to_date(col("trans_date")))
          .write.mode(SaveMode.Append).partitionBy("day")
          .parquet(tablePath("dwh_fact_transactions"))
        day
      }

    // --- layout compaction of the freshly loaded day partitions: rows
    // recluster along a Z-order curve over (time of day, terminal), so a
    // terminal-scoped investigation prunes most row groups via the pushed
    // parquet min/max filter while intra-day time slices stay clustered.
    // Same rows, atomic per-partition swap; O(new days), never O(history).
    if (loadedDays.nonEmpty)
      zOrderFactDays(spark, tablePath("dwh_fact_transactions"), loadedDays)

    if (readIf("dwh_fact_transactions").isEmpty || readIf("dwh_dim_terminals_hist").isEmpty) {
      println("[etl] no transactions/terminals loaded — skipping fraud mart")
      commitAtomic(None) // dims/blacklist staged so far still flip together
      return
    }

    // --- bank dimension tables (pre-existing in the reference's Oracle).
    // Resolution order: explicit parquet fixtures → JDBC if the env gate is
    // set (graft.sources.BankJdbc — the reference's actual transport,
    // main.py:410-414) → deterministic demo fixtures.
    val (clients, accounts, cards) = bankDir match {
      case Some(dir) =>
        (spark.read.parquet(s"$dir/clients.parquet"),
         spark.read.parquet(s"$dir/accounts.parquet"),
         spark.read.parquet(s"$dir/cards.parquet"))
      case None => graft.sources.BankJdbc.fromEnv() match {
        case Some(cfg) =>
          (graft.sources.BankJdbc.readTable(spark, cfg, "bank.clients"),
           graft.sources.BankJdbc.readTable(spark, cfg, "bank.accounts"),
           graft.sources.BankJdbc.readTable(spark, cfg, "bank.cards"))
        case None => demoBankTables(spark, whDir,
          blacklist = readIf("dwh_fact_pssprt_blcklst"))
      }
    }

    // --- fraud mart rebuild, INCREMENTAL over the days this run loaded
    // (the scalable form of main.py:574-576: the reference itself only
    // touches the current day, main.py:417). The fact is day-partitioned,
    // so every slice below is partition PRUNING — the nightly run reads
    // O(days loaded), never O(history).
    //
    // Each CONTIGUOUS run of newly loaded days becomes its own window
    // [a, b]: the a-1 lookback day feeds rule 3's ±1 h window across the
    // midnight boundary (its own already-reported events are cut back out
    // by the event-day >= a filter), and when day b+1 was loaded by an
    // EARLIER run (a backfilled middle day), the window extends right to
    // re-derive b→b+1 midnight-crossing pairs that could not exist when
    // b+1 originally ran. Days re-derived this way (and days re-examined
    // for a retroactive blacklist entry) are deduplicated by anti-joining
    // the existing mart on the full event row — only genuinely new events
    // are appended, so event rows never duplicate across report_dt
    // partitions. The anti-join relies on the derivation being
    // deterministic for unchanged inputs (it is: every rule is a pure
    // transformation); it only runs on out-of-order or retroactive runs,
    // never on the in-order nightly hot path.
    //
    // A run that loaded nothing new and added no retroactive blacklist
    // entry keeps the mart as-is (idempotent re-run); with no mart yet it
    // falls back to a full-history rebuild (backfill). Terminal-attribute
    // changes do NOT trigger re-derivation: the view joins the terminal
    // history as-of run time, exactly like the reference (main.py:417) —
    // past mart rows keep the dims they were derived with.
    val factPath = tablePath("dwh_fact_transactions")
    // the mart resolves like every served table: the version the latest
    // commit pins
    def readMart(): Option[DataFrame] = readIf("rep_fraud")
    val martExists = readMart().isDefined
    val allDays = WarehouseFs.listNames(spark, factPath)
      .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).sorted
    def nextDay(d: String) = java.time.LocalDate.parse(d).plusDays(1).toString
    def prevDay(d: String) = java.time.LocalDate.parse(d).minusDays(1).toString
    // contiguous [a, b] runs of the newly loaded days; one all-covering
    // window when there is no mart yet (backfill rebuilds everything)
    val windows: Seq[(String, String)] =
      if (!martExists) { if (allDays.isEmpty) Nil else Seq((allDays.head, allDays.last)) }
      else loadedDays.sorted.foldLeft(Vector.empty[(String, String)]) {
        case (acc :+ ((a, b)), d) if nextDay(b) == d => acc :+ (a -> d)
        case (acc, d) => acc :+ (d -> d)
      }
    // right-edge extension: day b+1 exists from an earlier run → re-derive
    // its rows (anti-joined below) to recover b→b+1 crossing pairs
    val extended: Seq[(String, String, Option[String])] = windows.map { case (a, b) =>
      (a, b, Some(nextDay(b)).filter(d => martExists && existingDays.contains(d)))
    }
    // retroactive blacklist scope: previously loaded days on/after the
    // earliest added entry_dt, minus days this run already (re-)derives
    val covered = extended.flatMap { case (a, b, ext) =>
      Iterator.iterate(a)(nextDay).takeWhile(_ <= b) ++ ext
    }.toSet
    val retroDays: Seq[String] =
      if (!martExists) Nil
      else blAddedMinEntry.toSeq.flatMap { minEntry =>
        existingDays.toSeq.filter(d => d >= minEntry.toString && !covered(d))
      }.sorted
    if (windows.isEmpty && retroDays.isEmpty) {
      println("[etl] no new transaction days, no retroactive blacklist — fraud mart unchanged")
      commitAtomic(None) // dims/blacklist staged so far still flip together
      return
    }

    val hist = readIf("dwh_dim_terminals_hist").get
    val bl = readIf("dwh_fact_pssprt_blcklst").get
    val asOfTs = asOf.getOrElse(new Timestamp(System.currentTimeMillis()))
    val reportDt = new Date(asOfTs.getTime)
    val evCols = Seq("event_dt", "passport", "fio", "phone", "event_type")
    // full event rows already in the mart — the dedup side of the
    // anti-joins; only read when an extension/retro pass actually runs
    lazy val martRows = readMart().get
      .select(evCols.map(col): _*)
    def derive(from: String, to: String): DataFrame = {
      val tx = factSlice(spark, factPath, Date.valueOf(from), Date.valueOf(to))
      val view = FraudDetection.dataView(clients, accounts, cards, tx, hist, asOfTs)
      FraudDetection.repFraud(view, bl, reportDt)
    }

    val windowEvs = extended.map { case (a, b, ext) =>
      val ev = derive(prevDay(a), ext.getOrElse(b))
        .filter(to_date(col("event_dt")) >= lit(Date.valueOf(a)))
      ext match {
        case None => ev
        case Some(e) =>
          // [a, b] days are new — nothing to deduplicate; the re-derived
          // extension day keeps only events absent from the mart
          val inWin = ev.filter(to_date(col("event_dt")) <= lit(Date.valueOf(b)))
          val extNew = ev.filter(to_date(col("event_dt")) === lit(Date.valueOf(e)))
            .join(martRows, evCols, "left_anti")
          inWin.unionByName(extNew.select(ev.columns.map(col).toSeq: _*))
      }
    }
    // retro pass: re-derive the affected days with the updated blacklist;
    // everything previously reported anti-joins away, leaving exactly the
    // new rule-1 events. No lookback: rule 1 is per-transaction, and any
    // rule-3 row here is already in the mart.
    val retroEvs = retroDays match {
      case Nil => Nil
      case ds =>
        val ev = derive(ds.head, ds.last)
          .filter(to_date(col("event_dt")).isInCollection(ds.map(Date.valueOf)))
          .join(martRows, evCols, "left_anti")
        Seq(ev)
    }
    val newEvents = (windowEvs ++ retroEvs)
      .map(_.select(evCols.map(col) :+ col("report_dt"): _*))
      .reduce(_ unionByName _)
    // a second run under the SAME report_dt (late feed batch on the same
    // calendar day) must not drop what the first run wrote: the partition
    // overwrite replaces the whole partition, so merge it back in
    val rep = (if (martExists)
        newEvents.unionByName(
          readMart().get.filter(col("report_dt") === lit(reportDt))
            .select(evCols.map(col) :+ col("report_dt"): _*)).distinct()
      else newEvents)
    // this run's (merged) report day replaces its partition of the
    // rep_fraud MEMBER CHAIN as one CoW commit — historical days' files
    // carry by reference — then the whole served set pins in one commit
    // file. localCheckpoint materializes the result BEFORE the commit
    // replaces the partition it may be reading (the mart merge/anti-join
    // read the member); rep is bounded (the run's windows), so the
    // checkpoint is O(new events).
    val repFinal = rep.localCheckpoint()
    commitAtomic(Some(repFinal))
    val repCount = repFinal.count()

    val winStr = extended.map { case (a, b, ext) =>
      s"$a..$b${ext.map("+" + _).getOrElse("")}" }.mkString(",")
    println(s"[etl] fact_days=${allDays.size} loaded=${loadedDays.size} " +
      s"windows=$winStr retro=${retroDays.size} rep_fraud~=$repCount")
  }

  /** Z-order-compact the named day partitions of the transactions fact in
    * place. Within a day partition the two query dimensions left are the
    * terminal and the time of day; clustering along the Morton curve over
    * both keeps parquet min/max stats tight on each, so a pushed
    * `terminal = X` (or a time-slice) filter skips most row groups
    * (EtlPipelineSpec asserts it via scan metrics).
    *
    * The terminal key is its DICTIONARY RANK over the day's distinct
    * terminals: monotone with the string order (so the string column's
    * min/max stay tight per file — a hash key would defeat stats pruning)
    * AND equi-distributed over the scaled domain. An arithmetic encoding
    * of the id (r5 used ascii(letter)·1e7 + suffix) is also monotone but
    * lets the widest component eat the 16-bit scale: with ids like
    * `A1096`/`P5456` the letter spans 15e7 while suffixes span 1e4, so
    * every same-letter terminal collapsed to ~2 scaled bits and a point
    * query materialized its whole letter's stripe (~57% of the day,
    * measured). Ranks cost one small distinct + broadcast join per day —
    * distinct terminals are device-count-sized at any corpus scale. The
    * rank sits second in the curve (the dominant interleaved bit)
    * because point-terminal scoping is the hotter access path.
    *
    * The rewrite is the same rows in a new order, published atomically
    * per partition dir; nightly cost is O(days loaded). File count
    * follows the ~`targetMB` compaction sizing unless `filesPerDay`
    * overrides it. */
  def zOrderFactDays(spark: SparkSession, factPath: String, days: Seq[String],
                     filesPerDay: Option[Int] = None, targetMB: Int = 128): Unit =
    for (day <- days) {
      val dir = s"$factPath/day=$day"
      val files = filesPerDay.getOrElse {
        val bytes = WarehouseFs.parquetBytes(spark, dir)
        math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
      }
      val df = spark.read.parquet(dir)
      // single-task window is fine: the distinct-terminal relation is
      // tiny (devices, not transactions) and broadcasts back
      val ranks = df.select(col("terminal")).distinct()
        .withColumn("__tk", org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy("terminal"))
          .cast("long"))
      // LEFT join + coalesce: a NULL terminal never equi-joins, and this
      // is a rewrite-in-place — an inner join would silently DELETE such
      // rows (the repo's own loader gates them out, but the API must hold
      // "same rows, new order" for any input)
      val clustered = graft.operators.ScaleJoins.zOrderCluster(
        df.join(broadcast(ranks), Seq("terminal"), "left"),
        unix_timestamp(col("trans_date")), coalesce(col("__tk"), lit(0L)), files)
        .select(df.columns.map(col): _*) // join reordered columns; restore
      WarehouseFs.publish(clustered, dir)
    }

  /** Day-window slice of the day-partitioned transactions fact. The
    * filter lands on the `day` PARTITION column, so the scan's
    * PartitionFilters prune to the window's directories — file listing
    * and bytes read are O(window), not O(history). EtlPipelineSpec
    * asserts the pruned file count against the scan metrics. */
  def factSlice(spark: SparkSession, factPath: String,
                from: Date, to: Date): DataFrame =
    spark.read.parquet(factPath)
      .filter(col("day").between(lit(from), lit(to)))

  /** Deterministic demo bank.* fixtures derived from the cards seen in the
    * fact — DEMO ONLY: real deployments pass bankDir. First 5 clients'
    * passports are wired to blacklist entries so rule 1 has positives.
    */
  def demoBankTables(spark: SparkSession, whDir: String,
                     blacklist: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    val tx = spark.read.parquet(s"$whDir/dwh_fact_transactions")
    val cardsSeen = withDenseId(
      tx.select(trim(col("card_num")).as("card_num")).distinct(), "card_num", "cid")
    val cards = cardsSeen.select(col("card_num"), concat(lit("ACC"), col("cid")).as("account"))
    val accounts = cardsSeen.select(
      concat(lit("ACC"), col("cid")).as("account"),
      to_date(lit("2030-01-01")).as("valid_to"),
      col("cid").as("client"))
    val bl = withDenseId(
      blacklist.orElse(
        WarehouseFs.readCommitted(spark, whDir, "dwh_fact_pssprt_blcklst")).get,
      "passport_num", "bid")
    val clients = cardsSeen
      .join(bl.select(col("bid").as("cid"), col("passport_num").as("bl_passport")),
        Seq("cid"), "left")
      .select(
        col("cid").as("client_id"),
        concat(lit("Фамилия"), col("cid")).as("last_name"),
        concat(lit("Имя"), col("cid")).as("first_name"),
        concat(lit("Отчество"), col("cid")).as("patronymic"),
        coalesce(col("bl_passport"), concat(lit("9999 "), col("cid"))).as("passport_num"),
        to_date(lit("2030-01-01")).as("passport_valid_to"),
        concat(lit("+7 900 "), col("cid")).as("phone"))
    (clients, accounts, cards)
  }

  /** Dense 1-based id by sort order of `keyCol`, partition-parallel: the
    * sort range-partitions, zipWithIndex adds one count-per-partition job —
    * unlike a global-Window row_number(), no single-partition funnel.
    */
  private def withDenseId(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val indexed = df.orderBy(keyCol).rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(indexed,
      df.schema.add(idCol, org.apache.spark.sql.types.LongType, nullable = false))
  }
}

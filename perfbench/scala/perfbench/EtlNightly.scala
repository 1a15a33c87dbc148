package perfbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.{EtlPipeline, GraftSession}

/** `etl_nightly`: the paper's own workload. `EtlPipeline.run` replays
  * seeded nights in order, one incoming directory per night with `asOf`
  * set to that night, on a warehouse whose history grows night by night.
  * After each night an analyst reads the served warehouse through
  * `attachWarehouse`: the mart for a passport, a terminal's SCD2 row as
  * of a date, and a fact slice for one terminal and day. */
object EtlNightly extends Workload {
  /** The reference's 15.7k transactions a day. A night's cost is mostly
    * fixed overhead (jobs, commits, driver-side parsing); 10x the volume
    * costs a third more per night and does not fit the run budget. */
  val TxPerDay = 15700
  val Cards = 10000
  /** Nominal seconds of one night and its reads on 4 cores; sets the
    * nights per run. */
  val NominalNightS = 25.0
  val MinNights = 1
  /** Analyst reads per night beyond the planted ones: 8 planted marts and
    * 4 moved-terminal reads, then these; enough for a p90 read tail in a
    * one-night run. */
  val OrdinaryMarts = 32
  val RandomAsOf = 32
  val FactSlices = 24
  val ReadsPerNight: Int = 2 * Feeds.PlantedPerNight + 4 + OrdinaryMarts + RandomAsOf + FactSlices
  /** Untimed reads of each kind before the first measured ones. */
  val WarmUpReadsPerKind = 3

  private var feeds: Feeds = _

  private def nights(ctx: Ctx) = math.max(MinNights, math.round(ctx.seconds / NominalNightS).toInt)
  private def feedDir(ctx: Ctx, n: Int) = new File(ctx.work, f"feeds/night_$n%03d")
  private def bankDir(ctx: Ctx) = new File(ctx.work, "bank")
  private def warehouse(ctx: Ctx) = new File(ctx.work, "warehouse")
  private def asOf(f: Feeds, n: Int) = Timestamp.valueOf(f.day(n).atTime(23, 59))

  /** Writes the feeds and the bank tables, then runs night 0, the
    * initial load (no mart yet: a full build). Night 0 is also the
    * warm-up: it compiles the pipeline's plans. */
  def prepare(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    feeds = new Feeds(ctx.seed, 1 + nights(ctx) * ctx.phases, TxPerDay, Cards)
    for (n <- 0 until feeds.nights) feeds.writeNight(n, feedDir(ctx, n))
    writeBank(ctx.spark, feeds, bankDir(ctx))
    EtlPipeline.run(ctx.spark, feedDir(ctx, 0).getPath, warehouse(ctx).getPath,
      Some(bankDir(ctx).getPath), Some(asOf(feeds, 0)))
    (System.nanoTime() - t0) / 1e9
  }

  def setupStep(ctx: Ctx): Unit =
    GraftSession.attachWarehouse(ctx.spark.newSession(), warehouse(ctx).getPath)

  def run(ctx: Ctx, rec: Recorder, phase: Int): Unit = {
    val wh = warehouse(ctx)
    val k = nights(ctx)
    for (n <- 1 + phase * k to (phase + 1) * k) {
      rec.op("night", write = true)(()) { _ =>
        EtlPipeline.run(ctx.spark, feedDir(ctx, n).getPath, wh.getPath,
          Some(bankDir(ctx).getPath), Some(asOf(feeds, n)))
      }(_ => None)
      analystReads(ctx, rec, feeds, n, wh, warmUp = n == 1)
    }
  }

  /** The night's analyst reads, each checked against the feed model:
    * marts by passport (tonight's planted clients, last night's, and
    * ordinary clients with no events), terminal rows as of a date
    * (tonight's moves before and after, and random terminals), and fact
    * slices of one terminal and day; [[ReadsPerNight]] in all. The three
    * kinds run in one seeded order, so a stretch of the run on a slowed
    * host slows a share of each kind rather than all of one. With
    * `warmUp`, a few reads of each kind run untimed first: the night
    * before compiled none of the read path. */
  private def analystReads(ctx: Ctx, rec: Recorder, f: Feeds, n: Int, wh: File,
                           warmUp: Boolean): Unit = {
    val spark = ctx.spark
    GraftSession.attachWarehouse(spark, wh.getPath)
    val r = new scala.util.Random(ctx.seed * 977 + n)
    val passports = (0 until Feeds.PlantedPerNight).flatMap(i => Seq(f.planted(n, i), f.planted(n - 1, i))) ++
      Seq.fill(OrdinaryMarts)(f.clients(r.nextInt(f.cards)))
    val events = (f.expectedEvents(n) ++ f.expectedEvents(n - 1)).groupBy(_.passport)
    val marts = passports.map { c => (rec: Recorder) =>
      val want = events.getOrElse(c.passport, Nil)
        .map(e => (e.ts, e.passport, e.fio, e.phone, e.kind)).toSet
      rec.op("mart_by_passport", write = false)(spark.sql(
        s"SELECT event_dt, passport, fio, phone, event_type FROM rep_fraud " +
          s"WHERE passport = '${c.passport}'"))(_.collect()) { rows =>
        val got = rows.map(x => (x.getTimestamp(0).toLocalDateTime, x.getString(1),
          x.getString(2), x.getString(3), x.getString(4))).toSet
        if (got == want && rows.length == want.size) None
        else Some(s"mart for ${c.passport}: got $got, want $want")
      }
    }
    val asOfReads = f.movedOn(n).flatMap(i => Seq(i -> (n - 1), i -> n)) ++
      Seq.fill(RandomAsOf)(r.nextInt(Feeds.NaturalTerminals) -> r.nextInt(n + 1))
    val asOfs = asOfReads.map { case (i, night) => (rec: Recorder) =>
      val t = f.terminals(night)(i)
      val at = f.day(night).atTime(12, 0)
      rec.op("terminal_as_of", write = false)(spark.sql(
        s"SELECT terminal_address FROM dwh_dim_terminals_hist WHERE terminal_id = '${t.id}' " +
          s"AND TIMESTAMP'${Timestamp.valueOf(at)}' BETWEEN effective_from AND effective_to " +
          "AND deleted_flg = 0"))(_.collect()) { rows =>
        if (rows.map(_.getString(0)).toSeq == Seq(t.address)) None
        else Some(s"${t.id} as of $at: got ${rows.toSeq}, want ${t.address}")
      }
    }
    val txs = f.transactions(n)
    val slices = Seq.fill(FactSlices)(txs(r.nextInt(txs.size)).terminal).map { term => (rec: Recorder) =>
      val mine = txs.filter(_.terminal == term)
      rec.op("fact_slice", write = false)(spark.sql(
        s"SELECT count(*), sum(amt) FROM parquet.`${wh.getPath}/dwh_fact_transactions` " +
          s"WHERE day = DATE'${f.day(n)}' AND terminal = '$term'"))(_.collect()) { rows =>
        val got = (rows.head.getLong(0), rows.head.getDecimal(1))
        val want = (mine.size.toLong, java.math.BigDecimal.valueOf(mine.map(_.cents).sum, 2))
        if (got._1 == want._1 && got._2.compareTo(want._2) == 0) None
        else Some(s"fact slice $term ${f.day(n)}: got $got, want $want")
      }
    }
    if (warmUp) Seq(marts, asOfs, slices).flatMap(_.take(WarmUpReadsPerKind))
      .foreach(read => read(new Recorder(None)))
    r.shuffle(marts ++ asOfs ++ slices).foreach(read => read(rec))
  }

  def finalCheck(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val last = feeds.nights - 1
    GraftSession.attachWarehouse(spark, warehouse(ctx).getPath)
    // SCD2: 150 first versions, then per night one new terminal, two
    // moves, and (from night 2) the deletion of the previous new terminal
    val wantHist = Feeds.NaturalTerminals + 3 * last + math.max(0, last - 1)
    rec.checkState("terminal history rows") {
      val got = spark.table("dwh_dim_terminals_hist").count()
      if (got == wantHist) None else Some(s"got $got, want $wantHist")
    }
    // the last night's new terminal has one live version; the one before
    // it was added, then deleted: a live version and a deleted one
    for ((night, want) <- Seq(last -> Seq(0), (last - 1) -> Seq(0, 1)) if night >= 1)
      rec.checkState(s"versions of the terminal added on night $night") {
        val id = feeds.churnTerminal(night).id
        val got = spark.sql(s"SELECT deleted_flg FROM dwh_dim_terminals_hist WHERE terminal_id = '$id'")
          .collect().map(_.getInt(0)).sorted.toSeq
        if (got == want) None else Some(s"$id deleted_flg values $got, want $want")
      }
    val wantMart = (0 to last).map(n => feeds.expectedEvents(n).size).sum
    rec.checkState("mart rows") {
      val got = spark.table("rep_fraud").count()
      if (got == wantMart) None else Some(s"got $got, want $wantMart")
    }
    val wantBl = feeds.blacklist(last).map(_._2).distinct.size
    rec.checkState("blacklist rows") {
      val got = spark.table("dwh_fact_pssprt_blcklst").count()
      if (got == wantBl) None else Some(s"got $got, want $wantBl")
    }
  }

  def storeBytes(ctx: Ctx): Long = Harness.duBytes(warehouse(ctx))

  /** The bank's client, account and card tables for the feed's people. */
  def writeBank(spark: SparkSession, f: Feeds, dir: File): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    val s = StringType
    write("clients", StructType(Seq(StructField("client_id", s), StructField("last_name", s),
      StructField("first_name", s), StructField("patronymic", s), StructField("passport_num", s),
      StructField("passport_valid_to", DateType), StructField("phone", s))),
      f.clients.map(c => Row(c.id, c.lastName, c.firstName, c.patronymic, c.passport,
        Date.valueOf(c.passportValidTo), c.phone)))
    write("accounts", StructType(Seq(StructField("account", s), StructField("valid_to", DateType),
      StructField("client", s))),
      f.clients.map(c => Row(c.account, Date.valueOf(c.accountValidTo), c.id)))
    write("cards", StructType(Seq(StructField("card_num", s), StructField("account", s))),
      f.clients.map(c => Row(c.card, c.account)))
  }
}

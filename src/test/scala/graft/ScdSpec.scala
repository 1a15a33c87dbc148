package graft

import java.sql.Timestamp
import graft.operators.Scd
import graft.sources.BankFeeds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden SCD2 vector from the reference's own 3-day terminal snapshots
  * (FIXTURES.md §A2, verified by diffing the files), read from the
  * reference files or the generated feeds that reproduce their vectors
  * (`SparkTestBase.refDir`):
  * day2 adds P9111 and changes A8966 + P6934; day3 deletes P9111 and
  * changes A8966 again.
  */
class ScdSpec extends SparkSpec {
  private val attrs = Seq("terminal_type", "terminal_city", "terminal_address")
  private def ts(s: String) = Timestamp.valueOf(s)

  // localCheckpoint between loads: scd2Apply references its input history
  // ~5×, so a pure-DataFrame chain grows the plan exponentially (see the
  // Scd scaladoc) — materialization per load is part of the contract.
  private lazy val hist3: DataFrame = {
    val d1 = BankFeeds.terminals(spark, s"$refDir/terminals_01032021.xlsx")
    val d2 = BankFeeds.terminals(spark, s"$refDir/terminals_02032021.xlsx")
    val d3 = BankFeeds.terminals(spark, s"$refDir/terminals_03032021.xlsx")
    val h1 = Scd.scd2Apply(spark, None, d1, "terminal_id", attrs,
      ts("2021-03-01 00:00:00")).localCheckpoint()
    val h2 = Scd.scd2Apply(spark, Some(h1), d2, "terminal_id", attrs,
      ts("2021-03-02 00:00:00")).localCheckpoint()
    Scd.scd2Apply(spark, Some(h2), d3, "terminal_id", attrs,
      ts("2021-03-03 00:00:00")).localCheckpoint()
  }

  test("A8966 has 3 versions with abutting validity intervals") {
    val v = hist3.filter(col("terminal_id") === "A8966")
      .orderBy("effective_from").collect()
    assert(v.length === 3)
    assert(v.forall(_.getAs[Int]("deleted_flg") === 0))
    // close at loadTs − 1 s, next starts at loadTs (main.py:133 semantics)
    assert(v(0).getAs[Timestamp]("effective_to") === ts("2021-03-01 23:59:59"))
    assert(v(1).getAs[Timestamp]("effective_from") === ts("2021-03-02 00:00:00"))
    assert(v(1).getAs[Timestamp]("effective_to") === ts("2021-03-02 23:59:59"))
    assert(v(2).getAs[Timestamp]("effective_to") === Scd.SentinelTs)
  }

  test("P9111 was added day 2 and deleted day 3 (closed + tombstone)") {
    val v = hist3.filter(col("terminal_id") === "P9111")
      .orderBy("effective_from").collect()
    assert(v.length === 2)
    assert(v(0).getAs[Int]("deleted_flg") === 0)
    assert(v(0).getAs[Timestamp]("effective_from") === ts("2021-03-02 00:00:00"))
    assert(v(0).getAs[Timestamp]("effective_to") === ts("2021-03-02 23:59:59"))
    assert(v(1).getAs[Int]("deleted_flg") === 1)
    assert(v(1).getAs[Timestamp]("effective_to") === Scd.SentinelTs)
  }

  test("per key: at most one open version; intervals never overlap") {
    val open = hist3.filter(col("effective_to") === Scd.SentinelTs)
      .groupBy("terminal_id").count().filter(col("count") > 1)
    assert(open.count() === 0)
    val overlaps = hist3.alias("a").join(hist3.alias("b"), "terminal_id")
      .filter(col("a.effective_from") < col("b.effective_from") &&
              col("a.effective_to") >= col("b.effective_from"))
    assert(overlaps.count() === 0)
  }

  test("replaying the same snapshot is a fixpoint") {
    val d3 = BankFeeds.terminals(spark, s"$refDir/terminals_03032021.xlsx")
    val h4 = Scd.scd2Apply(spark, Some(hist3), d3, "terminal_id", attrs,
      ts("2021-03-04 00:00:00"))
    assert(h4.count() === hist3.count())
    assert(h4.exceptAll(hist3).count() === 0)
  }

  test("active view reflects the latest snapshot exactly") {
    val d3 = BankFeeds.terminals(spark, s"$refDir/terminals_03032021.xlsx")
    val active = Scd.activeAt(hist3, ts("2021-03-05 00:00:00"))
      .select("terminal_id", "terminal_type", "terminal_city", "terminal_address")
    assert(active.exceptAll(d3).count() === 0)
    assert(d3.exceptAll(active).count() === 0)
  }

  test("as-of join resolves each event to the version active at its time") {
    import spark.implicits._
    val facts = Seq(
      ("A8966", ts("2021-03-01 12:00:00")), // day-1 version
      ("A8966", ts("2021-03-02 12:00:00")), // day-2 version (address changed)
      ("A8966", ts("2021-03-04 12:00:00")), // open day-3 version
      ("P9111", ts("2021-03-02 12:00:00"))) // only live day 2
      .toDF("terminal_id", "event_ts")
    val joined = Scd.asOfJoin(facts, hist3, "terminal_id", "event_ts")
    assert(joined.count() === 4)
    val a = joined.filter(col("terminal_id") === "A8966")
      .orderBy("event_ts").select("terminal_address").collect().map(_.getString(0))
    assert(a.length === 3)
    assert(a(0) !== a(1)) // address changed between day 1 and day 2
    assert(a(1) !== a(2)) // and again on day 3
    // a fact before the first version drops out of the inner join
    val early = Seq(("P9111", ts("2021-03-01 12:00:00"))).toDF("terminal_id", "event_ts")
    assert(Scd.asOfJoin(early, hist3, "terminal_id", "event_ts").count() === 0)
  }

  test("SCD1 blacklist: cumulative loads are idempotent upserts") {
    val b1 = BankFeeds.blacklist(spark, s"$refDir/passport_blacklist_01032021.xlsx")
    val b2 = BankFeeds.blacklist(spark, s"$refDir/passport_blacklist_02032021.xlsx")
    val f1 = Scd.scd1Apply(None, b1, "passport_num", Seq("entry_dt"))
    val f2 = Scd.scd1Apply(Some(f1), b2, "passport_num", Seq("entry_dt"))
    assert(f2.count() === 15)
    val f2again = Scd.scd1Apply(Some(f2), b2, "passport_num", Seq("entry_dt"))
    assert(f2again.count() === 15)
    assert(f2again.exceptAll(f2).count() === 0)
  }
}

package perfbench

import java.io.File
import scala.util.{Failure, Success, Try}

/** The benchmark's own checks: the tail rule, the span arithmetic, and
  * the feed generator (determinism, and a round trip
  * through the program's own feed readers). Exit code 0 when all pass. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  def tailRule(): Unit = {
    check(Stats.tailPercentile(162) == 93, "162 samples support p93")
    check(Stats.tailPercentile(48) == 79, "48 samples support p79")
    check(Stats.tailPercentile(21) == 52, "21 samples support p52")
    check(Stats.tailPercentile(1000) == 99, "the tail is capped at p99")
    // a sample that cannot put its tail above p50 is refused, never
    // reported as a tail equal to the median
    for (n <- Seq(1, 10, 20))
      check(Try(Stats.tailPercentile(n)).isFailure, s"$n samples must be refused")
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    check(p == 90 && math.abs(v - 90.1) < 1e-9, s"tail of 1..100 is p90 = 90.1, got ${(p, v)}")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median interpolates")
    check(Stats.growth(Seq(1.0, 1.0, 5.0, 2.0, 2.0)) == 2.0, "growth is last fifth over first")
  }

  def spanArithmetic(): Unit = {
    val op = Span(1, 0, "op", "q", 0, 100)
    // overlapping children count once; children past the parent are clipped
    val kids = Seq(Span(2, 1, "job", "a", 10, 40), Span(3, 1, "job", "b", 30, 60),
      Span(4, 1, "job", "c", 90, 130))
    check(Spans.selfTime(op, kids) == 40, s"self time 40, got ${Spans.selfTime(op, kids)}")
    check(Spans.selfTime(op, Nil) == 100, "no children: self time is the duration")
    check(Spans.selfTime(Span(5, 0, "op", "x", 50, 50), kids) == 0, "empty span")
    val split = Spans.layerSplit(op = (0, 100), build = Seq((0, 20)), catalyst = Seq((5, 15)),
      jobs = Seq((20, 90)), stages = Seq((25, 50), (45, 85)), tasks = Seq((30, 40), (35, 70)))
    val want = Map("exec" -> 40L, "sched" -> 20L, "job" -> 10L, "catalyst" -> 10L,
      "construct" -> 10L, "op" -> 10L)
    check(split == want, s"layer split $split, want $want")
    check(split.values.sum == 100, "the layers sum to the op's wall")
  }

  def generatorDeterminism(work: File): Unit = {
    def bytes(seed: Long, night: Int): Seq[Seq[Byte]] = {
      val f = new Feeds(seed, 3, 500, 200)
      Seq(f.terminalsXlsx(night), f.blacklistXlsx(night),
        f.transactionsTxt(f.transactions(night))).map(_.toSeq)
    }
    for (n <- 0 until 3) check(bytes(7, n) == bytes(7, n), s"night $n: same seed, same bytes")
    check(bytes(7, 1) != bytes(8, 1), "another seed gives other bytes")
  }

  /** Files of three generated nights read back through BankFeeds /
    * ExcelReader with the planted row counts. */
  def roundTrip(work: File, cores: Int): Unit = {
    import graft.sources.{BankFeeds, ExcelReader}
    val spark = Harness.session(work, cores, traced = false)
    try {
      val f = new Feeds(11, 3, 3000, 300)
      for (n <- 0 until 3) {
        val dir = new File(work, s"roundtrip/night_$n")
        val txs = f.writeNight(n, dir)
        val stamp = f.day(n).format(java.time.format.DateTimeFormatter.ofPattern("ddMMyyyy"))
        val terms = BankFeeds.terminals(spark, new File(dir, s"terminals_$stamp.xlsx").getPath)
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        check(terms.toSeq == f.terminals(n).map(t => (t.id, t.kind, t.city, t.address)),
          s"night $n: terminals round-trip (${terms.length} of ${f.terminals(n).size})")
        val blPath = new File(dir, s"passport_blacklist_$stamp.xlsx").getPath
        check(ExcelReader.dataRows(blPath).exists(_.forall(_.isEmpty)),
          s"night $n: the blacklist sheet carries blank rows")
        val bl = BankFeeds.blacklist(spark, blPath).collect()
          .map(r => (r.getDate(1).toLocalDate, r.getString(0)))
        check(bl.toSeq == f.blacklist(n), s"night $n: blacklist round-trip (${bl.length} rows)")
        val tx = BankFeeds.transactions(spark, new File(dir, s"transactions_$stamp.txt").getPath)
          .collect()
        check(tx.length == txs.size && tx.length == f.txPerDay + 5,
          s"night $n: ${tx.length} transactions, want ${f.txPerDay + 5}")
        val first = tx.head
        check(first.getString(0) == txs.head.id.toString &&
          first.getDecimal(2).compareTo(java.math.BigDecimal.valueOf(txs.head.cents, 2)) == 0 &&
          first.getString(3) == txs.head.card,
          s"night $n: the padded first row parses ($first)")
        check(tx.map(_.getDecimal(2)).reduce(_ add _)
          .compareTo(java.math.BigDecimal.valueOf(txs.map(_.cents).sum, 2)) == 0,
          s"night $n: decimal-comma amounts sum to the model's")
        check(f.expectedEvents(n).map(_.kind).distinct.size == 3,
          s"night $n: a positive for every fraud rule")
      }
      check(f.terminals(0).exists(_.city == "Кемерово"), "Cyrillic text survives")
    } finally spark.stop()
  }

  def run(work: File, cores: Int): Int = {
    val tests = Seq[(String, () => Unit)](
      "tail percentile rule" -> (() => tailRule()),
      "span self-time arithmetic" -> (() => spanArithmetic()),
      "generator determinism" -> (() => generatorDeterminism(work)),
      "feed round trip through BankFeeds/ExcelReader" -> (() => roundTrip(work, cores)))
    val failures = tests.count { case (name, t) =>
      Try(t()) match {
        case Success(_) => println(s"ok    $name"); false
        case Failure(e) => println(s"FAIL  $name: ${e.getMessage}"); true
      }
    }
    println(s"${tests.size - failures} passed, $failures failed")
    if (failures == 0) 0 else 1
  }
}

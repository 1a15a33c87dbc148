package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKSketch

/** SpaceSaving heavy-hitters aggregate (TopKSketch.TopKAgg): exact-regime
  * equality with a true groupBy, partitioning invariance, and the three
  * saturated-regime guarantees (overestimate-only, error bound,
  * heavy-hitter completeness).
  */
class TopKSketchSpec extends SparkSpec {
  import spark.implicits._

  private def entries(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.select(explode(col("sk")).as("e"))
      .select("e.item", "e.est", "e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("exact regime: sketch equals a true groupBy count") {
    val words = (1 to 2000).map(i => s"w_${i % 40}") // 40 distinct << 256
    val df = words.toDF("w")
    val sk = entries(df.agg(TopKSketch.topk_sketch(col("w")).as("sk")))
    val truth = df.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.map(e => e._1 -> e._2).toMap === truth)
    assert(sk.forall(_._3 === 0L)) // no eviction → zero error recorded
    // sorted by (est desc, item asc)
    assert(sk === sk.sortBy(e => (-e._2, e._1)))
  }

  test("exact regime is partitioning-invariant") {
    val words = (1 to 5000).map(i => s"w_${i % 100}")
    val a = entries(words.toDF("w").repartition(1)
      .agg(TopKSketch.topk_sketch(col("w")).as("sk")))
    val b = entries(words.toDF("w").repartition(13)
      .agg(TopKSketch.topk_sketch(col("w")).as("sk")))
    assert(a === b)
  }

  test("streaming heavy hitters: the sketch aggregates across micro-batches") {
    // TypedImperativeAggregate composes with streaming aggregation —
    // partials merge across micro-batches in the state store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val in = MemoryStream[String](spark)
    in.addData(Seq.fill(5)("a") ++ Seq.fill(2)("b"): _*)
    in.addData(Seq.fill(4)("b") ++ Seq.fill(1)("c"): _*)
    val q = in.toDF().toDF("w")
      .agg(TopKSketch.topk_sketch(col("w"), 16).as("sk"))
      .writeStream.format("memory").queryName("topkstream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = entries(spark.table("topkstream"))
    assert(got.map(e => e._1 -> e._2).toMap === Map("a" -> 5L, "b" -> 6L, "c" -> 1L))
  }

  test("SQL registration: topk_sketch callable from spark.sql") {
    Seq("x", "y", "x").toDF("w").createOrReplaceTempView("topk_in")
    val sk = spark.sql(
      "SELECT topk_sketch(w) AS sk FROM topk_in")
    assert(entries(sk).map(e => e._1 -> e._2).toMap === Map("x" -> 2L, "y" -> 1L))
  }

  test("saturated regime: overestimate-only, bounded error, heavy hitters present") {
    // 2000 distinct keys over capacity 64; one key takes >n/8 of the stream
    val cap = 64
    val heavy = Seq.fill(4000)("HEAVY")
    val tail = (1 to 8000).map(i => s"t_${i % 2000}")
    val words = heavy ++ tail
    val n = words.size.toLong
    val df = words.toDF("w").repartition(7)
    val sk = entries(df.agg(TopKSketch.topk_sketch(col("w"), cap).as("sk")))
    val truth = words.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(sk.size <= cap)
    sk.foreach { case (item, est, err) =>
      val t = truth(item)
      assert(est >= t, s"$item est $est < true $t")     // one-sided
      assert(est - err <= t, s"$item est-err ${est - err} > true $t")
    }
    // total error bound: per-partial eviction floors sum to ≤ n/cap each side
    // of the merge tree; the HEAVY item (freq 4000 > n/cap = 187) must be kept
    assert(sk.exists(_._1 === "HEAVY"))
    val heavyEst = sk.find(_._1 === "HEAVY").get._2
    assert(heavyEst >= 4000L && heavyEst <= 4000L + n / cap * 2,
      s"heavy est $heavyEst far from 4000")
  }
}

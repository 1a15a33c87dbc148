package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchExpressions

/** Count-min sketch properties: one-sided error, determinism under any
  * partitioning (merge = element-wise addition commutes), and exactness
  * when the geometry is collision-free for the data's cardinality.
  */
class CmsSpec extends SparkSpec {
  import spark.implicits._

  private def freqData = (1 to 2000).map(i => s"key_${i % 37}").toDF("k")

  test("estimate >= exact count for every key, even with forced collisions") {
    val df = freqData
    val sk = df.agg(SketchExpressions.cms_sketch(col("k"), depth = 2, width = 8).as("sk"))
    val got = df.distinct().crossJoin(sk)
      .select(col("k"),
        SketchExpressions.cms_estimate(col("sk"), col("k"), depth = 2, width = 8).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(got(k) >= n, s"$k: est ${got(k)} < exact $n — CMS must never undercount")
    }
    // width 8 over 37 keys MUST collide somewhere: estimates can't all be exact
    assert(exact.exists { case (k, n) => got(k) > n }, "expected collisions at width 8")
  }

  test("sketch is bit-identical under any partitioning (deterministic merge)") {
    def sketchOf(parts: Int): Seq[Long] =
      freqData.repartition(parts)
        .agg(SketchExpressions.cms_sketch(col("k"), depth = 4, width = 64).as("sk"))
        .collect()(0).getSeq[Long](0)
    assert(sketchOf(1) === sketchOf(13))
  }

  test("collision-free geometry gives exact counts (the oracle-checkable config)") {
    val df = freqData
    val sk = df.agg(SketchExpressions.cms_sketch(col("k")).as("sk")) // 4x4096 default
    val got = df.distinct().crossJoin(sk)
      .select(col("k"), SketchExpressions.cms_estimate(col("sk"), col("k")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact)
  }

  test("per-group sketches: one small array per group key, probed per group") {
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "a")).toDF("g", "k")
    val sk = df.groupBy("g").agg(SketchExpressions.cms_sketch(col("k")).as("sk"))
    val got = sk.select(col("g"),
        SketchExpressions.cms_estimate(col("sk"), lit("a")).as("est_a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("g1" -> 2L, "g2" -> 1L))
  }

  test("SQL registration: cms_sketch / cms_estimate callable from spark.sql") {
    freqData.createOrReplaceTempView("cms_in")
    val est = spark.sql(
      """SELECT cms_estimate(sk, 'key_5') AS est FROM
        (SELECT cms_sketch(k) AS sk FROM cms_in)""").collect()(0).getLong(0)
    val exact = freqData.filter(col("k") === "key_5").count()
    assert(est === exact)
  }
}

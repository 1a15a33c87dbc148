package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchExpressions

/** KMV bottom-k distinct sketch properties: exactness below k (the
  * oracle-checkable regime), bounded relative error far above k,
  * determinism under any partitioning (set-union merge commutes), and
  * duplicate-insensitivity (it estimates DISTINCT, not rows).
  */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  test("n < k regime is exact: estimate == COUNT(DISTINCT)") {
    val df = (1 to 5000).map(i => s"user_${i % 700}").toDF("u") // 700 distinct
    val est = df.agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"), k = 1024), k = 1024).as("e"))
      .collect()(0).getLong(0)
    assert(est === 700L)
  }

  test("empty and all-null groups estimate 0") {
    val df = Seq[Option[String]](None, None).toDF("u")
    val est = df.agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"))).as("e")).collect()(0).getLong(0)
    assert(est === 0L)
  }

  test("n >> k regime: relative error within 5/sqrt(k)") {
    val n = 100000
    val k = 512
    val df = (1 to n).map(i => s"id_$i").toDF("u")
    val est = df.agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"), k = k), k = k).as("e"))
      .collect()(0).getLong(0)
    val relErr = math.abs(est.toDouble - n) / n
    assert(relErr < 5.0 / math.sqrt(k.toDouble),
      s"est $est vs exact $n: relErr $relErr")
  }

  test("sketch is bit-identical under any partitioning (set-union merge)") {
    val df = (1 to 20000).map(i => s"v_${i % 3000}").toDF("u")
    def sketchOf(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(SketchExpressions.kmv_sketch(col("u"), k = 256).as("sk"))
        .collect()(0).getSeq[Long](0)
    assert(sketchOf(1) === sketchOf(17))
  }

  test("duplicates don't move the estimate (distinct semantics)") {
    val once = (1 to 300).map(i => s"d_$i").toDF("u")
    val tenTimes = (1 to 3000).map(i => s"d_${i % 300 + 1}").toDF("u")
    def est(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"), k = 128), k = 128).as("e"))
        .collect()(0).getLong(0)
    assert(est(once) === est(tenTimes))
  }

  test("per-group sketches stay per-group") {
    val df = Seq(("g1", "a"), ("g1", "b"), ("g1", "a"), ("g2", "a")).toDF("g", "u")
    val got = df.groupBy("g")
      .agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("g1" -> 2L, "g2" -> 1L))
  }

  test("set expressions, unsaturated regime: union and intersection exact") {
    // A = 1..400, B = 200..600 → |A∩B| = 201, |A∪B| = 600, both < k
    val df = ((1 to 400).map(i => ("a", s"u_$i")) ++
              (200 to 600).map(i => ("b", s"u_$i"))).toDF("g", "u")
    val sk = df.groupBy("g")
      .agg(SketchExpressions.kmv_sketch(col("u"), k = 1024).as("sk"))
    val row = sk.filter(col("g") === "a").select(col("sk").as("sk_a"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sk").as("sk_b")))
      .select(
        SketchExpressions.kmv_intersect_est(col("sk_a"), col("sk_b"), k = 1024).as("i"),
        SketchExpressions.kmv_union_est(col("sk_a"), col("sk_b"), k = 1024).as("un"))
      .collect()(0)
    assert(row.getLong(0) === 201L)
    assert(row.getLong(1) === 600L)
  }

  test("set expressions, saturated regime: bounded relative error") {
    // A = 1..30000, B = 15001..45000 → |A∩B| = 15000, |A∪B| = 45000, k = 1024
    val k = 1024
    val df = ((1 to 30000).map(i => ("a", s"u_$i")) ++
              (15001 to 45000).map(i => ("b", s"u_$i"))).toDF("g", "u")
    val sk = df.groupBy("g")
      .agg(SketchExpressions.kmv_sketch(col("u"), k = k).as("sk"))
    val row = sk.filter(col("g") === "a").select(col("sk").as("sk_a"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sk").as("sk_b")))
      .select(
        SketchExpressions.kmv_intersect_est(col("sk_a"), col("sk_b"), k = k).as("i"),
        SketchExpressions.kmv_union_est(col("sk_a"), col("sk_b"), k = k).as("un"))
      .collect()(0)
    // union RSE ~ 1/sqrt(k); intersection error scales by union/intersection
    assert(math.abs(row.getLong(1).toDouble - 45000) / 45000 < 5.0 / math.sqrt(k.toDouble),
      s"union est ${row.getLong(1)}")
    assert(math.abs(row.getLong(0).toDouble - 15000) / 15000 < 15.0 / math.sqrt(k.toDouble),
      s"intersect est ${row.getLong(0)}")
  }

  test("union estimate equals the estimate of an aggregated union") {
    // merging sketches then estimating == sketching the concatenation
    val k = 128
    val left = (1 to 5000).map(i => s"x_$i")
    val right = (2500 to 9000).map(i => s"x_$i")
    val skL = left.toDF("u")
      .agg(SketchExpressions.kmv_sketch(col("u"), k = k).as("sk")).collect()(0).getSeq[Long](0)
    val skR = right.toDF("u")
      .agg(SketchExpressions.kmv_sketch(col("u"), k = k).as("sk")).collect()(0).getSeq[Long](0)
    val both = (left ++ right).toDF("u")
      .agg(SketchExpressions.kmv_estimate(
        SketchExpressions.kmv_sketch(col("u"), k = k), k = k).as("e"))
      .collect()(0).getLong(0)
    val viaSets = left.toDF("u")
      .agg(SketchExpressions.kmv_sketch(col("u"), k = k).as("sk_a"))
      .crossJoin(right.toDF("u")
        .agg(SketchExpressions.kmv_sketch(col("u"), k = k).as("sk_b")))
      .select(SketchExpressions.kmv_union_est(col("sk_a"), col("sk_b"), k = k).as("e"))
      .collect()(0).getLong(0)
    assert(viaSets === both,
      s"sketch-space union $viaSets != aggregate-of-union $both (skL=${skL.size}, skR=${skR.size})")
  }

  test("SQL registration: kmv_sketch / kmv_estimate callable from spark.sql") {
    Seq("x", "y", "x").toDF("u").createOrReplaceTempView("kmv_in")
    val est = spark.sql(
      "SELECT kmv_estimate(kmv_sketch(u)) AS e FROM kmv_in")
      .collect()(0).getLong(0)
    assert(est === 2L)
  }
}

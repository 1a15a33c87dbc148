package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BloomExpressions

/** Bloom filter properties: no false negatives ever, determinism under
  * any partitioning (merge = bitwise OR commutes), a sane false-positive
  * rate at the designed geometry, and codegen/interpreted agreement —
  * the contracts `text_decontaminate_bloom` relies on for its
  * exact-after-confirm equivalence.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def inserted = (1 to 2000).map(i => s"shingle_$i").toDF("s")
  private def absent   = (1 to 10000).map(i => s"missing_$i").toDF("s")

  test("no false negatives: every inserted item probes true") {
    val bf = inserted.agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 17).as("bf"))
    val misses = inserted.crossJoin(bf)
      .filter(!BloomExpressions.bloom_might_contain(col("bf"), col("s")))
      .count()
    assert(misses === 0L, "a bloom filter must never report an inserted item absent")
  }

  test("bitset is bit-identical under any partitioning (OR merge commutes)") {
    def bitsOf(parts: Int): Seq[Long] =
      inserted.repartition(parts)
        .agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 14).as("bf"))
        .collect()(0).getSeq[Long](0)
    assert(bitsOf(1) === bitsOf(13))
  }

  test("false-positive rate stays near the designed bound") {
    // n=2000, m=2^17 bits, k=7 → theoretical FP ≈ (1 - e^(-kn/m))^7 ≈ 2e-7;
    // assert the loose 1% engineering bound the decontaminate scale math uses.
    val bf = inserted.agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 17).as("bf"))
    val fps = absent.crossJoin(bf)
      .filter(BloomExpressions.bloom_might_contain(col("bf"), col("s")))
      .count()
    assert(fps <= 100L, s"$fps false positives in 10000 probes exceeds the 1% design bound")
  }

  test("empty / all-NULL group yields the empty-set bloom (everything probes false)") {
    val bf = Seq[Option[String]](None, None).toDF("s")
      .agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 10).as("bf"))
    val hits = inserted.crossJoin(bf)
      .filter(BloomExpressions.bloom_might_contain(col("bf"), col("s")))
      .count()
    assert(hits === 0L)
  }

  test("probe agrees between codegen and interpreted eval") {
    val bf = inserted.agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 14).as("bf"))
    val df = inserted.unionAll(absent.limit(500)).crossJoin(bf)
      .select(col("s"), BloomExpressions.bloom_might_contain(col("bf"), col("s")).as("hit"))
    val viaCodegen = df.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val viaInterp = df.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
      assert(viaCodegen === viaInterp)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("SQL registration: bloom_build / bloom_might_contain callable from spark.sql") {
    inserted.createOrReplaceTempView("bloom_in")
    val hit = spark.sql(
      """SELECT bloom_might_contain(bf, 'shingle_7') AS hit FROM
        (SELECT bloom_build(s) AS bf FROM bloom_in)""").collect()(0).getBoolean(0)
    assert(hit)
  }

  test("prefilter + exact confirm equals the unfiltered exact pipeline") {
    // The text_decontaminate_bloom construction in miniature: bloom-positive
    // rows confirmed against the exact set must equal a plain semi-join.
    val corpus = (1 to 5000).map(i => s"item_${i % 700}").toDF("s")
    val evalSet = (1 to 120).map(i => s"item_${i * 5}").toDF("s").distinct()
    val bf = evalSet.agg(BloomExpressions.bloom_build(col("s"), numBits = 1 << 12).as("bf"))
    val viaBloom = corpus.crossJoin(bf)
      .filter(BloomExpressions.bloom_might_contain(col("bf"), col("s")))
      .drop("bf")
      .join(evalSet, Seq("s"), "left_semi")
    val exact = corpus.join(evalSet, Seq("s"), "left_semi")
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
  }
}

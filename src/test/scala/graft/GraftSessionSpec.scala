package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graft.{TopKPerGroupExec, TopKPerGroupOp, ZOrderExpressions}

/** The session factory installs the engine's one extension point
  * (`GraftExtensions`): the SQL functions arrive with the session,
  * `attach` only adds views, and the top-k strategy needs no per-session
  * patching. */
class GraftSessionSpec extends SparkSpec {

  private val functionNames = Seq(
    "cosine_f32", "dot_f32", "l2norm_f32",
    "simhash64", "simhash64_md5", "minhash_sig",
    "elementwise_min", "z_order2", "z_ordern",
    "cms_sketch", "cms_estimate", "kmv_sketch", "kmv_estimate",
    "kmv_union_est", "kmv_intersect_est",
    "bloom_build", "bloom_might_contain", "topk_sketch")

  test("the 18 SQL functions resolve in spark.sql without attach") {
    assert(functionNames.distinct.size === 18)
    // a fresh session shares the extensions but has never been attached
    Seq(spark, spark.newSession()).foreach { s =>
      functionNames.foreach { name =>
        val described = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
        assert(described.contains(s"Function: $name"), described.mkString("\n"))
      }
      val row = s.sql(
        "SELECT l2norm_f32(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS n, " +
          "z_order2(CAST(1 AS BIGINT), CAST(0 AS BIGINT)) AS z").collect().head
      assert(row.getAs[Double]("n") === 5.0)
      assert(row.getAs[Long]("z") === ZOrderExpressions.interleave(1L, 0L))
    }
  }

  test("attach leaves the function registry unchanged") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def snapshot = registry.listFunction()
      .map(id => id -> registry.lookupFunctionBuilder(id).get).toMap
    val before = snapshot
    GraftSession.attach(s, sf0001)
    assert(s.catalog.tableExists("lineitem"))
    val after = snapshot
    assert(after.keySet === before.keySet)
    assert(after.forall { case (id, b) => b eq before(id) })
    functionNames.foreach(n => assert(before.contains(FunctionIdentifier(n)), n))
  }

  test("topKPerGroup plans to TopKPerGroupExec with no experimental strategy") {
    assert(spark.experimental.extraStrategies.isEmpty)
    val df = TopKPerGroupOp.topKPerGroup(
      Tables.orders(spark, sf0001), Seq("o_custkey"), "o_orderkey", 3)
    val execs = df.queryExecution.sparkPlan.collect { case e: TopKPerGroupExec => e }
    assert(execs.size === 1, df.queryExecution.sparkPlan.treeString)
    assert(df.count() > 0)
    assert(spark.experimental.extraStrategies.isEmpty)
  }
}

package graft

import graft.plans.OrJoinDecomposition

/** Exercises the rule through spark.experimental.extraOptimizations —
  * runtime-injectable on the shared session (SparkSession.getOrCreate
  * returns the existing session, so builder-time withExtensions cannot be
  * tested per-suite in one JVM; every session GraftSession.builder makes
  * installs the rule through spark.sql.extensions=GraftExtensions).
  */
class OrJoinDecompositionSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations = Seq(OrJoinDecomposition)
    try f finally spark.experimental.extraOptimizations = Nil
  }

  test("OR join result matches 3VL semantics, including null predicates") {
    withRule {
      val lrows = Seq((1, Option(10)), (2, Option.empty[Int]), (3, Option(30)))
      val rrows = Seq((1, 100), (2, 200), (9, 900))
      val l = lrows.toDF("lk", "lv")
      val r = rrows.toDF("rk", "rv")
      val cond = ($"lk" === $"rk" && $"lv" > 5) || $"rv" > 150
      val got = l.join(r, cond).select("lk", "rk").collect()
        .map(x => (x.getInt(0), x.getInt(1))).sorted.toSeq

      // hand-computed truth: keep iff c1=true or c2=true (SQL 3VL)
      val want = (for {
        (lk, lv) <- lrows; (rk, rv) <- rrows
        c1 = lk == rk && lv.exists(_ > 5)
        c2 = rv > 150
        if c1 || c2
      } yield (lk, rk)).sorted
      assert(got === want)
      // null-c1 case really present: lk=2 matches rk=2 with lv NULL, rv=200
      assert(got.contains((2, 2)))
    }
  }

  test("row multiplicity is preserved when both branches are true") {
    withRule {
      val l = Seq((1, 10)).toDF("lk", "lv")
      val r = Seq((1, 200)).toDF("rk", "rv")
      // both c1 and c2 true for the single pair — must appear exactly once
      assert(l.join(r, ($"lk" === $"rk") || ($"rv" > 150)).count() === 1)
    }
  }

  test("rewritten plan is a union of joins, not a nested loop") {
    withRule {
      val l = (1 to 100).map(i => (i, i * 2)).toDF("lk", "lv")
      val r = (1 to 100).map(i => (i, i * 3)).toDF("rk", "rv")
      val df = l.join(r, ($"lk" === $"rk" && $"lv" > 10) || ($"lv" === $"rv"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("Union"), optimized)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("without the rule the same query nested-loops") {
    // the shared session registers GraftExtensions (r10), so the rule is
    // ON by default — excluding it restores Spark's native plan and
    // proves the hash join is the rewrite's doing, not Catalyst's
    withConf("spark.sql.optimizer.excludedRules" ->
        "graft.plans.OrJoinDecomposition") {
      val l = (1 to 100).map(i => (i, i * 2)).toDF("lk", "lv")
      val r = (1 to 100).map(i => (i, i * 3)).toDF("rk", "rv")
      val df = l.join(r, ($"lk" === $"rk" && $"lv" > 10) || ($"lv" === $"rv"))
      assert(df.queryExecution.executedPlan.toString.contains("NestedLoop"))
    }
  }
}

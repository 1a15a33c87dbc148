package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{AggExpressions, BloomExpressions, GraftDmlRule, GraftMaintenanceParser, SketchExpressions, TextHashExpressions, TopKPerGroupOp, TopKSketch, VectorExpressions, ZOrderExpressions}

/** The engine's one extension point (`spark.sql.extensions`), installed
  * by every session [[graft.GraftSession.builder]] makes: the optimizer
  * rule, planner strategy, resolution rules, parser, table functions and
  * SQL functions below all arrive with the session, before any query. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => OrJoinDecomposition)
    e.injectPlannerStrategy(_ => TopKPerGroupOp.Strategy)
    // SQL MERGE/UPDATE/DELETE over graft catalog tables → the CoW verbs
    e.injectResolutionRule(_ => GraftDmlRule)
    // (deletion vectors reconcile INSIDE the DSv2 scan — GraftDvScan —
    // so no plan-swap rule is needed for masked versions anymore)
    // spark.readStream.table("graft.t") → the graft-cdf change-feed source
    e.injectResolutionRule(s => new graft.streaming.GraftStreamTableRule(s))
    // OPTIMIZE / VACUUM / DESCRIBE HISTORY maintenance statements
    e.injectParser((_, delegate) => new GraftMaintenanceParser(delegate))
    // SELECT * FROM table_changes('graft.t', from[, to]) — batch change feed
    e.injectTableFunction(GraftTableChanges.description)
    // SELECT * FROM commit_changes('graft', 't', from[, to]) — the
    // atomic COMMIT-SET feed (transactionally consistent across members)
    e.injectTableFunction(GraftCommitChanges.description)
    GraftExtensions.functions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
  }
}

object GraftExtensions {
  import VectorExpressions._, TextHashExpressions._, SketchExpressions._

  /** The engine's SQL functions, name → builder, with the default
    * geometries of their DataFrame forms. */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_f32" -> (es => CosineSimilarityF32(es(0), es(1))),
    "dot_f32" -> (es => DotProductF32(es(0), es(1))),
    "l2norm_f32" -> (es => L2NormF32(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "simhash64_md5" -> (es => SimHash64(es.head, portable = true)),
    // `n` parameterizes codegen, so it must be a foldable integer
    "minhash_sig" -> { es =>
      require(es.length == 2 && es(1).foldable, "minhash_sig(tokens, <int literal>)")
      MinHashSignature(es.head, es(1).eval().asInstanceOf[Number].intValue())
    },
    "elementwise_min" -> (es => AggExpressions.ElementwiseMinAgg(es.head)),
    "z_order2" -> (es => ZOrderExpressions.ZOrder2(es(0), es(1))),
    "z_ordern" -> (es => ZOrderExpressions.ZOrderN(es)),
    "cms_sketch" -> (es => CountMinAgg(es.head)),
    "cms_estimate" -> (es => CmsEstimate(es(0), es(1))),
    "kmv_sketch" -> (es => KmvAgg(es.head)),
    "kmv_estimate" -> (es => KmvEstimate(es.head)),
    "kmv_union_est" -> (es => KmvUnionEstimate(es(0), es(1))),
    "kmv_intersect_est" -> (es => KmvIntersectEstimate(es(0), es(1))),
    "bloom_build" -> (es => BloomExpressions.BloomAgg(es.head)),
    "bloom_might_contain" -> (es => BloomExpressions.BloomMightContain(es(0), es(1))),
    "topk_sketch" -> (es => TopKSketch.TopKAgg(es.head)))
}

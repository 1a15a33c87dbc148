package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

import graft.sources.{GraftCatalog, GraftCatalogTable, GraftTable, WarehouseFs}

/** SQL DML over graft tables: an analyzer rule that claims resolved
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` statements whose target is a
  * graft catalog table and lowers them onto the copy-on-write verbs
  * ([[WarehouseFs.deleteMatching]], [[WarehouseFs.updateMatching]],
  * [[WarehouseFs.mergeIntoKeys]]) — the same file-granular engine the
  * Scala API uses, so SQL statements inherit the bloom/zone/partition
  * candidate pruning, the manifest CAS commit, and the change-feed
  * classification for free.
  *
  * Why a rule and not `SupportsRowLevelOperations`: the group-based
  * row-level framework would route the rewrite through a generic
  * scan-join-write plan Spark assembles, discarding graft's own
  * touched-set resolution (one aggregation pass deciding point-vs-bulk,
  * metadata-only candidate intersection) and requiring a full DSv2
  * executor-side write path for what is a driver-coordinated manifest
  * commit. The rule runs in the analyzer's Resolution batch (injected
  * via [[graft.plans.GraftExtensions]]) AFTER Spark's own row-level
  * rewrites — which skip non-`SupportsRowLevelOperations` tables — and
  * replaces the statement with an eagerly-executed command.
  *
  * Supported surface (everything else fails loudly, naming the clause):
  *   - DELETE FROM t [WHERE any-predicate | key IN (SELECT …) AND …
  *       | EXISTS (SELECT … WHERE s.a = t.k …) AND …]
  *   - UPDATE t SET c = expr, … [WHERE same shapes as DELETE]
  *     (an uncorrelated single-column IN-subquery over a target column,
  *     or a correlated EXISTS whose only outward reach is equality on
  *     target columns — composite keys included — lowers onto
  *     mergeIntoKeys: key-granular file pruning for the staging-table
  *     shapes; NOT IN / NOT EXISTS / wider correlation refuse)
  *   - MERGE [WITH SCHEMA EVOLUTION] INTO t USING s
  *         ON conjunctive same-name key equalities
  *       WHEN MATCHED [AND c] THEN UPDATE SET … | DELETE   (any number,
  *         folded first-match-wins in ANSI clause order)
  *       WHEN NOT MATCHED [AND c] THEN INSERT (same-named source
  *         columns / *; the gate references source columns)
  *       WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE
  *   WITH SCHEMA EVOLUTION rides Spark's own
  *   ResolveMergeIntoSchemaEvolution (gated on the table's
  *   AUTOMATIC_SCHEMA_EVOLUTION capability): new source columns become
  *   an additive ALTER through the catalog — one sidecar write — before
  *   the merge re-resolves against the evolved width.
  *
  * Predicate index pruning: DELETE/UPDATE conditions translate to source
  * filters, whose equality/IN conjuncts probe the bloom index and
  * partition paths and whose bounded ranges probe the zone map — the
  * exact predicate re-applies on the touched files, so SQL DML is
  * file-granular exactly like the API verbs (asserted in
  * GraftCatalogSpec). */
object GraftDmlRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Unwraps the DML target to the graft table path. */
  private object Target {
    def unapply(plan: LogicalPlan): Option[(String, DataSourceV2Relation)] =
      plan match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftCatalogTable => Some((t.path, r))
          case t: GraftTable => Some((t.tablePath, r))
          case _ => None
        }
        case SubqueryAlias(_, child) => unapply(child)
        case _ => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(Target(path, rel), cond) if d.resolved =>
      inSubqueryParts(cond, AttributeSet(rel.output)) match {
        case Some((keyCols, sub, residual)) =>
          GraftDeleteInCommand(path, rel.output, keyCols, sub, residual)
        case None => GraftDeleteCommand(path, rel.output, cond)
      }
    case u @ UpdateTable(Target(path, rel), assignments, cond) if u.resolved =>
      cond.flatMap(inSubqueryParts(_, AttributeSet(rel.output))) match {
        case Some((keyCols, sub, residual)) =>
          GraftUpdateInCommand(path, rel.output, assignments, keyCols, sub, residual)
        case None => GraftUpdateCommand(path, rel.output, assignments, cond)
      }
    // WITH SCHEMA EVOLUTION: Spark's own ResolveMergeIntoSchemaEvolution
    // computes the additive changes and applies them through the
    // catalog's alterTable — which graft lowers onto [[WarehouseFs
    // .alterAddColumns]] (one sidecar write, zero data I/O) — then
    // re-resolves the merge against the evolved relation. Leave such a
    // merge alone until that rule has nothing left to do; the claim
    // below then sees an ordinary merge whose source columns all exist.
    case m @ MergeIntoTable(Target(path, rel), source, cond,
        matched, notMatched, notMatchedBySource, _)
        if m.resolved && !m.needSchemaEvolution =>
      GraftMergeCommand(path, rel.output, source, cond,
        matched, notMatched, notMatchedBySource)
    // INSERT OVERWRITE under partitionOverwriteMode=dynamic (and
    // df.writeTo(t).overwritePartitions()): the V1 write fallback has no
    // dynamic-overwrite form, so the rule lowers it onto the CoW verb
    case o: OverwritePartitionsDynamic
        if o.resolved && Target.unapply(o.table).isDefined =>
      GraftDynamicOverwriteCommand(Target.unapply(o.table).get._1, o.query)
  }

  private[graft] def fail(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft DML supports a declared surface; unsupported here: $what")

  /** Re-anchor a resolved expression for evaluation against a FRESH read
    * of the table (exprIds differ): target attributes become unresolved
    * name references, source attributes (a MERGE's) take the `src_`
    * prefix [[WarehouseFs.mergeIntoKeys]] aliases the source with.
    * Subqueries refuse loudly: their inner plans hold resolved outer
    * references this re-anchoring cannot reach, which would otherwise
    * surface as a cryptic missing-attribute analysis error downstream. */
  private[graft] def recolumn(e: Expression, target: AttributeSet,
                              source: AttributeSet = AttributeSet.empty): Column = {
    if (e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
      fail(s"a subquery inside a DML condition/assignment ($e) — " +
        "materialize it as a source table / MERGE USING instead")
    ExpressionUtils.column(e.transform {
      case a: AttributeReference if source.contains(a) =>
        UnresolvedAttribute(Seq(s"src_${a.name}"))
      case a: AttributeReference if target.contains(a) =>
        UnresolvedAttribute(Seq(a.name))
    })
  }

  /** (point, range) index probes from a DML condition — the same
    * translation the read path pushes through the DSv2 scan. */
  private[graft] def probesOf(cond: Expression)
      : (Map[String, Seq[Any]], Map[String, (Any, Any)]) =
    GraftV2ScanBuilder.indexProbes(
      splitConjunctivePredicates(cond)
        .flatMap(DataSourceStrategy.translateFilter(_,
          supportNestedPredicatePushdown = true)).toArray)

  private[graft] def sourceDf(spark: SparkSession, plan: LogicalPlan) =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The `key IN (SELECT …)` fast path shared by DELETE and UPDATE: an
    * UNCORRELATED single-column IN-subquery over a TARGET column, as a
    * top-level conjunct, with no other subquery anywhere in the
    * condition. Returns (key column, subquery plan, residual conjuncts)
    * at RULE time — the subquery plan rides the command as a plain
    * LogicalPlan field (never an Expression, which CheckAnalysis's
    * subquery-placement whitelist would reject inside a command) — and
    * the statement lowers onto [[WarehouseFs.mergeIntoKeys]], whose
    * point/bulk touched-set resolution (bloom/zone/partition probes,
    * exact key-column scan past 1M keys) makes the CDC-staging shape
    * `DELETE FROM t WHERE id IN (SELECT id FROM staging)` file-granular
    * instead of refused. NULL keys drop at run time (IN never matches
    * null); residual conjuncts guard the action per matched row (SQL
    * semantics: only TRUE acts). NOT IN (null-aware anti semantics) and
    * correlated subqueries stay refused by [[recolumn]]'s loud check. */
  private[graft] def inSubqueryParts(cond: Expression, target: AttributeSet)
      : Option[(Seq[String], LogicalPlan, Option[Expression])] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, InSubquery, ListQuery, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val conjuncts = splitConjunctivePredicates(cond)
    val fromIn = conjuncts.collectFirst {
      case in @ InSubquery(Seq(a: AttributeReference), lq: ListQuery)
          if target.contains(a) && lq.outerAttrs.isEmpty &&
            lq.plan.output.size == 1 => (a, lq, in: Expression)
    }.map { case (a, lq, in) =>
      // project the subquery's single column under the TARGET key's name
      (Seq(a.name),
        Project(Seq(Alias(lq.plan.output.head, a.name)()), lq.plan), in)
    }
    val picked = fromIn.orElse(conjuncts.collectFirst {
      case ex: org.apache.spark.sql.catalyst.expressions.Exists
          if ex.joinCond.isEmpty =>
        existsKeyPlan(ex.plan, target).map { case (names, plan) =>
          (names, plan, ex: Expression) }
    }.flatten)
    picked.flatMap { case (names, plan, claimed) =>
      val rest = conjuncts.filterNot(_ eq claimed)
      if (rest.exists(_.exists(_.isInstanceOf[SubqueryExpression]))) None
      else Some((names, plan, rest.reduceOption(And)))
    }
  }

  /** The EXISTS half of [[inSubqueryParts]]: a correlated
    * `EXISTS (SELECT … FROM s WHERE s.a = t.k [AND s.b = t.k2] [AND
    * inner-only predicates])` claims when every correlated conjunct is
    * a direct equality between an OuterReference to a TARGET column and
    * an inner-side expression, and nothing else in the subquery reaches
    * outward (no stray outer references, no nested subqueries). The
    * result plan filters the inner side by its own predicates and
    * projects the inner equality sides under the TARGET key names —
    * exactly the staged-key frame the merge path consumes (composite
    * keys supported). Anything wider falls through to the loud refusal. */
  private def existsKeyPlan(plan: LogicalPlan, target: AttributeSet)
      : Option[(Seq[String], LogicalPlan)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, OuterReference, SubExprUtils, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    @scala.annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => unwrap(c) // EXISTS output is irrelevant
      case SubqueryAlias(_, c) => unwrap(c)
      case other => other
    }
    unwrap(plan) match {
      case Filter(fc, child) =>
        val fcs = splitConjunctivePredicates(fc)
        val (corr, inner) = fcs.partition(SubExprUtils.containsOuter)
        val pairs = corr.map {
          case EqualTo(OuterReference(a: AttributeReference), e)
              if target.contains(a) && !SubExprUtils.containsOuter(e) =>
            Some(a -> e)
          case EqualTo(e, OuterReference(a: AttributeReference))
              if target.contains(a) && !SubExprUtils.containsOuter(e) =>
            Some(a -> e)
          case _ => None
        }
        val clean = pairs.nonEmpty && pairs.forall(_.isDefined) &&
          pairs.flatten.map(_._1.name).distinct.size == pairs.size &&
          !(inner ++ pairs.flatten.map(_._2)).exists(
            _.exists(_.isInstanceOf[SubqueryExpression])) &&
          // the inner subtree must not reach outward anywhere else
          !child.exists(p => p.expressions.exists(e =>
            SubExprUtils.containsOuter(e) ||
              e.exists(_.isInstanceOf[SubqueryExpression])))
        if (!clean) None
        else {
          val filtered = inner.reduceOption(And).map(Filter(_, child))
            .getOrElse(child)
          Some((pairs.flatten.map(_._1.name),
            Project(pairs.flatten.map { case (a, e) => Alias(e, a.name)() },
              filtered)))
        }
      case _ => None
    }
  }

  /** Materialize an extracted staged-key plan (already projecting the
    * target key names) as the distinct all-keys-non-null frame
    * [[WarehouseFs.mergeIntoKeys]] consumes. */
  private[graft] def stagedKeysDf(spark: SparkSession, keyCols: Seq[String],
                                  plan: LogicalPlan): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    sourceDf(spark, plan)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
  }

  /** The table's STORED retention for its SQL DML commits — a
    * `keepVersions` table property must govern every write path, not
    * just inserts (a DML defaulting to 2 would GC versions the table
    * asked to keep). */
  private[graft] def keepVersionsOf(spark: SparkSession, path: String): Int =
    GraftCatalog.keepVersionsOf(GraftCatalog.readProps(spark, path))

  /** `TBLPROPERTIES('dmlMode'='mor')` routes SQL DELETE/UPDATE/MERGE
    * (and the IN-subquery lowerings) onto the merge-on-read
    * (deletion-vector) verbs: point DML commits sidecars + small image
    * files instead of rewriting every touched file — the right default
    * for scattered-key workloads; OPTIMIZE folds the masks back. The
    * one CoW holdout is MERGE's NOT MATCHED BY SOURCE clause, whose
    * unmatched-target mask could be table-sized. */
  private[graft] def morOf(spark: SparkSession, path: String): Boolean =
    GraftCatalog.readProps(spark, path).exists { case (k, v) =>
      k.equalsIgnoreCase("dmlMode") && v.equalsIgnoreCase("mor") }
}

/** `DELETE FROM graft.t WHERE cond` → [[WarehouseFs.deleteMatching]]
  * (copy-on-write), or [[WarehouseFs.deleteMatchingVectors]] when the
  * table declares `dmlMode=mor`. */
case class GraftDeleteCommand(path: String, targetOutput: Seq[Attribute],
                              cond: Expression) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val c = GraftDmlRule.recolumn(cond, AttributeSet(targetOutput))
    val keep = GraftDmlRule.keepVersionsOf(spark, path)
    val probes = GraftDmlRule.probesOf(cond)
    if (GraftDmlRule.morOf(spark, path))
      WarehouseFs.deleteMatchingVectors(spark, path, c, keep, probes)
    else
      WarehouseFs.deleteMatching(spark, path, c, keep, pruning = probes)
    Seq.empty
  }
}

/** `DELETE FROM graft.t WHERE key IN (SELECT …) [AND residual]` (or the
  * correlated-equality `EXISTS` spelling) → [[WarehouseFs
  * .mergeIntoKeys]] (matched-delete guarded by the residual, no
  * insert): the staging-driven purge gets key-granular file pruning —
  * bloom/zone/partition probes below `maxPointKeys`, the exact
  * key-column scan above — instead of a refusal. */
case class GraftDeleteInCommand(path: String, targetOutput: Seq[Attribute],
                                keyCols: Seq[String], keys: LogicalPlan,
                                residual: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val guard = residual
      .map(e => GraftDmlRule.recolumn(e, AttributeSet(targetOutput)))
      .getOrElse(lit(true))
    val staged = GraftDmlRule.stagedKeysDf(spark, keyCols, keys)
    val keep = GraftDmlRule.keepVersionsOf(spark, path)
    if (GraftDmlRule.morOf(spark, path))
      WarehouseFs.mergeIntoKeysVectors(staged, path, keyCols,
        whenMatchedDelete = Some(guard), whenNotMatchedInsert = false,
        keepVersions = keep)
    else
      WarehouseFs.mergeIntoKeys(staged, path, keyCols,
        whenMatchedDelete = Some(guard), whenNotMatchedInsert = false,
        keepVersions = keep)
    Seq.empty
  }
}

/** `UPDATE graft.t SET … WHERE key IN (SELECT …) [AND residual]` (or
  * the correlated-equality `EXISTS` spelling) → [[WarehouseFs
  * .mergeIntoKeys]] (matched-update guarded by the residual, no
  * insert) — the same key-granular economics as
  * [[GraftDeleteInCommand]]. */
case class GraftUpdateInCommand(path: String, targetOutput: Seq[Attribute],
                                assignments: Seq[Assignment],
                                keyCols: Seq[String], keys: LogicalPlan,
                                residual: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val tgt = AttributeSet(targetOutput)
    val set = assignments.map { a =>
      a.key match {
        case k: AttributeReference => k.name -> GraftDmlRule.recolumn(a.value, tgt)
        case other => GraftDmlRule.fail(s"UPDATE of a nested field ($other)")
      }
    }.toMap
    val guard = residual.map(e =>
      coalesce(GraftDmlRule.recolumn(e, tgt), lit(false)))
    val guarded = guard match {
      case None => set
      case Some(g) => set.map { case (c, v) =>
        c -> when(g, v).otherwise(col(c)) }
    }
    val staged = GraftDmlRule.stagedKeysDf(spark, keyCols, keys)
    val keep = GraftDmlRule.keepVersionsOf(spark, path)
    if (GraftDmlRule.morOf(spark, path))
      WarehouseFs.mergeIntoKeysVectors(staged, path, keyCols,
        whenMatchedUpdate = guarded, whenNotMatchedInsert = false,
        keepVersions = keep)
    else
      WarehouseFs.mergeIntoKeys(staged, path, keyCols,
        whenMatchedUpdate = guarded, whenNotMatchedInsert = false,
        keepVersions = keep)
    Seq.empty
  }
}

/** `UPDATE graft.t SET … WHERE cond` → [[WarehouseFs.updateMatching]]. */
case class GraftUpdateCommand(path: String, targetOutput: Seq[Attribute],
                              assignments: Seq[Assignment],
                              cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val tgt = AttributeSet(targetOutput)
    val set = assignments.map { a =>
      a.key match {
        case k: AttributeReference => k.name -> GraftDmlRule.recolumn(a.value, tgt)
        case other => GraftDmlRule.fail(s"UPDATE of a nested field ($other)")
      }
    }.toMap
    val condition = cond.getOrElse(Literal(true))
    val c = GraftDmlRule.recolumn(condition, tgt)
    val keep = GraftDmlRule.keepVersionsOf(spark, path)
    val probes = GraftDmlRule.probesOf(condition)
    if (GraftDmlRule.morOf(spark, path))
      WarehouseFs.updateMatchingVectors(spark, path, c, set, keep, probes)
    else
      WarehouseFs.updateMatching(spark, path, c, set, keep, pruning = probes)
    Seq.empty
  }
}

/** `INSERT OVERWRITE` in dynamic partition-overwrite mode (and
  * `df.writeTo(t).overwritePartitions()`) →
  * [[WarehouseFs.overwritePartitions]]: partitions present in the query
  * replace as ONE copy-on-write commit, every other partition's files
  * carry by reference. Unpartitioned tables degrade to the full-version
  * publish — with nothing to scope by, dynamic mode replaces
  * everything, exactly like static mode. */
case class GraftDynamicOverwriteCommand(path: String, query: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val data = GraftDmlRule.sourceDf(spark, query)
    val props = GraftCatalog.readProps(spark, path)
    val keep = GraftCatalog.keepVersionsOf(props)
    val partBy = GraftCatalog.colListOf(props, "partitionBy") match {
      case Nil => WarehouseFs.layoutPartitionCols(spark, path)
      case cols => cols
    }
    if (partBy.isEmpty) {
      // props-less (API-published) tables keep their live index columns
      // through the full overwrite, same as the static-overwrite path
      val (liveBloom, liveZone, _) = WarehouseFs.versionMetadata(spark, path)
      def orElse(a: Seq[String], b: Seq[String]) = if (a.nonEmpty) a else b
      WarehouseFs.publishVersioned(data, path, keepVersions = keep,
        bloomIndexCols = orElse(
          GraftCatalog.colListOf(props, "bloomIndexCols"), liveBloom),
        zoneMapCols = orElse(
          GraftCatalog.colListOf(props, "zoneMapCols"), liveZone))
    } else
      WarehouseFs.overwritePartitions(data, path, partBy, keepVersions = keep)
    Seq.empty
  }
}

/** `MERGE INTO graft.t USING s ON … WHEN …` → [[WarehouseFs.mergeIntoKeys]].
  * ANSI clause order is honored for the supported shapes: a leading
  * conditional UPDATE shields the DELETE behind its negation; a leading
  * DELETE wins outright (mergeIntoKeys applies the delete first). */
case class GraftMergeCommand(path: String, targetOutput: Seq[Attribute],
                             source: LogicalPlan, mergeCond: Expression,
                             matched: Seq[MergeAction],
                             notMatched: Seq[MergeAction],
                             notMatchedBySource: Seq[MergeAction])
    extends LeafRunnableCommand with PredicateHelper {
  import GraftDmlRule.{fail, recolumn}

  override def run(spark: SparkSession): Seq[Row] = {
    val tgt = AttributeSet(targetOutput)
    val src = AttributeSet(source.output)

    // ON: conjunction of same-name target/source attribute equalities —
    // the key set mergeIntoKeys matches and prunes on
    val keyCols = splitConjunctivePredicates(mergeCond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tgt.contains(a) && src.contains(b) =>
          if (a.name != b.name)
            fail(s"ON ${a.name} = ${b.name}: key columns must share a name " +
              "(alias the source query)")
          a.name
        case EqualTo(b: AttributeReference, a: AttributeReference)
            if tgt.contains(a) && src.contains(b) =>
          if (a.name != b.name)
            fail(s"ON ${b.name} = ${a.name}: key columns must share a name " +
              "(alias the source query)")
          a.name
        case other => fail(s"ON clause conjunct $other (need target-key = " +
          "source-key equalities)")
      }

    def cc(e: Expression): Column = recolumn(e, tgt, src)

    // WHEN MATCHED: ANY number of conditional UPDATE/DELETE clauses,
    // folded first-match-wins (ANSI order): each clause's EFFECTIVE
    // guard is its own condition AND the negation of every earlier
    // clause's — a row taken by clause k is invisible to clause k+1. An
    // unconditional clause makes everything after it unreachable
    // (effective guards go identically false), matching runtime ANSI
    // semantics. Per column, the update expression is the ordered
    // when-chain over the clauses that assign it, falling through to
    // the old value; delete conditions OR together under their
    // effective guards. NULL guards count as not-satisfied.
    def g(c: Option[Expression]): Column =
      c.map(e => coalesce(cc(e), lit(false))).getOrElse(lit(true))
    // per column: (effective guard, value) in clause order
    val colCases = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(Column, Column)]]
    var deleteCond: Option[Column] = None
    var priorTaken: Column = lit(false)
    matched.foreach {
      case UpdateAction(cu, assigns, _) =>
        val eff = !priorTaken && g(cu)
        assigns.foreach { a =>
          val name = a.key match {
            case k: AttributeReference => k.name
            case other => fail(s"UPDATE of a nested field ($other)")
          }
          colCases(name) = colCases.getOrElse(name, Vector.empty) :+
            ((eff, cc(a.value)))
        }
        priorTaken = priorTaken || g(cu)
      case DeleteAction(cd) =>
        val eff = !priorTaken && g(cd)
        deleteCond = Some(deleteCond.fold(eff)(_ || eff))
        priorTaken = priorTaken || g(cd)
      case other => fail(s"WHEN MATCHED action $other (UPDATE and DELETE " +
        "are supported)")
    }
    val updateMap: Map[String, Column] = colCases.toMap.map {
      case (name, cases) =>
        name -> cases.foldRight(col(name): Column) {
          case ((eff, v), els) => when(eff, v).otherwise(els)
        }
    }

    // WHEN NOT MATCHED: one INSERT of same-named source columns,
    // optionally conditional — the gate evaluates on SOURCE rows, so it
    // may reference source columns only (a NOT-MATCHED target column is
    // all-NULL; reference it explicitly as NULL in the query if needed)
    val (insert, insertCond) = notMatched match {
      case Seq() => (false, None)
      case Seq(InsertAction(c, assigns)) =>
        assigns.foreach { a =>
          val ok = (a.key, a.value) match {
            case (k: AttributeReference, v: AttributeReference) =>
              src.contains(v) && k.name == v.name
            case _ => false
          }
          if (!ok) fail(s"INSERT assignment $a (need column-for-same-named-" +
            "column inserts — alias the source query)")
        }
        c.foreach { e =>
          val refs = e.references
          if (!refs.subsetOf(src))
            fail(s"WHEN NOT MATCHED AND $e references target columns " +
              s"(${(refs -- src).mkString(", ")}) — a not-matched target " +
              "row is all-NULL; restate the gate over source columns")
        }
        // re-anchor over the SOURCE frame: source attrs by PLAIN name
        (true, c.map(e => recolumn(e, src)))
      case other => fail(s"WHEN NOT MATCHED actions $other (one INSERT " +
        "clause is supported)")
    }

    // WHEN NOT MATCHED BY SOURCE: one DELETE (optionally conditional)
    val bySourceDelete = notMatchedBySource match {
      case Seq() => None
      case Seq(DeleteAction(cd)) =>
        Some(cd.map(e => recolumn(e, tgt)).getOrElse(lit(true)))
      case other => fail(s"WHEN NOT MATCHED BY SOURCE actions $other (only " +
        "DELETE is supported)")
    }

    val srcDf = GraftDmlRule.sourceDf(spark, source)
    val keep = GraftDmlRule.keepVersionsOf(spark, path)
    // a mor table's MERGE masks matched rows instead of rewriting their
    // files — except the full-sync clause (NOT MATCHED BY SOURCE), whose
    // unmatched-target mask could be table-sized: that shape stays CoW
    if (GraftDmlRule.morOf(spark, path) && bySourceDelete.isEmpty)
      WarehouseFs.mergeIntoKeysVectors(srcDf, path, keyCols,
        whenMatchedUpdate = updateMap,
        whenMatchedDelete = deleteCond,
        whenNotMatchedInsert = insert,
        keepVersions = keep,
        whenNotMatchedInsertCond = insertCond)
    else
      WarehouseFs.mergeIntoKeys(srcDf, path, keyCols,
        whenMatchedUpdate = updateMap,
        whenMatchedDelete = deleteCond,
        whenNotMatchedInsert = insert,
        whenNotMatchedBySourceDelete = bySourceDelete,
        keepVersions = keep,
        whenNotMatchedInsertCond = insertCond)
    Seq.empty
  }
}

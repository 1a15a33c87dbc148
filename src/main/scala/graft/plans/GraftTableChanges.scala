package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}

import graft.sources.{GraftCatalog, WarehouseFs}

/** The batch-SQL spelling of the change feed — the lakehouse-CDF
  * `table_changes` table-valued function:
  *
  * {{{
  *   SELECT * FROM table_changes('graft.t', 3, 7)      -- versions 3..7
  *   SELECT * FROM table_changes('graft.t', 3)         -- 3..current
  *   SELECT * FROM table_changes('graft.t',            -- timestamp bounds,
  *     TIMESTAMP'2026-08-01 00:00:00',                 -- resolved against
  *     TIMESTAMP'2026-08-02 00:00:00')                 -- manifest commit
  * }}}                                                 -- instants
  *
  * Registered through `SparkSessionExtensions.injectTableFunction` —
  * the same registry Spark's own `range(…)` TVF lives in, so the FROM
  * clause resolves it with no parser work. Lowers onto
  * [[WarehouseFs.tableChanges]]: one row per change committed IN the
  * version range, stamped `_change_type` / `_commit_version` /
  * `_commit_timestamp`, each step diffing only the files its DML
  * touched. Key columns come from the table's stored `keyCols`
  * property (the same contract as `readStream.table`). Bounds: an
  * integer literal is a version; a timestamp/string literal resolves
  * through the manifest commit instants — `from` to the earliest
  * retained commit at-or-after it, `to` to the latest at-or-before —
  * so a store migration cannot shift the window. Out-of-retention
  * ranges refuse loudly; a feed never silently skips GC'd history. */
object GraftTableChanges {

  type TableFunctionBuilder = Seq[Expression] => LogicalPlan

  val description: (FunctionIdentifier, ExpressionInfo, TableFunctionBuilder) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo(GraftTableChanges.getClass.getCanonicalName,
      "table_changes"),
    (args: Seq[Expression]) => build(args))

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"table_changes: $msg")

  /** `graft.ns.t` (a registered graft catalog) → warehouse path — the
    * same mapping as the maintenance statements; anything containing a
    * `/` is a direct table path. */
  private def tablePath(ident: String): String = {
    val conf = SparkSession.active.conf
    if (ident.contains('/')) return ident
    val parts = ident.split('.').toSeq
    val catKey = s"spark.sql.catalog.${parts.head}"
    conf.getOption(catKey) match {
      case Some(cls) if cls == classOf[graft.sources.GraftCatalog].getName
          && parts.length > 1 =>
        val wh = conf.getOption(s"$catKey.warehouse").getOrElse(
          fail(s"catalog '${parts.head}' is a graft catalog but " +
            s"$catKey.warehouse is not set"))
        (wh +: parts.tail).mkString("/")
      case _ => parts.mkString("/")
    }
  }

  /** A bound argument: Right(version) for integer literals,
    * Left(instantMillis) for timestamp/string literals. */
  private def bound(e: Expression, what: String): Either[Long, Long] = e match {
    case Literal(v, IntegerType) => Right(v.asInstanceOf[Int].toLong)
    case Literal(v, LongType) => Right(v.asInstanceOf[Long])
    case Literal(v, TimestampType) => // catalyst micros
      Left(v.asInstanceOf[Long] / 1000L)
    case Literal(v, StringType) =>
      Left(graft.streaming.CdfSource.parseInstantMillis(v.toString))
    case other => fail(s"$what must be a version number or timestamp " +
      s"literal, got $other")
  }

  private def instantsOf(spark: SparkSession, path: String): Seq[(Long, Long)] =
    WarehouseFs.listVersions(spark, path)
      .flatMap(v => WarehouseFs.commitInstant(spark, path, v).map(v -> _))

  private def build(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    if (args.size < 2 || args.size > 3)
      fail("usage: table_changes(table, from[, to]) — table as a string, " +
        "bounds as version numbers or timestamps")
    val path = args.head match {
      case Literal(s, StringType) => tablePath(s.toString)
      case other => fail(s"the table argument must be a string literal, " +
        s"got $other")
    }
    // keyed when declared; KEYLESS (`_row_id` diff) when the table is
    // row-tracked; otherwise refuse naming both enabling steps — the
    // same resolution readStream.table uses
    val keyCols = GraftCatalog.colListOf(
      GraftCatalog.readProps(spark, path), "keyCols")
    if (keyCols.isEmpty && !WarehouseFs.isRowTracked(spark, path))
      fail(s"$path declares no key columns and is not row-tracked — set " +
        "TBLPROPERTIES('keyCols'='…'), or " +
        "TBLPROPERTIES('rowTracking'='true') for the keyless _row_id " +
        "feed (the same contract as readStream.table)")
    val from = bound(args(1), "from") match {
      case Right(v) => v
      case Left(ms) => // earliest retained commit at or after the instant
        instantsOf(spark, path).find(_._2 >= ms).map(_._1).getOrElse(
          fail(s"no retained commit of $path at or after " +
            s"${new java.sql.Timestamp(ms)}"))
    }
    val to = args.lift(2).map(bound(_, "to")).map {
      case Right(v) => v
      case Left(ms) => // latest retained commit at or before the instant
        instantsOf(spark, path).reverse.find(_._2 <= ms).map(_._1).getOrElse(
          fail(s"no retained commit of $path at or before " +
            s"${new java.sql.Timestamp(ms)}"))
    }
    WarehouseFs.tableChanges(spark, path, keyCols, from, to)
      .queryExecution.analyzed
  }
}

/** The COMMIT-SET sibling of `table_changes`: the nightly pipeline
  * publishes atomic multi-table commits ([[WarehouseFs.publishAtomicVersioned]]),
  * and a consumer keyed on COMMIT numbers (the only coordinates that
  * are transactionally consistent across members) reads one member's
  * delta between two of them:
  *
  * {{{
  *   SELECT * FROM commit_changes('graft', 'rep_fraud', 3, 7)
  *   SELECT * FROM commit_changes('graft', 'rep_fraud', 3)  -- …current
  * }}}
  *
  * Lowers onto [[WarehouseFs.changeFeedCommitted]], inheriting its
  * economics verbatim: members diff file-granularly through the member
  * chain, so a member both commits pin at the same version feeds EMPTY
  * without reading any data. The first argument is a graft catalog name (its configured
  * warehouse) or a direct warehouse path; key columns come from the
  * member table's stored `keyCols` property. */
object GraftCommitChanges {

  val description: (FunctionIdentifier, ExpressionInfo,
      GraftTableChanges.TableFunctionBuilder) = (
    FunctionIdentifier("commit_changes"),
    new ExpressionInfo(GraftCommitChanges.getClass.getCanonicalName,
      "commit_changes"),
    (args: Seq[Expression]) => build(args))

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"commit_changes: $msg")

  private def warehousePath(ident: String): String = {
    val conf = SparkSession.active.conf
    if (ident.contains('/')) return ident
    val catKey = s"spark.sql.catalog.$ident"
    conf.getOption(catKey) match {
      case Some(cls) if cls == classOf[graft.sources.GraftCatalog].getName =>
        conf.getOption(s"$catKey.warehouse").getOrElse(
          fail(s"catalog '$ident' is a graft catalog but " +
            s"$catKey.warehouse is not set"))
      case _ => fail(s"'$ident' is neither a graft catalog name nor a " +
        "warehouse path (no '/')")
    }
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v, IntegerType) => v.asInstanceOf[Int].toLong
    case Literal(v, LongType) => v.asInstanceOf[Long]
    case other => fail(s"$what must be a commit number literal, got $other")
  }

  private def build(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    if (args.size < 3 || args.size > 4)
      fail("usage: commit_changes(warehouse, table, fromCommit[, toCommit])")
    val wh = args.head match {
      case Literal(s, StringType) => warehousePath(s.toString)
      case other => fail(s"the warehouse argument must be a string literal, got $other")
    }
    val table = args(1) match {
      case Literal(s, StringType) => s.toString
      case other => fail(s"the table argument must be a string literal, got $other")
    }
    val keyCols = GraftCatalog.colListOf(
      GraftCatalog.readProps(spark, s"$wh/$table"), "keyCols")
    if (keyCols.isEmpty)
      fail(s"$wh/$table declares no key columns — set " +
        "TBLPROPERTIES('keyCols'='…')")
    val from = longArg(args(2), "fromCommit")
    val to = args.lift(3).map(longArg(_, "toCommit")).getOrElse(
      WarehouseFs.currentCommit(spark, wh).map(_._1).getOrElse(
        fail(s"$wh has no commit set")))
    WarehouseFs.changeFeedCommitted(spark, wh, table, keyCols, from, to)
      .getOrElse(fail(s"commits $from..$to of $wh do not both retain " +
        s"'$table' — widen retention or re-seed from a snapshot"))
      .queryExecution.analyzed
  }
}

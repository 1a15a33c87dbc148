package graft

import org.apache.spark.sql.SparkSession
import graft.sources.WarehouseFs

/** The engine's session factory and SQL entry point.
  *
  * [[builder]] is the one way a session is made: every main and the
  * specs build through it, so every session carries the engine's one
  * extension point, [[graft.plans.GraftExtensions]] (rules, strategies,
  * parser, table functions and the custom SQL functions such as
  * cosine_f32 / dot_f32 / l2norm_f32), and the `graft` catalog.
  * [[attach]] then registers the testdata tables as temp views, so the
  * whole operator surface is reachable from `spark.sql(...)` — the
  * reference's users write SQL (shipped to Oracle); here the same SQL runs
  * on Catalyst with the engine's extensions in scope.
  */
object GraftSession {
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Cores a session runs on unless told otherwise: `SPARK_GRAFT_CPUS`,
    * else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A preconfigured builder: `local[cpus]`, as many shuffle partitions,
    * UTC, no UI, WARN logging, [[graft.plans.GraftExtensions]] and the
    * `graft` catalog class. Callers add only what is theirs (app name,
    * dirs, the catalog's warehouse) and call `getOrCreate()`. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)

  // attach() is called at the top of every SQL-entry query, and each call
  // was re-running `spark.read.parquet` (path listing + footer schema
  // inference) for all ten tables plus ten view registrations — pure
  // metadata overhead repeated per query invocation (guide §6: cache
  // file-source metadata). The work is idempotent for a given (session,
  // sfDir), so memoize it; a different sfDir on the same session (the
  // bench's warmup pass runs sf0.001 before the timed sf0.1 pass)
  // re-attaches. Weak keys: stopped test sessions drop out.
  private val attachedDir = new java.util.WeakHashMap[SparkSession, String]

  /** Idempotent per-session setup: the testdata tables as temp views
    * (the functions come with the session, not with this call). */
  def attach(spark: SparkSession, sfDir: String): SparkSession = {
    attachedDir.synchronized {
      if (attachedDir.get(spark) == sfDir) return spark
    }
    // r17: CBO enablement moved to [[attachWarehouse]] — the committed
    // graft statistics (row counts, NDV, histograms) it consumes reach
    // Catalyst only through the DSv2 warehouse scan. The parquet temp
    // views attached here carry no row counts, so on this path CBO could
    // never reorder a join; what it DID do was tax every subsequent plan
    // in the session with stats estimation (measured 10–16 ms per
    // join-query plan, fully JIT-warm) and skew build-side picks from
    // cardinality-less estimates. Stat-less planning is the pre-CBO
    // default behavior, so plans here keep their audited shapes.
    TableNames.foreach {
      case "events" => // ns timestamps need the nanosAsLong conf (Tables.events)
        Tables.events(spark, sfDir).createOrReplaceTempView("events")
      case t =>
        Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    attachedDir.synchronized { attachedDir.put(spark, sfDir) }
    spark
  }

  /** Register every table of a commit-set warehouse as a temp view — SQL
    * over the SERVED warehouse (the reference's users query exactly this
    * surface). The commit is resolved ONCE and every view reads the
    * member version that commit pins: a publish landing mid-attach cannot produce the
    * mart(vN) ⋈ blacklist(vN−1) mixture (resolving per-table would).
    * Tables whose committed row count is at most `broadcastMaxRows` get
    * a broadcast hint — join planning from committed statistics, not
    * file-size guesses. Returns the (commit, view names) attached; None
    * when the warehouse has no commit yet. */
  def attachWarehouse(spark: SparkSession, warehouse: String,
                      broadcastMaxRows: Long = 4000000L): Option[(Long, Seq[String])] = {
    // cost-based optimization ON for the warehouse surface: committed
    // graft statistics (row counts, NDV, null counts, equi-height
    // histograms) reach Catalyst through the DSv2 scan, and the CBO is
    // what CONSUMES them — FilterEstimation selectivity and stats-driven
    // join reorder (PlanAuditSpec proves the size-inversion flip). The
    // stat-less temp-view path ([[attach]]) no longer pays for it (r17).
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    WarehouseFs.currentCommit(spark, warehouse).map { case (commit, pins) =>
      val names = pins.toSeq.sortBy(_._1).map { case (t, v) =>
        val table = s"$warehouse/$t"
        val df = WarehouseFs.readTableVersion(spark, table, v).getOrElse(
          throw new IllegalStateException(
            s"attachWarehouse: $t resolves to an expired member version " +
              s"($table@$v) — raise the member table's keepVersions"))
        // stats resolve from the pin already in hand — the commit file
        // was read ONCE above, never once-per-table
        val hinted = WarehouseFs.readStats(spark, table, Some(v)) match {
          case Some(st) if st.rowCount <= broadcastMaxRows =>
            org.apache.spark.sql.functions.broadcast(df)
          case _ => df
        }
        hinted.createOrReplaceTempView(t)
        t
      }
      (commit, names)
    }
  }
}

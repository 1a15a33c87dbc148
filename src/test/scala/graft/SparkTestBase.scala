package graft

import graft.sources.BankFeeds
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (sbt forks a single
  * JVM per Test run; reusing the session keeps the suite fast). */
object SparkTestBase {
  /** Warehouse dirs carry the JVM's pid: the suite runs as several
    * parallel forked test-group JVMs (build.sbt `Test / testGrouping`),
    * and a shared literal path would let one group's CREATE/DROP race
    * another's. Everything process-global (WarehouseFs seams, the
    * catalog) stays per-JVM by construction. */
  private val pid = ProcessHandle.current().pid()
  val catalogWarehouse = s"/tmp/graft_catalog_warehouse_$pid"
  /** The reference's feed files where they are mounted, else generated
    * feeds that reproduce their vectors ([[ReferenceFeeds]]), written
    * once per JVM. */
  lazy val refDir: String =
    if (ReferenceFeeds.holdsAll(BankFeeds.ReferenceDir)) BankFeeds.ReferenceDir
    else ReferenceFeeds.generated()
  /** The mains' session ([[GraftSession.builder]]) on a fixed 8 cores,
    * so partition and file counts the specs see do not depend on the
    * host. */
  lazy val spark: SparkSession = GraftSession.builder(8)
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir", s"/tmp/graft_test_warehouse_$pid")
    .config("spark.sql.catalog.graft.warehouse", catalogWarehouse)
    .config(BankFeeds.FeedDirConf, refDir)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"
  def refDir: String = SparkTestBase.refDir

  /** The warehouse's process-global test/deployment seams (commit
    * guard, race hooks) are shared across every suite in the forked
    * JVM: a test that leaks one poisons every LATER suite silently.
    * Fail the leaking test by name here, then reset so the rest of the
    * run stays healthy. */
  override protected def afterEach(): Unit = {
    import graft.sources.WarehouseFs
    try {
      val leaks = Seq(
        (WarehouseFs.casTestHook.isDefined, "casTestHook") -> { () =>
          WarehouseFs.casTestHook = None },
        (WarehouseFs.casWindowHook.isDefined, "casWindowHook") -> { () =>
          WarehouseFs.casWindowHook = None },
        (WarehouseFs.ddlTestHook.isDefined, "ddlTestHook") -> { () =>
          WarehouseFs.ddlTestHook = None },
        ((WarehouseFs.commitGuard ne WarehouseFs.HadoopCommitGuard),
          "commitGuard") -> { () =>
          WarehouseFs.commitGuard = WarehouseFs.HadoopCommitGuard })
      val fired = leaks.collect { case ((true, name), reset) =>
        reset(); name }
      assert(fired.isEmpty,
        s"test leaked process-global warehouse seam(s): " +
          s"${fired.mkString(", ")} — reset them in a finally block")
    } finally super.afterEach()
  }

  /** `table` (current version by default) through the registered DSv2
    * `graft` source — the index-pruned read path every SQL, catalog and
    * `format("graft")` query takes. */
  def graftRead(table: String, version: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft").option("table", table)
    version.fold(r)(v => r.option("version", v)).load()
  }

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) the previous values afterwards — the session is shared
    * across suites, so leaked confs would couple unrelated tests. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

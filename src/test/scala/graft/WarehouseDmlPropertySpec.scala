package graft

import graft.sources.WarehouseFs
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Model-based property test for copy-on-write DML: ANY sequence of
  * deleteWhere / upsertRows / updateWhere / mergeInto and the range
  * forms of deleteMatching / updateMatching applied to a bloom-indexed
  * versioned table must match a driver-side Map model exactly — current
  * content, every retained version's time-travel read, and the change
  * feed between consecutive versions (whose application must reconstruct
  * the newer one). This is the whole-lifecycle contract the per-scenario
  * specs sample; the generator walks it.
  */
class WarehouseDmlPropertySpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class Delete(keys: Seq[Long]) extends Op
  private case class Upsert(rows: Seq[(Long, Long)]) extends Op
  private case class Update(keys: Seq[Long], add: Long) extends Op
  /** Full MERGE: matched rows with v % 2 == parityDel delete, other
    * matched rows take the source value + 1, unmatched insert. */
  private case class Merge(rows: Seq[(Long, Long)], parityDel: Long) extends Op
  /** `k BETWEEN lo AND hi`, zone-pruned: deleteMatching when `add` is
    * None, else updateMatching setting v = v + add. */
  private case class InRange(lo: Long, hi: Long, add: Option[Long]) extends Op

  private val keyGen = Gen.chooseNum(0L, 29L)
  private val opGen: Gen[Op] = Gen.oneOf(
    Gen.nonEmptyListOf(keyGen).map(ks => Delete(ks.distinct)),
    Gen.nonEmptyListOf(Gen.zip(keyGen, Gen.chooseNum(0L, 99L)))
      .map(rs => Upsert(rs.distinctBy(_._1))),
    Gen.zip(Gen.nonEmptyListOf(keyGen), Gen.chooseNum(1L, 9L))
      .map { case (ks, a) => Update(ks.distinct, a) },
    Gen.zip(Gen.nonEmptyListOf(Gen.zip(keyGen, Gen.chooseNum(0L, 99L))),
      Gen.chooseNum(0L, 1L))
      .map { case (rs, p) => Merge(rs.distinctBy(_._1), p) },
    Gen.zip(keyGen, keyGen, Gen.option(Gen.chooseNum(1L, 9L)))
      .map { case (a, b, add) => InRange(a min b, a max b, add) })

  private def tableState(t: String, version: Option[Long]): Map[Long, Long] = {
    val df = version.fold(WarehouseFs.readTable(spark, t).get)(v =>
      WarehouseFs.readTableVersion(spark, t, v).get)
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** The whole-lifecycle property, parameterized over the touched-set
    * regime: `maxPointKeys = 0` forces every upsert/merge through the
    * BULK path ([[WarehouseFs.candidatesDistributed]] — the distributed
    * bloom/zone index probes), which must be value-identical to the
    * point path on every sequence the generator can produce. */
  private def dmlProp(maxPointKeys: Int): Prop =
    Prop.forAll(Gen.listOfN(4, opGen)) { ops =>
      val t = s"${java.nio.file.Files.createTempDirectory("graft_dmlp_")}/t"
      val init = (0L until 20L).map(k => (k, k * 10L))
      WarehouseFs.publishVersioned(
        init.toDF("k", "v").repartitionByRange(4, col("k")),
        t, keepVersions = 10, bloomIndexCols = Seq("k"), zoneMapCols = Seq("k"))

      var model = init.toMap
      // model snapshot per COMMITTED version (a bloom-certain no-match
      // delete commits nothing, so track the actual version counter)
      val snapshots = scala.collection.mutable.Map(1L -> model)
      ops.foreach { op =>
        op match {
          case Delete(ks) =>
            WarehouseFs.deleteWhere(spark, t, "k", ks, keepVersions = 10)
            model = model -- ks
          case Upsert(rows) =>
            WarehouseFs.upsertRows(rows.toDF("k", "v"), t, "k", keepVersions = 10,
              maxPointKeys = maxPointKeys)
            model = model ++ rows
          case Update(ks, a) =>
            WarehouseFs.updateWhere(spark, t, "k", ks,
              Map("v" -> (col("v") + lit(a))), keepVersions = 10)
            model = model.map { case (k, v) =>
              k -> (if (ks.contains(k)) v + a else v) }
          case Merge(rows, p) =>
            WarehouseFs.mergeInto(rows.toDF("k", "v"), t, "k",
              whenMatchedUpdate = Map("v" -> (col("src_v") + lit(1L))),
              whenMatchedDelete = Some(col("v") % 2 === lit(p)),
              keepVersions = 10, maxPointKeys = maxPointKeys)
            val src = rows.toMap
            model = model.flatMap { case (k, v) =>
              src.get(k) match {
                case Some(sv) =>
                  if (v % 2 == p) None else Some(k -> (sv + 1L))
                case None => Some(k -> v)
              }
            } ++ src.view.filterKeys(k => !model.contains(k))
              .toMap
          case InRange(lo, hi, add) =>
            val cond = col("k").between(lo, hi)
            val pruning = (Map.empty[String, Seq[Any]],
              Map[String, (Any, Any)]("k" -> ((lo, hi))))
            add match {
              case None =>
                WarehouseFs.deleteMatching(spark, t, cond, keepVersions = 10,
                  pruning = pruning)
                model = model.filter { case (k, _) => k < lo || k > hi }
              case Some(a) =>
                WarehouseFs.updateMatching(spark, t, cond,
                  Map("v" -> (col("v") + lit(a))), keepVersions = 10,
                  pruning = pruning)
                model = model.map { case (k, v) =>
                  k -> (if (k >= lo && k <= hi) v + a else v) }
            }
        }
        snapshots(WarehouseFs.currentVersion(spark, t).get._1) = model
      }

      val current = tableState(t, None) == model
      val versions = WarehouseFs.listVersions(spark, t)
      // every retained version equals the model as of its commit
      val timeTravel = versions.forall(v =>
        tableState(t, Some(v)) == snapshots(v))
      // consecutive change feeds reconstruct: apply feed(v-1 → v) to the
      // (v-1) read and compare against the v read
      val feedsOk = versions.zip(versions.tail).forall { case (a, b) =>
        val feed = WarehouseFs.changeFeed(spark, t, Seq("k"), a, b).get
        val prev = WarehouseFs.readTableVersion(spark, t, a).get
        val gone = feed.filter(col("_change_type")
          .isin("delete", "update_preimage")).select("k")
        val recon = prev.join(gone, Seq("k"), "left_anti").unionByName(
          feed.filter(col("_change_type").isin("insert", "update_postimage"))
            .drop("_change_type"))
        val got = recon.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == tableState(t, Some(b))
      }
      current && timeTravel && feedsOk
    }

  test("any DML sequence matches the reference model: content, time travel, feeds") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), dmlProp(10000))
    assert(res.passed, res.status.toString)
  }

  test("the same sequences through the BULK regime (distributed index probes) also match") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), dmlProp(0))
    assert(res.passed, res.status.toString)
  }
}

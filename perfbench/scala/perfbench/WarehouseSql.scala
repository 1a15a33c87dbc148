package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row

/** `warehouse_sql`: one bloom-indexed `graft` table (copy-on-write DML,
  * the default), a seeded SQL mix against it. Small commits beside point
  * reads, time travel and history; an OPTIMIZE + VACUUM folds the version
  * chain back each time it has grown by the table's `keepVersions`, so
  * the chain cycles a few times a run. Every read and the final table are
  * checked against an in-memory model of the ops. */
object WarehouseSql extends Workload {
  val Rows = 100000L
  val Files = 4
  val Table = "graft.bench"
  /** One round of the mix, shuffled per round from the run's seed: reads,
    * a small DELETE and a small UPDATE, and in every odd round a 1k-key
    * MERGE, so that two rounds hold five writes, most of them small. The
    * ratios are assumptions: neither the reference nor the paper gives an
    * analyst's statement mix. */
  val Reads: Seq[String] = Seq.fill(9)("select") ++ Seq.fill(2)("time_travel") ++ Seq("history")
  def writes(round: Int): Seq[String] =
    Seq("delete", "update") ++ (if (round % 2 == 1) Seq("merge") else Nil)
  /** Nominal seconds of one round on 4 cores; sets the rounds per run. */
  val NominalRoundS = 10.0
  val MinRounds = 2
  val MergeKeys = 1000
  /** The table's `keepVersions`; also the maintenance cadence: OPTIMIZE
    * and VACUUM run after the round in which the chain has grown by this
    * many versions since the last OPTIMIZE (every second round). Time
    * travel reads at most `KeepVersions - 1` versions back. */
  val KeepVersions = 3

  /** The table as the ops so far have left it: base rows follow a
    * formula; changed keys keep their history by version. */
  final class Model {
    var version = 2L // CREATE is version 1, the load version 2
    var optimizedAt = 2L
    val changes = mutable.HashMap.empty[Long, List[(Long, Option[(Int, String, Long)])]]
    var nextNew = Rows
    def base(id: Long): Option[(Int, String, Long)] =
      if (id < Rows) Some(((id % 1000).toInt, s"v$id", (id * 7919) % 100000)) else None
    def at(id: Long, v: Long): Option[(Int, String, Long)] =
      changes.get(id).flatMap(_.find(_._1 <= v)).map(_._2).getOrElse(base(id))
    def now(id: Long): Option[(Int, String, Long)] = at(id, version)
    def commit(edits: Seq[(Long, Option[(Int, String, Long)])]): Unit = {
      version += 1
      edits.foreach { case (id, row) =>
        changes(id) = (version, row) :: changes.getOrElse(id, Nil) }
    }
  }

  private var model: Model = _

  /** Creates and loads the table, then runs one warm-up round with each
    * kind of statement once, maintenance included, untimed. */
  def prepare(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    val spark = ctx.spark
    spark.sql(s"CREATE TABLE $Table (id BIGINT, grp INT, v STRING, amt BIGINT) " +
      s"TBLPROPERTIES ('bloomIndexCols'='id', 'keyCols'='id', 'keepVersions'='$KeepVersions')")
    spark.sql(s"INSERT INTO $Table SELECT id, CAST(id % 1000 AS INT), CONCAT('v', id), " +
      s"(id * 7919) % 100000 FROM range(0, $Rows, 1, $Files)")
    model = new Model
    runMix(ctx, new Recorder(None), 1, ctx.seed * 131 + 7, filesInVersion = false, warmUp = true)
    (System.nanoTime() - t0) / 1e9
  }

  def setupStep(ctx: Ctx): Unit =
    ctx.spark.newSession().sql(s"DESCRIBE DETAIL $Table").collect()

  def run(ctx: Ctx, rec: Recorder, phase: Int): Unit = {
    val rounds = math.max(MinRounds, math.round(ctx.seconds / NominalRoundS).toInt)
    runMix(ctx, rec, rounds, ctx.seed * 131 + phase, filesInVersion = rec.traced)
  }

  private def runMix(ctx: Ctx, rec: Recorder, rounds: Int, seed: Long,
                     filesInVersion: Boolean, warmUp: Boolean = false): Unit = {
    val spark = ctx.spark
    val (table, m, rows) = (Table, model, Rows)
    val r = new scala.util.Random(seed)
    def liveKey(): Long = {
      var k = -1L
      while (k < 0 || m.now(k).isEmpty) k = (r.nextDouble() * rows).toLong
      k
    }
    def rowOf(x: Row) = ((x.getInt(1), x.getString(2), x.getLong(3)))
    def expectRow(rows: Array[Row], want: Option[(Int, String, Long)], what: String) =
      if (rows.map(rowOf).toSeq == want.toSeq) None
      else Some(s"$what: got ${rows.map(rowOf).toSeq}, want $want")
    val cols = "id, grp, v, amt"
    for (round <- 1 to rounds) {
      val kinds = if (warmUp) Reads.distinct ++ writes(1) else Reads ++ writes(round)
      for (kind <- r.shuffle(kinds)) kind match {
        case "select" =>
          val k = (r.nextDouble() * (m.nextNew + 10)).toLong
          val want = m.now(k)
          val id = rec.op(kind, write = false)(spark.sql(
            s"SELECT $cols FROM $table WHERE id = $k"))(_.collect())(expectRow(_, want, s"id $k"))
          if (filesInVersion) rec.filesInVersion(id) =
            spark.sql(s"DESCRIBE DETAIL $table").head().getAs[Int]("num_files").toDouble
        case "time_travel" =>
          val changed = m.changes.keys.toIndexedSeq
          val k = if (changed.isEmpty) liveKey() else changed(r.nextInt(changed.size))
          val v = math.max(2L, m.version - r.nextInt(KeepVersions))
          val want = m.at(k, v)
          rec.op(kind, write = false)(spark.sql(
            s"SELECT $cols FROM $table VERSION AS OF $v WHERE id = $k"))(_.collect())(
            expectRow(_, want, s"id $k at version $v"))
        case "history" =>
          val want = m.version
          rec.op(kind, write = false)(spark.sql(s"DESCRIBE HISTORY $table"))(_.collect()) { hs =>
            val last = hs.map(_.getLong(0)).max
            if (last == want) None else Some(s"latest version $last, want $want")
          }
        case "delete" =>
          val ks = Seq.fill(5)(liveKey()).distinct
          rec.op(kind, write = true)(spark.sql(
            s"DELETE FROM $table WHERE id IN (${ks.mkString(",")})"))(_.collect())(_ => None)
          m.commit(ks.map(_ -> None))
        case "update" =>
          val ks = Seq.fill(3)(liveKey()).distinct
          val amt = r.nextInt(100000).toLong
          rec.op(kind, write = true)(spark.sql(
            s"UPDATE $table SET v = 'u$round', amt = $amt WHERE id IN (${ks.mkString(",")})"))(
            _.collect())(_ => None)
          m.commit(ks.map(k => k -> m.now(k).map { case (g, _, _) => (g, s"u$round", amt) }))
        case "merge" =>
          val existing = Seq.fill(MergeKeys * 4 / 5)(liveKey()).distinct
          val fresh = (0 until MergeKeys - existing.size).map(i => m.nextNew + i)
          val src = (existing ++ fresh).map(k => (k, (k % 1000).toInt, s"m$round", k % 977))
          spark.createDataFrame(src).toDF("id", "grp", "v", "amt")
            .createOrReplaceTempView("merge_src")
          rec.op(kind, write = true)(spark.sql(
            s"MERGE INTO $table t USING merge_src s ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt " +
              "WHEN NOT MATCHED THEN INSERT *"))(_.collect())(_ => None)
          m.nextNew += fresh.size
          m.commit(existing.map(k => k -> m.now(k).map { case (g, _, _) => (g, s"m$round", k % 977) }) ++
            fresh.map(k => k -> Some(((k % 1000).toInt, s"m$round", k % 977))))
      }
      if (warmUp || m.version - m.optimizedAt >= KeepVersions) {
        rec.op("optimize", write = true)(spark.sql(s"OPTIMIZE $table"))(_.collect()) { res =>
          val v = res.head.getLong(0)
          if (v == m.version + 1) None else Some(s"OPTIMIZE made version $v, want ${m.version + 1}")
        }
        m.commit(Nil)
        m.optimizedAt = m.version
        rec.op("vacuum", write = true)(spark.sql(s"VACUUM $table"))(_.collect())(_ => None)
      }
    }
  }

  def finalCheck(ctx: Ctx, rec: Recorder): Unit = {
    val m = model
    // the model's totals: base rows, then each changed key's current row
    var n = Rows; var amt = 0L; var grp = 0L; var u = 0L; var merged = 0L
    var id = 0L
    while (id < Rows) { amt += (id * 7919) % 100000; grp += id % 1000; id += 1 }
    for ((k, _) <- m.changes) {
      m.base(k).foreach { case (g, _, a) => n -= 1; amt -= a; grp -= g }
      m.now(k).foreach { case (g, v, a) =>
        n += 1; amt += a; grp += g
        if (v.startsWith("u")) u += 1
        if (v.startsWith("m")) merged += 1
      }
    }
    val want = Seq(n, amt, grp, u, merged)
    rec.checkState("final table") {
      val got = ctx.spark.sql(s"SELECT count(*), sum(amt), sum(grp), " +
        "count_if(v LIKE 'u%'), count_if(v LIKE 'm%') FROM " + Table).head()
      val g = (0 until 5).map(got.getLong)
      if (g == want) None else Some(s"count/sum(amt)/sum(grp)/updated/merged $g, want $want")
    }
  }

  def storeBytes(ctx: Ctx): Long =
    Harness.duBytes(new java.io.File(ctx.work, "catalog/bench"))
}

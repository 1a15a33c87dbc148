package graft

import org.apache.spark.sql.functions._

import graft.sources.WarehouseFs

/** DML micro-benchmark main: the copy-on-write machinery that matters
  * at 100 TB (touched-set resolution, manifest commit, change-feed
  * fold) gets its own numbers in `bench_history.jsonl`, so a regression
  * in any leg shows up as a number instead of a spec timeout.
  *
  * Fixture: `SPARK_GRAFT_DML_ROWS` (default 20 M) rows in 64 range
  * files, bloom- and zone-indexed on the key. Timed legs, each named
  * for the regime it pins:
  *
  *   - `dml_point_delete`   — 3-key delete (driver-probe point regime)
  *   - `dml_scattered_delete_cow` — 3k keys spread across ALL 64 files,
  *                            copy-on-write: the honest full-rewrite
  *                            baseline for the GDPR-erasure shape
  *   - `dml_scattered_delete` — the same shape as a deletion-vector
  *                            commit: two key-column scans + one tiny
  *                            sidecar, ZERO data files written
  *   - `dml_merge_10k`      — 10k-key clustered merge (point regime
  *                            ceiling: key collect + bloom/zone probe)
  *   - `dml_merge_1m`       — 1.2M-key merge (bulk regime: bloom defers
  *                            past MaxBloomProbeKeys → exact key-column
  *                            scan, zero driver key materialization)
  *   - `dml_feed_fold`      — change feed across the merge commit
  *                            (file-granular diff of non-shared files)
  *   - `dml_overwrite_day`  — dynamic partition overwrite of 1 of 32
  *                            partitions on a partitioned twin fixture
  *
  * The whole sequence runs `SPARK_GRAFT_BENCH_REPS` (default 2) times —
  * the fixture REBUILDS per rep, because DML mutates its input, so the
  * per-leg min over reps is the same best-of-reps defense the read
  * bench uses; [[Bench.spreadSuspects]] names starved legs. One JSON
  * line (same shape as the read bench, `"sf":"dml:<rows>"` so
  * [[Bench.priorBest]]'s same-sf filter keeps the histories separate)
  * appends to `bench_history.jsonl`. */
object BenchDml {
  def main(args: Array[String]): Unit = {
    Bench.awaitQuiet() // same quiet gate as the main bench
    val loadBefore = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val rows = sys.env.getOrElse("SPARK_GRAFT_DML_ROWS", "20000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.builder().appName("graft-bench-dml").getOrCreate()

    def timed[T](body: => T): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    /** One full fixture + DML sequence; returns (leg → seconds). */
    def runOnce(): Seq[(String, Double)] = runOnceAt(rows)

    def runOnceAt(rows: Long): Seq[(String, Double)] = {
      val base = java.nio.file.Files.createTempDirectory("graft_dmlbench_")
      val t = s"$base/t"
      val tp = s"$base/tp"
      val keep = 5
      // flat fixture: 64 range files, wide-ish payload, indexed key
      WarehouseFs.publishVersioned(
        spark.range(0, rows, 1, 64).select(col("id"),
          concat(lit("user_"), col("id")).as("user"),
          (col("id") % 997).as("grp"),
          (col("id") * 31 % 10000).cast("double").as("score")),
        t, keepVersions = keep,
        bloomIndexCols = Seq("id"), zoneMapCols = Seq("id"))
      // partitioned twin (32 day partitions) for the overwrite leg
      WarehouseFs.publishVersioned(
        spark.range(0, rows / 4, 1, 32).select(col("id"),
          (col("id") % 32).cast("int").as("day"),
          concat(lit("u"), col("id")).as("user")),
        tp, partitionBy = Seq("day"), keepVersions = keep)

      // untimed settle: one read-through of the fixture lets the OS
      // drain the ~GB of freshly written dirty pages and warms the page
      // cache — without it the FIRST timed leg absorbs the writeback of
      // the build (observed 4-8× inflation on dml_point_delete)
      WarehouseFs.readTable(spark, t).get.count()
      WarehouseFs.readTable(spark, tp).get.count()

      val legs = Seq.newBuilder[(String, Double)]
      legs += "dml_point_delete" -> timed {
        WarehouseFs.deleteWhere(spark, t, "id",
          Seq(rows / 7, rows / 3, rows - 2), keepVersions = keep,
          refreshStats = false)
      }
      // 10k contiguous keys — the point regime at its collect ceiling,
      // clustered so the touched set SHOULD stay small
      val lo10k = rows / 2
      legs += "dml_merge_10k" -> timed {
        WarehouseFs.mergeInto(
          spark.range(lo10k, lo10k + 10000).select(col("id"),
            lit("merged").as("user"), (col("id") % 997).as("grp"),
            lit(0.0).as("score")),
          t, "id", whenMatchedUpdate = Map("user" -> col("src_user")),
          keepVersions = keep, refreshStats = false)
      }
      // 1.2M keys — past MaxBloomProbeKeys: bloom defers, the exact
      // key-column scan resolves the touched set distributively
      val lo1m = rows / 4
      legs += "dml_merge_1m" -> timed {
        WarehouseFs.mergeInto(
          spark.range(lo1m, lo1m + 1200000).select(col("id"),
            lit("bulk").as("user"), (col("id") % 997).as("grp"),
            lit(1.0).as("score")),
          t, "id", whenMatchedUpdate = Map("user" -> col("src_user")),
          whenNotMatchedInsert = false,
          keepVersions = keep, refreshStats = false)
      }
      legs += "dml_feed_fold" -> timed {
        WarehouseFs.changeFeedLatest(spark, t, Seq("id")).get.count()
      }
      // scattered keys — one per ~rows/3000 across ALL 64 range files:
      // CoW must rewrite every file (the honest baseline); the
      // deletion-vector leg commits a sidecar instead. These legs run
      // LAST on the flat fixture: the MoR commit leaves a mask on the
      // table, and running earlier would make every later leg pay DV
      // reconciliation — shifting their meaning vs their own history
      val scatterCow: Seq[Any] =
        (0L until rows by math.max(1L, rows / 3000L)).toVector
      val scatterMor: Seq[Any] =
        (1L until rows by math.max(1L, rows / 3000L)).toVector
      legs += "dml_scattered_delete_cow" -> timed {
        WarehouseFs.deleteWhere(spark, t, "id", scatterCow,
          keepVersions = keep, refreshStats = false)
      }
      legs += "dml_scattered_delete" -> timed {
        WarehouseFs.deleteWhereVectors(spark, t, "id", scatterMor,
          keepVersions = keep)
      }
      // the merge-on-read READ tax: a masked version's DSv2 scan keeps
      // the columnar fast path and drops positions in-scan (GraftDvScan)
      // — this leg prices the whole MoR window for readers, against the
      // same table's aggregate one commit earlier (clean read ≈ this
      // minus the mask). A zone-pruned point read rides along: file
      // pruning must survive the mask.
      legs += "dml_mor_read" -> timed {
        val df = spark.read.format("graft").option("table", t).load()
        df.agg(org.apache.spark.sql.functions.sum("score"),
          org.apache.spark.sql.functions.count(lit(1))).head()
        df.filter(col("id") === (rows / 2 + 11)).count()
      }
      legs += "dml_overwrite_day" -> timed {
        WarehouseFs.overwritePartitions(
          spark.range(0, rows / 128).select(col("id"),
            lit(7).cast("int").as("day"),
            lit("re").as("user")),
          tp, Seq("day"), keepVersions = keep, refreshStats = false)
      }
      WarehouseFs.deleteIfExists(spark, base.toString)
      legs.result()
    }

    // warmup at a tiny row count: codegen/JIT classes are identical
    // across fixture sizes (the read bench's discipline) — without it
    // rep 1 measures the C2 compile queue, not the DML machinery
    // (observed 3× inflation on the first 20M-row sequence)
    runOnceAt(math.min(rows, 200000L))

    val historyPath0 = sys.env.getOrElse("BENCH_HISTORY", "bench_history.jsonl")
    // same end gate as the read bench: best suspect-free quiet DML total
    // in history sets a +10% bar; a hot after-load or a regressed total
    // re-measures once after a cooldown and the better run ships
    def quietHistoryBest(legCount: Int): Option[Double] =
      Bench.quietHistoryBest(historyPath0, "dml_total", s"dml:$rows", legCount)
    def measure(): (Seq[(String, Seq[Double])], Double) = {
      val all: Seq[Seq[(String, Double)]] = (1 to reps).map(_ => runOnce())
      val names = all.head.map(_._1)
      val byLeg: Seq[(String, Seq[Double])] = names.map { n =>
        n -> all.map(_.toMap.apply(n))
      }
      (byLeg, java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage)
    }
    var (byLeg, loadAfter) = measure()
    def totalOf(b: Seq[(String, Seq[Double])]): Double =
      b.map(_._2.min).sum
    val histBest = quietHistoryBest(byLeg.length)
    var regated = 0
    // unlike the read bench, the DML legs SATURATE every core right up
    // to the end — `loadAfter` reflects our own burst, not a tenant, so
    // only the history-regression signal triggers the re-measure here.
    // Up to TWO re-measures (the read-bench rule): one retry under
    // sustained load still ships a noisy number; the best run ships.
    while (!sys.env.get("SPARK_GRAFT_BENCH_NO_ENDGATE").exists(_ == "1") &&
        histBest.exists(h => totalOf(byLeg) > h * 1.10) && regated < 2) {
      Thread.sleep(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_MS", "20000").toLong)
      val (b2, l2) = measure()
      if (totalOf(b2) <= totalOf(byLeg)) { byLeg = b2; loadAfter = l2 }
      regated += 1
    }
    val suspect = Bench.spreadSuspects(byLeg)
    // PER-LEG retry — the read bench's hygiene ported: a leg whose
    // rep-minimum regressed past [[Bench.RegressFactor]] × its own
    // suspect-free history minimum (or that a rep-spread flags as
    // starved) gets one verification pass after a cooldown. DML legs
    // are SEQUENCE-dependent (each mutates the fixture the next reads),
    // so the retry is one extra full sequence covering every candidate
    // at once; the final per-leg value is min(reps, retry) and the
    // `retried` map publishes first-vs-retry provenance — a noisy day
    // no longer ships a noisy leg unexamined. (No pinned priors yet:
    // no DML leg has a known closed-question floor — add to
    // [[Bench.PinnedPrior]]'s DML twin when one appears.)
    val legPrior: Map[String, Double] = Bench.priorBest(
      (try scala.io.Source.fromFile(historyPath0, "UTF-8").getLines().toSeq
       catch { case _: Throwable => Seq.empty })
        .filter(_.contains(s""""sf":"dml:$rows"""")))
    val toRetry =
      if (sys.env.get("SPARK_GRAFT_BENCH_NO_ENDGATE").exists(_ == "1")) Nil
      else Bench.retryCandidates(byLeg, legPrior)
    val retried: Map[String, (Double, Option[Double])] =
      if (toRetry.isEmpty) Map.empty
      else {
        Thread.sleep(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_MS", "20000").toLong)
        val again = runOnce().toMap
        toRetry.map(k =>
          k -> ((byLeg.toMap.apply(k).min, again.get(k)))).toMap
      }

    def r(v: Double) = math.rint(v * 1e4) / 1e4
    val finalTimes = byLeg.map { case (k, ts) =>
      k -> math.min(ts.min,
        retried.get(k).flatMap(_._2).getOrElse(Double.MaxValue)) }
    val qs = finalTimes.map { case (k, t) => s"\"" + k + "\":" + r(t) }
      .mkString("{", ",", "}")
    val raws = byLeg.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(r).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val susp = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retr = retried.toSeq.sortBy(_._1).map { case (k, (first, again)) =>
      s"\"" + k + "\":{\"first\":" + r(first) + ",\"retry\":" +
        again.map(r(_).toString).getOrElse("null") + "}" }
      .mkString("{", ",", "}")
    val total = r(finalTimes.map(_._2).sum)
    val json = s"""{"metric":"dml_total","value":$total,"unit":"sec","queries":$qs,"raw":$raws,"errors":[],"suspect":$susp,"retried":$retr,"load_avg":{"before":${r(loadBefore)},"after":${r(loadAfter)},"cpus":${Runtime.getRuntime.availableProcessors}},"end_gate":{"history_best":${histBest.map(r(_).toString).getOrElse("null")},"remeasured":$regated},"reps":$reps,"sf":"dml:$rows"}"""
    val out = sys.env.getOrElse("BENCH_OUT", "bench_dml_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    try java.nio.file.Files.write(java.nio.file.Paths.get(historyPath0),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}

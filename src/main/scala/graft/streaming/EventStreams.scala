package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8).
  *
  * The reference is a nightly cron batch; its streaming generalization is:
  * file feeds become `readStream` sources with `Trigger.AvailableNow`
  * (replacing cron + the Archive/ ledger with checkpoints), and the
  * event-time operators in QueriesEvents become true watermarked streams.
  * These builders take any DataFrame with (ts: Timestamp, user_id,
  * event_type, value) — batch twins are oracle-checked, the streaming
  * versions are spec-driven through the memory sink.
  *
  * Scale: all stateful ops are keyed by user/window — state is
  * hash-partitioned and bounded by the watermark; nothing accumulates
  * unbounded.
  */
object EventStreams {

  /** Tumbling 10-minute counts/sums per event type with a 30-minute
    * watermark (late data beyond it is dropped and state evicted). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Session windows with a 30-minute gap per user (streaming twin of the
    * batch evt_sessionize query). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
              col("session_window.end").as("sess_end"),
              col("user_id"), col("n_events"))

  /** Event-id dedup within the watermark — the streaming form of the
    * reference's re-delivery tolerance (its anti-join staging pattern). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming NEAR-dup suppression — the cheap online PRE-GATE, not the
    * authoritative dedup: each document is sketched to a 64-bit SimHash
    * over raw tokens (codegen'd) and the stream deduplicates on sketch
    * EQUALITY (Hamming 0) within the watermark, so only textually
    * near-identical documents collapse. State is one (sketch, ts) entry
    * per distinct sketch inside the watermark window, evicted by event
    * time. The authoritative batch paths are MinHash+LSH (measured
    * P/R = 1.0/1.0 vs exact Jaccard) and the shingle-feature
    * `dedup_simhash` — this gate only thins the stream before they run.
    * Input needs (ts: Timestamp, doc_id, text). */
  def nearDupSuppress(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__sketch",
        org.apache.spark.sql.graft.TextHashExpressions.simhash64(
          split(lower(col(textCol)), "\\s+")))
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("__sketch")
      .drop("__sketch")

  /** Watermarked stream-stream interval join: each left-side event pairs
    * with right-side events of the same user that follow it within one
    * hour (the streaming form of the `join_interval_self` batch query and
    * the fraud rule-3 correlation). Both sides carry watermarks and the
    * join condition bounds r_ts relative to l_ts, so Spark can evict join
    * state once the interval is closed — state stays bounded by
    * (watermark + 1 h) per side instead of growing with the stream.
    */
  def intervalJoinWithinHour(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", "2 hours")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
              col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "l_ts", "l_type", "r_ts", "r_type")
  }

  /** Left-outer stream-stream interval join: like
    * [[intervalJoinWithinHour]], but left rows with NO match inside the
    * hour are still emitted (right columns null) once the watermark
    * passes their join window — the "every click, matched to a purchase
    * if one followed" shape. Outer emission requires both watermarks plus
    * the time-range condition so Spark can bound the state and know when
    * an unmatched row is final; state stays keyed by user and evicted at
    * the watermark.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", "2 hours")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
              col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("user_id"), col("l_ts"), col("l_type"),
        col("r_ts"), col("r_type"))
  }

  // --- stateful SCD2-style tracking ------------------------------------

  case class KeyedAttr(key: String, ts: Timestamp, attr: String)
  case class Version(key: String, attr: String,
                     effective_from: Timestamp, effective_to: Option[Timestamp])
  case class TrackState(current: Option[Version])

  /** flatMapGroupsWithState version of the SCD2 close/insert: for each key,
    * emit a closed version whenever the attribute changes — the streaming
    * generalization of the reference's daily close/insert (main.py:129-186).
    * Emits every version (closed ones exactly once; the open one on every
    * update with effective_to = None).
    */
  def scd2Track(events: Dataset[KeyedAttr])
               (implicit spark: SparkSession): Dataset[Version] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[TrackState, Version](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[TrackState]) =>
          var cur = state.getOption.flatMap(_.current)
          val out = scala.collection.mutable.Buffer.empty[Version]
          rows.toSeq.sortBy(_.ts.getTime).foreach { r =>
            cur match {
              case Some(v) if v.attr != r.attr =>
                out += v.copy(effective_to = Some(new Timestamp(r.ts.getTime - 1000)))
                cur = Some(Version(key, r.attr, r.ts, None))
              case Some(_) => // unchanged attribute: no-op (idempotent re-delivery)
              case None =>
                cur = Some(Version(key, r.attr, r.ts, None))
            }
          }
          state.update(TrackState(cur))
          out.iterator
      }
  }

  // --- stateful decayed-engagement tracking ----------------------------

  case class DayCount(user_id: Long, epoch_day: Long, n: Long)
  case class DecayScore(user_id: Long, as_of_day: Long, score_x524288: Long)
  case class DecayState(days: Map[Long, Long])

  /** Streaming twin of the batch `evt_decay_score`: per-user one-day-
    * half-life engagement score over a 20-day horizon, maintained as
    * mapGroupsWithState over (user, day, count) rollup rows (the same
    * upstream shape as the nightly mart). The state is the user's last
    * ≤ 20 active-day counts — a ring the anchor day prunes — so the
    * score is recomputed EXACTLY (Σ n_d << (19−gap), pure integers)
    * rather than shift-decayed (a rolling `score >> gap` leaks truncated
    * remnants of expired days and diverges from the hard 20-day cut).
    *
    * Day counts REPLACE (not add to) state for their day: the upstream
    * rollup emits complete per-day counts, so micro-batch re-delivery
    * after checkpoint recovery is idempotent. Emission is per update
    * with the user's own latest day as anchor (the batch gate anchors at
    * the global max day; parity under per-user anchoring is spec-proven).
    * State is hash-partitioned by user and bounded at 20 longs per user.
    */
  def decayScoreTrack(counts: Dataset[DayCount])
                     (implicit spark: SparkSession): Dataset[DecayScore] = {
    import spark.implicits._
    counts.groupByKey(_.user_id)
      .mapGroupsWithState[DecayState, DecayScore](GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[DecayState]) =>
          val merged = state.getOption.map(_.days).getOrElse(Map.empty[Long, Long]) ++
            rows.map(r => r.epoch_day -> r.n)
          val anchor = merged.keysIterator.max
          val kept = merged.filter { case (d, _) => anchor - d <= 19L }
          state.update(DecayState(kept))
          DecayScore(uid, anchor,
            kept.iterator.map { case (d, n) => n << (19L - (anchor - d)).toInt }.sum)
      }
  }

  /** Stream-static enrichment: left-join the stream against a broadcast
    * dimension (the streaming twin of the reference's dim lookups inside
    * its 5-way view). The static side is re-resolved per micro-batch, so
    * a dim refreshed on disk is picked up without restarting the query;
    * `broadcast` keeps the join map-only — no stream-side shuffle and no
    * state, which is what makes it safe at any stream rate. Rows with no
    * dim match pass through with nulls (left join): an enrichment gap
    * must not drop events.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming upsert sink: every micro-batch merges into a keyed parquet
    * state through [[graft.operators.Scd.scd1Apply]] (snapshot rewrite) —
    * the streaming form of the reference's SCD1 blacklist maintenance.
    * Because scd1Apply is a fixpoint for an already-applied snapshot, a
    * batch re-delivered after checkpoint recovery converges to the same
    * state — the practical exactly-once story for a file-based sink.
    * Returns a writer; caller sets checkpointLocation (which scopes each
    * batch to NEW offsets) and trigger, then starts it. Updates should be
    * unique per key within a batch (e.g. latest-per-key upstream) — with
    * multiple versions of a key in one batch, all survive the merge.
    */
  def upsertSink(updates: DataFrame, statePath: String, key: String,
                 attrs: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val existing =
        if (graft.sources.WarehouseFs.hasData(spark, statePath))
          Some(spark.read.parquet(statePath))
        else None
      // atomic publish: the merge streams old state + batch into
      // <state>.tmp, then renames swap it in — concurrent readers of the
      // state table never observe a partial overwrite (FS-portable, too)
      graft.sources.WarehouseFs.publish(
        graft.operators.Scd.scd1Apply(existing, batch, key, attrs), statePath)
    }

  /** [[upsertSink]] at file granularity: each micro-batch lands through
    * [[graft.sources.WarehouseFs.upsertRows]] on a bloom-indexed
    * VERSIONED table, so per-batch write cost is O(files touched by the
    * batch's keys) instead of the snapshot rewrite's O(state). The
    * 100 TB streaming-upsert shape: a micro-batch touching 100 keys
    * rewrites a handful of files, never the table.
    *
    * With `txnAppId` set, commits are EXACTLY-ONCE (the
    * `writeStream.format("graft")` sink's discipline): each landed batch
    * stamps `txn:<batchId>:<appId>` into its manifest, the floor reads
    * once at stream start ([[graft.sources.WarehouseFs.lastCommittedTxn]])
    * and advances in-process, and a batch replayed after a crash between
    * the manifest commit and the checkpoint commit SKIPS — one image
    * file, one history commit per batch. Use the stream's checkpoint
    * location as the appId (stable across restarts by construction);
    * ONE live writer per (table, appId) — the publish loop's own floor
    * re-check backstops a violated assumption. Without `txnAppId`,
    * replays degrade to value-idempotent at-least-once (re-upserting the
    * same rows replaces keys with identical values; the version counter
    * advances and a duplicate image file lands).
    *
    * The table must exist (bootstrap with
    * `publishVersioned(empty-or-initial, table, bloomIndexCols =
    * Seq(key))`); updates must be unique per key within a batch — a
    * micro-batch repeating a key fails and commits nothing. */
  def upsertSinkCoW(updates: DataFrame, table: String, key: String,
                    keepVersions: Int = 2,
                    txnAppId: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // ONE history scan at stream start, then in-process — the closure is
    // the per-query writer instance, so the memo lives exactly as long
    // as the stream run (the declarative sink's discipline)
    @volatile var txnFloor: Option[Option[Long]] = None
    updates.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val floor: Option[Long] = txnAppId match {
        case Some(app) =>
          if (txnFloor.isEmpty)
            txnFloor = Some(graft.sources.WarehouseFs
              .lastCommittedTxn(spark, table, app))
          txnFloor.get
        case None => None
      }
      if (!floor.exists(_ >= batchId) && !batch.isEmpty) {
        // refreshStats=false: a per-micro-batch O(table) profiling pass
        // would defeat the file-granular sink; prior stats carry forward
        // (slightly stale counts — run a scheduled full publish or
        // compaction to re-profile)
        graft.sources.WarehouseFs.upsertRows(batch, table, key, keepVersions,
          refreshStats = false, txn = txnAppId.map(a => (a, batchId)))
        if (txnAppId.isDefined) txnFloor = Some(Some(batchId))
      }
    }
  }

  /** File-source incremental load: the streaming replacement for the
    * reference's cron + glob + archive loop. `Trigger.AvailableNow`
    * processes everything present, checkpoints, and stops — exactly the
    * nightly batch, minus the hand-rolled ledger. */
  def fileStream(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                 pattern: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(pattern)
}

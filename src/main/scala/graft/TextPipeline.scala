package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnOps, DedupClusters, DedupOps, Sampling}

/** End-to-end training-data curation over a `documents` corpus — the
  * composition the individual §2.9 operators exist for:
  *
  *   1. quality gate (length / punctuation / stopword signals),
  *   2. near-dup clustering (MinHash-LSH pairs → connected components),
  *      keeping one canonical doc per cluster (the minimum id),
  *   3. reproducible train/val/test split (md5-bucket, engine-portable).
  *
  * Every stage is a DataFrame transformation: the quality gate is map-only
  * and pushdown-friendly, dedup shuffles only signatures/band keys/edges,
  * and the split adds no shuffle at all — the whole flow is the same plan
  * shape at 100 TB, just with more partitions.
  *
  * Usage: runMain graft.TextPipeline [sfDir] [outDir]
  */
object TextPipeline {

  /** Quality gate: same signals as the `text_quality_score` query —
    * computed by the one-byte-pass `quality_signals` expression (r16;
    * QualityExprSpec proves bit-equality with the regex forms). */
  def qualityFilter(docs: DataFrame, minScore: Int = 2): DataFrame =
    docs
      .withColumn("q_", org.apache.spark.sql.graft.QualityExpressions
        .quality_signals(col("text")))
      .withColumn("quality_score",
        when(col("q_.n_tokens").between(20, 1000), 1).otherwise(0) +
        when(col("q_.n_punct") * 10 < col("q_.n_tokens"), 1).otherwise(0) +
        when(col("q_.n_the") > 0, 1).otherwise(0))
      .filter(col("quality_score") >= minScore)
      .drop("q_")

  /** The optional SEMANTIC stage of [[curate]]/[[curateIncrement]] —
    * SemDeDup composed into the curation fold (docs that say the same
    * thing, not just share n-grams, collapse into one cluster).
    * `assignCell` adds the coarse-quantizer `cell` column to a
    * (vec_id, embedding, …) relation:
    *
    *   - [[SemanticStage.ivf]] — the trained k-means quantizer
    *     ([[AnnOps.ivfAssign]], map-only). Train ONCE (on a sample at
    *     100 TB), persist with [[AnnOps.ivfSave]], and pass the SAME
    *     model to every batch/incremental run: a fold's parity with the
    *     batch pipeline (TextPipelineSpec) holds only under a fixed
    *     quantizer, exactly like the persisted-index ANN serving path.
    *   - [[SemanticStage.byColumn]] — a pre-existing cell column (the
    *     oracle-checkable surrogate, as in `dedup_semantic`), with
    *     cosine rounded to 6 dp before thresholding so pair membership
    *     is engine-portable.
    */
  final case class SemanticStage(assignCell: DataFrame => DataFrame,
                                 threshold: Double,
                                 subBits: Int = 0,
                                 roundDp: Option[Int] = None)

  object SemanticStage {
    /** `subBits` is the skew defense: a fixed-width SRP sub-split of every
      * cell, applied as a pure per-vector function so the batch and
      * incremental pipelines produce the SAME edge set (the adaptive
      * `maxCellSize` cap of [[AnnOps.semanticDupPairs]] cannot offer that
      * — sub-bucketing driven by observed cell sizes diverges between a
      * prefix fold and the final corpus, silently breaking fold parity —
      * so the stage deliberately does not expose it). */
    def ivf(model: AnnOps.IvfModel, threshold: Double,
            subBits: Int = 0): SemanticStage =
      SemanticStage(df => AnnOps.ivfAssign(df, model), threshold, subBits)

    def byColumn(cellCol: String, threshold: Double): SemanticStage =
      SemanticStage(df => df.withColumn("cell", col(cellCol)), threshold,
        roundDp = Some(6))
  }

  /** Near-dup removal: cluster by MinHash-LSH + connected components and
    * keep one document per cluster — the minimum-id canonical by default,
    * or (keepBest, requires a `quality_score` column such as
    * [[qualityFilter]]'s) the highest-quality member, ties to min id.
    *
    * `semantic` composes SemDeDup into the SAME clustering: lexical
    * (MinHash) and semantic (within-cell cosine) near-dup pairs union
    * into one edge set before connected components, so a chain
    * "A lexdup B semdup C" correctly collapses to one representative —
    * running the stages sequentially would keep two. Docs without an
    * `embedding` (null) participate in the lexical stage only. */
  def dedupCanonical(docs0: DataFrame, jaccard: Double = 0.5,
                     keepBest: Boolean = false,
                     semantic: Option[SemanticStage] = None): DataFrame = {
    // the gated corpus feeds FOUR consumers (lexical pairs, semantic
    // pairs, the label frame, the representative pick); uncached, each
    // re-plans the upstream quality gate's regexp pass — the same
    // replanned-subtree trap minhashNearDups caches its signatures
    // against. Per-query-scoped, LRU-evicted; a 100 TB run persists the
    // gated corpus as a table instead (the incremental state does).
    val docs = docs0.cache()
    val lexPairs = DedupOps.minhashNearDups(docs, "doc_id", "text", jaccard)
      .select("a_id", "b_id")
    val pairs = semantic.fold(lexPairs) { st =>
      val vecs = st.assignCell(docs.filter(col("embedding").isNotNull)
        .withColumnRenamed("doc_id", "vec_id"))
      lexPairs.unionByName(
        AnnOps.semanticDupPairs(vecs, st.threshold, roundDp = st.roundDp,
            subBits = st.subBits)
          .select("a_id", "b_id"))
    }
    val labels = DedupClusters.clusterLabels(docs, "doc_id", pairs)
    if (keepBest)
      DedupClusters.keepBestPerCluster(docs, "doc_id", labels, "quality_score")
    else
      docs.join(labels.filter(col("doc_id") === col("cluster_id"))
                  .select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Full curation: quality gate → one-per-cluster dedup (lexical ∪
    * optional semantic edges, ONE clustering) → split column. keepBest
    * ships each cluster's best-scoring doc instead of the smallest-id
    * one. */
  def curate(docs: DataFrame, keepBest: Boolean = false,
             semantic: Option[SemanticStage] = None): DataFrame =
    Sampling.trainValTestSplit(
      dedupCanonical(qualityFilter(docs), keepBest = keepBest,
        semantic = semantic), "doc_id")

  /** State carried between nightly incremental curation runs — three
    * plain parquet-persistable tables: the MinHash signature store over
    * every quality-gated doc ingested so far, its pre-banded
    * (id, band_idx, band_hash) LSH relation, and the cluster labels.
    * Persist all three after each [[curateIncrement]]; each run then
    * costs O(batch) pairwise work and re-hashes NOTHING — the band rows
    * are derived once when a batch is appended, and the store's `sig`
    * column is never read again (proven by a scan-schema assertion in
    * DedupSpec).
    *
    * `vecs` (present when the fold runs a [[SemanticStage]]) is the
    * assigned-embedding store — (vec_id, embedding, cell) for every
    * gated doc so far, the persisted inverted file a new batch pairs
    * against ([[AnnOps.semanticDupPairsIncrement]]). At 100 TB persist
    * it partitioned by `cell` ([[AnnOps.ivfWriteIndex]] layout) so the
    * nightly cross-pairing reads only the cells the batch lands in. */
  /** A fold's OWN contributions (batch signatures / band rows / assigned
    * vectors) — what [[saveStateDelta]] persists so a nightly fold
    * writes O(batch) state, not O(corpus). Carried on the state by
    * [[curateIncrement]]; absent on loaded or empty states. */
  final case class StateDelta(sigs: DataFrame, bands: DataFrame,
                              vecs: Option[DataFrame])

  final case class CurationState(sigs: DataFrame, bands: DataFrame,
                                 labels: DataFrame,
                                 vecs: Option[DataFrame] = None,
                                 delta: Option[StateDelta] = None) {
    /** The whole store as one delta — the legacy→delta migration step:
      * load the legacy root, then
      * `saveStateDelta(st.asFullDelta, freshRoot, 0)` and fold on under
      * the fresh root. */
    def asFullDelta: CurationState =
      copy(delta = Some(StateDelta(sigs, bands, vecs)))
  }

  def emptyState(spark: SparkSession): CurationState = {
    import spark.implicits._
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val sigs = DedupOps.signatures(none, "doc_id", "text")
    CurationState(sigs, DedupOps.banded(sigs, "doc_id"),
                  none.select(col("doc_id"), col("doc_id").as("cluster_id")))
  }

  private def emptyVecs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "cell")
  }

  /** Persist the state tables under `dir`. NOTE a nightly job whose new
    * state READS from `dir` (the usual fold) must write to a fresh
    * directory or use [[graft.sources.WarehouseFs.publishVersioned]] —
    * overwriting an input mid-read is the classic self-join corruption. */
  /** Persist all three state tables, committed by a SINGLE directory
    * rename: a crash mid-save leaves only a `_tmp_`-prefixed sibling
    * (invisible to [[loadLatestState]], whose listing matches `batch=`
    * names only, and cleaned by the next save of the same batch) — a
    * reader can never observe a torn mix of old and new tables. */
  def saveState(state: CurationState, dir: String): Unit = {
    val spark = state.sigs.sparkSession
    val slash = dir.lastIndexOf('/')
    val tmp = dir.substring(0, slash + 1) + "_tmp_" + dir.substring(slash + 1)
    graft.sources.WarehouseFs.deleteIfExists(spark, tmp)
    state.sigs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/sigs")
    state.bands.write.mode(SaveMode.Overwrite).parquet(s"$tmp/bands")
    state.labels.write.mode(SaveMode.Overwrite).parquet(s"$tmp/labels")
    // cell-partitioned like ivfWriteIndex: the nightly cross-pairing
    // prunes to the batch's cells at the scan. The store's on-disk
    // contract is VecsSchema: `cell` must arrive integral — a string
    // category from a byColumn stage would silently round-trip to null
    // cells and drop every history-side pair, so it fails loudly here —
    // and the load reads back with the explicit schema, which also makes
    // a zero-row save harmless (a dynamically-partitioned empty write
    // emits no part files, so schema inference would throw on reload).
    state.vecs.foreach(writeVecs(_, s"$tmp/vecs"))
    renameInto(spark, tmp, dir)
  }

  /** Cell-partitioned vecs write under the VecsSchema contract: `cell`
    * must arrive integral — a string category would silently round-trip
    * to null cells and drop every history-side pair, so it fails loudly
    * here — and readers come back through the explicit schema, which
    * also makes a zero-row write harmless (a dynamically-partitioned
    * empty write emits no part files for inference to work from). */
  private def writeVecs(v: DataFrame, dir: String): Unit = {
    val cellType = v.schema("cell").dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(cellType),
      s"saveState: vecs.cell must be an integral type, got $cellType — " +
        "a non-numeric cell would silently become null on reload and drop all history pairs")
    v.select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"), col("cell").cast("int"))
      .write.partitionBy("cell")
      .mode(SaveMode.Overwrite).parquet(dir)
  }

  private def renameInto(spark: SparkSession, tmp: String, dir: String): Unit = {
    graft.sources.WarehouseFs.deleteIfExists(spark, dir)
    val (fs, target) = graft.sources.WarehouseFs.fsFor(spark, dir)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), target))
      throw new java.io.IOException(s"saveState: rename $tmp -> $dir failed")
  }

  /** On-disk schema of the vecs store — read back explicitly so a
    * zero-row save (no part files to infer from) still loads, and the
    * partition-discovered `cell` comes back as the int it was written
    * as (saveState validates integrality before writing). */
  private val VecsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType)))

  def loadState(spark: SparkSession, dir: String): CurationState =
    CurationState(
      spark.read.parquet(s"$dir/sigs"),
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/labels"),
      vecs = if (graft.sources.WarehouseFs.listNames(spark, dir).contains("vecs"))
               Some(spark.read.schema(VecsSchema).parquet(s"$dir/vecs")
                 .select("vec_id", "embedding", "cell"))
             else None)

  // explicit delta-store schemas: a fold with zero gated docs writes an
  // empty (part-file-less) delta, so reads can never rely on inference
  private val SigsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("shingles",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
  private val BandsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band_idx",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("band_hash",
      org.apache.spark.sql.types.LongType)))
  private val LabelsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.LongType)))

  /** Persist a fold's state in the DELTA layout — the form whose write
    * cost is O(batch), not O(corpus). [[saveState]] rewrites the whole
    * signature/band/vec store every fold: crash-simple, but at 100 TB
    * each nightly fold becomes a corpus-sized WRITE even though the
    * fold's compute is O(batch). The delta layout splits the state:
    *
    *   - `root/delta=K/{sigs,bands[,vecs]}` — batch K's OWN
    *     contributions ([[CurationState.delta]]), append-only: written
    *     once, never rewritten, never GC'd — their union IS the store;
    *   - `root/batch=N/labels` — the full label table, rewritten per
    *     fold (a new batch can retroactively merge ANY two clusters, so
    *     labels cannot be append-only; at 2 longs per doc they are the
    *     narrow column, so the rewrite is corpus-rows but tiny bytes),
    *     committed by the same single-rename discipline as [[saveState]].
    *
    * Commit protocol: delta=N lands first; the batch=N marker rename is
    * the commit point. A crash in between leaves the latest marker at
    * N−1 and readers ignore deltas beyond the marker; the at-least-once
    * re-delivery then overwrites delta=N with identical content (a pure
    * function of state N−1 and batch N) before re-committing. A state
    * root uses ONE layout — [[loadLatestState]] dispatches on the marker
    * dir's children, so legacy full-state roots keep loading, but do not
    * mix layouts under one root. */
  def saveStateDelta(state: CurationState, root: String, batchId: Long): Unit = {
    val spark = state.sigs.sparkSession
    val d = state.delta.getOrElse(throw new IllegalArgumentException(
      "saveStateDelta: state carries no delta — only curateIncrement outputs are delta-persistable"))
    // layout-mixture guard: a legacy full-state marker under this root
    // means earlier folds' sigs/bands/vecs live ONLY inside marker dirs —
    // writing a delta marker here would make the next load union the
    // (empty-prefix) deltas, silently dropping the whole historical store,
    // and the marker GC would then delete the only full copy. Fail loudly;
    // migration = one legacy load + a full-delta rewrite under a new root.
    graft.sources.WarehouseFs.listNames(spark, root)
      .filter(_.startsWith("batch=")).foreach { m =>
        require(!graft.sources.WarehouseFs.listNames(spark, s"$root/$m").contains("sigs"),
          s"saveStateDelta: $root/$m is a LEGACY full-state dir — mixing layouts would " +
            "silently discard the pre-delta store; migrate by loading the legacy state and " +
            "re-persisting it as delta 0 under a fresh root")
      }
    val deltaDir = s"$root/delta=$batchId"
    d.sigs.write.mode(SaveMode.Overwrite).parquet(s"$deltaDir/sigs")
    d.bands.write.mode(SaveMode.Overwrite).parquet(s"$deltaDir/bands")
    d.vecs.foreach(writeVecs(_, s"$deltaDir/vecs"))
    val tmp = s"$root/_tmp_batch=$batchId"
    graft.sources.WarehouseFs.deleteIfExists(spark, tmp)
    state.labels.write.mode(SaveMode.Overwrite).parquet(s"$tmp/labels")
    renameInto(spark, tmp, s"$root/batch=$batchId")
  }

  /** Latest committed state under `root` strictly before `before`:
    * delta-layout roots union every committed delta under the marker's
    * labels; legacy full-state roots (marker dir contains `sigs`) load
    * as before. */
  private def loadStateBefore(spark: SparkSession, root: String,
                              before: Long): Option[CurationState] = {
    val names = graft.sources.WarehouseFs.listNames(spark, root)
    val markers = names.filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).filter(_ < before)
    if (markers.isEmpty) return None
    val n = markers.max
    val markerDir = s"$root/batch=$n"
    if (graft.sources.WarehouseFs.listNames(spark, markerDir).contains("sigs"))
      return Some(loadState(spark, markerDir)) // legacy full-state layout
    val deltas = names.filter(_.startsWith("delta="))
      .map(_.stripPrefix("delta=").toLong).filter(_ <= n).sorted
    require(deltas.nonEmpty, s"loadState: marker batch=$n but no deltas under $root")
    def paths(sub: String) = deltas.map(k => s"$root/delta=$k/$sub")
    val vecDirs = deltas
      .filter(k => graft.sources.WarehouseFs
        .listNames(spark, s"$root/delta=$k").contains("vecs"))
      .map(k => s"$root/delta=$k/vecs")
    Some(CurationState(
      spark.read.schema(SigsSchema).parquet(paths("sigs"): _*),
      spark.read.schema(BandsSchema).parquet(paths("bands"): _*),
      spark.read.schema(LabelsSchema).parquet(s"$markerDir/labels"),
      vecs = if (vecDirs.isEmpty) None
             else Some(spark.read.schema(VecsSchema).parquet(vecDirs: _*)
               .select("vec_id", "embedding", "cell"))))
  }

  /** Nightly incremental form of [[curate]]: fold one new batch into the
    * state without re-deduplicating the corpus. The batch is quality-
    * gated, paired only against the signature store
    * ([[DedupOps.incrementalNearDups]]), and the new pairs fold into the
    * existing labels ([[DedupClusters.updateClusterLabels]]) — both steps
    * proven equal to their from-scratch counterparts, so folding batches
    * through this function and reading [[curatedFromState]] matches the
    * batch [[curate]] over the whole corpus exactly (TextPipelineSpec).
    *
    * With a [[SemanticStage]] (pass the SAME stage every fold — a fixed,
    * persisted quantizer), each batch additionally pairs semantically
    * against the `vecs` store and the parity extends to
    * `curate(all, semantic = Some(st))` — TextPipelineSpec proves the
    * three-batch fold incl. a state save/load round-trip.
    */
  def curateIncrement(state: CurationState, batch: DataFrame,
                      jaccard: Double = 0.5,
                      semantic: Option[SemanticStage] = None): CurationState = {
    val gated = qualityFilter(batch)
    // ONE signature pass over the batch, reused for pairing, the store
    // append, and the band append (the r5 form computed it twice and
    // stranded a cache per nightly run)
    val batchSigs = DedupOps.signatures(gated, "doc_id", "text")
    val lexPairs = DedupOps
      .incrementalNearDupsBanded(state.sigs.select("doc_id", "shingles"),
        state.bands, batchSigs, "doc_id", jaccard)
      .select("a_id", "b_id")
    // semantic stage: assign the batch's embeddings under the FIXED
    // quantizer, pair against the persisted vec store + within-batch,
    // and fold BOTH edge kinds into the one label table — the same
    // single-clustering semantics as the batch dedupCanonical
    val (newPairs, nextVecs, batchVecsDelta) = semantic match {
      case None => (lexPairs, state.vecs, None)
      case Some(st) =>
        val batchVecs = st.assignCell(gated.filter(col("embedding").isNotNull)
            .withColumnRenamed("doc_id", "vec_id"))
          .select("vec_id", "embedding", "cell")
        val oldVecs = state.vecs.getOrElse(emptyVecs(batch.sparkSession))
        val semPairs = AnnOps.semanticDupPairsIncrement(
            oldVecs, batchVecs, st.threshold, st.roundDp, st.subBits)
          .select("a_id", "b_id")
        (lexPairs.unionByName(semPairs), Some(oldVecs.unionByName(batchVecs)),
          Some(batchVecs))
    }
    val allIds = state.labels.select("doc_id")
      .unionByName(gated.select("doc_id"))
    val batchBands = DedupOps.banded(batchSigs, "doc_id")
    CurationState(
      state.sigs.unionByName(batchSigs),
      state.bands.unionByName(batchBands),
      DedupClusters.updateClusterLabels(allIds, "doc_id", state.labels, newPairs),
      nextVecs,
      delta = Some(StateDelta(batchSigs, batchBands, batchVecsDelta)))
  }

  /** Survivors + split over everything ingested so far. A new doc can
    * retroactively merge two clusters, so survivorship is always re-read
    * from the labels — a semi-join (or one max_by pass for keepBest), no
    * pairwise work. `allDocs` = the union of raw batches (the gate
    * re-applies); both policies match their batch [[curate]] counterpart
    * exactly (TextPipelineSpec). */
  def curatedFromState(state: CurationState, allDocs: DataFrame,
                       keepBest: Boolean = false): DataFrame = {
    val gated = qualityFilter(allDocs)
    val kept =
      if (keepBest)
        DedupClusters.keepBestPerCluster(gated, "doc_id", state.labels, "quality_score")
      else
        gated.join(
          state.labels.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
          Seq("doc_id"), "left_semi")
    Sampling.trainValTestSplit(kept, "doc_id")
  }

  /** Streaming curation — the online form of [[curate]] for documents
    * arriving continuously (schema: ts Timestamp, doc_id, text, …):
    *
    *   1. the same map-only quality gate (stateless, pushdown-friendly);
    *   2. near-dup suppression via the SimHash sketch within the
    *      watermark ([[graft.streaming.EventStreams.nearDupSuppress]]) —
    *      the cheap ONLINE gate whose state is one (sketch, ts) entry per
    *      distinct surviving sketch, watermark-evicted; the batch
    *      MinHash-LSH + connected-components pass in [[curate]] remains
    *      the offline compaction that catches what a sketch equality
    *      can't;
    *   3. the deterministic md5-bucket split — a pure function of doc_id,
    *      so it adds no state and no shuffle, and a document lands in the
    *      SAME split whether it flowed through this stream or the batch
    *      pipeline (replay-stable, engine-portable).
    *
    * Run it with `Trigger.AvailableNow` for the nightly-batch form or a
    * continuous trigger for true streaming; at scale pair with the
    * RocksDB state store (key cardinality = distinct sketches in the
    * watermark). TextPipelineSpec drives it end-to-end on RocksDB with
    * AvailableNow and checks batch/stream split agreement.
    *
    * `evalBloom` (from [[evalShingleBloom]]) adds the stateless
    * decontamination gate in front: benchmark-contaminated docs never
    * enter the curated stream.
    */
  def curateStream(docs: DataFrame,
                   evalBloom: Option[Array[Long]] = None): DataFrame = {
    val decon = evalBloom.map(decontaminateGate(docs, _)).getOrElse(docs)
    Sampling.trainValTestSplit(
      graft.streaming.EventStreams.nearDupSuppress(qualityFilter(decon)), "doc_id")
  }

  /** Decontamination bloom over an eval corpus's word `nGram`-grams —
    * build once per benchmark-suite release, then gate any stream or
    * batch with [[decontaminateGate]]. Eval suites are bounded (millions
    * of shingles), so the driver-side array stays small (`numBits`/8
    * bytes); the aggregation itself is distributed and deterministic. */
  def evalShingleBloom(evalDocs: DataFrame, numBits: Int = 1 << 20,
                       nGram: Int = 8): Array[Long] = {
    import org.apache.spark.sql.graft.BloomExpressions.bloom_build
    evalDocs.select(explode(shingleArray(nGram)).as("shingle"))
      .agg(bloom_build(col("shingle"), numBits).as("bf"))
      .collect()(0).getSeq[Long](0).toArray
  }

  /** Stateless decontamination gate: drop any doc sharing a word
    * `nGram`-gram with the bloomed eval set. MAP-ONLY — an `exists` fold
    * over the doc's own shingle array against the bloom literal: no
    * join, no explode, no state, so it composes into a streaming plan as
    * a plain filter. Error is one-sided the SAFE way round: contaminated
    * docs can never pass (no false negatives); a ~(FP rate ×
    * shingles/doc) sliver of clean docs is over-dropped — the right
    * trade for an online gate, with the exact offline
    * `text_decontaminate` pass remaining authoritative. */
  def decontaminateGate(docs: DataFrame, bloom: Array[Long],
                        nGram: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.BloomExpressions.bloom_might_contain
    docs.filter(!exists(shingleArray(nGram),
      s => bloom_might_contain(typedlit(bloom.toSeq), s)))
  }

  /** Word `n`-gram array of `text` (empty when the doc is shorter). */
  private def shingleArray(n: Int): org.apache.spark.sql.Column = {
    val words = split(col("text"), " ")
    when(size(words) >= n,
        transform(sequence(lit(1), size(words) - lit(n - 1)),
          i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array())
  }

  /** The latest persisted [[CurationState]] under `root` (either
    * layout: [[curateIncrementStream]]'s delta layout, or a legacy
    * full-state batch dir), if any. */
  def loadLatestState(spark: SparkSession, root: String): Option[CurationState] =
    loadStateBefore(spark, root, before = Long.MaxValue)

  /** Nightly driver: fold a STREAM of document batches through
    * [[curateIncrement]], persisting the state per micro-batch. This is
    * the composition [[curateStream]] (the cheap online gate) feeds at
    * scale: the stream delivers batches, each fold costs O(batch)
    * pairwise work against the pre-banded store, and the offline
    * MinHash+CC state stays exact.
    *
    * Crash-safety: foreachBatch is at-least-once — a batch can be
    * re-delivered after a restart — so state for batch N persists through
    * [[saveStateDelta]]'s two-phase layout: the batch's own delta lands
    * first, then the batch=N labels marker rename commits the fold. The
    * marker doubles as the EXACTLY-ONCE replay gate: a re-delivered
    * batch whose marker already exists (crash between the marker rename
    * and the checkpoint commit) skips the whole recompute — no duplicate
    * state bytes, no wasted fold. A crash BEFORE the marker rename
    * re-runs the fold from state N−1, overwriting the half-written
    * delta idempotently (it is a pure function of state N−1 and batch
    * N). Each night WRITES O(batch) delta bytes
    * plus the narrow label table — never the O(corpus) signature store.
    * Superseded label markers older than N−1 are dropped after each
    * commit (N−1 survives because only the latest batch can be
    * re-delivered); delta dirs are the store itself and are never GC'd.
    *
    * Start with `.option("checkpointLocation", …).start()`; read results
    * any time via [[loadLatestState]] + [[curatedFromState]].
    */
  def curateIncrementStream(docs: DataFrame, stateRoot: String,
                            jaccard: Double = 0.5,
                            semantic: Option[SemanticStage] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // replay gate FIRST — the fold's own commit marker IS the txn
      // stamp: a `batch=N` marker under the root means fold N committed
      // and the crash fell between the marker rename and the checkpoint
      // commit. Re-delivery then skips the WHOLE recompute: zero state
      // writes, zero delta rewrites — exactly-once folds at O(1) replay
      // cost, the foreachBatch twin of the graft sink's txn gate.
      // (Marker GC keeps only N−1 and N, and Spark replays only the
      // last un-checkpointed batch, so the listing probe stays O(1).)
      if (!graft.sources.WarehouseFs.listNames(spark, stateRoot)
          .contains(s"batch=$batchId")) {
        val st = loadStateBefore(spark, stateRoot, before = batchId)
          .getOrElse(emptyState(spark))
        val next = curateIncrement(st, batch, jaccard, semantic)
        saveStateDelta(next, stateRoot, batchId)
        graft.sources.WarehouseFs.listNames(spark, stateRoot)
          .filter(_.startsWith("batch="))
          .filter(_.stripPrefix("batch=").toLong < batchId - 1)
          .foreach(n => graft.sources.WarehouseFs
            .deleteIfExists(spark, s"$stateRoot/$n"))
      }
      ()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curated")
    val spark = GraftSession.builder().appName("graft-text-pipeline").getOrCreate()

    val docs = Tables.documents(spark, sfDir)
    val curated = curate(docs).cache()
    curated.write.mode(SaveMode.Overwrite).partitionBy("split").parquet(outDir)
    val total = docs.count()
    val kept = curated.count()
    val bySplit = curated.groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[pipeline] in=$total curated=$kept ($bySplit) -> $outDir")
    spark.stop()
  }
}

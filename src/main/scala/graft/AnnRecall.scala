package graft

import graft.operators.AnnOps

/** Measured ANN quality artifact: recall@10 of each approximate search
  * path against exact brute force, over the embeddings table.
  *
  * Reports, per family, a schedule up to a measured recall@10 ≥ 0.9
  * operating point alongside its cost (fraction of the corpus exactly
  * scored per query):
  *   - SRP-LSH single-table at bits ∈ {8, 12, 16} (± Hamming-1
  *     multi-probe) — kept to show WHY single-table SRP is not a
  *     production mode — plus multi-table OR-amplified SRP
  *     ([[AnnOps.srpMultiTopK]]) at (bits, L) up to (4, 24);
  *   - k-means IVF at cells ∈ {16, 64 (≈√n), 256}, nProbe scaled per
  *     cell count, probing a ONCE-assigned inverted file per model;
  *   - PQ (m=8, k=16 — 32× compression) at rerank ∈ {1 … 64};
  *   - IVF-PQ composite (cells=16, m=8, k=16) over a once-encoded code
  *     table, sweeping (nProbe, rerank) — the probed-IVF recall ceiling
  *     times the ADC retention, at a fraction of either family's scan;
  *   - filtered pre-filter IVF (`ivf_filtered50_*`) against brute force
  *     over the same ~50%-filtered corpus — measures what a metadata
  *     predicate costs in recall at matched probes (≈ nothing here);
  *   - PCA width reduction (`pca_d*`) — exact search in the projected
  *     space vs full-width truth; cost_frac is the width ratio. Flat
  *     i.i.d. spectrum = PCA's worst case (see the caveat below); the
  *     rank-structured upside is spec-pinned in AnnSpec.
  * Recall is computed with the distributed [[AnnOps.recallAt]] semi join
  * (no driver-side sets). Output: one JSON line on stdout plus
  * `ann_recall.json` (or $ANN_OUT).
  *
  * Reading the numbers: the synthetic embeddings are i.i.d. random, i.e.
  * near-orthogonal — the worst case for any locality-sensitive scheme
  * (there is barely any locality to be sensitive to), so the candidate
  * cost a config pays for a given recall here is an UPPER bound on real
  * embedding manifolds. Measured r8 frontier (regenerated with the
  * cells64/256 IVF-PQ sweep): **the production ≥0.9-recall operating
  * points at REALISTIC cell counts now exist measured** —
  * ivfpq_cells64_probe40_rerank64 = 0.928 and probe48 = 0.970, both at
  * 0.32 exact cost while ADC-scanning 0.625/0.75 of the 32×-compressed
  * code table; at cells256, probe128×rerank64 = 0.952 at the same 0.32
  * cost touching only half the codes. Flat PQ rerank64 reaches 0.966 at
  * 0.32 but ADC-scans the WHOLE corpus per query — the composite matches
  * its recall at a fraction of the scan, which is the point of IVF-PQ.
  * The best ≥0.9 SRP point stays bits8×16tables multi-probe at 0.45.
  * Plain IVF needs probed_frac ≈ 0.6 for ≥0.9 here (cells64 probe40:
  * 0.930; cells256 probe96: 0.906) because the i.i.d. corpus has no
  * cluster structure for the quantizer to exploit — on a real manifold
  * the same sweep is where the win appears, and the harness measures
  * rather than assumes it. The trends
  * the spec asserts: multi-probe strictly helps SRP at every bit width,
  * multi-table recall is monotone in L and dominates single-table at
  * equal total bits, and IVF recall climbs with nProbe toward the proven
  * nProbe = nCells == brute-force fixpoint.
  *
  * Usage: runMain graft.AnnRecall [sfDir]
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.builder(cpus).appName("graft-ann-recall").getOrCreate()

    val k = 10
    // the parquet table is one file → one partition; spread it or every
    // sweep below serializes on a single core
    val emb = Tables.embeddings(spark, sfDir).repartition(cpus).cache()
    val queryIds = emb.select("vec_id").orderBy("vec_id").limit(50)
      .collect().map(_.getLong(0)).toSeq
    val truth = AnnOps.bruteForceTopK(emb, queryIds, k).cache()
    truth.count()

    val corpusN = emb.count()
    def r4(v: Double) = math.rint(v * 1e4) / 1e4
    // cost = fraction of the corpus each query exactly scores in the
    // rerank stage — the honest latency knob next to each recall number
    val exactPairs = queryIds.size.toDouble * (corpusN - 1)
    val srp = for {
      bits <- Seq(8, 12, 16)
      multi <- Seq(false, true)
    } yield {
      val rec = AnnOps.recallAt(AnnOps.srpTopK(emb, queryIds, k, bits, multi), truth)
      (s"srp_bits${bits}${if (multi) "_multiprobe" else ""}", r4(rec), None: Option[Double])
    }
    // Multi-table OR-amplified SRP: recall compounds as 1-(1-p^bits)^L.
    // NOTE these embeddings are i.i.d. random (near-orthogonal — the
    // worst case for LSH), so the candidate cost needed for a given
    // recall here is an upper bound on real embedding manifolds.
    // …and multi-probe COMBINED with multi-table: more bits per table
    // (cheaper buckets) with Hamming-1 probes recovering per-table recall
    // — the better cost/recall frontier on this corpus
    val srpMulti = for {
      (bits, tables, mp) <- Seq(
        (4, 4, false), (4, 8, false), (4, 16, false), (4, 24, false),
        (6, 16, false), (6, 32, false), (8, 16, true), (8, 24, true))
    } yield {
      val cand = AnnOps.srpMultiCandidates(emb, queryIds, bits, tables, mp).cache()
      val rec = AnnOps.recallAt(AnnOps.rerankExact(emb, queryIds, k, cand), truth)
      val cost = cand.count() / exactPairs
      cand.unpersist()
      (s"srp_multi_bits${bits}_t$tables${if (mp) "_multiprobe" else ""}",
        r4(rec), Some(r4(cost)))
    }
    // IVF frontier at several cell counts: 16 (the r5 point, kept for
    // continuity), ~√n (what a production index would pick — cost per
    // probe shrinks as 1/cells while the probe count needed for a given
    // recall grows slower), and an over-split 256 to show the knee.
    // Train ONCE per cell count, sweep nProbe against the same model.
    // The upper probe counts (40/48 at cells64, 96-160 at cells256) exist
    // to measure the CANDIDATE CEILING the IVF-PQ composite below is
    // capped by — on this i.i.d. corpus recall tracks the probed
    // fraction, so the ≥0.9 region starts around probed_frac ≈ 0.6.
    // the cells=64 model/assignment are shared with the filtered sweep
    // below (ivfTrain is seeded — retraining would redo identical work)
    val model64 = AnnOps.ivfTrain(emb, 64)
    val assigned64 = AnnOps.ivfAssign(emb, model64).cache()
    val ivf = Seq(
      16 -> Seq(1, 2, 4, 8, 12),
      64 -> Seq(2, 4, 8, 16, 24, 32, 40, 48),
      256 -> Seq(8, 16, 32, 64, 96, 128, 160)).flatMap { case (nCells, probes) =>
      val model = if (nCells == 64) model64 else AnnOps.ivfTrain(emb, nCells)
      // assign ONCE per model (the production shape: the inverted file is
      // persisted with the corpus); the probe sweep reuses it
      val assigned =
        if (nCells == 64) assigned64 else AnnOps.ivfAssign(emb, model).cache()
      val points = probes.map { nProbe =>
        val rec = AnnOps.recallAt(
          AnnOps.ivfTopKAssigned(assigned, model, queryIds, k, nProbe), truth)
        (s"ivf_cells${nCells}_probe$nProbe", r4(rec), Some(r4(nProbe.toDouble / nCells)))
      }
      if (nCells != 64) assigned.unpersist()
      points
    }

    val pqModel = AnnOps.pqTrain(emb, m = 8, k = 16)
    val pq = Seq(1, 4, 16, 32, 48, 64).map { r =>
      val rec = AnnOps.recallAt(AnnOps.pqTopK(emb, queryIds, k, pqModel, r), truth)
      (s"pq_m8_k16_rerank$r", r4(rec), Some(r4(math.min(1.0, r.toDouble * k / corpusN))))
    }

    // FILTERED search operating points: the pre-filter strategy
    // (predicate cuts candidates BEFORE the cell scan) against brute
    // force over the same filtered corpus. A priori the filter could cut
    // recall (fewer survivors per probed cell) — MEASURED, it tracks the
    // unfiltered curve within noise on this corpus (probe40: 0.938
    // filtered vs 0.930 plain), because the truth set shrinks with the
    // candidates; the raise-nProbe remedy is for far more selective
    // predicates than this 50% one.
    val filterPred = org.apache.spark.sql.functions.col("label") % 2 === 0
    val fEmb = emb.filter(filterPred).cache()
    val fQueries = fEmb.select("vec_id").orderBy("vec_id").limit(50)
      .collect().map(_.getLong(0)).toSeq
    val fTruth = AnnOps.bruteForceTopK(fEmb, fQueries, k).cache()
    fTruth.count()
    val filtered = Seq(8, 16, 24, 32, 40, 48).map { p =>
      val rec = AnnOps.recallAt(
        AnnOps.ivfTopKFilteredAssigned(assigned64, model64, fQueries, k, p,
          filterPred), fTruth)
      (s"ivf_filtered50_cells64_probe$p", r4(rec), Some(r4(p / 64.0)))
    }
    assigned64.unpersist()
    fEmb.unpersist(); fTruth.unpersist()

    // PCA width reduction: project ONCE (map-only), search EXACTLY in the
    // reduced space — recall lost only to the discarded variance, while
    // every per-query exact score costs outDim/inDim of a full-width
    // multiply (that ratio is the reported cost_frac). On this i.i.d.
    // corpus the spectrum is flat (variance spreads evenly across all 64
    // axes — the PCA worst case, mirroring the LSH caveat above), so
    // these recalls are lower bounds on real, low-effective-rank
    // embedding manifolds.
    val pca = Seq(8, 16, 32, 48).map { dOut =>
      val model = AnnOps.pcaTrain(emb, dOut)
      val proj = AnnOps.pcaProject(emb, model).cache()
      val rec = AnnOps.recallAt(AnnOps.bruteForceTopK(proj, queryIds, k), truth)
      proj.unpersist()
      (s"pca_d$dOut", r4(rec), Some(r4(dOut.toDouble / model.inDim)))
    }

    // IVF-PQ composite at cells ∈ {16, 64 (≈√n), 256}: encode ONCE per
    // cell count (the persisted inverted file of PQ codes), sweep
    // (nProbe, rerank) against the same code table. The reported
    // cost_frac is the exact-rerank fraction (comparable to the PQ
    // rows); the ADC scan additionally touches ~nProbe/nCells of the
    // 32×-compressed codes — published separately as scan_frac (bytes
    // touched as a fraction of one UNCOMPRESSED corpus pass is
    // scan_frac/32). The realistic-geometry target rows live at cells64:
    // the composite's recall is (IVF candidate ceiling at nProbe) ×
    // (ADC+rerank retention ≈ 0.99 at rerank·k ≥ 64·10 on this corpus),
    // so the probe counts extend into the ≥0.9-ceiling region measured
    // by the plain-IVF sweep above.
    val ivfpq = Seq(
      16 -> Seq((2, 8), (4, 8), (4, 16), (8, 16), (8, 32), (12, 32), (12, 64)),
      64 -> Seq((16, 32), (24, 64), (32, 64), (40, 64), (48, 64), (48, 70)),
      256 -> Seq((64, 64), (96, 64), (128, 64), (160, 64), (160, 70)))
      .flatMap { case (nCells, points) =>
        val model = AnnOps.ivfPqTrain(emb, nCells = nCells, m = 8, k = 16)
        val codes = AnnOps.ivfPqEncode(emb, model).cache()
        val rows = points.map { case (nProbe, rr) =>
          val rec = AnnOps.recallAt(
            AnnOps.ivfPqTopK(emb, model, queryIds, k, nProbe, rr, Some(codes)),
            truth)
          (s"ivfpq_cells${nCells}_probe${nProbe}_rerank$rr", r4(rec),
            Some(r4(math.min(1.0, rr.toDouble * k / corpusN))),
            Some(r4(nProbe.toDouble / nCells)))
        }
        codes.unpersist()
        rows
      }

    val all = srp.map { case (n, v, c) => (n, v, c, None: Option[Double]) } ++
      srpMulti.map { case (n, v, c) => (n, v, c, None) } ++
      ivf.map { case (n, v, c) => (n, v, c, None) } ++
      pq.map { case (n, v, c) => (n, v, c, Some(1.0)) } ++
      filtered.map { case (n, v, c) => (n, v, c, None) } ++
      pca.map { case (n, v, c) => (n, v, c, None) } ++
      ivfpq
    val entries = all.map { case (n, v, _, _) => s"\"$n\":$v" }.mkString(",")
    val costs = all.collect { case (n, _, Some(c), _) => s"\"$n\":$c" }.mkString(",")
    val scans = all.collect { case (n, _, _, Some(s)) => s"\"$n\":$s" }.mkString(",")
    val json =
      s"""{"metric":"ann_recall_at_$k","queries":${queryIds.size},"corpus":$corpusN,"sf":"$sfDir","recall":{$entries},"cost_frac":{$costs},"scan_frac":{$scans}}"""
    println(json)
    val out = sys.env.getOrElse("ANN_OUT", "ann_recall.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling curve: t(scaled)/t(base) for the registry's most
  * expensive queries, measured on a `Factor`× replica of the base scale
  * factor — the evidence behind every "this plan survives a scale-up"
  * claim (plan-shape arguments predict the exponent; this artifact
  * measures it).
  *
  * The replica multiplies DATA while preserving DISTRIBUTION — naive
  * row duplication would be wrong twice over (same-key duplicates turn
  * every join/group 10× denser, and exact text copies turn the dedup
  * corpus into one giant near-dup cluster). Instead each replica k is a
  * disjoint, structure-preserving image of the original:
  *
  *   - entity keys shift by k·10^9 (order/part/supp/cust/doc/vec/user/
  *     event ids), so every join stays within its replica and per-key
  *     group sizes are unchanged; shared small dims (region, nation —
  *     device-count-sized at any corpus scale) stay fixed like a real
  *     warehouse's reference data;
  *   - document text is salted per replica (words of length ≥ 4 get a
  *     replica suffix — a token bijection, so within-replica shingle
  *     overlap is EXACTLY preserved, while cross-replica trigrams share
  *     at most stopwords → no spurious near-dup pairs; token counts and
  *     the `\bthe\b`/punctuation quality signals are untouched);
  *   - embeddings rotate their dimensions by k positions (cosine is
  *     invariant under a common permutation → within-replica similarity
  *     structure exact; a rotated copy of an i.i.d. vector decorrelates
  *     → no cross-replica semantic dups), and the IVF surrogate `label`
  *     shifts per replica — cells grow WITH the corpus, which is how a
  *     production index scales (a fixed cell count would measure the
  *     known quadratic within-cell blowup, not the engine).
  *
  * Timing: best-of-`reps` per query per side after a small-SF JIT warm
  * pass (same discipline as [[Bench]]). Queries whose ratio exceeds
  * `Factor × SuperLinearSlack` are flagged `superlinear` — the artifact
  * names them instead of hiding them in a total. [[Bench]] embeds the
  * resulting ratio map into its own artifact line when SCALING.json is
  * present.
  *
  * Usage: runMain graft.Scaling [baseSfDir] → SCALING.json
  *   SPARK_GRAFT_SCALE_FACTOR (default 10), SPARK_GRAFT_SCALED_DIR
  *   (default /tmp/graft_scaled_sf) control the replica.
  */
object Scaling {
  val KeyShift = 1000000000L
  val SuperLinearSlack = 1.5

  /** The registry's most expensive queries by cross-round history (best
    * quiet minutes), plus one representative per shuffle-heavy operator
    * family (window, aggregation, as-of join, sessionization, gap fill,
    * sequence packing) so the curve covers every plan shape the engine
    * leans on — not just the dedup compositions that top the cost list. */
  val TopQueries: Seq[String] = Seq(
    "curate_semantic", "dedup_keep_best", "text_crossdoc_dup",
    "dedup_clusters", "dedup_semantic", "graph_pagerank_types",
    "join_basket_pairs", "sql_shipping_priority", "sql_recursive_cte",
    "dedup_simhash", "text_repeated_spans", "text_strip_repeated",
    "join_asof", "win_count_distinct", "agg_pricing_summary",
    "evt_sessionize", "evt_gapfill_days", "text_pack_sequences")

  /** Write a `factor`× distribution-preserving replica of `src` into
    * `dst` (layout-compatible: same parquet file names, so every
    * `SparkEntry.queries` entry runs against it unchanged). */
  def buildReplica(spark: SparkSession, src: String, dst: String,
                   factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // rotation by k ∈ [1, factor-1] must never be the identity (k = dim
    // would make a replica an exact vector-level copy of replica 0 —
    // cross-replica semantic dups, the self-inflicted skew the replica
    // exists to avoid) nor run past the array (k > dim) — so the bound
    // is the ACTUAL embedding dimension, read from the data
    val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    require(factor >= 1 && factor <= dim,
      s"buildReplica: factor $factor must be <= embedding dim $dim (dimension rotation)")
    def write(df: DataFrame, t: String) =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    def shiftCols(df: DataFrame, k: Int, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * KeyShift)))
    def reps(t: String, cols: Seq[String],
             extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit =
      write((0 until factor).map { k =>
        val base = read(t)
        if (k == 0) base else extra(shiftCols(base, k, cols), k)
      }.reduce(_ unionByName _), t)

    // shared reference dims stay fixed — real warehouses don't grow the
    // country list with the fact table
    write(read("region"), "region")
    write(read("nation"), "nation")
    reps("customer", Seq("c_custkey"))
    reps("supplier", Seq("s_suppkey"))
    reps("part", Seq("p_partkey"))
    reps("orders", Seq("o_orderkey", "o_custkey"))
    reps("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    reps("events", Seq("event_id", "user_id"))
    reps("documents", Seq("doc_id"), (df, k) => df
      .withColumn("text", concat_ws(" ", expr(
        s"transform(split(text, ' '), w -> IF(length(w) >= 4, concat(w, '_r$k'), w))")))
      .withColumn("n_chars", length(col("text")).cast("long")))
    reps("embeddings", Seq("vec_id"), (df, k) => df
      .withColumn("label", col("label") + lit(k * 1000))
      .withColumn("embedding", expr(
        s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), slice(embedding, 1, $k))")))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR", "/tmp/graft_scaled_sf")
    val spark = GraftSession.builder().appName("graft-scaling").getOrCreate()

    // the marker's CONTENT (base + factor) is validated, not just its
    // existence: a replica built from a different base or factor is
    // rebuilt, never silently reused (stale reuse would mis-scale every
    // ratio while the artifact claims the requested factor)
    val marker = new java.io.File(s"$scaledDir/_REPLICA_MARKER")
    val stamp = s"base=$baseDir factor=$factor"
    val current = if (marker.exists())
      Some(new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8"))
    else None
    if (!current.contains(stamp)) {
      println(s"[scaling] building ${factor}x replica of $baseDir at $scaledDir")
      if (marker.exists()) marker.delete()
      buildReplica(spark, baseDir, scaledDir, factor)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes("UTF-8"))
    }

    val queries = TopQueries.flatMap(q => SparkEntry.queries.get(q).map(q -> _))
    // JIT warm pass on the smallest SF (codegen classes depend on plan
    // shape, not volume) so neither side's timing pays the C2 queue
    val warmDir = Seq("/root/testdata/sf0.001", baseDir)
      .find(p => new java.io.File(p).isDirectory).getOrElse(baseDir)
    queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    def time(fn: (SparkSession, String) => DataFrame, dir: String): Option[Double] =
      (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }.minOption

    def r4(v: Double) = math.rint(v * 1e4) / 1e4
    val rows = queries.flatMap { case (name, fn) =>
      for (b <- time(fn, baseDir); s <- time(fn, scaledDir))
        yield (name, r4(b), r4(s), r4(s / b))
    }
    val superlinear = rows.collect {
      case (n, _, _, ratio) if ratio > factor * SuperLinearSlack => n }
    val qjson = rows.map { case (n, b, s, r) =>
      s""""$n":{"t_base":$b,"t_scaled":$s,"ratio":$r}""" }.mkString(",")
    val sl = superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"scaling_curve","factor":$factor,"base_sf":"$baseDir","reps":$reps,"queries":{$qjson},"superlinear":$sl}"""
    println(json)
    val out = sys.env.getOrElse("SCALING_OUT", "SCALING.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Join strategies whose whole point is the 100 TB case: bucketed
  * co-located joins (no shuffle at read time) and salted joins (no
  * straggler on skewed keys). At test SF these are exercised through their
  * physical plans (ScaleJoinsSpec asserts the Exchange disappears / the
  * salt reaches the shuffle keys) — the data is small, but the plan is the
  * contract that scales.
  */
object ScaleJoins {

  /** Write `df` as a bucketed, optionally sort-ordered table. Bucket
    * metadata lives in the catalog, so this must be `saveAsTable` (a plain
    * `.parquet(path)` write silently drops bucketing). Joins and
    * aggregations keyed on `key` between tables bucketed the same way plan
    * with ZERO Exchange operators — at 100 TB that deletes the dominant
    * cost of every fact-fact join (the reference's Oracle schema gets the
    * same effect from index-organized tables; this is the Spark-native
    * form).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Inner equi-join of two same-bucketed tables — reads both sides
    * bucket-aligned; with bucketing enabled the plan is a SortMergeJoin
    * with no shuffle on either side. */
  def bucketedJoin(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.join(right, Seq(key))

  /** Compact a parquet directory to approximately `targetMB`-sized files.
    * Long-running ingestion (like the daily-append transactions fact)
    * accumulates small files; at 100 TB the resulting task-per-tiny-file
    * scheduling and NameNode/listing pressure dominate scan cost. This
    * sizes via FileSystem metadata (one recursive listing, no scan),
    * repartitions to ceil(bytes / target), and publishes atomically
    * through [[graft.sources.WarehouseFs.publish]]: the table streams
    * straight from old files to new files into `<dir>.tmp`, then two
    * metadata renames swap it in — readers see either the old or the new
    * layout, never a half-written directory, on local FS and HDFS/S3 alike.
    * Returns the new partition count.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetMB: Int = 128, keepVersions: Int = 2): Int = {
    // follow the table's publish flavor: a manifest-committed table
    // compacts its CURRENT version dir and commits a new version (no
    // directory rename — the object-store-safe path); a plain table goes
    // through the rename-swap publish
    val current = graft.sources.WarehouseFs.currentVersion(spark, dir)
    val dataDir = current.map(_._2).getOrElse(dir)
    // resolved-version bytes: a copy-on-write version spans dirs, and
    // the table root also holds retained OLD versions — size from the
    // manifest's own file set, not a directory walk
    val bytes = graft.sources.WarehouseFs.currentVersionBytes(spark, dir)
      .getOrElse(graft.sources.WarehouseFs.parquetBytes(spark, dataDir))
    val parts = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    // a Hive-layout table (key=value subdirs) must keep its layout — and
    // its partition pruning — through compaction: detect partition columns
    // from directory names and re-write partitioned, clustering rows by
    // partition key so each output file stays within one partition
    val partCols = graft.sources.WarehouseFs.listNames(spark, dataDir)
      .filter(_.contains("=")).map(_.takeWhile(_ != '=')).distinct
    // readTable resolves the manifest's file list (carried files live
    // outside dataDir) — compaction is also how a long DML chain folds
    // back into one full-publish version
    val df = current match {
      case Some(_) =>
        // a tracked table's fold must carry row IDENTITY through the
        // rewrite: read with the stable id materialized into the hidden
        // carrier column, which the fold then stores physically — the
        // keyless change feed sees an OPTIMIZE as a no-op, not as a
        // whole-table delete+insert
        if (graft.sources.WarehouseFs.isRowTracked(spark, dir))
          graft.sources.WarehouseFs.readWithRowId(spark, dir).get
            .withColumnRenamed("_row_id", graft.sources.WarehouseFs.RowIdCol)
        else graft.sources.WarehouseFs.readTable(spark, dir).get
      case None => spark.read.parquet(dataDir)
    }
    val compacted =
      if (partCols.isEmpty) df.repartition(parts)
      else df.repartition(parts, partCols.map(col): _*)
    if (current.isDefined) {
      // preserve the version's metadata through the rewrite: shedding the
      // bloom index here would silently turn every later DML's touched
      // set back into "all files" and point lookups into full scans
      val (bloomCols, zoneCols, hasStats) =
        graft.sources.WarehouseFs.versionMetadata(spark, dir)
      // compare-and-swap on the version this compaction READ: a DML that
      // commits between our read and this publish would otherwise be
      // silently reverted by a rebuild of the older snapshot
      graft.sources.WarehouseFs.publishVersioned(compacted, dir,
        partitionBy = partCols, keepVersions = keepVersions,
        collectStats = hasStats,
        bloomIndexCols = bloomCols, zoneMapCols = zoneCols,
        expectedVersion = current.map(_._1), op = "optimize")
    } else
      graft.sources.WarehouseFs.publish(compacted, dir, partitionBy = partCols)
    parts
  }

  /** Point-in-interval (range) join WITHOUT an equi key: `facts.p ∈
    * [intervals.lo, intervals.hi)`. Spark plans a raw non-equi join as a
    * BroadcastNestedLoopJoin — O(|facts|·|intervals|). Bucketizing both
    * sides by `width` manufactures an equi key: a fact belongs to exactly
    * ONE bucket, an interval explodes to every bucket it covers, so each
    * matching pair meets exactly once (no dedup needed) and Catalyst gets
    * a plain hash join on the bucket. Residual containment filters within
    * the bucket. Pick `width` near the typical interval length: cost is
    * |intervals|·(len/width) replicated rows vs per-bucket fan-in.
    *
    * Point and bounds are non-negative numerics (epoch-µs timestamps,
    * day numbers) — `DIV` bucketing is floor division only for ≥ 0.
    */
  def pointInIntervalJoin(facts: DataFrame, pCol: String,
                          intervals: DataFrame, loCol: String, hiCol: String,
                          width: Long): DataFrame = {
    require(width > 0)
    val f = facts.withColumn("__bkt", expr(s"$pCol DIV ${width}L"))
    val iv = intervals.withColumn("__bkt",
      explode(expr(s"sequence($loCol DIV ${width}L, ($hiCol - 1) DIV ${width}L)")))
    f.join(iv, Seq("__bkt"))
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("__bkt")
  }

  /** Write `df` clustered along a 2-D Z-order curve over two numeric
    * columns: each column is min/max-scaled into 16 bits, the bits are
    * interleaved (codegen'd [[org.apache.spark.sql.graft.ZOrderExpressions.ZOrder2]]),
    * and rows are range-partitioned + sorted by the Morton code into
    * `files` output files. Each file then covers a small RECTANGLE of the
    * (a, b) space, so parquet min/max stats prune the scan on filters
    * against EITHER column — single-column sorting gives that for one
    * dimension only. The min/max pre-pass is one tiny agg; at 100 TB use
    * known static bounds or a sampled quantile sketch instead (the scale
    * mapping only needs to be monotone, not exact).
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    files: Int): Unit =
    zOrderCluster(df, col(colA), col(colB), files)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The layout core of [[writeZOrdered]], usable with arbitrary numeric
    * key EXPRESSIONS and any writer: returns `df` clustered along the
    * Morton curve (range-partitioned into `files` partitions, sorted
    * within each), with the helper columns dropped. EtlPipeline publishes
    * the result atomically over the source directory (in-place
    * recluster); writeZOrdered writes it to a fresh path. Note the second
    * key owns the top interleaved bit, so it dominates file ranges
    * slightly — put the more selective / more queried key second. */
  def zOrderCluster(df: DataFrame, a: Column, b: Column, files: Int): DataFrame = {
    import org.apache.spark.sql.graft.ZOrderExpressions.z_order2
    require(files > 0)
    val tagged = df.withColumn("__za", a.cast("double"))
      .withColumn("__zb", b.cast("double"))
    val mm = tagged.agg(min(col("__za")), max(col("__za")),
                        min(col("__zb")), max(col("__zb"))).head()
    def scale(c: String, lo: Double, hi: Double) = {
      val w = if (hi > lo) hi - lo else 1.0
      least(((col(c) - lo) / w * 65535.0).cast("long"), lit(65535L))
    }
    tagged.withColumn("__z", z_order2(
        scale("__za", mm.getDouble(0), mm.getDouble(1)),
        scale("__zb", mm.getDouble(2), mm.getDouble(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__za", "__zb")
  }

  /** N-dimensional [[zOrderCluster]]: cluster along the Morton curve of
    * 2–8 numeric keys. Each added dimension halves per-dimension rank
    * resolution (64/k bits — at k = 4 that is 65536 distinct ranks per
    * key, still far beyond any practical file count), so skipping
    * quality degrades gracefully rather than collapsing; cluster on the
    * few columns queries actually filter by. Same single min/max pass,
    * same range-partition + in-partition sort shape.
    *
    * `withinPartitionsOf`: for a Hive-layout table, cluster WITHIN the
    * named partition columns instead of globally — rows shuffle by the
    * partition key (each output file stays inside one partition dir, as
    * the layout requires) and sort by (partition key, Morton code), so
    * per-file min/max stay tight per partition. */
  def zOrderClusterN(df: DataFrame, keys: Seq[Column], files: Int,
                     withinPartitionsOf: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graft.ZOrderExpressions.z_ordern
    require(files > 0 && keys.size >= 2 && keys.size <= 8)
    val bits = 64 / keys.size
    val maxRank = (1L << bits) - 1
    val tagged = keys.zipWithIndex.foldLeft(df) { case (d, (k, i)) =>
      d.withColumn(s"__zk$i", k.cast("double"))
    }
    val mmCols = keys.indices.flatMap(i =>
      Seq(min(col(s"__zk$i")), max(col(s"__zk$i"))))
    val mm = tagged.agg(mmCols.head, mmCols.tail: _*).head()
    val scaled = keys.indices.map { i =>
      val (lo, hi) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
      val w = if (hi > lo) hi - lo else 1.0
      least(((col(s"__zk$i") - lo) / w * maxRank).cast("long"), lit(maxRank))
    }
    val zd = tagged.withColumn("__z", z_ordern(scaled: _*))
    val shaped =
      if (withinPartitionsOf.isEmpty)
        zd.repartitionByRange(files, col("__z")).sortWithinPartitions("__z")
      else
        zd.repartition(files, withinPartitionsOf.map(col): _*)
          .sortWithinPartitions(withinPartitionsOf.map(col) :+ col("__z"): _*)
    shaped.drop("__z" +: keys.indices.map(i => s"__zk$i"): _*)
  }

  /** `OPTIMIZE … ZORDER BY` core: rewrite the CURRENT version of a
    * versioned table re-CLUSTERED along the Morton curve of `zCols`,
    * size-targeted like [[compactParquet]], with the bloom index
    * preserved and zone maps REBUILT to cover `zCols` (plus whatever
    * was mapped before — [[graft.sources.WarehouseFs.publishVersioned]]
    * derives them fresh from the new files, which is the point: a
    * DML-heavy chain scatters rows until per-file min/max ranges span
    * the domain and zone pruning stops paying; re-clustering makes the
    * maps selective again). Hive layouts keep their partition dirs
    * (rows cluster within partitions); one ZORDER column degrades to a
    * plain range-sort. CAS-pinned against concurrent DML. Returns the
    * target file count. */
  def zOrderCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
                    zCols: Seq[String], targetMB: Int = 128,
                    keepVersions: Int = 2): Int = {
    import graft.sources.WarehouseFs
    require(zCols.nonEmpty, "zOrderCompact: ZORDER BY needs ≥ 1 column")
    val current = WarehouseFs.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"zOrderCompact: $dir is not a versioned table"))
    val bytes = WarehouseFs.currentVersionBytes(spark, dir).getOrElse(0L)
    val parts = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    // identity survives the re-clustering on tracked tables (see
    // [[compactParquet]])
    val df =
      (if (WarehouseFs.isRowTracked(spark, dir))
        WarehouseFs.readWithRowId(spark, dir)
          .map(_.withColumnRenamed("_row_id", WarehouseFs.RowIdCol))
       else WarehouseFs.readTable(spark, dir)).getOrElse(
        throw new IllegalStateException(s"zOrderCompact: $dir vanished"))
    val partCols = WarehouseFs.layoutPartitionCols(spark, dir)
    val unknown = zCols.filterNot(df.columns.contains)
    require(unknown.isEmpty,
      s"zOrderCompact: unknown ZORDER column(s) ${unknown.mkString(", ")}")
    require(zCols.intersect(partCols).isEmpty,
      s"zOrderCompact: ${zCols.intersect(partCols).mkString(", ")} are " +
        "partition columns — already clustered by the directory layout")
    val keys = zCols.map { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c)
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => unix_timestamp(col(c))
        case other => throw new UnsupportedOperationException(
          s"zOrderCompact: $c is $other — ZORDER BY takes numeric, date " +
            "or timestamp columns")
      }
    }
    val clustered =
      if (keys.size == 1) {
        // one dimension: the Morton curve degenerates to a plain sort
        val shaped =
          if (partCols.isEmpty) df.repartitionByRange(parts, keys.head)
          else df.repartition(parts, partCols.map(col): _*)
        shaped.sortWithinPartitions(partCols.map(col) :+ keys.head: _*)
      } else zOrderClusterN(df, keys, parts, withinPartitionsOf = partCols)
    // preserve the version's metadata through the rewrite; zone maps
    // EXTEND to the zorder columns — they are exactly the ones range
    // queries will prune by from now on
    val (bloomCols, zoneCols, hasStats) = WarehouseFs.versionMetadata(spark, dir)
    WarehouseFs.publishVersioned(clustered, dir, partitionBy = partCols,
      keepVersions = keepVersions,
      collectStats = hasStats, bloomIndexCols = bloomCols,
      zoneMapCols = (zoneCols ++ zCols).distinct,
      expectedVersion = Some(current._1), op = "optimize")
    parts
  }

  /** Interval self-join with a power-user guard. The J9 shape — equi on a
    * key with a ±window residual — is quadratic PER KEY: a key with n rows
    * in the window produces O(n²) pairs, so one bot/power user can turn a
    * healthy stage into a single straggler task emitting billions of rows.
    * The guard splits by activity first (one cheap keyed count):
    * keys with ≤ `maxPerKey` rows take the pairwise join (work bounded by
    * |keys|·cap²); hotter keys are EXCLUDED from the pairwise path and
    * returned as a side output (key, n_rows) for the caller to route to a
    * linear rewrite (sessionize-style lag/lead), a sample, or a block.
    *
    * Returns (pairs, hotKeys). Pair columns are the input's, prefixed
    * `a_`/`b_`; pairs are ordered (a_<tsCol> ≤ b_<tsCol>, ties broken by
    * requiring distinct rows via strict ts or unequal id is the caller's
    * filter). The hot-key relation is at most |rows|/cap keys, so it
    * broadcasts back into the anti-join instead of reshuffling the fact.
    */
  def intervalSelfJoinCapped(df: DataFrame, keyCol: String, tsCol: String,
                             window: Long, maxPerKey: Int): (DataFrame, DataFrame) = {
    require(window >= 0 && maxPerKey > 0)
    val hot = df.groupBy(keyCol).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > maxPerKey)
    val cold = df.join(broadcast(hot.select(keyCol)), Seq(keyCol), "left_anti")
    def side(p: String) =
      cold.select(cold.columns.map(c => col(c).as(s"${p}_$c")).toSeq: _*)
    val pairs = side("a").join(side("b"),
      col(s"a_$keyCol") === col(s"b_$keyCol") &&
        col(s"b_$tsCol") >= col(s"a_$tsCol") &&
        col(s"b_$tsCol") <= col(s"a_$tsCol") + window)
    (pairs, hot)
  }

  /** Salted inner equi-join for skewed keys. A hot key (one city, one
    * null-ish default, one power user) sends all its rows to one reducer
    * and the stage runs at the speed of that straggler. Salting scatters
    * the fact across `salt` sub-keys (deterministically, by row hash) and
    * replicates the dimension `salt`× — the hot key's rows now spread over
    * `salt` reducers. Exactly equivalent to `fact.join(dim, key)` for
    * inner joins (dim replication × fact scatter meet exactly once per
    * original pair; ScaleJoinsSpec proves equality on a 90 %-skewed
    * fixture).
    *
    * Use when the skew is known ahead of time; for unknown skew AQE's
    * runtime skew-join split (spark.sql.adaptive.skewJoin.enabled) is the
    * first line of defense — salting remains the fix when one key exceeds
    * what a single in-memory partition can ever hold.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 salt: Int): DataFrame = {
    require(salt > 0)
    val sf = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col).toSeq: _*), lit(salt)))
    // sequence(0, n) yields int elements — same type as pmod(hash, salt)
    val sd = dim.withColumn("__salt", explode(expr(s"sequence(0, ${salt - 1})")))
    sf.join(sd, Seq(key, "__salt")).drop("__salt")
  }
}

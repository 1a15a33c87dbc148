package graft.sources

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Warehouse filesystem operations through the Hadoop `FileSystem` API.
  *
  * The reference engine manages its warehouse with local-disk calls
  * (main.py:544-572 — glob, os.rename into Archive/). At 100 TB the
  * warehouse lives on HDFS/S3/GCS, where `java.io.File` paths simply do
  * not exist; every state probe, feed listing and snapshot swap must go
  * through `org.apache.hadoop.fs.FileSystem`, which resolves the scheme
  * per-path (file://, hdfs://, s3a://) from the Spark session's Hadoop
  * configuration. On a local run these helpers degrade to the local
  * filesystem — same behavior, portable API.
  *
  * The other half is the snapshot-rewrite discipline: `SaveMode.Overwrite`
  * onto a live table is delete-then-write, so a concurrent reader can see
  * a half-written table for the whole duration of the job. [[publish]]
  * replaces that window with two metadata-only renames: write the full new
  * state to `<table>.tmp` (the job streams old files → new files, no
  * checkpoint materialization), then `rename(table, table.old)` +
  * `rename(table.tmp, table)`. A reader now sees the complete old table,
  * or the complete new table, or (for the microseconds between the two
  * renames) a fail-fast missing path — never partial data. If the write
  * fails, the live table is untouched.
  */
object WarehouseFs {

  /** Resolve the `FileSystem` owning `path` from the session's Hadoop conf
    * (scheme-aware: file://, hdfs://, s3a://…). */
  def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Child entry names of `dir` (not recursive), sorted; empty if absent.
    * One `listStatus` RPC — no scan, no collect. */
  def listNames(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  /** Does `dir` exist and contain at least one data entry (ignoring
    * `_SUCCESS`-style markers and hidden files)? The "has this table been
    * loaded yet" probe — pure namenode metadata, no file reads. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsFor(spark, dir)
    fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
  }

  /** Total bytes of the visible `.parquet` files under `dir` (recursive,
    * [[parquetFilesUnder]]). Drives compaction sizing. */
  def parquetBytes(spark: SparkSession, dir: String): Long = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) 0L else parquetFilesUnder(fs, p, p).map(_._2).sum
  }

  /** The visible `.parquet` files below `dir` as (path relative to
    * `root`, length), sorted by path — one recursive listing through the
    * FileSystem's remote iterator, so object stores page it. Spark's
    * hidden-path rule (`InMemoryFileIndex.shouldFilterOutPathName`): a
    * path SEGMENT below `root` that starts with `.`, or with `_` and
    * holds no `=`, is invisible (a `_temporary` / `.spark-staging`
    * leftover of a crashed write, a sidecar dir), as `spark.read.parquet`
    * would skip it; a `_p=1` partition dir is data and stays visible. */
  private def parquetFilesUnder(fs: FileSystem, root: Path,
                                dir: Path): Seq[(String, Long)] = {
    val rootLen = fs.makeQualified(root).toUri.getPath.stripSuffix("/").length + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = fs.makeQualified(st.getPath).toUri.getPath.drop(rootLen)
      if (rel.endsWith(".parquet") && !rel.split('/').exists(s =>
            s.startsWith(".") || (s.startsWith("_") && !s.contains('='))))
        out += ((rel, st.getLen))
    }
    out.sortBy(_._1).toSeq
  }

  /** Delete `path` recursively if present. */
  def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    // a dropped-and-recreated table may reuse (path, version) pairs and
    // data-dir names — the one staleness hazard of the read-side memos
    invalidateReadMemos(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Atomically publish `df` as the new content of `target` (parquet).
    *
    * Steps: (1) write the complete new state to `<target>.tmp` — the only
    * long-running phase, and the live table is untouched throughout (a
    * failure here leaves the old table fully readable); (2) rename the old
    * table aside; (3) rename tmp into place; (4) drop the old copy.
    * Renames are metadata-only on HDFS (and directory moves locally), so
    * the non-readable window is two namenode operations, not a job
    * duration. Leftover `.tmp`/`.old` from a previous crash are cleared
    * first, making the publish idempotent under retry.
    *
    * Because the new state is written to a sibling path, `df` may read
    * from `target` itself (the SCD snapshot-rewrite pattern): the job
    * streams old files to new files with no `localCheckpoint`
    * materialization of the intermediate table.
    */
  def publish(df: DataFrame, target: String,
              partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val (fs, tgt) = fsFor(spark, target)
    val tmp = new Path(target + ".tmp")
    val old = new Path(target + ".old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    if (fs.exists(tgt))
      require(fs.rename(tgt, old), s"publish: rename $tgt -> $old failed")
    require(fs.rename(tmp, tgt), s"publish: rename $tmp -> $tgt failed")
    if (fs.exists(old)) fs.delete(old, true)
    ()
  }

  // ---- manifest-committed (pointer-file) publish ----------------------
  //
  // [[publish]] assumes a directory rename is a metadata operation. True
  // on HDFS and local filesystems; FALSE on S3A, where "rename" is a
  // client-side copy+delete of every object — O(data), non-atomic, and a
  // concurrent reader can observe the half-copied directory. The manifest
  // layout never renames data at all:
  //
  //   table/
  //     _versions/00000001    <- manifest file: a `files:` list
  //     _versions/00000002       (the format comment below)
  //     v00000001/part-*.parquet     <- immutable version dirs
  //     v00000002/part-*.parquet
  //
  // A writer streams the new state into a FRESH version dir, then
  // commits by materializing one new small manifest file under its
  // final `_versions/NNNNNNNN` name through [[commitManifest]] — the
  // compare-and-set primitive below. Readers list `_versions` (one
  // RPC), take the highest committed name, and read the files that
  // manifest lists. A crash before the manifest commit leaves only orphans
  // readers never look at — the pointer can never reference incomplete
  // data — and the next publish reuses/garbage-collects them. Two
  // concurrent publishers race on the same manifest name; the loser's
  // commit reports the CAS loss instead of silently clobbering
  // (optimistic concurrency, the same discipline as a transaction-log
  // commit).

  private def versionsDir(table: Path) = new Path(table, "_versions")
  private def vname(n: Long) = f"$n%08d"
  private val ManifestName = "^\\d{8}$".r

  // ---- the manifest-commit primitive (a true compare-and-set) ----------
  //
  // Every commit in this file funnels through [[commitManifest]]:
  // atomically publish the COMPLETE manifest body under its final name
  // iff nothing is committed there, answering honestly WHOSE body is the
  // committed one. "Write a dot-tmp, check the destination is free,
  // rename" is NOT that primitive everywhere: HDFS rejects a rename onto
  // an existing destination server-side (a true CAS), but POSIX
  // rename(2) — and with it Hadoop's RawLocal/Local file systems —
  // silently REPLACES the destination and returns true, and S3A's
  // "rename" is a client-side copy behind a non-atomic existence check.
  // Two writers that both pass the optimistic exists-check before either
  // publishes would BOTH report success while the second clobbered the
  // first's manifest — a lost update, the one failure the optimistic-
  // concurrency tier above this exists to prevent. The guard dispatches:
  //
  //   file://  — stage the body in a dot-tmp, then hard-LINK it to the
  //              final name: link(2) fails with EEXIST atomically in the
  //              kernel, and a successful link makes the destination
  //              appear with its complete content (no torn-read window).
  //              The tmp unlinks either way.
  //   others   — dot-tmp (attempt-unique name) + rename — on HDFS a
  //              server-side atomic no-replace, the canonical
  //              transaction-log commit — then read the final manifest
  //              BACK and require it byte-identical to what this writer
  //              staged. On a store whose rename replaces, the read-back
  //              converts a replaced writer's silent success into a
  //              detected CAS loss (it narrows the window to the
  //              rename→read-back gap rather than closing it); a store
  //              with no atomic no-replace primitive at all should
  //              install a [[ConditionalPutCommitGuard]], which closes
  //              the window at the store itself.

  trait ManifestCommitGuard {
    /** Atomically publish `body` at `dest` iff `dest` does not exist.
      * True exactly when THIS writer's body is the committed one; false
      * is a CAS loss. Must never replace an existing `dest` and never
      * leave a torn or partial `dest` visible to a reader. */
    def commit(fs: FileSystem, dest: Path, body: Array[Byte]): Boolean
  }

  private[graft] object HadoopCommitGuard extends ManifestCommitGuard {
    override def commit(fs: FileSystem, dest: Path,
                        body: Array[Byte]): Boolean = {
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      if (fs.getScheme == "file") {
        import java.nio.file.{FileAlreadyExistsException, Files, Paths}
        val destNio = Paths.get(fs.makeQualified(dest).toUri)
        val tmpNio = destNio.resolveSibling(s".tmp-${dest.getName}-$nonce")
        Files.createDirectories(destNio.getParent)
        Files.write(tmpNio, body)
        try { Files.createLink(destNio, tmpNio); true }
        catch { case _: FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmpNio)
      } else {
        // KNOWN object stores have no atomic no-replace rename at all
        // (S3A "renames" by client-side copy): the dot-tmp + rename +
        // read-back below would only NARROW their lost-update window.
        // Refuse loudly and name the fix — silent near-correctness is
        // the one thing a commit primitive must never offer.
        require(!ObjectStoreSchemes(fs.getScheme),
          s"graft commit: the default commit guard cannot guarantee a " +
            s"compare-and-set on '${fs.getScheme}://' — install a " +
            "ConditionalPutCommitGuard (conditional create / " +
            "If-None-Match) via WarehouseFs.commitGuard for object-store " +
            "warehouses")
        if (fs.exists(dest)) return false
        val tmp = new Path(dest.getParent, s".tmp-${dest.getName}-$nonce")
        val out = fs.create(tmp, true)
        try out.write(body) finally out.close()
        if (!fs.rename(tmp, dest)) { fs.delete(tmp, false); false }
        else {
          val in = fs.open(dest)
          val got =
            try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
            finally in.close()
          java.util.Arrays.equals(got, body)
        }
      }
    }

    /** Schemes whose "rename" is a non-atomic client-side copy — the
      * default guard refuses these rather than pretending. */
    private[graft] val ObjectStoreSchemes: Set[String] =
      Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "cosn",
        // ADLS Gen2 renames atomically ONLY under a hierarchical
        // namespace, which the scheme alone cannot prove — refuse by
        // default; an HNS deployment installs its own rename guard
        // knowingly
        "abfs", "abfss")
  }

  /** [[ManifestCommitGuard]] over an object store's conditional create
    * (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`, an ABFS ETag
    * precondition): `putIfAbsent(uri, body)` must atomically create the
    * FULL object iff absent and answer whether THIS call created it —
    * the store arbitrates, so there is no tmp object and no window at
    * all. The production adapter wires the store SDK's conditional PUT;
    * the contract spec drives a fake store through the same seam. */
  final class ConditionalPutCommitGuard(
      putIfAbsent: (String, Array[Byte]) => Boolean)
      extends ManifestCommitGuard {
    override def commit(fs: FileSystem, dest: Path,
                        body: Array[Byte]): Boolean =
      putIfAbsent(fs.makeQualified(dest).toUri.toString, body)
  }

  /** The installed commit primitive — swap for an object-store
    * deployment (or a spec's fake store). */
  @volatile private[graft] var commitGuard: ManifestCommitGuard =
    HadoopCommitGuard

  /** Deployment entry point: install the commit primitive an object-
    * store warehouse needs (see [[ObjectStoreCommit]] for reference
    * adapters) — once per JVM, before the first commit. */
  def installCommitGuard(g: ManifestCommitGuard): Unit = commitGuard = g

  /** [[casTestHook]]'s sibling seam: fires ONCE inside
    * [[commitManifest]], AFTER every caller's optimistic exists-check
    * and BEFORE the atomic publish — the sub-millisecond window where a
    * naive exists+rename pair loses updates. A spec installs a
    * competing committer here to prove the PRIMITIVE, not the check,
    * arbitrates: two racers can never both report success. */
  private val casWindowHookRef = new AtomicReference[Option[() => Unit]](None)
  private[graft] def casWindowHook: Option[() => Unit] = casWindowHookRef.get
  private[graft] def casWindowHook_=(h: Option[() => Unit]): Unit =
    casWindowHookRef.set(h)
  private def fireCasWindowHook(): Unit =
    casWindowHookRef.getAndSet(None).foreach(_())

  private def commitManifest(fs: FileSystem, dest: Path,
                             body: String): Boolean = {
    fireCasWindowHook()
    commitGuard.commit(fs, dest, body.getBytes("UTF-8"))
  }

  // Every `_versions/NNNNNNNN` pointer file is a FILE LIST: first line
  // "files:v00000003" (the version's OWN data dir, where its written
  // files and its _stats/_index/_zones entries live), optionally one
  // "partcols:a,b" header (the table's LOGICAL partition columns —
  // survives an empty state whose flat schema file encodes no layout),
  // then one TABLE-ROOT-RELATIVE file path per line. A full publish lists
  // the files it just wrote into its own dir; a copy-on-write, restore or
  // CONVERT version may reference PRIOR version dirs (or the table root),
  // which is what makes DML O(touched files): untouched files are carried
  // by reference. The manifest alone names the version's files — no
  // reader lists a data dir. A body without a leading `files:` line
  // (empty, or the pre-file-list single dir name) refuses loudly.
  // A `ts:<epochMillis>` header line carries the COMMIT INSTANT, written
  // at seal time. Time-travel resolution (`TIMESTAMP AS OF`, DESCRIBE
  // HISTORY) prefers it over the manifest file's modification time:
  // mtime equals the commit instant only on the filesystem the writer
  // sealed on, and a distcp / backup-restore / object-store migration
  // rewrites mtimes — silently shifting every historical timestamp.
  // Manifests without it fall back to mtime. Header lines never collide
  // with content: file paths start with their version dir.
  // A third header class, `dv:<root-relative sidecar parquet>`, lists the
  // version's deletion-vector DELTA files BY REFERENCE — the same
  // economics as the data-file list: each merge-on-read commit writes
  // only its OWN (file, pos) entries and carries every prior delta by
  // reference, so n scattered deletes cost O(own rows) sidecar I/O each
  // instead of an O(accumulated) single-task rewrite per commit. The
  // version's mask is exactly the union of the listed deltas; entries
  // whose data file has since been rewritten are harmless (retired file
  // names never recur, so they match nothing) and OPTIMIZE drops them at
  // the fold. No `dv:` line means no mask.
  // A fourth header class carries ROW TRACKING (opt-in via the
  // `rowTracking` table property): `ridwm:<watermark>` plus one
  // `rid:<base>:<root-relative file>` line per file. A row's STABLE id
  // is `base(file) + row_index` for files written plainly, or the
  // physically-stored `_graft_row_id` column for files a tracked CoW
  // rewrite produced (the rewrite materializes survivors' ids so the
  // identity survives the move; inserted rows store null and derive
  // from the new file's base). Bases are allocated below the watermark
  // once and carried forever; the watermark only grows. This is what
  // lets a KEYLESS table serve change feeds, streaming reads, and
  // replica maintenance — the diff keys on `_row_id` instead of
  // declared key columns.
  private final case class ResolvedVersion(version: Long, dirName: String,
                                           files: Seq[String],
                                           declaredPartCols: Seq[String] = Nil,
                                           commitTsMillis: Option[Long] = None,
                                           dvFiles: Seq[String] = Nil,
                                           op: Option[String] = None,
                                           txn: Option[(String, Long)] = None,
                                           rowIdBases: Map[String, Long] = Map.empty,
                                           rowIdWm: Option[Long] = None) {
    def rowTracked: Boolean = rowIdWm.isDefined
    /** Does every listed file lie in this version's own nonce-free
      * `vNNNNNNNN/` dir? Only a full publish ([[publishVersioned]])
      * writes such a version: its metadata was derived from exactly
      * these files. Restore, CONVERT, copy-on-write and mask versions
      * carry files by reference or write attempt-unique dirs. */
    def ownsAllFiles: Boolean =
      files.nonEmpty && !dirName.contains('-') &&
        files.forall(_.startsWith(dirName + "/"))
  }

  private def readManifest(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def parseManifest(table: Path, version: Long,
                            content: String): ResolvedVersion = {
    val all = content.split("\n").map(_.trim).filter(_.nonEmpty)
    val ts = all.find(_.startsWith("ts:"))
      .flatMap(_.stripPrefix("ts:").toLongOption)
    val dvRefs = all.filter(_.startsWith("dv:"))
      .map(_.stripPrefix("dv:")).toSeq
    // `op:` — the committing verb ("full", "append", "delete", …): the
    // DESCRIBE HISTORY provenance RESTORE navigates by.
    val op = all.find(_.startsWith("op:"))
      .map(_.stripPrefix("op:").trim).filter(_.nonEmpty)
    // `txn:<batchId>:<appId>` — the idempotent-writer stamp (Delta's
    // txnAppId/txnVersion shape): a streaming sink marks each landed
    // micro-batch with its durable identity, and a batch replayed after
    // a crash between the manifest commit and the checkpoint commit is
    // SKIPPED instead of re-run (exactly-once commits, not
    // at-least-once). batchId leads so appIds may contain ':' (they are
    // usually checkpoint paths).
    val txn = all.find(_.startsWith("txn:")).flatMap { l =>
      val v = l.stripPrefix("txn:")
      val cut = v.indexOf(':')
      if (cut <= 0) None
      else v.take(cut).toLongOption.map(b => (v.drop(cut + 1), b))
    }
    // `ridwm:` + `rid:<base>:<file>` — row-tracking bases (see the
    // format comment at [[ResolvedVersion]])
    val ridWm = all.find(_.startsWith("ridwm:"))
      .flatMap(_.stripPrefix("ridwm:").toLongOption)
    val ridBases: Map[String, Long] = all.iterator
      .filter(_.startsWith("rid:")).flatMap { l =>
        val v = l.stripPrefix("rid:")
        val cut = v.indexOf(':')
        if (cut <= 0) None
        else v.take(cut).toLongOption.map(b => (v.drop(cut + 1), b))
      }.toMap
    val lines = all.filterNot(l =>
      l.startsWith("ts:") || l.startsWith("dv:") || l.startsWith("op:") ||
        l.startsWith("txn:") || l.startsWith("ridwm:") || l.startsWith("rid:"))
    val where = s"manifest ${vname(version)} of $table"
    if (lines.isEmpty)
      throw new IllegalStateException(s"$where is empty — no files: line")
    // no in-place migration: every publish parses the current and the
    // retained manifests, so the way out is a new table path
    if (!lines.head.startsWith("files:"))
      throw new IllegalStateException(
        s"$where is not a file list (first line '${lines.head}', the " +
          "retired one-dir format); this table cannot be read or " +
          "re-published in place — read its data dir with " +
          s"spark.read.parquet(\"$table/${lines.head}\") and publish that " +
          "to a new table path")
    val partCols = lines.tail.headOption.filter(_.startsWith("partcols:"))
      .map(_.stripPrefix("partcols:").split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val fileLines = lines.tail.dropWhile(_.startsWith("partcols:"))
    ResolvedVersion(version, lines.head.stripPrefix("files:"),
      fileLines.toSeq, partCols, ts, dvRefs, op, txn, ridBases, ridWm)
  }

  /** Every data-dir name a manifest keeps alive: its own dir plus each
    * referenced file's version dir. */
  private def referencedDirs(r: ResolvedVersion): Set[String] =
    Set(r.dirName) ++ r.files.map(f => f.takeWhile(_ != '/'))

  // Committed manifests are IMMUTABLE (tmp → rename, never rewritten in
  // place), so their parses memoize per (qualified table, version) —
  // the same argument and the same invalidation point (deleteIfExists,
  // the drop-recreate choke) as the deletion-vector presence cache.
  // Existence is still checked per call: GC deletes expired manifests,
  // and a cached parse must never resurrect a vacuumed version.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), ResolvedVersion]()

  private def resolveVersion(spark: SparkSession, table: String,
                             version: Option[Long]): Option[ResolvedVersion] = {
    val (fs, t) = fsFor(spark, table)
    val vd = versionsDir(t)
    if (!fs.exists(vd)) return None
    val v = version match {
      case Some(v0) => Some(v0).filter(v1 => fs.exists(new Path(vd, vname(v1))))
      case None =>
        val committed = fs.listStatus(vd).map(_.getPath.getName)
          .filter(n => ManifestName.matches(n))
        if (committed.isEmpty) None else Some(committed.max.toLong)
    }
    v.map { v0 =>
      val key = (fs.makeQualified(t).toString, v0)
      val cached = manifestCache.get(key)
      if (cached != null) cached
      else {
        if (manifestCache.size() > 16384) manifestCache.clear()
        val r = parseManifest(t, v0, readManifest(fs, new Path(vd, vname(v0))))
        manifestCache.put(key, r)
        r
      }
    }
  }

  /** The DataFrame of a resolved version: its listed files (spanning
    * version dirs) under its mask. Reads reconcile against the DECLARED
    * schema when one exists ([[alterAddColumns]]): files written before
    * an additive evolution surface the added columns as NULL. */
  private def readResolved(spark: SparkSession, table: String,
                           r: ResolvedVersion): DataFrame =
    readFilesGroupedDv(spark, table, r.files, r)

  /** [[readResolved]] WITHOUT the deletion-vector mask — for callers
    * that only need the physical schema (identical masked or not) and
    * must not pay the mask's metadata probe on every call. */
  private def readResolvedRaw(spark: SparkSession, table: String,
                              r: ResolvedVersion): DataFrame =
    readFilesGrouped(spark, table, r.files)

  // ---- read-side metadata memos ----------------------------------------
  //
  // Committed data is immutable, so what a read derives from it memoizes
  // like the manifest parses above.
  //
  // DATA SCHEMA per committed data dir. One dir is written by one job
  // with one schema and never rewritten once a manifest references it;
  // without the memo every read of every file group runs a parquet
  // schema-inference job (a footer read) during planning. Keyed by the
  // qualified dir, its modification time (a dir deleted and written
  // again under the same name — a table dropped and re-created at its
  // path, even by another JVM — misses) and the session confs that
  // change what parquet inference returns. Only the data columns
  // memoize: partition columns are still inferred from each read's own
  // paths, and [[reconcileTo]] still applies the declared schema after
  // the read. Pre-conversion files at the table root are not a data dir
  // and keep inference.
  //
  // BLOOM INDEX ENTRIES: each `_index/<dir>` entry collects once onto the
  // driver as (file, b_<col> bitsets, __utc), keyed by the qualified
  // entry dir plus the name, length and mtime of its part files from ONE
  // `listStatus`. An entry changes only by a swap that writes a new part
  // file ([[swapInEntry]], [[invalidateBloomColumn]]), so a swap — in this
  // JVM or another — misses, and a stale bitset can never turn into a
  // bloom false negative. Point probes then run on the driver
  // ([[probeBloomEntry]]) without a Spark job.
  //
  // Both are bounded and cleared with the caches above at
  // [[invalidateReadMemos]], the drop/recreate choke point.

  private val dataSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), org.apache.spark.sql.types.StructType]()

  /** The session confs that change the schema parquet inference returns. */
  private def parquetInferenceConfs(spark: SparkSession): String = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.legacyParquetNanosAsLong, c.parquetInferTimestampNTZEnabled,
      c.caseSensitiveAnalysis).map(b => if (b) '1' else '0').mkString
  }

  /** Read `paths` (the dir itself, or files below it) of the committed
    * data dir `dir`, with `dir` as `basePath` so Hive `key=value`
    * segments below it surface as partition columns. The dir's data
    * schema comes from the memo, so only the dir's first read runs an
    * inference job; that read memoizes what Spark inferred. Index and
    * zone-map entry dirs qualify too: each is written by one job, and a
    * rebuild swaps a new dir in under the name. */
  private def readDataDir(spark: SparkSession, dir: String,
                          paths: Seq[String]): DataFrame = {
    val (fs, d) = fsFor(spark, dir)
    val key =
      try Some((fs.makeQualified(d).toString,
        fs.getFileStatus(d).getModificationTime, parquetInferenceConfs(spark)))
      catch { case _: java.io.FileNotFoundException => None }
    val reader = spark.read.option("basePath", dir)
    key.flatMap(k => Option(dataSchemaMemo.get(k))) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None =>
        val df = reader.parquet(paths: _*)
        for (k <- key; s <- inferredDataSchema(df)) {
          if (dataSchemaMemo.size() > 16384) dataSchemaMemo.clear()
          dataSchemaMemo.put(k, s)
        }
        df
    }
  }

  /** The data schema (partition columns excluded) Spark inferred for a
    * plain parquet read. None when a file column shares a partition
    * column's name: a user-specified schema would move that column. */
  private def inferredDataSchema(df: DataFrame)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect {
        case h: HadoopFsRelation if {
            val parts = h.partitionSchema.fieldNames.map(_.toLowerCase).toSet
            !h.dataSchema.fieldNames.exists(n => parts.contains(n.toLowerCase))
          } => h.dataSchema
      }
  }

  /** One bloom index entry as collected onto the driver: per-file
    * bitsets by `b_<col>` name, row-aligned with `files`. */
  private final case class BloomEntry(
      files: Array[String],
      bitsets: Map[String, Array[org.apache.spark.sql.catalyst.util.ArrayData]],
      utc: Boolean,
      bytes: Long,
      schema: org.apache.spark.sql.types.StructType)

  private val bloomEntryMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), BloomEntry]()

  /** Entries whose part files hold more than this many bytes are not
    * collected: they probe as a Spark job, as before (a 10k-file
    * version's index is ~160 MB). The memo as a whole holds at most
    * twice this. */
  private val BloomEntryMemoMaxBytes: Long = 32L << 20

  /** The files named by the bloom index entry `idx` whose bitset over
    * the PHYSICAL column `physCol` might hold one of `values`. Values
    * canonicalize exactly as [[bloomHitExpr]] does ([[bloomProbeStrings]]);
    * a memoized entry probes on the driver, with no Spark job. None =
    * no entry, no bitsets for the column, or a value that cannot
    * canonicalize — the caller reads everything. */
  private def probeBloomEntry(spark: SparkSession, fs: FileSystem, idx: Path,
                              physCol: String, values: Seq[Any],
                              colType: => Option[org.apache.spark.sql.types.DataType])
      : Option[Seq[String]] = {
    val parts = bloomEntryParts(fs, idx).getOrElse(return None)
    if (parts.isEmpty) None
    else if (parts.map(_.getLen).sum > BloomEntryMemoMaxBytes) {
      val index = spark.read.parquet(idx.toString)
      if (!index.columns.contains(s"b_$physCol")) None
      else bloomHitExpr(spark, physCol, values, colType,
          index.columns.contains("__utc")).map(hit =>
        index.filter(hit).select("file").collect().map(_.getString(0)).toSeq)
    } else {
      val entry = bloomEntry(spark, fs, idx, parts)
      entry.bitsets.get(s"b_$physCol").flatMap { bits =>
        bloomProbeStrings(spark, values, colType, entry.utc).map { probes =>
          val items = probes.map(org.apache.spark.unsafe.types.UTF8String.fromString)
          entry.files.indices.filter { i =>
            // a null bitset proves nothing: keep the file
            bits(i) == null || items.exists(p =>
              org.apache.spark.sql.graft.BloomExpressions
                .mightContain(bits(i), p, BloomIndexHashes))
          }.map(entry.files(_))
        }
      }
    }
  }

  /** The part files of the bloom entry `idx`; None when it is absent. */
  private def bloomEntryParts(fs: FileSystem, idx: Path)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] =
    try Some(fs.listStatus(idx).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq)
    catch { case _: java.io.FileNotFoundException => None }

  /** The memo key of the entry `idx` whose part files are `parts`: a
    * rewritten entry has other names, sizes or times, so a new key. */
  private def bloomEntryKey(fs: FileSystem, idx: Path,
                            parts: Seq[org.apache.hadoop.fs.FileStatus]): (String, String) =
    (fs.makeQualified(idx).toString,
      parts.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("/"))

  /** The memoized entry of `idx`, whose part files are `parts`; a miss
    * reads exactly those files, with `schema` when the caller knows it
    * (no inference job). */
  private def bloomEntry(spark: SparkSession, fs: FileSystem, idx: Path,
                         parts: Seq[org.apache.hadoop.fs.FileStatus],
                         schema: Option[org.apache.spark.sql.types.StructType] = None)
      : BloomEntry = {
    val key = bloomEntryKey(fs, idx, parts)
    val hit = bloomEntryMemo.get(key)
    if (hit != null) return hit
    val index = schema.fold(spark.read)(spark.read.schema(_))
      .parquet(parts.map(_.getPath.toString): _*)
    val rows = index.collect()
    def at(c: String) = index.schema.fieldIndex(c)
    val fileAt = at("file")
    val bitsets = index.columns.filter(_.startsWith("b_")).map { c =>
      val i = at(c)
      c -> rows.map[org.apache.spark.sql.catalyst.util.ArrayData] { r =>
        if (r.isNullAt(i)) null
        else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(r.getSeq[Long](i).toArray)
      }
    }.toMap
    val entry = BloomEntry(rows.map(_.getString(fileAt)),
      bitsets, index.columns.contains("__utc"), parts.map(_.getLen).sum,
      index.schema)
    bloomEntryMemo.synchronized {
      var held = 0L
      bloomEntryMemo.values.forEach(e => held += e.bytes)
      if (held + entry.bytes > 2 * BloomEntryMemoMaxBytes) bloomEntryMemo.clear()
      bloomEntryMemo.put(key, entry)
    }
    entry
  }

  /** A per-file metadata entry (bloom index or zone map) as a frame. A
    * memoized bloom entry is served from the memo as a local relation,
    * with no Spark job; anything else reads its files. */
  private def readMetaEntry(spark: SparkSession, fs: FileSystem,
                            entry: Path): DataFrame = {
    val memoized = if (!isIndexDir(entry.getParent)) None else bloomEntryParts(fs, entry)
      .flatMap(parts => Option(bloomEntryMemo.get(bloomEntryKey(fs, entry, parts))))
      .filter(e => e.schema.fieldNames.forall(c =>
        c == "file" || c == "__utc" || e.bitsets.contains(c)))
    memoized.fold(spark.read.parquet(entry.toString)) { e =>
      val rows = e.files.indices.map { i =>
        org.apache.spark.sql.Row.fromSeq(e.schema.fieldNames.toSeq.map {
          case "file" => e.files(i)
          case "__utc" => true
          case c => Option(e.bitsets(c)(i)).map(_.toLongArray()).orNull
        })
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), e.schema)
    }
  }

  /** Write a per-file metadata entry as one file. A bloom entry that
    * fits the memo is then memoized from the file just written, read
    * with its known schema: the commit that writes it pays one small
    * read, and the first point read of the new version none. */
  private def writeMetaEntry(spark: SparkSession, fs: FileSystem,
                             df: DataFrame, entry: Path): Unit = {
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(entry.toString)
    if (isIndexDir(entry.getParent)) bloomEntryParts(fs, entry)
      .filter(ps => ps.nonEmpty && ps.map(_.getLen).sum <= BloomEntryMemoMaxBytes)
      .foreach(bloomEntry(spark, fs, entry, _, Some(df.schema)))
  }

  /** Read a root-relative file list with partition columns RESTORED:
    * files group by their owning version dir and each group reads with
    * that dir as `basePath`, so Hive-layout `key=value` segments under
    * it become partition columns again (a flat layout is unaffected —
    * basePath is then a no-op). One parquet relation per referenced
    * dir; a long DML chain folds back to one via compaction. Each group
    * reconciles to the declared schema BEFORE the union — a post-ALTER
    * manifest mixes old-width and new-width dirs, and the union is only
    * well-typed once every group carries the full declared width. */
  private def readFilesGrouped(spark: SparkSession, table: String,
                               files: Seq[String]): DataFrame = {
    val decl = declaredSchema(spark, table)
    // pre-conversion files ([[convertToGraft]]) live at the TABLE root
    // rather than under a managed version dir: they form one group whose
    // basePath is the table itself, so their `key=value` segments still
    // surface as partition columns
    val groups = files.groupBy { f =>
      val seg = f.takeWhile(_ != '/')
      if (DataDirName.matches(seg)) seg else ""
    }.toSeq.sortBy(_._1)
    groups.map { case (dir, fs0) =>
      val paths = fs0.map(f => s"$table/$f")
      val raw =
        if (dir.isEmpty) spark.read.option("basePath", table).parquet(paths: _*)
        else readDataDir(spark, s"$table/$dir", paths)
      // the row-tracking carrier column is internal plumbing, never
      // table content (dropped BEFORE reconcile so the declared-schema
      // subset check still fires); untracked files no-op
      reconcileTo(decl, raw.drop(RowIdCol))
    }.reduce(_.unionByName(_))
  }

  // ---- additive schema evolution ---------------------------------------
  //
  // ALTER TABLE … ADD COLUMNS without rewriting a byte: the evolved
  // schema lives in a declared-schema sidecar, committed files stay
  // as written, and every read path NULL-fills the columns a file
  // predates (the DSv2 scan gets this from parquet's own
  // missing-column handling; the API paths from [[reconcileTo]]).
  // The first full publishVersioned after an ALTER re-materializes the
  // whole schema in its own files and RETIRES the sidecar — files become
  // the complete truth again. RENAME and DROP ride the same sidecar as
  // a column MAPPING (next section); narrowing TYPE changes refuse —
  // they would reinterpret already-written bytes.

  private def schemaFile(t: Path) = new Path(t, "_meta/schema.json")

  // ---- DDL state: CAS-committed schema epochs ---------------------------
  //
  // Schema DDL must not be last-writer-wins: two concurrent ALTERs
  // racing a plain sidecar rewrite would silently lose one — and a lost
  // DROP loses its dropped-spellings tombstone with it, resurrecting
  // hidden column bytes on a later ADD. Every DDL therefore commits an
  // IMMUTABLE epoch entry `_meta/schema/<NNNNNNNN>` through the SAME
  // compare-and-set guard as the manifest commit: the loser of an epoch
  // race fails loudly and re-reads, never clobbers. One entry carries
  // the WHOLE DDL state — declaration AND dropped tombstones — so a
  // DROP's two facts commit atomically (the legacy two-file layout had
  // a crash window between them). Entries are immutable, so parses
  // memoize per entry NAME: a cache can never serve a stale mapping, in
  // this JVM or any other (a status-keyed cache could, when two
  // same-length rewrites landed inside one mtime tick — scripted DDL
  // does exactly that). Entry format is line-oriented like the
  // manifests: zero or more `dropped:<physical>` lines, then either the
  // declaration's StructType JSON on one line or the single word
  // `retired` (a full publish materialized the declaration in its own
  // files; files are the whole truth again).
  //
  // Legacy `_meta/schema.json` + `_meta/dropped` sidecars read as epoch
  // 0 while no entry exists; the first epoch commit migrates their
  // content and deletes them. One-way reader compatibility (the
  // `ts:`/`op:` header rule): upgrade every reader before the first
  // epoch-writing writer runs.

  private def schemaEpochDir(t: Path) = new Path(t, "_meta/schema")

  private final case class DdlState(
      epoch: Long,
      decl: Option[org.apache.spark.sql.types.StructType],
      dropped: Set[String])

  private val ddlCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DdlState]()

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  private def parseStruct(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The table's current DDL state: highest epoch entry, else the
    * legacy sidecars as epoch 0. One dir listing (+ the entry read on a
    * cache miss) — the planning-path cost class of the manifest listing
    * beside it. */
  private def ddlState(fs: FileSystem, t: Path): DdlState = {
    val dir = schemaEpochDir(t)
    val entries =
      if (!fs.exists(dir)) Array.empty[String]
      else fs.listStatus(dir).map(_.getPath.getName).filter(ManifestName.matches)
    val qt = fs.makeQualified(t).toString
    def memo(key: (String, String))(compute: => DdlState): DdlState = {
      val hit = ddlCache.get(key)
      if (hit != null) hit
      else {
        if (ddlCache.size() > 16384) ddlCache.clear()
        val st = compute; ddlCache.put(key, st); st
      }
    }
    if (entries.nonEmpty) {
      val top = entries.max
      memo((qt, top)) {
        val lines = readSmall(fs, new Path(dir, top)).linesIterator
          .map(_.trim).filter(_.nonEmpty).toSeq
        DdlState(top.toLong,
          lines.filterNot(l => l.startsWith("dropped:") || l == "retired")
            .headOption.map(parseStruct),
          lines.filter(_.startsWith("dropped:"))
            .map(_.stripPrefix("dropped:")).toSet)
      }
    } else {
      // legacy epoch-0 sidecars — frozen from here on (every new DDL
      // commits an epoch entry), so the status-keyed memo cannot go stale
      val sf = schemaFile(t); val dropF = droppedFile(t)
      def stamp(p: Path): String =
        try { val s = fs.getFileStatus(p); s"${s.getModificationTime}:${s.getLen}" }
        catch { case _: Exception => "-" }
      memo((qt, s"legacy:${stamp(sf)}:${stamp(dropF)}")) {
        DdlState(0L,
          if (!fs.exists(sf)) None else Some(parseStruct(readSmall(fs, sf))),
          if (!fs.exists(dropF)) Set.empty[String]
          else readSmall(fs, dropF).linesIterator.map(_.trim)
            .filter(_.nonEmpty).toSet)
      }
    }
  }

  /** Commit the next DDL epoch — the CAS that serializes concurrent
    * schema DDL. `base` is the state this mutation DERIVED from; a
    * competing DDL that committed the next epoch first makes THIS
    * commit return false (re-read and re-derive — the manifest
    * discipline). A successful commit supersedes the legacy sidecars
    * (deleted best-effort; epoch entries take precedence regardless)
    * and prunes never-again-read entries below a short debug tail. */
  /** [[casTestHook]]'s DDL sibling: fires ONCE inside [[commitDdl]],
    * after the mutation derived from `base` and before its epoch
    * commit — the window where a naive sidecar rewrite loses updates. A
    * spec installs a competing ALTER here to prove the epoch CAS makes
    * the loser refuse loudly instead. Self-clears before firing so the
    * competitor's own commit runs hook-free. */
  private val ddlTestHookRef = new AtomicReference[Option[() => Unit]](None)
  private[graft] def ddlTestHook: Option[() => Unit] = ddlTestHookRef.get
  private[graft] def ddlTestHook_=(h: Option[() => Unit]): Unit =
    ddlTestHookRef.set(h)

  private def commitDdl(fs: FileSystem, t: Path, base: DdlState,
                        decl: Option[org.apache.spark.sql.types.StructType],
                        dropped: Set[String]): Boolean = {
    val dir = schemaEpochDir(t)
    fs.mkdirs(dir)
    val body = (dropped.toSeq.sorted.map("dropped:" + _) ++
      Seq(decl.fold("retired")(_.json))).mkString("\n")
    ddlTestHookRef.getAndSet(None).foreach(_())
    if (!commitGuard.commit(fs, new Path(dir, vname(base.epoch + 1L)),
        body.getBytes("UTF-8"))) false
    else {
      if (fs.exists(schemaFile(t))) fs.delete(schemaFile(t), false)
      if (fs.exists(droppedFile(t))) fs.delete(droppedFile(t), false)
      val names = fs.listStatus(dir).map(_.getPath.getName)
        .filter(ManifestName.matches).sorted
      names.dropRight(16).foreach { n =>
        try { fs.delete(new Path(dir, n), false); () }
        catch { case _: Exception => }
      }
      true
    }
  }

  private def requireDdlCommit(fs: FileSystem, t: Path, base: DdlState,
      decl: Option[org.apache.spark.sql.types.StructType],
      dropped: Set[String], verb: String): Unit =
    require(commitDdl(fs, t, base, decl, dropped),
      s"$verb: a concurrent DDL committed schema epoch ${base.epoch + 1} " +
        s"of $t first — re-read the table's schema and retry")

  // ---- ID-free column mapping (RENAME / DROP without rewrite) ----------
  //
  // A renamed or dropped column must not rewrite a byte of a 100 TB
  // table. The declared-schema sidecar grows into a COLUMN MAPPING: each
  // declared field may carry `graft.physical` metadata naming the
  // spelling the committed files store (fixed at column creation, like
  // Delta's name-mode mapping — every writer keeps writing the physical
  // spelling, so one column has ONE spelling across every file forever).
  // RENAME rewrites only the sidecar (logical name changes, physical
  // stays); DROP removes the field from the declaration (files keep the
  // bytes; reads stop selecting them). A mapping-ACTIVE declaration —
  // marked by every field carrying `graft.physical` — makes reads
  // produce EXACTLY the declared columns, each resolved from its
  // physical spelling (NULL where a file predates the column). Type
  // changes still refuse: they would reinterpret written bytes.
  // Metadata probes (bloom/zone/partition indexes, built from raw
  // files) key on PHYSICAL spellings; the probe entry points translate
  // logical names once, and everything unmatched fails SAFE (no prune,
  // no pushdown — never a wrong answer). The first full publish whose
  // columns cover the declaration retires the sidecar: its files then
  // store the logical spellings and the mapping dissolves.

  private[graft] val PhysicalKey = "graft.physical"

  /** The physical (as-written) spelling of a declared field. */
  private def physicalOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def mappingActive(d: org.apache.spark.sql.types.StructType): Boolean =
    d.fields.exists(_.metadata.contains(PhysicalKey))

  /** logical → physical column renames of `table`'s declaration
    * (identity entries omitted); empty when no mapping is active. The
    * expensive part — the sidecar read + parse — memoizes inside
    * [[ddlState]] per IMMUTABLE epoch entry, so a 100 TB table's
    * planning path pays one small listing here, never a stale answer. */
  def columnMapping(spark: SparkSession, table: String): Map[String, String] = {
    val (fs, t) = fsFor(spark, table)
    ddlState(fs, t).decl.map { d =>
      d.fields.iterator.map(fl => fl.name -> physicalOf(fl))
        .filter { case (l, p) => l != p }.toMap
    }.getOrElse(Map.empty)
  }

  /** The physical spelling of `name` — identity unless renamed. */
  def physicalColumn(spark: SparkSession, table: String,
                     name: String): String =
    columnMapping(spark, table).getOrElse(name, name)

  /** Drop mapping entries a retiring full publish already materialized:
    * if the version's files store the LOGICAL spelling and not the
    * physical one, the crash window between the retiring manifest
    * commit and the sidecar cleanup left a stale mapping behind — a
    * physical-domain scan would read the absent spelling as NULL.
    * Decided from a full-publish version's own parquet schema (one
    * footer-class read; other versions keep the mapping — only a full
    * publish retires one). Fail-open: an unreadable schema keeps the
    * mapping unchanged. */
  def pruneStaleMapping(spark: SparkSession, table: String,
                        version: Option[Long],
                        mapping: Map[String, String]): Map[String, String] =
    if (mapping.isEmpty) mapping
    else resolveVersion(spark, table, version) match {
      case Some(r) if r.ownsAllFiles =>
        val raw =
          try readDataDir(spark, s"$table/${r.dirName}",
            r.files.map(f => s"$table/$f")).schema.fieldNames.toSet
          catch { case _: Exception => return mapping }
        mapping.filter { case (l, p) => raw.contains(p) || !raw.contains(l) }
      case _ => mapping
    }

  /** `ALTER TABLE … RENAME COLUMN` at O(one sidecar write): the logical
    * name changes, the physical spelling is pinned to what the files
    * already store, and every read/DML surface resolves through the
    * mapping from now on. The new name must be free among BOTH current
    * logical names and pinned physical spellings — a collision would
    * let one file column feed two logical columns. */
  def alterRenameColumn(spark: SparkSession, table: String,
                        from: String, to: String): Unit = {
    val (fsR, tR) = fsFor(spark, table)
    val st = ddlState(fsR, tR)
    val decl = st.decl.getOrElse(committedDeclaration(spark, table))
    require(decl.fieldNames.contains(from),
      s"alterRenameColumn: $table has no column '$from'")
    // dropped spellings are taken too: committed files still store their
    // bytes, and the mapped read's logical-spelling fallback would feed
    // them into a column renamed onto that name
    val taken = decl.fieldNames.toSet ++ decl.fields.map(physicalOf) ++
      st.dropped
    require(from == to || !taken.contains(to),
      s"alterRenameColumn: '$to' collides with an existing logical name, " +
        "a pinned physical spelling, or a dropped column's spelling")
    refuseConstrainedColumn(spark, table, from, "alterRenameColumn")
    requireDdlCommit(fsR, tR, st, Some(pinAll(
      org.apache.spark.sql.types.StructType(decl.fields.map { f =>
        if (f.name == from) withPhysical(f, physicalOf(f)).copy(name = to)
        else f
      }))), st.dropped, "alterRenameColumn")
  }

  /** `ALTER TABLE … DROP COLUMN` at O(one sidecar write): the field
    * leaves the declaration, files keep their bytes, reads stop
    * selecting the physical column. Partition-layout columns refuse
    * (the directory structure encodes them); so does dropping the last
    * column. */
  def alterDropColumn(spark: SparkSession, table: String,
                      name: String): Unit = {
    val (fs, t) = fsFor(spark, table)
    val st = ddlState(fs, t)
    val decl = st.decl.getOrElse(committedDeclaration(spark, table))
    // dotted names drop a STRUCT LEAF: the declaration's struct
    // narrows, files keep the leaf's bytes, reads rebuild the struct
    // without it ([[castToDeclared]]); the dotted spelling tombstones
    // so a later nested ADD can never resurrect them
    if (name.contains('.')) {
      val parts = name.split('.').toSeq
      require(leafAt(decl, parts).isDefined,
        s"alterDropColumn: $table has no nested field '$name'")
      val parentStruct = leafAt(decl, parts.dropRight(1)).get.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(parentStruct.fields.length > 1,
        s"alterDropColumn: '$name' is the last field of its struct — " +
          "drop the whole column instead")
      refuseConstrainedColumn(spark, table, parts.head, "alterDropColumn")
      requireDdlCommit(fs, t, st,
        Some(pinAll(withLeaf(decl, parts, _ => None))),
        st.dropped + name, "alterDropColumn")
      return
    }
    require(decl.fieldNames.contains(name),
      s"alterDropColumn: $table has no column '$name'")
    require(decl.fields.length > 1,
      s"alterDropColumn: cannot drop the last column of $table")
    refuseConstrainedColumn(spark, table, name, "alterDropColumn")
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"alterDropColumn: $table is not a versioned table"))
    val partCols = partitionColsOf(r.files) ++
      r.declaredPartCols
    require(!partCols.contains(physicalColumn(spark, table, name)) &&
        !partCols.contains(name),
      s"alterDropColumn: '$name' is a partition-layout column — the " +
        "directory structure encodes it; repartition via a full publish " +
        "instead")
    // the dropped-spellings tombstone and the narrowed declaration are
    // ONE epoch entry: no crash window can ever separate them, so a
    // later ADD can never resurrect dropped bytes
    requireDdlCommit(fs, t, st, Some(pinAll(
      org.apache.spark.sql.types.StructType(
        decl.fields.filterNot(_.name == name)))),
      st.dropped + decl.fields.find(_.name == name).map(physicalOf).get,
      "alterDropColumn")
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>` at O(one epoch
    * commit): the declaration's type widens along the SAFE lattice
    * (byte→short→int→long, float→double, decimal(p,s)→decimal(p+k,s))
    * — committed files keep their narrower physical bytes and every
    * read upcasts at the boundary (Spark's parquet reader natively
    * serves INT32 under a LONG read schema, etc.; the API paths cast in
    * [[reconcileTo]]), while subsequent writes land the wider type in
    * their own files. Index probes stay sound: bloom values
    * canonicalize through the column's STRING form, identical across
    * the integral lattice and at equal decimal scale, and zone/
    * partition comparisons coerce numerically — both remain supersets.
    * float→double is the ONE lattice member whose string form is NOT
    * stable (`0.1f` → "0.1" but the same value as double →
    * "0.10000000149011612"), so that widen first INVALIDATES the
    * column's bloom bitsets ([[invalidateBloomColumn]] — pruning
    * degrades, correctness holds; rebuild under the wide form with
    * [[reindexCurrentVersion]]). Narrowing or reinterpreting refuses:
    * bytes would lie. */
  def alterWidenColumn(spark: SparkSession, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = {
    val (fs, t) = fsFor(spark, table)
    val st = ddlState(fs, t)
    val decl = st.decl.getOrElse(committedDeclaration(spark, table))
    // dotted names widen a STRUCT LEAF along the same lattice: the
    // declaration's leaf type grows, files keep narrow leaf bytes, and
    // reads upcast through the field-wise struct rebuild
    // ([[castToDeclared]]). Leaves are not bloom-indexable (indexes key
    // on top-level columns), so no float→double invalidation applies.
    if (name.contains('.')) {
      val parts = name.split('.').toSeq
      val leaf = leafAt(decl, parts).getOrElse(
        throw new IllegalArgumentException(
          s"alterWidenColumn: $table has no nested field '$name'"))
      require(widens(leaf.dataType, newType),
        s"alterWidenColumn: ${leaf.dataType.simpleString} → " +
          s"${newType.simpleString} is not a safe widening " +
          "(byte→short→int→long, float→double, or decimal precision " +
          "growth at equal scale)")
      val evolved = withLeaf(decl, parts,
        fl => Some(fl.copy(dataType = newType)))
      requireDdlCommit(fs, t, st, Some(
        if (mappingActive(decl)) pinAll(evolved) else evolved),
        st.dropped, "alterWidenColumn")
      return
    }
    val f = decl.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"alterWidenColumn: $table has no column '$name'"))
    require(widens(f.dataType, newType),
      s"alterWidenColumn: ${f.dataType.simpleString} → " +
        s"${newType.simpleString} is not a safe widening " +
        "(byte→short→int→long, float→double, or decimal precision " +
        "growth at equal scale) — a narrowing or reinterpreting change " +
        "would corrupt already-written bytes")
    val evolved = org.apache.spark.sql.types.StructType(decl.fields.map(fl =>
      if (fl.name == name) fl.copy(dataType = newType) else fl))
    // invalidate BEFORE the epoch commits: pre-widen, a dropped bitset
    // is always safe (pruning lost, nothing else), while a committed
    // widen racing a crash here would leave a false-negative index live
    if (f.dataType == org.apache.spark.sql.types.FloatType &&
        newType == org.apache.spark.sql.types.DoubleType)
      invalidateBloomColumn(spark, table, name)
    requireDdlCommit(fs, t, st, Some(
      if (mappingActive(decl)) pinAll(evolved) else evolved),
      st.dropped, "alterWidenColumn")
  }

  /** The widening lattice [[alterWidenColumn]] accepts — deliberately
    * narrower than `Cast.canUpCast` (no int→decimal, no
    * anything→string): every member is a PHYSICAL-read-compatible
    * widening of the parquet bytes already on disk. */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  // Dropped PHYSICAL spellings tombstone: committed files still store a
  // dropped column's bytes, so re-ADDing that spelling would silently
  // resurrect them as the "new" column's values in every old file. The
  // spellings ride the SAME epoch entry as the declaration (legacy
  // tables keep them in `_meta/dropped` as epoch 0) until a full
  // publish rewrites the files, which retires both.
  private def droppedFile(t: Path) = new Path(t, "_meta/dropped")

  /** A rename or drop of a column a stored CHECK references would make
    * every subsequent write fail resolving the constraint — refuse the
    * DDL with guidance instead (drop the constraint, alter, re-declare
    * under the new name). Constraint expressions parse lazily; an
    * unparseable one blocks nothing here (it already fails loudly at
    * write time). */
  private def refuseConstrainedColumn(spark: SparkSession, table: String,
                                      column: String, verb: String): Unit = {
    val lower = column.toLowerCase
    val referencing = storedChecks(spark, table).filter { case (_, e) =>
      (try spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.toSet
      catch { case _: Exception => Set.empty[String] }).contains(lower)
    }
    require(referencing.isEmpty,
      s"$verb: column '$column' is referenced by constraint(s) " +
        s"${referencing.map(_._1).mkString(", ")} on $table — DROP " +
        "CONSTRAINT first and re-declare it against the new schema")
  }

  /** The COMMITTED (file-level) schema of the current version — the
    * declaration fallback when no sidecar is active (files are then
    * both logical and physical truth). */
  private def committedDeclaration(spark: SparkSession, table: String)
      : org.apache.spark.sql.types.StructType = {
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"$table is not a versioned table"))
    versionSchema(spark, table, r)
  }

  private def withPhysical(f: org.apache.spark.sql.types.StructField,
                           physical: String)
      : org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysicalKey, physical).build())

  /** Pin EVERY field's physical spelling (identity included) — the
    * uniform marker reads key mapping-active behavior on, so a pure
    * DROP (no renames) still prunes the dropped physical column from
    * every read. */
  private def pinAll(decl: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      decl.fields.map(f => withPhysical(f, physicalOf(f))))

  /** The declared (post-ALTER) schema, when one exists. One small
    * listing (memoized parse) — the cost class of the manifest read
    * beside it. */
  def declaredSchema(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val (fs, t) = fsFor(spark, table)
    ddlState(fs, t).decl
  }

  /** NULL-fill `df` up to the declared schema (declared order); a df
    * already carrying every declared column — or one WIDER than a stale
    * declaration (a full publish that evolved further) — passes through
    * untouched. Under an ACTIVE column mapping the contract tightens:
    * the result is EXACTLY the declared columns, each resolved from its
    * physical spelling (NULL where the file predates the column) — the
    * strictness is what makes a DROP hide bytes and a RENAME re-label
    * them. */
  /** Resolve a file-typed column to its DECLARED type: safe upcasts
    * cast whole (int files under a bigint declaration); STRUCT targets
    * that plain casting cannot reach REBUILD field-wise — a nested ADD
    * null-fills the new leaf, a nested DROP omits the hidden one, a
    * nested widen upcasts the leaf — recursively, null-preserving (a
    * null struct stays null, not a struct of nulls). Anything else
    * passes through untouched (a file WIDER than a stale declaration —
    * the table evolved further by a full publish — must never
    * downcast). */
  private def castToDeclared(c: Column,
                             from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.functions.{lit, struct, when}
    import org.apache.spark.sql.types.StructType
    if (from == to) c
    else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to))
      c.cast(to)
    else (from, to) match {
      case (f: StructType, t: StructType) =>
        val built = struct(t.map { tf =>
          f.find(_.name == tf.name) match {
            case Some(ff) =>
              castToDeclared(c.getField(tf.name), ff.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }: _*)
        when(c.isNull, lit(null).cast(to)).otherwise(built)
      case _ => c
    }
  }

  private def reconcileTo(decl: Option[org.apache.spark.sql.types.StructType],
                          df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // a file narrower than a WIDENED declaration upcasts at this read
    // boundary; nested (struct-leaf) evolution rebuilds field-wise —
    // see [[castToDeclared]]
    def toDeclared(c: Column, from: org.apache.spark.sql.types.DataType,
                   to: org.apache.spark.sql.types.DataType): Column =
      castToDeclared(c, from, to)
    decl match {
      case Some(d) if mappingActive(d) =>
        // physical spelling first; the LOGICAL spelling as fallback —
        // files written by a retiring full publish store logical names,
        // and a crash between its manifest commit and the sidecar
        // cleanup leaves the mapping active over them (renaming TO a
        // dropped spelling is refused, so a file's logical-named column
        // can only ever be THIS column)
        df.select(d.map { f =>
          val p = physicalOf(f)
          val src =
            if (df.columns.contains(p)) p
            else if (df.columns.contains(f.name)) f.name
            else ""
          if (src.isEmpty) lit(null).cast(f.dataType).as(f.name)
          else toDeclared(col(src), df.schema(src).dataType, f.dataType)
            .as(f.name)
        }: _*)
      case Some(d) if df.columns.toSet.subsetOf(d.fieldNames.toSet) &&
          (df.columns.toSet != d.fieldNames.toSet ||
            d.exists(f => df.schema(f.name).dataType != f.dataType)) =>
        df.select(d.map(f =>
          if (df.columns.contains(f.name))
            toDeclared(col(f.name), df.schema(f.name).dataType, f.dataType)
              .as(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      case _ => df
    }
  }

  /** `ALTER TABLE … ADD COLUMNS` for versioned tables: append nullable
    * columns to the schema WITHOUT touching data — O(one sidecar
    * write) on a 100 TB table. Existing rows read NULL for the new
    * columns (including time-travel reads of pre-ALTER versions — the
    * declaration is table-level, and additive NULLs are harmless
    * there); the next write materializes them in its own files. Writers
    * aligning to [[versionSchema]] see the evolved width immediately,
    * so appends/upserts/merges must supply the new columns from then
    * on. */
  // ---- nested (struct-leaf) declaration surgery ------------------------
  //
  // ADD / DROP / widen of a struct LEAF ride the same declared-schema
  // epochs as top-level DDL: the declaration's StructType nests, files
  // keep their bytes, and every read rebuilds structs field-wise to the
  // declared shape ([[castToDeclared]] — a dropped leaf hides, an added
  // leaf null-fills, a widened leaf upcasts). Dotted spellings
  // (`meta.lang`) address leaves; RENAME of a leaf still refuses (it
  // needs leaf-level physical mapping — the top-level mapping's model
  // does not extend below the column boundary yet).

  /** The leaf `path` addresses in `decl`, if any. */
  private def leafAt(decl: org.apache.spark.sql.types.StructType,
                     path: Seq[String])
      : Option[org.apache.spark.sql.types.StructField] = path match {
    case Seq(one) => decl.find(_.name == one)
    case head +: rest => decl.find(_.name == head).flatMap(_.dataType match {
      case s: org.apache.spark.sql.types.StructType => leafAt(s, rest)
      case _ => None
    })
    case _ => None
  }

  /** Rebuild `decl` with the leaf at `path` transformed: `f` returning
    * Some replaces it, None drops it; a missing intermediate struct
    * refuses loudly. Appending a NEW leaf uses [[withNewLeaf]]. */
  private def withLeaf(decl: org.apache.spark.sql.types.StructType,
                       path: Seq[String],
                       f: org.apache.spark.sql.types.StructField =>
                         Option[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    path match {
      case Seq(leaf) =>
        StructType(decl.fields.flatMap(fl =>
          if (fl.name == leaf) f(fl) else Some(fl)))
      case head +: rest =>
        StructType(decl.fields.map {
          case fl if fl.name == head => fl.dataType match {
            case s: StructType => fl.copy(dataType = withLeaf(s, rest, f))
            case other => throw new IllegalArgumentException(
              s"'${head}' is ${other.simpleString}, not a struct — cannot " +
                s"address ${path.mkString(".")}")
          }
          case fl => fl
        })
    }
  }

  /** Append a new leaf under the struct `path` addresses. */
  private def withNewLeaf(decl: org.apache.spark.sql.types.StructType,
                          parent: Seq[String],
                          leaf: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructType}
    if (parent.isEmpty) StructType(decl.fields :+ leaf)
    else StructType(decl.fields.map {
      case fl if fl.name == parent.head => fl.dataType match {
        case s: StructType =>
          fl.copy(dataType = withNewLeaf(s, parent.tail, leaf))
        case other => throw new IllegalArgumentException(
          s"'${parent.head}' is ${other.simpleString}, not a struct — " +
            "cannot add a nested field under it")
      }
      case fl => fl
    })
  }

  def alterAddColumns(spark: SparkSession, table: String,
                      newCols: org.apache.spark.sql.types.StructType): Unit = {
    require(newCols.nonEmpty, "alterAddColumns: no columns given")
    newCols.foreach(f => require(f.nullable,
      s"alterAddColumns: ${f.name} must be nullable — existing rows have " +
        "no value for it"))
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"alterAddColumns: $table is not a versioned table"))
    val current = versionSchema(spark, table, r)
    val (fsA, tA) = fsFor(spark, table)
    val st = ddlState(fsA, tA)
    val declNow = st.decl
    // dotted names address STRUCT LEAVES (`meta.lang`) — additive
    // nested evolution through the same epoch, reads null-fill via the
    // field-wise struct rebuild
    val (nested, flat) = newCols.partition(_.name.contains('.'))
    // the new name must be free among logical names AND pinned physical
    // spellings — a file column may still back a renamed logical column,
    // and an ADD reusing that spelling would feed one file column into
    // two logical columns
    val taken = (current.map(_.name) ++
      declNow.toSeq.flatMap(_.fields.map(physicalOf)) ++
      st.dropped).map(_.toLowerCase)
    val clash = flat.map(_.name.toLowerCase).intersect(taken)
    require(clash.isEmpty,
      s"alterAddColumns: column(s) ${clash.mkString(", ")} already exist " +
        "as a logical name or a pinned physical spelling (type changes " +
        "are not supported — they would reinterpret already-written bytes)")
    val base0 = declNow.getOrElse(current)
    nested.foreach { f =>
      val parts = f.name.split('.').toSeq
      val parent = parts.dropRight(1)
      val leaf = parts.last
      val parentField = leafAt(base0, parent)
      require(parentField.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]),
        s"alterAddColumns: '${parent.mkString(".")}' is not a struct " +
          s"column of $table — nested ADD addresses an existing struct")
      val siblings = parentField.get.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(!siblings.exists(_.name.equalsIgnoreCase(leaf)),
        s"alterAddColumns: '${f.name}' already exists")
      require(!st.dropped.exists(_.equalsIgnoreCase(f.name)),
        s"alterAddColumns: '${f.name}' was DROPPED — committed files " +
          "still store its bytes, and re-adding the spelling would " +
          "silently resurrect them as the new field's values")
    }
    var evolved = base0
    nested.foreach { f =>
      val parts = f.name.split('.').toSeq
      evolved = withNewLeaf(evolved, parts.dropRight(1),
        org.apache.spark.sql.types.StructField(parts.last, f.dataType,
          nullable = true))
    }
    evolved = org.apache.spark.sql.types.StructType(evolved.fields ++ flat)
    requireDdlCommit(fsA, tA, st,
      Some(if (declNow.exists(mappingActive)) pinAll(evolved) else evolved),
      st.dropped, "alterAddColumns")
  }

  /** Partition columns encoded in a root-relative file path's layout
    * (`vNNN/day=3/part-….parquet` → Seq("day")); Nil for flat files.
    * Keyed on the `key=value` shape rather than path position, so
    * pre-conversion files living at the TABLE root (`day=3/part.parquet`,
    * no version-dir prefix — [[convertToGraft]]) resolve identically:
    * version/attempt dir names never contain '='. */
  private def partitionColsOf(files: Seq[String]): Seq[String] =
    files.headOption.map { f =>
      f.split('/').dropRight(1)
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq
    }.getOrElse(Nil)

  /** Highest committed (version, dataPath) of a manifest table, if any.
    * One `listStatus` + one small-file read — no data I/O. For a
    * file-list version the dataPath is the version's OWN data dir (its
    * rewritten files; stats/index are keyed by it) — read the full
    * logical content through [[readTable]]/[[readTableVersion]], which
    * resolve carried files too. */
  def currentVersion(spark: SparkSession, table: String): Option[(Long, String)] =
    resolveVersion(spark, table, None).map(r => (r.version, s"$table/${r.dirName}"))

  /** Read a table written by either publish flavor: the manifest-committed
    * current version when `_versions` exists, else the plain directory
    * (None if absent/empty either way). */
  def readTable(spark: SparkSession, table: String): Option[DataFrame] =
    resolveVersion(spark, table, None) match {
      case Some(r) => Some(readResolved(spark, table, r))
      case None => if (hasData(spark, table)) Some(spark.read.parquet(table)) else None
    }

  /** Committed versions of a manifest table still readable (ascending) —
    * the retained window [[publishVersioned]]'s `keepVersions` left
    * behind. One `listStatus`. */
  def listVersions(spark: SparkSession, table: String): Seq[Long] = {
    val (fs, t) = fsFor(spark, table)
    val vd = versionsDir(t)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).map(_.getPath.getName)
      .filter(n => ManifestName.matches(n)).sorted.map(_.toLong).toSeq
  }

  /** Tighten a versioned table's retention window NOW: keep the newest
    * `keepVersions` manifests, GC every data dir no surviving manifest
    * references (carried ancestors of retained CoW versions survive) —
    * the SQL `VACUUM … RETAIN n VERSIONS` verb. Runs the exact GC every
    * publish runs; safe at any time (retained reads are unaffected,
    * expired time travel resolves to None — the documented contract).
    *
    * TIME-based retention composes as a UNION (the stricter rule wins —
    * GC never deletes a version either rule keeps): a version survives
    * when it is within the newest `keepVersions` OR its commit instant
    * (the manifest `ts:` header) is within the retention window —
    * `retainDays` here (the SQL `RETAIN n DAYS`/`HOURS` verb), or the
    * table's stored `keepDays` property, which EVERY write path's GC
    * honors automatically. Version-count retention alone destroys the
    * time-travel window under a bursty writer (one compaction storm = n
    * versions in an hour); a stored `keepDays` makes "7 days of history"
    * a real guarantee at the cost of unbounded versions within the
    * window. An explicit `retainDays` overrides the stored time rule
    * for this vacuum only; the count rule stays whatever the caller
    * passed. */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 2,
             retainDays: Option[Double] = None): Unit = {
    require(keepVersions >= 1, "vacuum: keepVersions >= 1")
    retainDays.foreach(d => require(d >= 0.0, "vacuum: retainDays >= 0"))
    val (fs, t) = fsFor(spark, table)
    require(fs.exists(versionsDir(t)),
      s"vacuum: $table is not a versioned table")
    gcVersions(fs, t, keepVersions, retainDays)
  }

  /** [[vacuum]]'s pre-flight: the paths (manifests, data dirs,
    * stats/index/zone entries, mask deltas, staged tmp files) the same
    * rules WOULD delete — nothing is deleted. The operator's check
    * before tightening retention: "what exactly does RETAIN 2 VERSIONS
    * expire right now?" answered without risk. Same cost class as the
    * vacuum itself (listings + manifest parses). */
  def vacuumDryRun(spark: SparkSession, table: String, keepVersions: Int = 2,
                   retainDays: Option[Double] = None): Seq[String] = {
    require(keepVersions >= 1, "vacuum: keepVersions >= 1")
    retainDays.foreach(d => require(d >= 0.0, "vacuum: retainDays >= 0"))
    val (fs, t) = fsFor(spark, table)
    require(fs.exists(versionsDir(t)),
      s"vacuum: $table is not a versioned table")
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    gcVersions(fs, t, keepVersions, retainDays, dryRun = Some(buf))
    buf.toSeq.sorted
  }

  /** The verb that committed `version` ("full", "append", "delete",
    * "update", "merge", "upsert", "sync", "optimize",
    * "overwrite-partitions", "restore") — the provenance a RESTORE
    * navigates by; None for pre-`op:` manifests. Metadata-only. */
  def commitOperation(spark: SparkSession, table: String,
                      version: Long): Option[String] =
    resolveVersion(spark, table, Some(version)).flatMap(_.op)

  /** Highest batchId the idempotent writer `appId` has committed among
    * the RETAINED manifests (`txn:` header) — the replay gate of the
    * exactly-once streaming sink: a micro-batch at or below it already
    * landed and must be skipped, not re-run. Metadata-only (manifest
    * parses memoize), bounded by the retention window — which therefore
    * must cover the stream's possible replay horizon: Spark replays only
    * the LAST un-checkpointed batch, so any `keepVersions >= 1` covers a
    * single-writer stream, and concurrent non-stream writers landing
    * between the crash and the restart extend the window they need
    * retention for anyway. */
  def lastCommittedTxn(spark: SparkSession, table: String,
                       appId: String): Option[Long] = {
    val batches = listVersions(spark, table).flatMap(v =>
      resolveVersion(spark, table, Some(v)).flatMap(_.txn)
        .filter(_._1 == appId).map(_._2))
    if (batches.isEmpty) None else Some(batches.max)
  }

  /** One row per RETAINED version, newest last — the `DESCRIBE HISTORY`
    * surface: (version, commit time, data dir, manifest format — always
    * `file-list`, the one format; the column keeps the SQL schema
    * stable — file count, resolved bytes). Commit time is the instant
    * STORED in the manifest body at seal time (see the manifest format
    * comment — mtime would not survive a distcp or backup-restore);
    * pre-`ts:` manifests fall back to the file's modification time.
    * Metadata-only: listings + manifest parses, no data I/O. */
  def describeHistory(spark: SparkSession, table: String)
      : Seq[(Long, java.sql.Timestamp, String, String, Int, Long, String, String)] = {
    val (fs, t) = fsFor(spark, table)
    listVersions(spark, table).flatMap { v =>
      resolveVersion(spark, table, Some(v)).map { r =>
        val committed = r.commitTsMillis.getOrElse(fs.getFileStatus(
          new Path(versionsDir(t), vname(v))).getModificationTime)
        val bytes = filesBytes(fs, t, r.files)
        // the committing verb and idempotent-writer stamp ride along
        // from the SAME manifest parse — the SQL surface must not
        // re-resolve each version (that would be O(n²) metadata RPCs on
        // long histories)
        (v, new java.sql.Timestamp(committed), r.dirName,
          "file-list", r.files.size, bytes,
          r.op.getOrElse("-"),
          r.txn.fold("-") { case (app, b) => s"$app#$b" })
      }
    }
  }

  /** Latest committed version whose commit instant is at or before
    * `tsMillis` — SQL `TIMESTAMP AS OF` resolution. The instant is the
    * one the sealer wrote INTO the manifest body (`ts:` header), so a
    * file-copy migration that rewrites mtimes cannot shift history;
    * pre-`ts:` manifests fall back to mtime. One small-file read per
    * RETAINED manifest (bounded by `keepVersions` — the same cost class
    * as the listing itself). None when every retained manifest is newer
    * than the probe (asking for a state before the table existed — or
    * past the retention window, where the honest answer is "unknown",
    * not "the oldest we still have"). */
  def versionAtTimestamp(spark: SparkSession, table: String,
                         tsMillis: Long): Option[Long] = {
    val (fs, t) = fsFor(spark, table)
    val vd = versionsDir(t)
    if (!fs.exists(vd)) None
    else fs.listStatus(vd)
      .filter(st => ManifestName.matches(st.getPath.getName))
      .filter { st =>
        val v = st.getPath.getName.toLong
        parseManifest(t, v, readManifest(fs, st.getPath)).commitTsMillis
          .getOrElse(st.getModificationTime) <= tsMillis
      }
      .map(_.getPath.getName).sorted.lastOption.map(_.toLong)
  }

  /** Time-travel read: the table as of committed version `version`
    * (None if that manifest has been GC'd past `keepVersions` or never
    * existed). Version dirs are immutable once committed, so the read is
    * exactly as consistent as a current-version read — this is what the
    * retention window is FOR: an in-flight reader pinned to N-1 while a
    * publisher commits N, an audit replaying yesterday's snapshot, a
    * dry-run diffing two versions. */
  def readTableVersion(spark: SparkSession, table: String,
                       version: Long): Option[DataFrame] =
    resolveVersion(spark, table, Some(version))
      .map(readResolved(spark, table, _))

  /** Atomically publish `df` as the new current version of a
    * manifest-committed `table` (layout above). Safe on object stores —
    * no directory rename anywhere. `keepVersions` old versions survive
    * for in-flight readers (time travel for free); older data dirs and
    * manifests, plus orphans from crashed writes, are garbage-collected
    * after the commit.
    *
    * `collectStats` persists table statistics (exact row count +
    * per-column approx-NDV/min/max, ONE scan of the just-written version
    * files via [[graft.operators.Quality.profileWithCount]]) under
    * `_stats/<dataName>` BEFORE the manifest commit, so a committed
    * version either has its stats or was published without them — never
    * a torn half. Readers pick them up through [[readStats]] /
    * [[readTableStatsHinted]]; stats of expired versions GC with their
    * data dirs. */
  def publishVersioned(df: DataFrame, table: String,
                       partitionBy: Seq[String] = Nil,
                       keepVersions: Int = 2,
                       collectStats: Boolean = false,
                       bloomIndexCols: Seq[String] = Nil,
                       zoneMapCols: Seq[String] = Nil,
                       expectedVersion: Option[Long] = None,
                       op: String = "full"): Unit = {
    require(keepVersions >= 1)
    val spark = df.sparkSession
    val (fs, t) = fsFor(spark, table)
    // compare-and-swap: a caller that DERIVED df from a version it read
    // (compaction, any read-modify-write) pins that version; if another
    // writer advanced the table meanwhile, committing would silently
    // revert their changes — fail loudly instead
    val next = expectedVersion.map(_ + 1L).getOrElse(
      currentVersion(spark, table).map(_._1).getOrElse(0L) + 1L)
    // the CAS must fire BEFORE phase 1: a pinned publish targeting an
    // already-committed version number would otherwise Overwrite the
    // winner's live data dir during its own doomed write
    require(!fs.exists(new Path(versionsDir(t), vname(next))),
      s"publishVersioned: $table advanced past version ${next - 1} — " +
        "re-derive from the current version and retry")
    val dataName = s"v${vname(next)}"
    // phase 1 (long): write the full new state to the fresh version dir.
    // Overwrite mode clears a same-numbered orphan from a crashed attempt.
    // Stored CHECK / NOT NULL constraints observe this same pass and a
    // violation aborts before the commit (the dir is then an orphan).
    val (guardedDf, checkObs) = attachChecks(spark, table, df)
    val w = guardedDf.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(new Path(t, dataName).toString)
    assertChecks(table, checkObs)
    // the files just written ARE the version: the manifest lists them
    val files = writtenFiles(fs, t, dataName, df, "publishVersioned")
    // phase 1b (stats): profile the version's OWN committed files — the
    // stats describe exactly the bytes the manifest will reference, and
    // approx NDV keeps the pass free of countDistinct's Expand blowup
    if (collectStats) {
      val dir = new Path(t, dataName).toString
      val committed = readDataDir(spark, dir, Seq(dir))
      graft.operators.Quality
        .profileWithCount(committed, committed.columns.toSeq, exact = false)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(new Path(statsDir(t), dataName).toString)
    }
    // a full publish writes the frame's own (logical) spellings — and
    // retires any column mapping below. Index columns may arrive in the
    // PHYSICAL spelling (a compaction re-publishing versionMetadata's
    // cols); translate to the frame's spelling so the rebuild finds them
    val reverseMap = columnMapping(spark, table).map(_.swap)
    def frameCol(c: String): String =
      if (df.columns.contains(c)) c else reverseMap.getOrElse(c, c)
    // phase 1c (bloom file index): same pre-commit discipline as stats —
    // a committed version either has its index or was published without
    // one, never a torn half. One scan of the version files builds every
    // indexed column's per-file bitset.
    if (bloomIndexCols.nonEmpty)
      buildBloomIndex(spark, fs, t, dataName, bloomIndexCols.map(frameCol))
    // phase 1d (zone map): per-file min/max per column — one small-
    // metadata read replaces thousands of parquet footer opens when a
    // range predicate prunes files at 100 TB; same pre-commit discipline
    if (zoneMapCols.nonEmpty)
      zoneMapDf(spark, new Path(t, dataName).toString, dataName,
        zoneMapCols.map(frameCol))
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(new Path(zonesDir(t), dataName).toString)
    // phase 2 (commit): materialize the manifest under its final name.
    // The exists-check + rename pair enforces the CAS: a competing commit
    // that landed version `next` first makes this publish fail loudly
    val vd = versionsDir(t)
    require(!fs.exists(new Path(vd, vname(next))),
      s"publishVersioned: $table advanced past version ${next - 1} — " +
        "re-derive from the current version and retry")
    fs.mkdirs(vd)
    // row tracking: a full publish is a new generation — every file
    // gets a fresh base ABOVE the prior watermark (monotonic: ids never
    // recycle), except files whose rows carry the physical id column (a
    // tracked compaction/OPTIMIZE fold), which keep identity that way
    val prior = resolveVersion(spark, table, None)
    val ridLines =
      if (prior.exists(_.rowTracked) || rowTrackingRequested(spark, table))
        ridHeaders(fs, t, spark.sessionState.newHadoopConf(), files,
          Map.empty, prior.flatMap(_.rowIdWm).getOrElse(0L))
      else Nil
    val partColsHeader =
      if (partitionBy.nonEmpty) Seq(s"partcols:${partitionBy.mkString(",")}")
      else Nil
    // the commit instant travels IN the manifest body — mtime survives
    // neither distcp nor backup-restore (see the format comment above)
    require(commitManifest(fs, new Path(vd, vname(next)),
        (Seq(s"files:$dataName", s"ts:${System.currentTimeMillis()}",
          s"op:$op") ++ ridLines ++ partColsHeader ++ files).mkString("\n")),
      s"publishVersioned: commit of version $next lost a concurrent race on $table")
    // a FULL publish materializes the complete schema in its own files —
    // a declared-schema sidecar ([[alterAddColumns]]) is now redundant
    // (or stale, if this publish evolved further) and retires. ONLY when
    // this publish's columns actually cover the declaration: a df derived
    // BEFORE a concurrent alterAddColumns (the ALTER does not bump the
    // version, so the CAS cannot see it) commits old-width files — the
    // sidecar must survive so those files keep reconciling to the
    // declared width instead of silently losing the evolution
    val ddlNow = ddlState(fs, t)
    if (ddlNow.decl.isDefined &&
        ddlNow.decl.forall(_.fieldNames.forall(df.columns.contains))) {
      if (ddlNow.epoch == 0L) {
        // legacy sidecars: plain deletes (this publish owns the table —
        // it just won the manifest CAS)
        if (fs.exists(schemaFile(t))) fs.delete(schemaFile(t), false)
        if (fs.exists(droppedFile(t))) fs.delete(droppedFile(t), false)
      } else {
        // retire via the epoch CAS; a LOSS means a concurrent DDL
        // evolved the declaration further — leave it standing (the
        // coverage guard above would have blocked this retire too).
        // The full publish rewrote every file, so dropped-spelling
        // tombstones retire with the declaration.
        commitDdl(fs, t, ddlNow, None, Set.empty)
        ()
      }
    }
    gcVersions(fs, t, keepVersions)
  }

  /** `CONVERT TO GRAFT`: adopt an EXISTING plain-parquet directory
    * (flat or Hive-partitioned) as a versioned table at ZERO data I/O —
    * version 1 commits a file-list manifest referencing the files
    * exactly where they already live; nothing is copied or rewritten,
    * so converting a 100 TB directory costs one listing and one
    * manifest write. From that commit on, the full surface applies:
    * versioned reads, time travel, DSv2 scans with partition pruning,
    * copy-on-write DML (pre-conversion files carry by reference like
    * any CoW ancestor), change feeds, OPTIMIZE, SQL via the catalog's
    * path form.
    *
    * Contract and limits (the honest ones, stated up front):
    *   - the directory must not already be a versioned table and must
    *     not contain managed `vNNNNNNNN` dirs (a half-managed layout
    *     refuses);
    *   - every file must share ONE partition layout (identical
    *     `key=value` segment sequence) — mixed layouts refuse;
    *   - pre-conversion files are never garbage-collected (GC only
    *     collects managed version dirs), so files a later DML rewrote
    *     linger on disk until an `OPTIMIZE` folds the table into
    *     managed dirs — run one after heavy DML to reclaim;
    *   - merge-on-read verbs refuse while pre-conversion files are
    *     candidates (deletion-vector masks key on managed paths);
    *     copy-on-write DML works immediately, and a single OPTIMIZE
    *     upgrades the table to full MoR. */
  def convertToGraft(spark: SparkSession, dir: String): Long = {
    val (fs, t) = fsFor(spark, dir)
    require(fs.exists(t) && fs.getFileStatus(t).isDirectory,
      s"convertToGraft: $dir is not a directory")
    require(!fs.exists(versionsDir(t)),
      s"convertToGraft: $dir is already a versioned graft table")
    val files = parquetFilesUnder(fs, t, t).map(_._1)
    files.foreach { rel =>
      require(!rel.split('/').init.exists(DataDirName.matches(_)),
        s"convertToGraft: $dir already contains a managed version dir " +
          s"(in $rel) — refusing to adopt a half-managed layout")
    }
    require(files.nonEmpty, s"convertToGraft: no parquet files under $dir")
    val layouts = files.map(_.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq).distinct
    require(layouts.size == 1,
      s"convertToGraft: inconsistent partition layouts " +
        s"(${layouts.take(3).map(_.mkString("/")).mkString(" vs ")}) — " +
        "a table has one layout")
    val partCols = layouts.head
    val partColsHeader =
      if (partCols.nonEmpty) Seq(s"partcols:${partCols.mkString(",")}")
      else Nil
    val vd = versionsDir(t)
    fs.mkdirs(vd)
    val body = (Seq(s"files:v${vname(1L)}",
      s"ts:${System.currentTimeMillis()}", "op:convert") ++
      partColsHeader ++ files).mkString("\n")
    require(commitManifest(fs, new Path(vd, vname(1L)), body),
      s"convertToGraft: a concurrent commit claimed version 1 of $dir — " +
        "the directory is (becoming) a versioned table already")
    1L
  }

  /** Merge-on-read verbs key their masks on managed `vNNNNNNNN` paths;
    * a candidate file still at the table root (pre-conversion,
    * [[convertToGraft]]) refuses loudly with the upgrade path instead
    * of writing a mask that the grouped readers would mis-spell. */
  private def refuseUnmanagedMoR(files: Seq[String], verb: String): Unit = {
    val unmanaged =
      files.filterNot(f => DataDirName.matches(f.takeWhile(_ != '/')))
    require(unmanaged.isEmpty,
      s"$verb: ${unmanaged.size} candidate file(s) predate conversion " +
        s"(e.g. '${unmanaged.headOption.getOrElse("")}') — deletion-vector " +
        "masks key on managed version dirs; run OPTIMIZE once to fold " +
        "pre-conversion files, or use the copy-on-write verb")
  }

  /** Phase-3 GC shared by [[publishVersioned]] and the DML publishes:
    * drop manifests beyond `keepVersions`, then every data dir no
    * surviving manifest references — where a FILE-LIST manifest keeps
    * alive its own dir AND every prior dir its carried files live in, so
    * copy-on-write chains never lose a referenced ancestor; stats/index
    * entries GC by the same referenced-dir set. */
  // a data dir: deterministic "vNNNNNNNN" (full publishes) or
  // attempt-unique "vNNNNNNNN-<nonce>" (CoW commits)
  private val DataDirName = "^v\\d{8}(-[0-9a-f]+)?$".r

  /** The table's stored `keepDays` retention property (the `_meta/props`
    * sidecar the graft catalog writes), if any — read HERE rather than
    * threaded through every verb so a stored time guarantee binds every
    * write path's GC, not just the catalog's. One small-file read. */
  private def storedProp(fs: FileSystem, t: Path, key: String): Option[String] = {
    val f = new Path(t, "_meta/props")
    if (!fs.exists(f)) return None
    val in = fs.open(f)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    val prefix = key.toLowerCase + "="
    text.linesIterator.map(_.trim).collectFirst {
      case l if l.toLowerCase.startsWith(prefix) =>
        l.drop(l.indexOf('=') + 1).trim
    }
  }

  private def storedKeepDays(fs: FileSystem, t: Path): Option[Double] =
    storedProp(fs, t, "keepDays").flatMap(_.toDoubleOption)

  /** The table's own mask-row fold budget (`compactMaskedRows` table
    * property); without it the nightly fold uses its default budget. */
  def storedCompactMaskedRows(spark: SparkSession, table: String): Option[Long] = {
    val (fs, t) = fsFor(spark, table)
    storedProp(fs, t, "compactMaskedRows").flatMap(_.toLongOption)
  }

  /** The table's stored `dmlMode` property, lowercased ("mor"/"cow") —
    * read by the streaming sink so a MoR-declared table gets O(batch)
    * mask+append micro-batches without a per-stream option. */
  def storedDmlMode(spark: SparkSession, table: String): Option[String] = {
    val (fs, t) = fsFor(spark, table)
    storedProp(fs, t, "dmlMode").map(_.toLowerCase)
  }

  // ---- CHECK / NOT NULL constraints ------------------------------------
  //
  // Declarative row constraints stored as table properties
  // (`check.<name> = <boolean SQL expr>`, plus `notNullCols = a,b`
  // sugar) and enforced on EVERY write path's rows with one
  // `observe()`-style pass: the constraint aggregates ride the write's
  // own scan as CollectMetrics — no second scan — and a violation
  // aborts BEFORE the manifest commit, so the orphaned attempt dir GCs
  // and the table is untouched. ANSI semantics: a NULL-valued CHECK
  // passes (only FALSE violates); use notNullCols for null rejection.
  // Setting a constraint validates EXISTING rows first (the catalog
  // refuses the ALTER otherwise), so carried rows re-checked by a later
  // rewrite don't trip on legacy data.

  /** (name, boolean SQL expr) constraints stored on `table`. */
  def storedChecks(spark: SparkSession, table: String)
      : Seq[(String, String)] = {
    val (fs, t) = fsFor(spark, table)
    val f = new Path(t, "_meta/props")
    if (!fs.exists(f)) return Nil
    val in = fs.open(f)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    val pairs = text.linesIterator.map(_.trim).filter(_.contains("="))
      .map { l =>
        val i = l.indexOf('='); (l.take(i).trim, l.drop(i + 1).trim)
      }.toSeq
    val checks = pairs.collect {
      case (k, v) if k.toLowerCase.startsWith("check.") && v.nonEmpty =>
        (k.drop("check.".length), v)
    }
    val notNull = pairs.collectFirst {
      case (k, v) if k.equalsIgnoreCase("notNullCols") => v
    }.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map(c => (s"$c is not null", s"`$c` IS NOT NULL"))
    checks ++ notNull
  }

  /** The per-constraint violation-count aggregates (ANSI: NULL passes). */
  private def checkAggs(checks: Seq[(String, String)]): Seq[Column] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    checks.map { case (n, e) =>
      sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)).as(n)
    }
  }

  /** Attach the stored constraints to `df` as observed metrics — the
    * caller writes the returned frame, then [[assertChecks]] right
    * after the action and BEFORE any commit. */
  private def attachChecks(spark: SparkSession, table: String, df: DataFrame)
      : (DataFrame, Option[(org.apache.spark.sql.Observation, Seq[(String, String)])]) = {
    val checks = storedChecks(spark, table)
    if (checks.isEmpty) (df, None)
    else {
      val o = new org.apache.spark.sql.Observation(
        "graft_check_" + java.util.UUID.randomUUID().toString.take(8))
      val aggs = checkAggs(checks)
      (df.observe(o, aggs.head, aggs.tail: _*), Some((o, checks)))
    }
  }

  private def assertChecks(table: String,
      obs: Option[(org.apache.spark.sql.Observation, Seq[(String, String)])])
      : Unit =
    obs.foreach { case (o, checks) =>
      val m = o.get
      val bad = checks.filter { case (n, _) =>
        m.get(n).exists { case l: Long => l > 0L; case _ => false } }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"CHECK constraint violated on $table: " +
            bad.map { case (n, e) => s"'$n' ($e): ${m(n)} row(s)" }
              .mkString("; ") +
            " — write aborted before commit, the table is unchanged")
    }

  /** One-pass validation of `table`'s EXISTING rows against `checks` —
    * the catalog runs this before persisting a new constraint so a
    * declaration can never contradict committed data. Returns the
    * violating constraint names (empty = valid). */
  def validateChecks(spark: SparkSession, table: String,
                     checks: Seq[(String, String)]): Seq[String] =
    if (checks.isEmpty) Nil
    else readTable(spark, table) match {
      case None => Nil
      case Some(df) =>
        val aggs = checkAggs(checks)
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        checks.zipWithIndex.collect {
          case ((n, _), i) if !row.isNullAt(i) && row.getLong(i) > 0L => n
        }
    }

  /** How long an unreferenced ATTEMPT-UNIQUE dir is presumed to belong
    * to an in-flight (possibly rebasing) writer and spared by GC,
    * measured from its last modification. Must exceed the longest
    * plausible commit tail — the gap between a DML's data write and its
    * manifest publish, which a `refreshStats` re-profile of a large
    * table dominates. Crashed attempts' zombies live at most this long
    * past the next commit; the trade is Delta's vacuum-retention trade,
    * sized far smaller because only UNCOMMITTED attempt dirs wait. */
  @volatile private[graft] var gcInFlightGraceMs: Long = 6L * 3600 * 1000

  private def gcVersions(fs: FileSystem, t: Path, keepVersions: Int,
                         retainDaysOverride: Option[Double] = None,
                         dryRun: Option[scala.collection.mutable.ArrayBuffer[String]] = None): Unit = {
    // dry run: record what WOULD delete instead of deleting — the
    // operator's pre-flight for a retention tightening. The would-delete
    // set is computed from the same rules as the real sweep.
    def rm(p: Path, recursive: Boolean): Unit = dryRun match {
      case Some(buf) => buf += p.toString; ()
      case None => fs.delete(p, recursive); ()
    }
    val vd = versionsDir(t)
    val statuses = fs.listStatus(vd)
      .filter(st => ManifestName.matches(st.getPath.getName))
      .sortBy(_.getPath.getName)
    val manifests = statuses.map(_.getPath.getName)
    // time rule: versions committed within the window survive regardless
    // of count (union semantics — see [[vacuum]]); commit instants come
    // from the manifest body, mtime only as the pre-`ts:` fallback
    val cutoff = retainDaysOverride.orElse(storedKeepDays(fs, t))
      .map(d => System.currentTimeMillis() - math.round(d * 86400000.0))
    val byCount = manifests.takeRight(keepVersions).toSet
    // parse manifest bodies LAZILY: without a time cutoff, expiry is
    // decided by the count rule alone and only KEPT manifests need
    // their bodies (for the liveness sets) — a keepDays-retained chain
    // of hundreds of versions would otherwise pay O(total) small-file
    // reads on every publish. With a cutoff, each manifest parses at
    // most once (memoized) to read its commit instant.
    val parseMemo = scala.collection.mutable.HashMap.empty[String, ResolvedVersion]
    def parseOf(st: org.apache.hadoop.fs.FileStatus): ResolvedVersion =
      parseMemo.getOrElseUpdate(st.getPath.getName,
        parseManifest(t, st.getPath.getName.toLong, readManifest(fs, st.getPath)))
    val (kept0, expired) = statuses.partition { st =>
      byCount(st.getPath.getName) || cutoff.exists(c =>
        parseOf(st).commitTsMillis.getOrElse(st.getModificationTime) >= c)
    }
    // dirs an expiring manifest referenced are DEFINITIVELY dead unless
    // a kept manifest still references them — parse before deleting, so
    // the in-flight grace below never postpones collecting a dir whose
    // committed provenance this very GC established (the grace exists
    // for dirs of UNKNOWN provenance: a rebasing loser's attempt vs a
    // crashed one's zombie are indistinguishable by name)
    val expiredDead = expired.flatMap(st => referencedDirs(parseOf(st))).toSet
    expired.foreach(st => rm(st.getPath, false))
    val parsed = kept0.map(parseOf)
    val referenced = parsed.flatMap(referencedDirs).toSet
    // an IN-FLIGHT writer's attempt dirs target version curMax+1 (or,
    // mid-rebase, curMax itself): unreferenced dirs numbered >= curMax
    // are spared, or this GC — running inside the WINNER's commit —
    // would delete a concurrent loser's data out from under its rebase.
    // The number test alone is NOT enough under 3+ writers: a loser
    // rebasing from version n holds a dir numbered n+1 while two other
    // winners advance the table to n+2 — its still-in-flight dir drops
    // below the new max mid-rebase. So unreferenced ATTEMPT-UNIQUE
    // (nonce'd) dirs younger than [[gcInFlightGraceMs]] are spared by
    // modification time as well; a crashed attempt's zombie ages out of
    // the grace window and collects at a later commit. (Deterministic
    // `vNNNNNNNN` dirs keep the pure number rule — full-rewrite
    // publishers are serialized externally and their crash-reclaim
    // semantics depend on same-name reuse.) The rebase commit ALSO
    // re-verifies its own dirs exist right before publishing
    // ([[publishCoW]]/[[publishDvOnly]]), so even a grace-window
    // overrun refuses loudly instead of committing dangling refs.
    val curMax = manifests.lastOption.map(_.toLong).getOrElse(0L)
    val now = System.currentTimeMillis()
    def inFlight(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = st.getPath.getName
      if (expiredDead.contains(n)) return false
      val digits = n.stripPrefix("v").takeWhile(_.isDigit)
      (digits.nonEmpty && digits.toLong >= curMax) ||
        (n.contains('-') && now - st.getModificationTime < gcInFlightGraceMs)
    }
    fs.listStatus(t)
      .filter(st => DataDirName.matches(st.getPath.getName) &&
        !referenced.contains(st.getPath.getName) && !inFlight(st))
      .foreach(st => rm(st.getPath, true))
    // stats/index/zones survive only for dirs whose OWN manifest survives
    // (a carried dir's metadata rows were merged into the carrying
    // version's relation)
    val owned = parsed.map(_.dirName).toSet
    Seq(statsDir(t), indexDir(t), zonesDir(t)).foreach { sd =>
      if (fs.exists(sd))
        fs.listStatus(sd)
          .filter(st => !st.getPath.getName.startsWith(".") &&
            !owned.contains(st.getPath.getName) && !inFlight(st))
          .foreach(st => rm(st.getPath, true))
    }
    // deletion-vector deltas are carried BY REFERENCE across commits
    // (`dv:` header), so a kept manifest keeps every referenced delta's
    // dir alive — exactly the data-file liveness rule (in-flight
    // attempt deltas spared for the same reason as data dirs)
    val dvLive = parsed.flatMap(_.dvFiles.flatMap(
      _.split('/').drop(1).headOption)).toSet
    if (fs.exists(dvDir(t)))
      fs.listStatus(dvDir(t))
        .filter(st => !st.getPath.getName.startsWith(".") &&
          !dvLive.contains(st.getPath.getName) && !inFlight(st))
        .foreach(st => rm(st.getPath, true))
    // a crashed commit attempt's staged `.tmp-*` manifest (attempt-
    // unique names since the CAS-primitive rework) ages out of the
    // grace window and collects here — readers never match dot-names
    fs.listStatus(vd)
      .filter(st => st.getPath.getName.startsWith(".tmp-") &&
        now - st.getModificationTime >= gcInFlightGraceMs)
      .foreach(st => rm(st.getPath, false))
    ()
  }

  // ---- bloom file-skipping index ---------------------------------------
  //
  // Parquet row-group min/max statistics prune range predicates well only
  // when the file layout is clustered on the predicate column (Z-order /
  // repartitionByRange). A point lookup on a HIGH-NDV column that the
  // layout is NOT sorted by — find one account id, one document hash, one
  // terminal serial in a 100 TB table — matches every file's [min, max]
  // and degrades to a full scan. A per-file bloom filter closes that gap:
  // at publish time ONE extra pass over the just-written version files
  // aggregates a fixed-size bitset per (file, column); a point-lookup
  // reader probes the ≤|files|-row index and opens only the files that
  // might contain the key. No false negatives (result parity is exact —
  // the final predicate still runs on the survivors); false positives
  // only cost an extra file open at the usual bloom rate. This is the
  // manifest-table form of Delta Lake / Iceberg bloom column indexes,
  // built from [[graft.functions.BloomExpressions]] (codegen'd probe).

  private def indexDir(table: Path) = new Path(table, "_index")
  private def isIndexDir(metaDir: Path) = metaDir == indexDir(metaDir.getParent)
  private def zonesDir(table: Path) = new Path(table, "_zones")

  /** Remove `column`'s bitsets from EVERY retained `_index` entry — the
    * soundness valve for a widen whose STRING canonicalization is not
    * stable across the change (float→double: `0.1f` indexed as "0.1",
    * but the same bytes probe post-widen as "0.10000000149011612" — a
    * bloom FALSE NEGATIVE, the one failure mode the index must never
    * have). Losing the bitsets only costs pruning (callers degrade to a
    * full read); [[reindexCurrentVersion]] rebuilds them under the wide
    * canonical form. An entry left with no bitset columns is deleted
    * outright. Zone maps and partition pruning stay: their probes
    * coerce NUMERICALLY, and a float upcast to double is exact. */
  private def invalidateBloomColumn(spark: SparkSession, table: String,
                                    column: String): Unit = {
    val (fs, t) = fsFor(spark, table)
    val phys = physicalColumn(spark, table, column)
    val idx = indexDir(t)
    if (!fs.exists(idx)) return
    fs.listStatus(idx).map(_.getPath)
      .filterNot(_.getName.startsWith(".")).foreach { entry =>
      val df = spark.read.parquet(entry.toString)
      if (df.columns.contains(s"b_$phys")) {
        val remaining =
          df.columns.filter(c => c.startsWith("b_") && c != s"b_$phys")
        if (remaining.isEmpty) fs.delete(entry, true)
        else {
          // rewrite beside, then swap: overwriting a path Spark is
          // lazily reading from would race the scan with the delete. A
          // crash between delete and rename leaves the entry absent —
          // the degrade-to-full-read posture, never a stale index
          val tmp = new Path(idx, s".${entry.getName}.widen")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          df.drop(s"b_$phys").coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(tmp.toString)
          fs.delete(entry, true)
          require(fs.rename(tmp, entry),
            s"alterWidenColumn: could not swap rebuilt index entry " +
              s"${entry.getName} on $table")
        }
      }
    }
  }

  /** Default bloom sizing: 2^17 bits (16 KiB) per file per column — ~1%
    * false positives at ~10k distinct keys/file with 7 probes; a 10k-file
    * version's whole index is ~160 MB, driver-readable metadata. */
  val BloomIndexBits: Int = 1 << 17
  val BloomIndexHashes: Int = 7

  /** `REINDEX`: build bloom / zone / stats sidecars for the CURRENT
    * version from ONE read-only scan — zero data files written, zero
    * rewritten. The upgrade path a freshly-CONVERTed table needs (its
    * adoption manifest carries no metadata, and the only alternative is
    * OPTIMIZE — a full rewrite of everything it adopted), and the
    * rebuild verb for an index invalidated by a float→double widen.
    *
    * Column names are LOGICAL; entries key on the physical spelling
    * like every publish-time build. Values canonicalize through the
    * DECLARED type before hashing (`0.1f` under a widened double
    * declaration indexes as "0.10000000149011612" — exactly what a
    * post-widen probe canonicalizes to), so a REINDEX over mixed
    * narrow/wide files is sound by construction. Bare call (no columns,
    * no stats): refresh whatever coverage the current version already
    * carries; refuses when there is nothing to refresh.
    *
    * Entries swap in via write-beside + rename: a concurrent reader
    * either sees the old entry, the new entry, or (in the sub-second
    * swap window) none — degrading to a full read, never probing a torn
    * entry. A DML landing concurrently carries whichever entry its
    * commit observes; both are supersets of their files. At 100 TB the
    * cost is the one scan (bloom/zone aggregate map-side into
    * per-file sketch rows) plus O(|files|) metadata bytes.
    *
    * Returns (version, bloom columns built, zone columns built, stats
    * refreshed). */
  def reindexCurrentVersion(spark: SparkSession, table: String,
                            bloomCols: Seq[String] = Nil,
                            zoneCols: Seq[String] = Nil,
                            withStats: Boolean = false)
      : (Long, Seq[String], Seq[String], Boolean) = {
    import org.apache.spark.sql.functions.{col, expr, lit, max, min}
    import org.apache.spark.sql.graft.BloomExpressions.bloom_build
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"REINDEX: $table is not a versioned table"))
    val (fs, t) = fsFor(spark, table)
    // bare form: refresh the coverage the version already carries
    // (physical spellings in the entries → logical for the rebuild)
    val physToLogical = columnMapping(spark, table).map(_.swap)
    val (curB, curZ, curS) = versionMetadata(spark, table)
    val bare = bloomCols.isEmpty && zoneCols.isEmpty && !withStats
    val doBloom =
      if (bare) curB.map(p => physToLogical.getOrElse(p, p)) else bloomCols
    val doZone =
      if (bare) curZ.map(p => physToLogical.getOrElse(p, p)) else zoneCols
    val doStats = if (bare) curS else withStats
    require(doBloom.nonEmpty || doZone.nonEmpty || doStats,
      s"REINDEX: $table@v${r.version} carries no indexes or stats to " +
        "refresh — name what to build: REINDEX TABLE t BLOOM (cols) " +
        "ZONE (cols) STATS")
    val logical = readTable(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"REINDEX: $table has no readable current version")).schema
    (doBloom ++ doZone).foreach(c =>
      require(logical.exists(_.name == c),
        s"REINDEX: $table has no column '$c'"))
    if (doBloom.nonEmpty || doZone.nonEmpty) {
      // raw physical read of the resolved file set, with the
      // table-root-relative `file` spelling the probes expect. Masked
      // rows may stay indexed — entries are supersets; the mask
      // re-applies at read.
      val files = r.files
      require(files.nonEmpty, s"REINDEX: $table@v${r.version} is empty")
      val paths = files.map(f => new Path(t, f).toString)
      // one single-file probe pins how THIS filesystem renders
      // `_metadata.file_path` (scheme and slashing vary by FS) — the
      // prefix then relativizes every row without string games
      val probe = spark.read.parquet(paths.head)
        .select(col("_metadata.file_path")).limit(1).head().getString(0)
      require(probe.endsWith(files.head),
        s"REINDEX: cannot relativize $probe against ${files.head}")
      val committed = spark.read.option("basePath", t.toString).parquet(paths: _*)
      val rel = expr(s"substring(_metadata.file_path, ${probe.length - files.head.length + 1})")
      def physOf(c: String) = physicalColumn(spark, table, c)
      def declared(c: String) = logical.find(_.name == c).get.dataType
      // ONE aggregation pass builds both sketch families (the scan is
      // the 100 TB cost; the per-file rows are metadata), split into
      // their entries afterwards
      val bloomAggs = doBloom.map { c =>
        val p = physOf(c)
        bloom_build(castString(col(p).cast(declared(c)), Some("UTC")),
          BloomIndexBits, BloomIndexHashes).as(s"b_$p")
      }
      val zoneAggs = doZone.flatMap { c =>
        val p = physOf(c)
        Seq(min(col(p).cast(declared(c))).as(s"min_$p"),
          max(col(p).cast(declared(c))).as(s"max_$p"))
      }
      val aggs = bloomAggs ++ zoneAggs
      val physCols = (doBloom ++ doZone).map(physOf).distinct
      val combined = committed
        .select(rel.as("file") +: physCols.map(col): _*)
        .groupBy("file").agg(aggs.head, aggs.tail: _*)
        .cache()
      try {
        if (doBloom.nonEmpty)
          swapInEntry(spark, fs,
            combined.select(
              ("file" +: doBloom.map(c => s"b_${physOf(c)}")).map(col): _*)
              .withColumn("__utc", lit(true)),
            new Path(indexDir(t), r.dirName), "REINDEX")
        if (doZone.nonEmpty)
          swapInEntry(spark, fs,
            combined.select(("file" +: doZone.flatMap(c =>
              Seq(s"min_${physOf(c)}", s"max_${physOf(c)}"))).map(col): _*),
            new Path(zonesDir(t), r.dirName), "REINDEX")
      } finally { combined.unpersist(); () }
    }
    if (doStats) refreshCommittedStats(spark, table)
    (r.version, doBloom, doZone, doStats)
  }

  /** Write `df` beside `dest`, then swap it in — a live metadata entry
    * is never overwritten in place (a reader racing the overwrite could
    * probe a torn entry whose missing rows read as FALSE NEGATIVES; an
    * ABSENT entry only degrades to a full read). */
  private def swapInEntry(spark: SparkSession, fs: FileSystem,
                          df: DataFrame, dest: Path, ctx: String): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.rebuild")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(dest)) fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"$ctx: could not swap entry $dest")
  }

  /** One scan of the version's committed files → per-(file, column)
    * bitsets, wide layout: (file, b_<col1>, b_<col2>, …). `file` is
    * stored TABLE-ROOT-relative (the manifest's spelling) so a
    * relocated/renamed table keeps its index valid. Values index by
    * their canonical string cast (probe side must cast identically —
    * [[bloomCandidateFiles]] does). */
  private def buildBloomIndex(spark: SparkSession, fs: FileSystem, t: Path,
                              dataName: String, cols: Seq[String]): Unit =
    writeMetaEntry(spark, fs,
      bloomIndexDf(spark, new Path(t, dataName).toString, dataName, cols),
      new Path(indexDir(t), dataName))

  /** The per-(file, column) bitset relation over the files of the data
    * dir `dataPath` named `marker0`, spelled root-relative
    * (`marker0/…`, [[rootRelFile]]).
    *
    * Values hash by their canonical string cast rendered under a PINNED
    * UTC time zone (`utc = true`, the default, marked by a constant
    * `__utc` column): a timestamp's string form depends on the casting
    * session's zone, and an index hashed under the BUILDING session's
    * zone would silently false-negative for any probing session
    * configured differently — the one failure mode the index must never
    * have. Probes read the marker and canonicalize identically
    * ([[bloomHitExpr]]). `utc = false` reproduces the legacy
    * session-zone form, used ONLY when carrying a legacy (unmarked)
    * index across a CoW commit — a legacy chain stays internally
    * consistent until its next full publish upgrades it. */
  private def bloomIndexDf(spark: SparkSession, dataPath: String,
                           marker0: String, cols: Seq[String],
                           utc: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graft.BloomExpressions.bloom_build
    val committed = readDataDir(spark, dataPath, Seq(dataPath))
    val rel = rootRelFile(marker0)
    def canon(c: String): Column =
      if (utc) castString(col(c), Some("UTC")) else col(c).cast("string")
    val aggs = cols.map(c =>
      bloom_build(canon(c), BloomIndexBits, BloomIndexHashes)
        .as(s"b_$c"))
    val base = committed
      .select(rel.as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
    if (utc) base.withColumn("__utc", lit(true)) else base
  }

  /** `_metadata.file_path` of a row read from a file under the data
    * dir `dir`, spelled table-root-relative (`dir/…`) — the spelling of
    * manifest file lines, metadata entries and mask entries (URI-escaped,
    * as `_metadata.file_path` renders it; see [[relUriSpelling]]). */
  private def rootRelFile(dir: String): Column =
    org.apache.spark.sql.functions.expr(
      s"concat('$dir/', substring(_metadata.file_path, " +
        s"instr(_metadata.file_path, '/$dir/') + ${dir.length + 2}))")

  /** A string cast evaluated under an EXPLICIT time zone (the
    * DataFrame-API `cast` always uses the session zone). */
  private def castString(c: Column, tz: Option[String]): Column =
    org.apache.spark.sql.graft.BloomExpressions.cast_string_tz(
      c, tz.getOrElse("UTC"))

  /** The candidate core shared by [[prunedFiles]] and the DML verbs
    * (which prune against the version they already resolved): ONE file
    * set satisfying a conjunction of point predicates (bloom-probed, and
    * path-pruned on partition columns) and range predicates
    * (zone-probed) — candidate sets INTERSECT, because every predicate
    * must hold. Predicates on unindexed columns contribute nothing (the
    * caller re-applies the exact predicates on the survivors, so
    * pruning is only ever a file-skip optimization, never a correctness
    * dependence). Returns (surviving root-relative files, all
    * root-relative files). */
  private def prunedFileCore(spark: SparkSession, table: String,
                             r: ResolvedVersion,
                             point: Map[String, Seq[Any]],
                             ranges: Map[String, (Any, Any)])
      : (Seq[String], Seq[String]) = {
    val all = r.files
    var cand: Set[String] = pointCandidates(spark, table, r, all, point).toSet
    ranges.foreach { case (c, (lo, hi)) =>
      zoneCandidateFiles(spark, table, c, lo, hi, Some(r.version))
        .foreach(cs => cand = cand.intersect(cs.toSet))
    }
    (all.filter(cand), all)
  }

  /** The index-pruned file set of `table`@`version` (current by
    * default) for readers that assemble their own scan (the DSv2 `graft`
    * source): absolute surviving file paths, the
    * partition columns the file LAYOUT encodes (Hive `key=value`
    * segments — empty for flat layouts), and (survivors, total) as
    * pruning evidence. Metadata-only: index probes + path arithmetic,
    * no data I/O. */
  def prunedFiles(spark: SparkSession, table: String,
                  point: Map[String, Seq[Any]] = Map.empty,
                  ranges: Map[String, (Any, Any)] = Map.empty,
                  version: Option[Long] = None)
      : Option[(Seq[String], Seq[String], Int, Int)] =
    resolveVersion(spark, table, version) match {
      case Some(r) =>
        Some {
          val (files, all) = prunedFileCore(spark, table, r, point, ranges)
          (files.map(f => s"$table/$f"), partitionColsOf(all),
            files.size, all.size)
        }
      case None if version.isEmpty && hasData(spark, table) =>
        // plain-directory table (the migration posture [[readTable]]
        // already serves): no manifest → no indexes → no pruning, but
        // the scan must not fail where the schema resolution succeeded;
        // partition columns come straight off the root-relative layout —
        // no version-dir segment to drop here. Hidden segments stay
        // hidden, as `spark.read.parquet` would skip them, or the scan
        // would serve partial/duplicate rows
        val files = {
          val (fs, t) = fsFor(spark, table)
          parquetFilesUnder(fs, t, t).map(_._1)
        }
        Some((files.map(f => s"$table/$f"), partitionColsOf(files),
          files.size, files.size))
      case None => None
    }

  /** Prune a root-relative file list by Hive-layout partition VALUES:
    * a file under `column=v` can only hold rows with that value, so
    * probe values canonicalized through the column's type (the same
    * discipline as [[bloomHitExpr]] — a long probe against a double
    * partition must stringify as the path did) keep only matching
    * subdirs. Files whose path does not encode the column (flat files
    * in a mixed chain) always stay — they could hold anything. The
    * null partition is pruned: probe values are non-null by the
    * callers' guards. Pure path arithmetic, zero I/O.
    *
    * Caveat: Spark's dynamic-partition writer renders TIMESTAMP
    * partition values under the WRITING session's time zone, which the
    * layout does not record — probe under the same zone, or partition
    * by a date/string derivative instead (timestamp-typed partition
    * columns are an antipattern at any scale for exactly this
    * reason). */
  private def partitionCandidates(spark: SparkSession, table: String,
                                  files: Seq[String],
                                  column0: String, values: Seq[Any],
                                  colType: org.apache.spark.sql.types.DataType)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    // paths encode PHYSICAL spellings; callers probe by logical name
    val column = physicalColumn(spark, table, column0)
    // session tz: the dynamic-partition writer stringified the path
    // values under it, so the probe must match (see [[bloomHitExpr]])
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def canon(v: Any): Option[String] =
      Option(Cast(Cast(Literal(v), colType, tz), StringType, tz).eval())
        .map(_.toString)
    val want = values.flatMap(canon(_)).toSet
    val seg = s"$column="
    files.filter { f =>
      // positional-prefix-free (see [[partitionColsOf]]): pre-conversion
      // files encode their layout from the table root
      f.split('/').dropRight(1).collectFirst {
        case s if s.startsWith(seg) => s.drop(seg.length)
      } match {
        case None => true
        case Some(enc) => want.contains(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(enc))
      }
    }
  }

  /** ONE bloom probe expression for a whole key set: the probes
    * canonicalize driver-side into a single array LITERAL and an
    * `exists` HOF loops the per-value membership test — generated code
    * is constant-size no matter how many keys (an OR chain of per-value
    * probes, even log-depth, overflows janino's 64 KB method limit
    * around ~1k values and falls out of whole-stage codegen; data
    * belongs in a literal, not in code). Canonicalization goes through
    * the COLUMN's type first: the build side hashed `col.cast(string)`
    * of the stored type, so a probe of a different numeric type
    * stringifies differently (2 vs 2.0) and would produce a bloom FALSE
    * NEGATIVE — the one failure mode the index must never have. For the
    * same reason canonicalization runs under the TIME ZONE the build
    * side hashed with: UTC for `__utc`-marked indexes
    * ([[bloomIndexDf]] — zone-invariant across sessions), the probing
    * session's zone for legacy unmarked ones (their pre-existing
    * same-session contract). A value that cannot canonicalize (casts to
    * null) makes the whole probe unusable → None, and the caller skips
    * pruning — safe, never a missed file. */
  private def bloomHitExpr(spark: SparkSession, column: String,
                           values: Seq[Any],
                           colType: Option[org.apache.spark.sql.types.DataType],
                           utcIndex: Boolean)
      : Option[Column] = {
    import org.apache.spark.sql.functions.{col, exists, typedlit}
    import org.apache.spark.sql.graft.BloomExpressions.bloom_might_contain
    bloomProbeStrings(spark, values, colType, utcIndex).map(probes =>
      exists(typedlit(probes),
        p => bloom_might_contain(col(s"b_$column"), p, BloomIndexHashes)))
  }

  /** The distinct canonical probe strings of `values` ([[bloomHitExpr]]'s
    * rules); None when one of them cannot canonicalize. */
  private def bloomProbeStrings(spark: SparkSession, values: Seq[Any],
                                colType: Option[org.apache.spark.sql.types.DataType],
                                utcIndex: Boolean): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    import org.apache.spark.sql.types.StringType
    val tz =
      if (utcIndex) Some("UTC")
      else Some(spark.sessionState.conf.sessionLocalTimeZone)
    def canon(v: Any): Option[String] = {
      val typed = colType.fold(Literal(v): Expression)(t =>
        Cast(Literal(v), t, tz))
      Option(Cast(typed, StringType, tz).eval()).map(_.toString)
    }
    val probes = values.map(canon)
    if (probes.exists(_.isEmpty)) None else Some(probes.flatten.distinct)
  }

  /** Column types of one committed version — the probe-canonicalization
    * and write-alignment reference. Metadata only: each data dir's
    * schema comes from the data-schema memo, so after a dir's first read
    * this starts no Spark job (the manifest parse and the declared
    * schema memoize too). */
  private def versionSchema(spark: SparkSession, table: String,
                            r: ResolvedVersion)
      : org.apache.spark.sql.types.StructType =
    readResolvedRaw(spark, table, r).schema

  /** Align `df` to the table's committed schema by SAFE upcasts only
    * (int→long, float→double, …): a CoW rewrite whose new file stores a
    * widened type beside carried files of the original would poison the
    * table, and a LOSSY cast is schema drift in disguise — both refuse
    * loudly. */
  private def alignToSchema(df: DataFrame,
                            schema: org.apache.spark.sql.types.StructType,
                            ctx: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(schema.map { f =>
      val from = df.schema(f.name).dataType
      if (from == f.dataType) col(f.name)
      else {
        require(org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(from, f.dataType),
          s"$ctx: column ${f.name} arrives as $from but the table stores " +
            s"${f.dataType} — not a safe upcast; align the writer's types")
        col(f.name).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** The files of `table`@`version` (current by default), always
    * table-root-relative like the manifest's own file lines, that MIGHT
    * contain one of `values` in `column`, per the
    * persisted bloom index. None = the version has no index over that
    * column (caller degrades to a full read, never fails); Some(files) is
    * a superset of the truly-matching files — bloom false positives cost
    * an extra open, false negatives cannot occur. The probe touches only
    * the ≤|files|-row index entry, zero data I/O, and runs on the driver
    * against the memoized entry ([[probeBloomEntry]]). */
  def bloomCandidateFiles(spark: SparkSession, table: String, column: String,
                          values: Seq[Any],
                          version: Option[Long] = None): Option[Seq[String]] = {
    val (fs, t) = fsFor(spark, table)
    val dataName = (version match {
      case Some(v) => readTableVersionPath(spark, table, v)
      case None => currentVersion(spark, table).map(_._2)
    }).map(p => p.substring(p.lastIndexOf('/') + 1))
    // the index was built from raw files → PHYSICAL spelling; the type
    // lookup resolves through the reconciled (logical) schema
    val physCol = physicalColumn(spark, table, column)
    dataName.flatMap { dn =>
      probeBloomEntry(spark, fs, new Path(indexDir(t), dn), physCol, values,
        resolveVersion(spark, table, version)
          .map(versionSchema(spark, table, _))
          .flatMap(_.find(_.name == column)).map(_.dataType))
    }
  }

  // ---- zone maps (per-file min/max) ------------------------------------
  //
  // The range-predicate complement of the bloom index: parquet footers
  // already carry per-file min/max, but USING them costs one footer open
  // per file — at a 100 TB table that is thousands of object-store reads
  // before the first data byte. Consolidating the (file, min, max) rows
  // into one small relation at publish time turns range pruning into a
  // single metadata read. Works best on columns the layout is clustered
  // by (repartitionByRange / Z-order): then each file covers a narrow
  // slice and a range predicate keeps only its overlap.

  /** Per-file min/max relation over the files of the data dir
    * `dataPath` named `marker0` — wide layout (file, min_<c>, max_<c>,
    * …), one scan for all columns, `file` spelled root-relative. */
  private def zoneMapDf(spark: SparkSession, dataPath: String,
                        marker0: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, min}
    val committed = readDataDir(spark, dataPath, Seq(dataPath))
    val rel = rootRelFile(marker0)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    committed
      .select(rel.as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files of `table`@`version` (current by default), always
    * table-root-relative, whose [min, max] zone OVERLAPS [lo, hi] on
    * `column` (inclusive; pass the column's
    * native type). None = no zone map over that column — degrade to a
    * full read. All-null files never match. */
  def zoneCandidateFiles(spark: SparkSession, table: String, column: String,
                         lo: Any, hi: Any,
                         version: Option[Long] = None): Option[Seq[String]] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, t) = fsFor(spark, table)
    // zones were folded from raw files → PHYSICAL spelling
    val physCol = physicalColumn(spark, table, column)
    resolveVersion(spark, table, version).flatMap { r =>
      val zp = new Path(zonesDir(t), r.dirName)
      if (!fs.exists(zp)) None
      else {
        val zones = spark.read.parquet(zp.toString)
        if (!zones.columns.contains(s"min_$physCol")) None
        else Some(zones
          .filter(col(s"max_$physCol") >= lit(lo) && col(s"min_$physCol") <= lit(hi))
          .select("file").collect().map(_.getString(0)).toSeq)
      }
    }
  }

  // ---- deletion vectors (merge-on-read point DML) -----------------------
  //
  // Copy-on-write rewrites every file that holds a touched key — right
  // when keys cluster (the file count stays small), but a SCATTERED-key
  // workload (GDPR erasure of 1M users spread across ~every file of a
  // 100 TB table) degenerates to a full-table rewrite. The merge-on-read
  // answer is a deletion vector: a tiny per-version sidecar of
  // (file, row-position) pairs masking deleted rows, written under the
  // same CAS commit discipline as stats/indexes — ZERO data files
  // rewritten. Layout: each commit's OWN entries land as a delta under
  // `_dv/<dataDirName>/` and the manifest carries the full chain BY
  // REFERENCE (`dv:` header lines) — the version's mask is the union of
  // its referenced deltas, so every retained version reads with exactly
  // its own mask (time travel and change feeds stay value-exact for
  // free) at O(own rows) sidecar I/O per commit, and GC keeps
  // referenced delta dirs alive exactly like data dirs. Positions are
  // parquet row indexes (`_metadata.row_index`), recorded and
  // re-derived by the same expression, so the mask is stable across
  // readers.
  //
  // Read cost: the DSv2 scan drops masked positions IN-SCAN on the
  // columnar fast path (GraftDvScan — bloom/zone pruning, committed
  // stats and aggregate honesty all survive the MoR window); API reads
  // pay a (file, pos) anti-join on masked files only — clean files
  // read exactly as before. `OPTIMIZE` (or the compactMaskedRows
  // budget) folds the vectors into a clean rewrite on the maintenance
  // cadence. Every CoW rewrite reads MASKED data and drops the
  // rewritten files' entries, so the two DML tiers compose on one
  // chain.

  private def dvDir(table: Path) = new Path(table, "_dv")

  /** The URI-escaped spelling of a root-relative file path — the form
    * `_metadata.file_path` uses, and therefore the form deletion-vector
    * `file` entries are written in (they derive from it). Manifests and
    * FileSystem listings carry the RAW on-disk name instead; any
    * comparison between the two sides (the masked/clean file split, the
    * anti-join gate, retiring a touched file's mask entries) must route
    * the raw side through this one canonical form — a partition value
    * with URI-escapable characters (space, `%`, `#`) spells differently
    * in the two worlds, and a missed match would silently resurrect
    * deleted rows. Hadoop's own Path→URI encoding is the reference
    * implementation, so encode with it rather than re-deriving the
    * escape table. */
  def relUriSpelling(rel: String): String =
    new Path("/" + rel).toUri.getRawPath.stripPrefix("/")

  // ---- deletion-vector presence cache ------------------------------------
  //
  // `hasDeletionVectors` is probed inside analyzer/scan-build paths that
  // can run several times per query (rule fixed points, one per relation)
  // — on an object store each probe is metadata RPC latency. A committed
  // version is IMMUTABLE, so its answer can never go stale: memoize per
  // (qualified table path, version). The only way a (path, version) pair
  // can recur with different content is dropping and recreating a table
  // at the same path — `deleteIfExists` (the one deletion choke point)
  // invalidates the path's entries.
  private val dvPresenceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()
  /** Uncached-probe counter — spec observability for the memoization. */
  private[graft] val dvProbeCount = new java.util.concurrent.atomic.AtomicLong(0L)

  private def qualifiedTableKey(spark: SparkSession, table: String): String = {
    val (fs, t) = fsFor(spark, table)
    fs.makeQualified(t).toString
  }

  /** Forget everything memoized about tables at or below `path`: DV
    * presence, manifest parses, data-dir schemas and bloom entries. */
  private[graft] def invalidateReadMemos(spark: SparkSession, path: String): Unit = {
    val q = qualifiedTableKey(spark, path)
    def under(k: String) = k == q || k.startsWith(q + "/")
    dvPresenceCache.keySet.removeIf(k => under(k._1))
    manifestCache.keySet.removeIf(k => under(k._1))
    dataSchemaMemo.keySet.removeIf(k => under(k._1))
    bloomEntryMemo.keySet.removeIf(k => under(k._1))
  }

  /** Refuse non-deterministic DML expressions — the rule every lakehouse
    * engine enforces for row-level DML. The merge-on-read verbs derive
    * TWO artifacts from the matched set (the deletion-vector entries and
    * the re-inserted images), and on a real cluster any stage can be
    * recomputed after executor loss; a predicate like `rand() < 0.1`
    * could mask one row set and re-insert a different one, silently
    * losing or duplicating rows. Checked on the ANALYZED plan, where
    * `rand()`/`uuid()` have resolved to their nondeterministic forms —
    * an unresolved-function check would miss them. */
  private def requireDeterministicPlan(df: DataFrame, verb: String): Unit =
    require(!df.queryExecution.analyzed.exists(
        p => p.expressions.exists(e => !e.deterministic)),
      s"$verb: DML predicates and SET expressions must be deterministic — " +
        "the masked row set and the re-inserted images come from separate " +
        "physical evaluations that must agree row-for-row")

  /** The version's deletion-vector relation — (file STRING
    * table-root-relative, pos LONG parquet row index) — if it carries
    * one: the union of the manifest's `dv:` delta references. No `dv:`
    * line, no mask — metadata-only, no probe. */
  private def readDvRelation(spark: SparkSession, table: String,
                             r: ResolvedVersion): Option[DataFrame] =
    if (r.dvFiles.isEmpty) None
    else Some(spark.read.parquet(r.dvFiles.map(f => s"$table/$f"): _*))

  /** Does `table`@`version` (current by default) mask rows through a
    * deletion vector? Metadata-only, and memoized per (table, version)
    * — versions are immutable, so the steady no-DV state costs one
    * probe per (table, version) per session, not one per analyzer pass
    * per relation. */
  def hasDeletionVectors(spark: SparkSession, table: String,
                         version: Option[Long] = None): Boolean =
    resolveVersion(spark, table, version).exists { r =>
      val key = (qualifiedTableKey(spark, table), r.version)
      val cached = dvPresenceCache.get(key)
      if (cached != null) cached.booleanValue()
      else {
        dvProbeCount.incrementAndGet()
        if (dvPresenceCache.size() > 65536) dvPresenceCache.clear()
        val v = r.dvFiles.nonEmpty
        dvPresenceCache.put(key, java.lang.Boolean.valueOf(v))
        v
      }
    }

  /** Per-file masked row positions for a scan over `relFiles` (manifest
    * spelling, table-root-relative) of `table`@`version`: keys are the
    * URI spelling a scan task derives from its PartitionedFile path
    * ([[relUriSpelling]]), values sorted ascending for binary search.
    * None when the version carries no vector; an empty map when it does
    * but no scanned file is masked (the wrapper then only strips the
    * row-index column). The scanned-file membership is pushed INTO the
    * sidecar read (an `InSet` probe evaluated where the delta files are
    * scanned), so the driver materializes O(scanned files' masks) —
    * never the table's whole live mask — and ships each task only its
    * own files' positions; the residual driver footprint is bounded by
    * the OPTIMIZE / `compactMaskedRows` cadence that folds masks away. */
  def dvMaskForScan(spark: SparkSession, table: String,
                    version: Option[Long],
                    relFiles: Seq[String])
      : Option[Map[String, Array[Long]]] =
    resolveVersion(spark, table, version).flatMap { r =>
      readDvRelation(spark, table, r).map { dv =>
        import org.apache.spark.sql.functions.col
        val wanted = relFiles.map(relUriSpelling)
        val rows =
          if (wanted.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else dv.select("file", "pos")
            .where(col("file").isInCollection(wanted))
            .collect()
        dvMaskCollectedEntries.addAndGet(rows.length)
        rows.iterator
          .map(e => (e.getString(0), e.getLong(1)))
          .toArray.groupBy(_._1)
          .map { case (f, ps) => f -> ps.map(_._2).sorted }
      }
    }

  /** Mask entries [[dvMaskForScan]] has collected driver-side since
    * process start — spec observability that scan planning materializes
    * only the SCANNED files' entries, not the table's whole mask. */
  private[graft] val dvMaskCollectedEntries =
    new java.util.concurrent.atomic.AtomicLong

  /** Number of deletion-vector delta FILES the current version carries
    * by reference — the chain-length signal beside [[deletionVectorRows]]
    * (a long chain of tiny deltas costs one small read per delta per
    * scan; the fold consolidates). Metadata-only. */
  def deletionVectorDeltaFiles(spark: SparkSession, table: String): Int =
    resolveVersion(spark, table, None)
      .map(_.dvFiles.size).getOrElse(0)

  /** Rows masked by the CURRENT version's deletion vector (0 when
    * none) — the OPTIMIZE-cadence signal beside [[versionSpanDirs]].
    * Counts LIVE entries only: a carried delta may hold entries for
    * since-rewritten files, which mask nothing. */
  def deletionVectorRows(spark: SparkSession, table: String): Long =
    resolveVersion(spark, table, None).flatMap { r =>
      readDvRelation(spark, table, r).map { dv =>
        val live = r.files.map(relUriSpelling).toSet
        dv.groupBy("file").count().collect()
          .filter(e => live.contains(e.getString(0)))
          .map(_.getLong(1)).sum
      }
    }.getOrElse(0L)

  /** Read `files` with each row's (root-relative file, parquet row
    * index) tagged as `__dv_file`/`__dv_pos` and `dv`'s pairs ALREADY
    * masked away — the shared core of the masked read (tags dropped)
    * and the DV-writing verbs (tags become the next vector's entries;
    * reading masked here is what makes re-deleting a masked row a
    * provable no-op and updating one impossible). Only files named in
    * the vector pay the anti-join. */
  private def taggedMaskedRead(spark: SparkSession, table: String,
                               files: Seq[String],
                               dv: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val decl = declaredSchema(spark, table)
    val dvFiles: Set[String] = dv.map(_.select("file").distinct()
      .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    val groups = files.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
    val perGroup = groups.map { case (dir, fs0) =>
      // masked files are always under managed dirs: the MoR verbs refuse
      // pre-conversion candidates ([[refuseUnmanagedMoR]]) — a root-
      // group file here would mis-anchor the marker and mis-spell masks
      require(DataDirName.matches(dir),
        s"taggedMaskedRead: unmanaged file group '$dir' cannot carry a " +
          "deletion-vector mask (internal invariant)")
      val raw = readDataDir(spark, s"$table/$dir", fs0.map(f => s"$table/$f"))
        .drop(RowIdCol)
      val tagged = raw.select(Seq(rootRelFile(dir).as("__dv_file"),
        expr("_metadata.row_index").as("__dv_pos")) ++
        raw.columns.map(col).toSeq: _*)
      val masked =
        // fs0 carries manifest (raw) spellings, dvFiles the URI spelling
        if (!fs0.exists(f => dvFiles.contains(relUriSpelling(f))))
          tagged // no masked rows in this group
        else tagged.join(
          dv.get.select(col("file").as("__dv_file"), col("pos").as("__dv_pos")),
          Seq("__dv_file", "__dv_pos"), "left_anti")
      // reconcile the DATA columns to the declared width AND types
      // before the union (see [[readFilesGrouped]] / [[castToDeclared]]
      // — a widened or nested-evolved leaf must resolve on MASKED files
      // exactly as on clean ones, or the union above mixes widths); the
      // tags ride in front
      val dataCols = masked.columns.filterNot(Set("__dv_file", "__dv_pos"))
      def declared(f: org.apache.spark.sql.types.StructField,
                   src: String): Column =
        castToDeclared(col(src), masked.schema(src).dataType, f.dataType)
          .as(f.name)
      decl match {
        case Some(d) if mappingActive(d) =>
          // strict mapped resolution with the logical-spelling fallback
          // (see [[reconcileTo]]); tags in front
          masked.select(col("__dv_file") +: col("__dv_pos") +: d.map { f =>
            val p = physicalOf(f)
            if (dataCols.contains(p)) declared(f, p)
            else if (dataCols.contains(f.name)) declared(f, f.name)
            else org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name)
          }: _*)
        case Some(d) if dataCols.toSet.subsetOf(d.fieldNames.toSet) &&
            (dataCols.toSet != d.fieldNames.toSet ||
              d.exists(f => dataCols.contains(f.name) &&
                masked.schema(f.name).dataType != f.dataType)) =>
          masked.select(col("__dv_file") +: col("__dv_pos") +: d.map(f =>
            if (dataCols.contains(f.name)) declared(f, f.name)
            else org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name)): _*)
        case _ => masked
      }
    }
    perGroup.reduce(_.unionByName(_))
  }

  /** [[readFilesGrouped]] with the version's deletion vector applied —
    * the LOGICAL content read every consumer resolves through. */
  private def readFilesGroupedDv(spark: SparkSession, table: String,
                                 files: Seq[String],
                                 r: ResolvedVersion): DataFrame =
    readDvRelation(spark, table, r) match {
      case None => readFilesGrouped(spark, table, files)
      case Some(dv) =>
        // split: clean files read plain (no metadata columns, no join),
        // masked files pay the anti-join
        val dvFiles = dv.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val (masked, clean) =
          files.partition(f => dvFiles.contains(relUriSpelling(f)))
        val parts =
          Seq(
            if (clean.nonEmpty) Some(readFilesGrouped(spark, table, clean)) else None,
            if (masked.nonEmpty)
              Some(taggedMaskedRead(spark, table, masked, Some(dv))
                .drop("__dv_file", "__dv_pos"))
            else None).flatten
        if (parts.isEmpty) readFilesGrouped(spark, table, files)
        else parts.reduce(_.unionByName(_))
    }

  // ---- copy-on-write row-level DML -------------------------------------
  //
  // Correcting one record in a 100 TB table must not rewrite 100 TB.
  // With file-list manifests the update unit becomes the FILE: resolve
  // which files might hold the touched keys (the bloom index — without
  // one, every file is a candidate), rewrite ONLY those into the new
  // version's own dir, and commit a manifest that lists the rewritten
  // files plus every untouched file BY REFERENCE. Readers, time travel,
  // change feeds and GC all resolve through the same manifest parse, so
  // a DML version behaves exactly like a full publish — at O(touched
  // files) write cost. The bloom index follows the same economics: rows
  // for untouched files carry over, only the new dir is re-indexed.
  //
  // Key sets scale through two regimes: small batches collect their keys
  // and drive a driver-side bloom probe; batches above `maxPointKeys`
  // resolve their touched files DISTRIBUTIVELY against the persisted
  // bloom index (candidatesDistributed) — file-granular either way.
  // Keys must be non-null.

  // ---- row tracking (stable per-row identity without key columns) ------
  //
  // A keyless fact table — the append-heavy log-shaped case — cannot
  // produce CDC by key diffing. Row tracking closes the gap: every row
  // gets a STABLE 64-bit id, `base(file) + row_index` (bases are
  // manifest-assigned per file, `rid:` headers), and a tracked CoW
  // rewrite carries survivors' ids PHYSICALLY in a hidden
  // `_graft_row_id` column so identity survives the move (deletion-
  // vector commits never move rows, so MoR identity is free). The
  // change feed, table_changes, the streaming CDF source, and replica
  // maintenance then key on `_row_id` with the same file-granular diff
  // as the keyed feed. Delta Lake's row-tracking shape, re-expressed
  // over the manifest: bases in headers instead of a log action,
  // materialization through the same CoW carry that moves data columns.

  /** The hidden physical column a tracked rewrite stores carried ids
    * in. Never visible to readers ([[readFilesGrouped]] and friends
    * drop it); the PUBLIC feed column is `_row_id`. */
  val RowIdCol = "_graft_row_id"

  /** Is row tracking live on the table's current version? (Tracking
    * turns on by setting the `rowTracking=true` table property — the
    * next commit backfills bases for every file — and stays on from
    * then no matter the property.) */
  def isRowTracked(spark: SparkSession, table: String): Boolean =
    resolveVersion(spark, table, None).exists(_.rowTracked)

  private def rowTrackingRequested(spark: SparkSession,
                                   table: String): Boolean =
    GraftCatalog.readProps(spark, table).get("rowTracking")
      .exists(_.equalsIgnoreCase("true"))

  /** Parquet footer row count — one metadata read, no data I/O. */
  private def parquetRowCount(fs: FileSystem, p: Path,
                              conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(fs.makeQualified(p), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The `ridwm:`/`rid:` header lines for a commit over `files`:
    * carried files keep their bases verbatim; files WITHOUT one (this
    * commit's own new files — or every file, when tracking was just
    * enabled on an existing table) get fresh ranges above the
    * watermark, one footer row-count read each (metadata-class, paid
    * once per file ever). Over-allocation is fine: rows whose id is
    * physically materialized simply never use their file's derived
    * range. */
  private def ridHeaders(fs: FileSystem, t: Path,
                         conf: org.apache.hadoop.conf.Configuration,
                         files: Seq[String], priorBases: Map[String, Long],
                         priorWm: Long): Seq[String] = {
    var wm = priorWm
    val lines = files.sorted.map { f =>
      priorBases.get(f) match {
        case Some(b) => s"rid:$b:$f"
        case None =>
          val line = s"rid:$wm:$f"
          wm += parquetRowCount(fs, new Path(t, f), conf)
          line
      }
    }
    s"ridwm:$wm" +: lines
  }

  /** Read `files` of a tracked version WITH the stable `_row_id`
    * column: data columns reconcile to the version's logical schema
    * (mapping-aware, widen-upcasting, NULL-filling), masked rows drop,
    * and the id materializes as `coalesce(physical _graft_row_id,
    * file base + row_index)`. The base lookup broadcasts (O(|files|)
    * rows); everything else is the plain grouped scan. */
  private def readFilesRowId(spark: SparkSession, table: String,
                             files: Seq[String],
                             r: ResolvedVersion): DataFrame = {
    import org.apache.spark.sql.functions._
    require(r.rowTracked,
      s"readFilesRowId: $table@v${r.version} is not row-tracked — set " +
        "TBLPROPERTIES('rowTracking'='true') and land one commit")
    val target = versionSchema(spark, table, r)
    val mapping = columnMapping(spark, table)
    val dv = readDvRelation(spark, table, r)
    val dvFiles: Set[String] = dv.map(_.select("file").distinct()
      .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    val groups = files.groupBy { f =>
      val seg = f.takeWhile(_ != '/')
      if (DataDirName.matches(seg)) seg else ""
    }.toSeq.sortBy(_._1)
    val perGroup = groups.map { case (dir, fs0) =>
      val basePath = if (dir.isEmpty) table else s"$table/$dir"
      val paths = fs0.map(f => s"$table/$f")
      val raw =
        if (dir.isEmpty) spark.read.option("basePath", basePath).parquet(paths: _*)
        else readDataDir(spark, basePath, paths)
      val rel: Column =
        if (dir.isEmpty) {
          // pre-conversion files at the table root: prefix-probe the
          // filesystem's file_path rendering (the REINDEX discipline)
          val probe = spark.read.parquet(s"$table/${fs0.head}")
            .select(col("_metadata.file_path")).limit(1).head().getString(0)
          require(probe.endsWith(fs0.head),
            s"readFilesRowId: cannot relativize $probe against ${fs0.head}")
          expr(s"substring(_metadata.file_path, " +
            s"${probe.length - fs0.head.length + 1})")
        } else rootRelFile(dir)
      val phys: Column =
        if (raw.columns.contains(RowIdCol)) col(RowIdCol)
        else lit(null).cast("long")
      // inline reconcile (the [[reconcileTo]] rules) so the helper
      // columns survive beside the data columns
      val dataCols = target.map { f =>
        val p = mapping.getOrElse(f.name, f.name)
        val src =
          if (raw.columns.contains(p)) p
          else if (raw.columns.contains(f.name)) f.name
          else ""
        if (src.isEmpty) lit(null).cast(f.dataType).as(f.name)
        else {
          val from = raw.schema(src).dataType
          (if (from != f.dataType &&
               org.apache.spark.sql.catalyst.expressions.Cast
                 .canUpCast(from, f.dataType)) col(src).cast(f.dataType)
           else col(src)).as(f.name)
        }
      }
      raw.select(dataCols ++ Seq(rel.as("__rid_file"),
        expr("_metadata.row_index").as("__rid_pos"),
        phys.as("__rid_phys")): _*)
    }
    val tagged = perGroup.reduce(_.unionByName(_))
    val masked = dv match {
      case Some(d) if files.exists(f => dvFiles.contains(relUriSpelling(f))) =>
        tagged.join(d.select(col("file").as("__rid_file"),
            col("pos").as("__rid_pos")),
          Seq("__rid_file", "__rid_pos"), "left_anti")
      case _ => tagged
    }
    import spark.implicits._
    val lookup = broadcast(r.rowIdBases.toSeq
      .map { case (f, b) => (relUriSpelling(f), b) }
      .toDF("__rid_file", "__rid_base"))
    masked.join(lookup, Seq("__rid_file"), "left")
      .withColumn("_row_id",
        coalesce(col("__rid_phys"), col("__rid_base") + col("__rid_pos")))
      .drop("__rid_file", "__rid_pos", "__rid_phys", "__rid_base")
  }

  /** The table's content WITH the stable `_row_id` column — the read a
    * keyless replica applies feeds against. Refuses untracked tables
    * with the enabling step. */
  def readWithRowId(spark: SparkSession, table: String,
                    version: Option[Long] = None): Option[DataFrame] =
    resolveVersion(spark, table, version)
      .map(r => readFilesRowId(spark, table, r.files, r))

  /** The touched-file read a CoW rewrite starts from: on a TRACKED
    * table, survivors carry their stable id in the physical carrier
    * column — the rewrite then stores it, and identity survives the
    * move (inserted rows leave it null and derive from the new file's
    * base). Untracked tables read plain. */
  private def readTouchedForRewrite(spark: SparkSession, table: String,
                                    touched: Seq[String],
                                    r: ResolvedVersion): DataFrame =
    if (r.rowTracked)
      readFilesRowId(spark, table, touched, r)
        .withColumnRenamed("_row_id", RowIdCol)
    else readFilesGroupedDv(spark, table, touched, r)

  /** [[alignToSchema]] for a rewrite that started from
    * [[readTouchedForRewrite]]: on a tracked table its frame carries the
    * row-id column, which aligns as a nullable long beside the table's
    * columns. */
  private def alignRewrite(df: DataFrame,
                           schema: org.apache.spark.sql.types.StructType,
                           ctx: String): DataFrame =
    alignToSchema(df,
      if (df.columns.contains(RowIdCol))
        schema.add(RowIdCol, org.apache.spark.sql.types.LongType, nullable = true)
      else schema, ctx)

  /** The point-predicate candidate rule every consumer shares (pruned
    * reads, the DML verbs, key-driven DML in the point regime, and the
    * conflict probes against a CAS winner): of `files` (root-relative,
    * of version `r`), those that might hold a row matching EVERY
    * `column IN values` predicate — per predicate, `r`'s bloom
    * candidates, intersected with the partition-path candidates when
    * the column is a partition column. A predicate with no usable index,
    * or with an empty or null-bearing value list, prunes nothing: the
    * result is always a superset of the truly-matching files. */
  private def pointCandidates(spark: SparkSession, table: String,
                              r: ResolvedVersion, files: Seq[String],
                              point: Map[String, Seq[Any]]): Seq[String] = {
    lazy val schemaV = versionSchema(spark, table, r)
    var cand: Set[String] = files.toSet
    point.foreach { case (c, vs) =>
      if (vs.nonEmpty && !vs.contains(null)) {
        bloomCandidateFiles(spark, table, c, vs, Some(r.version))
          .foreach(cs => cand = cand.intersect(cs.toSet))
        // a point predicate on a partition column prunes by path alone
        if (files.nonEmpty) schemaV.find(_.name == c).foreach { f =>
          cand = cand.intersect(
            partitionCandidates(spark, table, files, c, vs, f.dataType).toSet)
        }
      }
    }
    files.filter(cand)
  }

  /** Above this many distinct source keys the BLOOM leg of
    * [[candidatesDistributed]] hands off to the key-column scan
    * ([[touchedFilesByScan]]): the bloom join broadcasts the key set
    * (the bitset-laden index rows are the side that cannot broadcast),
    * so the key side must stay driver-safe — and at this cardinality a
    * [[BloomIndexBits]]-bit per-file bloom is saturated by the probe
    * union anyway (the metadata answer has degraded toward "all
    * files"). The zone leg has no such bound: its index rows are tiny
    * (min/max per column), so IT broadcasts and the keys stream at any
    * size. */
  val MaxBloomProbeKeys: Long = 1000000L

  /** EXACT touched-set resolution by scanning ONLY the key columns of
    * the candidate files: a left-semi join of the (file, key) projection
    * against the source keys keeps precisely the files holding at least
    * one matching tuple. This is data I/O — but columnar-pruned to the
    * key columns (a sliver of a wide table's bytes) and shuffling only
    * (file, key) pairs, so it is the UNBOUNDED bulk leg: no driver key
    * materialization at ANY source cardinality, and the answer is exact
    * rather than an index over-approximation (strictly fewer rewrites —
    * reading a key column is always cheaper than rewriting a
    * false-positive file's every column). Engaged when the bloom leg
    * defers past [[MaxBloomProbeKeys]] — the one regime where metadata
    * probes stop paying. */
  private def touchedFilesByScan(spark: SparkSession, table: String,
                                 keyCols: Seq[String], source: DataFrame,
                                 schema: org.apache.spark.sql.types.StructType,
                                 within: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.col
    // probes cast to the table's stored types (the join must compare in
    // the table's domain — see [[sourceKeyProbes]]); no pre-distinct:
    // the semi join dedups without an extra shuffle
    val probes = source.select(keyCols.map { c =>
      schema.find(_.name == c).fold(col(c))(f => col(c).cast(f.dataType)).as(c)
    }: _*).filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val taggedGroups = within.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .flatMap { case (dir, fs0) =>
        val paths = fs0.map(f => s"$table/$f")
        val raw =
          if (DataDirName.matches(dir)) readDataDir(spark, s"$table/$dir", paths)
          else spark.read.option("basePath", s"$table/$dir").parquet(paths: _*)
        // a group whose file schema lacks a key column predates an
        // alterAddColumns of that column — its rows read NULL for it,
        // which the non-null probes can never match, so the whole group
        // is provably untouched (selecting the column would instead die
        // with an AnalysisException on the pre-ALTER footers)
        if (!keyCols.forall(raw.columns.contains)) None
        else Some(raw.select(rootRelFile(dir).as("__file") +: keyCols.map(col): _*))
      }
    if (taggedGroups.isEmpty) return Seq.empty
    taggedGroups.reduce(_ unionByName _)
      .join(probes, keyCols, "left_semi")
      .select("__file").distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** BULK-regime touched-set resolution: which files might hold any of
    * `source`'s key tuples, decided WITHOUT collecting keys to the
    * driver — METADATA work, zero data I/O:
    *
    *   - zone map: `min_c ≤ key ≤ max_c` — the SCALE path, unbounded in
    *     batch size: the ≤|files|-row (file, min, max) relation
    *     BROADCASTS and the distinct keys STREAM through it, so a
    *     100 M-key batch never lands on the driver. On a layout
    *     clustered by the key (range/Z-order — the publish discipline
    *     for DML-heavy tables) a clustered batch selects exactly its
    *     files no matter how large;
    *   - bloom index: per-key membership probes, keys broadcast against
    *     streaming index rows (the bitsets are too big to broadcast the
    *     other way) — bounded by [[MaxBloomProbeKeys]], past which the
    *     leg DEFERS to the exact key-column scan
    *     ([[touchedFilesByScan]]) over whatever candidate set the other
    *     legs left (FP union has degraded the metadata answer toward
    *     "all files" by then; the scan is unbounded and exact).
    *
    * Per-column and per-index candidate sets all INTERSECT (a file
    * holding the tuple holds every component and satisfies every
    * index; the intersection over-approximates, never misses). Only
    * the ≤|files| surviving file NAMES collect. None when no key
    * column carries a usable index — the caller falls back to the
    * honest full rewrite. */
  private def candidatesDistributed(spark: SparkSession, table: String,
                                    r: ResolvedVersion, keyCols: Seq[String],
                                    source: DataFrame,
                                    nDistinctKeys: Long): Option[Seq[String]] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.graft.BloomExpressions.bloom_might_contain
    val (fs, t) = fsFor(spark, table)
    lazy val schemaV = versionSchema(spark, table, r)
    def indexAt(metaDir: Path): Option[DataFrame] = {
      val p = new Path(metaDir, r.dirName)
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    def keyProbes(c: String, utcIndex: Boolean) =
      sourceKeyProbes(source, c, schemaV.find(_.name == c).map(_.dataType),
        utcIndex)
    val bloomIdx = indexAt(indexDir(t))
    val bloomCols = bloomIdx.toSeq.flatMap(i =>
      keyCols.filter(c => i.columns.contains(s"b_$c")))
    // past the probe bound the bloom leg defers to the exact scan below
    val bloomDeferred = bloomCols.nonEmpty && nDistinctKeys > MaxBloomProbeKeys
    val bloomSets: Seq[Set[String]] =
      if (bloomDeferred) Nil
      else bloomIdx.toSeq.flatMap { index =>
        val utcIdx = index.columns.contains("__utc")
        bloomCols.map { c =>
          index.join(broadcast(keyProbes(c, utcIdx)),
              bloom_might_contain(index(s"b_$c"), col("__ks"),
                BloomIndexHashes), "left_semi")
            .select("file").collect().map(_.getString(0)).toSet
        }
      }
    val zoneSets: Seq[Set[String]] =
      indexAt(zonesDir(t)).toSeq.flatMap { index =>
        keyCols.filter(c => index.columns.contains(s"min_$c")).map { c =>
          val zi = index.select(col("file"),
            col(s"min_$c").as("__lo"), col(s"max_$c").as("__hi"))
          // the zone leg compares NATIVE values; __ks is unused there
          keyProbes(c, utcIndex = true).join(broadcast(zi),
              col("__lo") <= col("__kt") && col("__kt") <= col("__hi"))
            .select("file").distinct().collect().map(_.getString(0)).toSet
        }
      }
    val perCol = bloomSets ++ zoneSets
    if (perCol.isEmpty && !bloomDeferred) None
    else {
      val metaCand: Seq[String] = perCol.reduceOption(_ intersect _)
        .fold(r.files)(_.toSeq) // None: bloom deferred, no zone leg
      val files =
        if (bloomDeferred && metaCand.nonEmpty)
          touchedFilesByScan(spark, table, keyCols, source, schemaV, metaCand)
        else metaCand
      Some(files.sorted)
    }
  }

  /** Distinct non-null source key values of `c`, canonicalized through
    * the column's stored type: `__kt` in the native type (zone
    * comparisons), `__ks` its string form rendered under the tz the
    * bloom build hashed with — UTC for `__utc`-marked indexes, the
    * session zone for legacy ones (see [[bloomHitExpr]]). */
  private def sourceKeyProbes(source: DataFrame, c: String,
                              colType: Option[org.apache.spark.sql.types.DataType],
                              utcIndex: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val typed = source.select(colType.fold(col(c))(col(c).cast(_)).as("__kt"))
      .filter(col("__kt").isNotNull).distinct()
    typed.withColumn("__ks",
      if (utcIndex) castString(col("__kt"), Some("UTC"))
      else col("__kt").cast("string"))
  }

  /** Carry one per-file metadata relation (bloom index / zone map)
    * across a CoW commit: prior rows for carried files are re-used
    * as-is, only the new dir is re-derived — O(rewritten), the same
    * economics as the data. A commit whose new dir holds no file (a
    * whole-partition delete beside carried files) re-derives nothing.
    * `colPrefix` identifies the metadata's value columns (`b_`/`min_`),
    * from which the indexed column set is recovered. */
  private def carryFileMetadata(spark: SparkSession, fs: FileSystem,
                                metaDir: Path, prior: ResolvedVersion,
                                dirName: String, carried: Seq[String],
                                wroteFiles: Boolean, colPrefix: String,
                                rebuild: (Seq[String], Boolean) => DataFrame)
      : Unit = {
    import org.apache.spark.sql.functions.col
    val priorMeta = new Path(metaDir, prior.dirName)
    if (!fs.exists(priorMeta)) return
    val prev = readMetaEntry(spark, fs, priorMeta)
    val cols = prev.columns.filter(_.startsWith(colPrefix))
      .map(_.stripPrefix(colPrefix)).toSeq
    // new rows must hash under the PRIOR's canonicalization (UTC-marked
    // vs legacy session-tz) — a mixed-convention index would probe wrong
    val kept = prev.filter(col("file").isInCollection(carried))
    writeMetaEntry(spark, fs,
      if (wroteFiles) kept.unionByName(rebuild(cols, prev.columns.contains("__utc")))
      else kept,
      new Path(metaDir, dirName))
  }

  /** Bounded optimistic retries of a lost manifest CAS before giving
    * up — each retry is metadata-only (the data dir wrote once). */
  private val MaxCommitAttempts = 4

  /** Test seam: runs ONCE right before a DML's first commit attempt —
    * a spec installs a competing DML here to force a deterministic CAS
    * race (thread timing would make the interleaving flaky). Each of
    * the three seams is claimed by an atomic `getAndSet(None)`, so with
    * commits running concurrently in one JVM (the nightly's member
    * commits) exactly one of them fires it, once. */
  private val casTestHookRef = new AtomicReference[Option[() => Unit]](None)
  private[graft] def casTestHook: Option[() => Unit] = casTestHookRef.get
  private[graft] def casTestHook_=(h: Option[() => Unit]): Unit =
    casTestHookRef.set(h)
  private def fireCasTestHook(): Unit =
    casTestHookRef.getAndSet(None).foreach(_())

  /** CAS-loss arbitration — the optimistic-concurrency core. A DML that
    * lost the manifest race may REBASE onto the winner (re-point its
    * carried files at the winner's file list and recommit, reusing the
    * already-written data) exactly when the two commits are disjoint:
    *
    *   1. every file this DML READ (rewrote, masked, or match-probed)
    *      is still in the winner's file list — a winner that rewrote
    *      one made this DML's rewrite/row-positions stale;
    *   2. the winner did not change the deletion-vector mask of any
    *      file this DML read (checked only when `checkMask` — a pure
    *      MoR delete composes with extra masks by union, but a commit
    *      that re-inserts images would resurrect winner-deleted rows);
    *   3. the schema did not change underneath (an ALTER race);
    *   4. no file the winner ADDED can match this DML's predicate —
    *      decided by the verb's `conflictProbe` over the winner's
    *      committed bloom/partition metadata (no probe ⇒ any added
    *      file refuses: the conservative posture).
    *
    * True overlap refuses loudly — the caller re-runs against the new
    * current version, which is the serial execution. This is the
    * write-serializable arbitration Delta/Iceberg apply: disjoint
    * commits auto-rebase, conflicting ones surface. Returns the
    * winner's resolved version; throws on conflict. */
  private def arbitrateRebase(spark: SparkSession, table: String,
                              verb: String, base: ResolvedVersion,
                              readFiles: Seq[String], checkMask: Boolean,
                              conflictProbe: Option[(ResolvedVersion, Seq[String]) => Seq[String]],
                              blindAppend: Boolean = false)
      : ResolvedVersion = {
    import org.apache.spark.sql.functions.{col => colF}
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"$verb: concurrent write conflict on $table — $why; " +
        "re-run the DML against the current version")
    val winner = resolveVersion(spark, table, None).getOrElse(
      refuse("the table vanished mid-commit"))
    val winnerFiles = winner.files
    val winnerSet = winnerFiles.toSet
    val gone = readFiles.filterNot(winnerSet)
    if (gone.nonEmpty)
      refuse(s"the competing commit rewrote ${gone.size} file(s) this DML " +
        s"read (e.g. ${gone.head})")
    if (checkMask && readFiles.nonEmpty) {
      val baseRefs = base.dvFiles
      val winnerRefs = winner.dvFiles
      if (winnerRefs != baseRefs) {
        val readUri = readFiles.map(relUriSpelling)
        def maskOn(refs: Seq[String]): Option[DataFrame] =
          if (refs.isEmpty) None
          else Some(spark.read.parquet(refs.map(f => s"$table/$f"): _*)
            .filter(colF("file").isInCollection(readUri)))
        val changed = (maskOn(baseRefs), maskOn(winnerRefs)) match {
          case (None, None) => false
          case (Some(a), Some(b)) =>
            !b.except(a).isEmpty || !a.except(b).isEmpty
          case (None, Some(b)) => !b.isEmpty
          case (Some(a), None) => !a.isEmpty
        }
        if (changed)
          refuse("the competing commit changed the deletion-vector mask " +
            "of files this DML read")
      }
    }
    if (versionSchema(spark, table, base) != versionSchema(spark, table, winner))
      refuse("the table schema changed underneath (ALTER race)")
    val baseSet = base.files.toSet
    val added = winnerFiles.filterNot(baseSet)
    // a BLIND append read nothing, so files the winner added cannot
    // invalidate it — concurrent appends always compose (the one
    // reordering every lakehouse engine admits under write-serializable)
    if (added.nonEmpty && !blindAppend) {
      val possible = conflictProbe.map(_(winner, added)).getOrElse(added)
      if (possible.nonEmpty)
        refuse(s"the competing commit added ${possible.size} file(s) that " +
          s"may hold rows matching this DML (e.g. ${possible.head})")
    }
    winner
  }

  /** Conflict probe for DML keyed on point VALUES: of the winner's
    * ADDED files, those that might hold any probe value — decided from
    * the winner's committed bloom index and partition paths, the same
    * candidate-resolution metadata the DML itself prunes with (bloom
    * has no false negatives, so an empty answer proves the rebase
    * safe). Unindexed columns keep every added file: conservative. */
  private def pointProbe(spark: SparkSession, table: String,
                         point: Map[String, Seq[Any]])
      : Option[(ResolvedVersion, Seq[String]) => Seq[String]] =
    if (point.isEmpty) None
    else Some((winner, added) =>
      pointCandidates(spark, table, winner, added, point))

  /** [[pointProbe]]'s sibling for source-keyed DML (merge/upsert): the
    * winner's added files that might hold any source key, through the
    * same two-regime resolution the verbs use ([[candidatesForKeys]] —
    * driver probe under `maxPointKeys`, distributed above it). */
  private def keysProbe(spark: SparkSession, table: String,
                        keyCols: Seq[String], keySource: DataFrame,
                        nDistinct: Long, maxPointKeys: Int)
      : Option[(ResolvedVersion, Seq[String]) => Seq[String]] =
    Some { (winner, added) =>
      val addedSet = added.toSet
      candidatesForKeys(spark, table, winner, added, keyCols, keySource,
        nDistinct, maxPointKeys)
        .filter(addedSet) // the bulk leg may answer version-wide
    }

  /** Concurrency: two CoW writers racing from the same prior version
    * write to ATTEMPT-UNIQUE data dirs (`vNNNNNNNN-<nonce>`), so the
    * loser's files can never clobber the winner's already-committed
    * ones — the loser recommits against the winner when the commits are
    * provably disjoint ([[arbitrateRebase]]) and fails loudly on true
    * overlap, its whole dir an orphan the next GC removes (the
    * lock-free optimistic-commit discipline of a transaction log;
    * a full [[publishVersioned]] keeps deterministic names because its
    * retry-reclaim semantics depend on them — serialize full-rewrite
    * publishers externally). */
  /** Last-moment manifest honesty check, shared by every file-list
    * commit tail: immediately before [[commitManifest]], verify every
    * DIRECTORY the manifest body is about to reference (its own data
    * dir, each carried file's version dir, each mask delta's `_dv`
    * dir) still exists. The GC in-flight grace window makes a sweep of
    * a live writer's dirs rare, but a writer stalled PAST the grace —
    * or a restore racing a concurrent VACUUM that expired its target —
    * would otherwise commit a manifest naming deleted files: refuse
    * loudly instead. O(distinct version dirs) exists-probes per commit,
    * bounded by the carry-chain length (the same cost class as the
    * metadata carries beside it). */
  private def verifyReferencedDirs(fs: FileSystem, t: Path,
                                   files: Seq[String], dvRefs: Seq[String],
                                   verb: String): Unit = {
    val dataDirs = files.iterator.map(_.takeWhile(_ != '/')).toSet
    val dvDirs = dvRefs.iterator
      .map(r => r.split('/').take(2).mkString("/")).toSet
    (dataDirs ++ dvDirs).foreach { d =>
      require(fs.exists(new Path(t, d)),
        s"$verb: referenced dir $d was garbage-collected (a concurrent " +
          s"commit or VACUUM expired it) before this commit sealed on " +
          s"${t} — re-run against the current state")
    }
  }

  /** The files a version writer just wrote into its dir `dirName`,
    * root-relative — the manifest's own file lines. A DML that removed
    * every row of a PARTITIONED table, or a partitioned full publish of
    * zero rows, writes no part file at all (dynamic-partition writers
    * create files lazily), and an empty file list would leave the table
    * schema-less and unreadable. The empty state is then re-written
    * FLAT from `frame`'s schema: a single-directory writer emits one
    * schema-bearing empty file (partition columns persist as ordinary
    * columns, so the logical schema survives; the layout survives via
    * the manifest's `partcols:` header, which the next non-empty publish
    * reapplies). */
  private def writtenFiles(fs: FileSystem, t: Path, dirName: String,
                           frame: DataFrame, verb: String): Seq[String] = {
    val dir = new Path(t, dirName)
    val files = parquetFilesUnder(fs, t, dir).map(_._1)
    if (files.nonEmpty) files
    else {
      frame.limit(0).coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
      val flat = parquetFilesUnder(fs, t, dir).map(_._1)
      require(flat.nonEmpty, s"$verb: empty-state write of $t produced no schema file")
      flat
    }
  }

  /** Commit a copy-on-write version: `rewritten` lands in the version's
    * own dir, `carried` files ride by reference, the bloom index (when
    * the prior version had one) is maintained at O(rewritten). */
  private def publishCoW(spark: SparkSession, table: String,
                         prior: ResolvedVersion, rewritten: DataFrame,
                         touched: Seq[String], carried: Seq[String],
                         keepVersions: Int, refreshStats: Boolean,
                         coalesceTo: Option[Int] = None,
                         partColsHint: Seq[String] = Nil,
                         extraDv: Option[DataFrame] = None,
                         readFiles: Seq[String] = Nil,
                         conflictProbe: Option[(ResolvedVersion, Seq[String]) => Seq[String]] = None,
                         blindAppend: Boolean = false,
                         op: String,
                         txn: Option[(String, Long)] = None): Unit = {
    val (fs, t) = fsFor(spark, table)
    val dirName = // unconditional uniqueness: the nonce is per-attempt
      s"v${vname(prior.version + 1L)}-${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // a Hive-partitioned prior keeps its layout: the rewrite lands under
    // the same key=value structure (rows whose partition VALUE changed
    // simply land in their new subdir — partition-moving updates are
    // free), and the manifest lists the kv-prefixed paths. An EMPTY
    // prior state encodes no layout in its one flat schema file, so the
    // logical partition columns come from its manifest's `partcols:`
    // header instead — the next non-empty publish genuinely restores
    // the partitioned layout rather than silently going flat forever.
    val derivedPartCols = partitionColsOf(touched ++ carried)
    val partCols =
      if (derivedPartCols.nonEmpty) derivedPartCols
      else if (prior.declaredPartCols.nonEmpty) prior.declaredPartCols
      else partColsHint // a created-empty table's stored PARTITIONED BY
    // default: preserve the touched-file count (a k-file rewrite stays k
    // files); Some(0) = keep the frame's own partitioning (appends, whose
    // natural parallelism the default would collapse to one file);
    // Some(n) = explicit
    val shaped = coalesceTo match {
      case None => rewritten.coalesce(math.max(1, touched.size))
      case Some(0) => rewritten
      case Some(n) => rewritten.coalesce(math.max(1, n))
    }
    // a column-mapped table's files store PHYSICAL spellings: the DML
    // frame (logical — it came through the mapped read, or from the
    // user) translates ONCE at this write boundary, so every file keeps
    // one spelling per column forever and the whole verb layer stays in
    // the logical domain
    val mapping = columnMapping(spark, table)
    def toPhysicalCols(df: DataFrame): DataFrame =
      if (mapping.isEmpty) df
      else df.select(df.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(mapping.getOrElse(c, c))): _*)
    // stored CHECK / NOT NULL constraints ride the write's own scan as
    // observed metrics (one pass); a violation aborts before the commit
    val (guarded, checkObs) = attachChecks(spark, table, shaped)
    val writer = toPhysicalCols(guarded).write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(new Path(t, dirName).toString)
    assertChecks(table, checkObs)
    val newFiles =
      if (carried.nonEmpty) parquetFilesUnder(fs, t, new Path(t, dirName)).map(_._1)
      else writtenFiles(fs, t, dirName, toPhysicalCols(rewritten), "publishCoW")
    // commit tail — runs against a BASE version and may re-run against
    // the CAS winner after [[arbitrateRebase]] clears the rebase: every
    // step is metadata-class work (the data dir above wrote exactly
    // once), recomputed so index/zone/mask/stats carries come from the
    // version actually being extended.
    def commitAgainst(base: ResolvedVersion, carriedNow: Seq[String]): Boolean = {
      // self-verification up front AND right before the publish: a
      // concurrent commit's GC racing this writer (despite the
      // in-flight grace) may have collected the attempt dir — refuse
      // loudly rather than fail confusingly mid-carry or, worse,
      // commit a manifest referencing deleted files
      require(fs.exists(new Path(t, dirName)),
        s"publishCoW: this attempt's data dir $dirName was garbage-" +
          s"collected by a concurrent commit on $table — re-run the DML")
      // bloom index + zone map: carry untouched files' rows, re-derive
      // only the new dir
      carryFileMetadata(spark, fs, indexDir(t), base, dirName, carriedNow,
        newFiles.nonEmpty, "b_", (cols, priorUtc) =>
          bloomIndexDf(spark, s"$table/$dirName", dirName, cols, utc = priorUtc))
      carryFileMetadata(spark, fs, zonesDir(t), base, dirName, carriedNow,
        newFiles.nonEmpty, "min_", (cols, _) =>
          zoneMapDf(spark, s"$table/$dirName", dirName, cols))
      // deletion vectors compose across the chain. An untouched-files
      // commit (append, MoR update/merge) carries the prior mask DELTAS
      // by reference at zero sidecar I/O and writes at most its OWN
      // entries (`extraDv`); a commit that REWRITES files consolidates
      // instead — it filters the touched files' entries out (they were
      // rewritten FROM the masked read, so they retire with the old
      // files) and writes one fresh delta, which also drops any stale
      // entries the carry chain accumulated. An empty result writes no
      // sidecar and no header — the version is then provably mask-free
      // and every read takes the plain path. (Bloom/zone rows of masked
      // rows stay: indexes are supersets, the mask re-applies at read.)
      import org.apache.spark.sql.functions.{col => colF}
      val priorDvRefs = base.dvFiles
      val (dvToWrite, dvCarriedRefs): (Option[DataFrame], Seq[String]) =
        if (touched.nonEmpty && priorDvRefs.nonEmpty) {
          // dv `file` entries are URI-spelled; `touched` is manifest-spelled
          val live = readDvRelation(spark, table, base).get
            .filter(!colF("file").isInCollection(touched.map(relUriSpelling)))
          (Some(extraDv.fold(live)(live.unionByName)), Nil)
        } else (extraDv, priorDvRefs)
      val dvOwnRefs: Seq[String] = dvToWrite match {
        case Some(d) if !d.isEmpty =>
          val deltaDir = new Path(dvDir(t), dirName)
          d.coalesce(DvDeltaWriteTasks).write.mode(SaveMode.Overwrite)
            .parquet(deltaDir.toString)
          fs.listStatus(deltaDir).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted
            .map(n => s"_dv/$dirName/$n").toSeq
        case _ => Nil
      }
      val dvRefs = (dvCarriedRefs ++ dvOwnRefs).distinct
      val dvWritten = dvRefs.nonEmpty
      // table statistics do NOT maintain incrementally (NDV/min/max
      // cannot retract). When the prior version carried stats:
      // refreshStats=true recomputes them with one aggregation pass over
      // the WHOLE resolved table — an O(table) cost a point-update
      // caller may not want — while refreshStats=false copies the prior
      // stats file forward (slightly stale counts, the usual
      // ANALYZE-cadence trade), so hinted reads never silently lose
      // their statistics either way.
      val priorStats = new Path(statsDir(t), base.dirName)
      if (fs.exists(priorStats)) {
        if (refreshStats) {
          val files0 = newFiles ++ carriedNow
          // profile the version's LOGICAL content: masked rows are not rows
          val resolved =
            if (dvWritten)
              taggedMaskedRead(spark, table, files0,
                Some(spark.read.parquet(dvRefs.map(f => s"$table/$f"): _*)))
                .drop("__dv_file", "__dv_pos")
            else readFilesGrouped(spark, table, files0)
          graft.operators.Quality
            .profileWithCount(resolved, resolved.columns.toSeq, exact = false)
            .coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(new Path(statsDir(t), dirName).toString)
        } else {
          val dst = new Path(statsDir(t), dirName)
          if (fs.exists(dst)) fs.delete(dst, true) // a prior attempt's copy
          org.apache.hadoop.fs.FileUtil.copy(fs, priorStats, fs, dst, false,
            spark.sessionState.newHadoopConf())
          ()
        }
      }
      // commit: file-list manifest through [[commitManifest]];
      // occupancy or a lost CAS = loss to arbitrate, not an error
      val next = base.version + 1L
      val vd = versionsDir(t)
      fs.mkdirs(vd)
      val partColsHeader =
        if (partCols.nonEmpty) Seq(s"partcols:${partCols.mkString(",")}") else Nil
      // row tracking: carried files keep their bases; this commit's own
      // files (and, on first tracked commit, every backfilled file) get
      // fresh ranges — one footer read per newly-based file
      val ridLines =
        if (base.rowTracked || rowTrackingRequested(spark, table))
          ridHeaders(fs, t, spark.sessionState.newHadoopConf(),
            newFiles ++ carriedNow, base.rowIdBases,
            base.rowIdWm.getOrElse(0L))
        else Nil
      val body =
        (Seq(s"files:$dirName", s"ts:${System.currentTimeMillis()}",
          s"op:$op") ++ txn.map { case (app, b) => s"txn:$b:$app" } ++
          ridLines ++ partColsHeader ++ dvRefs.map("dv:" + _) ++
          newFiles ++ carriedNow)
          .mkString("\n")
      if (fs.exists(new Path(vd, vname(next)))) false
      else {
        // last-moment self-verification: a rebasing loser's attempt dir
        // is numbered below the table's new max, and a THIRD writer's
        // GC (racing between this attempt's arbitration and its commit)
        // could have collected it despite the in-flight grace — a
        // commit would then reference deleted files. One exists probe
        // per dir right before the publish keeps the manifest honest.
        require(fs.exists(new Path(t, dirName)),
          s"publishCoW: this attempt's data dir $dirName was garbage-" +
            s"collected by a concurrent commit on $table — re-run the DML")
        require(dvOwnRefs.isEmpty || fs.exists(new Path(dvDir(t), dirName)),
          s"publishCoW: this attempt's deletion-vector delta $dirName was " +
            s"garbage-collected by a concurrent commit on $table — re-run the DML")
        verifyReferencedDirs(fs, t, newFiles ++ carriedNow, dvRefs, "publishCoW")
        if (!commitManifest(fs, new Path(vd, vname(next)), body)) false
        else { gcVersions(fs, t, keepVersions); true }
      }
    }
    val readSet = if (readFiles.nonEmpty) readFiles else touched
    val touchedSet = touched.toSet
    fireCasTestHook()
    // exactly-once across WRITERS, not just replays: two writers
    // sharing a txnAppId (a copied checkpoint; one explicit appId
    // reused across jobs) can both hold a stale in-process floor and
    // try to land the same batchId. The base manifest is already
    // parsed, so its own txn stamp is a FREE per-attempt floor probe;
    // after a lost CAS — the window a concurrent same-app commit lands
    // in — the full retained-history floor re-verifies before the
    // retry. A batch found landed turns this publish into a no-op skip
    // (the sink's replay semantics); the orphaned attempt dir falls to
    // the next commit's GC past the in-flight grace.
    def txnLanded(b: ResolvedVersion, full: Boolean): Boolean =
      txn.exists { case (app, batch) =>
        b.txn.exists { case (a, hi) => a == app && hi >= batch } ||
          (full && lastCommittedTxn(spark, table, app).exists(_ >= batch))
      }
    if (txnLanded(prior, full = false)) return
    var base = prior
    var carriedNow = carried
    var attempts = 1
    while (!commitAgainst(base, carriedNow)) {
      if (attempts >= MaxCommitAttempts)
        throw new IllegalStateException(
          s"publishCoW: lost $attempts manifest races on $table — " +
            "retry the DML under lower contention")
      attempts += 1
      // the floor re-check runs BEFORE the conflict arbitration: a
      // same-appId twin re-landing this exact batch touches the exact
      // same files, so arbitrateRebase would refuse it as a read-write
      // conflict — but an already-landed batch must SKIP, not refuse
      if (txn.isDefined &&
          resolveVersion(spark, table, None).exists(txnLanded(_, full = true)))
        return
      // the commit that re-inserts row images must refuse when the
      // winner masked rows it read (checkMask); its carried set
      // re-points at the winner's file list
      base = arbitrateRebase(spark, table, "publishCoW", base, readSet,
        checkMask = true, conflictProbe, blindAppend = blindAppend)
      // a rebase reuses the already-written attempt dir — verify a
      // concurrent commit's GC didn't collect it while this writer was
      // between attempts (the grace window makes this rare; the check
      // makes it loud instead of a dangling-ref commit or a confusing
      // read failure mid-carry)
      require(fs.exists(new Path(t, dirName)),
        s"publishCoW: this attempt's data dir $dirName was garbage-" +
          s"collected by a concurrent commit on $table — re-run the DML")
      carriedNow = base.files.filterNot(touchedSet)
    }
  }

  /** Total parquet bytes of the CURRENT committed version's resolved file
    * set — the right sizing input for compaction of a table whose
    * version may span dirs (a [[parquetBytes]] over the table root would
    * also count retained old versions). Metadata-only. */
  def currentVersionBytes(spark: SparkSession, table: String): Option[Long] =
    resolveVersion(spark, table, None).map { r =>
      val (fs, t) = fsFor(spark, table)
      filesBytes(fs, t, r.files)
    }

  /** Total length of the root-relative `files` — one `listStatus` per
    * parent directory, not one status call per file: a version's (or a
    * hot partition's) 10k files must not pay 10k sequential HEAD-class
    * RPCs on an object store. A listed file that is missing throws, as
    * a per-file status call would. */
  private def filesBytes(fs: FileSystem, t: Path, files: Seq[String]): Long =
    files.groupBy(f => new Path(t, f).getParent).iterator.map { case (dir, fls) =>
      val wanted = fls.map(f => new Path(t, f).getName).toSet
      val found = fs.listStatus(dir).filter(st => wanted.contains(st.getPath.getName))
      wanted.diff(found.map(_.getPath.getName).toSet).headOption.foreach { n =>
        throw new java.io.FileNotFoundException(s"${new Path(dir, n)} is missing")
      }
      found.iterator.map(_.getLen).sum
    }.sum

  /** What per-version metadata the CURRENT version carries: (bloom-
    * indexed columns, zone-map columns, stats present). Lets a rewriting
    * maintenance job (compaction) re-publish WITH the same metadata
    * instead of silently shedding it — losing the bloom index would turn
    * every subsequent DML's touched-set back into "all files". */
  def versionMetadata(spark: SparkSession,
                      table: String): (Seq[String], Seq[String], Boolean) =
    resolveVersion(spark, table, None) match {
      case None => (Nil, Nil, false)
      case Some(r) =>
        val (fsi, t) = fsFor(spark, table)
        def cols(dir: Path, prefix: String): Seq[String] = {
          val p = new Path(dir, r.dirName)
          if (!fsi.exists(p)) Nil
          else readDataDir(spark, p.toString, Seq(p.toString)).columns
            .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSeq
        }
        (cols(indexDir(t), "b_"), cols(zonesDir(t), "min_"),
          fsi.exists(new Path(statsDir(t), r.dirName)))
    }

  /** Delete every row whose `column` is one of `values` — the IN-list
    * form of [[deleteMatching]], whose bloom/partition probes it drives
    * with `values`: a bloom-indexed table rewrites ONLY the files that
    * might contain them; without an index every file is rewritten (still
    * one pass — but index the column if deletes are routine). No
    * matching file → provably nothing to delete → no new version. */
  def deleteWhere(spark: SparkSession, table: String, column: String,
                  values: Seq[Any], keepVersions: Int = 2,
                  refreshStats: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty && !values.contains(null),
      "deleteWhere: keys must be non-empty and non-null (IN-semantics " +
        "never match null — a null-key purge would silently do nothing)")
    deleteMatching(spark, table, col(column).isin(values: _*), keepVersions,
      refreshStats, pruning = (Map(column -> values), Map.empty))
  }

  /** SQL-UPDATE form: for rows whose `column` is one of `values`, set
    * each `set` target column to its expression (evaluated on the old
    * row — `set` can reference any column); all other rows and files
    * untouched. The IN-list form of [[updateMatching]], with
    * [[deleteWhere]]'s file-granular economics. */
  def updateWhere(spark: SparkSession, table: String, column: String,
                  values: Seq[Any], set: Map[String, Column],
                  keepVersions: Int = 2,
                  refreshStats: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty && !values.contains(null) && set.nonEmpty,
      "updateWhere: need non-null keys and at least one SET column")
    updateMatching(spark, table, col(column).isin(values: _*), set,
      keepVersions, refreshStats, pruning = (Map(column -> values), Map.empty))
  }

  /** Upsert: rows of `updates` replace same-key rows and append new keys
    * in ONE copy-on-write commit — [[applyChangeFeedKeys]]' apply with
    * every row an upsert. Only files that might contain a matched key
    * rewrite; pure inserts touch zero existing files; an empty batch
    * commits nothing.
    *
    * Two execution regimes, chosen by ONE aggregation pass over the
    * updates (the [[mergeInto]] discipline — no unconditional driver
    * collect, so a streaming sink routing 10 M-row micro-batches through
    * here never materializes keys on the driver):
    *   - ≤ `maxPointKeys` distinct keys → keys collect and drive the
    *     bloom/partition probe (the point path);
    *   - above it → the touched set resolves DISTRIBUTIVELY against the
    *     persisted bloom index ([[candidatesDistributed]]) — still
    *     file-granular when the keys cluster — falling back to a full
    *     rewrite only on unindexed tables.
    * Matched-ness is decided by the same key anti-join either way, so
    * the regimes are value-identical. Keys must be non-null and unique
    * within the batch: a key arriving twice has no defined winner, so
    * such a batch is refused and the table stays unchanged. */
  def upsertRows(updates: DataFrame, table: String, keyCol: String,
                 keepVersions: Int = 2,
                 refreshStats: Boolean = true,
                 maxPointKeys: Int = 10000,
                 txn: Option[(String, Long)] = None): Unit = {
    val spark = updates.sparkSession
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"upsertRows: $table is not a versioned table"))
    applyEffective(spark,
      updates.withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")),
      table, r, Seq(keyCol), maxPointKeys, keepVersions, refreshStats,
      "upsertRows", op = "upsert", txn = txn)
  }

  /** Append-only commit: `rows` land as the new version's own files and
    * EVERY prior file carries by reference — zero existing files rewritten,
    * the cheapest possible write (SQL `INSERT INTO` through the graft
    * catalog resolves here). The frame's own partitioning is preserved
    * (an append's parallelism is the writer's, not the touched-set's);
    * a Hive-layout table keeps its `key=value` structure. First write on
    * a nonexistent table publishes version 1 (optionally partitioned /
    * indexed via the catalog's stored table properties). */
  def appendRows(rows: DataFrame, table: String, keepVersions: Int = 2,
                 refreshStats: Boolean = false,
                 createPartitionBy: Seq[String] = Nil,
                 createBloomIndexCols: Seq[String] = Nil,
                 createZoneMapCols: Seq[String] = Nil,
                 partitionByHint: Seq[String] = Nil,
                 txn: Option[(String, Long)] = None): Unit = {
    val spark = rows.sparkSession
    resolveVersion(spark, table, None) match {
      case None =>
        publishVersioned(rows, table, partitionBy = createPartitionBy,
          keepVersions = keepVersions, collectStats = refreshStats,
          bloomIndexCols = createBloomIndexCols,
          zoneMapCols = createZoneMapCols)
      case Some(r) =>
        val all = r.files
        val aligned =
          if (all.nonEmpty) {
            val schemaV = versionSchema(spark, table, r)
            require(rows.columns.toSet == schemaV.fieldNames.toSet,
              s"appendRows: columns ${rows.columns.toSet} must equal table " +
                s"columns ${schemaV.fieldNames.toSet} — evolve the schema " +
                "with publishVersioned")
            alignToSchema(
              rows.select(schemaV.fieldNames.map(org.apache.spark.sql.functions.col(_)).toSeq: _*),
              schemaV, "appendRows")
          } else rows
        // an EMPTY table is one flat schema-bearing file; carrying it
        // beside the append's partitioned files would mix a layout-less
        // file into a partitioned manifest (the DSv2 file index cannot
        // express per-file partition schemas) — rewrite it away instead:
        // rewriting an empty file costs nothing, and the append becomes
        // the version's whole content
        val emptyState = all.size <= 1 &&
          (all.isEmpty || readResolved(spark, table, r).isEmpty)
        if (emptyState)
          publishCoW(spark, table, r, aligned, touched = all, carried = Nil,
            keepVersions, refreshStats, coalesceTo = Some(0),
            partColsHint = partitionByHint, op = "append", txn = txn)
        else
          publishCoW(spark, table, r, aligned, touched = Nil, carried = all,
            keepVersions, refreshStats, coalesceTo = Some(0),
            partColsHint = partitionByHint, blindAppend = true,
            op = "append", txn = txn)
    }
  }

  /** Number of data dirs the CURRENT version's file set spans — 1 for a
    * full publish, growing by ~1 per copy-on-write commit
    * (each CoW version adds its own dir and carries ancestors). The
    * signal a maintenance cadence watches: every referenced dir is one
    * more parquet relation in each read's union, so a long-running DML
    * chain should fold back (`OPTIMIZE` / [[graft.operators.ScaleJoins
    * .compactParquet]]) once the span passes its budget. One manifest
    * parse, no data I/O. None for absent tables. */
  def versionSpanDirs(spark: SparkSession, table: String): Option[Int] =
    resolveVersion(spark, table, None).map(r => referencedDirs(r).size)

  /** Partition columns the current version's file LAYOUT encodes
    * (Hive `key=value` segments) — Nil for flat layouts or absent
    * tables. Pure path arithmetic over the manifest's file list. */
  def layoutPartitionCols(spark: SparkSession, table: String): Seq[String] =
    resolveVersion(spark, table, None).map(r => partitionColsOf(r.files))
      .getOrElse(Nil)

  /** DYNAMIC partition overwrite as a copy-on-write commit — the verb
    * behind `INSERT OVERWRITE` in `partitionOverwriteMode=dynamic` (and
    * `df.writeTo(t).overwritePartitions()`): every partition PRESENT in
    * `data` is replaced wholesale, every other partition's files carry
    * by reference — a daily re-load of 3 days into a 5-year table
    * rewrites 3 days, never 5 years. File resolution is path
    * arithmetic: a `key=value` file belongs to exactly one partition
    * tuple, so the touched set is exact for layout-encoded files; a
    * flat legacy file (no `key=value` segment) conservatively counts as
    * touched and its rows OUTSIDE the overwritten partitions survive
    * via an anti-join — row-correct either way. Null partition values
    * refuse loudly (their anti-join would silently append instead of
    * replace). Empty `data` replaces nothing — a no-op, no version
    * bump. First write on an absent table publishes version 1
    * partitioned by `partCols`. */
  def overwritePartitions(data: DataFrame, table: String,
                          partCols: Seq[String], keepVersions: Int = 2,
                          refreshStats: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(partCols.nonEmpty,
      "overwritePartitions: partition columns required — an unpartitioned " +
        "table takes a full publishVersioned instead")
    require(partCols.forall(data.columns.contains),
      s"overwritePartitions: data lacks partition columns " +
        s"${partCols.filterNot(data.columns.contains)}")
    val spark = data.sparkSession
    resolveVersion(spark, table, None) match {
      case None =>
        publishVersioned(data, table, partitionBy = partCols,
          keepVersions = keepVersions, collectStats = refreshStats)
      case Some(r) =>
        val all = r.files
        val schemaV = versionSchema(spark, table, r)
        val tableCols = schemaV.fieldNames.toSeq
        require(data.columns.toSet == tableCols.toSet,
          s"overwritePartitions: data columns ${data.columns.toSet} must " +
            s"equal table columns ${tableCols.toSet}")
        // TIMESTAMP partition values render under the PROBING session's
        // zone while the path encoding used the WRITING session's; a
        // mismatch would false-negative the touched set — the old
        // partition files would carry AND the new rows land, silent row
        // duplication instead of replacement. Refuse loudly (the same
        // posture as the null-partition guard below); partition on a
        // zone-free projection (DATE / formatted string) instead.
        partCols.foreach { c =>
          require(!schemaV.find(_.name == c).exists(
              _.dataType == org.apache.spark.sql.types.TimestampType),
            s"overwritePartitions: partition column $c is TIMESTAMP — its " +
              "path encoding is session-zone-dependent, so touched-file " +
              "resolution cannot be made exact across sessions; partition " +
              "by a DATE or formatted-string projection instead")
        }
        // the touched partitions — bounded by the partition count, the
        // one driver-side set this verb materializes
        val tuplesDf = data.select(partCols.map(col): _*).distinct()
        val tuples = tuplesDf.collect()
        if (tuples.isEmpty) return
        require(!tuples.exists(_.anyNull),
          "overwritePartitions: null partition values are not supported " +
            "(delete + append them explicitly)")
        val touched = tuples.toSeq.flatMap { row =>
          partCols.zipWithIndex.map { case (c, i) =>
            val dt = schemaV.find(_.name == c).map(_.dataType).getOrElse(
              throw new IllegalArgumentException(
                s"overwritePartitions: $c is not a column of $table"))
            partitionCandidates(spark, table, all, c, Seq(row.get(i)), dt).toSet
          }.reduce(_ intersect _)
        }.distinct.sorted
        val tupleRel = spark.createDataFrame(
          java.util.Arrays.asList(tuples: _*), tuplesDf.schema)
        // layout-encoded touched files hold exactly one (replaced)
        // partition → zero survivors; flat legacy files may mix → keep
        // their rows outside the replaced partitions
        val survivors =
          if (touched.isEmpty) None
          else Some(readFilesGroupedDv(spark, table, touched, r)
            .join(broadcast(tupleRel), partCols, "left_anti"))
        val rewritten = survivors
          .fold(data.select(tableCols.map(col): _*))(
            _.select(tableCols.map(col): _*)
              .unionByName(data.select(tableCols.map(col): _*)))
        // coalesceTo = 0: a partition re-load's write parallelism is the
        // FRAME's (a whole day of data), never the touched-file count —
        // an all-new-partition load (touched = Nil) must not funnel
        // through one task
        publishCoW(spark, table, r,
          alignToSchema(rewritten, schemaV, "overwritePartitions"),
          touched, all.diff(touched), keepVersions, refreshStats,
          coalesceTo = Some(0), partColsHint = partCols,
          op = "overwrite-partitions")
    }
  }

  /** STATIC partition overwrite — `INSERT OVERWRITE t PARTITION
    * (a=1, b=2) SELECT …` with EVERY partition column pinned to a
    * literal. Unlike [[overwritePartitions]] (dynamic mode: partitions
    * PRESENT IN THE DATA replace), the replaced partition here is the
    * one the SPEC names — which is the ANSI contract: "delete every row
    * matching the spec, then insert", so an EMPTY source truncates the
    * named partition instead of silently leaving it in place. Touched
    * files resolve by path arithmetic from the spec values (exact for
    * layout-encoded files; flat legacy files keep their out-of-spec
    * rows via an anti-join). One copy-on-write commit; every other
    * partition's files carry by reference. Callers must pin ALL
    * partition columns — a partial spec (`PARTITION (a=1)` on an (a,b)
    * table with b dynamic) has delete-by-prefix semantics this verb
    * does not implement and must refuse upstream. */
  def overwriteStaticPartition(data: DataFrame, table: String,
                               partCols: Seq[String], spec: Map[String, Any],
                               keepVersions: Int = 2,
                               refreshStats: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(partCols.nonEmpty && spec.keySet == partCols.toSet,
      s"overwriteStaticPartition: the spec (${spec.keySet.mkString(", ")}) " +
        s"must pin exactly the partition columns (${partCols.mkString(", ")})")
    require(spec.values.forall(_ != null),
      "overwriteStaticPartition: null partition values are not supported")
    val spark = data.sparkSession
    resolveVersion(spark, table, None) match {
      case None =>
        publishVersioned(data, table, partitionBy = partCols,
          keepVersions = keepVersions, collectStats = refreshStats)
      case Some(r) =>
        val all = r.files
        val schemaV = versionSchema(spark, table, r)
        val tableCols = schemaV.fieldNames.toSeq
        require(data.columns.toSet == tableCols.toSet,
          s"overwriteStaticPartition: data columns ${data.columns.toSet} " +
            s"must equal table columns ${tableCols.toSet}")
        def dtOf(c: String) = schemaV.find(_.name == c).map(_.dataType)
          .getOrElse(throw new IllegalArgumentException(
            s"overwriteStaticPartition: $c is not a column of $table"))
        // TIMESTAMP partition paths are session-zone-dependent — same
        // loud refusal as the dynamic verb
        partCols.foreach { c =>
          require(dtOf(c) != org.apache.spark.sql.types.TimestampType,
            s"overwriteStaticPartition: partition column $c is TIMESTAMP — " +
              "partition by a DATE or formatted-string projection instead")
        }
        // the touched set comes from the SPEC, not the data — this is
        // what makes the empty-source truncate exact
        val touched = partCols.map { c =>
          partitionCandidates(spark, table, all, c, Seq(spec(c)), dtOf(c)).toSet
        }.reduce(_ intersect _).toSeq.sorted
        // flat legacy files may mix partitions: keep their rows OUTSIDE
        // the replaced tuple (layout-encoded touched files hold exactly
        // the replaced tuple → zero survivors from them)
        val tupleDf = spark.range(1)
          .select(partCols.map(c => lit(spec(c)).cast(dtOf(c)).as(c)): _*)
        val survivors =
          if (touched.isEmpty) None
          else Some(readFilesGroupedDv(spark, table, touched, r)
            .join(broadcast(tupleDf), partCols, "left_anti"))
        if (touched.isEmpty && data.isEmpty) return // spec names nothing, nothing arrives
        val rewritten = survivors
          .fold(data.select(tableCols.map(col): _*))(
            _.select(tableCols.map(col): _*)
              .unionByName(data.select(tableCols.map(col): _*)))
        publishCoW(spark, table, r,
          alignToSchema(rewritten, schemaV, "overwriteStaticPartition"),
          touched, all.diff(touched), keepVersions, refreshStats,
          coalesceTo = Some(0), partColsHint = partCols,
          op = "overwrite-partitions")
    }
  }

  /** Delete every row satisfying an ARBITRARY predicate — the general
    * form behind SQL `DELETE FROM t WHERE …` (its IN-list form is
    * [[deleteWhere]]). File-granular when the caller supplies index
    * `pruning` probes extracted from the predicate (the graft catalog's
    * DML translation does — equality/IN conjuncts drive the bloom index
    * and partition paths, bounded ranges the zone map); without probes
    * every file is a candidate — the honest cost of an un-indexable
    * predicate. The exact predicate re-applies on the touched files, so
    * pruning is a file-skip optimization, never a correctness
    * dependence. NULL predicate rows are kept (SQL DELETE semantics:
    * only TRUE deletes). */
  def deleteMatching(spark: SparkSession, table: String, cond: Column,
                     keepVersions: Int = 2, refreshStats: Boolean = true,
                     pruning: (Map[String, Seq[Any]], Map[String, (Any, Any)]) =
                       (Map.empty, Map.empty)): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"deleteMatching: $table is not a versioned table"))
    val (touched, all) = prunedFileCore(spark, table, r, pruning._1, pruning._2)
    if (touched.isEmpty) return
    val rewritten = readTouchedForRewrite(spark, table, touched, r)
      .filter(!coalesce(cond, lit(false)))
    publishCoW(spark, table, r, rewritten, touched,
      all.diff(touched), keepVersions, refreshStats,
      conflictProbe = pointProbe(spark, table, pruning._1),
      op = "delete")
  }

  /** SET each target column for rows satisfying an ARBITRARY predicate —
    * the general form behind SQL `UPDATE t SET … WHERE …` (its IN-list
    * form is [[updateWhere]]). Same pruning contract as
    * [[deleteMatching]]; SET expressions evaluate on the OLD row and may
    * reference any column; a widening SET refuses loudly
    * ([[alignToSchema]]). */
  def updateMatching(spark: SparkSession, table: String, cond: Column,
                     set: Map[String, Column],
                     keepVersions: Int = 2, refreshStats: Boolean = true,
                     pruning: (Map[String, Seq[Any]], Map[String, (Any, Any)]) =
                       (Map.empty, Map.empty)): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateMatching: at least one SET column required")
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"updateMatching: $table is not a versioned table"))
    val (touched, all) = prunedFileCore(spark, table, r, pruning._1, pruning._2)
    if (touched.isEmpty) return
    val matched = coalesce(cond, lit(false))
    val base = readTouchedForRewrite(spark, table, touched, r)
    require(set.keySet.subsetOf(base.columns.toSet),
      s"updateMatching: unknown SET columns ${set.keySet -- base.columns}")
    val rewritten = base.select(base.columns.toSeq.map { c =>
      set.get(c) match {
        case Some(e) => when(matched, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    publishCoW(spark, table, r,
      alignToSchema(rewritten, base.schema, "updateMatching"),
      touched, all.diff(touched), keepVersions, refreshStats,
      conflictProbe = pointProbe(spark, table, pruning._1),
      op = "update")
  }

  /** Carry one per-file metadata relation VERBATIM across a commit
    * that keeps the prior's file set (a DV-only commit, a restore): the
    * prior rows re-point to the new version key. */
  private def carryMetaVerbatim(spark: SparkSession, fs: FileSystem,
                                metaDir: Path, prior: ResolvedVersion,
                                dirName: String): Unit = {
    val pm = new Path(metaDir, prior.dirName)
    if (fs.exists(pm))
      writeMetaEntry(spark, fs, readMetaEntry(spark, fs, pm), new Path(metaDir, dirName))
  }

  /** Writer parallelism for a deletion-vector delta: enough tasks that a
    * large erasure backlog does not serialize through one writer, few
    * enough that routine point deletes stay one or two small files
    * (coalesce never RAISES a small frame's partition count). */
  private val DvDeltaWriteTasks = 8

  /** Commit a DELETION-VECTOR-ONLY version: the manifest carries every
    * prior data file AND every prior mask delta by reference, and the
    * new version's `_dv` dir holds ONLY this commit's own entries —
    * ZERO data files written, O(own rows) sidecar I/O (n scattered
    * deletes no longer rewrite the accumulated mask n times; OPTIMIZE
    * consolidates the delta chain at the fold). Indexes and zone maps
    * carry verbatim (they are supersets; the mask re-applies at read);
    * stats copy forward (their counts now overcount the masked rows —
    * the `refreshStats = false` staleness class, re-profiled by the
    * next OPTIMIZE). Same attempt-unique-dir + CAS commit discipline as
    * [[publishCoW]]. */
  private def publishDvOnly(spark: SparkSession, table: String,
                            prior: ResolvedVersion, freshDv: DataFrame,
                            keepVersions: Int,
                            readFiles: Seq[String],
                            conflictProbe: Option[(ResolvedVersion, Seq[String]) => Seq[String]],
                            op: String = "delete",
                            txn: Option[(String, Long)] = None): Unit = {
    val (fs, t) = fsFor(spark, table)
    val dirName =
      s"v${vname(prior.version + 1L)}-${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // phase 1 (once): this commit's OWN mask entries
    val deltaDir = new Path(dvDir(t), dirName)
    freshDv.coalesce(DvDeltaWriteTasks).write.mode(SaveMode.Overwrite)
      .parquet(deltaDir.toString)
    val ownRefs = fs.listStatus(deltaDir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted
      .map(n => s"_dv/$dirName/$n").toSeq
    def commitAgainst(base: ResolvedVersion): Boolean = {
      val all = base.files
      val dvRefs = (base.dvFiles ++ ownRefs).distinct
      carryMetaVerbatim(spark, fs, indexDir(t), base, dirName)
      carryMetaVerbatim(spark, fs, zonesDir(t), base, dirName)
      val priorStats = new Path(statsDir(t), base.dirName)
      if (fs.exists(priorStats)) {
        val dst = new Path(statsDir(t), dirName)
        if (fs.exists(dst)) fs.delete(dst, true) // a prior attempt's copy
        org.apache.hadoop.fs.FileUtil.copy(fs, priorStats, fs, dst, false,
          spark.sessionState.newHadoopConf())
      }
      val partCols = {
        val derived = partitionColsOf(all)
        if (derived.nonEmpty) derived else base.declaredPartCols
      }
      val partColsHeader =
        if (partCols.nonEmpty) Seq(s"partcols:${partCols.mkString(",")}") else Nil
      val next = base.version + 1L
      val vd = versionsDir(t)
      fs.mkdirs(vd)
      // a mask-only commit moves no rows: bases carry verbatim (zero
      // footer reads in the steady state; a just-enabled table
      // backfills here exactly like the CoW tail)
      val ridLines =
        if (base.rowTracked || rowTrackingRequested(spark, table))
          ridHeaders(fs, t, spark.sessionState.newHadoopConf(), all,
            base.rowIdBases, base.rowIdWm.getOrElse(0L))
        else Nil
      val body =
        (Seq(s"files:$dirName", s"ts:${System.currentTimeMillis()}",
          s"op:$op") ++ txn.map { case (app, b) => s"txn:$b:$app" } ++
          ridLines ++ partColsHeader ++ dvRefs.map("dv:" + _) ++ all)
          .mkString("\n")
      if (fs.exists(new Path(vd, vname(next)))) false
      else {
        // same last-moment self-verification as [[publishCoW]]: the
        // delta dir must still exist or the manifest would carry
        // dangling `dv:` refs after a third writer's GC race
        require(fs.exists(deltaDir),
          s"publishDvOnly: this attempt's deletion-vector delta $dirName " +
            s"was garbage-collected by a concurrent commit on $table — " +
            "re-run the DML")
        verifyReferencedDirs(fs, t, all, dvRefs, "publishDvOnly")
        if (!commitManifest(fs, new Path(vd, vname(next)), body)) false
        else { gcVersions(fs, t, keepVersions); true }
      }
    }
    fireCasTestHook()
    // same cross-writer exactly-once guard as [[publishCoW]]: free
    // base-manifest floor probe per attempt, full history floor after a
    // lost CAS; a landed batch skips as a no-op (the orphaned delta dir
    // falls to the next commit's GC past the in-flight grace)
    def txnLanded(b: ResolvedVersion, full: Boolean): Boolean =
      txn.exists { case (app, batch) =>
        b.txn.exists { case (a, hi) => a == app && hi >= batch } ||
          (full && lastCommittedTxn(spark, table, app).exists(_ >= batch))
      }
    if (txnLanded(prior, full = false)) return
    var base = prior
    var attempts = 1
    while (!commitAgainst(base)) {
      if (attempts >= MaxCommitAttempts)
        throw new IllegalStateException(
          s"publishDvOnly: lost $attempts manifest races on $table — " +
            "retry the DML under lower contention")
      attempts += 1
      // floor re-check BEFORE arbitration, as in [[publishCoW]]: a
      // same-appId twin's batch reads the same files and would refuse
      // as a conflict when it must skip as already-landed
      if (txn.isDefined &&
          resolveVersion(spark, table, None).exists(txnLanded(_, full = true)))
        return
      // a pure mask commit composes with a winner's extra masks by
      // union, so checkMask=false: only rewritten read-files (stale
      // row positions) and possibly-matching added files refuse
      base = arbitrateRebase(spark, table, "publishDvOnly", base, readFiles,
        checkMask = false, conflictProbe)
      // same between-attempts GC self-verification as [[publishCoW]]
      require(fs.exists(deltaDir),
        s"publishDvOnly: this attempt's deletion-vector delta $dirName " +
          s"was garbage-collected by a concurrent commit on $table — " +
          "re-run the DML")
    }
  }

  /** `OPTIMIZE t WHERE partCol = v [AND …]` — PARTITION-SCOPED
    * compaction: fold only the files whose Hive-layout path matches the
    * spec into size-targeted files as ONE CoW commit, carrying every
    * other file by reference — at 100 TB you compact the hot day's
    * small-file debris, not the table. Touched files read MASKED, so
    * their deletion-vector entries retire with the fold (the
    * consolidation rule of any rewriting commit); bloom/zone/stats
    * carry for the untouched rest. Spec columns must be layout
    * partition columns (everything else would degrade to a full
    * rewrite in disguise — refuse loudly instead); values canonicalize
    * through the column type exactly like the DML partition probes.
    * Returns the fold's shuffle width (the writer may fan each task
    * across several partition dirs); a spec matching nothing commits
    * nothing. */
  def compactPartition(spark: SparkSession, table: String,
                       spec: Map[String, Any], targetMB: Int = 128,
                       keepVersions: Int = 2): Int = {
    require(spec.nonEmpty, "compactPartition: an empty WHERE spec is a " +
      "whole-table fold — use OPTIMIZE without WHERE")
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"compactPartition: $table is not a versioned table"))
    val (fs, t) = fsFor(spark, table)
    val all = r.files
    val layout = (partitionColsOf(all) ++ r.declaredPartCols).toSet
    val schemaV = versionSchema(spark, table, r)
    spec.keys.foreach { c =>
      require(layout.contains(physicalColumn(spark, table, c)) ||
          layout.contains(c),
        s"compactPartition: '$c' is not a layout partition column of " +
          s"$table (layout: ${layout.mkString(", ")}) — OPTIMIZE WHERE " +
          "prunes by the directory structure")
      require(schemaV.exists(_.name == c),
        s"compactPartition: unknown column '$c'")
    }
    var touched = all
    spec.foreach { case (c, v) =>
      val dt = schemaV.find(_.name == c).get.dataType
      touched = partitionCandidates(spark, table, touched, c, Seq(v), dt)
    }
    if (touched.isEmpty) return 0
    // sizing: one listStatus per touched partition directory
    val bytes = filesBytes(fs, t, touched)
    val parts = math.max(1,
      math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    val rewritten =
      readTouchedForRewrite(spark, table, touched, r).repartition(parts)
    publishCoW(spark, table, r, rewritten, touched, all.diff(touched),
      keepVersions, refreshStats = false, coalesceTo = Some(0),
      op = "optimize")
    parts
  }

  /** `RESTORE TABLE … TO VERSION AS OF v` — roll the table back (or
    * forward) to any RETAINED version as ONE NEW commit at ZERO data
    * I/O: the manifest re-points at `v`'s exact file list and mask
    * deltas (both kept alive by reference, the CoW carry economics),
    * index/zone rows and stats copy from `v`'s entries, and the change
    * feed across the restore is the file-granular REVERSE of what it
    * undoes — downstream CDC consumers see the rollback as ordinary
    * deltas. Every intermediate version stays time-travelable;
    * retention governs how far back a restore can reach. A concurrent
    * commit landing mid-restore refuses loudly (a restore REPLACES the
    * whole state — there is no meaningful rebase). Restoring to the
    * current version is a no-op. Declared-schema sidecars are
    * TABLE-level and ride along unchanged (the time-travel posture):
    * restoring across a mapping-retiring full publish surfaces the
    * files' own spellings again, exactly as reading that version
    * always did. */
  def restoreVersion(spark: SparkSession, table: String, version: Long,
                     keepVersions: Int = 2): Unit = {
    val (fs, t) = fsFor(spark, table)
    val cur = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"restore: $table is not a versioned table"))
    if (cur.version == version) return
    val r = resolveVersion(spark, table, Some(version)).getOrElse(
      throw new IllegalArgumentException(
        s"restore: version $version of $table is not retained " +
          s"(retained: ${listVersions(spark, table).mkString(", ")}) — " +
          "retention governs how far back a restore can reach"))
    val files = r.files
    val dvRefs = r.dvFiles
    val dirName =
      s"v${vname(cur.version + 1L)}-${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // metadata rides along: the restored version's index/zone relations
    // are exactly `v`'s (merged under this commit's own key), stats copy
    carryMetaVerbatim(spark, fs, indexDir(t), r, dirName)
    carryMetaVerbatim(spark, fs, zonesDir(t), r, dirName)
    val oldStats = new Path(statsDir(t), r.dirName)
    if (fs.exists(oldStats)) {
      val dst = new Path(statsDir(t), dirName)
      if (fs.exists(dst)) fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, oldStats, fs, dst, false,
        spark.sessionState.newHadoopConf())
      ()
    }
    val partCols = {
      val derived = partitionColsOf(files)
      if (derived.nonEmpty) derived else r.declaredPartCols
    }
    val partColsHeader =
      if (partCols.nonEmpty) Seq(s"partcols:${partCols.mkString(",")}") else Nil
    val next = cur.version + 1L
    val vd = versionsDir(t)
    fs.mkdirs(vd)
    // a restore re-points at the target's files — its row-id bases (and
    // watermark) restore with them, so identity survives the rollback
    val ridLines =
      if (r.rowTracked)
        s"ridwm:${r.rowIdWm.get}" +:
          files.sorted.flatMap(f => r.rowIdBases.get(f).map(b => s"rid:$b:$f"))
      else Nil
    val body =
      (s"files:$dirName" +: s"ts:${System.currentTimeMillis()}" +:
        s"op:restore" +:
        (ridLines ++ partColsHeader ++ dvRefs.map("dv:" + _) ++ files))
        .mkString("\n")
    // a concurrent VACUUM (which GCs without occupying a manifest slot)
    // may have expired the TARGET version between resolve and commit —
    // re-verify its manifest is still retained and its dirs still exist,
    // or the restored current version would reference deleted files
    require(fs.exists(new Path(vd, vname(version))),
      s"restore: version $version of $table was expired by a concurrent " +
        "VACUUM while the restore was preparing — re-run against the " +
        "current retention window")
    verifyReferencedDirs(fs, t, files, dvRefs, "restore")
    require(!fs.exists(new Path(vd, vname(next))) &&
        commitManifest(fs, new Path(vd, vname(next)), body),
      s"restore: $table advanced past version ${cur.version} while the " +
        "restore was preparing — re-run against the current state")
    gcVersions(fs, t, keepVersions)
  }

  /** Merge-on-read DELETE: rows matching `cond` are MASKED through a
    * per-version deletion-vector sidecar — zero data files rewritten,
    * the scattered-key regime copy-on-write cannot serve (a 1M-user
    * GDPR erasure spread across every file of a 100 TB table commits as
    * one tiny sidecar instead of a full-table rewrite). Pruning
    * contract is [[deleteMatching]]'s; the candidate scan reads MASKED
    * (an already-deleted row can never re-enter the vector), and a
    * match-free candidate set provably commits nothing. Reads, change
    * feeds, and time travel are value-exact against the CoW verb; the
    * read-side trade is small and bounded: the DSv2 scan drops masked
    * positions IN-SCAN on the columnar path (GraftDvScan — file pruning
    * and committed stats survive), API reads pay a (file, pos)
    * anti-join on masked files only, and `OPTIMIZE` (or the
    * compactMaskedRows budget) folds the vectors into a clean rewrite.
    * The candidate files scan ONCE (the persisted match probe doubles
    * as the vector write) — O(candidates), never O(table). */
  def deleteMatchingVectors(spark: SparkSession, table: String, cond: Column,
                            keepVersions: Int = 2,
                            pruning: (Map[String, Seq[Any]], Map[String, (Any, Any)]) =
                              (Map.empty, Map.empty)): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"deleteMatchingVectors: $table is not a versioned table"))
    val (cand, _) = prunedFileCore(spark, table, r, pruning._1, pruning._2)
    if (cand.isEmpty) return
    refuseUnmanagedMoR(cand, "deleteMatchingVectors")
    val dv = readDvRelation(spark, table, r)
    val fresh = taggedMaskedRead(spark, table, cand, dv)
      .filter(coalesce(cond, lit(false)))
      .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
    requireDeterministicPlan(fresh, "deleteMatchingVectors")
    // ONE evaluation feeds both the no-op probe and the sidecar write —
    // the candidate files scan once, not twice
    fresh.persist()
    try {
      if (fresh.isEmpty) return // provably nothing to delete → no version
      publishDvOnly(spark, table, r, fresh, keepVersions,
        readFiles = cand, conflictProbe = pointProbe(spark, table, pruning._1))
    } finally { fresh.unpersist(); () }
  }

  /** [[deleteMatchingVectors]]' IN-list fast path — the merge-on-read
    * sibling of [[deleteWhere]], with the same bloom/partition touched-
    * set resolution driving the candidate scan. */
  def deleteWhereVectors(spark: SparkSession, table: String, column: String,
                         values: Seq[Any], keepVersions: Int = 2): Unit = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty && !values.contains(null),
      "deleteWhereVectors: keys must be non-empty and non-null")
    deleteMatchingVectors(spark, table, col(column).isin(values: _*),
      keepVersions, pruning = (Map(column -> values), Map.empty))
  }

  /** Merge-on-read UPDATE: matched rows are masked through the deletion
    * vector and their UPDATED images land as the new version's own
    * (small) files — every pre-existing file carries by reference, so a
    * scattered-key update writes O(matched rows), not O(touched files).
    * SET expressions evaluate on the old row ([[updateMatching]]'s
    * contract); a widening SET refuses loudly. */
  def updateMatchingVectors(spark: SparkSession, table: String, cond: Column,
                            set: Map[String, Column],
                            keepVersions: Int = 2,
                            pruning: (Map[String, Seq[Any]], Map[String, (Any, Any)]) =
                              (Map.empty, Map.empty)): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(set.nonEmpty, "updateMatchingVectors: at least one SET column required")
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"updateMatchingVectors: $table is not a versioned table"))
    val (cand, all) = prunedFileCore(spark, table, r, pruning._1, pruning._2)
    if (cand.isEmpty) return
    refuseUnmanagedMoR(cand, "updateMatchingVectors")
    val dv = readDvRelation(spark, table, r)
    val matched = taggedMaskedRead(spark, table, cand, dv)
      .filter(coalesce(cond, lit(false)))
    val dataCols = matched.columns
      .filterNot(Set("__dv_file", "__dv_pos")).toSeq
    require(set.keySet.subsetOf(dataCols.toSet),
      s"updateMatchingVectors: unknown SET columns ${set.keySet -- dataCols}")
    val updated = matched.select(dataCols.map { c =>
      set.get(c).map(_.as(c)).getOrElse(col(c))
    }: _*)
    requireDeterministicPlan(updated, "updateMatchingVectors")
    // the updated images and the deletion-vector entries MUST come from
    // one evaluation of the matched set: materialize it once (a stage
    // retry of two independent jobs could otherwise mask one row set
    // and re-insert another, silently losing or duplicating rows)
    matched.persist()
    try {
      if (matched.isEmpty) return
      val extra = matched.select(
        col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      publishCoW(spark, table, r,
        alignToSchema(updated, versionSchema(spark, table, r),
          "updateMatchingVectors"),
        touched = Nil, carried = all, keepVersions, refreshStats = false,
        extraDv = Some(extra), readFiles = cand,
        conflictProbe = pointProbe(spark, table, pruning._1),
        op = "update")
    } finally { matched.unpersist(); () }
  }

  /** Touched-candidate resolution for KEY-driven DML (merge, feed
    * apply, MoR merge): the point regime (≤ `maxPointKeys` distinct
    * tuples) collects the keys and intersects per-column bloom and
    * partition-path candidates; above it the set resolves
    * DISTRIBUTIVELY ([[candidatesDistributed]]) with the full-rewrite
    * fallback only on unindexed tables. Always a SUPERSET of the files
    * holding any key — bloom has no false negatives. */
  private def candidatesForKeys(spark: SparkSession, table: String,
                                r: ResolvedVersion, all: Seq[String],
                                keyCols: Seq[String], keySource: DataFrame,
                                nDistinct: Long,
                                maxPointKeys: Int): Seq[String] = {
    import org.apache.spark.sql.functions.col
    if (nDistinct <= maxPointKeys) {
      val keyRows = keySource.select(keyCols.map(col): _*).distinct().collect()
      pointCandidates(spark, table, r, all, keyCols.zipWithIndex.map {
        case (c, i) => c -> keyRows.map(_.get(i)).distinct.toSeq
      }.toMap)
    } else
      candidatesDistributed(spark, table, r, keyCols, keySource, nDistinct)
        .getOrElse(all)
  }

  /** Multi-clause MERGE — update, delete and insert clauses by key in
    * one commit (a plain upsert is [[upsertRows]]; predicate deletes and
    * updates are [[deleteMatching]] / [[updateMatching]]); on a tracked
    * table matched and untouched rows keep their stable ids:
    * for each source row, a target row with the same key is updated
    * (`whenMatchedUpdate` SET expressions) or deleted
    * (`whenMatchedDelete` condition, checked first), and a source key
    * absent from the target inserts (`whenNotMatchedInsert`).
    *
    * Expression scope: SET expressions and the delete condition are
    * evaluated on the matched pair — target columns by their natural
    * name, source columns as `src_<name>` (e.g.
    * `Map("balance" -> col("balance") + col("src_delta"))`).
    *
    * Two execution regimes, chosen by source-key cardinality:
    *   - ≤ `maxPointKeys` distinct keys → keys collect to the driver
    *     and drive the bloom/zone probe, so only files that might hold
    *     a matched key rewrite (the point-merge path — a CDC batch
    *     against a 100 TB table rewrites O(batch) files);
    *   - above it → no key collection: the touched set resolves
    *     distributively against the persisted bloom index
    *     ([[candidatesDistributed]] — index rows × broadcast source
    *     keys, metadata-only), so a 100k-key CDC batch whose keys
    *     cluster in a few files still rewrites only those files; an
    *     unindexed table falls back to rewriting every file through
    *     ONE key-partitioned left-outer join (a single shuffle of
    *     each side, never all-pairs — the honest cost of a
    *     table-sized merge without an index).
    * Either way matched-ness is decided by the SAME join, so the two
    * regimes are semantically identical; bloom false positives only
    * widen the rewrite set, never the result.
    *
    * Source keys must be unique and non-null (checked with one
    * aggregation pass — a key matching twice would make the rewrite
    * order-dependent, the ambiguity ANSI MERGE rejects at runtime).
    * When inserts are enabled the source schema must equal the table
    * schema; an update/delete-only merge may carry just the key plus
    * whatever the expressions reference.
    *
    * `whenNotMatchedBySourceDelete` (the full-sync clause: drop target
    * rows absent from the source, optionally gated by a condition over
    * TARGET columns) forces the bulk regime — an unmatched target row
    * can live in ANY file, so every file must be inspected; that is
    * the honest cost of a sync, not a pruning failure. */
  def mergeInto(source: DataFrame, table: String, keyCol: String,
                whenMatchedUpdate: Map[String, Column] = Map.empty,
                whenMatchedDelete: Option[Column] = None,
                whenNotMatchedInsert: Boolean = true,
                whenNotMatchedBySourceDelete: Option[Column] = None,
                maxPointKeys: Int = 10000,
                keepVersions: Int = 2,
                refreshStats: Boolean = true,
                whenNotMatchedInsertCond: Option[Column] = None): Unit =
    mergeIntoKeys(source, table, Seq(keyCol), whenMatchedUpdate,
      whenMatchedDelete, whenNotMatchedInsert, whenNotMatchedBySourceDelete,
      maxPointKeys, keepVersions, refreshStats, whenNotMatchedInsertCond)

  /** [[mergeInto]] on a COMPOSITE key (an SCD2 history keyed on
    * (natural key, valid_from), a fact keyed on (entity, day), …).
    * Matching, uniqueness, and the anti-joins run on the full tuple;
    * file pruning INTERSECTS each indexed key column's bloom candidates
    * (a file holding the composite must hold every component — the
    * intersection is a superset of the truly-matching files, never a
    * miss). */
  /** `whenNotMatchedInsertCond` gates the insert clause (ANSI
    * `WHEN NOT MATCHED AND c THEN INSERT`): evaluated on SOURCE rows by
    * their natural column names — unmatched rows failing it are simply
    * dropped (NULL gates drop, SQL filter semantics). */
  def mergeIntoKeys(source: DataFrame, table: String, keyCols: Seq[String],
                    whenMatchedUpdate: Map[String, Column] = Map.empty,
                    whenMatchedDelete: Option[Column] = None,
                    whenNotMatchedInsert: Boolean = true,
                    whenNotMatchedBySourceDelete: Option[Column] = None,
                    maxPointKeys: Int = 10000,
                    keepVersions: Int = 2,
                    refreshStats: Boolean = true,
                    whenNotMatchedInsertCond: Option[Column] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, count, count_distinct, lit, when}
    require(keyCols.nonEmpty, "mergeInto: key columns required")
    require(whenMatchedUpdate.nonEmpty || whenMatchedDelete.nonEmpty ||
      whenNotMatchedInsert || whenNotMatchedBySourceDelete.nonEmpty,
      "mergeInto: at least one clause required")
    require(keyCols.forall(source.columns.contains),
      s"mergeInto: source lacks key columns ${keyCols.filterNot(source.columns.contains)}")
    val spark = source.sparkSession
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"mergeInto: $table is not a versioned table"))
    val all = r.files

    // one pass over the source: non-null + unique key tuples (ANSI
    // MERGE's cardinality rule), and the point-vs-bulk decision.
    // COUNT(DISTINCT a, b, …) skips any-null tuples, matching the
    // any-null count.
    val allNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val ks = source.agg(count(lit(1)), count(when(allNonNull, lit(1))),
      count_distinct(col(keyCols.head), keyCols.tail.map(col): _*)).head()
    val (nRows, nKeys, nDistinct) = (ks.getLong(0), ks.getLong(1), ks.getLong(2))
    if (nRows == 0L && whenNotMatchedBySourceDelete.isEmpty) return
    require(nKeys == nRows, s"mergeInto: source has ${nRows - nKeys} null keys")
    require(nDistinct == nKeys,
      s"mergeInto: source keys must be unique ($nKeys rows, $nDistinct keys) — " +
        "a key matching twice makes the merge order-dependent")

    val touched =
      if (whenNotMatchedBySourceDelete.isEmpty)
        // point regime ≤ maxPointKeys (keys collect, bloom/partition
        // probes); bulk regime resolves distributively — see
        // [[candidatesForKeys]]
        candidatesForKeys(spark, table, r, all, keyCols, source,
          nDistinct, maxPointKeys)
      else all // an unmatched target row can live in ANY file

    val tableSchema =
      if (all.nonEmpty) Some(versionSchema(spark, table, r))
      else None
    val tableCols = tableSchema.map(_.fieldNames.toSeq)
      .getOrElse(source.columns.toSeq)
    require(!tableCols.exists(_.startsWith("src_")),
      s"mergeInto: target columns may not start with src_ (the source alias prefix)")
    // with inserts the source must COVER the table's columns (missing
    // ones would silently insert nothing for them — refuse; an intended
    // widening goes through alterAddColumns). EXTRA source columns are
    // condition-only inputs (the ANSI `WHEN … AND s.extra` shape) and
    // project away before the insert.
    if (whenNotMatchedInsert)
      require(tableCols.toSet.subsetOf(source.columns.toSet),
        s"mergeInto: with inserts enabled, the source must carry every " +
          s"table column — missing ${tableCols.toSet -- source.columns}")
    require(whenMatchedUpdate.keySet.subsetOf(tableCols.toSet),
      s"mergeInto: unknown SET columns ${whenMatchedUpdate.keySet -- tableCols}")

    val srcP = source.select(source.columns.map(c => col(c).as(s"src_$c")).toSeq: _*)
    val target =
      if (touched.isEmpty) None
      else Some(readTouchedForRewrite(spark, table, touched, r))

    val rewrittenTarget = target.map { tg =>
      // a tracked target's rows keep their stable ids through the rewrite
      val carried = tg.columns.filter(_ == RowIdCol).map(col).toSeq
      val cond = keyCols.map(c => tg(c) === col(s"src_$c")).reduce(_ && _)
      val joined = tg.join(srcP, cond, "left_outer")
      // source keys are non-null, so a null src key component ⟺ no match
      val matched = col(s"src_${keyCols.head}").isNotNull
      val afterDelete = whenMatchedDelete.fold(joined)(c =>
        joined.filter(!(matched && coalesce(c, lit(false)))))
      val afterBySource = whenNotMatchedBySourceDelete.fold(afterDelete)(c =>
        afterDelete.filter(matched || !coalesce(c, lit(false))))
      afterBySource.select(tableCols.map { c =>
        whenMatchedUpdate.get(c) match {
          case Some(e) => when(matched, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } ++ carried: _*)
    }
    // not-matched = anti-join against the touched files' keys: bloom
    // pruning has no false negatives, so any source key present anywhere
    // in the table is present in `touched` — the anti-join is exact.
    val inserts =
      if (!whenNotMatchedInsert) None
      else {
        val gated = whenNotMatchedInsertCond.fold(source)(c =>
          source.filter(coalesce(c, lit(false))))
        val ins = target.fold(gated)(tg =>
          gated.join(tg.select(keyCols.map(col): _*), keyCols, "left_anti"))
        Some(ins.select(tableCols.map(col): _*))
      }
    val rewritten = (rewrittenTarget, inserts) match {
      // inserts are new identities: the union null-fills their row-id
      // carrier, so their ids derive from the new file's base
      case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return // no matched file, no inserts → no-op
    }
    // widened update expressions / narrower source types must not land a
    // file whose physical types differ from the carried files'
    val aligned = tableSchema.fold(rewritten)(alignRewrite(rewritten, _, "mergeInto"))
    publishCoW(spark, table, r, aligned, touched,
      all.diff(touched), keepVersions, refreshStats,
      conflictProbe =
        keysProbe(spark, table, keyCols, source, nDistinct, maxPointKeys),
      op = "merge")
  }

  /** Merge-on-read MERGE — [[mergeIntoKeys]]' semantics with deletion-
    * vector economics: matched target rows MASK through the version's
    * `_dv` sidecar (their updated images — for non-delete clauses —
    * plus the inserts land as the new version's own small file), and
    * every pre-existing file carries by reference, so a scattered-key
    * CDC batch against a 100 TB table writes O(batch), never O(touched
    * files). Unmatched target rows are never even read for rewrite —
    * the candidate scan only feeds the inner match join and the insert
    * anti-join. Same touched-set resolution, source-cardinality rules,
    * and clause scope (`src_` prefixes) as the CoW verb; value-
    * equivalent by construction. `whenNotMatchedBySourceDelete` is NOT
    * offered here: masking every unmatched target row could write a
    * vector the size of the table — a full sync is honestly a rewrite,
    * use the CoW verb. `OPTIMIZE` folds the masks on the normal
    * cadence. */
  def mergeIntoKeysVectors(source: DataFrame, table: String,
                           keyCols: Seq[String],
                           whenMatchedUpdate: Map[String, Column] = Map.empty,
                           whenMatchedDelete: Option[Column] = None,
                           whenNotMatchedInsert: Boolean = true,
                           maxPointKeys: Int = 10000,
                           keepVersions: Int = 2,
                           whenNotMatchedInsertCond: Option[Column] = None,
                           txn: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, count, count_distinct, lit, when}
    require(keyCols.nonEmpty, "mergeIntoKeysVectors: key columns required")
    require(whenMatchedUpdate.nonEmpty || whenMatchedDelete.nonEmpty ||
      whenNotMatchedInsert, "mergeIntoKeysVectors: at least one clause required")
    require(keyCols.forall(source.columns.contains),
      s"mergeIntoKeysVectors: source lacks key columns " +
        s"${keyCols.filterNot(source.columns.contains)}")
    val spark = source.sparkSession
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"mergeIntoKeysVectors: $table is not a versioned table"))
    val all = r.files
    // same one-pass source audit as the CoW verb (ANSI cardinality rule)
    val allNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val ks = source.agg(count(lit(1)), count(when(allNonNull, lit(1))),
      count_distinct(col(keyCols.head), keyCols.tail.map(col): _*)).head()
    val (nRows, nKeys, nDistinct) = (ks.getLong(0), ks.getLong(1), ks.getLong(2))
    if (nRows == 0L) return
    require(nKeys == nRows,
      s"mergeIntoKeysVectors: source has ${nRows - nKeys} null keys")
    require(nDistinct == nKeys,
      s"mergeIntoKeysVectors: source keys must be unique ($nKeys rows, " +
        s"$nDistinct keys) — a key matching twice makes the merge order-dependent")
    val touched = candidatesForKeys(spark, table, r, all, keyCols, source,
      nDistinct, maxPointKeys)
    if (touched.nonEmpty) refuseUnmanagedMoR(touched, "mergeIntoKeysVectors")
    val tableSchema =
      if (all.nonEmpty) Some(versionSchema(spark, table, r)) else None
    val tableCols = tableSchema.map(_.fieldNames.toSeq)
      .getOrElse(source.columns.toSeq)
    require(!tableCols.exists(_.startsWith("src_")),
      "mergeIntoKeysVectors: target columns may not start with src_")
    if (whenNotMatchedInsert)
      require(tableCols.toSet.subsetOf(source.columns.toSet),
        s"mergeIntoKeysVectors: with inserts enabled, the source must carry " +
          s"every table column — missing ${tableCols.toSet -- source.columns}")
    require(whenMatchedUpdate.keySet.subsetOf(tableCols.toSet),
      s"mergeIntoKeysVectors: unknown SET columns " +
        s"${whenMatchedUpdate.keySet -- tableCols}")
    val srcP = source.select(
      source.columns.map(c => col(c).as(s"src_$c")).toSeq: _*)
    val dv = readDvRelation(spark, table, r)
    val tagged =
      if (touched.isEmpty) None
      else Some(taggedMaskedRead(spark, table, touched, dv))
    // INNER match join: only matched rows mask/rewrite — unmatched
    // target rows are exactly the ones merge-on-read never touches
    val joined = tagged.map { tg =>
      val cond = keyCols.map(c => tg(c) === col(s"src_$c")).reduce(_ && _)
      // one evaluation feeds both the mask entries and the re-inserted
      // images — see [[updateMatchingVectors]] for why this must not be
      // two independent jobs over a lazy plan
      tg.join(srcP, cond, "inner").persist()
    }
    val deleteC = whenMatchedDelete
      .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
    val dvEntries = joined.map(_.select(
      col("__dv_file").as("file"), col("__dv_pos").as("pos")))
    val images = joined.map(_.filter(!deleteC).select(tableCols.map { c =>
      whenMatchedUpdate.get(c).map(_.as(c)).getOrElse(col(c))
    }: _*))
    images.foreach(requireDeterministicPlan(_, "mergeIntoKeysVectors"))
    val inserts =
      if (!whenNotMatchedInsert) None
      else {
        val gated = whenNotMatchedInsertCond.fold(source)(c =>
          source.filter(coalesce(c, lit(false))))
        // exact: bloom pruning has no false negatives, so any source key
        // present anywhere in the table is present in `touched`
        val ins = tagged.fold(gated)(tg =>
          gated.join(tg.select(keyCols.map(col): _*), keyCols, "left_anti"))
        Some(ins.select(tableCols.map(col): _*))
      }
    val rewritten = (images, inserts) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return // no matched file, no inserts → no-op
    }
    val aligned = tableSchema.fold(rewritten)(
      alignToSchema(rewritten, _, "mergeIntoKeysVectors"))
    try publishCoW(spark, table, r, aligned, touched = Nil, carried = all,
      keepVersions, refreshStats = false, extraDv = dvEntries,
      readFiles = touched,
      conflictProbe =
        keysProbe(spark, table, keyCols, source, nDistinct, maxPointKeys),
      op = "merge", txn = txn)
    finally { joined.foreach(_.unpersist()); () }
  }

  // ---- change-data feed between committed versions ---------------------
  //
  // Retained versions are snapshots; most downstream consumers (an
  // incremental mart, a search-index updater, a replication target) want
  // the DELTA between two of them, not a re-read of the whole table. The
  // change feed derives it: ONE null-safe full-outer join of the two
  // retained versions on the key — no write-side cooperation, no
  // transaction log replay, works on any pair of retained versions. Row
  // classes follow the Delta-CDF convention: `insert`, `delete`,
  // `update_preimage`/`update_postimage` (the pre/post pair lets a
  // consumer retract aggregates without re-reading the old version).
  //
  // Scale: the join shuffles each side once on the key — O(|vFrom|+|vTo|)
  // with no all-pairs term, and unchanged rows are dropped by a codegen'd
  // null-safe comparison before anything else touches them (the
  // emit-explode runs on the joined row, so unchanged keys never
  // materialize output). For day-partitioned tables, filter both
  // versions to the touched partitions first — the feed composes with
  // partition pruning because it is an ordinary DataFrame over the two
  // version reads.

  /** The row-level delta from `fromVersion` to `toVersion` of a
    * manifest table: every output row is one version's full row plus a
    * `_change_type` column ∈ insert | delete | update_preimage |
    * update_postimage. Keys must be unique and non-null within each
    * version (the SCD/mart publish discipline guarantees both);
    * non-key columns compare null-safely, so null→value and value→null
    * are updates while null→null is not. None when either version is no
    * longer retained. */
  def changeFeed(spark: SparkSession, table: String, keyCols: Seq[String],
                 fromVersion: Long, toVersion: Long): Option[DataFrame] = {
    // KEYLESS tables feed by stable row identity instead: `keyCols =
    // Nil` diffs on `_row_id` (row tracking required — the output then
    // carries the id column, which is what a replica apply keys on)
    if (keyCols.isEmpty) changeFeedByRowId(spark, table, fromVersion, toVersion)
    else fileGranularFeed(spark, table, fromVersion, toVersion, keyCols,
      (r, files) => readFilesGroupedDv(spark, table, files, r),
      versionSchema(spark, table, _))
  }

  /** [[changeFeed]] for a KEYLESS table: the diff keys on the stable
    * `_row_id` (row tracking), with the SAME file-granular economics —
    * a file both manifests reference under an unchanged mask holds
    * bit-identical rows under unchanged ids, so only non-shared (and
    * mask-changed) files enter the diff. A CoW rewrite carries
    * survivors' ids physically, so an untouched-but-co-located row
    * diffs equal and emits nothing; a genuinely changed row emits an
    * update pair under ONE identity. Output = data columns + `_row_id`
    * + `_change_type` — a replica maintains itself by applying
    * deletes/updates/inserts keyed on `_row_id`. */
  def changeFeedByRowId(spark: SparkSession, table: String,
                        fromVersion: Long,
                        toVersion: Long): Option[DataFrame] = {
    val sides = Seq(fromVersion, toVersion).flatMap(v => resolveVersion(spark, table, Some(v)))
    require(sides.size < 2 || sides.forall(_.rowTracked),
      s"changeFeed: $table has no declared keys and versions " +
        s"$fromVersion/$toVersion are not row-tracked — set " +
        "TBLPROPERTIES('rowTracking'='true') (the next commit " +
        "backfills ids) or pass key columns")
    fileGranularFeed(spark, table, fromVersion, toVersion, Seq("_row_id"),
      (r, files) => readFilesRowId(spark, table, files, r),
      r => versionSchema(spark, table, r)
        .add("_row_id", org.apache.spark.sql.types.LongType, nullable = true))
  }

  /** The FILE-GRANULAR diff both change feeds share: a file both
    * manifests reference is bit-identical in both versions, so (keys
    * being unique per version) every key it holds is unchanged and
    * cannot produce a feed row — and a key in a non-shared file of one
    * side cannot hide in a shared file of the other (the shared file is
    * in BOTH manifests, so that would duplicate the key within a
    * version). Diffing only the non-shared files is therefore exact,
    * and a 1-row CoW delete's feed scans 1 rewritten file + its
    * ancestor instead of two full snapshots: O(touched files), matching
    * the write side. Each side reads its non-shared files through
    * `read` (a version and its files); `schema` types a side with none. */
  private def fileGranularFeed(spark: SparkSession, table: String,
                               fromVersion: Long, toVersion: Long,
                               key: Seq[String],
                               read: (ResolvedVersion, Seq[String]) => DataFrame,
                               schema: ResolvedVersion => org.apache.spark.sql.types.StructType)
      : Option[DataFrame] =
    for {
      ro <- resolveVersion(spark, table, Some(fromVersion))
      rn <- resolveVersion(spark, table, Some(toVersion))
    } yield {
      // a file both manifests reference is only CONTENT-identical when
      // its deletion-vector entries also agree — a DV-only commit
      // changes logical rows while sharing every path, so files whose
      // mask differs between the versions re-enter the diff (each side
      // read under ITS version's mask → the masked rows classify as
      // deletes/inserts exactly like a rewrite would)
      val dvo = readDvRelation(spark, table, ro)
      val dvn = readDvRelation(spark, table, rn)
      val dvChanged: Set[String] =
        if (dvo.isEmpty && dvn.isEmpty) Set.empty
        else {
          val empty = dvo.orElse(dvn).get.limit(0)
          val a = dvo.getOrElse(empty)
          val b = dvn.getOrElse(empty)
          a.exceptAll(b).unionByName(b.exceptAll(a))
            .select("file").distinct().collect().map(_.getString(0)).toSet
        }
      val shared = rn.files.toSet.intersect(ro.files.toSet).diff(dvChanged)
      def side(r: ResolvedVersion): DataFrame = {
        val distinct = r.files.filterNot(shared)
        if (distinct.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema(r))
        else read(r, distinct)
      }
      rowDiff(side(ro), side(rn), key, s"v$fromVersion and v$toVersion of $table")
    }

  /** The diff core shared by the change feeds and [[syncToState]]:
    * one null-safe full-outer join; unchanged keys yield a null change
    * array, which explode (non-outer) drops — one join, one pass, no
    * per-class re-execution. */
  private def rowDiff(o: DataFrame, n: DataFrame, keyCols: Seq[String],
                      what: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = n.columns.toSeq
    require(o.columns.toSeq == cols,
      s"changeFeed: schema drift between $what — diff the common columns explicitly")
    val nonKey = cols.filterNot(keyCols.contains)
    val oj = o.select(cols.map(c => col(c).as(s"o_$c")) :+ lit(true).as("__present_o"): _*)
    val nj = n.select(cols.map(c => col(c).as(s"n_$c")) :+ lit(true).as("__present_n"): _*)
    val joined = oj.join(nj,
      keyCols.map(k => col(s"o_$k") === col(s"n_$k")).reduce(_ && _), "full_outer")
    def row(side: String, ct: String) =
      struct(cols.map(c => col(s"${side}_$c").as(c)) :+
        lit(ct).as("_change_type"): _*)
    val unchanged = nonKey.map(c => col(s"o_$c") <=> col(s"n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val changes = when(col("__present_o").isNull, array(row("n", "insert")))
      .when(col("__present_n").isNull, array(row("o", "delete")))
      .when(!unchanged,
        array(row("o", "update_preimage"), row("n", "update_postimage")))
    joined.select(explode(changes).as("__r")).select(col("__r.*"))
  }

  /** Commit instant of one retained version (manifest `ts:` header,
    * mtime fallback) — one small-file read. None when not retained. */
  def commitInstant(spark: SparkSession, table: String,
                    version: Long): Option[Long] =
    resolveVersion(spark, table, Some(version)).map { r =>
      val (fs, t) = fsFor(spark, table)
      r.commitTsMillis.getOrElse(fs.getFileStatus(
        new Path(versionsDir(t), vname(version))).getModificationTime)
    }

  /** Batch change feed across a RANGE of commits — the API behind the
    * SQL `table_changes('t', from[, to])` TVF (the lakehouse-CDF
    * convention): one row per change committed IN versions
    * `[fromVersion, toVersion]` inclusive, stamped `_change_type`,
    * `_commit_version` and `_commit_timestamp` (the manifest commit
    * instant). Version 1's "change" is its full content as inserts
    * (v0 never existed); any other step whose predecessor is GC'd
    * refuses loudly with the retained window — a feed can never
    * silently skip history. Cost follows [[changeFeed]]: each step
    * diffs only the files its DML touched. */
  def tableChanges(spark: SparkSession, table: String, keyCols: Seq[String],
                   fromVersion: Long,
                   toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // keyCols = Nil → the KEYLESS (row-tracked) feed: each step diffs
    // on `_row_id` ([[changeFeedByRowId]]) and the initial snapshot
    // carries the ids, so consumers apply by identity end to end
    val cur = currentVersion(spark, table).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"tableChanges: $table is not a versioned table"))
    val to = toVersion.getOrElse(cur)
    require(fromVersion >= 1L && fromVersion <= to,
      s"tableChanges: need 1 <= from ($fromVersion) <= to ($to)")
    require(to <= cur,
      s"tableChanges: end version $to is after the current version $cur of $table")
    // plan-width guard: one union arm per version step, so a wide range
    // over a keepDays-retained history builds a giant many-relation plan
    // — the batch twin of the hazard `maxVersionsPerTrigger` bounds on
    // the stream (and the same 128 default). Chunk wide feeds, or raise
    // the cap deliberately.
    val maxSteps = spark.conf
      .getOption("spark.graft.cdf.maxBatchVersions").map(_.toLong)
      .getOrElse(128L)
    require(to - fromVersion < maxSteps,
      s"tableChanges: range $fromVersion..$to spans ${to - fromVersion + 1} " +
        s"versions — one plan arm each; beyond $maxSteps the plan itself " +
        "becomes the bottleneck. Feed in chunks, or raise " +
        "spark.graft.cdf.maxBatchVersions deliberately")
    def refuse(v: Long): Nothing = throw new IllegalArgumentException(
      s"tableChanges: the change of version $v needs version ${v - 1}, " +
        s"which is no longer retained (retained: " +
        s"${listVersions(spark, table).mkString(", ")}) — feeds cannot " +
        "skip over GC'd history; widen keepVersions/keepDays or re-seed " +
        "from a snapshot")
    val steps = (fromVersion to to).map { v =>
      val step =
        if (v == 1L) // v0 never existed: the initial commit is all inserts
          (if (keyCols.isEmpty) readWithRowId(spark, table, Some(1L))
           else readTableVersion(spark, table, 1L))
            .map(_.withColumn("_change_type", lit("insert")))
            .getOrElse(refuse(v))
        else changeFeed(spark, table, keyCols, v - 1, v).getOrElse(refuse(v))
      val ts = new java.sql.Timestamp(commitInstant(spark, table, v).get)
      step.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(ts))
    }
    val ordered = steps.head.columns.toSeq
    // balanced union tree: O(log n) plan depth instead of a left-deep
    // O(n) chain — the analyzer recurses per node, and a 100-step feed
    // under a left fold measurably drags resolution
    def union(parts: IndexedSeq[DataFrame]): DataFrame =
      if (parts.length == 1) parts.head
      else {
        val (a, b) = parts.splitAt(parts.length / 2)
        union(a).unionByName(union(b))
      }
    union(steps.map(_.select(ordered.map(col): _*)).toIndexedSeq)
  }

  /** [[changeFeed]] for a table of a COMMIT SET
    * ([[publishAtomicVersioned]]): the delta of `table` between two
    * retained commits, diffed between the member versions they pin. It
    * inherits the member chain's file-granular diff: files both pinned
    * manifests share are never read, so a 1-row CoW change between
    * commits feeds from its rewritten file + ancestor only, and a
    * re-pinned (unchanged) member feeds empty without reading any data.
    * None when either commit is expired, lacks the table, or pins an
    * expired member version. */
  def changeFeedCommitted(spark: SparkSession, warehouse: String,
                          table: String, keyCols: Seq[String],
                          fromCommit: Long, toCommit: Long): Option[DataFrame] =
    for {
      (_, f) <- commitVersion(spark, warehouse, fromCommit)
      (_, t) <- commitVersion(spark, warehouse, toCommit)
      vf <- f.get(table)
      vt <- t.get(table)
      feed <- changeFeed(spark, s"$warehouse/$table", keyCols, vf, vt)
    } yield feed

  /** [[changeFeed]] from the previous retained version to the current
    * one — the nightly-consumer convenience. None until two versions
    * are retained. */
  def changeFeedLatest(spark: SparkSession, table: String,
                       keyCols: Seq[String]): Option[DataFrame] =
    currentVersion(spark, table).map(_._1).filter(_ >= 2L)
      .flatMap(v => changeFeed(spark, table, keyCols, v - 1, v))

  /** CDC replication: apply one change-feed batch ([[changeFeed]]'s
    * `_change_type` convention) to a versioned replica in ONE
    * copy-on-write commit — the standard feed-driven replication
    * target (a reporting copy, a region mirror, a search-index
    * sidecar) without ever re-shipping the table.
    *
    *   - `update_preimage` rows are dropped (the postimage carries the
    *     new truth; preimages exist for aggregate retraction, which
    *     [[graft.operators.IncrementalAgg.mergeChanges]] consumes);
    *   - `insert` + `update_postimage` rows upsert;
    *   - `delete` rows remove their keys.
    *
    * Single-commit atomicity: a reader never observes the deletes
    * without the inserts of the same batch. File economics follow
    * [[mergeInto]]: ≤ `maxPointKeys` affected keys → bloom-pruned
    * rewrite of only the files that might hold them (a nightly CDC
    * batch against a 100 TB replica rewrites O(batch) files); above
    * it → the touched set resolves distributively against the bloom
    * index ([[candidatesDistributed]]), with a one-anti-join
    * full-rewrite fallback only on unindexed replicas.
    * A feed between two versions has at most one change per key by
    * construction, so the apply is order-free within the batch. */
  def applyChangeFeed(spark: SparkSession, feed: DataFrame, table: String,
                      keyCol: String, maxPointKeys: Int = 10000,
                      keepVersions: Int = 2,
                      refreshStats: Boolean = true): Unit =
    applyChangeFeedKeys(spark, feed, table, Seq(keyCol), maxPointKeys,
      keepVersions, refreshStats)

  /** [[applyChangeFeed]] on a composite key — tuple-level matching and
    * uniqueness, per-indexed-column bloom-candidate intersection for
    * the touched set (see [[mergeIntoKeys]]). */
  def applyChangeFeedKeys(spark: SparkSession, feed: DataFrame, table: String,
                          keyCols: Seq[String], maxPointKeys: Int = 10000,
                          keepVersions: Int = 2,
                          refreshStats: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "applyChangeFeed: key columns required")
    require(feed.columns.contains("_change_type"),
      "applyChangeFeed: feed must carry _change_type (a changeFeed output)")
    val r = resolveVersion(spark, table, None).getOrElse(
      throw new IllegalArgumentException(
        s"applyChangeFeed: $table is not a versioned table"))
    // the effective rows are evaluated ONCE: the cardinality pass, the
    // key collect and the rewrite all read this persisted feed, so a feed
    // derived by a join (syncToState's row diff) runs that join once, not
    // once per reader
    val effective = feed.filter(col("_change_type") =!= "update_preimage").persist()
    try applyEffective(spark, effective, table, r, keyCols, maxPointKeys,
      keepVersions, refreshStats, "applyChangeFeed", op = "sync")
    finally { effective.unpersist(); () }
  }

  /** The keyed copy-on-write apply shared by [[applyChangeFeedKeys]]
    * (over its persisted effective rows) and [[upsertRows]]: every row
    * of `effective` upserts its key tuple, except rows whose
    * `_change_type` is `delete`, which remove theirs. One
    * audit pass (non-null, unique keys, the point-vs-bulk cardinality),
    * the touched files of [[candidatesForKeys]], their survivors by a
    * key anti-join (carrying stable row ids on a tracked table — the
    * batch's rows are new identities), and one [[publishCoW]] whose
    * conflict probe is [[keysProbe]]. `verb` names the caller in
    * refusals; `op` is the history operation. */
  private def applyEffective(spark: SparkSession, effective: DataFrame,
                             table: String, r: ResolvedVersion,
                             keyCols: Seq[String], maxPointKeys: Int,
                             keepVersions: Int, refreshStats: Boolean,
                             verb: String, op: String,
                             txn: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit, when}
    val all = r.files
    val isUpsert = col("_change_type") =!= "delete"
    // the stamp columns a feed rides with (`_commit_version`,
    // `_commit_timestamp`) are provenance, not content — drop them here
    // so any changeFeed / table_changes / graft-cdf output applies as-is
    val upserts = effective.filter(isUpsert)
      .drop("_change_type", "_commit_version", "_commit_timestamp")
    // one pass over the effective rows: cardinality + uniqueness + the
    // upsert count
    val allNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val ks = effective.agg(count(lit(1)), count(when(allNonNull, lit(1))),
      count_distinct(col(keyCols.head), keyCols.tail.map(col): _*),
      count(when(isUpsert, lit(1)))).head()
    val (nRows, nKeys, nDistinct) = (ks.getLong(0), ks.getLong(1), ks.getLong(2))
    val nUpserts = ks.getLong(3)
    if (nRows == 0L) return
    require(nKeys == nRows, s"$verb: ${nRows - nKeys} null keys")
    require(nDistinct == nKeys,
      s"$verb: keys must be unique across the batch ($nKeys changes, " +
        s"$nDistinct keys) — a key changing twice in one batch has no " +
        "defined outcome (fold multi-version feeds version-by-version)")

    val affected = effective.select(keyCols.map(col): _*)
    val touched = candidatesForKeys(spark, table, r, all, keyCols, affected,
      nDistinct, maxPointKeys)
    val tableSchema =
      if (all.nonEmpty) Some(versionSchema(spark, table, r))
      else None
    val tableCols = tableSchema.map(_.fieldNames.toSeq)
      .getOrElse(upserts.columns.toSeq)
    // schema parity is a hard error, not a silent drop: extra columns
    // mean the caller intended an evolution this path does not do
    // (mixed-schema files would poison the manifest)
    require(upserts.columns.toSet == tableCols.toSet,
      s"$verb: columns ${upserts.columns.toSet} must equal table columns " +
        s"${tableCols.toSet} — evolve the schema with alterAddColumns/" +
        "publishVersioned first")
    // stale-feed deletes for keys no file can hold, and nothing to
    // insert → provably no effect, no version bump
    if (touched.isEmpty && nUpserts == 0L) return
    val fresh = upserts.select(tableCols.map(col): _*)
    // on a tracked table the survivors carry their stable ids; the
    // batch's rows are new identities, their carrier null-filled by the
    // union so their ids derive from the new file's base
    val rewritten =
      if (touched.isEmpty) fresh
      else readTouchedForRewrite(spark, table, touched, r)
        .join(affected, keyCols, "left_anti")
        .unionByName(fresh, allowMissingColumns = true)
    publishCoW(spark, table, r,
      tableSchema.fold(rewritten)(alignRewrite(rewritten, _, verb)),
      touched, all.diff(touched), keepVersions, refreshStats,
      conflictProbe =
        keysProbe(spark, table, keyCols, affected, nDistinct, maxPointKeys),
      op = op, txn = txn)
  }

  /** Reconcile a versioned table to a NEW full state in ONE
    * copy-on-write commit: the row-level delta between the current
    * version and `newState` is derived with one key-partitioned
    * full-outer join ([[changeFeed]]'s classification) and applied
    * through [[applyChangeFeedKeys]] — so only the files holding
    * CHANGED keys rewrite and everything else carries by reference. The
    * verb for a pipeline that computes full snapshots but wants
    * CoW commit economics (an SCD apply, a dimension refresh): a
    * mostly-unchanged state costs O(changed keys) file rewrites, and a
    * no-change sync provably commits nothing (no version bump — the
    * downstream commit-set feed is then scan-free empty). Keys must be
    * unique and non-null in BOTH states. The diff joins the table's
    * current files against `newState` once: its rows persist for the
    * apply's passes (cardinality, touched keys, rewrite). Returns true
    * when a new version was committed. */
  def syncToState(newState: DataFrame, table: String, keyCols: Seq[String],
                  keepVersions: Int = 2, maxPointKeys: Int = 10000,
                  refreshStats: Boolean = true): Boolean = {
    val spark = newState.sparkSession
    val before = currentVersion(spark, table).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"syncToState: $table is not a versioned table — publish its " +
          "first state with publishVersioned"))
    import org.apache.spark.sql.functions.col
    val current = readTable(spark, table).getOrElse(
      throw new IllegalStateException(s"syncToState: $table vanished"))
    require(newState.columns.toSet == current.columns.toSet,
      s"syncToState: new state columns ${newState.columns.toSet} must " +
        s"equal table columns ${current.columns.toSet} — evolve the " +
        "schema with alterAddColumns/publishVersioned first")
    val feed = rowDiff(current.select(newState.columns.map(col).toSeq: _*),
      newState, keyCols, s"current and new state of $table")
    applyChangeFeedKeys(spark, feed, table, keyCols, maxPointKeys,
      keepVersions, refreshStats)
    currentVersion(spark, table).map(_._1).exists(_ > before)
  }

  /** Catch a replica up to the source across a RANGE of source
    * versions, one commit per version step (each step is the exact
    * [[changeFeed]] of that step — replaying history preserves every
    * intermediate state's visibility on the replica's own chain).
    * Returns the number of steps applied; a step whose feed versions
    * are no longer retained aborts with None (re-seed the replica from
    * a snapshot instead — feeds cannot skip over GC'd history). */
  def replicate(spark: SparkSession, srcTable: String, dstTable: String,
                keyCols: Seq[String], fromVersion: Long, toVersion: Long,
                keepVersions: Int = 2): Option[Int] = {
    require(fromVersion <= toVersion, "replicate: reversed version range")
    var applied = 0
    var v = fromVersion
    while (v < toVersion) {
      changeFeed(spark, srcTable, keyCols, v, v + 1) match {
        case None => return None
        case Some(f) =>
          applyChangeFeedKeys(spark, f, dstTable, keyCols,
            keepVersions = keepVersions)
          applied += 1
      }
      v += 1
    }
    Some(applied)
  }

  // ---- committed table statistics --------------------------------------
  //
  // Join planning at 100 TB rests on row counts and NDVs, not file sizes:
  // a snappy-compressed dim or a 2-column projection of a wide table fools
  // byte-based broadcast estimates in BOTH directions. Persisting one
  // profile row per column beside the manifest makes the committed truth
  // available to every reader for the price of one scan at publish time.

  final case class ColumnStats(name: String, nNonNull: Long,
                               nDistinct: Option[Long],
                               minStr: Option[String], maxStr: Option[String],
                               histogram: Option[Seq[(Double, Double, Long)]] =
                                 None)
  final case class TableStats(rowCount: Long, columns: Seq[ColumnStats]) {
    def column(name: String): Option[ColumnStats] = columns.find(_.name == name)
  }

  private def statsDir(table: Path) = new Path(table, "_stats")

  /** Statistics persisted with a committed version (current by default;
    * pass `version` for a retained older one). None when that version was
    * published without `collectStats` — readers degrade to size
    * estimates, never fail. One small-file read, no data I/O. */
  def readStats(spark: SparkSession, table: String,
                version: Option[Long] = None): Option[TableStats] = {
    val (fs, t) = fsFor(spark, table)
    val dataPath = version match {
      case Some(v) => readTableVersionPath(spark, table, v)
      case None => currentVersion(spark, table).map(_._2)
    }
    dataPath.map(p => p.substring(p.lastIndexOf('/') + 1))
      .flatMap(dn => parseStats(spark, fs, new Path(statsDir(t), dn)))
  }

  /** Committed row count TRUSTABLE for a metadata-only `COUNT(*)`
    * answer (the DSv2 aggregate pushdown): restricted to full-publish
    * versions ([[ResolvedVersion.ownsAllFiles]]), whose stats were
    * profiled from — or compaction-copied content-identical to —
    * exactly their own files. A copy-on-write, mask, restore or CONVERT
    * version may carry prior stats forward (`refreshStats = false`) or
    * have them rebuilt over carried files, so its recorded row count is
    * not proven exact; those return None and the count pays the honest
    * scan. */
  def exactCommittedRowCount(spark: SparkSession, table: String,
                             version: Option[Long] = None): Option[Long] =
    resolveVersion(spark, table, version).filter(_.ownsAllFiles).flatMap { r =>
      val (fs, t) = fsFor(spark, table)
      parseStats(spark, fs, new Path(statsDir(t), r.dirName)).map(_.rowCount)
    }

  /** Exact committed MIN/MAX of zone-mapped columns — the metadata
    * answer behind the DSv2 aggregate pushdown, under the SAME trust
    * rule as [[exactCommittedRowCount]] (full-publish versions only,
    * whose zone relation was derived from exactly their own files).
    * Folds the per-file (min, max) rows with Spark's own min/max — the
    * same functions that built them, so NULL and NaN semantics match a
    * full scan exactly (all-null columns and empty tables fold to
    * NULL, as MIN/MAX over them would). One small metadata read. None
    * when the version or any requested column doesn't qualify. */
  def exactCommittedMinMax(spark: SparkSession, table: String,
                           columns: Seq[String],
                           version: Option[Long] = None)
      : Option[Map[String, (Any, Any)]] =
    resolveVersion(spark, table, version).filter(_.ownsAllFiles).flatMap { r =>
      import org.apache.spark.sql.functions.{col, max, min}
      val (fs, t) = fsFor(spark, table)
      val zp = new Path(zonesDir(t), r.dirName)
      if (!fs.exists(zp) || columns.isEmpty) None
      else {
        // zones fold raw files → PHYSICAL spellings; answers key by the
        // caller's (logical) names — a rename never changes the values
        val physOfC = columns.map(c => c -> physicalColumn(spark, table, c)).toMap
        val zones = spark.read.parquet(zp.toString)
        if (!columns.forall(c => zones.columns.contains(s"min_${physOfC(c)}")))
          None
        else {
          val aggs = columns.flatMap(c =>
            Seq(min(col(s"min_${physOfC(c)}")), max(col(s"max_${physOfC(c)}"))))
          val row = zones.agg(aggs.head, aggs.tail: _*).head()
          Some(columns.zipWithIndex.map { case (c, i) =>
            c -> ((row.get(2 * i), row.get(2 * i + 1)))
          }.toMap)
        }
      }
    }

  /** (Re)profile the CURRENT version's LOGICAL content into the
    * `_stats` sidecar — the SQL `ANALYZE TABLE … COMPUTE STATISTICS`
    * verb. Point DML with `refreshStats = false` and deletion-vector
    * commits copy stats forward (stale counts — the documented
    * ANALYZE-cadence trade); this refresh restores profiled truth with
    * ONE aggregation pass and no rewrite. Masked rows are not rows:
    * the profile runs over the masked read. Returns the fresh stats;
    * None for non-versioned tables. */
  def refreshCommittedStats(spark: SparkSession,
                            table: String): Option[TableStats] =
    resolveVersion(spark, table, None).map { r =>
      import org.apache.spark.sql.functions.{col => colF, lit => litF, when => whenF}
      val (fs, t) = fsFor(spark, table)
      val resolved = readResolved(spark, table, r)
      val profile = graft.operators.Quality
        .profileWithCount(resolved, resolved.columns.toSeq, exact = false)
      // ANALYZE-grade histograms under Spark's OWN switches — the same
      // opt-in every Spark warehouse already configures: with
      // spark.sql.statistics.histogram.enabled, numeric columns get
      // spark.sql.statistics.histogram.numBins equi-height bins, and
      // the DSv2 scan reports them to the CBO where min/max alone
      // mispredicts skewed predicates
      val withHist =
        if (!spark.conf.get("spark.sql.statistics.histogram.enabled", "false")
            .toBoolean)
          profile.withColumn("histogram", litF(null).cast("string"))
        else {
          val bins = spark.conf
            .get("spark.sql.statistics.histogram.numBins", "254").toInt
          val hm = graft.operators.Quality
            .equiHeightHistograms(resolved, resolved.columns.toSeq, bins)
          val enc = hm.map { case (c, bs) =>
            c -> bs.map(b => s"${b._1}:${b._2}:${b._3}").mkString(";") }
          val encCol = enc.foldLeft(litF(null).cast("string")) {
            case (acc, (c, v)) => whenF(colF("col_name") === c, litF(v))
              .otherwise(acc)
          }
          profile.withColumn("histogram", encCol)
        }
      withHist.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(new Path(statsDir(t), r.dirName).toString)
      parseStats(spark, fs, new Path(statsDir(t), r.dirName)).get
    }

  private def parseStats(spark: SparkSession, fs: FileSystem,
                         p: Path): Option[TableStats] = {
    if (!fs.exists(p)) return None
    val df = spark.read.parquet(p.toString)
    val hasHist = df.columns.contains("histogram") // pre-histogram sidecars lack it
    val rows = df.collect()
    def histOf(r: org.apache.spark.sql.Row): Option[Seq[(Double, Double, Long)]] =
      if (!hasHist) None
      else Option(r.getAs[String]("histogram")).map(_.split(';').toSeq.map { b =>
        val parts = b.split(':')
        (parts(0).toDouble, parts(1).toDouble, parts(2).toLong)
      })
    val cols = rows.filter(_.getString(0) != "*").map(r => ColumnStats(
      r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      Option(r.getString(3)), Option(r.getString(4)), histOf(r))).toSeq
    rows.find(_.getString(0) == "*").map(r => TableStats(r.getLong(1), cols))
  }

  private def readTableVersionPath(spark: SparkSession, table: String,
                                   version: Long): Option[String] =
    resolveVersion(spark, table, Some(version)).map(r => s"$table/${r.dirName}")

  /** Read the current committed version with a broadcast hint applied
    * when its persisted row count is at most `broadcastMaxRows` — the
    * stats-informed join-planning surface: the decision comes from the
    * COMMITTED row count, not from byte-size guesses over compressed
    * files. Falls back to the plain read when no stats were collected. */
  def readTableStatsHinted(spark: SparkSession, table: String,
                           broadcastMaxRows: Long = 4000000L): Option[DataFrame] =
    readTable(spark, table).map { df =>
      readStats(spark, table) match {
        case Some(st) if st.rowCount <= broadcastMaxRows =>
          org.apache.spark.sql.functions.broadcast(df)
        case _ => df
      }
    }

  // ---- multi-table atomic commit --------------------------------------
  //
  // [[publishVersioned]] makes ONE table flip atomically; a pipeline that
  // publishes a mart AND the blacklist it was derived from needs both to
  // flip TOGETHER — a reader joining mart v(N) against blacklist v(N−1)
  // silently produces cross-version garbage. A commit set lifts the
  // pointer file one level up: every member is an ordinary versioned
  // table with its own manifest chain, and one commit file pins a
  // version of each:
  //
  //   warehouse/
  //     _commits/00000002          <- one file, lines "table=@version"
  //     mart/_versions/00000003    <- the member's own manifest chain
  //     mart/v00000003/part-*.parquet
  //     blacklist/_versions/...
  //
  // Members publish (or run DML) first, through their own chains; commit
  // readers do not see those versions until the commit lands. The commit
  // is ONE single-file CAS, so readers resolving any table through the
  // latest commit see a mutually consistent set — there is no instant at
  // which half the tables have flipped. A crash before the commit leaves
  // member versions no commit pins (the chain's own GC collects them);
  // concurrent committers race on the commit name and the loser fails
  // loudly.

  private def commitsDir(w: Path) = new Path(w, "_commits")

  /** Retained commit file names, ascending. */
  private def commitNames(fs: FileSystem, w: Path): Seq[String] = {
    val cd = commitsDir(w)
    if (!fs.exists(cd)) Nil
    else fs.listStatus(cd).map(_.getPath.getName)
      .filter(n => ManifestName.matches(n)).sorted.toSeq
  }

  /** Latest commit of a commit-set warehouse: (commit number, table →
    * pinned member version). One `listStatus` + one small-file read. */
  def currentCommit(spark: SparkSession,
                    warehouse: String): Option[(Long, Map[String, Long])] =
    commitAt(spark, warehouse, None)

  /** A specific commit if its file is still retained (time travel across
    * the whole SET — every table resolves to the same point in time). */
  def commitVersion(spark: SparkSession, warehouse: String,
                    commit: Long): Option[(Long, Map[String, Long])] =
    commitAt(spark, warehouse, Some(commit))

  /** Every retained commit, ascending: (commit number, table → pinned
    * member version). One `listStatus` + one small-file read per
    * retained commit. */
  private[graft] def retainedCommits(spark: SparkSession, warehouse: String)
      : Seq[(Long, Map[String, Long])] = {
    val (fs, w) = fsFor(spark, warehouse)
    commitNames(fs, w).map(readCommit(fs, w, warehouse, _))
  }

  private def commitAt(spark: SparkSession, warehouse: String,
                       commit: Option[Long]): Option[(Long, Map[String, Long])] = {
    val (fs, w) = fsFor(spark, warehouse)
    val committed = commitNames(fs, w)
    val chosen = commit match {
      case Some(c) => Some(vname(c)).filter(committed.contains)
      case None => committed.lastOption
    }
    chosen.map(readCommit(fs, w, warehouse, _))
  }

  private def readCommit(fs: FileSystem, w: Path, warehouse: String,
                         name: String): (Long, Map[String, Long]) = {
    val in = fs.open(new Path(commitsDir(w), name))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val pins = text.linesIterator.filter(_.contains("=")).map { line =>
      val Array(t, pin) = line.trim.split("=", 2)
      require(pin.startsWith("@"),
        s"commit $name of $warehouse: '$line' is not a version pin")
      t -> pin.substring(1).toLong
    }.toMap
    (name.toLong, pins)
  }

  /** One table out of the latest (or a retained older) commit set. None
    * when the commit is not retained, lacks the table, or pins a member
    * version that has expired. */
  def readCommitted(spark: SparkSession, warehouse: String, table: String,
                    commit: Option[Long] = None): Option[DataFrame] =
    commitAt(spark, warehouse, commit).flatMap(_._2.get(table))
      .flatMap(readTableVersion(spark, s"$warehouse/$table", _))

  /** Atomically publish a commit set over VERSIONED members: each table
    * in `writes` publishes through its own file-list manifest chain at
    * `$warehouse/$table` ([[publishVersioned]]), `pinCurrent` tables pin
    * whatever version their chain currently holds, and ONE commit file
    * flips the whole set (body lines `table=@version`). Because members
    * are ordinary versioned tables:
    *
    *   - CoW DML between commits ([[mergeInto]], [[upsertRows]],
    *     [[deleteWhere]] … against `$warehouse/$table`, then a
    *     seal-only call naming the table in `pinCurrent`) shares every
    *     untouched FILE across commits — a 1-row correction costs one
    *     rewritten file, never a table copy; an unchanged table re-pins
    *     its version with zero data I/O;
    *   - [[changeFeedCommitted]] inherits the member chain's
    *     file-granular diff — files shared by both pinned manifests
    *     are never scanned;
    *   - [[readCommitted]] / [[readCommittedStats]] resolve the pins
    *     through the member chain.
    *
    * Retention: commit files expire past `keepCommits`, but pinned
    * VERSIONS live by the member chain's own `keepVersions` — size it
    * to cover the commit window (a pin whose version expired resolves
    * to None, the same contract as an expired commit). Concurrency:
    * member publishes land before the commit CAS, so a losing racer
    * leaves its member versions as unpinned chain states — orphan
    * work, never a torn read; the next successful seal pins fresh
    * current versions. Returns the commit number. */
  def publishAtomicVersioned(spark: SparkSession,
                             writes: Map[String, DataFrame], warehouse: String,
                             pinCurrent: Set[String] = Set.empty,
                             keepCommits: Int = 2, keepVersions: Int = 8,
                             partitionBy: Map[String, Seq[String]] = Map.empty,
                             bloomIndex: Map[String, Seq[String]] = Map.empty,
                             zoneMap: Map[String, Seq[String]] = Map.empty,
                             collectStats: Boolean = false): Long = {
    require(writes.nonEmpty || pinCurrent.nonEmpty,
      "publishAtomicVersioned: empty commit")
    require(keepCommits >= 1)
    require(pinCurrent.intersect(writes.keySet).isEmpty,
      "publishAtomicVersioned: a table cannot be both written and pinned")
    val (fs, w) = fsFor(spark, warehouse)
    val next = commitNames(fs, w).lastOption.map(_.toLong).getOrElse(0L) + 1L
    writes.foreach { case (table, df) =>
      publishVersioned(df, s"$warehouse/$table",
        partitionBy = partitionBy.getOrElse(table, Nil),
        keepVersions = keepVersions, collectStats = collectStats,
        bloomIndexCols = bloomIndex.getOrElse(table, Nil),
        zoneMapCols = zoneMap.getOrElse(table, Nil))
    }
    val body = (writes.keySet ++ pinCurrent).toSeq.sorted.map { t =>
      val v = currentVersion(spark, s"$warehouse/$t").getOrElse(
        throw new IllegalArgumentException(
          s"publishAtomicVersioned: $t has no committed version under " +
            s"$warehouse — publish or DML it first, or move it to `writes`"))._1
      s"$t=@$v"
    }.mkString("\n")
    // the commit: ONE single-file CAS spanning all tables, then expire
    // commit files past the window (member versions GC by their chains)
    val cd = commitsDir(w)
    fs.mkdirs(cd)
    require(commitManifest(fs, new Path(cd, vname(next)), body),
      s"publishAtomic: commit $next lost a concurrent race on $warehouse")
    commitNames(fs, w).dropRight(keepCommits)
      .foreach(n => fs.delete(new Path(cd, n), false))
    next
  }

  /** Statistics persisted with a table of a commit set (latest commit by
    * default; pass `commit` for a retained older one): the stats of the
    * member version the commit pins. None when that version was
    * published without `collectStats`. */
  def readCommittedStats(spark: SparkSession, warehouse: String, table: String,
                         commit: Option[Long] = None): Option[TableStats] =
    commitAt(spark, warehouse, commit).flatMap(_._2.get(table))
      .flatMap(v => readStats(spark, s"$warehouse/$table", Some(v)))
}

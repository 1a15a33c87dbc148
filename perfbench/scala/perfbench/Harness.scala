package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** What a workload run is handed. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val seconds: Int, val cores: Int, val phases: Int)

/** One closed-loop, single-client workload. */
trait Workload {
  /** Untimed preparation: inputs, initial state, warm-up. Returns its
    * seconds. */
  def prepare(ctx: Ctx): Double
  /** The set-up step that `setup_s` times; repeated, median reported. */
  def setupStep(ctx: Ctx): Unit
  /** The measured ops of one phase: phase 0, and in a traced run phase 1
    * after it. Each phase does the same amount of work and continues from
    * the state the last one left. */
  def run(ctx: Ctx, rec: Recorder, phase: Int): Unit
  /** Checks of the final state; each failure is recorded as a failed op. */
  def finalCheck(ctx: Ctx, rec: Recorder): Unit
  /** Warehouse bytes on disk. */
  def storeBytes(ctx: Ctx): Long
}

/** Times ops and checks their outputs. The timer covers the
  * DataFrame-building call and the action; the check runs after it. */
final class Recorder(tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  val ops = ArrayBuffer.empty[OpRec]
  val errors = ArrayBuffer.empty[String]
  /** Files in the table version a point read read, by op id. */
  val filesInVersion = scala.collection.mutable.Map.empty[Long, Double]
  private var checks = 0
  private var checkFailures = 0

  def op[B, T](kind: String, write: Boolean)(build: => B)(act: B => T)
              (check: T => Option[String]): Long = {
    val id = ops.size + 1L
    var builtAt = 0L
    def body(): T = { val b = build; builtAt = System.currentTimeMillis(); act(b) }
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = Try(tracer.fold(body())(_.within(id, kind)(body())))
    val n1 = System.nanoTime()
    val end = System.currentTimeMillis()
    val err = res match {
      case Success(v) => Try(check(v)) match {
        case Success(e) => e
        case Failure(e) => Some(s"check threw $e")
      }
      case Failure(e) => Some(e.toString.take(300))
    }
    if (builtAt == 0L) builtAt = end
    ops += OpRec(id, kind, write, start, builtAt, end, (n1 - n0) / 1e9, err.isEmpty)
    err.foreach(e => errors += s"$kind #$id: $e")
    System.err.println(f"[perfbench] op $id $kind ${(n1 - n0) / 1e9}%.3f s${err.fold("")(" " + _)}")
    id
  }

  /** A check of final state that is not an op of its own. */
  def checkState(what: String)(cond: => Option[String]): Unit = {
    checks += 1
    Try(cond) match {
      case Success(None) =>
      case Success(Some(e)) => checkFailures += 1; errors += s"$what: $e"
      case Failure(e) => checkFailures += 1; errors += s"$what: threw $e"
    }
  }

  def attempted: Int = ops.size + checks
  def failed: Int = ops.count(!_.ok) + checkFailures
}

object Harness {
  def workload(name: String): Workload = name match {
    case "etl_nightly" => EtlNightly
    case "warehouse_sql" => WarehouseSql
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: File, cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", new File(work, "catalog").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) {
      // a file system cached before the session's conf took effect would
      // bypass the counters: drop the cache once and check
      def installed = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        s.sessionState.newHadoopConf()).isInstanceOf[CountingFs]
      if (!installed) org.apache.hadoop.fs.FileSystem.closeAll()
      require(installed, "the counting file system did not install")
    }
    s
  }

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val work = new File(arg(args, "--work").getOrElse("perfbench/.out/work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    mode match {
      case "selftest" => sys.exit(SelfTest.run(work, cores))
      case "run" =>
        val out = new File(arg(args, "--out").get)
        val json = runWorkload(arg(args, "--workload").get, arg(args, "--seed").get.toLong,
          arg(args, "--seconds").get.toInt, arg(args, "--trace").contains("1"), work, cores, out)
        Files.write(out.toPath, json.getBytes(UTF_8))
        // the result is on disk and the caller deletes the work dir: skip
        // Spark's shutdown hooks, which only clean up
        Runtime.getRuntime.halt(0)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
  }

  final case class Metric(name: String, value: Double, unit: String, n: Int,
                          percentile: Option[Int] = None)

  def runWorkload(name: String, seed: Long, seconds: Int, trace: Boolean, work: File,
                  cores: Int, out: File): String = {
    val w = workload(name)
    val t0 = System.nanoTime()
    val spark = session(work, cores, trace)
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, work, seed, seconds, cores, phases = if (trace) 2 else 1)
    val t1 = System.nanoTime()
    val warmup = w.prepare(ctx)
    val setupTimes = (1 to SetupReps).map { _ =>
      val s = System.nanoTime(); w.setupStep(ctx); (System.nanoTime() - s) / 1e9 }

    val t2 = System.nanoTime()
    // an untraced run measures phase 0. A traced run measures phase 0
    // traced, then phase 1 untraced: the end-to-end metrics and the
    // overhead's baseline come from the untraced phase, which runs on a
    // warmer JVM, so the overhead reads high rather than low
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val fs0 = CountingFs.snapshot(); val wr0 = CountingFs.bytesWritten()
    tracer.foreach(_.install())
    val first = new Recorder(tracer)
    w.run(ctx, first, 0)
    tracer.foreach(_.uninstall())
    val fsDelta = CountingFs.snapshot().map { case (k, v) => s"fs.$k" -> (v - fs0(k)).toDouble } +
      ("fs.written_mb" -> (CountingFs.bytesWritten() - wr0) / 1048576.0)
    val plain = if (!trace) first else { val r = new Recorder(None); w.run(ctx, r, 1); r }
    val t3 = System.nanoTime()
    System.err.println(f"[perfbench] session ${(t1 - t0) / 1e9}%.1f s, prepare and set-up " +
      f"${(t2 - t1) / 1e9}%.1f s (warm-up $warmup%.1f s), measured ${(t3 - t2) / 1e9}%.1f s")
    w.finalCheck(ctx, plain)
    val storeMb = w.storeBytes(ctx) / 1048576.0
    val heapMb = liveHeapMb()

    val recs = if (trace) Seq(first, plain) else Seq(plain)
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val metrics = endToEnd(plain, setupTimes, heapMb, storeMb, attempted, failed)
    val layers: Seq[(String, Double)] = tracer.toSeq.flatMap { t =>
      val (m, spans) = t.report(first.ops.toSeq, cores, first.filesInVersion.toMap)
      writeSpans(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl"), spans)
      (m ++ fsDelta ++ sqlLayer(plain) ++ Map(
        "session.start_s" -> sessionStart,
        "session.attach_s" -> Stats.median(setupTimes),
        "warmup_s" -> warmup,
        "trace.overhead_share" ->
          (1.0 - opsPerSecond(first.ops.toSeq) / opsPerSecond(plain.ops.toSeq)))).toSeq.sortBy(_._1)
    }
    val errs = recs.flatMap(_.errors).take(20)
    def q(s: String) = "\"" + Json.esc(s) + "\""
    val ms = metrics.map { m =>
      s"${q(m.name)}:{" + s""""value":${Json.num(m.value)},"unit":${q(m.unit)},"n":${m.n}""" +
        m.percentile.map(p => s""","percentile":$p""").getOrElse("") + "}" }.mkString(",")
    val ls = layers.map { case (k, v) => s"${q(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"workload":${q(name)},"seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""attempted":$attempted,"failed":$failed,"errors":[${errs.map(q).mkString(",")}],""" +
      s""""metrics":{$ms},"layers":{$ls}}"""
  }

  val SetupReps = 5
  val Maintenance = Set("optimize", "vacuum")

  /** Heap used after full collections, the run's state still reachable.
    * Spark's context cleaner drops blocks of collected RDDs in the
    * background, so collect until two readings agree within 1%. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var i = 0
    do { Thread.sleep(200); prev = cur; cur = used(); i += 1 }
    while (i < 10 && math.abs(cur - prev) > 0.01 * prev)
    cur
  }

  def opsPerSecond(ops: Seq[OpRec]): Double = ops.size / ops.map(_.seconds).sum

  def endToEnd(rec: Recorder, setup: Seq[Double], heapMb: Double, storeMb: Double,
               attempted: Int, failed: Int): Seq[Metric] = {
    val ok = rec.ops.filter(_.ok).toSeq
    val reads = ok.filterNot(_.write).map(_.seconds)
    // writes are the nights or the data-changing statements; OPTIMIZE and
    // VACUUM are reported per kind (sql.*) in the traced run
    val writes = ok.filter(o => o.write && !Maintenance(o.kind)).map(_.seconds)
    // a tail only where the sample supports one above p50; BENCHMARK.json
    // lists read_tail_s, so a read sample too small fails the run
    def timing(prefix: String, xs: Seq[Double]): Seq[Metric] =
      if (xs.isEmpty) Nil
      else Metric(s"${prefix}_p50_s", Stats.median(xs), "s", xs.size) +:
        (if (prefix == "write" && xs.size <= 20) Nil
         else {
           val (p, tail) = Stats.tail(xs)
           Seq(Metric(s"${prefix}_tail_s", tail, "s", xs.size, Some(p)))
         })
    Seq(Metric("setup_s", Stats.median(setup), "s", setup.size),
      Metric("ops_per_s", opsPerSecond(rec.ops.toSeq), "1/s", rec.ops.size)) ++
      timing("read", reads) ++ timing("write", writes) ++
      (if (writes.size >= 5) Seq(Metric("write_growth", Stats.growth(writes), "ratio", writes.size))
       else Nil) ++
      Seq(Metric("live_heap_mb", heapMb, "MB", 1),
        Metric("store_mb", storeMb, "MB", 1),
        Metric("fail_share", failed.toDouble / attempted, "share", attempted))
  }

  /** Median latency per SQL statement kind (warehouse_sql). */
  def sqlLayer(rec: Recorder): Map[String, Double] = {
    val kinds = Seq("select", "time_travel", "history", "delete", "update", "merge", "optimize",
      "vacuum")
    rec.ops.filter(_.ok).groupBy(_.kind).collect {
      case (k, os) if kinds.contains(k) => s"sql.${k}_p50_s" -> Stats.median(os.map(_.seconds).toSeq)
    }.toMap
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit =
    Files.write(f.toPath, spans.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))

  /** Bytes of regular files under `dir`. */
  def duBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else {
      val s = Files.walk(dir.toPath)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
}

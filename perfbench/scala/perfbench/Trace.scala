package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observer. Everything is measured from outside the
  * program: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst phases, scan nodes), the counting
  * file system, and one job group per op that links each op's jobs to
  * it. Events are kept in memory and read after the timed phase. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  // long call site of each SQL execution, taken on the calling thread;
  // jobs that adaptive execution submits from its own threads carry none
  private val execCallSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execCallSites.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val execSite = Seq("spark.sql.execution.id", "spark.sql.execution.root.id").iterator
        .flatMap(prop).flatMap(id => Option(execCallSites.get(id.toLong))).nextOption()
      val resultStage = e.stageInfos.maxByOption(_.stageId)
      jobs.add(JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time, e.stageIds,
        execSite.orElse(resultStage.map(_.details)).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add(StageRec(i.stageId, s, c, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks.add(TaskRec(e.stageId, ti.launchTime, ti.finishTime, ti.successful,
        m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.localBytesRead + x.shuffleReadMetrics.remoteBytesRead)
          .getOrElse(0L),
        m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val scans = scanNodes(qe.executedPlan)
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    // DSv2 scans (the graft source) carry their file list in the input
    // partitions rather than in a numFiles metric
    val v2Files = scans.collect { case b: BatchScanExec =>
      b.inputPartitions.collect { case fp: FilePartition => fp.files.toSeq }.flatten }.flatten
    qes.add(QeRec(phases, v2Files.size,
      metric("numFiles") + v2Files.size,
      metric("filesSize") + v2Files.map(_.length).sum,
      metric("numOutputRows")))
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `body` as op `opId`: its jobs join the op's job group. */
  def within[T](opId: Long, kind: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(groupOf(opId), kind)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Layer metrics and spans for the ops of the traced phase. Call after
    * [[uninstall]]. */
  def report(ops: Seq[OpRec], cores: Int,
             filesInVersion: Map[Long, Double]): (Map[String, Double], Seq[Span]) = {
    val jobList = jobs.asScala.toSeq
      .map(j => j.copy(end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start)))
    val stageList = stages.asScala.toSeq
    val taskList = tasks.asScala.toSeq
    val qeList = qes.asScala.toSeq
    val opByGroup = ops.map(o => groupOf(o.id) -> o).toMap
    val opJobs = jobList.filter(j => opByGroup.contains(j.group))
    val stageJob = opJobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val opStages = stageList.filter(s => stageJob.contains(s.id))
    val stageById = opStages.groupBy(_.id)
    val opTasks = taskList.filter(t => stageById.contains(t.stageId))
    def opOfQe(q: QeRec): Option[OpRec] = q.phases.values.map(_._1).minOption
      .flatMap(s => ops.find(o => s >= o.start && s <= o.end))
    val opQes = qeList.flatMap(q => opOfQe(q).map(_ -> q))

    // spans: op -> (construct, catalyst phases, job -> stage -> task)
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val spans = Seq.newBuilder[Span]
    val split = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (o <- ops) {
      val opSpan = Span(id(), 0L, "op", o.kind, o.start, o.end)
      spans += opSpan
      spans += Span(id(), opSpan.id, "construct", o.kind, o.start, o.buildEnd)
      val phases = opQes.collect { case (op, q) if op eq o => q.phases.toSeq }.flatten
      phases.foreach { case (k, (s, e)) => spans += Span(id(), opSpan.id, "catalyst", k, s, e) }
      val js = opJobs.filter(_.group == groupOf(o.id))
      val ss = js.flatMap(j => j.stageIds.flatMap(stageById.getOrElse(_, Nil)))
      val ts = opTasks.filter(t => ss.exists(_.id == t.stageId))
      for (j <- js) {
        val jSpan = Span(id(), opSpan.id, "job",
          s"job ${j.id} ${graftFrames(j.callSite).headOption.getOrElse("")}", j.start, j.end)
        spans += jSpan
        for (sid <- j.stageIds; s <- stageById.getOrElse(sid, Nil)) {
          val sSpan = Span(id(), jSpan.id, "stage", s"stage ${s.id}", s.submit, s.end)
          spans += sSpan
          for (t <- opTasks if t.stageId == s.id)
            spans += Span(id(), sSpan.id, "task", s"task of stage ${s.id}", t.launch, t.finish)
        }
      }
      val parts = Spans.layerSplit((o.start, o.end), Seq((o.start, o.buildEnd)),
        phases.map(_._2), js.map(j => (j.start, j.end)), ss.map(s => (s.submit, s.end)),
        ts.map(t => (t.launch, t.finish)))
      parts.foreach { case (k, v) => split(k) += v }
    }

    // point reads: table files scanned over files in the version read
    val pointScanned = opQes.collect { case (o, q) if filesInVersion.contains(o.id) => q.tableFiles }.sum
    val filesShare =
      if (filesInVersion.isEmpty) Map.empty[String, Double]
      else Map("scan.files_read_share" -> pointScanned / filesInVersion.values.sum)
    val wallMs = ops.map(o => o.end - o.start).sum.toDouble
    val nStages = opStages.size
    val eagerJobs = opJobs.count(j => ops.exists(o =>
      groupOf(o.id) == j.group && j.start <= o.buildEnd))
    def phaseSum(name: String) = opQes.flatMap(_._2.phases.get(name))
      .map { case (s, e) => e - s }.sum / 1000.0
    val launchDelay = opStages.map { s =>
      val firstLaunch = opTasks.filter(_.stageId == s.id).map(_.launch).minOption.getOrElse(s.submit)
      math.max(0L, firstLaunch - s.submit)
    }.sum / 1000.0
    val nonTask = opStages.map { s =>
      val ts = opTasks.filter(_.stageId == s.id).map(t => (t.launch, t.finish))
      (s.end - s.submit) - Spans.length(Spans.union(ts, (s.submit, s.end)))
    }.sum / 1000.0
    val taskBusyMs = opTasks.map(t => t.finish - t.launch).sum.toDouble
    val etl = opJobs.groupBy(j => etlLayer(j.callSite)).map { case (k, js) =>
      s"etl.${k}_s" -> js.map(j => j.end - j.start).sum / 1000.0 }
    val mb = 1024.0 * 1024.0
    val m = Map(
      "construct.s" -> ops.map(o => o.buildEnd - o.start).sum / 1000.0,
      "construct.eager_jobs" -> eagerJobs.toDouble,
      "catalyst.analysis_s" -> phaseSum("analysis"),
      "catalyst.optimization_s" -> phaseSum("optimization"),
      "catalyst.planning_s" -> phaseSum("planning"),
      "sched.jobs" -> opJobs.size.toDouble,
      "sched.stages" -> nStages.toDouble,
      "sched.tasks" -> opTasks.size.toDouble,
      "sched.tasks_per_stage" -> (if (nStages == 0) 0.0 else opTasks.size.toDouble / nStages),
      "sched.launch_delay_s" -> launchDelay,
      "sched.nontask_s" -> nonTask,
      "exec.task_run_s" -> opTasks.map(_.runMs).sum / 1000.0,
      "exec.task_cpu_s" -> opTasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> opTasks.map(_.gcMs).sum / 1000.0,
      "exec.core_busy_share" -> (if (wallMs == 0) 0.0 else taskBusyMs / (cores * wallMs)),
      "exec.tasks_failed" -> opTasks.count(!_.ok).toDouble,
      "shuffle.write_mb" -> opTasks.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> opTasks.map(_.shuffleRead).sum / mb,
      "shuffle.fetch_wait_s" -> opTasks.map(_.fetchWaitMs).sum / 1000.0,
      "scan.files" -> opQes.map(_._2.scanFiles).sum.toDouble,
      "scan.mb" -> opQes.map(_._2.scanBytes).sum / mb,
      "scan.rows" -> opQes.map(_._2.scanRows).sum.toDouble) ++
      EtlLayers.map(k => s"etl.${k}_s" -> 0.0).toMap ++ etl ++
      filesShare ++ split.map { case (k, v) => s"split.${k}_s" -> v / 1000.0 } ++
      Map("split.covered_share" -> (if (wallMs == 0) 0.0
        else (wallMs - split("op")) / wallMs))
    (m, spans.result())
  }
}

final case class OpRec(id: Long, kind: String, write: Boolean, start: Long,
                       buildEnd: Long, end: Long, seconds: Double, ok: Boolean)

object Tracer {
  final case class JobRec(id: Int, group: String, start: Long, stageIds: Seq[Int],
                          callSite: String, end: Long = 0L)
  final case class StageRec(id: Int, submit: Long, end: Long, numTasks: Int)
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, ok: Boolean,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, fetchWaitMs: Long)
  final case class QeRec(phases: Map[String, (Long, Long)], tableFiles: Long, scanFiles: Long,
                         scanBytes: Long, scanRows: Long)

  def groupOf(opId: Long): String = s"perfbench-op-$opId"

  /** Leaf scans of an executed plan, through adaptive wrappers and
    * subqueries; reused exchanges are skipped so a scan counts once. */
  def scanNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case s if s.children.isEmpty && s.nodeName.contains("Scan") =>
      s +: s.subqueries.flatMap(scanNodes)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }

  /** ETL stage layers, in the order the pipeline runs them. */
  val EtlLayers: Seq[String] = Seq("parse", "scd", "fact_append", "zorder", "mart", "commit")

  /** The ETL layer of a job, from its long call site: the first frame of
    * the call stack (innermost first) whose `graft.*` class and method
    * name one of the pipeline's stages; a parquet write called straight
    * from the pipeline's run is the fact append, an action in the body of
    * run the mart. Line numbers are never used. */
  def etlLayer(callSite: String): String = {
    val frames = callSite.linesIterator.map(_.trim.takeWhile(_ != '(')).toSeq
    val graft = frames.filter(_.startsWith("graft."))
    def firstGraftCaller = frames.indexWhere(_.startsWith("graft.")) match {
      case i if i > 0 => frames(i - 1)
      case _ => ""
    }
    graft.iterator.map(frameLayer).collectFirst { case Some(l) => l }.getOrElse {
      if (graft.headOption.exists(_.startsWith("graft.EtlPipeline$.$anonfun$run$")) &&
        firstGraftCaller.startsWith("org.apache.spark.sql.DataFrameWriter.")) "fact_append"
      // the only actions in the body of run itself materialize the mart
      else if (graft.headOption.contains("graft.EtlPipeline$.run")) "mart"
      else "other"
    }
  }

  private def frameLayer(f: String): Option[String] = {
    val lower = f.toLowerCase
    if (lower.contains("zorder")) Some("zorder")
    else if (Seq("commitatomic", "publishatomic", "synctostate", "overwritepartitions",
      "compactparquet", "lift$").exists(lower.contains)) Some("commit")
    else if (f.startsWith("graft.sources.BankFeeds") || f.startsWith("graft.sources.ExcelReader"))
      Some("parse")
    else if (f.startsWith("graft.operators.Scd") || f.startsWith("graft.EtlPipeline$.overwrite$"))
      Some("scd")
    else if (f.startsWith("graft.operators.FraudDetection") ||
      Seq("factslice", "readmart", "derive", "demobanktables").exists(lower.contains))
      Some("mart")
    else None
  }

  /** `graft.*` frames of a long call site, innermost first, as
    * class.method without the source position. */
  def graftFrames(callSite: String): Seq[String] =
    callSite.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .map(f => f.takeWhile(_ != '(')).toSeq


}

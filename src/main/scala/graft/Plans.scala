package graft

/** Plan-capture main for the optimization rounds: write
  * `.explain("formatted")` of every declared query (or a named subset) to
  * one text file per query, so plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark. Plan-node ids (`plan_id=N`,
  * `[id=#N]`) and the RDD id a checkpointed scan prints
  * (`MapPartitionsRDD[N]`) come from process-global counters and differ
  * run to run; they are masked (`plan_id=*`, `[id=#*]`, `RDD[*]`), so two
  * runs of the same code write identical files and a plan diff shows only
  * plan changes.
  *
  * Usage: runMain graft.Plans <outDir> [name1,name2,...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: every core the JVM sees).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val only: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).toSet)
    val suffix = args.lift(2).getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().appName("graft-plans")
      .config("spark.log.level", "ERROR").getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
            masked(plan).getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }

  /** `plan` with its run-dependent plan-node and RDD ids masked. */
  private def masked(plan: String): String = plan
    .replaceAll("plan_id=\\d+", "plan_id=*")
    .replaceAll("\\[id=#\\d+\\]", "[id=#*]")
    .replaceAll("RDD\\[\\d+\\]", "RDD[*]")
}

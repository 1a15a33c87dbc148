package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The three daily feeds of the reference pipeline, as Spark sources.
  *
  * Reference behavior being re-expressed (not ported):
  *   - transactions: `;`-separated csv-as-.txt with header
  *     (reference main.py:316-335), whitespace-dirty rows
  *     (transactions_02032021.txt:1-2) and decimal-comma amounts
  *     ("1046,40") — handled with trim() and
  *     regexp_replace(',', '.')::decimal(20,2) (cf. main.py:370's
  *     to_timestamp(trim(...))).
  *   - terminals: daily FULL xlsx snapshot, 4 string columns
  *     (main.py:18-37).
  *   - passport blacklist: CUMULATIVE xlsx, Excel-serial dates, blank
  *     filler rows (main.py:212-226; pandas serial→date at :215).
  *     NULL-passport filler rows are dropped at ingest — the reference
  *     re-inserts them daily through its NULL-never-matches anti-join
  *     (main.py:249-251), which is an accumulation bug, not semantics
  *     (SURVEY §1.3).
  *
  * Scale: transactions is the fact feed → a real distributed scan
  * (spark.read.csv with explicit schema, no inferSchema). The two xlsx
  * dims are ~150-row files; they are parsed driver-side by ExcelReader
  * and parallelized — at 100 TB dims of this shape are still tiny.
  */
object BankFeeds {

  /** Default directory of the reference's daily feed files: the input of
    * `EtlPipeline.main` and of the registry's `feed_transactions_typed`
    * query and its oracle. */
  val ReferenceDir = "/root/reference"

  /** Session conf naming the feed directory `feed_transactions_typed`
    * reads; unset, it is [[ReferenceDir]]. */
  val FeedDirConf = "spark.graft.feedDir"

  val txStagingSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("transaction_date", StringType),
    StructField("amount", StringType),
    StructField("card_num", StringType),
    StructField("oper_type", StringType),
    StructField("oper_result", StringType),
    StructField("terminal", StringType)))

  /** Raw → typed transactions feed. Column names follow the reference's
    * fact table (main.py:340-351): trans_id, trans_date, card_num,
    * oper_type, amt, oper_result, terminal.
    */
  def transactions(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", ";").option("header", true)
      .schema(txStagingSchema)
      .csv(path)
      .select(
        trim(col("transaction_id")).as("trans_id"),
        to_timestamp(trim(col("transaction_date")), "yyyy-MM-dd HH:mm:ss").as("trans_date"),
        regexp_replace(trim(col("amount")), ",", ".").cast(DecimalType(20, 2)).as("amt"),
        // outer trim only — inner spaces are part of the card key (main.py:416)
        trim(col("card_num")).as("card_num"),
        trim(col("oper_type")).as("oper_type"),
        trim(col("oper_result")).as("oper_result"),
        trim(col("terminal")).as("terminal"))

  /** Quarantining variant of [[transactions]]: structurally malformed
    * lines (wrong column count → PERMISSIVE `_corrupt`) and semantically
    * bad rows (unparseable timestamp/amount via try_to_timestamp/try_cast)
    * are split off instead of failing the load — the reference's row-wise
    * `executemany` aborts the whole day on one bad line (main.py:331-333).
    * Returns (typed good rows, quarantined rows with their raw fields).
    */
  def transactionsQuarantine(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val raw = spark.read
      .option("sep", ";").option("header", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(StructType(txStagingSchema.fields :+ StructField("_corrupt", StringType)))
      .csv(path)
    val typed = raw.select(
      col("_corrupt"),
      trim(col("transaction_id")).as("trans_id"),
      expr("try_to_timestamp(trim(transaction_date), 'yyyy-MM-dd HH:mm:ss')").as("trans_date"),
      expr("try_cast(replace(trim(amount), ',', '.') AS DECIMAL(20,2))").as("amt"),
      trim(col("card_num")).as("card_num"),
      trim(col("oper_type")).as("oper_type"),
      trim(col("oper_result")).as("oper_result"),
      trim(col("terminal")).as("terminal"))
    // short rows parse with trailing NULLs rather than a _corrupt marker,
    // so completeness is part of validity: every business field must be set
    val ok = col("_corrupt").isNull &&
      Seq("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal").map(col(_).isNotNull).reduce(_ && _)
    (typed.filter(ok).drop("_corrupt"), typed.filter(!ok))
  }

  /** Append-ready fact rows with the audit column the reference defaults
    * via `create_date default sysdate` (main.py:349). */
  def transactionsFact(spark: SparkSession, path: String): DataFrame =
    transactions(spark, path).withColumn("create_date", current_timestamp())

  val terminalsSchema: StructType = StructType(Seq(
    StructField("terminal_id", StringType),
    StructField("terminal_type", StringType),
    StructField("terminal_city", StringType),
    StructField("terminal_address", StringType)))

  /** Daily full terminals snapshot (xlsx → DataFrame). */
  def terminals(spark: SparkSession, path: String): DataFrame = {
    val rows = ExcelReader.dataRows(path)
      .filter(_.exists(_.isDefined))
      .map(r => Row((0 until 4).map(i => r.lift(i).flatten.orNull): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), terminalsSchema)
  }

  val blacklistSchema: StructType = StructType(Seq(
    StructField("passport_num", StringType),
    StructField("entry_dt", DateType)))

  /** Cumulative passport blacklist (xlsx → DataFrame). Reference column
    * order is (date, passport); reordered to (passport, entry_dt) like
    * main.py:214's reindex. Serial dates → DateType; blank rows dropped.
    */
  def blacklist(spark: SparkSession, path: String): DataFrame = {
    val rows = ExcelReader.dataRows(path)
      .map { r =>
        val serial = r.lift(0).flatten
        val passport = r.lift(1).flatten
        (passport, serial.map(s => ExcelReader.serialToDate(s.trim.toDouble.toInt)))
      }
      .collect { case (Some(p), d) =>
        Row(p, d.map(java.sql.Date.valueOf).orNull)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), blacklistSchema)
  }
}

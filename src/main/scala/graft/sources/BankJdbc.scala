package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC transport for the reference's bank schema (SURVEY §2.1 S4/S5).
  *
  * The reference connects to Oracle via a client library (main.py:7-11),
  * reads the pre-existing `bank.*` dimension tables (main.py:410-414), and
  * writes `rep_fraud` row-by-row with a single-threaded executemany
  * (main.py:31-34). This module is the Spark-native mapping of that
  * transport with the scale story the reference lacks:
  *
  *   - reads are range-partitioned (`partitionColumn`/`lowerBound`/
  *     `upperBound`/`numPartitions`) so N executors each open their own
  *     cursor over a key slice — a 100 TB fact drains in parallel instead
  *     of through one cursor;
  *   - writes go through `df.write.jdbc` with `batchsize`, so every
  *     partition batches inserts concurrently.
  *
  * ENV GATE: the pipeline reaches a bank database only when one is
  * configured — the calls are gated behind [[fromEnv]] (unset env → None
  * → EtlPipeline substitutes parquet fixtures, the documented deviation
  * in SURVEY §3). The option construction is pure and unit-tested, and
  * BankJdbcSpec round-trips every read and write call through an
  * embedded in-memory Derby database (its driver ships with Spark). A
  * deployment sets GRAFT_JDBC_URL / GRAFT_JDBC_USER / GRAFT_JDBC_PASSWORD
  * (and optionally GRAFT_JDBC_DRIVER) and gets the reference's exact
  * transport.
  */
object BankJdbc {

  final case class JdbcConfig(url: String, user: String, password: String,
                              driver: String = "oracle.jdbc.OracleDriver")

  /** Environment gate: all three of URL/USER/PASSWORD must be set. */
  def fromEnv(env: Map[String, String] = sys.env): Option[JdbcConfig] = for {
    url <- env.get("GRAFT_JDBC_URL")
    user <- env.get("GRAFT_JDBC_USER")
    pw <- env.get("GRAFT_JDBC_PASSWORD")
  } yield JdbcConfig(url, user, pw,
    env.getOrElse("GRAFT_JDBC_DRIVER", "oracle.jdbc.OracleDriver"))

  /** Exact option set for an un-partitioned read (small dims). Pure →
    * unit-testable without a database. */
  def readOptions(cfg: JdbcConfig, table: String,
                  fetchSize: Int = 10000): Map[String, String] = Map(
    "url" -> cfg.url,
    "dbtable" -> table,
    "user" -> cfg.user,
    "password" -> cfg.password,
    "driver" -> cfg.driver,
    "fetchsize" -> fetchSize.toString)

  /** Exact option set for a range-partitioned parallel read (facts).
    * `numPartitions` concurrent cursors, each scanning
    * `[lowerBound, upperBound]/numPartitions` of `partitionColumn`. */
  def partitionedReadOptions(cfg: JdbcConfig, table: String,
                             partitionColumn: String, lowerBound: Long,
                             upperBound: Long, numPartitions: Int,
                             fetchSize: Int = 10000): Map[String, String] =
    readOptions(cfg, table, fetchSize) ++ Map(
      "partitionColumn" -> partitionColumn,
      "lowerBound" -> lowerBound.toString,
      "upperBound" -> upperBound.toString,
      "numPartitions" -> numPartitions.toString)

  /** Exact option set for the batched parallel write. */
  def writeOptions(cfg: JdbcConfig, table: String,
                   batchSize: Int = 10000): Map[String, String] = Map(
    "url" -> cfg.url,
    "dbtable" -> table,
    "user" -> cfg.user,
    "password" -> cfg.password,
    "driver" -> cfg.driver,
    "batchsize" -> batchSize.toString)

  /** `bank.<table>` dim read (reference main.py:410-414). */
  def readTable(spark: SparkSession, cfg: JdbcConfig, table: String): DataFrame =
    spark.read.format("jdbc").options(readOptions(cfg, table)).load()

  /** Range-partitioned fact read — the 100 TB path. */
  def readTablePartitioned(spark: SparkSession, cfg: JdbcConfig, table: String,
                           partitionColumn: String, lowerBound: Long,
                           upperBound: Long, numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .options(partitionedReadOptions(cfg, table, partitionColumn,
        lowerBound, upperBound, numPartitions))
      .load()

  /** Mart write (reference main.py:31-34's executemany, batched+parallel). */
  def writeTable(df: DataFrame, cfg: JdbcConfig, table: String,
                 mode: SaveMode = SaveMode.Append): Unit =
    df.write.format("jdbc").mode(mode)
      .options(writeOptions(cfg, table))
      .save()
}

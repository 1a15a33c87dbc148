package graft

import graft.sources.BankJdbc
import org.apache.spark.sql.SaveMode

/** The env gate and the exact option sets the read/write calls use, then
  * a round trip of every call against an embedded in-memory Derby
  * database — Derby's driver ships with the Spark distribution, so the
  * real JDBC transport (driver load, cursors, partitioned range reads,
  * batched inserts) runs without a database server.
  */
class BankJdbcSpec extends SparkSpec {

  private val env = Map(
    "GRAFT_JDBC_URL" -> "jdbc:oracle:thin:@db:1521/bank",
    "GRAFT_JDBC_USER" -> "etl",
    "GRAFT_JDBC_PASSWORD" -> "secret")

  test("fromEnv requires url+user+password; default driver is Oracle thin") {
    assert(BankJdbc.fromEnv(Map.empty).isEmpty)
    assert(BankJdbc.fromEnv(env - "GRAFT_JDBC_PASSWORD").isEmpty)
    val cfg = BankJdbc.fromEnv(env).get
    assert(cfg.url === "jdbc:oracle:thin:@db:1521/bank")
    assert(cfg.driver === "oracle.jdbc.OracleDriver")
    val custom = BankJdbc.fromEnv(env + ("GRAFT_JDBC_DRIVER" -> "org.postgresql.Driver")).get
    assert(custom.driver === "org.postgresql.Driver")
  }

  test("dim read options carry url/dbtable/credentials/fetchsize") {
    val cfg = BankJdbc.fromEnv(env).get
    val o = BankJdbc.readOptions(cfg, "bank.clients")
    assert(o("dbtable") === "bank.clients")
    assert(o("fetchsize") === "10000")
    assert(!o.contains("partitionColumn"))
  }

  test("partitioned fact read splits the key range across N cursors") {
    val cfg = BankJdbc.fromEnv(env).get
    val o = BankJdbc.partitionedReadOptions(cfg, "bank.transactions",
      partitionColumn = "trans_id", lowerBound = 0L, upperBound = 1000000L,
      numPartitions = 32)
    assert(o("partitionColumn") === "trans_id")
    assert(o("lowerBound") === "0" && o("upperBound") === "1000000")
    assert(o("numPartitions") === "32")
  }

  test("write options batch inserts") {
    val cfg = BankJdbc.fromEnv(env).get
    val o = BankJdbc.writeOptions(cfg, "rep_fraud", batchSize = 5000)
    assert(o("dbtable") === "rep_fraud")
    assert(o("batchsize") === "5000")
  }

  test("readTable, readTablePartitioned and writeTable round-trip through embedded Derby") {
    val url = s"jdbc:derby:memory:graft_bank_${ProcessHandle.current().pid()}"
    val cfg = BankJdbc.JdbcConfig(s"$url;create=true", "etl", "secret",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    // the same user as Spark's connections: Derby's default schema is
    // the user name
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE CLIENTS (CLIENT_ID INT NOT NULL, " +
        "PASSPORT VARCHAR(16), CITY VARCHAR(32))")
      // one row below and one above the partitioned read's bounds: range
      // partitioning must still read them (first and last partitions are
      // open-ended)
      (Seq((-5, "P-5", "Omsk")) ++ (1 to 40).map(i => (i, s"P$i", s"city${i % 3}")) ++
          Seq((99, "P99", "Tula"))).foreach { case (id, p, c) =>
        st.executeUpdate(s"INSERT INTO CLIENTS VALUES ($id, '$p', '$c')")
      }
      st.close()

      val dims = BankJdbc.readTable(spark, cfg, "CLIENTS")
      assert(dims.columns.toSeq === Seq("CLIENT_ID", "PASSPORT", "CITY"))
      assert(dims.rdd.getNumPartitions === 1)
      assert(dims.count() === 42L)

      val facts = BankJdbc.readTablePartitioned(spark, cfg, "CLIENTS",
        partitionColumn = "CLIENT_ID", lowerBound = 1L, upperBound = 40L,
        numPartitions = 4)
      assert(facts.rdd.getNumPartitions === 4)
      val perPart = facts.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(perPart.length === 4 && perPart.forall(_ > 0))
      assert(facts.orderBy("CLIENT_ID").collect().map(_.getInt(0)).toSeq ===
        dims.orderBy("CLIENT_ID").collect().map(_.getInt(0)).toSeq)

      import spark.implicits._
      val mart = Seq(("2021-03-01 10:00:00", "P7", "Omsk", 1),
        ("2021-03-01 11:30:00", "P9", "Tula", 3)).toDF("event_dt", "passport", "city", "event_type")
      BankJdbc.writeTable(mart.repartition(2), cfg, "REP_FRAUD")
      BankJdbc.writeTable(mart.limit(1), cfg, "REP_FRAUD") // append
      val back = BankJdbc.readTable(spark, cfg, "REP_FRAUD")
        .orderBy("event_dt", "passport").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
      assert(back === Seq(("2021-03-01 10:00:00", "P7", "Omsk", 1),
        ("2021-03-01 10:00:00", "P7", "Omsk", 1),
        ("2021-03-01 11:30:00", "P9", "Tula", 3)))

      BankJdbc.writeTable(mart.limit(1), cfg, "REP_FRAUD", SaveMode.Overwrite)
      assert(BankJdbc.readTable(spark, cfg, "REP_FRAUD").count() === 1L)
    } finally {
      conn.close()
      // dropping an in-memory database reports success as an exception
      try java.sql.DriverManager.getConnection(s"$url;drop=true")
      catch { case _: java.sql.SQLException => }
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's fraud-report mart (main.py:390-531), Spark-first.
  *
  * Pipeline: a 5-way join view over clients/accounts/cards/transactions/
  * active-terminal-history (main.py:392-421), then three rule queries whose
  * union populates `rep_fraud` (main.py:445-531). The view is computed once
  * and cached — the reference references it five times across the three
  * INSERT…SELECTs.
  *
  * Rule 1 (blacklisted or expired passport, main.py:448-476): the
  * reference's `ON bl.passport = v.passport AND bl.entry_dt <= day OR
  * v.passport_valid_to < day` parses (Oracle precedence) as
  * `(equi AND range) OR range` — a non-equi OR join that degenerates to a
  * nested loop at scale. Re-expressed as the union of an equi hash join
  * branch and a pure filter branch, deduped — semantics-identical,
  * shuffle-friendly (SURVEY §2.3 J8).
  *
  * Rule 3 (two cities within one hour, main.py:489-529): the faithful form
  * is a ±1h interval self-join on card (J9); provided here as the
  * scale-safe neighbor rewrite — sort per card, compare lead() — which is
  * linear per partition and is what the reference's own lead()-based
  * query (main.py:505) is reaching for.
  */
object FraudDetection {

  /** The s_20_stg_data_view equivalent (main.py:392-421).
    *
    * @param dayWindow inclusive [from, to] restriction on the transaction
    *   day — the generalization of the reference's
    *   `trunc(create_date) = trunc(sysdate)` predicate (main.py:417):
    *   the nightly run passes (yesterday, today) so rule 3's ±1 h window
    *   survives the midnight boundary, a backfill passes the full range,
    *   and `None` processes the whole fact. When the input carries the
    *   warehouse's `day` partition column the filter lands on it, so on the
    *   day-partitioned fact this predicate is partition PRUNING, not a
    *   scan-then-drop — the property that keeps the nightly mart O(1 day)
    *   instead of O(history) at 100 TB.
    */
  def dataView(clients: DataFrame, accounts: DataFrame, cards: DataFrame,
               transactions: DataFrame, terminalsHist: DataFrame,
               asOf: java.sql.Timestamp,
               dayWindow: Option[(java.sql.Date, java.sql.Date)] = None): DataFrame = {
    val term = Scd.activeAt(terminalsHist, asOf)
      .select("terminal_id", "terminal_type", "terminal_city")
    val tx0 = dayWindow match {
      case Some((from, to)) =>
        val dayCol = if (transactions.columns.contains("day")) col("day")
                     else to_date(col("trans_date"))
        transactions.filter(dayCol.between(lit(from), lit(to)))
      case None => transactions
    }
    // fact → dims. Only the terminal dim (≈150 rows, bounded by physical
    // ATM fleet) gets an explicit broadcast hint; clients/accounts/cards
    // grow with the customer base, so their join strategy is left to
    // autoBroadcastJoinThreshold/AQE — at 100 TB they shuffle-hash-join on
    // their keys instead of OOMing every executor with a forced broadcast.
    tx0
      .join(cards.withColumn("card_num_key", trim(col("card_num")))
              .select(col("card_num_key"), col("account")),
            trim(col("card_num")) === col("card_num_key"), "inner")
      .join(accounts.select(col("account"), col("valid_to"), col("client")),
            Seq("account"), "inner")
      .join(clients, col("client") === col("client_id"), "inner")
      .join(broadcast(term), col("terminal") === col("terminal_id"), "inner")
      .select(
        concat_ws(" ", col("last_name"), col("first_name"), col("patronymic")).as("fio"),
        col("passport_num"), col("passport_valid_to"), col("phone"),
        col("client_id"), col("account"), col("valid_to"),
        col("card_num"), col("trans_date"), col("amt"), col("oper_type"),
        col("oper_result"), col("terminal_id"), col("terminal_type"),
        col("terminal_city"))
  }

  /** Rule 1: transaction by a client whose passport is blacklisted on/before
    * the transaction day, or already expired (main.py:448-476). */
  def blacklistedPassport(view: DataFrame, blacklist: DataFrame): DataFrame = {
    val day = to_date(col("trans_date"))
    val branchBlacklisted = view
      .join(blacklist.select(col("passport_num"), col("entry_dt")), Seq("passport_num"))
      .filter(col("entry_dt") <= day)
    val branchExpired = view.filter(col("passport_valid_to") < day)
    branchBlacklisted.select(view.columns.map(col).toSeq: _*)
      .unionByName(branchExpired)
      .select(col("trans_date").as("event_dt"), col("passport_num").as("passport"),
              col("fio"), col("phone"))
      .distinct()
      .withColumn("event_type", lit("Совершение операции при просроченном или заблокированном паспорте"))
  }

  /** Rule 1, faithful form: the reference's literal OR-condition left join
    * (main.py:464-471) written as-is. Without help this plans as a nested
    * loop; with [[graft.plans.OrJoinDecomposition]] installed the optimizer
    * splits it into hash-joinable branches — semantics identical to
    * [[blacklistedPassport]]'s manual union rewrite (FraudSpec proves the
    * outputs equal). Use the manual rewrite by default; this exists as the
    * strict-reference form (SURVEY §7.3).
    */
  def blacklistedPassportFaithful(view: DataFrame, blacklist: DataFrame): DataFrame = {
    val day = to_date(col("trans_date"))
    val bl = blacklist.select(col("passport_num").as("bl_passport"), col("entry_dt"))
    view.join(bl,
        (col("passport_num") === col("bl_passport") && col("entry_dt") <= day) ||
          col("passport_valid_to") < day,
        "inner")
      .select(col("trans_date").as("event_dt"), col("passport_num").as("passport"),
              col("fio"), col("phone"))
      .distinct()
      .withColumn("event_type", lit("Совершение операции при просроченном или заблокированном паспорте"))
  }

  /** Rule 2: transaction after the account contract expired
    * (`trunc(trans_date) > valid_to`, main.py:487). */
  def expiredContract(view: DataFrame): DataFrame =
    view.filter(to_date(col("trans_date")) > col("valid_to"))
      .select(col("trans_date").as("event_dt"), col("passport_num").as("passport"),
              col("fio"), col("phone"))
      .distinct()
      .withColumn("event_type", lit("Совершение операции при недействующем договоре"))

  /** Rule 3: same card in different cities within one hour
    * (main.py:489-529) — neighbor rewrite: per card, order by time and
    * compare with the next event; a city change within 3600 s flags both
    * transactions' window. Linear per card partition; the quadratic
    * interval self-join variant is exercised by `join_interval_self` in
    * QueriesRelational.
    */
  def cityHop(view: DataFrame): DataFrame = {
    val w = Window.partitionBy("card_num").orderBy(col("trans_date"), col("terminal_city"))
    view
      .select("card_num", "trans_date", "terminal_city", "passport_num", "fio", "phone")
      .withColumn("next_city", lead("terminal_city", 1).over(w))
      .withColumn("next_ts", lead("trans_date", 1).over(w))
      .filter(col("next_city").isNotNull &&
              col("next_city") =!= col("terminal_city") &&
              unix_timestamp(col("next_ts")) - unix_timestamp(col("trans_date")) <= 3600)
      .select(col("next_ts").as("event_dt"), col("passport_num").as("passport"),
              col("fio"), col("phone"))
      .distinct()
      .withColumn("event_type", lit("Совершение операций в разных городах в течение часа"))
  }

  /** rep_fraud mart rows: union of the three rules + report_dt
    * (main.py:427-441; report_dt default trunc(sysdate)). */
  def repFraud(view: DataFrame, blacklist: DataFrame,
               reportDt: java.sql.Date): DataFrame =
    blacklistedPassport(view, blacklist)
      .unionByName(expiredContract(view))
      .unionByName(cityHop(view))
      .withColumn("report_dt", lit(reportDt))
      .select("event_dt", "passport", "fio", "phone", "event_type", "report_dt")
}

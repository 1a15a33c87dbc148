package graft

import graft.sources.BankFeeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Final breadth batch: outer joins, same-nation 6-way join (TPC-H Q5
  * shape), explode/unnest, collect+sort arrays, conditional aggregates,
  * calendar trends, rank distributions, null-handling functions.
  */
object QueriesBreadth {
  import Tables._

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q5 shape: revenue where customer and supplier share the
    // nation, filtered to one region. Dims broadcast; fact-fact joins
    // shuffle on their keys.
    "join_6way_same_nation" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d),
              col("l_suppkey") === col("s_suppkey") &&
                col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"))))
               .cast(DoubleType).as("revenue"))),

    "join_full_outer" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey").as("nk")).groupBy("nk")
        .agg(count(lit(1)).as("n_cust"))
        .join(supplier(s, d).select(col("s_nationkey").as("nk")).groupBy("nk")
                .agg(count(lit(1)).as("n_supp")),
              Seq("nk"), "full_outer")
        .select(col("nk"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                coalesce(col("n_supp"), lit(0L)).as("n_supp"))),

    "join_right_outer" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))),

    // explode/unnest: word frequencies over part names.
    "explode_word_freq" -> ((s, d) =>
      part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))),

    // generator with ordinality: position-preserving unnest (posexplode).
    "fn_posexplode" -> ((s, d) =>
      part(s, d).filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
                posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .withColumn("pos", col("pos").cast(LongType))),

    // time-series gap filling: one row per (customer, calendar day) over
    // each customer's active span, zero-filled — the densify step before
    // any trailing-window feature at scale. sequence+explode is linear in
    // output days; the join is hash-partitioned on (custkey, day).
    "evt_gapfill_days" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_custkey") <= 20)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      val days = o.groupBy("o_custkey")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("o_custkey"),
                explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val counts = o.groupBy("o_custkey", "day").agg(count(lit(1)).as("n"))
      days.join(counts, Seq("o_custkey", "day"), "left")
        .select(col("o_custkey"), col("day"),
                coalesce(col("n"), lit(0L)).as("n_orders"))
    }),

    // collect + sort: deterministic array-valued aggregation. Joined to a
    // string so the result is hashable by engines that can't sort on
    // array-typed cells (the sorted array itself is covered in specs).
    "agg_collect_sorted" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
               .as("priorities"),
             count(lit(1)).as("n"))),

    // conditional aggregation (FILTER / count_if).
    "agg_conditional" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(when(col("l_discount") > 0.05, 1)).as("n_high_disc"),
             sum(when(col("l_quantity") > 25, dec(col("l_extendedprice")))).cast(DoubleType)
               .as("sum_price_bigqty"),
             count(lit(1)).as("n"))),

    // calendar trend: per month counts + exact sums.
    "agg_month_trend" -> ((s, d) =>
      orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
        .agg(count(lit(1)).as("n_orders"),
             sum(dec(col("o_totalprice"))).cast(DoubleType).as("sum_price"))),

    // rank-distribution windows: percent_rank / cume_dist (exact rational
    // arithmetic in double — deterministic across engines).
    "win_rank_dist" -> ((s, d) => {
      val w = Window.partitionBy("s_nationkey").orderBy(col("s_acctbal"), col("s_suppkey"))
      supplier(s, d).select(
        col("s_suppkey"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
    }),

    // date-interval RANGE frame (trailing 30 days per customer) — the
    // time-based window-frame surface beyond numeric RANGE offsets.
    "win_range_interval" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("""COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)""")
          .as("n_orders_30d"))),

    // multiset set ops (bag semantics — duplicates preserved/subtracted).
    // r16 (guide §2.3 "aggregate before you shuffle"): the declared result
    // is the per-key COUNT of the multiset op, so it computes from the two
    // sides' per-key counts directly — intersectAll's count per key is
    // least(n_left, n_right) over keys in both, exceptAll's is
    // n_left − n_right where positive (set arithmetic, row for row;
    // oracle-verified). The built-in rewrites union BOTH raw inputs
    // through one exchange, replicate rows with a Generate, and re-count;
    // this form shuffles one pre-aggregated row per (partition, key) —
    // map-side combine shrinks the exchanges ~4× here and unboundedly at
    // 100 TB — and the join reuses the aggregates' partitioning.
    "set_intersect_all" -> ((s, d) => {
      val oc = orders(s, d).select(col("o_custkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n1"))
      val lc = lineitem(s, d).select(col("l_orderkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n2"))
      oc.join(lc, "k").select(col("k"), least(col("n1"), col("n2")).as("n"))
    }),

    "set_except_all" -> ((s, d) => {
      val oc = orders(s, d).select(col("o_custkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n1"))
      val lc = lineitem(s, d).select(col("l_orderkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n2"))
      oc.join(lc, Seq("k"), "left_outer")
        .select(col("k"),
          (col("n1") - coalesce(col("n2"), lit(0L))).as("n"))
        .filter(col("n") > 0)
    }),

    // ordered string aggregation (string_agg parity via sorted collect).
    "agg_string_concat" -> ((s, d) =>
      customer(s, d)
        .filter(col("c_custkey") < 50)
        .groupBy("c_mktsegment")
        .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("names"))),

    // higher-order array functions (transform / filter / aggregate) —
    // integer arithmetic end-to-end for exact cross-engine parity.
    "fn_hof_arrays" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_linenumber") >= 1)
        .select(col("l_orderkey"), col("l_linenumber"),
                expr("sequence(1, l_linenumber)").as("arr"))
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("aggregate(arr, 0L, (acc, x) -> acc + x)").as("arr_sum"),
          expr("size(filter(arr, x -> x % 2 = 0))").cast(LongType).as("n_even"),
          expr("aggregate(transform(arr, x -> x * x), 0L, (acc, x) -> acc + x)")
            .as("sum_squares"))),

    // Feed-ingest parity: the reference's quirkiest parser (main.py:316-335,
    // 370 — `;` separator, whitespace-dirty rows, decimal-comma amounts)
    // under the hash gate. Reads the .txt feeds of the session's feed dir
    // (`BankFeeds.FeedDirConf`, the reference's own files unless set; the
    // path is feed-relative, not SF-relative); amt → double for
    // cross-engine dtype parity.
    "feed_transactions_typed" -> ((s, _) =>
      BankFeeds.transactions(s,
        s.conf.get(BankFeeds.FeedDirConf, BankFeeds.ReferenceDir) + "/transactions_*.txt")
        .withColumn("amt", col("amt").cast(DoubleType))),

    // arg-min/arg-max aggregates (min_by/max_by) with a unique ordering
    // key (chars*100000+id) so ties can't make the answer nondeterministic.
    "agg_min_max_by" -> ((s, d) =>
      documents(s, d)
        .groupBy("lang")
        .agg(expr("max_by(doc_id, n_chars * 100000 + doc_id)").as("longest_doc"),
             expr("min_by(doc_id, n_chars * 100000 + doc_id)").as("shortest_doc"),
             max("n_chars").cast(LongType).as("max_chars"))),

    // boolean aggregates: every/any/count_if.
    "agg_bool" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("every(l_quantity > 0)").cast(IntegerType).as("all_pos_qty"),
             expr("any(l_discount > 0.09)").cast(IntegerType).as("any_high_disc"),
             expr("count_if(l_tax = 0.0)").as("n_zero_tax"))),

    // Single-scan data profiling: every column's completeness, exact
    // distinct count, and min/max in ONE aggregation (Quality.profile) —
    // the publish-gate metrics pass.
    "quality_profile" -> ((s, d) =>
      graft.operators.Quality.profile(supplier(s, d),
        Seq("s_suppkey", "s_name", "s_nationkey"))),

    // Declarative expectations: N rules, ONE scan, one row of violation
    // counts (Quality.expectations). The publish gate a pipeline runs
    // before swapping a table live.
    "quality_expectations" -> ((s, d) =>
      graft.operators.Quality.expectations(lineitem(s, d), Seq(
        "qty_positive" -> (col("l_quantity") > 0),
        "discount_unit_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "ship_after_1994" -> (col("l_shipdate") >= lit("1995-01-01").cast(TimestampType))))),

    // Tukey-fence (1.5·IQR) outlier screen per group: percentile_disc
    // quartiles → broadcast fence table → map-only count
    // (Quality.iqrOutliers). The numeric anomaly pass of a publish gate;
    // fences are actual data values so both engines derive them exactly.
    "quality_iqr_outliers" -> ((s, d) =>
      graft.operators.Quality.iqrOutliers(
        orders(s, d), "o_orderpriority", "o_totalprice")),

    // Equal-width histogram by pure arithmetic (floor((x-lo)/w)): engine-
    // portable bucketing, one aggregation; the plotting/distribution pass
    // over a money column. Bucket ids clamp into [0, 20).
    "agg_histogram" -> ((s, d) =>
      orders(s, d)
        .select(least(greatest(floor((col("o_totalprice") - 0.0) / 30000.0), lit(0.0)),
                      lit(19.0)).cast(LongType).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))),

    // Calendar function breadth: truncation, field extraction (with the
    // day-of-week convention aligned cross-engine), month boundaries.
    "fn_datetime_extras" -> ((s, d) =>
      orders(s, d).filter(col("o_orderkey") <= 1000)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          quarter(col("o_orderdate")).cast(LongType).as("qtr"),
          (dayofweek(col("o_orderdate")) - 1).cast(LongType).as("dow_sun0"),
          last_day(col("o_orderdate")).cast(TimestampType).as("month_end"),
          datediff(lit("2002-01-01").cast(DateType), col("o_orderdate"))
            .cast(LongType).as("days_to_2002"))),

    // Range join with NO equi key: orders falling inside overlapping
    // 60-day windows (one per nation, 30-day offsets). The naive non-equi
    // join nested-loops; ScaleJoins.pointInIntervalJoin bucketizes to a
    // hash join (each pair meets exactly once). Oracle runs the naive
    // form — results must be identical.
    "join_point_in_interval" -> ((s, d) => {
      val day = 86400L * 1000000L
      val base = 788918400L * 1000000L // 1995-01-01 00:00:00 UTC, µs
      val iv = nation(s, d).select(col("n_nationkey"),
        (lit(base) + col("n_nationkey") * (30 * day)).as("lo"),
        (lit(base) + col("n_nationkey") * (30 * day) + (60 * day)).as("hi"))
      // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC, so the
      // cast to TIMESTAMP is identity and unix_micros matches epoch_us
      val f = orders(s, d)
        .select(unix_micros(col("o_orderdate").cast("timestamp")).as("p"))
      graft.operators.ScaleJoins.pointInIntervalJoin(f, "p", iv, "lo", "hi", 30 * day)
        .groupBy("n_nationkey").agg(count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q13 shape: order-count distribution — a double aggregation
    // (per-customer count, then histogram of counts). The outer agg input
    // is already small (one row per customer) — the expensive join/agg
    // happens once, the distribution is nearly free.
    "sql_order_dist" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_custs"))),

    // NULLS FIRST/LAST ordering in windows — nulls injected via nullif
    // (testdata has none), ordered explicitly so both engines agree.
    "win_null_ordering" -> ((s, d) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(expr("nullif(s_acctbal, 0.0)").asc_nulls_last, col("s_suppkey").asc)
      supplier(s, d).select(
        col("s_suppkey"),
        row_number().over(w).cast(LongType).as("rn_nulls_last"))
    }),

    // COUNT(DISTINCT) OVER — Spark rejects distinct aggregates in windows;
    // the standard rewrite is max(dense_rank) per partition: rank the
    // values, the max rank IS the distinct count, broadcast to every row.
    // The oracle runs the same rewrite so both engines share semantics.
    "win_count_distinct" -> ((s, d) => {
      val rk = Window.partitionBy("l_returnflag").orderBy("l_suppkey")
      val pt = Window.partitionBy("l_returnflag")
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                dense_rank().over(rk).as("dr"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                max("dr").over(pt).cast(LongType).as("n_distinct_supp"))
    }),

    // string-distance + padding/translation scalar breadth.
    "fn_strings_distance" -> ((s, d) =>
      customer(s, d).filter(col("c_custkey") <= 200).select(
        col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000001")).cast(LongType).as("lev"),
        lpad(col("c_mktsegment"), 12, ".").as("seg_lpad"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
        reverse(col("c_name")).as("name_rev"),
        translate(col("c_name"), "#0", "_x").as("name_tr"),
        repeat(col("c_mktsegment"), 2).as("seg_twice"))),

    // bitwise scalar surface (&, |, ^, shifts) — exact integer ops.
    "fn_bitwise" -> ((s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        expr("l_orderkey & 255").as("and_k"),
        expr("l_orderkey | 15").as("or_k"),
        expr("l_orderkey ^ l_linenumber").as("xor_k"),
        expr("shiftleft(l_linenumber, 3)").cast(LongType).as("shl"),
        expr("shiftright(l_orderkey, 2)").as("shr"))),

    // conditional scalar extras: greatest/least, nvl, nvl2.
    "fn_conditional_extras" -> ((s, d) =>
      supplier(s, d).select(
        col("s_suppkey"),
        greatest(col("s_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("s_acctbal"), lit(1000.0)).as("bal_cap"),
        expr("nvl(nullif(s_nationkey, 0), -1)").cast(LongType).as("nation_nvl"),
        expr("nvl2(nullif(s_nationkey, 0), 'set', 'zero')").as("nation_flag"))),

    // null-handling scalars (nullif introduces the nulls; testdata has none).
    "fn_null_handling" -> ((s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_discount"), lit(0.0)).as("disc_or_null"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_coalesced"),
        (col("l_discount") === 0.0).cast(IntegerType).as("is_zero"))),

    // RFM customer segmentation (recency / frequency / monetary quintiles)
    // — the behavioral-scoring workhorse. One hash agg collapses orders to
    // |customers| rows FIRST, so the three global ntiles run over the
    // small per-customer relation, not the fact table. Monetary folds to
    // exact integer cents (round(sum·100): the true sum IS a whole number
    // of cents, so the double error ~1e-7 never crosses a rounding
    // boundary and every downstream compare is integer-exact). Each ntile
    // orders by (metric, custkey) — a total order, so bucket assignment is
    // deterministic on any engine. At 100 TB the per-customer relation is
    // still million-scale; the exact single-partition ntile would become
    // the approx_percentile cut-point variant (same 1–5 scores, sketch
    // boundaries) — the agg-first shape is what survives.
    "rfm_customer_segments" -> ((s, d) => {
      val o = orders(s, d)
      val maxDate = o.agg(max(col("o_orderdate")).as("global_max_dt"))
      val base = o.groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_dt"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice")) * 100).cast(LongType).as("monetary_cents"))
        .crossJoin(broadcast(maxDate))
        .select(col("o_custkey"),
          datediff(col("global_max_dt"), col("last_dt")).cast(LongType).as("recency_days"),
          col("frequency"), col("monetary_cents"))
      val byR = Window.orderBy(col("recency_days"), col("o_custkey"))
      val byF = Window.orderBy(col("frequency").desc, col("o_custkey"))
      val byM = Window.orderBy(col("monetary_cents").desc, col("o_custkey"))
      base.select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        ntile(5).over(byR).cast(LongType).as("r_score"),
        ntile(5).over(byF).cast(LongType).as("f_score"),
        ntile(5).over(byM).cast(LongType).as("m_score"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "join_6way_same_nation" ->
      """SELECT n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY 1""",

    "join_full_outer" ->
      """SELECT COALESCE(c.nk, s.nk) AS nk,
          COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
          ON c.nk = s.nk""",

    "join_right_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY 1""",

    "explode_word_freq" ->
      """SELECT word, COUNT(*) AS n FROM (
          SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
        GROUP BY 1""",

    "fn_posexplode" ->
      """WITH t AS (
          SELECT p_partkey, string_split(p_name, ' ') AS toks
          FROM part WHERE p_partkey <= 100)
        SELECT p_partkey,
          CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
          unnest(toks) AS word
        FROM t""",

    "evt_gapfill_days" ->
      """WITH o AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS day
          FROM orders WHERE o_custkey <= 20),
        span AS (SELECT o_custkey, MIN(day) AS d0, MAX(day) AS d1 FROM o GROUP BY 1),
        days AS (
          SELECT o_custkey,
                 CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          FROM span),
        counts AS (SELECT o_custkey, day, COUNT(*) AS n FROM o GROUP BY 1, 2)
        SELECT d.o_custkey, d.day, COALESCE(c.n, 0) AS n_orders
        FROM days d LEFT JOIN counts c USING (o_custkey, day)""",

    "agg_collect_sorted" ->
      """SELECT o_orderstatus,
          array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
          COUNT(*) AS n
        FROM orders GROUP BY 1""",

    "agg_conditional" ->
      """SELECT l_returnflag,
          COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_quantity > 25) AS DOUBLE) AS sum_price_bigqty,
          COUNT(*) AS n
        FROM lineitem GROUP BY 1""",

    "agg_month_trend" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1""",

    "win_rank_dist" ->
      """SELECT s_suppkey,
          PERCENT_RANK() OVER w AS prank,
          CUME_DIST() OVER w AS cdist
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)""",

    "win_range_interval" ->
      """SELECT o_orderkey, o_custkey,
          COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_orders_30d
        FROM orders""",

    "set_intersect_all" ->
      """SELECT k, COUNT(*) AS n FROM (
          SELECT o_custkey AS k FROM orders
          INTERSECT ALL SELECT l_orderkey AS k FROM lineitem) t
        GROUP BY 1""",

    "set_except_all" ->
      """SELECT k, COUNT(*) AS n FROM (
          SELECT o_custkey AS k FROM orders
          EXCEPT ALL SELECT l_orderkey AS k FROM lineitem) t
        GROUP BY 1""",

    "agg_string_concat" ->
      """SELECT c_mktsegment,
          string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM customer WHERE c_custkey < 50
        GROUP BY 1""",

    "fn_hof_arrays" ->
      """SELECT l_orderkey, l_linenumber,
          CAST(list_sum(range(1, l_linenumber + 1)) AS BIGINT) AS arr_sum,
          CAST(len(list_filter(range(1, l_linenumber + 1), x -> x % 2 = 0)) AS BIGINT) AS n_even,
          CAST(list_sum(list_transform(range(1, l_linenumber + 1), x -> x * x)) AS BIGINT) AS sum_squares
        FROM lineitem WHERE l_linenumber >= 1""",

    "feed_transactions_typed" ->
      s"""SELECT
          trim(transaction_id) AS trans_id,
          strptime(trim(transaction_date), '%Y-%m-%d %H:%M:%S') AS trans_date,
          CAST(CAST(replace(trim(amount), ',', '.') AS DECIMAL(20,2)) AS DOUBLE) AS amt,
          trim(card_num) AS card_num,
          trim(oper_type) AS oper_type,
          trim(oper_result) AS oper_result,
          trim(terminal) AS terminal
        FROM read_csv('${BankFeeds.ReferenceDir}/transactions_*.txt', delim=';', header=true,
          columns={'transaction_id':'VARCHAR','transaction_date':'VARCHAR','amount':'VARCHAR',
                   'card_num':'VARCHAR','oper_type':'VARCHAR','oper_result':'VARCHAR','terminal':'VARCHAR'})""",

    "agg_min_max_by" ->
      """SELECT lang,
          arg_max(doc_id, n_chars * 100000 + doc_id) AS longest_doc,
          arg_min(doc_id, n_chars * 100000 + doc_id) AS shortest_doc,
          CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY 1""",

    "agg_bool" ->
      """SELECT l_returnflag,
          CAST(bool_and(l_quantity > 0) AS INT) AS all_pos_qty,
          CAST(bool_or(l_discount > 0.09) AS INT) AS any_high_disc,
          COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_zero_tax
        FROM lineitem GROUP BY 1""",

    "quality_profile" ->
      """SELECT 's_suppkey' AS col_name, COUNT(s_suppkey) AS n_nonnull,
          COUNT(DISTINCT s_suppkey) AS n_distinct,
          CAST(MIN(s_suppkey) AS VARCHAR) AS min_str,
          CAST(MAX(s_suppkey) AS VARCHAR) AS max_str FROM supplier
        UNION ALL
        SELECT 's_name', COUNT(s_name), COUNT(DISTINCT s_name),
          CAST(MIN(s_name) AS VARCHAR), CAST(MAX(s_name) AS VARCHAR) FROM supplier
        UNION ALL
        SELECT 's_nationkey', COUNT(s_nationkey), COUNT(DISTINCT s_nationkey),
          CAST(MIN(s_nationkey) AS VARCHAR), CAST(MAX(s_nationkey) AS VARCHAR) FROM supplier""",

    "quality_expectations" ->
      """SELECT
          COUNT(*) FILTER (WHERE NOT COALESCE(l_quantity > 0, FALSE)) AS viol_qty_positive,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_discount >= 0 AND l_discount <= 1, FALSE)) AS viol_discount_unit_range,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE)) AS viol_returnflag_domain,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_shipdate >= TIMESTAMP '1995-01-01', FALSE)) AS viol_ship_after_1994
        FROM lineitem""",

    "quality_iqr_outliers" ->
      """WITH f AS (
          SELECT o_orderpriority,
            quantile_disc(o_totalprice, 0.25) AS q1,
            quantile_disc(o_totalprice, 0.75) AS q3
          FROM orders GROUP BY 1)
        SELECT o.o_orderpriority, COUNT(*) AS n_rows,
          COUNT(*) FILTER (WHERE o.o_totalprice < q1 - (q3 - q1) * 1.5
                              OR o.o_totalprice > q3 + (q3 - q1) * 1.5) AS n_outliers,
          MIN(q1 - (q3 - q1) * 1.5) AS fence_lo,
          MIN(q3 + (q3 - q1) * 1.5) AS fence_hi
        FROM orders o JOIN f USING (o_orderpriority)
        GROUP BY 1""",

    "agg_histogram" ->
      """SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) / 30000.0), 0), 19) AS BIGINT) AS bucket,
          COUNT(*) AS n
        FROM orders GROUP BY 1""",

    "fn_datetime_extras" ->
      """SELECT o_orderkey,
          date_trunc('month', o_orderdate) AS month_start,
          CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
          CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0,
          CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
          CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT) AS days_to_2002
        FROM orders WHERE o_orderkey <= 1000""",

    "join_point_in_interval" ->
      """WITH iv AS (
          SELECT n_nationkey,
                 788918400000000 + n_nationkey * 2592000000000 AS lo,
                 788918400000000 + n_nationkey * 2592000000000 + 5184000000000 AS hi
          FROM nation),
        f AS (SELECT epoch_us(o_orderdate) AS p FROM orders)
        SELECT n_nationkey, COUNT(*) AS n_orders
        FROM iv JOIN f ON f.p >= iv.lo AND f.p < iv.hi
        GROUP BY 1""",

    "sql_order_dist" ->
      """SELECT n_orders, COUNT(*) AS n_custs FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) t
        GROUP BY 1""",

    "win_null_ordering" ->
      """SELECT s_suppkey,
          ROW_NUMBER() OVER (PARTITION BY s_nationkey
            ORDER BY nullif(s_acctbal, 0.0) ASC NULLS LAST, s_suppkey ASC) AS rn_nulls_last
        FROM supplier""",

    "win_count_distinct" ->
      """WITH r AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_suppkey) AS dr
          FROM lineitem)
        SELECT l_orderkey, l_linenumber, l_returnflag,
               MAX(dr) OVER (PARTITION BY l_returnflag) AS n_distinct_supp
        FROM r""",

    "fn_strings_distance" ->
      """SELECT c_custkey,
          CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS lev,
          lpad(c_mktsegment, 12, '.') AS seg_lpad,
          rpad(c_mktsegment, 12, '.') AS seg_rpad,
          reverse(c_name) AS name_rev,
          translate(c_name, '#0', '_x') AS name_tr,
          repeat(c_mktsegment, 2) AS seg_twice
        FROM customer WHERE c_custkey <= 200""",

    "fn_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
          l_orderkey & 255 AS and_k,
          l_orderkey | 15 AS or_k,
          xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS xor_k,
          CAST(l_linenumber << 3 AS BIGINT) AS shl,
          l_orderkey >> 2 AS shr
        FROM lineitem""",

    "fn_conditional_extras" ->
      """SELECT s_suppkey,
          greatest(s_acctbal, 0.0) AS bal_floor,
          least(s_acctbal, 1000.0) AS bal_cap,
          CAST(coalesce(nullif(s_nationkey, 0), -1) AS BIGINT) AS nation_nvl,
          CASE WHEN nullif(s_nationkey, 0) IS NOT NULL THEN 'set' ELSE 'zero' END AS nation_flag
        FROM supplier""",

    "fn_null_handling" ->
      """SELECT l_orderkey, l_linenumber,
          nullif(l_discount, 0.0) AS disc_or_null,
          coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
          CAST(l_discount = 0.0 AS INT) AS is_zero
        FROM lineitem""",

    "rfm_customer_segments" ->
      """WITH agg AS (
          SELECT o_custkey,
            date_diff('day', CAST(max(o_orderdate) AS DATE),
                      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS recency_days,
            COUNT(*) AS frequency,
            CAST(round(SUM(o_totalprice) * 100) AS BIGINT) AS monetary_cents
          FROM orders GROUP BY o_custkey)
        SELECT o_custkey, recency_days, frequency, monetary_cents,
          ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
          ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
          ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
        FROM agg"""
  )
}

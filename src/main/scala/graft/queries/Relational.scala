package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational surface (SURVEY.md §2C Q01–Q32, minus the as-of join
  * Q12 which lives in [[graft.operators.AsOfJoin]]).
  *
  * Everything here is declarative DataFrame API: Catalyst provides
  * predicate pushdown, column pruning, join selection (broadcast for the
  * dim tables, sort-merge for fact⋈fact), partial aggregation and
  * whole-stage codegen. At 100 TB the same plans hold: joins/aggs shuffle
  * on their keys, top-k compiles to TakeOrderedAndProject (no global
  * sort), and dimension joins broadcast.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** The oracle of q18 and of its scale form q18b: top-3 lineitems per
    * return flag by price, ties to the lower (orderkey, linenumber). */
  private val Q18Sql: String =
    "SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_extendedprice FROM (" +
      "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, " +
      "ROW_NUMBER() OVER (PARTITION BY l_returnflag " +
      "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk FROM lineitem) " +
      "WHERE rk <= 3 ORDER BY l_returnflag, rk"

  def defs: Seq[QueryDef] = Seq(
    // ---- scans / projections / filters -------------------------------
    QueryDef("q01_scan_count",
      (s, d) => t(s, d, "lineitem").agg(count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM lineitem")),

    QueryDef("q02_projection",
      // (l_orderkey, l_linenumber) is NOT unique at sf0.1 — the ORDER BY
      // must cover every output column so tied rows render identically
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(100),
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100")),

    QueryDef("q03_filter_agg",
      (s, d) => t(s, d, "lineitem")
        .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue")),
      Some("SELECT COUNT(*) AS cnt, ROUND(SUM(l_extendedprice*l_discount),2) AS revenue " +
        "FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),

    QueryDef("q04_predicates_in_like",
      (s, d) => t(s, d, "customer")
        .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") && col("c_name").like("%0%"))
        .agg(count(lit(1)).as("cnt"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key")),
      Some("SELECT COUNT(*) AS cnt, MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key " +
        "FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_name LIKE '%0%'")),

    // ---- joins -------------------------------------------------------
    QueryDef("q05_join_inner",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment")),
      Some("SELECT c_mktsegment, COUNT(*) AS cnt, ROUND(SUM(o_totalprice),2) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    QueryDef("q06_join_multiway",
      (s, d) => {
        // region/nation broadcast (tiny dims); customer⋈orders⋈lineitem
        // shuffle on their keys — the TPC-H Q5 join shape.
        val j = t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        j.groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("SELECT n_name, ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS revenue " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name")),

    QueryDef("q07_join_left_outer",
      (s, d) => {
        val per = t(s, d, "customer")
          .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("cnt"))
        per.agg(
          count(when(col("cnt") === 0, 1)).as("no_order_customers"),
          count(lit(1)).as("total_customers"),
          max(col("cnt")).as("max_orders"))
      },
      Some("SELECT COUNT(*) FILTER (WHERE cnt = 0) AS no_order_customers, " +
        "COUNT(*) AS total_customers, MAX(cnt) AS max_orders FROM (" +
        "SELECT c_custkey, COUNT(o_orderkey) AS cnt FROM customer " +
        "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey)")),

    QueryDef("q08_join_semi",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)")),

    QueryDef("q09_join_anti",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey")),
      Some("SELECT c_custkey FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey")),

    QueryDef("q10_join_theta",
      (s, d) => t(s, d, "part")
        .join(t(s, d, "lineitem"),
          col("l_partkey") === col("p_partkey") && col("l_quantity") > col("p_size"))
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM part p JOIN lineitem l " +
        "ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size")),

    QueryDef("q10b_interval_join",
      // PURE range join (no equi key): events contained in 30-minute
      // windows anchored at every 97th event. A bare range predicate
      // compiles to BroadcastNestedLoopJoin — an n·m scan that dies at
      // 100 TB — so this runs through operators/IntervalJoin: intervals
      // explode into 15-minute buckets, points hash-join on the bucket,
      // exact containment filters. Plan-guarded BNLJ-free (PlanSpec).
      (s, d) => {
        import graft.operators.IntervalJoin
        val ev = t(s, d, "events")
        val iv = ev.where(col("event_id") % 97 === 0)
          .select(col("event_id").as("iv_id"), col("ts").as("iv_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("iv_end"))
        IntervalJoin.pointInInterval(
            ev.select(col("event_id"), col("ts")), "ts",
            iv, "iv_start", "iv_end", bucketSeconds = 900)
          .groupBy(col("iv_id"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("iv_id"))
      },
      Some("WITH iv AS (SELECT event_id AS iv_id, ts AS iv_start, " +
        "ts + INTERVAL 30 MINUTE AS iv_end FROM events WHERE event_id % 97 = 0) " +
        "SELECT iv_id, COUNT(*) AS n_events FROM iv JOIN events e " +
        "ON e.ts >= iv.iv_start AND e.ts <= iv.iv_end " +
        "GROUP BY iv_id ORDER BY iv_id")),

    QueryDef("q11_join_cross",
      (s, d) => t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select(concat(col("r_name"), lit("-"), col("n_name")).as("pair"))
        .agg(count(lit(1)).as("cnt"), min(col("pair")).as("min_pair"), max(col("pair")).as("max_pair")),
      Some("SELECT COUNT(*) AS cnt, MIN(r_name || '-' || n_name) AS min_pair, " +
        "MAX(r_name || '-' || n_name) AS max_pair FROM region CROSS JOIN nation")),

    // ---- aggregation -------------------------------------------------
    QueryDef("q13_agg_hash",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_price, " +
        "ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc_price, " +
        "ROUND(AVG(l_quantity),2) AS avg_qty, ROUND(AVG(l_extendedprice),2) AS avg_price, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus")),

    QueryDef("q14_distinct_count",
      (s, d) => t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        countDistinct(col("l_orderkey")).as("nd_order")),
      Some("SELECT COUNT(DISTINCT l_partkey) AS nd_part, COUNT(DISTINCT l_suppkey) AS nd_supp, " +
        "COUNT(DISTINCT l_orderkey) AS nd_order FROM lineitem")),

    QueryDef("q15_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"), col("g_status"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS cnt, " +
        "ROUND(SUM(l_quantity),2) AS sum_qty FROM lineitem " +
        "GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    QueryDef("q16_having",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 3)
        .orderBy(col("cnt").desc, col("o_custkey"))
        .limit(50),
      Some("SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey " +
        "HAVING COUNT(*) >= 3 ORDER BY cnt DESC, o_custkey LIMIT 50")),

    QueryDef("q17_agg_stats",
      // var is emitted in millions: double carries ~16 significant digits
      // and raw variances of 1e11 leave < 4 stable decimals — rescaling
      // keeps the oracle hash deterministic across engines.
      (s, d) => t(s, d, "lineitem").agg(
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("stddev_price"),
        round(var_samp(col("l_extendedprice")) / 1e6, 3).as("var_price_m")),
      Some("SELECT ROUND(MIN(l_extendedprice),2) AS min_price, ROUND(MAX(l_extendedprice),2) AS max_price, " +
        "ROUND(AVG(l_extendedprice),2) AS avg_price, ROUND(STDDEV_SAMP(l_extendedprice),2) AS stddev_price, " +
        "ROUND(VAR_SAMP(l_extendedprice)/1e6,3) AS var_price_m FROM lineitem")),

    // ---- window functions -------------------------------------------
    QueryDef("q18_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        t(s, d, "lineitem")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select(col("l_returnflag"), col("rk"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .orderBy(col("l_returnflag"), col("rk"))
      },
      Some(Q18Sql)),

    QueryDef("q18b_topk_heap",
      // The SCALE form of q18: same result, but computed with the
      // mergeable bounded-buffer Aggregator (functions/TopKRows) instead
      // of a window sort. The window form shuffles every lineitem row
      // and sorts whole groups to keep 3 rows; this form folds each task
      // partition into a ≤ 3-entry buffer, so the shuffle carries at
      // most k·groups·tasks tuples and NO full sort happens (PlanSpec
      // guards the plan windowless + partial-agg). Same oracle SQL as
      // q18 — the two forms must stay hash-identical.
      (s, d) =>
        graft.functions.TopKRows.ranked(t(s, d, "lineitem"), 3, Seq("l_returnflag"),
            col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
          .select(col("l_returnflag"), col("rank").as("rk"),
            col("id").as("l_orderkey"), col("tie").as("l_linenumber"),
            col("score").as("l_extendedprice"))
          .orderBy(col("l_returnflag"), col("rk")),
      Some(Q18Sql)),

    QueryDef("q19_rank_windows",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .withColumn("rk", rank().over(w))
          .withColumn("drk", dense_rank().over(w))
          .where(col("rn") <= 5)
          .select(col("o_orderstatus"), col("rn"), col("rk"), col("drk"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderstatus"), col("rn"))
      },
      Some("SELECT o_orderstatus, rn, rk, drk, o_orderkey, o_totalprice FROM (" +
        "SELECT o_orderstatus, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk, DENSE_RANK() OVER w AS drk " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rn <= 5 ORDER BY o_orderstatus, rn")),

    QueryDef("q20_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
          .select(col("user_id"), col("event_id"), col("value"), col("prev_value"), col("next_type"))
          .limit(200)
      },
      Some("SELECT user_id, event_id, value, prev_value, next_type FROM (" +
        "SELECT user_id, ts, event_id, value, " +
        "LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value, " +
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type " +
        "FROM events) ORDER BY user_id, ts, event_id LIMIT 200")),

    QueryDef("q21_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .withColumn("run_sum", round(sum(col("value")).over(w), 2))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
          .select(col("user_id"), col("event_id"), col("run_sum"))
      },
      Some("SELECT user_id, event_id, run_sum FROM (" +
        "SELECT user_id, ts, event_id, ROUND(SUM(value) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run_sum " +
        "FROM events) ORDER BY user_id, ts, event_id")),

    QueryDef("q22_sliding_avg",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        // Sliding avg divides 2-decimal values by counts of 1..3, landing
        // exactly on the .005 rounding grid where Spark (rounds shortest
        // decimal repr, half-up) and DuckDB (rounds the binary double)
        // disagree. round(sum,2) first collapses accumulation-order
        // differences; floor(x*100+0.5)/100 then rounds with pure IEEE
        // ops, identical in any engine.
        t(s, d, "events")
          .withColumn("avg_raw",
            round(sum(col("value")).over(w), 2) / count(lit(1)).over(w))
          .withColumn("slide_avg", floor(col("avg_raw") * 100 + 0.5) / 100.0)
          .orderBy(col("user_id"), col("ts"), col("event_id"))
          .select(col("user_id"), col("event_id"), col("slide_avg"))
      },
      Some("SELECT user_id, event_id, " +
        "floor((ROUND(SUM(value) OVER w, 2) / COUNT(*) OVER w) * 100 + 0.5) / 100.0 AS slide_avg " +
        "FROM events WINDOW w AS (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, ts, event_id")),

    QueryDef("q23_ntile",
      (s, d) => {
        val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("tile", ntile(4).over(w))
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("cnt"),
            round(min(col("o_totalprice")), 2).as("min_price"),
            round(max(col("o_totalprice")), 2).as("max_price"))
          .orderBy(col("tile"))
      },
      Some("SELECT tile, COUNT(*) AS cnt, ROUND(MIN(o_totalprice),2) AS min_price, " +
        "ROUND(MAX(o_totalprice),2) AS max_price FROM (" +
        "SELECT o_totalprice, NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tile " +
        "FROM orders) GROUP BY tile ORDER BY tile")),

    // ---- sort / limit / top-k ---------------------------------------
    QueryDef("q24_sort_limit",
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .limit(50),
      Some("SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders " +
        "ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC LIMIT 50")),

    QueryDef("q25_global_topk",
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10),
      Some("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    // ---- set operations ---------------------------------------------
    QueryDef("q26_union",
      (s, d) => {
        def c(x: SparkSession) = t(x, d, "customer").select(col("c_nationkey").as("nationkey"))
        def sp(x: SparkSession) = t(x, d, "supplier").select(col("s_nationkey").as("nationkey"))
        c(s).union(sp(s)).agg(count(lit(1)).as("cnt_all"))
          .crossJoin(c(s).union(sp(s)).distinct().agg(count(lit(1)).as("cnt_distinct")))
      },
      Some("SELECT (SELECT COUNT(*) FROM (SELECT c_nationkey AS nationkey FROM customer " +
        "UNION ALL SELECT s_nationkey FROM supplier)) AS cnt_all, " +
        "(SELECT COUNT(*) FROM (SELECT c_nationkey AS nationkey FROM customer " +
        "UNION SELECT s_nationkey FROM supplier)) AS cnt_distinct")),

    QueryDef("q27_intersect",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Some("SELECT c_nationkey AS nationkey FROM customer INTERSECT " +
        "SELECT s_nationkey AS nationkey FROM supplier ORDER BY nationkey")),

    QueryDef("q28_except",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Some("SELECT c_nationkey AS nationkey FROM customer EXCEPT " +
        "SELECT s_nationkey AS nationkey FROM supplier ORDER BY nationkey")),

    // ---- scalar function library ------------------------------------
    QueryDef("q29_string_funcs",
      (s, d) => t(s, d, "customer")
        .orderBy(col("c_custkey")).limit(100)
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("name_sub"),
          expr("replace(c_name, '0', '-')").as("name_repl"),
          trim(col("c_name")).as("name_trim"),
          concat(col("c_name"), lit("/"), col("c_mktsegment")).as("name_cat")),
      Some("SELECT c_custkey, UPPER(c_name) AS uname, LENGTH(c_name) AS name_len, " +
        "SUBSTRING(c_name, 1, 8) AS name_sub, REPLACE(c_name, '0', '-') AS name_repl, " +
        "TRIM(c_name) AS name_trim, c_name || '/' || c_mktsegment AS name_cat " +
        "FROM customer ORDER BY c_custkey LIMIT 100")),

    QueryDef("q30_date_funcs",
      (s, d) => t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("m"), "yyyy-MM-dd").as("month_str"),
          year(col("m")).cast("int").as("yr"), month(col("m")).cast("int").as("mon"), col("cnt"))
        .orderBy(col("month_str")),
      Some("SELECT strftime(m, '%Y-%m-%d') AS month_str, CAST(year(m) AS INT) AS yr, " +
        "CAST(month(m) AS INT) AS mon, cnt FROM (SELECT date_trunc('month', o_orderdate) AS m, " +
        "COUNT(*) AS cnt FROM orders GROUP BY 1) ORDER BY month_str")),

    QueryDef("q31_math_funcs",
      // total order via raw source columns ((l_orderkey, l_linenumber)
      // alone is not unique at sf0.1); any rows still tied are identical
      // in every output expression
      (s, d) => t(s, d, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax")).limit(100)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 0).as("price_r0"),
          round(abs(col("l_discount") - 0.05), 4).as("abs_disc"),
          ceil(col("l_quantity")).cast("bigint").as("ceil_qty"),
          floor(col("l_quantity")).cast("bigint").as("floor_qty"),
          (col("l_orderkey") % 7).as("mod7"),
          round(pow(col("l_tax") + 1, 2), 4).as("tax_pow")),
      Some("SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 0) AS price_r0, " +
        "ROUND(ABS(l_discount - 0.05), 4) AS abs_disc, CAST(CEIL(l_quantity) AS BIGINT) AS ceil_qty, " +
        "CAST(FLOOR(l_quantity) AS BIGINT) AS floor_qty, l_orderkey % 7 AS mod7, " +
        "ROUND(POWER(l_tax + 1, 2), 4) AS tax_pow " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, " +
        "l_extendedprice, l_discount, l_tax LIMIT 100")),

    QueryDef("q32_conditional_agg",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(when(col("l_linestatus") === "F", 1)).as("f_cnt"),
          count(when(col("l_linestatus") === "O", 1)).as("o_cnt"))
        .orderBy(col("l_returnflag")),
      Some("SELECT l_returnflag, COUNT(*) FILTER (WHERE l_linestatus = 'F') AS f_cnt, " +
        "COUNT(*) FILTER (WHERE l_linestatus = 'O') AS o_cnt " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // ---- surface extensions (SURVEY.md §2C footnotes) ----------------
    QueryDef("q14b_approx_distinct",
      // HLL sketch — the 100 TB path where exact distinct would shuffle
      // every key. No oracle: sketches are engine-specific (driver
      // records the weaker rows-only check).
      (s, d) => t(s, d, "lineitem").agg(
        approx_count_distinct(col("l_partkey")).as("ad_part"),
        approx_count_distinct(col("l_suppkey")).as("ad_supp"),
        approx_count_distinct(col("l_orderkey")).as("ad_order")),
      None),

    QueryDef("q15b_cube",
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"), col("g_status"), col("cnt"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS cnt FROM lineitem " +
        "GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    QueryDef("q15c_grouping_sets",
      // explicit GROUPING SETS through the spark.sql surface
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("SELECT l_returnflag, l_linestatus, " +
          "CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
          "CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS cnt " +
          "FROM lineitem_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
          "ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")
      },
      Some("SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS cnt " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    QueryDef("q19b_dist_windows",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .withColumn("prk", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("first_key", first(col("o_orderkey")).over(w))
          .where(col("rn") <= 5)
          .select(col("o_orderstatus"), col("rn"), col("prk"), col("cd"), col("first_key"))
          .orderBy(col("o_orderstatus"), col("rn"))
      },
      Some("SELECT o_orderstatus, rn, prk, cd, first_key FROM (" +
        "SELECT o_orderstatus, ROW_NUMBER() OVER w AS rn, " +
        "ROUND(PERCENT_RANK() OVER w, 6) AS prk, ROUND(CUME_DIST() OVER w, 6) AS cd, " +
        "FIRST_VALUE(o_orderkey) OVER w AS first_key " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rn <= 5 ORDER BY o_orderstatus, rn")),

    QueryDef("q21b_range_frame",
      // RANGE frame over event-time seconds: all events of the same user
      // in the trailing hour (value-based frame, not row-count)
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").cast("long"))
          .rangeBetween(-3600, Window.currentRow)
        t(s, d, "events")
          .withColumn("hour_sum", round(sum(col("value")).over(w), 2))
          .orderBy(col("user_id"), col("ts"), col("event_id"))
          .select(col("user_id"), col("event_id"), col("hour_sum"))
          .limit(500)
      },
      Some("SELECT user_id, event_id, hour_sum FROM (" +
        "SELECT user_id, ts, event_id, ROUND(SUM(value) OVER (PARTITION BY user_id " +
        "ORDER BY CAST(epoch(ts) AS BIGINT) RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS hour_sum " +
        "FROM events) ORDER BY user_id, ts, event_id LIMIT 500")),

    QueryDef("q23b_percentiles",
      // exact interpolated percentiles (both engines use the type-7
      // linear-interpolation definition); approx_percentile is the
      // sketch path at 100 TB
      (s, d) => t(s, d, "orders").agg(
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75")),
      Some("SELECT ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25, " +
        "ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50, " +
        "ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75 FROM orders")),

    QueryDef("q23c_quartiles_2pass",
      // Scale-safe quartiles (VERDICT round-1 item 4): q23's NTILE(4)
      // funnels every row through ONE task (a global window); this is
      // the 100 TB escape. Pass 1 computes the three quartile boundary
      // VALUES with approx_percentile at exact-at-this-scale accuracy —
      // a distributed sketch aggregation whose shuffle carries sketches,
      // not rows. Pass 2 buckets each row against the broadcast
      // boundaries: a stateless map, no sort, no window. Semantics are
      // value-bucketed quartiles (boundary rank = element at p·n in
      // sorted order, verified equal to DuckDB quantile_disc at both
      // SFs; ties land in the lower tile on both engines because the
      // boundary is an exact data value, not an interpolation).
      (s, d) => {
        val o = t(s, d, "orders")
        val bounds = o.select(expr(
          "approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 1000000)").as("b"))
        o.crossJoin(broadcast(bounds))
          .withColumn("tile", lit(1) +
            (col("o_totalprice") > element_at(col("b"), 1)).cast("int") +
            (col("o_totalprice") > element_at(col("b"), 2)).cast("int") +
            (col("o_totalprice") > element_at(col("b"), 3)).cast("int"))
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("cnt"),
            round(min(col("o_totalprice")), 2).as("min_price"),
            round(max(col("o_totalprice")), 2).as("max_price"))
          .orderBy(col("tile"))
      },
      Some("WITH b AS (SELECT quantile_disc(o_totalprice, 0.25) AS b1, " +
        "quantile_disc(o_totalprice, 0.5) AS b2, " +
        "quantile_disc(o_totalprice, 0.75) AS b3 FROM orders) " +
        "SELECT tile, COUNT(*) AS cnt, ROUND(MIN(o_totalprice), 2) AS min_price, " +
        "ROUND(MAX(o_totalprice), 2) AS max_price FROM (" +
        "SELECT o_totalprice, 1 + CAST(o_totalprice > b1 AS INT) + " +
        "CAST(o_totalprice > b2 AS INT) + CAST(o_totalprice > b3 AS INT) AS tile " +
        "FROM orders CROSS JOIN b) GROUP BY tile ORDER BY tile")),

    QueryDef("q56_udaf_weighted_mean",
      // typed Aggregator[IN, BUF, OUT] UDAF (graft.functions.
      // WeightedMean) — the engine's user-defined aggregation surface.
      // Quantity-weighted mean discount per return flag; the fixed
      // floor(x*1e4+0.5)/1e4 quantization replaces round() on BOTH
      // sides (Spark rounds the shortest decimal repr, DuckDB the
      // binary double — STATE.md risk #1).
      (s, d) => {
        val wmean = udaf(graft.functions.WeightedMean,
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaDouble))
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("cnt"),
            (floor(wmean(col("l_discount"), col("l_quantity")) * 10000 + 0.5) / 10000)
              .as("wavg_discount"))
          .orderBy(col("l_returnflag"))
      },
      Some("SELECT l_returnflag, COUNT(*) AS cnt, " +
        "floor(SUM(l_discount * l_quantity) / SUM(l_quantity) * 10000 + 0.5) / 10000 AS wavg_discount " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    QueryDef("q29b_string_funcs2",
      (s, d) => t(s, d, "customer")
        .orderBy(col("c_custkey")).limit(100)
        .select(col("c_custkey"),
          lpad(col("c_mktsegment"), 12, ".").as("seg_lpad"),
          rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
          reverse(col("c_name")).as("name_rev"),
          instr(col("c_name"), "0").cast("int").as("pos_zero"),
          col("c_name").startsWith("Customer").cast("int").as("is_cust"),
          split(col("c_name"), "#").getItem(0).as("name_head")),
      Some("SELECT c_custkey, lpad(c_mktsegment, 12, '.') AS seg_lpad, " +
        "rpad(c_mktsegment, 12, '.') AS seg_rpad, reverse(c_name) AS name_rev, " +
        "CAST(strpos(c_name, '0') AS INT) AS pos_zero, " +
        "CAST(starts_with(c_name, 'Customer') AS INT) AS is_cust, " +
        "string_split(c_name, '#')[1] AS name_head " +
        "FROM customer ORDER BY c_custkey LIMIT 100")),

    QueryDef("q32b_pivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
        .orderBy(col("l_returnflag")),
      Some("SELECT l_returnflag, COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F, " +
        "COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    QueryDef("q100_bucket_join",
      // Co-located fact⋈fact join on a PHYSICAL bucket layout: orders
      // and lineitem are materialized once per session via
      // bucketBy(8, orderkey) + sortBy (operators/BucketedTables), so
      // the sort-merge join reads bucket i against bucket i with NO
      // exchange and NO sort on either side (plan-guarded). Every other
      // join in this file re-shuffles its inputs each run — the right
      // default for ad-hoc queries, but at 100 TB a fact table joined
      // on the same key by every pipeline run should pay the shuffle
      // ONCE at write time; this entry is that doctrine made physical.
      // The merge hint keeps the planner honest at fixture scale (it
      // would otherwise broadcast the small side and hide the layout).
      // Revenue sums in exact cents (floor(x*100+0.5), q22 doctrine);
      // the oracle reads the RAW parquet — bucketing must never change
      // results, only movement.
      (s, d) => {
        val (ordersTbl, lineitemTbl) = graft.operators.BucketedTables.ensure(s, d)
        val o = s.table(ordersTbl)
        val l = s.table(lineitemTbl)
        o.hint("merge").join(l.hint("merge"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("revenue_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some("SELECT o_orderpriority, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    QueryDef("q100b_bucket_pruned_lookup",
      // Point lookup on the bucketed layout: a literal equality on the
      // bucket column statically prunes the scan to the ONE bucket that
      // can hold the key (plan-guarded `SelectedBucketsCount: 1 out of
      // 8`) — at 100 TB a keyed lookup reads 1/n_buckets of the files
      // instead of the table, with no index structure to maintain
      // beyond the layout q100 already paid for. The oracle reads the
      // raw parquet: pruning skips bytes, never rows.
      (s, d) => {
        val (ordersTbl, _) = graft.operators.BucketedTables.ensure(s, d)
        s.table(ordersTbl)
          .where(col("o_orderkey") === 1L)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"))
      },
      Some("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderkey = 1")),

    QueryDef("q101_bloom_reduced_join",
      // Bloom-filter semi-join reduction (operators/BloomReduce): the
      // urgent-orders dimension is selective (~1/5 of orders), so the
      // fact scan first drops lineitems whose order key can't be in it
      // — a literal might_contain(xxhash64(key)) predicate evaluated IN
      // the scan stage, before any shuffle — and only the survivors
      // enter the exact equi-join. This is Spark's runtime row-level
      // filtering made explicit, deterministic, and plan-guarded: at
      // 100 TB the filter is the difference between shuffling the full
      // fact table and shuffling the ~matching fraction, for one
      // bounded driver action (a single ~100 KB binary, the
      // centroids-as-literals doctrine). Bloom false positives cost
      // only work — the equi-join keeps results exact — so the oracle
      // is the PLAIN join SQL.
      (s, d) => {
        import graft.operators.BloomReduce
        val urgent = t(s, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate"))
        val bloom = BloomReduce.bloomOf(urgent, col("o_orderkey"))
        t(s, d, "lineitem")
          .where(BloomReduce.mightContain(bloom, col("l_orderkey")))
          .join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(count(lit(1)).as("n_items"),
            sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("revenue_cents"))
          .orderBy(col("o_year"))
      },
      Some("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "GROUP BY 1 ORDER BY 1")),

    QueryDef("q102_dynamic_partition_pruning",
      // Dynamic partition pruning on the date-partitioned events layout
      // (operators/PartitionedEvents): the "top revenue days" dimension
      // is only known at RUNTIME — computed from the purchase stream —
      // yet the fact scan must still skip the other 20 days' files.
      // Catalyst handles this by injecting a dynamicpruningexpression
      // subquery into the fact scan's PartitionFilters (plan-guarded):
      // the dim side evaluates first (it's broadcast for the join
      // anyway, so the pruning subquery REUSES that exchange — zero
      // extra work), and the scan then lists only the matching day
      // directories. q100b is static pruning (literal key, known at
      // plan time); this is its runtime twin, and at 100 TB it is THE
      // mechanism that makes fact⋈date-dim star queries read 10 of 365
      // day partitions instead of the year. The oracle reads the raw
      // parquet and joins on CAST(ts AS DATE): partition layout may
      // only change which files are read, never the relation.
      (s, d) => {
        val tbl = graft.operators.PartitionedEvents.ensure(s, d)
        val top = t(s, d, "events")
          .where(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev_cents"))
          .orderBy(col("rev_cents").desc, col("d"))
          .limit(10)
          .select(col("d"))
        s.table(tbl).join(top, Seq("d"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("WITH rev AS (SELECT CAST(ts AS DATE) AS d, " +
        "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS rev_cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "top AS (SELECT d FROM rev ORDER BY rev_cents DESC, d LIMIT 10) " +
        "SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events JOIN top ON CAST(ts AS DATE) = top.d " +
        "GROUP BY 1 ORDER BY 1")),

    QueryDef("q103_salted_skew_join",
      // Salted shuffle join (operators/SaltedJoin) — the skew doctrine
      // for fact⋈dim joins where the dim cannot broadcast and the fact
      // keys are hot. event_type is the WORST case: 5 keys over the
      // whole fact table, so an unsalted shuffle join runs exactly 5
      // reducer tasks no matter how many executors exist. Salting by
      // pmod(xxhash64(event_id), 8) turns the join key into
      // (event_type, salt): 40 sub-keys, 8-way parallelism per hot key,
      // dim replicated 8x (5 rows -> 40 — the replication cost lands on
      // the SMALL side by construction). The salt is deterministic so
      // the oracle is the PLAIN join SQL — salting may only change
      // movement, never the relation. The query itself is the classic
      // "above type average" flag, integer-exact: an event beats its
      // type's mean iff cents * n_type > total_cents (no division, no
      // float: both engines compare the same integers).
      (s, d) => {
        import graft.operators.SaltedJoin
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        val dim = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_type"), sum(col("cents")).as("tot_cents"))
        SaltedJoin.inner(ev, dim, "event_type", col("event_id"), salts = 8)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("cents") * col("n_type") > col("tot_cents"), 1L)
              .otherwise(0L)).as("n_above_avg"))
          .orderBy(col("event_type"))
      },
      Some("WITH dim AS (SELECT event_type, COUNT(*) AS n_type, " +
        "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS tot_cents " +
        "FROM events GROUP BY 1) " +
        "SELECT e.event_type, COUNT(*) AS n_events, " +
        "CAST(SUM(CASE WHEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) * d.n_type " +
        "> d.tot_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg " +
        "FROM events e JOIN dim d USING (event_type) " +
        "GROUP BY 1 ORDER BY 1")),

    QueryDef("q104_kcore_peel",
      // 3-round k-core peeling (k = 90) over the co-purchase graph —
      // iterative subgraph refinement, the graph-family member next to
      // q92 (power iteration) and q99 (triangle counting). Nodes are
      // parts, edges "appeared in the same order" (the self-join is
      // bounded per order: <= C(13,2) pairs at the fixtures, and at any
      // scale by the max basket size — never n²). Each round drops
      // vertices of degree < k and restricts edges to survivors; the
      // fixture peels 2000 -> 1745 -> 1534 -> 1221 at sf0.01, so every
      // round does real work. Scale shape: one degree agg + two semi
      // joins per round, ALL keyed on the vertex id — the first shuffle
      // establishes the partitioning and every later round reuses it;
      // nothing collects to the driver, so the same code runs on a
      // billion-node graph. 3 unrolled rounds keep the whole fixpoint
      // prefix one oracle-hashable plan (q92's doctrine); at production
      // depth each round's edge set would checkpoint instead of nesting
      // lineage. Output is the surviving vertices with their degree in
      // the round-3 subgraph. The rounds materialize per-iteration via
      // operators/KCorePeel: one fully-lazy unrolled plan measured 500
      // FileScans / 0 ReusedExchange (every round re-derives the pair
      // join on both semi-join sides) — checkpoint-per-round is not a
      // production footnote, it's load-bearing at ANY scale.
      (s, d) =>
        graft.operators.KCorePeel.peeledEdges(s, d, k = 90, rounds = 3)
          .groupBy(col("v").as("l_partkey")).agg(count(lit(1)).as("deg"))
          .orderBy(col("l_partkey")),
      Some {
        // every round CTE is referenced 2-3× downstream; MATERIALIZED
        // stops DuckDB inlining them per reference (found by the r10
        // sf1 sweep: the un-hinted form re-evaluated the lineitem
        // self-join multiplicatively per round and spilled >75 GB of
        // temp at 6M lineitems — the oracle must scale with its query)
        def round(prev: String, kc: String, next: String) =
          s"$kc AS MATERIALIZED (SELECT v FROM $prev GROUP BY v HAVING COUNT(*) >= 90), " +
            s"$next AS MATERIALIZED (SELECT s.v, s.u FROM $prev s JOIN $kc a ON s.v = a.v " +
            s"JOIN $kc b ON s.u = b.v), "
        "WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb " +
          "FROM lineitem a JOIN lineitem b " +
          "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
          "s0 AS MATERIALIZED (SELECT pa AS v, pb AS u FROM e UNION ALL SELECT pb, pa FROM e), " +
          round("s0", "k1", "s1") + round("s1", "k2", "s2") +
          round("s2", "k3", "s3").stripSuffix(", ") +
          " SELECT v AS l_partkey, COUNT(*) AS deg FROM s3 GROUP BY 1 ORDER BY 1"
      }),

    QueryDef("q106_data_quality_audit",
      // Deequ-style data-quality audit over the star schema — the
      // validation gate every production ingest runs before data is
      // allowed downstream: completeness (nulls), domain ranges, key
      // uniqueness, referential integrity, and policy predicates, each
      // reported as a (check, n_violations) row. Scale shape: all
      // row-level predicates for one table fold into ONE conditional
      // aggregation over ONE scan (stack() unpivots the single agg row
      // into check rows — adding a 20th check costs zero extra IO);
      // the two referential checks are anti-join counts on the join
      // keys. Mixed zero/nonzero results by design: a healthy audit is
      // mostly zeros, and the 257 childless orders prove the query
      // counts real violations, not vacuous truths.
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val liRow = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v1"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("v2"),
          sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).as("v3"))
        val oRow = o.agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v1"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("v2"))
        val liChecks = liRow.select(expr(
          "stack(3, 'lineitem_qty_out_of_range', v1, " +
            "'lineitem_nonpositive_price', v2, " +
            "'lineitem_high_discount', v3) AS (check, n_violations)"))
        val oChecks = oRow.select(expr(
          "stack(2, 'orders_dup_orderkey', v1, " +
            "'orders_null_totalprice', v2) AS (check, n_violations)"))
        val orphanLi = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("lineitem_orphan_orderkey").as("check"), col("n_violations"))
        val childless = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("orders_childless").as("check"), col("n_violations"))
        liChecks.unionAll(oChecks).unionAll(orphanLi).unionAll(childless)
          .orderBy(col("check"))
      },
      Some("SELECT 'lineitem_qty_out_of_range' AS \"check\", " +
        "CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS n_violations FROM lineitem " +
        "UNION ALL SELECT 'lineitem_nonpositive_price', " +
        "CAST(COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'lineitem_high_discount', " +
        "CAST(COUNT(*) FILTER (WHERE l_discount > 0.08) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'orders_dup_orderkey', " +
        "CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'orders_null_totalprice', " +
        "CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'lineitem_orphan_orderkey', " +
        "CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) " +
        "UNION ALL SELECT 'orders_childless', " +
        "CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem) " +
        "ORDER BY \"check\"")),

    QueryDef("q105_skyline",
      // Two-phase distributed skyline (Pareto frontier) per return
      // flag: the points no other point dominates on (lower cost,
      // higher quantity) — the dominance-query class (Börzsönyi et al.,
      // ICDE'01 "The Skyline Operator"). The naive form is an O(n²)
      // NOT EXISTS anti-join; the scale form rests on the skyline's
      // distributive property: a globally non-dominated point is
      // non-dominated in ANY subset containing it, so per-bucket
      // skylines (deterministic xxhash64 buckets, 32-way parallel) are
      // a lossless candidate superset, and the global pass runs over
      // that tiny survivor set instead of the table. Both passes are
      // the same windowed running-max: sorted by (cost asc, qty desc),
      // a point survives iff its qty strictly exceeds every preceding
      // qty (preceding rows have cost <, or cost = with qty > — either
      // way domination iff max(qty) >= qty). The global window is
      // single-task BY DESIGN — it only ever sees ~32 bucket frontiers
      // (skylines of random data are O(log n); even adversarial input
      // caps it at Σ bucket-skyline sizes), the same bounded-final-pass
      // shape as q25's TakeOrderedAndProject. Integer cents + integer
      // quantities end-to-end; the oracle uses the windowed form too —
      // an independent derivation, not a shared plan.
      (s, d) => {
        val pts = t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cost_cents"),
            col("l_quantity").cast("long").as("qty"))
          .distinct()
        def skyline(df: DataFrame, part: Seq[String]): DataFrame = {
          val w = Window.partitionBy(part.map(col): _*)
            .orderBy(col("cost_cents").asc, col("qty").desc)
            .rowsBetween(Window.unboundedPreceding, -1)
          df.withColumn("__m", max(col("qty")).over(w))
            .where(col("__m").isNull || col("qty") > col("__m"))
            .drop("__m")
        }
        val local = skyline(
          pts.withColumn("__bk",
            pmod(xxhash64(col("cost_cents"), col("qty")), lit(32L))),
          Seq("l_returnflag", "__bk")).drop("__bk")
        skyline(local, Seq("l_returnflag"))
          .orderBy(col("l_returnflag"), col("cost_cents"), col("qty"))
      },
      Some("WITH pts AS (SELECT DISTINCT l_returnflag, " +
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cost_cents, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem) " +
        "SELECT l_returnflag, cost_cents, qty FROM (" +
        "SELECT l_returnflag, cost_cents, qty, " +
        "MAX(qty) OVER (PARTITION BY l_returnflag ORDER BY cost_cents ASC, qty DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m FROM pts) " +
        "WHERE m IS NULL OR qty > m " +
        "ORDER BY l_returnflag, cost_cents, qty")))
}

package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable

/**
 * The relational query surface (SURVEY.md §2.2): joins, aggregations,
 * windows, rollup/cube/grouping sets, set ops, subqueries, scalar
 * functions — all Catalyst built-ins, exercised over OUR delta scan, the
 * same way the reference exercises DuckDB core over `delta_scan` views
 * (reference benchmark/tpch/sf1/local/delta/q01..q22.benchmark).
 *
 * Each SQL string runs verbatim on Spark (over delta-backed temp views)
 * and on DuckDB (over the original parquet) — maximum oracle parity.
 * Dialect rules: shared-subset SQL only; every aggregate over doubles is
 * rounded; every output deterministically ordered with unique tiebreaks;
 * NULLS FIRST spelled out (Spark and DuckDB defaults differ).
 */
object RelationalQueries {

  /** Tables served from Delta fixtures (big/fact tables — these exercise
    * the scan); the small dims stay parquet views. */
  private val deltaTables = Seq("lineitem", "orders", "customer", "events",
    "documents", "embeddings")
  private val parquetTables = Seq("part", "supplier", "nation", "region")

  private val ready = new ConcurrentHashMap[String, Boolean]()

  /** Register temp views for `dir` (delta-backed facts + parquet dims). */
  def ensureViews(s: SparkSession, dir: String): Unit = synchronized {
    val key = System.identityHashCode(s) + "|" + dir
    if (ready.containsKey(key)) return
    deltaTables.foreach { t =>
      val p = Fixtures.delta(s, dir, t, Fixtures.Plain)
      DeltaTable.forPath(s, p).toDF.createOrReplaceTempView(t)
    }
    parquetTables.foreach { t =>
      Fixtures.readParquet(s, dir, t).createOrReplaceTempView(t)
    }
    ready.put(key, true)
  }

  /** name → SQL that runs identically on Spark and DuckDB. */
  val sql: Map[String, String] = Map(
    // --- joins ---
    // q3/q5 are written fact-last with the dim⋈dim side as a named
    // subquery carrying a BROADCAST hint (a comment DuckDB ignores; it
    // join-reorders on its own). Static size estimates can't see that
    // customer(filtered)⋈orders shrinks to ~1/5 of orders, so without the
    // hint Spark SMJs lineitem⋈orders — shuffling the entire fact table
    // (107 MB at x10, the single largest cost in the bench) to produce a
    // join output the dim side already bounds. With it, lineitem never
    // shuffles: one scan → BHJ → partial agg.
    // r20 SCALING CAVEAT (measured, OPTIMIZATION_r20.md + 8-vs-32-core run
    // at x300, bench-rounds/r20-scaling-x300.json): the hinted side is a
    // FILTERED FACT JOIN that grows with SF, and BroadcastExchange's
    // collect+build is single-threaded on the driver — at x300 it is ~8 s
    // of a 10.7 s wall (stage sum 2.6 s) and makes q3/q5 core-count-FLAT
    // (8→32-core ratios 1.25/1.03 where true scalers read 2.1-3.7).
    // Interleaved A/B: BROADCAST wins at x10 (0.63-0.69 s vs SHUFFLE_HASH
    // 1.0-1.3 s — the hint saves lineitem's shuffle write), SHUFFLE_HASH
    // wins at x300 (5.2-5.4 vs 7.0-7.5 q3; 8.0-10.5 vs 13.1-14.4 q5 —
    // parallel per-partition builds beat the serial broadcast build). No
    // static hint wins both; BROADCAST stays as the measured winner at
    // the bench's scales. On a real cluster past the broadcast caps
    // (8 GB / 512M rows — reached long before 100 TB since the hinted
    // side scales with SF) the hint MUST yield to SHUFFLE_HASH/SMJ: drop
    // it there and let AQE pick from runtime stats.
    "q3_join" ->
      """SELECT /*+ BROADCAST(o) */ o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |JOIN (SELECT o_orderkey, o_orderpriority
        |      FROM orders JOIN customer ON c_custkey = o_custkey
        |      WHERE c_mktsegment = 'BUILDING') o ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q5_multi_join" ->
      """SELECT /*+ BROADCAST(o) */ n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN (SELECT o_orderkey, c_nationkey, n_name
        |      FROM customer
        |      JOIN orders ON c_custkey = o_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      JOIN region ON n_regionkey = r_regionkey
        |      WHERE r_name = 'ASIA') o ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_left_join_null" ->
      """SELECT n_name, count(o_orderkey) AS orders_n, count(*) AS rows_n
        |FROM nation
        |LEFT JOIN customer ON c_nationkey = n_nationkey
        |LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    // --- subqueries ---
    "q_scalar_subquery" ->
      """SELECT p_brand, count(*) AS n
        |FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,
    "q_in_subquery" ->
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // --- grouping extensions ---
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,
    "q_having" ->
      """SELECT l_partkey, count(*) AS n
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING count(*) >= 8
        |ORDER BY l_partkey""".stripMargin,
    "q_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS nations, count(*) AS n
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // --- windows ---
    // SHUFFLE_HASH(customer): at scale customer outgrows the broadcast
    // threshold and the join falls back to SMJ — sorting BOTH fact-sized
    // sides just to join, when the windowed top-k afterwards needs no join
    // ordering at all. A shuffled hash join keeps both sides unsorted;
    // the partial WindowGroupLimit then bounds the window shuffle to
    // k·|segments| rows per task.
    "q_window_rank" ->
      """SELECT c_mktsegment, o_orderkey, rnk
        |FROM (SELECT /*+ SHUFFLE_HASH(customer) */ c_mktsegment, o_orderkey,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders JOIN customer ON c_custkey = o_custkey) t
        |WHERE rnk <= 5
        |ORDER BY c_mktsegment, rnk""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events
        |WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,
    "q_window_lag" ->
      """SELECT user_id, event_id,
        | coalesce(round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2), 0.0) AS delta_v
        |FROM events
        |WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,

    // --- set operations ---
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q_union_all" ->
      """SELECT 'high' AS bucket, count(*) AS n
        |FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |UNION ALL
        |SELECT 'low' AS bucket, count(*) AS n
        |FROM orders WHERE o_orderpriority IN ('4-NOT SPECIFIED','5-LOW')
        |ORDER BY bucket""".stripMargin,

    // --- TPC-H-shaped set (adapted to the testdata star schema) ---
    "q6_selective_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate) AS l_year,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1','NATION_2') AND n2.n_name IN ('NATION_1','NATION_2')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    // SHUFFLE_HASH(orders): orders is fact-sized, so broadcasting it means
    // a 1.5M-entry single-threaded driver hash build (x10 paired 5.7×,
    // build ≈ the whole query). A shuffled hash join builds 32 partition-
    // local tables in parallel instead, and the lineitem side entering the
    // shuffle is already pruned ~10× by the part(%red%) broadcast join
    // that precedes it. At 100 TB a fact⋈fact join must shuffle anyway —
    // this is that plan, arriving one round earlier than AQE would.
    "q9_profit_by_nation" ->
      """SELECT /*+ SHUFFLE_HASH(orders) */ n_name, year(o_orderdate) AS o_year,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q18 shape written agg-before-join: o_orderkey is unique in orders, so
    // grouping lineitem alone (with the HAVING applied pre-join) is
    // semantically identical to joining first — but the join input shrinks
    // from |lineitem| to the handful of qualifying orders, which then
    // broadcasts. At 100 TB this is the difference between shuffling the
    // fact table and shuffling ~nothing (VERDICT r4: the join-first plan
    // crossed the full 6M-row join output through a shuffle, 75.8× vs
    // baseline).
    // BROADCAST(t): post-HAVING t is a few hundred rows, but static
    // estimates size it from its 107 MB child, so without the hint the
    // planner instead broadcasts the 1.5M-row pruned orders side — a
    // single-threaded driver hash build that dominated the query (x10
    // paired 9.2×). Broadcasting the tiny agg result flips orders to the
    // streamed probe side — the only shape that survives orders growing
    // past memory at 100 TB.
    "q18_large_orders" ->
      """SELECT /*+ BROADCAST(t) */ o_orderkey, round(o_totalprice, 2) AS price, qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS qty
        |      FROM lineitem
        |      GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 250) t ON l_orderkey = o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q19_disjunctive_pushdown" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_type = 'PROMO' AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_dormant_customers" ->
      """SELECT cntrycode, count(*) AS numcust, round(sum(acctbal), 2) AS totacctbal
        |FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal AS acctbal
        |      FROM customer
        |      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) t
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,

    // --- TPC-H full breadth: the decorrelation/rewrite shapes not covered
    //     above (reference runs all 22 over delta_scan,
    //     test/sql/generated/tpch.test_slow). No partsupp table in the
    //     testdata star schema, so q2/q11/q16/q20 treat lineitem as the
    //     part↔supplier relation — the plan SHAPES (correlated min,
    //     HAVING > scalar agg, NOT IN, nested IN) are what is exercised. ---
    "q2_min_cost_supplier" ->
      """SELECT DISTINCT p_partkey, s_name, round(l_extendedprice, 2) AS cost
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND p_size <= 3
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |                         JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |                         JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |                         WHERE l2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
        |ORDER BY p_partkey, s_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        | round(sum(CASE WHEN n_name = 'NATION_3' THEN volume ELSE 0 END)
        |        / sum(volume), 4) AS mkt_share
        |FROM (SELECT year(o_orderdate) AS o_year,
        |        l_extendedprice * (1 - l_discount) AS volume, n_name
        |      FROM lineitem
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey) t
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "q11_important_parts" ->
      """SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING sum(l_extendedprice) > (SELECT 0.0006 * sum(l_extendedprice) FROM lineitem)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q12_priority_class" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
        |                             THEN l_extendedprice * (1 - l_discount)
        |                             ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_supplier_parts" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
        |    GROUP BY l_suppkey
        |    HAVING sum(l_quantity) > 50)
        |  AND s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_name IN ('NATION_1','NATION_2','NATION_3'))
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    // --- sorts / top-k ---
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    // --- scalar functions ---
    "q_string_funcs" ->
      """SELECT p_brand, count(*) AS n, min(upper(p_name)) AS mn,
        | max(length(p_name)) AS mx
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_date_funcs" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, count(*) AS n
        |FROM orders
        |GROUP BY yr, mo
        |ORDER BY yr, mo""".stripMargin,
    "q_case_expr" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'big' END AS bucket,
        |       count(*) AS n
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_regexp_extract" ->
      """SELECT cast(regexp_extract(props, '([0-9]+)', 1) AS INT) % 10 AS k_mod,
        |       count(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        | round(sum(value), 2) AS v
        |FROM events
        |WHERE event_type IN ('click','view')
        |GROUP BY h, event_type
        |ORDER BY h, event_type""".stripMargin,
    // q_sessionize moved to dataframeQueries: Spark's native session_window
    // aggregate beats the portable lag+cumsum SQL ~2.4× (measured x100:
    // 1.2s vs 2.9s) — the DuckDB oracle keeps the SQL formulation there

    // ================= TPC-DS-shaped breadth =================
    // The DS-catalog query shapes TPC-H doesn't stress, adapted to the
    // testdata star schema (reference correctness-runs all 99 DS queries,
    // benchmark/tpcds/sf1/local/delta/*.benchmark).

    // q36/q86 shape: rollup + grouping()-derived hierarchy level + rank
    // within the level partition
    "ds_rollup_rank" ->
      """SELECT lvl, flag, status, margin,
        | CAST(rank() OVER (PARTITION BY lvl, CASE WHEN lvl = 0 THEN flag END
        |   ORDER BY margin, status) AS BIGINT) AS rnk
        |FROM (
        |  SELECT CAST(grouping(l_returnflag) + grouping(l_linestatus) AS BIGINT) AS lvl,
        |    coalesce(l_returnflag, 'ALL') AS flag,
        |    coalesce(l_linestatus, 'ALL') AS status,
        |    round(sum(l_extendedprice*(1-l_discount)) / sum(l_extendedprice), 4) AS margin
        |  FROM lineitem
        |  GROUP BY ROLLUP(l_returnflag, l_linestatus)) t
        |ORDER BY lvl, flag, status""".stripMargin,

    // q70 shape: rank-derived filter feeding a rollup report
    "ds_rollup_rank_filter" ->
      """WITH nrev AS (
        |  SELECT r_name, n_name, round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name),
        |top2 AS (
        |  SELECT r_name, n_name FROM (
        |    SELECT r_name, n_name,
        |      rank() OVER (PARTITION BY r_name ORDER BY rev DESC, n_name) AS rnk
        |    FROM nrev) rr WHERE rnk <= 2)
        |SELECT CAST(grouping(nrev.r_name) + grouping(nrev.n_name) AS BIGINT) AS lvl,
        |  coalesce(nrev.r_name, 'ALL') AS region, coalesce(nrev.n_name, 'ALL') AS nation,
        |  round(sum(rev), 2) AS revenue
        |FROM nrev JOIN top2 ON nrev.r_name = top2.r_name AND nrev.n_name = top2.n_name
        |GROUP BY ROLLUP(nrev.r_name, nrev.n_name)
        |ORDER BY lvl, region, nation""".stripMargin,

    // q5/q77 shape: per-channel aggregates unioned, rolled up to a total
    "ds_channel_union" ->
      """WITH ch AS (
        |  SELECT 'store' AS channel, o_orderpriority AS grp,
        |    count(*) AS sales, round(sum(o_totalprice), 2) AS amt
        |  FROM orders GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'web' AS channel, l_returnflag AS grp,
        |    count(*) AS sales, round(sum(l_extendedprice), 2) AS amt
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT CAST(grouping(channel) + grouping(grp) AS BIGINT) AS lvl,
        |  coalesce(channel, 'ALL') AS channel, coalesce(grp, 'ALL') AS grp,
        |  CAST(sum(sales) AS BIGINT) AS sales, round(sum(amt), 2) AS amt
        |FROM ch GROUP BY ROLLUP(channel, grp)
        |ORDER BY lvl, channel, grp""".stripMargin,

    // q67 shape: top-k per group via rank over a grouped aggregate
    "ds_topk_per_group" ->
      """SELECT flag, l_partkey, rev, rnk FROM (
        |  SELECT l_returnflag AS flag, l_partkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev,
        |    CAST(rank() OVER (PARTITION BY l_returnflag
        |      ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 2) DESC,
        |        l_partkey) AS BIGINT) AS rnk
        |  FROM lineitem GROUP BY l_returnflag, l_partkey) t
        |WHERE rnk <= 5 ORDER BY flag, rnk, l_partkey""".stripMargin,

    // q51 shape: two cumulative series joined and compared (integerized
    // daily revenue so the running sums are exact in both engines)
    "ds_cumulative_compare" ->
      """WITH daily AS (
        |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2),
        |cum AS (
        |  SELECT flag, d, CAST(sum(rev) OVER (PARTITION BY flag ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev
        |  FROM daily)
        |SELECT a.d, a.cum_rev AS cum_a, r.cum_rev AS cum_r
        |FROM cum a JOIN cum r ON a.d = r.d AND a.flag = 'A' AND r.flag = 'R'
        |WHERE a.cum_rev > r.cum_rev
        |ORDER BY a.d""".stripMargin,

    // q47/q57 shape: centered moving average over a monthly series with a
    // deviation filter (integerized monthly revenue)
    "ds_moving_avg" ->
      """WITH monthly AS (
        |  SELECT o_orderpriority AS pr,
        |    CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |    CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT pr, y, m, rev,
        |    CAST(round(avg(rev) OVER (PARTITION BY pr ORDER BY y, m
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 0) AS BIGINT) AS mavg
        |  FROM monthly)
        |SELECT pr, y, m, rev, mavg FROM w
        |WHERE mavg > 0 AND abs(rev - mavg) * 10 > mavg
        |ORDER BY pr, y, m""".stripMargin,

    // q34/q73 shape: per-order item-count buckets joined back to customers
    "ds_count_bucket_filter" ->
      """WITH cnt AS (
        |  SELECT l_orderkey AS okey, count(*) AS items
        |  FROM lineitem GROUP BY l_orderkey),
        |big AS (SELECT okey, items FROM cnt WHERE items BETWEEN 5 AND 7)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS orders_n,
        |  CAST(sum(items) AS BIGINT) AS items_n
        |FROM big JOIN orders ON okey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q88 shape: independent time-bucket counts as scalar subqueries in one row
    "ds_hour_buckets" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM events
        |  WHERE CAST(extract(hour FROM ts) AS BIGINT) BETWEEN 0 AND 5) AS h0_5,
        | (SELECT CAST(count(*) AS BIGINT) FROM events
        |  WHERE CAST(extract(hour FROM ts) AS BIGINT) BETWEEN 6 AND 11) AS h6_11,
        | (SELECT CAST(count(*) AS BIGINT) FROM events
        |  WHERE CAST(extract(hour FROM ts) AS BIGINT) BETWEEN 12 AND 17) AS h12_17,
        | (SELECT CAST(count(*) AS BIGINT) FROM events
        |  WHERE CAST(extract(hour FROM ts) AS BIGINT) BETWEEN 18 AND 23) AS h18_23""".stripMargin,

    // q27 shape: multi-level grouping sets across dimensions from two tables
    "ds_grouping_sets_multi" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS pr,
        | CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus, o_orderpriority),
        |  (l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY flag, status, pr""".stripMargin,

    // q98 shape: revenue share within a class via a windowed total over a
    // grouped aggregate (integerized group revenue)
    "ds_window_share" ->
      """SELECT flag, status, rev,
        | round(CAST(rev AS DOUBLE) * 100 /
        |   CAST(sum(rev) OVER (PARTITION BY flag) AS DOUBLE), 4) AS share
        |FROM (SELECT l_returnflag AS flag, l_linestatus AS status,
        |        CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |      FROM lineitem GROUP BY 1, 2) t
        |ORDER BY flag, status""".stripMargin,

    // ============ multi-CTE / multi-channel DS monsters ============
    // (reference runs all 99; this tranche covers the CTE-chain and
    // channel-intersection shapes: q14, q23, q31, q39, q4/q11, q95,
    // q33/q56, q54, q58, q75, q10, q49, q38)

    // q14 shape: cross-channel item intersection feeding a channel report
    "ds_cross_channel_intersect" ->
      """WITH cross_items AS (
        |  SELECT l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT l_partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'MACHINERY')
        |SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem JOIN cross_items ON l_partkey = pk
        |GROUP BY l_returnflag ORDER BY flag""".stripMargin,

    // q23 shape: frequent-item CTE × best-customer CTE (scalar-subquery
    // threshold over a grouped aggregate) joined into one report
    "ds_frequent_items_best_cust" ->
      """WITH frequent AS (
        |  SELECT l_partkey AS pk FROM lineitem
        |  GROUP BY l_partkey HAVING count(*) > 8),
        |best_cust AS (
        |  SELECT o_custkey AS ck FROM orders GROUP BY o_custkey
        |  HAVING sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) > (
        |    SELECT CAST(round(0.5 * max(t), 0) AS BIGINT) FROM (
        |      SELECT sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS t
        |      FROM orders GROUP BY o_custkey) m))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem JOIN frequent ON l_partkey = pk
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN best_cust ON o_custkey = ck""".stripMargin,

    // q31 shape: month-over-month growth via lag over a CTE'd aggregate
    // (integer cross-multiplication keeps the ratio test exact)
    "ds_mom_growth" ->
      """WITH mrev AS (
        |  SELECT n_name, CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |    CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT n_name, y, m, rev,
        |    lag(rev) OVER (PARTITION BY n_name ORDER BY y, m) AS prev
        |  FROM mrev)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS growth_months
        |FROM g WHERE prev IS NOT NULL AND rev * 10 > prev * 12
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // q39 shape: volatility (variance) filter over a CTE'd daily series —
    // n·Σx² − (Σx)² over integers makes the variance test exact
    "ds_volatility_filter" ->
      """WITH daily AS (
        |  SELECT l_partkey AS pk, l_shipdate AS d,
        |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |stats AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM daily GROUP BY pk HAVING count(*) >= 5)
        |SELECT pk, n, s, ss FROM stats
        |WHERE 4 * (n * ss - s * s) > s * s
        |ORDER BY pk LIMIT 10""".stripMargin,

    // q4/q11 shape: one year-total CTE self-joined across consecutive
    // years; customers whose spend grew >30%
    "ds_yoy_customer_growth" ->
      """WITH yr AS (
        |  SELECT o_custkey AS ck, CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS tot
        |  FROM orders GROUP BY 1, 2)
        |SELECT b.y AS y, CAST(count(*) AS BIGINT) AS grown
        |FROM yr a JOIN yr b ON a.ck = b.ck AND b.y = a.y + 1
        |WHERE b.tot * 10 > a.tot * 13
        |GROUP BY b.y ORDER BY y""".stripMargin,

    // q95 shape: one CTE referenced by both an IN and a NOT IN branch
    // (semi + anti against derived sets)
    "ds_multi_ref_cte" ->
      """WITH multi_supp AS (
        |  SELECT l_orderkey AS ok FROM lineitem
        |  GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS tot_c
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderkey IN (SELECT ok FROM multi_supp)
        |  AND o_orderkey NOT IN (
        |    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')""".stripMargin,

    // q33/q56/q60 shape: per-channel revenue by brand unioned and pivoted
    // into one report row per brand
    "ds_brand_channel_pivot" ->
      """WITH by_brand AS (
        |  SELECT p_brand AS b, l_returnflag AS ch,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT b, CAST(sum(rev) AS BIGINT) AS total_rev,
        |  CAST(sum(CASE WHEN ch = 'A' THEN rev ELSE 0 END) AS BIGINT) AS rev_a,
        |  CAST(sum(CASE WHEN ch = 'N' THEN rev ELSE 0 END) AS BIGINT) AS rev_n,
        |  CAST(sum(CASE WHEN ch = 'R' THEN rev ELSE 0 END) AS BIGINT) AS rev_r
        |FROM by_brand GROUP BY b
        |ORDER BY total_rev DESC, b LIMIT 15""".stripMargin,

    // q54 shape: first-touch CTE joined back for later cross-channel
    // activity of the same customer
    "ds_repeat_customers" ->
      """WITH first_urgent AS (
        |  SELECT o_custkey AS ck, min(o_orderdate) AS d0
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
        |SELECT CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS repeat_customers
        |FROM orders o JOIN first_urgent f ON o.o_custkey = f.ck
        |WHERE o.o_orderdate > f.d0 AND o.o_orderpriority <> '1-URGENT'""".stripMargin,

    // q58 shape: three period CTEs three-way-joined; keep parts where each
    // period stays within 10% of the period average (integer bounds)
    "ds_three_period_stable" ->
      """WITH p1 AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem WHERE extract(year FROM l_shipdate) = 1996 GROUP BY 1),
        |p2 AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem WHERE extract(year FROM l_shipdate) = 1997 GROUP BY 1),
        |p3 AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem WHERE extract(year FROM l_shipdate) = 1998 GROUP BY 1)
        |SELECT p1.pk AS pk, p1.r AS r1, p2.r AS r2, p3.r AS r3
        |FROM p1 JOIN p2 ON p1.pk = p2.pk JOIN p3 ON p1.pk = p3.pk
        |WHERE 30 * p1.r BETWEEN 9 * (p1.r + p2.r + p3.r) AND 11 * (p1.r + p2.r + p3.r)
        |  AND 30 * p2.r BETWEEN 9 * (p1.r + p2.r + p3.r) AND 11 * (p1.r + p2.r + p3.r)
        |  AND 30 * p3.r BETWEEN 9 * (p1.r + p2.r + p3.r) AND 11 * (p1.r + p2.r + p3.r)
        |ORDER BY pk""".stripMargin,

    // q75 shape: year-over-year quantity decline per part
    "ds_yoy_decline" ->
      """WITH sales AS (
        |  SELECT l_partkey AS pk, CAST(extract(year FROM l_shipdate) AS BIGINT) AS y,
        |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT b.y AS y, CAST(count(*) AS BIGINT) AS declined
        |FROM sales a JOIN sales b ON a.pk = b.pk AND b.y = a.y + 1
        |WHERE b.qty * 10 < a.qty * 9
        |GROUP BY b.y ORDER BY y""".stripMargin,

    // q10 shape: two correlated EXISTS branches over the same fact
    "ds_exists_both_channels" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |  AND EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q49 shape: return-ratio dense_rank over a HAVING'd aggregate
    "ds_return_ratio_rank" ->
      """SELECT pk, ret_q, tot_q, rnk FROM (
        |  SELECT pk, ret_q, tot_q,
        |    CAST(dense_rank() OVER (
        |      ORDER BY CAST(ret_q AS DOUBLE) / CAST(tot_q AS DOUBLE) DESC, pk)
        |      AS BIGINT) AS rnk
        |  FROM (
        |    SELECT l_partkey AS pk,
        |      CAST(sum(CASE WHEN l_returnflag = 'R'
        |        THEN CAST(round(l_quantity, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS ret_q,
        |      CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS tot_q
        |    FROM lineitem GROUP BY l_partkey
        |    HAVING sum(CAST(round(l_quantity, 0) AS BIGINT)) >= 100) agg) t
        |WHERE rnk <= 10 ORDER BY rnk, pk""".stripMargin,

    // q38 shape: INTERSECT chain across three periods, counted
    "ds_loyal_intersect" ->
      """SELECT CAST(count(*) AS BIGINT) AS loyal FROM (
        |  SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1998) t""".stripMargin,

    // q17 shape: per-part average threshold CTE joined back to the fact;
    // q*5n < s is the integer form of quantity < avg/5
    "ds_low_quantity_outliers" ->
      """WITH pq AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 5)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem JOIN pq ON l_partkey = pk
        |WHERE CAST(round(l_quantity, 0) AS BIGINT) * n * 5 < s""".stripMargin,

    // q74/q11 shape: the same per-customer-year CTE referenced FOUR times
    // (two channels × two years); growth ratios compared by
    // cross-multiplication so the test stays integer-exact
    "ds_channel_growth_compare" ->
      """WITH t AS (
        |  SELECT o_custkey AS ck, o_orderstatus AS st,
        |    CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS tot
        |  FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1, 2, 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_cust
        |FROM t s1 JOIN t s2 ON s1.ck = s2.ck AND s2.st = 'F' AND s1.y = 1996 AND s2.y = 1997
        |JOIN t w1 ON w1.ck = s1.ck AND w1.st = 'O' AND w1.y = 1996
        |JOIN t w2 ON w2.ck = s1.ck AND w2.st = 'O' AND w2.y = 1997
        |WHERE s1.st = 'F' AND s2.tot * w1.tot > w2.tot * s1.tot""".stripMargin,

    // q33/q56/q60 shape: three single-channel aggregates UNION ALL'd then
    // re-aggregated per dimension value
    "ds_three_channel_union" ->
      """WITH rev AS (
        |  SELECT n_name AS nm,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        |  UNION ALL
        |  SELECT n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderpriority = '2-HIGH' GROUP BY 1
        |  UNION ALL
        |  SELECT n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderpriority = '3-MEDIUM' GROUP BY 1)
        |SELECT nm, CAST(sum(r) AS BIGINT) AS total
        |FROM rev GROUP BY nm ORDER BY total DESC, nm LIMIT 10""".stripMargin,

    // q59 shape: same-month revenue across consecutive years, joined into
    // one row per month
    "ds_month_yoy_ratio" ->
      """WITH m96 AS (
        |  SELECT CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders WHERE extract(year FROM o_orderdate) = 1996 GROUP BY 1),
        |m97 AS (
        |  SELECT CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders WHERE extract(year FROM o_orderdate) = 1997 GROUP BY 1)
        |SELECT m96.m AS m, m96.rev AS rev96, m97.rev AS rev97,
        |  CASE WHEN m97.rev * 10 > m96.rev * 11 THEN 'up'
        |       WHEN m97.rev * 10 < m96.rev * 9 THEN 'down'
        |       ELSE 'flat' END AS trend
        |FROM m96 JOIN m97 ON m96.m = m97.m ORDER BY m""".stripMargin,

    // q93 shape: net revenue after returns (signed CASE inside the sum)
    "ds_net_after_returns" ->
      """SELECT ck, net FROM (
        |  SELECT o_custkey AS ck,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN -CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      ELSE CAST(round(l_extendedprice * 100, 0) AS BIGINT) END) AS BIGINT) AS net
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1) t
        |ORDER BY net DESC, ck LIMIT 10""".stripMargin,

    // ordered-set aggregate: interpolated median per segment over exact
    // cents-integers (midpoints are then k or k+0.5, both engines agree
    // bit-for-bit; raw-double medians differ in the last rounded digit)
    "ds_median_by_segment" ->
      """SELECT c_mktsegment,
        |  round(CAST(percentile_cont(0.5) WITHIN GROUP (
        |    ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE), 1) AS median_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // dimension-matrix shape: CROSS JOIN of two small dims LEFT JOIN'd to
    // the fact so empty buckets still appear (zero-filled report)
    "ds_priority_region_matrix" ->
      """WITH pri AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
        |f AS (
        |  SELECT o_orderpriority AS fp, n_regionkey AS rk,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT r_name, pri.p AS p, CAST(coalesce(sum(f.cnt), 0) AS BIGINT) AS n
        |FROM region CROSS JOIN pri
        |LEFT JOIN f ON f.rk = r_regionkey AND f.fp = pri.p
        |GROUP BY r_name, pri.p ORDER BY r_name, p""".stripMargin,

    // cohort shape: FULL OUTER JOIN of two distinct-customer year sets,
    // bucketed into both/only-left/only-right
    "ds_full_outer_cohort" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |           WHERE extract(year FROM o_orderdate) = 1996),
        |b AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |      WHERE extract(year FROM o_orderdate) = 1998)
        |SELECT CASE WHEN a.ck IS NULL THEN 'only_98'
        |            WHEN b.ck IS NULL THEN 'only_96'
        |            ELSE 'both' END AS cohort,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM a FULL OUTER JOIN b ON a.ck = b.ck
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // RANGE window frame over an integer key (value-based, not row-based:
    // all orders whose key is within 10 of the current one)
    "ds_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_sum
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // first_value / last_value with an explicit full-partition frame
    "ds_first_last_value" ->
      """SELECT DISTINCT c_mktsegment,
        |  first_value(o_orderkey) OVER (
        |    PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_order,
        |  last_value(o_orderkey) OVER (
        |    PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_order
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_mktsegment""".stripMargin,

    // ntile quartiles: per-segment revenue quartile totals
    "ds_ntile_quartiles" ->
      """SELECT c_mktsegment, q,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS tot_c,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT c_mktsegment, o_totalprice,
        |    ntile(4) OVER (PARTITION BY c_mktsegment
        |                   ORDER BY o_totalprice, o_orderkey) AS q
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |GROUP BY c_mktsegment, q ORDER BY c_mktsegment, q""".stripMargin,

    // conditional distinct: distinct counts restricted by CASE inside one
    // aggregation pass
    "ds_conditional_distinct" ->
      """SELECT c_mktsegment,
        |  CAST(count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS BIGINT) AS cust_f,
        |  CAST(count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END) AS BIGINT) AS cust_o
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // FILTER clause on aggregates (per-channel counts in one pass, no
    // CASE pyramids)
    "ds_filter_clause" ->
      """SELECT n_name,
        |  CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS finished,
        |  CAST(count(*) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // UNION with DISTINCT semantics (dedup across branches)
    "ds_union_distinct" ->
      """SELECT o_custkey AS ck FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY ck LIMIT 100""".stripMargin,

    // 3-deep CTE chain, each referencing the previous
    "ds_nested_cte_chain" ->
      """WITH per_cust AS (
        |  SELECT o_custkey AS ck,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS tot
        |  FROM orders GROUP BY 1),
        |ranked AS (
        |  SELECT ck, tot,
        |    CAST(row_number() OVER (ORDER BY tot DESC, ck) AS BIGINT) AS rk
        |  FROM per_cust),
        |top100 AS (SELECT ck, tot FROM ranked WHERE rk <= 100)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(tot) AS BIGINT) AS combined
        |FROM top100""".stripMargin,

    // inline VALUES table joined as a dimension (priority weighting)
    "ds_values_join" ->
      """SELECT seg, CAST(sum(w) AS BIGINT) AS weighted_orders
        |FROM customer
        |JOIN (VALUES ('BUILDING', 3), ('MACHINERY', 2), ('AUTOMOBILE', 1))
        |  AS m(seg, w) ON c_mktsegment = seg
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // LATERAL correlated subquery: per-nation top customer by balance
    // (the per-group top-k idiom modern engines plan as a lateral join)
    "ds_lateral_topk" ->
      """SELECT n_name, top.ck AS top_cust, top.bal AS bal
        |FROM nation, LATERAL (
        |  SELECT c_custkey AS ck, round(c_acctbal, 2) AS bal
        |  FROM customer WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 1) top
        |ORDER BY n_name""".stripMargin,

    // GROUPING() disambiguates real NULLs from rollup subtotal rows
    "ds_grouping_fn" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS is_total,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY ROLLUP(o_orderstatus)
        |ORDER BY is_total, status""".stripMargin,

    // bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep multiplicity
    "ds_except_all" ->
      """SELECT ck, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
        |GROUP BY ck ORDER BY n DESC, ck LIMIT 20""".stripMargin,
    "ds_intersect_all" ->
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t""".stripMargin,

    // ================= TPC-DS tranche 6 =================

    // q64 shape: the wide multi-channel correlation monster — one fact
    // row correlated through BOTH its supplier-side and customer-side
    // dimension chains (8-way join), grouped over attributes of three dims
    "ds_wide_multijoin" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, p_brand,
        | CAST(count(*) AS BIGINT) AS n,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND p_size <= 5 AND o_orderstatus = 'F'
        |GROUP BY supp_nation, cust_nation, p_brand
        |HAVING count(*) >= 2
        |ORDER BY supp_nation, cust_nation, p_brand""".stripMargin,

    // q93 join shape: sales LEFT JOIN'd to a derived returns table at
    // item grain, quantities adjusted by coalesce'd return quantities
    "ds_returns_adjusted" ->
      """WITH ret AS (
        |  SELECT l_orderkey AS ro, l_partkey AS rp, sum(l_quantity) AS rqty
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2)
        |SELECT l_suppkey, round(sum(l_quantity - coalesce(rqty, 0) * 0.5), 2) AS net_qty
        |FROM lineitem LEFT JOIN ret ON ro = l_orderkey AND rp = l_partkey
        |WHERE l_linestatus = 'O'
        |GROUP BY l_suppkey
        |HAVING sum(l_quantity) > 100
        |ORDER BY net_qty DESC, l_suppkey LIMIT 25""".stripMargin,

    // q78 shape: channel anti-correlation — per-year parts sold in one
    // channel with NO presence in the other (left join null filter)
    "ds_channel_anticorr" ->
      """WITH store AS (
        |  SELECT year(l_shipdate) AS y, l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1, 2),
        |web AS (
        |  SELECT year(l_shipdate) AS y, l_partkey
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2)
        |SELECT store.y, CAST(count(*) AS BIGINT) AS parts_no_web,
        | round(sum(store.qty), 2) AS qty
        |FROM store LEFT JOIN web
        |  ON store.y = web.y AND store.l_partkey = web.l_partkey
        |WHERE web.l_partkey IS NULL
        |GROUP BY store.y ORDER BY store.y""".stripMargin,

    // q32 shape: "excess" rows above a per-key average, via an explicit
    // aggregate-join instead of a correlated subquery
    "ds_excess_discount" ->
      """WITH pavg AS (
        |  SELECT l_partkey AS pk, avg(l_extendedprice) AS ap
        |  FROM lineitem GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS excess_rev,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN pavg ON pk = l_partkey
        |WHERE l_extendedprice > 1.3 * ap""".stripMargin,

    // q10/q35 shape: EXISTS one relation AND NOT EXISTS a join of two
    "ds_active_no_returns" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        | round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE o_custkey = c_custkey AND l_returnflag = 'R')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // cohort-retention shape: each customer's first active month, then
    // activity bucketed by month offset from it (integer month arithmetic
    // keeps both dialects identical)
    "ds_cohort_retention" ->
      """WITH fo AS (
        |  SELECT o_custkey,
        |    min(CAST(year(o_orderdate) AS BIGINT) * 12
        |        + CAST(month(o_orderdate) AS BIGINT)) AS fm
        |  FROM orders GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) AS BIGINT) * 12
        |      + CAST(month(o_orderdate) AS BIGINT) AS m
        |  FROM orders)
        |SELECT act.m - fm AS offset_m, CAST(count(*) AS BIGINT) AS active
        |FROM act JOIN fo ON act.o_custkey = fo.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // percent_rank tail selection per region (deterministic: total order
    // with unique tiebreak inside each partition)
    "ds_percent_rank_top" ->
      """SELECT r_name, o_orderkey, pr FROM (
        |  SELECT r_name, o_orderkey,
        |    round(percent_rank() OVER (
        |      PARTITION BY r_name ORDER BY o_totalprice, o_orderkey), 4) AS pr
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey) t
        |WHERE pr >= 0.999 ORDER BY r_name, o_orderkey""".stripMargin,

    // several COUNT(DISTINCT) over different keys in ONE aggregate (the
    // planner's expand/multi-distinct path)
    "ds_multi_distinct_agg" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps,
        | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ords,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q87 shape: a chained EXCEPT of three customer sets
    "ds_except_chain" ->
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t""".stripMargin,

    // q44 shape: best-N and worst-N per the same measure, joined by rank
    // position (integerized revenue for exact cross-engine ordering)
    "ds_best_worst" ->
      """WITH prev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |best AS (SELECT l_partkey AS bp,
        |    row_number() OVER (ORDER BY rev DESC, l_partkey) AS rn FROM prev),
        |worst AS (SELECT l_partkey AS wp,
        |    row_number() OVER (ORDER BY rev ASC, l_partkey) AS rn FROM prev)
        |SELECT best.rn AS pos, bp, wp
        |FROM best JOIN worst ON best.rn = worst.rn
        |WHERE best.rn <= 5 ORDER BY pos""".stripMargin,

    // q41/q13 shape: OR-of-ANDs attribute predicate over a dimension
    "ds_disjunctive_attrs" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n
        |FROM part
        |WHERE (p_size BETWEEN 1 AND 5 AND p_type LIKE '%ROM%')
        |   OR (p_size BETWEEN 6 AND 10 AND p_retailprice > 1500)
        |   OR (p_brand IN ('Brand#1', 'Brand#3') AND p_retailprice < 1000)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // cume_dist tail per priority (value-based: ties share one rounded
    // distribution value in both engines; integerized order key)
    "ds_cume_dist_tail" ->
      """SELECT o_orderpriority, cd, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_orderpriority,
        |    round(cume_dist() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT)), 4) AS cd
        |  FROM orders) t
        |WHERE cd >= 0.999 GROUP BY o_orderpriority, cd
        |ORDER BY o_orderpriority, cd""".stripMargin,

    // gaps-and-islands: consecutive-active-month streak lengths via
    // lag + running break-count (the sessionization idiom in pure SQL)
    "ds_order_streaks" ->
      """WITH m AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) AS BIGINT) * 12
        |      + CAST(month(o_orderdate) AS BIGINT) AS m
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, m,
        |    CASE WHEN m - lag(m) OVER (PARTITION BY o_custkey ORDER BY m) = 1
        |         THEN 0 ELSE 1 END AS brk
        |  FROM m),
        |s AS (
        |  SELECT o_custkey, m,
        |    sum(brk) OVER (PARTITION BY o_custkey ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM g)
        |SELECT streak, CAST(count(*) AS BIGINT) AS n_islands FROM (
        |  SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS streak
        |  FROM s GROUP BY 1, 2) t
        |GROUP BY streak ORDER BY streak""".stripMargin,

    // two-level aggregation: per-customer averages re-averaged per segment
    // (avg-of-avgs ≠ flat avg; the double grouping is the point)
    "ds_avg_of_avgs" ->
      """SELECT c_mktsegment, round(avg(co), 2) AS avg_cust_order,
        | CAST(count(*) AS BIGINT) AS n_cust
        |FROM (
        |  SELECT c_custkey, c_mktsegment, avg(o_totalprice) AS co
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2) t
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // ================= TPC-DS tranche 7 =================

    // several windows with DIFFERENT partitionings in one projection
    // (separate window exchanges the planner must order)
    "ds_mixed_windows" ->
      """SELECT o_orderkey, rnk_status, rnk_pri FROM (
        |  SELECT o_orderkey,
        |    CAST(rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rnk_status,
        |    CAST(rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rnk_pri
        |  FROM orders) t
        |WHERE rnk_status <= 10 OR rnk_pri <= 10
        |ORDER BY o_orderkey""".stripMargin,

    // window OVER a window result: rank of per-month running totals
    "ds_rank_of_running" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS pr,
        |    CAST(year(o_orderdate) AS BIGINT) * 12 + CAST(month(o_orderdate) AS BIGINT) AS mo,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |run AS (
        |  SELECT pr, mo, CAST(sum(rev) OVER (PARTITION BY pr ORDER BY mo
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM m)
        |SELECT mo, pr, cum FROM (
        |  SELECT mo, pr, cum,
        |    rank() OVER (PARTITION BY mo ORDER BY cum DESC, pr) AS r
        |  FROM run) t
        |WHERE r = 1 ORDER BY mo""".stripMargin,

    // lead(): distribution of gaps to each customer's NEXT order month
    "ds_lead_gap" ->
      """WITH m AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) AS BIGINT) * 12 + CAST(month(o_orderdate) AS BIGINT) AS mo
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey,
        |    lead(mo) OVER (PARTITION BY o_custkey ORDER BY mo) - mo AS gap
        |  FROM m)
        |SELECT gap, CAST(count(*) AS BIGINT) AS n
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY gap ORDER BY gap""".stripMargin,

    // statistical aggregates: correlation + sample stddev per group.
    // Built-in corr/stddev_samp/covar_samp merge partial moments in
    // engine-specific association order, so their double results can
    // differ in the last ulp and flip a round(2) digit near a .xx5
    // boundary. Instead: sum decimal-exact moments (Σx Σy Σxy Σx² Σy² n —
    // identical bit-for-bit in both engines, decimal addition is exact and
    // order-free), then derive the closed forms with one fixed sequence of
    // double ops (IEEE ops are correctly rounded, so identical inputs +
    // identical expression text ⇒ identical outputs), rounding last.
    "ds_corr_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 2) + 0.0 AS qty_price_corr,
        | round(sqrt((n*sdd - sd*sd) / (n*(n-1))), 2) + 0.0 AS disc_sd,
        | round((n*sxd - sx*sd) / (n*(n-1)), 2) + 0.0 AS qty_disc_cov
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // shared string-function subset over the customer-id suffix
    "ds_string_ops" ->
      """SELECT upper(substr(c_name, length(c_name) - 1, 2)) AS sfx,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(length(replace(c_name, '#', ''))) AS BIGINT) AS chars,
        | CAST(sum(position('1' IN c_name)) AS BIGINT) AS pos1
        |FROM customer
        |GROUP BY 1
        |HAVING count(*) > 5
        |ORDER BY sfx""".stripMargin,

    // INTERVAL arithmetic in predicates and grouping
    "ds_date_interval" ->
      """SELECT CAST(year(o_orderdate + INTERVAL 6 MONTH) AS BIGINT) AS fiscal_year,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' - INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // GROUP BY a CASE banding expression (the report-bucket idiom)
    "ds_case_bands" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS band,
        | CAST(count(*) AS BIGINT) AS n,
        | round(sum(o_totalprice), 2) AS amt
        |FROM orders
        |GROUP BY 1 ORDER BY band""".stripMargin,

    // HAVING against a scalar subquery (post-aggregation correlation-free
    // filter — the planner must evaluate the subquery once)
    "ds_having_scalar" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) > (SELECT avg(cnt) * 2 FROM (
        |  SELECT count(*) AS cnt FROM orders GROUP BY o_custkey) t)
        |ORDER BY n DESC, o_custkey LIMIT 20""".stripMargin,

    // null-safe equi-join (IS NOT DISTINCT FROM): NULL keys match NULL
    "ds_nullsafe_join" ->
      """WITH a AS (SELECT CASE WHEN n_regionkey = 0 THEN NULL
        |                  ELSE n_regionkey END AS rk, n_name FROM nation),
        |b AS (SELECT CASE WHEN r_regionkey = 0 THEN NULL
        |             ELSE r_regionkey END AS rk, r_name FROM region)
        |SELECT coalesce(CAST(a.rk AS BIGINT), -1) AS rk,
        | CAST(count(*) AS BIGINT) AS n
        |FROM a JOIN b ON a.rk IS NOT DISTINCT FROM b.rk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // NOT IN with a (non-null) subquery — distinct decorrelation shape
    // from NOT EXISTS (q22); the planner must prove null-safety
    "ds_not_in" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // interval-overlap theta join: events within ±1h of the same user's
    // own 'purchase' events (bounded: small user slice)
    "ds_interval_overlap" ->
      """WITH p AS (
        |  SELECT user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id < 10)
        |SELECT e.user_id, CAST(count(*) AS BIGINT) AS near_purchase
        |FROM events e JOIN p
        |  ON e.user_id = p.user_id
        | AND e.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts + INTERVAL 1 HOUR
        |WHERE e.event_type <> 'purchase'
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,

    // histogram via integer banding (width_bucket idiom, portable form)
    "ds_histogram_bands" ->
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n,
        | round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ================= TPC-DS tranche 8 =================

    // correlated EXISTS whose subquery aggregates (HAVING inside EXISTS —
    // the decorrelator must turn it into an aggregated semi-join)
    "ds_exists_having" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE EXISTS (
        |  SELECT l_orderkey FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |  GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 200)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // three-level ROLLUP across two dimension chains + the fact
    "ds_rollup_three" ->
      """SELECT CAST(grouping(r_name) + grouping(n_name) + grouping(c_mktsegment) AS BIGINT) AS lvl,
        | coalesce(r_name, 'ALL') AS region,
        | coalesce(n_name, 'ALL') AS nation,
        | coalesce(c_mktsegment, 'ALL') AS segment,
        | CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
        |ORDER BY lvl, region, nation, segment""".stripMargin,

    // dense_rank vs rank divergence under ties (integerized measure TIES
    // by construction: price buckets)
    "ds_dense_rank" ->
      """SELECT status, bucket, rnk, drnk FROM (
        |  SELECT o_orderstatus AS status,
        |    CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |    CAST(rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(floor(o_totalprice / 50000) AS BIGINT)) AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(floor(o_totalprice / 50000) AS BIGINT)) AS BIGINT) AS drnk
        |  FROM orders) t
        |GROUP BY status, bucket, rnk, drnk
        |ORDER BY status, bucket, rnk""".stripMargin,

    // composite-key membership via a synthesized key (row-value IN is not
    // in the shared dialect subset; the semi-join plan shape is the point)
    "ds_composite_in" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_orderkey * 1000000 + l_partkey IN (
        |  SELECT l_orderkey * 1000000 + l_partkey FROM lineitem
        |  WHERE l_quantity > 49)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // join on COMPUTED keys (month bucket + priority class expression)
    "ds_expr_join" ->
      """WITH a AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |    substr(o_orderpriority, 1, 1) AS pc,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |b AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
        |    CAST(count(*) AS BIGINT) AS n_ships
        |  FROM lineitem GROUP BY 1)
        |SELECT a.mo, pc, n_orders, n_ships
        |FROM a JOIN b ON a.mo = b.mo
        |WHERE pc IN ('1', '5')
        |ORDER BY a.mo, pc""".stripMargin,

    // correlated self NOT EXISTS with inequality: customers' months with
    // exactly one order (no OTHER order in the same month)
    "ds_self_anti" ->
      """SELECT CAST(count(*) AS BIGINT) AS solo_orders
        |FROM orders o1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o2
        |  WHERE o2.o_custkey = o1.o_custkey
        |    AND date_trunc('month', o2.o_orderdate) = date_trunc('month', o1.o_orderdate)
        |    AND o2.o_orderkey <> o1.o_orderkey)""".stripMargin,

    // max_by/min_by: argmax aggregates (which order was the priciest)
    "ds_minmax_by" ->
      """SELECT o_orderstatus,
        | CAST(max_by(o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) * 1000000 + o_orderkey) AS BIGINT) AS priciest,
        | CAST(min_by(o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) * 1000000 + o_orderkey) AS BIGINT) AS cheapest
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // boolean aggregates over per-group predicates
    "ds_bool_aggs" ->
      """SELECT l_returnflag,
        | bool_and(l_quantity > 0) AS all_positive,
        | bool_or(l_discount > 0.09) AS any_high_disc
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // count_if: predicate counting without CASE scaffolding
    "ds_count_if" ->
      """SELECT o_orderpriority,
        | CAST(count_if(o_totalprice > 200000) AS BIGINT) AS big,
        | CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS finished
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // nth_value with an explicit full frame
    "ds_nth_value" ->
      """SELECT DISTINCT c_mktsegment,
        | nth_value(o_orderkey, 3) OVER (
        |   PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_order
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |ORDER BY c_mktsegment""".stripMargin,

    // 3-arg lag with offset and default (no NULL branch at series start)
    "ds_lag_default" ->
      """SELECT user_id, event_id,
        | round(value - lag(value, 2, 0.0) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta2
        |FROM events WHERE user_id < 5
        |ORDER BY user_id, event_id""".stripMargin,

    // composed set operations: (A EXCEPT B) INTERSECT C
    "ds_setop_mix" ->
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t""".stripMargin,

    // ================= TPC-DS tranche 9 =================

    // FILTER-clause aggregates × GROUPING SETS in one aggregate node
    "ds_filter_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS big_qty,
        | CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS high_disc
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin,

    // q49/q75-style triple-channel cohort: three distinct-customer sets
    // full-outer-chained with coalesce keys, bucketed by membership
    "ds_triple_cohort" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |      WHERE o_orderstatus = 'F'),
        |c AS (SELECT DISTINCT o_custkey AS ck FROM orders
        |      WHERE o_totalprice > 200000)
        |SELECT
        |  CASE WHEN a.ck IS NOT NULL THEN 1 ELSE 0 END * 4
        |  + CASE WHEN b.ck IS NOT NULL THEN 1 ELSE 0 END * 2
        |  + CASE WHEN c.ck IS NOT NULL THEN 1 ELSE 0 END AS membership,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM a
        |FULL OUTER JOIN b ON a.ck = b.ck
        |FULL OUTER JOIN c ON coalesce(a.ck, b.ck) = c.ck
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // scalar subquery inside a CASE in the projection
    "ds_case_scalar" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_totalprice >
        |   (SELECT avg(o_totalprice) FROM orders) THEN 1 ELSE 0 END) AS BIGINT) AS above_avg,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // correlated scalar subquery in the SELECT list (decorrelates to a
    // left-outer aggregate join)
    "ds_scalar_select" ->
      """SELECT c_custkey,
        | CAST((SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS BIGINT) AS n_orders
        |FROM customer
        |WHERE c_custkey < 50
        |ORDER BY c_custkey""".stripMargin,

    // q75-style recombination monster: channel union → rollup → rank →
    // rank-filtered report
    "ds_union_rollup_rank" ->
      """WITH ch AS (
        |  SELECT 'store' AS channel, o_orderpriority AS grp,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS amt
        |  FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 'web', l_returnflag,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS amt
        |  FROM lineitem GROUP BY 2),
        |ru AS (
        |  SELECT CAST(grouping(channel) + grouping(grp) AS BIGINT) AS lvl,
        |    coalesce(channel, 'ALL') AS channel, coalesce(grp, 'ALL') AS grp,
        |    CAST(sum(amt) AS BIGINT) AS amt
        |  FROM ch GROUP BY ROLLUP(channel, grp))
        |SELECT lvl, channel, grp, amt FROM (
        |  SELECT lvl, channel, grp, amt,
        |    rank() OVER (PARTITION BY lvl ORDER BY amt DESC, channel, grp) AS r
        |  FROM ru) t
        |WHERE r <= 3 ORDER BY lvl, amt DESC, channel, grp""".stripMargin,

    // two-level nested subqueries: EXISTS containing an IN
    "ds_nested_exists_in" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderkey IN (
        |      SELECT l_orderkey FROM lineitem WHERE l_quantity > 48))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // several percentile_cont cut points in one ordered-set aggregate node
    "ds_quartile_spread" ->
      """SELECT c_mktsegment,
        | round(CAST(percentile_cont(0.25) WITHIN GROUP (
        |   ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE), 1) AS q1,
        | round(CAST(percentile_cont(0.75) WITHIN GROUP (
        |   ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE), 1) AS q3
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // COUNT(DISTINCT) under CUBE (expand × distinct-rewrite interplay)
    "ds_distinct_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS pri,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, pri""".stripMargin,

    // weekly bucketing (ISO week start in both dialects)
    "ds_weekly_series" ->
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // state-transition counting via lag (status flips per customer)
    "ds_status_transitions" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderstatus,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS transitions
        |FROM seq WHERE prev IS NOT NULL AND prev <> o_orderstatus""".stripMargin,

    // semi + anti in ONE query: nations with customers but no suppliers
    "ds_semi_anti_mix" ->
      """SELECT n_name
        |FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey
        |              AND c_acctbal > 9000)
        |  AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey
        |                  AND s_acctbal > 9000)
        |ORDER BY n_name""".stripMargin,

    // global share: x / sum(x) OVER () — empty window partition
    "ds_global_share" ->
      """SELECT o_orderpriority,
        | round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |   / CAST(sum(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))) OVER () AS DOUBLE), 4) AS share
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ================= TPC-DS tranche 10 =================

    // q61 shape: promo-vs-total ratio as a cross-joined scalar pair
    "ds_channel_ratio" ->
      """WITH promo AS (
        |  SELECT sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'),
        |total AS (
        |  SELECT sum(l_extendedprice * (1 - l_discount)) AS rev FROM lineitem)
        |SELECT round(promo.rev / total.rev * 100, 3) AS promo_pct
        |FROM promo, total""".stripMargin,

    // customer-lifetime-value deciles: ntile(10) over per-customer spend,
    // then per-decile totals
    "ds_ltv_deciles" ->
      """WITH ltv AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS spend
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT spend, ntile(10) OVER (ORDER BY spend, o_custkey) AS decile
        |  FROM ltv)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(spend) AS BIGINT) AS spend
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // first-order revenue share per segment (row_number=1 slice feeding a
    // second aggregation)
    "ds_first_order_share" ->
      """WITH fo AS (
        |  SELECT c_mktsegment,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders JOIN customer ON c_custkey = o_custkey)
        |SELECT c_mktsegment,
        | CAST(sum(CASE WHEN rn = 1 THEN cents ELSE 0 END) AS BIGINT) AS first_rev,
        | CAST(sum(cents) AS BIGINT) AS total_rev
        |FROM fo GROUP BY 1 ORDER BY 1""".stripMargin,

    // q72-ish self inequality join: same-order item pairs where one line
    // ships >2x the quantity of another (bounded by per-order fan-out)
    "ds_self_ineq_join" ->
      """SELECT a.l_returnflag, CAST(count(*) AS BIGINT) AS skewed_pairs
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        | AND a.l_linenumber <> b.l_linenumber
        | AND a.l_quantity > 2 * b.l_quantity
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // attribute resolution across LEFT JOIN chains with COALESCE fallback
    "ds_coalesce_sources" ->
      """SELECT coalesce(n1.n_name, n2.n_name, 'UNKNOWN') AS nation,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |LEFT JOIN supplier ON s_suppkey = l_suppkey AND s_acctbal > 5000
        |LEFT JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |LEFT JOIN orders ON o_orderkey = l_orderkey
        |LEFT JOIN customer ON c_custkey = o_custkey
        |LEFT JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // partial trailing frame: count/sum over the 5 PRECEDING rows,
    // EXCLUDING the current one
    "ds_trailing_frame" ->
      """SELECT user_id, event_id,
        | CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS BIGINT) AS prior_n,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 2) AS prior_v
        |FROM events WHERE user_id < 8
        |ORDER BY user_id, event_id""".stripMargin
  )

  /** DataFrame-API-flavored queries (same semantics, idiomatic Dataset
    * code): name → (impl, oracle SQL). */
  def dataframeQueries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    // sessionization (the classic gap-based islands problem): new session
    // when the per-user gap exceeds 8h. Spark side: the NATIVE
    // session_window aggregate — ONE user_id shuffle feeding a specialized
    // merging-sessions aggregate, then a row_number over the (small)
    // session rows for the per-user ordinal. Measured 2.4× faster at x100
    // than the portable lag+cumsum+agg window chain (1.2s vs 2.9s hot; the
    // chain was the bench's last >2×-vs-DuckDB relational row). The gap is
    // 8h + 1µs because session_window opens a NEW session at diff == gap
    // while the SQL's `> INTERVAL 8 HOUR` keeps it — with µs-precision
    // timestamps the +1µs makes membership bit-identical to the oracle.
    // Session ordinals follow window start = first-event ts, the same
    // order the cumsum assigns.
    "q_sessionize" -> (((s: SparkSession, dir: String) => {
      ensureViews(s, dir)
      val sess = s.table("events")
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours 1 microsecond"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          round(sum(col("value")), 2).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("session_window.start"))
      sess.select(col("user_id"),
          row_number().over(w).cast("long").as("session_id"),
          col("n_events"), col("session_start"), col("session_end"), col("v"))
        .orderBy(col("user_id"), col("session_id"))
    }),
      """WITH g AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 8 HOUR
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end, round(sum(value),2) AS v
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin),

    "q_broadcast_join" -> (((s: SparkSession, dir: String) => {
      ensureViews(s, dir)
      val cust = s.table("customer")
      val nat = Fixtures.readParquet(s, dir, "nation")
      // explicit broadcast: dim fits on every executor, no shuffle of facts
      cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy(col("n_name"))
    }),
      """SELECT n_name, count(*) AS n, round(sum(c_acctbal),2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    "q_typed_dataset" -> (((s: SparkSession, dir: String) => {
      ensureViews(s, dir)
      import s.implicits._
      val ds = s.table("lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .as[(String, Double, Double)]
      ds.filter(_._2 > 40.0) // typed lambda filter
        .toDF("l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice),2) AS sum_price
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{EventOps, Queries}
import graft.ann.{Ann, GraphProbe, IvfPqR, KmeansIvf, Pq, Router, Sq}
import graft.dedup.Dedup
import graft.memory.MemoryOps
import graft.multimodal.Binary
import graft.pipeline.Pipeline
import graft.rag.{Chunking, CrossEncoder, Embed, Lexical, Mmr, RagOps, Search}
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every operator ships as a named query over the testdata tables plus a
  * DuckDB oracle SQL string with IDENTICAL column names and ordering
  * (SURVEY.md §5 determinism rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    MemoryOps.queries ++ RagOps.queries ++ Search.queries ++ Embed.queries ++ Lexical.queries ++ Mmr.queries ++ Chunking.queries ++ CrossEncoder.queries ++
    TextOps.queries ++ Dedup.queries ++ Ann.queries ++ Pq.queries ++ Router.queries ++
    KmeansIvf.queries ++ Sq.queries ++ IvfPqR.queries ++ GraphProbe.queries ++ Binary.queries ++ EventOps.queries ++ Pipeline.queries ++ Map(
    "q1_agg"       -> ((s, dir) => Queries.q1Agg(s, dir)),
    "q3_join_agg"  -> ((s, dir) => Queries.q3JoinAgg(s, dir)),
    "q5_multijoin" -> ((s, dir) => Queries.q5MultiJoin(s, dir)),
    "q7_window"    -> ((s, dir) => Queries.q7Window(s, dir)),
    "q9_profit"    -> ((s, dir) => Queries.q9ProfitByNation(s, dir)),
    "q6_revenue"   -> ((s, dir) => Queries.q6Revenue(s, dir)),
    "q8_rollup"    -> ((s, dir) => Queries.q8Rollup(s, dir)),
    "q4_semi"      -> ((s, dir) => Queries.q4SemiJoin(s, dir)),
    "q10_returns"  -> ((s, dir) => Queries.q10Returns(s, dir)),
    "q14_promo"    -> ((s, dir) => Queries.q14Promo(s, dir)),
    "q16_parts"    -> ((s, dir) => Queries.q16Parts(s, dir)),
    "q22_idle"     -> ((s, dir) => Queries.q22IdleCustomers(s, dir)),
    "q18_bigorders" -> ((s, dir) => Queries.q18BigOrders(s, dir)),
    "q13_orderdist" -> ((s, dir) => Queries.q13OrderDistribution(s, dir)),
    "q15_topsupp"   -> ((s, dir) => Queries.q15TopSupplier(s, dir)),
    "q17_smallqty"  -> ((s, dir) => Queries.q17SmallQty(s, dir)),
    "q19_disjunct"  -> ((s, dir) => Queries.q19Disjunctive(s, dir)),
    "q2_mincost"    -> ((s, dir) => Queries.q2MinCost(s, dir)),
    "q11_share"     -> ((s, dir) => Queries.q11Share(s, dir)),
    "q12_priority"  -> ((s, dir) => Queries.q12Priority(s, dir)),
    "q21_waiting"   -> ((s, dir) => Queries.q21Waiting(s, dir)),
    "q20_dominant"  -> ((s, dir) => Queries.q20Dominant(s, dir)),
    "q23_incremental_agg" -> ((s, dir) => Queries.q23IncrementalAgg(s, dir)),
  )

  /** q1's oracle, which q23 shares: q23 answers q1 from a stored MV plus
    * the delta rows, so the two must report the same rows. */
  private val Q1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) AS DECIMAL(20,0))) AS DOUBLE) / 1e4 AS sum_disc_price,
      |  CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT)) AS DECIMAL(20,0))) AS DOUBLE) / 1e6 AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** DuckDB-runnable oracle SQL per query (same column names + order). */
  def oracleSql: Map[String, String] =
    MemoryOps.oracle ++ RagOps.oracle ++ Search.oracle ++ Embed.oracle ++ Lexical.oracle ++ Chunking.oracle ++
    TextOps.oracle ++ Dedup.oracle ++ Ann.oracle ++ Pq.oracle ++ Router.oracle ++ Sq.oracle ++ IvfPqR.oracle ++ GraphProbe.oracle ++ Binary.oracle ++
    EventOps.oracle ++ Pipeline.oracle ++ Map(
    "q1_agg" -> Q1Oracle,
    "q23_incremental_agg" -> Q1Oracle,

    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q9_profit" ->
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) - 0.8 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY n_name, o_year DESC""".stripMargin,

    "q7_window" ->
      """SELECT o_custkey, o_orderkey, order_rank, running_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS order_rank,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |)
        |WHERE order_rank <= 3
        |ORDER BY o_custkey, order_rank""".stripMargin,

    "q8_rollup" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type, date_trunc('day', ts)
        |ORDER BY event_type, day""".stripMargin,

    "q4_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q14_promo" ->
      """SELECT
        |  CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
        |    * 100.0
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS promo_revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q16_parts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 30""".stripMargin,

    "q22_idle" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_acctbal,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer
        |), thresh AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, count(*) AS n_c
        |  FROM cust WHERE bal_c > 0
        |)
        |SELECT count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
        |FROM cust, thresh
        |WHERE bal_c * n_c > sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q13_orderdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_topsupp" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)) AS DECIMAL(20,0))) AS HUGEINT) AS rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, CAST(rev_e4 AS DOUBLE) / 1e4 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_smallqty" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#2'
        |), pp AS (
        |  SELECT l_partkey AS ap_partkey, count(*) AS n_li,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty
        |  FROM li GROUP BY 1
        |)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_small
        |FROM li JOIN pp ON l_partkey = ap_partkey
        |WHERE qty * 5 * n_li < sum_qty""".stripMargin,

    "q19_disjunct" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q18_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 120
        |)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 50""".stripMargin,

    "q2_mincost" ->
      """WITH li AS (
        |  SELECT p_brand, l_suppkey, l_orderkey, l_linenumber,
        |    l_extendedprice / l_quantity AS unit_price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), w AS (
        |  SELECT p_brand, l_suppkey AS s_suppkey, unit_price AS min_unit_price,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY unit_price, l_suppkey, l_orderkey, l_linenumber) AS rn
        |  FROM li
        |)
        |SELECT p_brand, w.s_suppkey AS s_suppkey, s_name, min_unit_price
        |FROM w JOIN supplier ON w.s_suppkey = supplier.s_suppkey
        |WHERE rn = 1
        |ORDER BY p_brand""".stripMargin,

    "q11_share" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)) AS DECIMAL(20,0))) AS HUGEINT) AS rev_e4
        |  FROM lineitem GROUP BY l_suppkey
        |), tot AS (
        |  SELECT CAST(sum(rev_e4) AS HUGEINT) AS total_e4 FROM rev
        |)
        |SELECT l_suppkey, CAST(rev_e4 AS DOUBLE) / 1e4 AS revenue
        |FROM rev, tot
        |WHERE rev_e4 * 800 > total_e4
        |ORDER BY revenue DESC, l_suppkey""".stripMargin,

    "q12_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q21_waiting" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), l1 AS (SELECT * FROM li WHERE late)
        |SELECT s_name, count(*) AS numwait
        |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM li o2
        |    WHERE o2.l_orderkey = l1.l_orderkey AND o2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 o3
        |    WHERE o3.l_orderkey = l1.l_orderkey AND o3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "q20_dominant" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |), ps AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(qty) AS BIGINT) AS ps_qty
        |  FROM li GROUP BY 1, 2
        |), p AS (
        |  SELECT l_partkey, CAST(sum(ps_qty) AS BIGINT) AS p_qty FROM ps GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, count(*) AS n_dominant_parts
        |FROM ps JOIN p USING (l_partkey) JOIN supplier ON l_suppkey = s_suppkey
        |WHERE ps_qty * 2 > p_qty
        |GROUP BY s_suppkey, s_name
        |ORDER BY n_dominant_parts DESC, s_suppkey
        |LIMIT 25""".stripMargin,
  )
}

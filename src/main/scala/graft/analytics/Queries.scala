package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{Artifact, Warehouse}

/** Headline analytics queries (SURVEY.md §2.G) — the bench workload.
  *
  * Scale design: every aggregate is a plain declarative groupBy so Catalyst
  * plans map-side partial aggregation; dimension tables are explicitly
  * `broadcast()`; money sums go through DECIMAL so results are
  * order-independent (SURVEY.md §5.2) — a 100 TB shuffle reorders rows
  * freely without changing the answer.
  */
object Queries {

  /** sum(x) as exact decimal, emitted as double for oracle parity. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** q1: pricing summary report (TPC-H Q1 shape). Single scan, partial agg,
    * whole-stage codegen end to end.
    *
    * disc_price/charge must NOT multiply doubles and round to decimal: the
    * true charge has 6 decimal digits (2-dec price × 2-dec disc × 2-dec
    * tax), so a double product cast to DECIMAL(18,4) lands on exact halves
    * where Spark (shortest-repr) and DuckDB (binary) round differently —
    * ~1 in 100 rows, a guaranteed hash mismatch at any scale. Instead the
    * 2-decimal inputs are scaled to exact LONG cents (round(x*100) — no
    * half cases, the true value IS a 2-decimal), multiplied in cheap
    * codegen'd integer arithmetic (≤1e11 per row), and summed as
    * DECIMAL(20,0) for 128-bit-class headroom (a LONG sum would overflow
    * around 1e8 rows per group at e6 scale; 100 TB has ~1e11). The single
    * exact-integer→double conversion and the /1e4 (/1e6) are each
    * correctly-rounded IEEE ops, identical in any engine. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val priceC = round(col("l_extendedprice") * 100).cast("long")
    val discC  = round(col("l_discount") * 100).cast("long")
    val taxC   = round(col("l_tax") * 100).cast("long")
    val discPriceE4 = (priceC * (lit(100L) - discC)).cast("decimal(20,0)")
    val chargeE6 = (priceC * (lit(100L) - discC) * (lit(100L) + taxC)).cast("decimal(20,0)")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        (sum(discPriceE4).cast("double") / 1e4).as("sum_disc_price"),
        (sum(chargeE6).cast("double") / 1e6).as("sum_charge"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q3: shipping priority (TPC-H Q3 shape). customer is small relative to
    * the facts → broadcast; orders⋈lineitem shuffles on o_orderkey (AQE
    * handles skew at scale). */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")

    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q5: local supplier volume (TPC-H Q5 shape) — 6-table join. The whole
    * dimension chain region⋈nation⋈customer/supplier is broadcast; only the
    * fact-fact orders⋈lineitem edge shuffles. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val supp   = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1999-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)

    val dims = cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_nationkey").as("cn_nationkey"), col("n_name"))

    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("cn_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q7: window functions — per-customer order rank + running spend.
    * Window partitioned by customer: shuffle once on o_custkey, sort within
    * partition only (no global sort). */
  def q7Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("order_rank", row_number().over(w))
      .withColumn(
        "running_spend",
        sum(col("o_totalprice").cast("decimal(18,4)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .filter(col("order_rank") <= 3)
      .select("o_custkey", "o_orderkey", "order_rank", "running_spend")
      .orderBy("o_custkey", "order_rank")
  }

  /** q6: forecast revenue change (TPC-H Q6 shape) — pure scan+filter+agg,
    * the codegen/pushdown microbenchmark: every predicate reaches the
    * parquet scan, no shuffle at all before the single-row aggregate. */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** q9: product-type profit by nation and year (TPC-H Q9 shape) — covers
    * the part dimension. The name-filtered part table and the
    * supplier->nation chain broadcast; lineitem<->orders is the only
    * shuffled edge; profit is summed as exact decimal. */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_name").contains("red"))
      .select("p_partkey", "p_retailprice")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.8) * col("p_retailprice") * col("l_quantity")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(amount).as("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** q4: order-priority check (TPC-H Q4 shape) — the EXISTS/semi-join
    * pattern: orders with at least one lineitem shipped >90 days after the
    * order date. LeftSemi never duplicates or carries lineitem columns —
    * the probe side streams, only the match bit survives, and the
    * aggregation is a tiny groupBy on priority. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q10: returned-item revenue per customer (TPC-H Q10 shape), top 20.
    * At scale: lineitem⋈orders and ⋈customer shuffle on their keys (both
    * sides large), nation broadcasts, and the top-20 is
    * TakeOrderedAndProject — no global sort of the aggregate. */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_nationkey")
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q14: promotion revenue share (TPC-H Q14 shape) — conditional
    * aggregation: two decimal sums in ONE pass over the month's lineitems
    * (no second scan, no join duplication), part broadcast. The final
    * percentage divides the two exact sums as doubles, left-to-right in
    * both engines. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_type")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0))
          .cast("decimal(18,4)")).cast("double") * lit(100.0) /
          sum(revenue.cast("decimal(18,4)")).cast("double")).as("promo_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q16: supplier diversity per part segment (TPC-H Q16 shape) — a
    * count(DISTINCT) over a broadcast-joined dimension slice; the distinct
    * dedups map-side per group before the exchange. */
  def q16Parts(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(30)
  }

  /** q22: idle high-balance customers (TPC-H Q22 shape) — a broadcast
    * scalar-aggregate subquery plus a left-anti join: customers with an
    * above-average balance and no orders at all. The "above average"
    * comparison runs in exact integer space (balance_cents * n > sum_cents)
    * — a double avg would be an order-dependent FP sum, unstable across
    * engines AND across 100 TB shuffle orders. */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("bal_c", round(col("c_acctbal") * 100).cast("long"))
    val thresh = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n_c"))
    val ord = Tables.orders(spark, dir).select("o_custkey").distinct()
    cust.crossJoin(broadcast(thresh))
      .filter(col("bal_c") * col("n_c") > col("sum_c"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_custs"),
        dsum(col("c_acctbal")).as("total_acctbal"))
  }

  /** q23: incremental aggregate maintenance — the TPC-H refresh-stream
    * analog and the materialized-view pattern every warehouse runs: the
    * q1 report is kept as a STORED partial-state MV over the base data
    * (decimal sums + counts per group — all mergeable states), and a
    * delta batch (l_orderkey % 10 == 0 stands in for today's ingest, as
    * d9) folds in by aggregating ONLY the delta and merging states. The
    * registered result = merge(storedMV(base), partials(delta)); the
    * ORACLE recomputes from the full fact table — a pass proves
    * merge == recompute to the last bit (decimal partials are exact, so
    * merge order cannot drift). At 100 TB the daily refresh costs
    * O(delta) + a group-cardinality merge instead of a full-fact scan. */
  /** q1's MV partial state over any lineitem-shaped frame: decimal sums +
    * counts per (returnflag, linestatus) — every state mergeable and EXACT,
    * so partials folded in any order (batch delta or streaming micro-batch,
    * [[graft.streaming.Streams]] H11) reproduce the full recompute to the
    * bit. Shared by q23 and the streaming MV maintainer. */
  private[graft] def q1Partials(df: DataFrame): DataFrame = {
    val priceC = round(col("l_extendedprice") * 100).cast("long")
    val discC  = round(col("l_discount") * 100).cast("long")
    val taxC   = round(col("l_tax") * 100).cast("long")
    val discPriceE4 = (priceC * (lit(100L) - discC)).cast("decimal(20,0)")
    val chargeE6 = (priceC * (lit(100L) - discC) * (lit(100L) + taxC)).cast("decimal(20,0)")
    df.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).as("p_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("p_base"),
        sum(discPriceE4).as("p_disc"),
        sum(chargeE6).as("p_charge"),
        count(lit(1)).as("p_n"))
  }

  /** Merge partial-state rows (any number of partials per group) and
    * finalize to the q1 report columns. */
  private[graft] def q1MergeFinalize(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_base")).cast("double").as("sum_base_price"),
        (sum(col("p_disc")).cast("double") / 1e4).as("sum_disc_price"),
        (sum(col("p_charge")).cast("double") / 1e6).as("sum_charge"),
        sum(col("p_n")).cast("long").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def q23IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val isDelta = col("l_orderkey") % 10 === 0
    val mv = Artifact.table(spark, "q1mv", dir, Seq("lineitem.parquet")) { t =>
      Warehouse.writeTable(q1Partials(Tables.lineitem(spark, dir).filter(!isDelta)), t)
    }
    q1MergeFinalize(mv.unionByName(q1Partials(Tables.lineitem(spark, dir).filter(isDelta))))
  }

  /** q18: large-volume orders (TPC-H Q18 shape) — aggregate-HAVING as a
    * filter then join back: the big-order key set is derived with one
    * groupBy over lineitem, and only matching orders/customers join in.
    * The HAVING key set's size is a runtime quantity (threshold-dependent
    * selectivity), so the join is deliberately UN-hinted: AQE sees the
    * aggregate's actual output size and broadcasts when it fits, falling
    * back to a shuffle join when a loose threshold makes the set large —
    * a plan-time broadcast() hint would OOM there. The expensive side
    * stays a single aggregation pass — never a join of the unfiltered
    * facts. Quantity sums compare in exact integer units. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
      .filter(col("total_qty") > 120)
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name")
    ord.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** q13: customer order-count distribution (TPC-H Q13 shape) — the LEFT
    * OUTER pattern: every customer counts, including the order-less ones a
    * plain join would drop. Two aggregations: orders per customer (shuffle
    * on custkey), then the tiny histogram groupBy. At scale the first
    * groupBy is the only real exchange; counting o_orderkey (not *) keeps
    * the no-order customers at 0 exactly like the SQL semantics. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q15: top supplier(s) by period revenue (TPC-H Q15 shape) — the
    * max-of-aggregate pattern: revenue per supplier over a quarter, then
    * only the supplier(s) hitting the global max survive. Revenue is summed
    * in EXACT e4 integer units (cents x (100-disc)) so the equality against
    * the max is bit-stable in any engine and at any shuffle order — a
    * double-summed revenue would make `rev = max(rev)` flap. The scalar max
    * broadcasts; nothing re-joins the facts. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revE4 = (round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))).cast("decimal(20,0)")
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revE4).as("rev_e4"))
    val top = rev.agg(max(col("rev_e4")).as("max_e4"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(top))
      .filter(col("rev_e4") === col("max_e4"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_e4").cast("double") / 1e4).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q17: small-quantity-order revenue (TPC-H Q17 shape) — the correlated
    * per-group average: lineitems of one brand whose quantity is below 20%
    * of that part's average quantity. The per-part (n, sum_qty) aggregate is
    * computed ONCE and joined back (broadcast — it's the filtered brand's
    * parts only), and the 0.2*avg comparison runs in exact integer space:
    * qty < sum/(5n) <=> 5*qty*n < sum — no double division anywhere, so
    * the row set is engine- and order-exact. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#2")
      .select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), round(col("l_quantity")).cast("long").as("qty"),
        col("l_extendedprice"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("p_partkey").as("ap_partkey"))
      .agg(count(lit(1)).as("n_li"), sum(col("qty")).as("sum_qty"))
    li.join(broadcast(perPart), col("p_partkey") === col("ap_partkey"))
      .filter(col("qty") * lit(5L) * col("n_li") < col("sum_qty"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** q19: disjunctive predicate revenue (TPC-H Q19 shape) — an OR of three
    * (brand AND size-band AND quantity-band) conjunctions across the
    * part⋈lineitem join. The per-table halves of each conjunct (sizes on
    * part, quantities on lineitem) are pushable into BOTH scans as ORs, and
    * the join stays a single broadcast hash join — no union-of-three-scans
    * rewrite, one pass over the facts. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      // OR of the part-side halves: prunes the broadcast to candidate parts
      .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
      .select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q2: cheapest-offer-per-group (TPC-H Q2's argmin shape, adapted — no
    * partsupp table, so the "offer" is a lineitem's unit price). For each
    * brand, the single lineitem with the lowest unit price and its
    * supplier. The scale pattern is the point of this query: argmin via
    * `min_by(payload, struct(keys...))` is a plain aggregate — map-side
    * partial, one exchange, NO row_number window (which would sort the
    * whole fact table).
    *
    * Two aggregation levels, deliberately: `min_by`/`min(struct)` carry a
    * struct-typed buffer, which HashAggregate's fixed-width UnsafeRow map
    * cannot hold, so a single-level struct argmin silently plans as
    * SortAggregate — a full per-partition sort of the joined fact table
    * (measured 5 s at sf0.1, 6× its siblings). Instead level 1 folds to
    * min(unit_price) per (brand, supplier) — a primitive double buffer, so
    * it IS a map-side-combined HashAggregate — leaving ~|brands|×|suppliers|
    * rows, and only level 2 runs the struct argmin, on that tiny relation.
    * Projected to the output columns (brand, suppkey, price) this is the
    * same winner as the row-level argmin: the deeper (orderkey, linenumber)
    * tie-breaks never reached the output, and min over (price, suppkey) of
    * per-supplier minima equals the row-level lexicographic min. Doubles
    * compare totally (no NaN here: price>0, qty>0), so the answer is
    * bit-stable at any shuffle order. Supplier names join AFTER the
    * argmin — 25 rows, broadcast. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val perSupp = li.groupBy(col("p_brand"), col("l_suppkey"))
      .agg(min(col("unit_price")).as("unit_price"))
    val win = perSupp.groupBy(col("p_brand"))
      .agg(min_by(struct(col("l_suppkey"), col("unit_price")),
        struct(col("unit_price"), col("l_suppkey"))).as("w"))
      .select(col("p_brand"), col("w.l_suppkey").as("s_suppkey"),
        col("w.unit_price").as("min_unit_price"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey").as("sk"), col("s_name"))
    win.join(broadcast(supp), col("s_suppkey") === col("sk"))
      .select("p_brand", "s_suppkey", "s_name", "min_unit_price")
      .orderBy("p_brand")
  }

  /** q11: revenue-share HAVING (TPC-H Q11 shape) — suppliers whose revenue
    * exceeds a fixed fraction of GLOBAL revenue. Both sides of the
    * comparison are the same exact e4-integer sum (cents × (100-disc), as
    * q15), and the share test is a cross-multiplied integer compare
    * (rev*800 > total) — no division, no doubles, bit-stable. The global
    * total is a 1-row broadcast; per-supplier revenue is ONE partial-agg
    * exchange. The same revenue relation feeds both aggregates — Spark
    * reuses the scan (ReusedExchange at scale). */
  def q11Share(spark: SparkSession, dir: String): DataFrame = {
    val revE4 = (round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))).cast("decimal(20,0)")
    val perSupp = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(revE4).cast("decimal(38,0)").as("rev_e4"))
    val total = perSupp.agg(sum(col("rev_e4")).as("total_e4"))
    perSupp.crossJoin(broadcast(total))
      .filter(col("rev_e4") * 800 > col("total_e4"))
      .select(col("l_suppkey"), (col("rev_e4").cast("double") / 1e4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_suppkey"))
  }

  /** q12: late-shipment priority split (TPC-H Q12 shape, adapted — no
    * l_shipmode column, so the split key is l_returnflag). One fact-fact
    * join on orderkey, then conditional aggregation: counts of
    * high/low-priority orders among lines shipped >60 days after the order
    * date. sum(CASE WHEN..1..0) is a codegen'd integer aggregate — partial
    * map-side, a 3-row result, and the answer is shuffle-order-proof by
    * construction. */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q21: waiting-orders blame (TPC-H Q21 shape, adapted: "late" =
    * shipped >90 days after the order date, since the schema carries no
    * commit/receipt dates). A supplier's late LINES are counted when it
    * shipped late into a finished multi-supplier order where NO other
    * supplier was late.
    *
    * The classic EXISTS + NOT-EXISTS pair is expressed as a two-level
    * aggregation instead of left_semi + left_anti self-joins: per
    * (order, supplier) fold the lines (any-late flag + late-line count),
    * then per order count suppliers and late suppliers — the blame
    * condition "∃ another supplier ∧ ∄ another late supplier" is exactly
    * (n_suppliers > 1 ∧ n_late_suppliers == 1), attributing the single
    * late supplier's late-line count. Same answer as the self-join form,
    * but the fact table is scanned ONCE instead of three times and both
    * exchanges move (ids, flag, count) partials only — at 100 TB that's
    * two map-side-combined shuffles vs three full sorts. */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("l_orderkey", "l_suppkey", "late")
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("supp_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_lines"))
    val perOrd = perSupp.groupBy("l_orderkey").agg(
      count(lit(1)).as("n_supps"),
      sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late_supps"),
      min(when(col("supp_late"), col("l_suppkey"))).as("l_suppkey"),
      sum(when(col("supp_late"), col("n_late_lines")).otherwise(0L)).as("blamed_lines"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    perOrd.filter(col("n_supps") > 1 && col("n_late_supps") === 1)
      .groupBy(col("l_suppkey")).agg(sum(col("blamed_lines")).as("numwait"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** q20: dominant-supplier parts (TPC-H Q20's nested-aggregate shape,
    * adapted — no partsupp/availqty, so "excess stock" becomes "dominant
    * share": a supplier dominates a part when its 1996 shipped quantity
    * exceeds half the part's total 1996 shipped quantity). Two aggregates
    * at different granularities over the SAME filtered scan — Catalyst
    * reuses the shuffle (ReusedExchange: the per-(part,supplier) aggregate
    * re-aggregates to per-part without rescanning) — then an integer
    * cross-multiplied share test (qty*2 > total: no division), a count per
    * supplier, and a broadcast name join. Quantities are exact longs, so
    * every comparison is bit-stable at any shuffle order. */
  def q20Dominant(spark: SparkSession, dir: String): DataFrame = {
    val li96 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity")).cast("long").as("qty"))
    val perPS = li96.groupBy("l_partkey", "l_suppkey").agg(sum("qty").as("ps_qty"))
    val perP = perPS.groupBy("l_partkey").agg(sum("ps_qty").as("p_qty"))
    val dominant = perPS.join(perP, "l_partkey")
      .filter(col("ps_qty") * 2 > col("p_qty"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    dominant.groupBy("l_suppkey").agg(count(lit(1)).as("n_dominant_parts"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "n_dominant_parts")
      .orderBy(col("n_dominant_parts").desc, col("s_suppkey"))
      .limit(25)
  }

  /** q8: events rollup per type per day — the batch shape of the streaming
    * windowed count (SURVEY.md §2.H1). */
  def q8Rollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(
        col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "day")
  }
}

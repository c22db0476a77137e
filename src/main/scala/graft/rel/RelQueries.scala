package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Relational analytics over the TPC-H-shaped testdata — the keyed
  * aggregation / multi-way join surface the reference never needed (its
  * workload is spatial filters) but a complete engine must have.
  *
  * Scale design:
  *  - ONLY fixed-cardinality relations (`region` = 5 rows, `nation` = 25
  *    rows at every SF, post-LIMIT survivor sets, 1-row scalar
  *    aggregates) carry explicit `broadcast()` hints. Every
  *    SF-proportional relation — customer, supplier, part, brand/segment
  *    slices of them, per-key aggregates — joins WITHOUT a hint: AQE
  *    broadcasts it at test SFs (same plan, no perf loss) and degrades
  *    to a keyed shuffle past the threshold, where a forced hint would
  *    OOM the driver at 100 TB (a hint cannot degrade);
  *  - the `lineitem`→`orders` join is the only genuine shuffle pair, and
  *    both sides shuffle on the join key once (AQE handles skew);
  *  - money math is exact: cents = round(price*100) as BIGINT, revenue in
  *    1e-4 currency units = cents * (100 - discount_cents), so sums are
  *    integer and hash-compare across engines regardless of order.
  */
object RelQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.DatasetCache.readTable(spark, dir, s"$name.parquet")

  private def cents(c: String) = round(col(c) * 100).cast(LongType)

  /** TPC-H Q1-shaped pricing summary: one scan of lineitem, all
    * aggregates map-side combinable. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(LongType)).as("sum_qty"),
        sum(cents("l_extendedprice")).as("sum_base_cents"),
        sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .as("sum_disc_units"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_units,
      | count(*) AS cnt
      | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")

  /** ROLLUP pricing summary: hierarchical totals (flag × status → flag →
    * grand total) in one pass — grouping-sets surface the reference lacks
    * entirely. `grouping_id` disambiguates rollup rows; keys coalesce to
    * '(all)' so the output is null-free for stable hashing. */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("cnt"),
        sum(cents("l_extendedprice")).as("sum_base_cents"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("gid"), col("cnt"), col("sum_base_cents"))
      .orderBy("gid", "rf", "ls")

  val rollupSummarySql: String =
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      | coalesce(l_linestatus, '(all)') AS ls,
      | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      | count(*) AS cnt,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents
      | FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      | ORDER BY gid, rf, ls""".stripMargin.replace("\n", " ")

  /** TPC-H Q3-shaped shipping priority: the filtered customer dimension
    * joins orders, then orders⋈lineitem shuffle, top-10 revenue orders
    * (TakeOrderedAndProject — no global sort).
    *
    * Scale design: customer is SF-proportional (~1/5 survives the
    * segment filter — still unbounded), so it carries NO broadcast hint:
    * AQE broadcasts it at test SFs and degrades to a shuffled join past
    * the threshold, where a forced hint would OOM the driver. */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast(LongType).as("o_epoch_day"))
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"))
      .orderBy(col("revenue_units").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val topOrdersSql: String =
    """SELECT o_orderkey,
      | CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS o_epoch_day,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units
      | FROM customer JOIN orders ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      | WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
      | GROUP BY 1, 2 ORDER BY revenue_units DESC, o_orderkey ASC LIMIT 10""".stripMargin.replace("\n", " ")

  /** TPC-H Q5-shaped revenue by nation: the full star — region and
    * nation broadcast (FIXED-cardinality: 5 and 25 rows at every SF, the
    * only relations a forced hint is legitimate for), one
    * orders⋈lineitem shuffle.
    *
    * Scale design: customer is SF-proportional (~15 B rows at 100 TB),
    * so its join carries NO hint — AQE broadcasts at test SFs and
    * degrades to shuffle past the threshold. */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"), count(lit(1)).as("cnt"))
      .orderBy(col("revenue_units").desc, col("n_name").asc)
  }

  val nationRevenueSql: String =
    """SELECT n_name,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units,
      | count(*) AS cnt
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      | WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      | GROUP BY 1 ORDER BY revenue_units DESC, n_name ASC""".stripMargin.replace("\n", " ")

  /** TPC-H Q17-shaped small-quantity revenue: revenue from lineitems of
    * one brand whose quantity is below 20% of that part's average — the
    * classic correlated scalar subquery, DECORRELATED by hand into an
    * aggregate-then-join (the plan every optimizer rewrites Q17 into).
    *
    * Scale design: the brand's part list semi-filters lineitem FIRST,
    * so the per-part average aggregates only the brand's lineitems
    * (~1/|brands| of the table) — and that part-keyed aggregate joins
    * back. Neither side carries a hint: a brand slice of part and a
    * per-part aggregate are both SF-proportional (~1/|brands| of 20 B
    * parts at 100 TB), so AQE broadcasts them at test SFs (two map-only
    * passes + one small agg, same plan a hint would force) and degrades
    * both joins to partkey shuffles at scale instead of OOMing.
    *
    * `l_quantity < 0.2 * avg(q)` is evaluated as the integer cross
    * product `q * 5 * cnt < sum_q` — exact in both engines, no float
    * division. */
  def smallQtyRevenue(brand: String)(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_brand") === brand).select("p_partkey")
    val liBrand = t(spark, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"),
        col("l_quantity").cast(LongType).as("q"),
        cents("l_extendedprice").as("price_cents"))
    val perPart = liBrand.groupBy("l_partkey")
      .agg(sum(col("q")).as("sum_qty"), count(lit(1)).as("cnt_qty"))
    liBrand.join(perPart, "l_partkey")
      .filter(col("q") * 5 * col("cnt_qty") < col("sum_qty"))
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(col("price_cents")), lit(0L)).as("rev_cents"))
  }

  def smallQtyRevenueSql(brand: String): String =
    s"""WITH lb AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
       |   CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents
       |  FROM lineitem SEMI JOIN part ON l_partkey = p_partkey AND p_brand = '$brand'),
       | pp AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sum_qty, count(*) AS cnt_qty
       |  FROM lb GROUP BY 1)
       | SELECT count(*) AS cnt, CAST(coalesce(sum(price_cents), 0) AS BIGINT) AS rev_cents
       | FROM lb JOIN pp USING (l_partkey)
       | WHERE q * 5 * cnt_qty < sum_qty""".stripMargin.replace("\n", " ")

  /** TPC-H Q18-shaped large-volume orders: orders whose total lineitem
    * quantity exceeds a threshold, with their customer — the classic
    * `GROUP BY ... HAVING` + join-back pattern.
    *
    * Scale design: lineitem aggregates ONCE on its natural key (map-side
    * combinable — the only mandatory shuffle in the plan), and the HAVING
    * filter leaves a ~0.1% survivor set. 0.1% OF ORDERS is still
    * SF-proportional (tens of millions of rows at 100 TB), so there is NO
    * broadcast hint on it: AQE broadcasts the survivor set at test SFs —
    * where the hint would have been free — and degrades to a keyed
    * shuffle join when the survivors outgrow the threshold, which a hint
    * cannot do (it would OOM the driver instead). Same rule, same
    * reasoning, as the customer join below. */
  def largeOrders(minQty: Long)(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    val bigOrders = t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
    // no hint on the customer join: bigOrders carries full order rows, so
    // its size is data-dependent — AQE broadcasts it at test SFs and falls
    // back to a shuffle join if the survivor set ever grows past the
    // threshold (a forced broadcast would OOM instead)
    t(spark, dir, "customer")
      .join(bigOrders, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast(LongType).as("o_epoch_day"),
        cents("o_totalprice").as("total_cents"), col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(100)
  }

  def largeOrdersSql(minQty: Long): String =
    s"""WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > $minQty)
       | SELECT c_name, c_custkey, o_orderkey,
       |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS o_epoch_day,
       |  CAST(round(o_totalprice*100) AS BIGINT) AS total_cents, sum_qty
       | FROM customer JOIN orders ON o_custkey = c_custkey
       |  JOIN big ON o_orderkey = l_orderkey
       | ORDER BY total_cents DESC, o_orderkey ASC LIMIT 100""".stripMargin.replace("\n", " ")

  /** Customers with orders but no urgent order — the NOT-EXISTS shape,
    * hand-decorrelated the way an optimizer rewrites it: ONE pass over
    * orders computes per-customer order count AND an "any urgent" flag
    * as a conditional max, so the anti-semantics costs a single shuffle
    * on the natural key instead of a second scan + anti-join. The
    * customer side joins the small survivor aggregate. */
  def neverUrgent(spark: SparkSession, dir: String): DataFrame = {
    val byCust = t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
          .as("has_urgent"))
      .filter(col("has_urgent") === 0)
      .select("o_custkey", "n_orders")
    // no broadcast hint: byCust is a per-customer aggregate whose size
    // grows with customer cardinality (unbounded at 100 TB — a forced
    // broadcast would OOM the driver); AQE broadcasts it at test SFs and
    // degrades to sort-merge when the aggregate side is actually large
    t(spark, dir, "customer")
      .join(byCust, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("n_orders"))
      .orderBy("c_custkey")
  }

  val neverUrgentSql: String =
    """SELECT c_custkey, CAST(n_orders AS BIGINT) AS n_orders
      | FROM customer JOIN (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
      |  HAVING max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 0) o
      | ON o_custkey = c_custkey ORDER BY 1""".stripMargin.replace("\n", " ")

  /** Order-priority distribution with integer-ppm share of total — the
    * percent-of-total report shape: one aggregation, then a window over
    * the (tiny) aggregate result; the fact table is scanned once and
    * the window runs on grouped rows, not raw data. */
  def priorityShare(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(w))
      .select(col("o_orderpriority"), col("n"),
        expr("(n * 1000000) div total").as("share_ppm"))
      .orderBy("o_orderpriority")
  }

  val prioritySharesSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT) AS share_ppm
      | FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** Q4-shaped EXISTS: orders with at least one returned line item,
    * counted by priority. The correlated EXISTS decorelates to a LEFT
    * SEMI join on the order key — the probe side carries only the
    * filtered lineitem's join column (ReadSchema is one column wide),
    * the semi join short-circuits on first match instead of
    * aggregating duplicates away, and both sides shuffle on o_orderkey
    * only once. Complements [[neverUrgent]] (the NOT-EXISTS twin). */
  def returnedByPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(
        t(spark, dir, "lineitem")
          .filter(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  val returnedByPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS n_orders FROM orders
      | WHERE EXISTS (SELECT 1 FROM lineitem
      |   WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** TPC-H Q7-shaped nation-pair trade flows: revenue shipped between
    * every (supplier nation, customer nation) pair per ship year.
    *
    * Scale design: the supplier→nationkey and customer→nationkey
    * projections are SF-proportional (supplier- and customer-sized), so
    * those joins carry NO hint — AQE broadcasts them at test SFs and
    * degrades to keyed shuffles at scale. The aggregation groups on the
    * raw NATIONKEY pair (not the names), so its output is at most
    * |nations|² × |years| rows, and only THEN does the 25-row nation
    * table broadcast in — twice, once per side — to resolve names on the
    * tiny aggregate instead of widening every fact row with two strings
    * before the shuffle. */
  def nationPairs(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val supp = t(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val cust = t(spark, dir, "customer").select("c_custkey", "c_nationkey")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey"), col("c_nationkey"),
        year(col("l_shipdate")).cast(LongType).as("ship_year"))
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"), count(lit(1)).as("cnt"))
      .join(broadcast(nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .join(broadcast(nation.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .select("supp_nation", "cust_nation", "ship_year", "revenue_units", "cnt")
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  val nationPairsSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units,
      | count(*) AS cnt
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")

  /** TPC-H Q14-shaped promo revenue share: the conditional-sum ratio
    * report. Part's (key, is-promo) projection joins a month of
    * lineitem, then numerator and denominator come out of ONE map-side
    * combinable aggregation — no second scan, no division until the
    * 1-row result (integer ppm, exact in both engines).
    *
    * Scale design: part is SF-proportional, so the join carries NO
    * hint — AQE broadcasts the 2-column projection at test SFs and
    * degrades to a partkey shuffle at scale. The revenue sums run in
    * DECIMAL(38,0) internally and cross the boundary as STRING (the
    * `events_moments` discipline): the r10 100× sweep caught the int64
    * spelling overflowing in `promo_units * 10^6` (~4·10^19 at 100×
    * data), and the month's unit sum itself (~10^9/row) exits int64
    * within another 10× anyway. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .select(col("p_partkey"),
        (col("p_type") === "PROMO").cast("int").as("is_promo"))
    val unit = (cents("l_extendedprice") *
      (lit(100L) - cents("l_discount"))).cast("decimal(38,0)")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo") === 1, unit)
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("promo_d"),
        sum(unit).as("total_d"))
      .select(col("promo_d").cast("string").as("promo_units"),
        col("total_d").cast("string").as("total_units"),
        expr("(promo_d * 1000000) div total_d").cast(LongType).as("promo_ppm"))
  }

  val promoShareSql: String =
    """SELECT CAST(promo_d AS VARCHAR) AS promo_units,
      | CAST(total_d AS VARCHAR) AS total_units,
      | CAST(promo_d * 1000000 // total_d AS BIGINT) AS promo_ppm
      | FROM (SELECT
      |  sum(CASE WHEN p_type = 'PROMO' THEN CAST(round(l_extendedprice*100) AS HUGEINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END) AS promo_d,
      |  sum(CAST(round(l_extendedprice*100) AS HUGEINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS total_d
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-07-01')""".stripMargin.replace("\n", " ")

  /** TPC-H Q10-shaped returned-revenue customers: top 20 customers by
    * revenue of returned line items in a quarter.
    *
    * Scale design: the revenue aggregate groups on o_custkey BEFORE any
    * dimension join (one fact shuffle), the top-20 is
    * TakeOrderedAndProject (no global sort), and only THEN do the 20
    * survivor rows broadcast against customer and nation — at 100 TB the
    * alternative (join customer first, then aggregate) would shuffle
    * customer-width rows through the aggregation. */
  def topReturned(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"))
      .orderBy(col("revenue_units").desc, col("o_custkey").asc)
      .limit(20)
    t(spark, dir, "customer")
      .join(broadcast(perCust), col("c_custkey") === col("o_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        cents("c_acctbal").as("acctbal_cents"), col("revenue_units"))
      .orderBy(col("revenue_units").desc, col("c_custkey").asc)
  }

  val topReturnedSql: String =
    """WITH pc AS (SELECT o_custkey,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      | GROUP BY 1 ORDER BY revenue_units DESC, o_custkey ASC LIMIT 20)
      | SELECT c_custkey, c_name, n_name,
      |  CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_cents, revenue_units
      | FROM customer JOIN pc ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      | ORDER BY revenue_units DESC, c_custkey ASC""".stripMargin.replace("\n", " ")

  /** TPC-H Q15-shaped top supplier(s): suppliers whose period revenue
    * equals the maximum — the argmax-with-ties shape. The per-supplier
    * aggregate shuffles once; its 1-row max cross-joins back (broadcast
    * scalar, the [[graft.text.TextOps.docMix]] pattern), and the
    * survivor set (≥1 row, ties kept — usually one but unbounded if
    * every supplier ties, so NO hint: AQE broadcasts the real size)
    * joins the supplier dimension. No window over the full aggregate,
    * no second scan. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"))
    val maxRev = rev.agg(max(col("revenue_units")).as("max_units"))
    val winners = rev.crossJoin(broadcast(maxRev))
      .filter(col("revenue_units") === col("max_units"))
    t(spark, dir, "supplier")
      .join(winners, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_units"))
      .orderBy("s_suppkey")
  }

  val topSupplierSql: String =
    """WITH rev AS (SELECT l_suppkey,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      | GROUP BY 1)
      | SELECT s_suppkey, s_name, revenue_units
      | FROM supplier JOIN rev ON s_suppkey = l_suppkey
      | WHERE revenue_units = (SELECT max(revenue_units) FROM rev)
      | ORDER BY s_suppkey""".stripMargin.replace("\n", " ")

  /** TPC-H Q13-shaped customer order-count distribution: how many
    * customers placed k orders, INCLUDING k = 0 — the
    * left-join-preserving double aggregation.
    *
    * Scale design: orders pre-aggregates to (custkey, count) FIRST — one
    * map-side-combinable shuffle of 8-byte pairs instead of left-joining
    * raw orders against customer — then customer LEFT JOINs the count
    * relation (same key, AQE picks the join) and the second aggregation
    * groups a histogram-sized relation. */
  def orderCountHist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    t(spark, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("c_count").desc)
  }

  val orderCountHistSql: String =
    """SELECT c_count, count(*) AS n_cust FROM (
      | SELECT coalesce(n, 0) AS c_count
      | FROM customer LEFT JOIN (
      |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) pc
      | ON c_custkey = o_custkey)
      | GROUP BY 1 ORDER BY c_count DESC""".stripMargin.replace("\n", " ")

  /** TPC-H Q19-shaped disjunctive band predicate: revenue from three
    * OR'd (brand, size band, quantity band) windows — the classic
    * can't-push-one-conjunct filter. The OR-of-conjunctions DOES imply
    * one pushable residual per side: every disjunct pins `p_brand` to one
    * of three values (and `p_size >= 1`), so the part side is
    * pre-filtered to those brands — at TPC-H sf100 that is the difference
    * between shipping all ~20M parts and ~3/|brands| of them. The slice
    * is still SF-proportional, so the join carries NO hint (AQE
    * broadcasts at test SFs, shuffles at scale). The join semi-reduces
    * lineitem before the full disjunction evaluates map-side; everything
    * after it stays in one whole-stage-codegen pass (the quantity
    * envelope `l_quantity BETWEEN 1 AND 40` is likewise pushed to the
    * lineitem scan). */
  def partBands(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .select("p_partkey", "p_brand", "p_size")
      // the disjunction's implied residual, pushed below the broadcast
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_size") >= 1)
    val q = col("l_quantity")
    val band1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && q.between(1, 15)
    val band2 = col("p_brand") === "Brand#2" &&
      col("p_size").between(1, 25) && q.between(10, 25)
    val band3 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 50) && q.between(25, 40)
    t(spark, dir, "lineitem")
      // quantity envelope of the three bands — explicit so it reaches the
      // parquet scan as a pushed filter regardless of CNF-extraction
      .filter(q.between(1, 40))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .filter(band1 || band2 || band3)
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))),
          lit(0L)).as("revenue_units"))
  }

  val partBandsSql: String =
    """SELECT count(*) AS cnt,
      | CAST(coalesce(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))), 0) AS BIGINT) AS revenue_units
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
      |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 25 AND 40)""".stripMargin.replace("\n", " ")

  /** TPC-H Q2-shaped cheapest supplier per part: for each part of one
    * brand, the supplier shipping it cheapest — the argmin-per-group
    * shape (min_by with a defined tie order).
    *
    * Scale design: the brand's part list semi-filters lineitem (no
    * hint — a brand slice of part is SF-proportional, so AQE broadcasts
    * at test SFs and shuffles at scale), so the rank window sees
    * ~1/|brands| of the table; the rank-1 filter compiles to
    * WindowGroupLimit (per-
    * partition top-1 heap BEFORE the shuffle on l_partkey). min_by /
    * arg_min aggregates leave ties engine-defined — the explicit
    * (price, suppkey) lexicographic rank is what makes the answer
    * deterministic on both engines. */
  def cheapestSupplier(brand: String)(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_brand") === brand).select("p_partkey")
    val byPart = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey")
      .orderBy(col("price_cents").asc, col("l_suppkey").asc)
    t(spark, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        cents("l_extendedprice").as("price_cents"))
      .withColumn("rk", row_number().over(byPart))
      .filter(col("rk") === 1)
      .select(col("l_partkey"), col("l_suppkey"), col("price_cents"))
      .orderBy("l_partkey")
  }

  def cheapestSupplierSql(brand: String): String =
    s"""SELECT l_partkey, l_suppkey, price_cents FROM (
       | SELECT l_partkey, l_suppkey,
       |  CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents,
       |  row_number() OVER (PARTITION BY l_partkey
       |   ORDER BY CAST(round(l_extendedprice*100) AS BIGINT) ASC, l_suppkey ASC) AS rk
       | FROM lineitem SEMI JOIN part ON l_partkey = p_partkey AND p_brand = '$brand')
       | WHERE rk = 1 ORDER BY l_partkey""".stripMargin.replace("\n", " ")

  // ---- ACID-table-backed query (lake read path) -----------------------

  /** One-time ingest of lineitem into a [[graft.lake.LakeTable]]
    * (snapshot-keyed like every other derived layout). */
  private def lakeLineitem(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "lake_lineitem", "lineitem.parquet")(
      graft.lake.LakeTable.append(spark, _, t(spark, dir, "lineitem")))

  /** Force the one-time lake ingest (bench isolation hook). */
  def prebuildLakeTable(spark: SparkSession, dir: String): Unit = {
    lakeLineitem(spark, dir)
    ()
  }

  /** One-time build of the Bloom point-lookup fixture: lineitem
    * ingested into a lake table HASH-distributed on `l_orderkey` (16
    * files, each spanning the whole key domain — the layout on which
    * min/max range stats structurally cannot prune a point predicate),
    * then Bloom-indexed on the key. Snapshot-keyed like every derived
    * layout. */
  private def pointLake(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "lake_point", "lineitem.parquet") { path =>
      graft.lake.LakeTable.append(spark, path,
        t(spark, dir, "lineitem").repartition(16, col("l_orderkey")))
      graft.lake.BloomIndex.build(spark, path, "l_orderkey")
    }

  /** Force the one-time point-lake build (bench isolation hook). */
  def prebuildPointLake(spark: SparkSession, dir: String): Unit = {
    pointLake(spark, dir)
    ()
  }

  /** Single-order point lookup THROUGH the lake's Bloom-sidecar data
    * skipping: the DSv2 scan probes the per-file filters inside its
    * file listing and reads ≤1-2 of the 16 hash-distributed files —
    * the OLTP-ish needle query every warehouse still owes its users at
    * 100 TB, served from metadata instead of a corpus scan.
    * Layout-invariant: the oracle is the flat-parquet SQL. */
  def pointLookup(orderkey: Long)(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("lake").load(pointLake(spark, dir))
      .filter(col("l_orderkey") === orderkey)
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("line"),
        col("l_partkey"), col("l_quantity").cast(LongType).as("qty"),
        cents("l_extendedprice").as("price_cents"))
      .orderBy("line")

  def pointLookupSql(orderkey: Long): String =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line, l_partkey,
       | CAST(l_quantity AS BIGINT) AS qty,
       | CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
       | FROM lineitem WHERE l_orderkey = $orderkey
       | ORDER BY line""".stripMargin.replace("\n", " ")

  /** The Q1-shaped pricing summary read THROUGH the ACID table's
    * transaction-log snapshot instead of raw parquet — proving the lake
    * read path is a drop-in table source for the relational surface.
    * The log resolves the file list; Spark still gets a plain columnar
    * parquet scan (pushdown and pruning intact), so the plan is the
    * same as the flat query's. Layout-invariant: the oracle is the
    * flat-parquet SQL. */
  def pricingSummaryLake(spark: SparkSession, dir: String): DataFrame = {
    // through the DSv2 connector (not the library snapshot() call): the
    // scan plans via the connector API, with log-stats file pruning
    // applied from pushed filters inside the scan's file index
    val snap = spark.read.format("lake").load(lakeLineitem(spark, dir))
    snap.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(LongType)).as("sum_qty"),
        sum(cents("l_extendedprice")).as("sum_base_cents"),
        sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .as("sum_disc_units"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---- incrementally-maintained materialized view ---------------------

  /** One-time: lineitem ingested into a lake table in TWO appends with a
    * range-delete at the end, and a pricing materialized view
    * ([[graft.lake.MaterializedView]]) maintained ACROSS the history —
    * created after the first append, then incrementally refreshed twice
    * (append delta, then delete delta via the change feed). The view
    * state the query reads was therefore never fully recomputed after
    * creation; matching the flat-SQL oracle proves the delta-multiset
    * maintenance exact end-to-end. Source table and view are the
    * artifact root's `src/` and `view/`; the view path is returned. */
  private def mvPricing(spark: SparkSession, dir: String): String =
    graft.DatasetCache.artifact(spark, dir, "mv_pricing", "lineitem.parquet") { root =>
      val (src, view) = (s"$root/src", s"$root/view")
      val li = t(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(LongType).as("qty"))
      graft.lake.LakeTable.append(spark, src,
        li.filter(col("l_orderkey") % 2 === 0))
      graft.lake.MaterializedView.create(spark, view, src,
        Seq("l_returnflag", "l_linestatus"), Seq("qty"))
      graft.lake.LakeTable.append(spark, src,
        li.filter(col("l_orderkey") % 2 =!= 0))
      graft.lake.MaterializedView.refresh(spark, view)
      graft.lake.LakeTable.deleteWhere(spark, src, "l_orderkey", 100, 500)
      graft.lake.MaterializedView.refresh(spark, view)
      view
    }

  /** Force the one-time MV build (bench isolation hook). */
  def prebuildMv(spark: SparkSession, dir: String): Unit = {
    mvPricing(spark, dir)
    ()
  }

  /** Pricing summary served FROM the maintained view state — a
    * view-sized scan (a few rows), no fact-table I/O at query time. The
    * 100 TB shape: dashboards hit the view; only refresh touches the
    * fact table, and only its changed rows. */
  def pricingSummaryMv(spark: SparkSession, dir: String): DataFrame =
    graft.lake.MaterializedView.read(spark, mvPricing(spark, dir))
      .orderBy("l_returnflag", "l_linestatus")

  def pricingSummaryMvSql: String =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
      | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      | FROM lineitem WHERE l_orderkey < 100 OR l_orderkey > 500
      | GROUP BY l_returnflag, l_linestatus
      | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")

  // ---- bucketed co-located join (persistent shuffle-free layout) ------

  /** Bucket-count floor for the orders/lineitem layout — the count at
    * every canonical SF (committed bench numbers unchanged). The actual
    * count is ADAPTIVE ([[adaptiveBuckets]]): a fixed 8 caps both the
    * one-shuffle build and every later bucketed scan at 8-way
    * parallelism no matter how large the corpus grows — the inverse of
    * the r11 tiny-file trap (too FEW files instead of too many). At
    * 100 TB this lands at the O(10^4) a production lake would choose
    * once, since every table bucketed on the same key with the same
    * count joins co-located forever after. */
  val JoinBuckets = 8

  /** Target rows of the LARGEST bucketed table per bucket: one
    * comfortable sort-merge task (~2M lineitem rows ≈ low hundreds of
    * MB). Both tables use the count derived from lineitem — co-located
    * joins require equal bucket counts. */
  val JoinBucketRows = 2000000L

  private[graft] def adaptiveBuckets(largestRows: Long): Int =
    math.max(JoinBuckets.toLong,
      math.min(4096L, largestRows / JoinBucketRows)).toInt

  /** One-time layout: orders + lineitem written as bucketed tables on the
    * order key (`bucketBy` + `sortBy`, pre-repartitioned to one file per
    * bucket so Spark can use both the bucket partitioning AND the
    * per-bucket sort order at scan time). One artifact of both tables:
    * their data lands under its root, one subdirectory per table.
    *
    * This is the persistent-layout analog of [[graft.pc.Layout]] for the
    * relational surface: pay one shuffle at write time, then every
    * join/aggregation on the bucket key is exchange-free for the life of
    * the table — the only strategy that survives a 100 TB fact-fact join
    * where neither side can broadcast and a per-query shuffle would move
    * the whole table. */
  def bucketedTables(spark: SparkSession, dir: String): (String, String) =
    graft.DatasetCache.artifact(spark, dir, "bucketed", "lineitem.parquet",
        "orders.parquet") { root =>
      // table identifiers must be unique per artifact but valid SQL names
      val h = java.util.UUID.nameUUIDFromBytes(root.getBytes("UTF-8"))
        .toString.replace("-", "").take(16)
      val ordName = s"graft_orders_b_$h"
      val liName = s"graft_lineitem_b_$h"
      // ONE adaptive count for both tables (equal counts are what makes
      // the join co-located), derived from the larger table
      val buckets = adaptiveBuckets(t(spark, dir, "lineitem").count())
      def write(df: DataFrame, bucketCol: String, name: String): Unit =
        df.repartition(buckets, col(bucketCol))
          .write.mode("overwrite")
          .bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", s"$root/$name").saveAsTable(name)
      write(t(spark, dir, "orders"), "o_orderkey", ordName)
      write(t(spark, dir, "lineitem"), "l_orderkey", liName)
      (ordName, liName)
    }

  /** Force the one-time bucketed-table build (bench isolation hook). */
  def prebuildBucketedTables(spark: SparkSession, dir: String): Unit = {
    bucketedTables(spark, dir)
    ()
  }

  /** Top urgent orders by revenue over the BUCKETED layout: the
    * lineitem⋈orders join sort-merges co-located buckets (merge hint —
    * broadcast would also avoid the shuffle here but proves nothing at
    * 100 TB where orders cannot broadcast), and the per-order aggregation
    * reuses the same bucket partitioning, so the whole plan runs with
    * ZERO shuffle exchanges — plan-asserted in `BucketedJoinSpec`. The
    * layout is result-invariant: the oracle is the flat-parquet SQL. */
  def orderRevenueBucket(spark: SparkSession, dir: String): DataFrame = {
    val (ordName, liName) = bucketedTables(spark, dir)
    val ord = spark.table(ordName)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val li = spark.table(liName)
    li.hint("merge").join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"), count(lit(1)).as("nli"))
      .orderBy(col("revenue_units").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val orderRevenueBucketSql: String =
    """SELECT o_orderkey,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units,
      | count(*) AS nli
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | WHERE o_orderpriority = '1-URGENT'
      | GROUP BY 1 ORDER BY revenue_units DESC, o_orderkey ASC LIMIT 10""".stripMargin.replace("\n", " ")

  /** TPC-H Q8-shaped market share: per order-year, the ppm share of
    * revenue delivered by suppliers of ONE nation among all suppliers of
    * that nation's region (reference query: `pc-cli` has no Q8 twin —
    * this is the engine-surface extension, supplier-nation flavored
    * because lineitem carries l_suppkey directly).
    *
    * Scale design: nation⋈region fold to a tiny key list driver-free
    * (broadcast); the supplier dimension joins WITHOUT a forced
    * broadcast hint — AQE broadcasts it at test SF and degrades to
    * shuffle when supplier outgrows the threshold (the round-3 verdict's
    * rule for unbounded dimensions). Join ORDER is the load-bearing
    * choice: the region-filtered supplier set joins into lineitem FIRST
    * (the selective dimension semi-reduces the fact to ~1/|regions| of
    * its rows), and only then does the orders⋈lineitem equi-join run —
    * so the one unavoidable fact-fact shuffle on orderkey carries the
    * reduced lineitem, not the full table. Both
    * shares are conditional sums in ONE aggregate pass, and the ppm
    * ratio multiplies in DECIMAL(38,0) (HUGEINT on the oracle side) —
    * exact 128-bit in both engines, so `nation_units * 1e6` cannot
    * silently wrap int64 on a large fact table (the [[graft.text
    * .TextOps.docTfidfTop]] discipline); the quotient is ≤ 1e6, always
    * back in int64 range. */
  def mktShare(nation: String, region: String)(
      spark: SparkSession, dir: String): DataFrame = {
    val regionNations = broadcast(t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")
        .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name")))
    val supp = t(spark, dir, "supplier")
      .join(regionNations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === nation).cast("int").as("is_target"))
    t(spark, dir, "lineitem")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("is_target") === 1,
          cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .otherwise(0L)).as("nation_units"),
        sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .as("region_units"))
      .select(col("o_year"), col("nation_units"), col("region_units"),
        expr("(CAST(nation_units AS DECIMAL(38,0)) * 1000000) div region_units")
          .cast(LongType).as("share_ppm"))
      .orderBy("o_year")
  }

  def mktShareSql(nation: String, region: String): String =
    s"""SELECT o_year, nation_units, region_units,
       | CAST(CAST(nation_units AS HUGEINT) * 1000000 // region_units AS BIGINT) AS share_ppm
       | FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       |  CAST(sum(CASE WHEN n_name = '$nation' THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS nation_units,
       |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS region_units
       | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       | WHERE r_name = '$region'
       | GROUP BY 1) ORDER BY o_year""".stripMargin.replace("\n", " ")

  /** TPC-H Q9-shaped profit rollup: revenue by (supplier nation, order
    * year). Same fact core as [[mktShare]] — one orders⋈lineitem
    * shuffle for the year column, supplier dimension unforced (AQE
    * broadcast at test SF, shuffle at scale), nation broadcast onto the
    * supplier side so the big join carries an 8-byte nation key, and
    * the final (nation, year) aggregate is map-side combinable. */
  def supplierYearRev(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
        .as("revenue_units"), count(lit(1)).as("nli"))
      .orderBy("nation", "o_year")
  }

  val supplierYearRevSql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_units,
      | count(*) AS nli
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      | GROUP BY 1, 2 ORDER BY nation, o_year""".stripMargin.replace("\n", " ")

  /** TPC-H Q16-shaped supplier diversity: distinct suppliers observed
    * shipping each (brand, size) part family, excluding one brand.
    *
    * Scale design: lineitem first distinct-compresses to its observed
    * (partkey, suppkey) pairs — a map-side-combinable dedup that
    * replaces the fact table with its key-pair projection (the
    * partsupp relation Q16 reads, derived since the dataset has none) —
    * then the part dimension joins (AQE-chosen) and the
    * count(DISTINCT) groups by the small (brand, size) lattice. */
  def partSuppliers(excludeBrand: String)(
      spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    pairs.join(t(spark, dir, "part")
        .filter(col("p_brand") =!= excludeBrand),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_size").asc)
  }

  def partSuppliersSql(excludeBrand: String): String =
    s"""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
       |  JOIN part ON l_partkey = p_partkey
       | WHERE p_brand <> '$excludeBrand'
       | GROUP BY 1, 2
       | ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC""".stripMargin.replace("\n", " ")

  /** TPC-H Q22-shaped idle rich customers: customers with
    * above-average positive balance and NO orders on/after a cutoff
    * date, counted per market segment. (Q22 proper anti-joins on
    * "never ordered"; this dataset's generator gives every customer at
    * least one order, so the non-vacuous form is "idle since cutoff" —
    * same anti-join shape with a pushed date predicate.)
    *
    * Scale design: the balance threshold is a 1-row aggregate broadcast
    * back as a cross-join scalar (never a driver-side collect); orders
    * prunes on the pushed o_orderdate predicate at the scan, THEN
    * distinct-compresses to its customer-key set BEFORE the LEFT ANTI
    * join, so the anti join shuffles customer-cardinality keys, not
    * order-cardinality rows. Exact cents arithmetic throughout: the
    * average test `bal * n > sum` multiplies instead of dividing. */
  def idleCustomers(cutoff: String)(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        cents("c_acctbal").as("bal_cents"))
    val thresh = cust.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents")).as("bal_sum"), count(lit(1)).as("bal_n"))
    val recentBuyers = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(thresh))
      .filter(col("bal_cents") * col("bal_n") > col("bal_sum"))
      .join(recentBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("idle_cnt"), sum(col("bal_cents")).as("idle_bal_cents"))
      .orderBy("c_mktsegment")
  }

  def idleCustomersSql(cutoff: String): String =
    s"""WITH cust AS (SELECT c_custkey, c_mktsegment,
       |  CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
       | thresh AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
       |  count(*) AS bal_n FROM cust WHERE bal_cents > 0)
       | SELECT c_mktsegment, count(*) AS idle_cnt,
       |  CAST(sum(bal_cents) AS BIGINT) AS idle_bal_cents
       | FROM cust, thresh
       | WHERE bal_cents * bal_n > bal_sum
       |  AND c_custkey NOT IN
       |   (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '$cutoff')
       | GROUP BY 1 ORDER BY c_mktsegment""".stripMargin.replace("\n", " ")

  /** TPC-H Q4-shaped priority checking: orders in a window with at least
    * one LATE lineitem, counted by priority. (Q4 proper tests
    * l_commitdate < l_receiptdate; those columns don't exist in this
    * dataset, so "late" is l_shipdate > o_orderdate + 90 days — the same
    * correlated-EXISTS shape with the correlation running through BOTH
    * sides of the semi-join condition.)
    *
    * Scale design: orders prunes on the pushed date window first, then
    * ONE left-semi shuffle join on the order key decides existence —
    * lineitem never aggregates and duplicate matches never inflate
    * counts. The join condition references both sides (shipdate vs
    * orderdate), which Spark evaluates as a post-shuffle residual on the
    * sort-merge semi join — still one exchange pair. */
  def lateOrders(fromDate: String, toDate: String)(
      spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(fromDate).cast("timestamp") &&
        col("o_orderdate") < lit(toDate).cast("timestamp"))
    val li = t(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  def lateOrdersSql(fromDate: String, toDate: String): String =
    s"""SELECT o_orderpriority, count(*) AS n_orders
       | FROM orders
       | WHERE o_orderdate >= TIMESTAMP '$fromDate'
       |  AND o_orderdate < TIMESTAMP '$toDate'
       |  AND EXISTS (SELECT 1 FROM lineitem
       |   WHERE l_orderkey = o_orderkey
       |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
       | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** TPC-H Q6-shaped forecast revenue change: one scan, one row — the
    * discount-band × quantity filter and the would-be revenue had the
    * discount been dropped. Revenue is exact integer 1e-6 currency units
    * (cents × discount-cents), so the sum hash-matches across engines
    * in any order.
    *
    * Scale design: the canonical map-only aggregate — every predicate
    * pushes to the parquet scan (shipdate min/max prune row groups) and
    * the single-row global agg is a partial-combine then a 1-row
    * exchange. No join, no wide shuffle. */
  def forecastRevenue(year: Int, discLoCents: Long, discHiCents: Long,
      maxQty: Long)(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(f"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(f"${year + 1}-01-01").cast("timestamp") &&
        cents("l_discount").between(discLoCents, discHiCents) &&
        col("l_quantity") < maxQty.toDouble)
      .agg(sum(cents("l_extendedprice") * cents("l_discount"))
          .as("revenue_e6"),
        count(lit(1)).as("n_lines"))

  def forecastRevenueSql(year: Int, discLoCents: Long, discHiCents: Long,
      maxQty: Long): String =
    s"""SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |   * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_e6,
       | count(*) AS n_lines
       | FROM lineitem
       | WHERE l_shipdate >= TIMESTAMP '$year-01-01'
       |  AND l_shipdate < TIMESTAMP '${year + 1}-01-01'
       |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN $discLoCents AND $discHiCents
       |  AND l_quantity < $maxQty""".stripMargin.replace("\n", " ")

  /** TPC-H Q12-shaped shipping-status priority split: per line status,
    * how many lines belong to critical- vs ordinary-priority orders.
    * (Q12 proper groups by l_shipmode and windows on l_receiptdate;
    * neither column exists here, so the group key is l_linestatus and
    * the window is on l_shipdate — the same join + conditional-count
    * shape.)
    *
    * Scale design: lineitem prunes on the pushed shipdate window, the
    * orders join shuffles both sides on the order key once, and the two
    * CASE sums fold map-side. The priority test is a broadcast-free
    * per-row expression. */
  def shipStatusPriority(year: Int)(spark: SparkSession, dir: String): DataFrame = {
    val crit = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(f"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(f"${year + 1}-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linestatus")
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  def shipStatusPrioritySql(year: Int): String =
    s"""SELECT l_linestatus,
       | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | WHERE l_shipdate >= TIMESTAMP '$year-01-01'
       |  AND l_shipdate < TIMESTAMP '${year + 1}-01-01'
       | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** TPC-H Q21-shaped waiting-supplier ranking: for finished ('F')
    * multi-supplier orders whose shipping was staggered, the suppliers
    * whose lineitem shipped LAST — i.e. the supplier every other
    * participant waited on — ranked by how many orders they delayed.
    * (Q21 proper uses receipt-vs-commit lateness plus EXISTS/NOT-EXISTS
    * self-joins; with only l_shipdate the "blame" test is ship-last,
    * which keeps the two correlated self-join probes — another supplier
    * exists, no other supplier shipped as late.)
    *
    * Scale design: the finished-status semi-join is pushed BELOW the
    * per-order aggregation — filtering by ORDER key never drops lines
    * within a kept order, so per-order extremes are unchanged while the
    * heavy countDistinct aggregation (and the max-ship probe) see only
    * the ~half of lineitem belonging to 'F' orders. Both uses of the
    * filtered lineitem are the IDENTICAL subplan, so the orderkey
    * exchange is planned once and reused (one exchange family,
    * AQE-coalesced); the SF-proportional supplier dimension joins
    * WITHOUT a hint (AQE broadcasts at test SFs, shuffles at scale —
    * and by then the max-ship survivor side is already ≤1 row per
    * multi-supplier order, far smaller than lineitem). count
    * (DISTINCT l_orderkey) guards against a supplier shipping two lines
    * at the max timestamp inflating its wait count. Top-20 is
    * TakeOrderedAndProject with a deterministic (numwait DESC, s_name)
    * tiebreak. */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val finished = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val flines = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(finished, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val perOrder = flines
      .groupBy(col("l_orderkey").as("mo_orderkey"))
      .agg(max(col("l_shipdate")).as("max_ship"),
        min(col("l_shipdate")).as("min_ship"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .filter(col("n_supp") >= 2 && col("max_ship") > col("min_ship"))
    flines
      .join(perOrder, col("l_orderkey") === col("mo_orderkey") &&
        col("l_shipdate") === col("max_ship"))
      .join(t(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(countDistinct(col("l_orderkey")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val waitingSuppliersSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey AS mo_orderkey, max(l_shipdate) AS max_ship,
      |   min(l_shipdate) AS min_ship, count(DISTINCT l_suppkey) AS n_supp
      |  FROM lineitem GROUP BY 1)
      | SELECT s_name, CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS numwait
      | FROM lineitem l
      |  JOIN per_order ON l.l_orderkey = mo_orderkey
      |   AND l.l_shipdate = max_ship AND n_supp >= 2 AND max_ship > min_ship
      |  JOIN supplier ON l.l_suppkey = s_suppkey
      | WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_orderkey = l.l_orderkey AND o_orderstatus = 'F')
      | GROUP BY s_name
      | ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " ")

  /** TPC-H Q11-shaped value concentration: per-part shipped value from
    * one nation's suppliers, keeping parts whose value exceeds `mult`×
    * the MEAN part value (Q11 proper reads partsupp and keeps parts
    * above `0.0001/SF` of the total — the SF division exists exactly
    * because a fixed fraction of the total goes vacuous as part count
    * grows; thresholding on the mean is the scale-invariant spelling
    * of the same concentration test. Value derives from the observed
    * lineitem flows since the dataset has no partsupp. `mult = 1` —
    * above-mean parts — is the registered setting: the synthetic
    * corpus prices are near-uniform, so at small SFs a nation's parts
    * mostly carry one lineitem each and no part reaches 2× the mean —
    * higher multiples are vacuous at sf0.001/sf0.01, the same
    * degeneracy Q11's own SF-scaled threshold exists to dodge).
    *
    * Scale design: the nation filter reaches the supplier scan
    * (pushed predicate), lineitem semi-joins the ~1/25 supplier slice
    * with NO hint (SF-proportional — AQE broadcasts at test SF,
    * shuffles at scale); the per-part aggregation is map-side
    * combined; the threshold is a 1-row aggregate broadcast back as a
    * scalar, never a driver collect. Exact cents;
    * `value * n_parts > mult * total` multiplies instead of dividing. */
  def partsuppValue(nation: String, mult: Long)(
      spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation").filter(col("n_name") === nation),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val ps = t(spark, dir, "lineitem")
      .join(supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(cents("l_extendedprice")).as("value_cents"))
    val tot = ps.agg(sum(col("value_cents")).as("total"),
      count(lit(1)).as("n_parts"))
    ps.crossJoin(broadcast(tot))
      // DECIMAL(38,0): value_cents·n_parts overflows int64 once cents
      // reach ~1e10 over ~1e9 parts (the 100 TB regime) — and the two
      // engines disagree on overflow (Spark wraps, DuckDB errors), the
      // exact hazard the outliers/tfidf queries already guard against
      .filter(col("value_cents").cast("decimal(38,0)") * col("n_parts") >
        lit(mult) * col("total").cast("decimal(38,0)"))
      .select("partkey", "value_cents")
      .orderBy(col("value_cents").desc, col("partkey").asc)
  }

  def partsuppValueSql(nation: String, mult: Long): String =
    s"""WITH ps AS (
       |  SELECT l_partkey AS partkey,
       |   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
       |  FROM lineitem
       |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
       |    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = '$nation')
       |  GROUP BY 1),
       | tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total,
       |   count(*) AS n_parts FROM ps)
       | SELECT partkey, value_cents FROM ps, tot
       | WHERE CAST(value_cents AS HUGEINT) * n_parts > $mult * CAST(total AS HUGEINT)
       | ORDER BY value_cents DESC, partkey ASC""".stripMargin.replace("\n", " ")

  /** TPC-H Q20-shaped dominant suppliers: for a brand family's parts
    * shipped in a date window, the suppliers who shipped MORE THAN HALF
    * of a part's total quantity — ranked by how many parts they
    * dominate. (Q20 proper compares ps_availqty to half the shipped
    * quantity; without partsupp the non-vacuous form compares each
    * supplier's shipped share to the same half-of-total bar — the
    * identical per-part agg → per-(part,supplier) agg → threshold
    * semi-join chain.)
    *
    * Scale design: date + brand predicates push to the scans; the
    * part slice is SF-proportional so its join carries NO hint; the
    * two aggregations reuse one exchange family (per-(part,supp) then
    * per-part on the same key prefix); quantities are integral doubles
    * cast to exact BIGINT. The supplier name join happens AFTER the
    * dominance filter, on the ≤|parts| surviving rows. */
  def dominantSuppliers(brandPrefix: String, from: String, until: String)(
      spark: SparkSession, dir: String): DataFrame = {
    val flow = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .join(t(spark, dir, "part")
          .filter(col("p_brand").startsWith(brandPrefix)).select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast(LongType).as("qty"))
    val perSupp = flow.groupBy("l_partkey", "l_suppkey")
      .agg(sum("qty").as("sq"))
    val perPart = perSupp.groupBy(col("l_partkey").as("pk"))
      .agg(sum("sq").as("tq"))
    perSupp.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("sq") * 2 > col("tq"))
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("dom_parts"))
      .join(t(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("dom_parts"))
      .orderBy(col("dom_parts").desc, col("s_name").asc)
  }

  def dominantSuppliersSql(brandPrefix: String, from: String, until: String): String =
    s"""WITH flow AS (
       |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$until'
       |   AND l_partkey IN (SELECT p_partkey FROM part WHERE p_brand LIKE '$brandPrefix%')),
       | per_supp AS (SELECT l_partkey, l_suppkey, CAST(sum(qty) AS BIGINT) AS sq
       |  FROM flow GROUP BY 1, 2),
       | per_part AS (SELECT l_partkey AS pk, CAST(sum(sq) AS BIGINT) AS tq
       |  FROM per_supp GROUP BY 1)
       | SELECT s_name, count(DISTINCT l_partkey) AS dom_parts
       | FROM per_supp JOIN per_part ON l_partkey = pk
       |  JOIN supplier ON l_suppkey = s_suppkey
       | WHERE sq * 2 > tq
       | GROUP BY 1 ORDER BY dom_parts DESC, s_name ASC""".stripMargin.replace("\n", " ")

  /** Price-bucket count for [[skylineParts]]' two-phase prefix-max —
    * bounded metadata, like the docPack bucket offsets. */
  val SkylineBuckets = 64

  /** 2-D skyline (Pareto frontier) of the part table over
    * (price ↓ cheaper-better, size ↑ larger-better): parts no other
    * part beats on both axes — the preference/dominance operator class
    * (multi-criteria shortlists: cheapest-largest, freshest-highest-
    * quality, …), which no single ORDER BY can express.
    *
    * A part is dominated iff a strictly cheaper part has size ≥ its
    * size, or an equal-priced part has strictly larger size. Both
    * conditions are 1-D prefix questions once rows are ordered by
    * price, so the operator needs NO pairwise join and NO corpus-sized
    * window: bucket rows by price range (boundaries from one 1-row
    * min/max aggregate — exact integer bucket arithmetic), take
    * per-bucket max sizes (≤ [[SkylineBuckets]] rows), prefix-max THAT
    * bounded relation, and resolve within-bucket prefixes with a
    * bucket-partitioned RANGE window whose frame ends 1 price unit
    * before the current row (strictly-cheaper, so equal-price peers
    * never dominate through it); equal-price domination is one more
    * window over price peers. The two-phase split is the
    * docPack/select_budget prefix discipline applied to prefix-MAX —
    * at 100 TB each bucket partition holds ~n/buckets rows and the
    * cross-bucket pass stays metadata-sized. Ties: identical
    * (price, size) rows dominate each other on neither axis, so ALL
    * survive — the RANGE frame (not ROWS) is what makes that exact. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = SkylineBuckets
    val p = t(spark, dir, "part").select(col("p_partkey"),
      cents("p_retailprice").as("price_cents"),
      col("p_size").cast(LongType).as("size"))
    val bounds = p.agg(min("price_cents").as("lo"), max("price_cents").as("hi"))
    val bucketed = p.crossJoin(bounds) // 1-row scalar relation, no hint
      .withColumn("bkt",
        expr(s"((price_cents - lo) * $B) div (hi - lo + 1)"))
    // phase 1: per-bucket max size, then prefix-max over the ≤B buckets
    // (the global window runs on a bounded metadata relation)
    val belowBkt = bucketed.groupBy("bkt").agg(max("size").as("bmax"))
      .withColumn("below", max("bmax").over(
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)))
      .select("bkt", "below")
    // phase 2: within-bucket strictly-cheaper prefix (RANGE frame to
    // price-1) + equal-price peer max
    val strictIn = Window.partitionBy("bkt").orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val peers = Window.partitionBy("price_cents")
    bucketed.join(belowBkt, Seq("bkt"), "left_outer")
      .withColumn("mb", greatest(max("size").over(strictIn), col("below")))
      .withColumn("mp", max("size").over(peers))
      .filter((col("mb").isNull || col("mb") < col("size")) &&
        col("mp") === col("size"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy("price_cents", "p_partkey")
  }

  /** Oracle: the same prefix-max characterization spelled as two plain
    * windows — transparently equivalent to the NOT EXISTS dominance
    * definition (see the spec's brute-force pin), and cheap for DuckDB
    * at any gate SF. */
  val skylinePartsSql: String =
    """WITH p AS (SELECT p_partkey,
      |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |  CAST(p_size AS BIGINT) AS size FROM part),
      | w AS (SELECT p_partkey, price_cents, size,
      |  max(size) OVER (ORDER BY price_cents
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb,
      |  max(size) OVER (PARTITION BY price_cents) AS mp FROM p)
      | SELECT p_partkey, price_cents, size FROM w
      | WHERE (mb IS NULL OR mb < size) AND mp = size
      | ORDER BY price_cents, p_partkey""".stripMargin.replace("\n", " ")

  /** Max edit distance for [[fuzzyParts]] — pairs further apart than
    * this are not considered the same entity. */
  val FuzzyMaxDist = 3

  /** Token-block capacity for [[fuzzyParts]]. A token shared by more
    * vocabulary entries than this is stop-word-like: its block would
    * contribute O(block²) candidate pairs while (by being ubiquitous)
    * carrying almost no identity signal. Dropping it is the df-cap
    * discipline from the text shingle index, applied to ER blocking.
    * Far above every block at the test SFs — the cap exists as the
    * structural bound, not as a tuning knob. */
  val FuzzyBlockCap = 10000

  /** Entity resolution over the part-name vocabulary: near-duplicate
    * name pairs (edit distance ≤ [[FuzzyMaxDist]], names unequal) with
    * how many parts carry each spelling — the record-linkage /
    * catalog-dedup shape (find "cold anvil" vs "old anvil" variants
    * that exact dedup can never merge).
    *
    * Scale design — dedupe the VOCABULARY, not the corpus: the first
    * aggregation collapses the SF-proportional part table onto its
    * distinct names (vocabularies grow sublinearly in corpus size), and
    * everything quadratic happens on that vocabulary-sized relation.
    * Candidate pairs come from token blocking — two names are compared
    * ONLY if they share a whole token — so there is no all-pairs join at
    * any scale; blocks are df-capped at [[FuzzyBlockCap]] (a
    * stop-word-like token would otherwise reintroduce the quadratic),
    * and the expensive verify runs the threshold form of
    * `levenshtein`, whose banded DP early-exits at distance >
    * [[FuzzyMaxDist]] instead of filling the full matrix. No broadcast
    * hints anywhere: every relation here is vocabulary-sized but still
    * data-dependent, so AQE decides (the [[RelNoForcedBroadcastSpec]]
    * policy). The recall contract is explicit: a pair sharing NO whole
    * token (every token misspelled) is out of blocking reach — the
    * standard ER tradeoff, documented rather than hidden. */
  def fuzzyParts(spark: SparkSession, dir: String): DataFrame = {
    val vocab = t(spark, dir, "part")
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("df"))
    val toks = vocab.select(col("name"),
      explode(array_distinct(split(col("name"), " "))).as("tok"))
    val blocked = toks.join(
      toks.groupBy("tok").agg(count(lit(1)).as("tc"))
        .filter(col("tc") <= FuzzyBlockCap).select("tok"),
      Seq("tok"))
    val cand = blocked.as("a")
      .join(blocked.as("b"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct() // a pair sharing k tokens must verify once, not k times
    val pairs = cand
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), FuzzyMaxDist)
          .cast(LongType).as("dist"))
      .filter(col("dist") >= 0) // threshold form yields -1 past the band
    pairs
      .join(vocab.select(col("name").as("name_a"), col("df").as("df_a")),
        Seq("name_a"))
      .join(vocab.select(col("name").as("name_b"), col("df").as("df_b")),
        Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("df_a"), col("df_b"))
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  val fuzzyPartsSql: String =
    s"""WITH vocab AS (SELECT p_name AS name, count(*) AS df FROM part GROUP BY 1),
       | toks AS (SELECT DISTINCT * FROM
       |   (SELECT name, unnest(string_split(name, ' ')) AS tok FROM vocab)),
       | blocked AS (SELECT t.name, t.tok FROM toks t
       |   JOIN (SELECT tok FROM toks GROUP BY tok
       |         HAVING count(*) <= $FuzzyBlockCap) c ON t.tok = c.tok),
       | cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
       |   FROM blocked a JOIN blocked b
       |   ON a.tok = b.tok AND a.name < b.name),
       | pairs AS (SELECT name_a, name_b,
       |   CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
       |   FROM cand WHERE levenshtein(name_a, name_b) <= $FuzzyMaxDist)
       | SELECT p.name_a, p.name_b, p.dist, va.df AS df_a, vb.df AS df_b
       | FROM pairs p JOIN vocab va ON p.name_a = va.name
       |  JOIN vocab vb ON p.name_b = vb.name
       | ORDER BY p.dist, p.name_a, p.name_b""".stripMargin.replace("\n", " ")

  // ---- market-basket co-occurrence -------------------------------------

  /** Pairs must co-occur in at least this many orders to count as a
    * co-purchase pattern (support threshold, in orders). */
  val CopurchaseSupport = 2L

  /** Frequently co-purchased part pairs — the frequent-itemset /
    * market-basket shape (pairwise association mining).
    *
    * Scale shape: baskets materialize once per ORDER (`collect_set`,
    * map-side partials) and pairs explode map-side from each basket —
    * never an all-pairs product, never a self-join re-shuffle — so the
    * whole plan is TWO keyed shuffles: orderkey (basket build) and
    * (p1, p2) (map-side-combined pair counts). Pair work is quadratic
    * only in basket size (bounded: order line counts, ≤7 here), linear
    * in orders; the support filter drops the long singleton tail after
    * the combine. `p1 < p2` canonicalizes the unordered pair. The
    * equivalent distinct + self-equi-join spelling costs four shuffles
    * (distinct, both join sides, pair count) — measured 1.74 s vs
    * 0.5 s for this shape at sf0.1. */
  def copurchase(k: Int)(spark: SparkSession, dir: String): DataFrame =
    basketPairs(spark, dir)
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= CopurchaseSupport)
      .orderBy(col("cnt").desc, col("p1").asc, col("p2").asc)
      .limit(k)

  /** Canonical (p1 < p2) part pairs per order basket — the shared mining
    * step of [[copurchase]], [[triangles]] (and the directed variant in
    * [[assocRules]]). Baskets are SORTED once per order and the second
    * explode walks only the strict tail (`slice` from the next element),
    * so exactly the n·(n−1)/2 ordered pairs materialize — half the rows
    * of the explode-both-then-filter spelling (r12; the pair relation is
    * what the downstream aggregation shuffles, so generated-row count is
    * the real unit). The per-basket sort is bounded by basket size (≤
    * order line count); both Generates sit ABOVE the basket aggregate,
    * so no per-corpus-row interpreted work is introduced. */
  private def basketPairs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
      .select(col("p1"),
        explode(slice(col("parts"), col("i") + lit(2), size(col("parts"))))
          .as("p2"))

  def copurchaseSql(k: Int): String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       | SELECT p1, p2, cnt FROM (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       |   CAST(count(*) AS BIGINT) AS cnt
       |  FROM d a JOIN d b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2)
       | WHERE cnt >= $CopurchaseSupport
       | ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** Association rules over the co-purchase pairs: for every DIRECTED
    * part pair (a → b) with joint support ≥ [[CopurchaseSupport]], the
    * rule metrics a recommender ranks by — confidence (P(b|a)) and lift
    * (P(b|a)/P(b)) — in exact integer ppm. The rule-mining step after
    * [[copurchase]]'s pair counting.
    *
    * Scale shape: pair counts come from the same bounded-basket explode
    * (quadratic only in basket size); per-item order counts are one
    * keyed aggregation of the distinct (order, part) relation; the two
    * metric joins key on part ids — unhinted, item counts are
    * catalog-sized (AQE decides). The 1-row total-orders scalar rides a
    * bounded broadcast.
    *
    * ONE corpus pass (r12): itemN and total are DERIVED from the same
    * basket aggregation the pair explode consumes — exploding a basket
    * yields exactly the distinct (order, part) relation, and the basket
    * count IS countDistinct(l_orderkey) — so the basket exchange is
    * built once and reused by all three branches (ReuseExchange)
    * instead of lineitem being scanned 4× (basket build + two distinct
    * passes + the countDistinct pass, 12 exchanges → 5). */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (r12 optimization round): baskets feeds THREE
    // branches (item counts, the 1-row total, the pair explode). The
    // ReuseExchange spelling built the basket exchange once but re-ran
    // the final collect_set merge per branch AND re-scanned lineitem for
    // the pruned `total` branch; materializing the basket relation runs
    // the mining once (guide §3.3 — wide reuse of one subtree). Sorted
    // parts let the pair explode walk only the strict tail (the
    // basketPairs discipline): n(n-1)/2 UNDIRECTED pairs instead of the
    // n(n-1) directed explode — sup(a→b) = sup(b→a) by symmetry, so the
    // directed relation is recovered by mirroring AFTER the support
    // aggregation+filter, halving the pair shuffle (measured 24.9 MB →
    // 12.4 MB at sf0.1) at any scale.
    val baskets = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .localCheckpoint(false)
    val itemN = baskets.select(explode(col("parts")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("n"))
    val total = baskets.agg(count(lit(1)).as("total"))
    val und = baskets
      .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
      .select(col("p1"),
        explode(slice(col("parts"), col("i") + lit(2), size(col("parts"))))
          .as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= CopurchaseSupport)
    // join the UNDIRECTED pair once with both endpoint counts, THEN fan
    // out to the two directed rows (a 2-element array explode) — a
    // union of two `und` copies would re-read the support exchange and
    // re-run both count joins per direction (profiled: 52 MB shuffle
    // read for 17 MB written)
    val pairs = und
      .join(itemN.select(col("p").as("p1"), col("n").as("n1")), Seq("p1"))
      .join(itemN.select(col("p").as("p2"), col("n").as("n2")), Seq("p2"))
      .select(explode(array(
        struct(col("p1").as("a"), col("p2").as("b"), col("sup"),
          col("n1").as("na"), col("n2").as("nb")),
        struct(col("p2").as("a"), col("p1").as("b"), col("sup"),
          col("n2").as("na"), col("n1").as("nb")))).as("r"))
      .select(col("r.a").as("a"), col("r.b").as("b"), col("r.sup").as("sup"),
        col("r.na").as("na"), col("r.nb").as("nb"))
    pairs
      .crossJoin(broadcast(total)) // 1-row scalar: bounded hint
      .select(col("a"), col("b"), col("sup"), col("na"), col("nb"),
        expr("sup * 1000000 div na").as("conf_ppm"),
        // DECIMAL(38,0) numerator: sup·total·10^6 overflows int64 at
        // ~10^10 orders — the TextOps salience div idiom keeps it exact
        expr("((CAST(sup AS DECIMAL(38,0)) * total * 1000000) div " +
          "(CAST(na AS DECIMAL(38,0)) * nb)) ").cast(LongType).as("lift_ppm"))
      .orderBy("a", "b")
  }

  val assocRulesSql: String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       | i AS (SELECT l_partkey AS p, count(*) AS n FROM d GROUP BY 1),
       | tot AS (SELECT count(DISTINCT l_orderkey) AS total FROM d),
       | pr AS (SELECT a.l_partkey AS a, b.l_partkey AS b,
       |   CAST(count(*) AS BIGINT) AS sup
       |  FROM d a JOIN d b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $CopurchaseSupport)
       | SELECT a, b, sup, na.n AS na, nb.n AS nb,
       |  CAST(sup * 1000000 // na.n AS BIGINT) AS conf_ppm,
       |  CAST((CAST(sup AS HUGEINT) * tot.total * 1000000) // (CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS lift_ppm
       | FROM pr JOIN i na ON pr.a = na.p JOIN i nb ON pr.b = nb.p, tot
       | ORDER BY a, b""".stripMargin.replace("\n", " ")

  /** Triangle enumeration over the support-filtered co-purchase graph —
    * the graph-analytics step behind affinity bundles ("these THREE
    * parts sell together") and local clustering coefficients, on the
    * same edges [[copurchase]] mines.
    *
    * Scale design: edges are DEGREE-ORIENTED — each undirected edge
    * points from its lower (degree, id) endpoint to the higher — before
    * the wedge join, the standard trick that bounds every vertex's
    * out-degree by O(√m), so wedge fan-out (and with it total pair
    * work, O(m^1.5)) is independent of how hot the hottest part is; the
    * naive id-orientation would instead fan out quadratically at a
    * best-selling part. Output triples are canonicalized (sorted by
    * id), so the oracle can enumerate the SAME set with the simpler
    * id-orientation: both find every triangle exactly once. Three keyed
    * equi-joins on an edge set the support threshold already bounds —
    * no hints, AQE picks strategies; output is triangle-proportional by
    * definition. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (r12): `e` feeds deg (twice, via the union) and the
    // edge relation, and `oriented` feeds all three wedge-join arms —
    // composed, the basket-mining subtree replicated 15× in the physical
    // plan (a 261-node plan; ReuseExchange dedupes the shuffles but every
    // post-exchange final aggregate and the planner itself re-ran per
    // copy). Materializing the two edge-sized intermediates truncates the
    // plan to ONE mining pass + a 3-relation join over checkpointed
    // blocks (guide §3.3: wide reuse of one subtree → materialize it).
    // Both relations are support-filtered EDGE sets — far smaller than
    // lineitem at any scale — and the checkpoint work stays inside the
    // timed query (eager, recomputed per invocation; nothing persists
    // across runs).
    val e = basketPairs(spark, dir)
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= CopurchaseSupport)
      .select("p1", "p2")
      .localCheckpoint()
    val deg = e.select(col("p1").as("p"))
      .unionByName(e.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("p").as("p1"), col("deg").as("d1")), Seq("p1"))
      .join(deg.select(col("p").as("p2"), col("deg").as("d2")), Seq("p2"))
    val fwd = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("p1") < col("p2"))
    val oriented = ed.select(
      when(fwd, col("p1")).otherwise(col("p2")).as("u"),
      when(fwd, col("p2")).otherwise(col("p1")).as("v"))
    // Adjacency-array wedge enumeration (r13 optimization round): the
    // former three-relation spelling (e1 ⋈ e2 on the pivot, then ⋈ e3 on
    // (x,z)) shuffled `oriented` THREE times (hash(v), hash(u),
    // hash(u,v)) behind a second localCheckpoint. Grouping the oriented
    // edges into per-pivot neighbor arrays instead — bounded at O(√m)
    // members by the degree orientation, so no array is ever hot — lets
    // the strict-tail explode (the basketPairs idiom) emit every wedge
    // with NO further shuffle of `oriented`, and the closure is ONE
    // equi-join against the already-checkpointed canonical edge set `e`:
    // nbrs is id-ascending, so a wedge pair (y < z by id) closes iff
    // (y, z) ∈ e, which is exactly e's (p1 < p2) canonical form — the
    // closing edge's deg-orientation never mattered, only its existence.
    // Plan: 4 exchanges of edge-sized data + an eager checkpoint → 3
    // exchanges, no checkpoint; triangles found are identical (each
    // triangle's (deg,id)-min vertex is the unique pivot with out-edges
    // to both others, counted once in both spellings; oracle-pinned).
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val wedges = adj
      .select(col("u").as("x"), posexplode(col("nbrs")).as(Seq("i", "y")),
        col("nbrs"))
      .select(col("x"), col("y"),
        explode(slice(col("nbrs"), col("i") + lit(2), size(col("nbrs"))))
          .as("z"))
    val lo = least(col("x"), col("y"), col("z"))
    val hi = greatest(col("x"), col("y"), col("z"))
    wedges.join(e, wedges("y") === e("p1") && wedges("z") === e("p2"))
      .select(lo.as("p1"), (col("x") + col("y") + col("z") - lo - hi).as("p2"),
        hi.as("p3"))
      .orderBy("p1", "p2", "p3")
  }

  val trianglesSql: String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       | e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM d a JOIN d b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $CopurchaseSupport)
       | SELECT e1.p1 AS p1, e1.p2 AS p2, e2.p2 AS p3
       | FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
       |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
       | ORDER BY p1, p2, p3""".stripMargin.replace("\n", " ")
}

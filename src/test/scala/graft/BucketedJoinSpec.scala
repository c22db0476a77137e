package graft

import org.apache.spark.sql.functions._

/** Bucketing: the co-located join pattern for 100 TB scale. Writing both
  * fact tables bucketed by the join key lets every future join on that
  * key run shuffle-free (each task sort-merges one bucket pair) — the
  * persistent-layout analog of what [[graft.pc.Layout]] does for spatial
  * range queries. This spec proves the plan property the pattern exists
  * for: the bucketed join contains NO ShuffleExchange on either side,
  * while the same join over plain parquet shuffles both. */
class BucketedJoinSpec extends SparkSpec {


  test("join on the bucket key is shuffle-free; plain parquet shuffles") {
    // tables land in the session's default warehouse; DROP cleans them up
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = spark.read.parquet(s"$sf001/orders.parquet")
      val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
      orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")

      val bucketed = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val plain = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))

      // identical results
      val a = bucketed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val b = plain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a == b)

      // join-side shuffles: bucketed layout removes both (only the final
      // groupBy may exchange); plain parquet must shuffle both join inputs
      val sBucketed = countShuffles(bucketed)
      val sPlain = countShuffles(plain)
      assert(sBucketed <= 1, s"bucketed join shuffled $sBucketed times")
      assert(sPlain >= 2, s"expected both plain join sides to shuffle, got $sPlain")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("rel_order_rev_bucket: whole query runs with zero exchanges") {
    val df = graft.rel.RelQueries.orderRevenueBucket(spark, sf0001)

    // results identical to the flat-parquet formulation
    val flat = {
      val orders = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      def cents(c: String) =
        round(col(c) * 100).cast(org.apache.spark.sql.types.LongType)
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
          .as("revenue_units"), count(lit(1)).as("nli"))
        .orderBy(col("revenue_units").desc, col("o_orderkey").asc)
        .limit(10)
    }
    assert(df.collect().toSeq == flat.collect().toSeq)

    // the merge-hinted join AND the per-order aggregation both reuse the
    // bucket partitioning: no ShuffleExchange anywhere in the plan
    assert(countShuffles(df) == 0, "bucketed query plan must be exchange-free")
  }

  test("plan budgets: the broadcast-back rel queries never shuffle a fact table") {
    // Q18 shape: ONE exchange total — the lineitem groupBy. The HAVING
    // survivors broadcast back through orders and customer, so neither
    // of those scans feeds an exchange, and the top-k is TakeOrdered.
    val q18 = graft.rel.RelQueries.largeOrders(300L)(spark, sf0001)
    assert(countShuffles(q18) <= 1,
      s"rel_large_orders must shuffle only the lineitem aggregation")

    // Q17 shape: the brand lineitems aggregate per part (1 exchange) and
    // the final global aggregate gathers a handful of partials (1 tiny
    // single-partition exchange). The fact table itself never shuffles —
    // both its passes are map-only against broadcasts.
    val q17 = graft.rel.RelQueries.smallQtyRevenue("Brand#4")(spark, sf0001)
    assert(countShuffles(q17) <= 2,
      s"rel_small_qty_rev budget is the per-part agg + the final gather")
  }

  test("bucketed layout is rebuilt when the dataset is rewritten") {
    // copy sf0.001 orders+lineitem to a temp dir, build, rewrite orders
    // with one row dropped, build again: the snapshot key must change the
    // served tables (stale-cache guard, same contract as the other
    // derived layouts)
    val dir = tempDir("graft_bucket_snap")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    ord.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val (ordA, _) = graft.rel.RelQueries.bucketedTables(spark, dir)
    val nA = spark.table(ordA).count()
    ord.limit((nA - 1).toInt).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val (ordB, _) = graft.rel.RelQueries.bucketedTables(spark, dir)
    assert(ordB != ordA, "rewritten input must re-derive the layout")
    assert(spark.table(ordB).count() == nA - 1)
  }
}

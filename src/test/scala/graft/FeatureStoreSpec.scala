package graft

import graft.events.EventOps
import graft.rel.RelQueries

/** Feature-store and association ops: point-in-time features, SCD2
  * interval build, market-basket co-purchase — each pinned against a
  * literal driver-side re-derivation on hand or generated fixtures. */
class FeatureStoreSpec extends SparkSpec {

  test("pitFeatures: features see strictly-earlier events only (no leakage)") {
    import spark.implicits._
    val dir = tempDir("pit")
    // user 7: view@10, click@20(value 2.50), purchase@30, view@40, purchase@50
    // purchase@30 must see 2 events / 1 view / 250 cents;
    // purchase@50 must see 4 events / 2 views / 250 cents (purchase value
    // 9.99 at ts 30 IS visible to ts 50 — strictly earlier, any type)
    val rows = Seq(
      (1L, 10L, 7L, "view", null.asInstanceOf[java.lang.Double]),
      (2L, 20L, 7L, "click", java.lang.Double.valueOf(2.50)),
      (3L, 30L, 7L, "purchase", java.lang.Double.valueOf(9.99)),
      (4L, 40L, 7L, "view", null.asInstanceOf[java.lang.Double]),
      (5L, 50L, 7L, "purchase", java.lang.Double.valueOf(1.00)))
    rows.map { case (e, us, u, ty, v) => (e, us * 1000L, u, ty, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.pitFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((3L, 2L, 1L, 250L), (5L, 4L, 2L, 999L)), s"got $got")
  }

  test("pitFeatures: a first-event purchase gets the empty-history feature row") {
    import spark.implicits._
    val dir = tempDir("pit_first")
    Seq((1L, 10000L, 3L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.pitFeatures(spark, dir).collect()
    assert(got.length == 1)
    // 0 prior events, 0 prior views, -1 sentinel for never-observed cents
    assert((got.head.getLong(3), got.head.getLong(4), got.head.getLong(5))
      == ((0L, 0L, -1L)))
  }

  test("scd2 collapses runs into half-open intervals with version numbers") {
    import spark.implicits._
    val dir = tempDir("scd2")
    // user 1 tier sequence over k%4: 1 1 2 2 1  → intervals 1@[10,30) 2@[30,50) 1@[50,MAX)
    val ks = Seq(1L, 5L, 2L, 6L, 9L) // %4 → 1 1 2 2 1
    val rows = ks.zipWithIndex.map { case (k, i) =>
      ((i + 1).toLong, (10L + 10 * i) * 1000L, 1L, "view", 1.0, s"""{"k": $k}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.scd2(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 1L, 10L, 30L),
      (2L, 2L, 30L, 50L),
      (1L, 3L, 50L, Long.MaxValue)), s"got $got")
  }

  test("scd2 intervals tile each user's timeline: no gaps, no overlaps") {
    val byUser = EventOps.scd2(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, ivs) =>
      val sorted = ivs.sortBy(_._2)
      // versions are dense from 1
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"user $u")
      // consecutive intervals abut exactly; the last one is open
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"user $u gap/overlap")
        case _ =>
      }
      assert(sorted.last._4 == Long.MaxValue)
      sorted.foreach(iv => assert(iv._3 < iv._4, s"user $u empty interval"))
    }
  }

  test("asOfJoinTol: stale matches null out; infinite tolerance equals asOfJoin") {
    import spark.implicits._
    val dir = tempDir("asof_tol")
    // u1: click@10, purchase@15 (gap 5 ≤ tol) and purchase@100 (gap 90 > tol)
    Seq((1L, 10L, 1L, "click"), (2L, 15L, 1L, "purchase"),
        (3L, 100L, 1L, "purchase"))
      .map { case (e, us, u, ty) => (e, us * 1000L, u, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.asOfJoinTol(10L)(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((2L, 10L), (3L, -1L)), s"got $got")
    // tol = MaxValue reproduces the unbounded as-of matches exactly
    val unb = EventOps.asOfJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val inf = EventOps.asOfJoinTol(Long.MaxValue)(spark, sf0001).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(inf == unb)
  }

  test("copurchase equals the literal per-order pair count on sf0.001") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val counts = li.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (p, occ) => (p._1, p._2, occ.size.toLong) }
    val expected = counts.filter(_._3 >= RelQueries.CopurchaseSupport).toSeq
      .sortBy { case (p1, p2, c) => (-c, p1, p2) }.take(25)
    val got = RelQueries.copurchase(25)(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got expected $expected")
  }
}

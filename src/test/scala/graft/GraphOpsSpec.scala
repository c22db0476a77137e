package graft

import org.apache.spark.sql.functions._
import graft.events.{EventOps, GraphOps}

/** Event-type transition graph + integer PageRank. */
class GraphOpsSpec extends SparkSpec {

  test("transition rows match a driver-side recomputation (sf0.001)") {
    // Recompute the adjacency from first principles: per user, sort by
    // (µs, event_id) — the oracle-facing time grain — count adjacent
    // pairs.
    val ev = EventOps.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2 / 1000, r._3)).map(_._4).toList.sliding(2)
        .collect { case List(a, b) => (a, b) }
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = GraphOps.transitions(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("transition order is µs + event_id: a same-µs ns-reversed pair cannot diverge from the oracle") {
    import spark.implicits._
    // user 1: ids 2/5 share µs 1_000_000 with REVERSED ns order — the
    // µs+id contract must order id 2 first (a DuckDB oracle sees only
    // µs, so a raw-ns order would silently flip this pair); the real
    // fixtures happen to have no same-µs pair, which is exactly why
    // this needs planting
    val tmp = tempDir("trns")
    Seq(
      (2L, 1000000900L, 1L, "a", 0.0, "{}"),
      (5L, 1000000100L, 1L, "b", 0.0, "{}"),
      (7L, 2000000000L, 1L, "c", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = GraphOps.transitions(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("b", "c")),
      s"µs+id order must give a→b→c, got $got")
  }

  test("per-source probabilities sum to 1e6 minus truncation slack") {
    val sums = GraphOps.transitions(spark, sf001)
      .groupBy("src")
      .agg(sum("p_ppm").as("s"), count(lit(1)).as("fanout"))
      .collect()
    sums.foreach { r =>
      val (s, fanout) = (r.getLong(1), r.getLong(2))
      assert(s <= 1000000L, s"src ${r.getString(0)}: ppm sum $s > 1e6")
      assert(s > 1000000L - fanout, s"src ${r.getString(0)}: lost more than truncation: $s")
    }
  }

  test("pagerank matches a driver-side integer power iteration (sf0.001)") {
    val tr = GraphOps.transitions(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    val nodes = EventOps.events(spark, sf0001)
      .select("event_type").distinct().collect().map(_.getString(0)).toSeq.sorted
    val n = nodes.size.toLong
    val base = (100L - GraphOps.DampPct) * GraphOps.Scale / (100L * n)
    var r = nodes.map(_ -> GraphOps.Scale / n).toMap
    (1 to GraphOps.Iters).foreach { _ =>
      val s = tr.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, p) => r(src) * p / 1000000L }.sum
      }
      r = nodes.map(v => v -> (base + GraphOps.DampPct * s.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = GraphOps.pagerank(spark, sf0001).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == r, s"got $got expected $r")
  }

  test("pagerank mass is conserved up to truncation+dangling leak") {
    val ranks = GraphOps.pagerank(spark, sf001).collect().map(_.getLong(1))
    val total = ranks.sum
    assert(total <= GraphOps.Scale)
    assert(total > (GraphOps.Scale * 9) / 10, s"lost >10% of rank mass: $total")
    assert(ranks.forall(_ > 0))
  }
}

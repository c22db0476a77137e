package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The bounded-broadcast contract for the decorrelated-aggregate joins
  * (`RelQueries.neverUrgent` / `largeOrders`'s customer join): these
  * join a fact table against a PER-KEY AGGREGATE whose row count grows
  * with key cardinality — unbounded at 100 TB — so the queries carry NO
  * forced `broadcast()` hint on that side. The planner must then pick
  * the strategy from the aggregate's actual size:
  *
  *  - small aggregate (every test SF): AQE broadcasts it — same plan the
  *    old hint produced, no perf loss;
  *  - large aggregate (synthetic fixture, thresholds scaled to local
  *    data sizes exactly like SkewJoinSpec): the join DEGRADES to
  *    sort-merge instead of force-broadcasting an OOM-sized relation.
  */
class BroadcastDegradeSpec extends SparkSpec {

  private def joins(p: SparkPlan): (Seq[BroadcastHashJoinExec], Seq[SortMergeJoinExec]) = {
    val bhj = Seq.newBuilder[BroadcastHashJoinExec]
    val smj = Seq.newBuilder[SortMergeJoinExec]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case j: BroadcastHashJoinExec => bhj += j; j.children.foreach(go)
      case j: SortMergeJoinExec => smj += j; j.children.foreach(go)
      case other => other.children.foreach(go)
    }
    go(p)
    (bhj.result(), smj.result())
  }

  test("neverUrgent still broadcasts the small aggregate via AQE (no hint)") {
    val (bhj, smj) = joins(finalPlan(graft.rel.RelQueries.neverUrgent(spark, sf001)))
    assert(bhj.nonEmpty, "AQE should broadcast the tiny aggregate at sf0.01")
    assert(smj.isEmpty, s"unexpected sort-merge join at sf0.01")
    // and no forced-broadcast hint survives in the analyzed plan: the
    // choice must come from size, not from ResolvedHint
    val analyzed = graft.rel.RelQueries.neverUrgent(spark, sf001)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "neverUrgent must not carry a broadcast hint")
  }

  test("the unhinted aggregate join degrades to sort-merge when the aggregate side is large") {
    val dir = tempDir("bcast-degrade")
    // synthetic orders/customer: 200k distinct non-urgent customers → the
    // per-customer aggregate is ~the fact size, far above the (lowered)
    // broadcast threshold — the local-scale stand-in for a 10^9-customer
    // aggregate vs the default 10 MB threshold
    spark.range(0, 200000)
      .select(col("id").as("o_custkey"), lit("5-LOW").as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(0, 200000).select(col("id").as("c_custkey"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "64KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = graft.rel.RelQueries.neverUrgent(spark, dir)
      val (bhj, smj) = joins(finalPlan(df))
      assert(smj.nonEmpty,
        "an over-threshold aggregate side must degrade to sort-merge")
      assert(bhj.isEmpty,
        "no broadcast join may survive with the aggregate side over threshold")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("largeOrders carries NO hints and degrades to keyed joins when broadcast is off") {
    // r6 verdict item 1: the HAVING survivor set is ~0.1% OF ORDERS —
    // SF-proportional, so a forced broadcast would OOM the driver at
    // scale where AQE degrades to a keyed shuffle join. The query must
    // ship ZERO hints: AQE broadcasts the survivors at test SF (free
    // where the hint was safe) and falls back past the threshold.
    val df = graft.rel.RelQueries.largeOrders(300)(spark, sf001)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"largeOrders must not hint (SF-proportional sides), got ${hints.size}")
    val baseline = df.collect().map(_.toString).sorted.toSeq

    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val degraded = graft.rel.RelQueries.largeOrders(300)(spark, sf001)
      val (bhj, smj) = joins(finalPlan(degraded))
      assert(bhj.isEmpty,
        "no broadcast join may survive threshold -1 in an unhinted plan")
      assert(smj.nonEmpty, "joins must degrade to sort-merge")
      assert(degraded.collect().map(_.toString).sorted.toSeq == baseline,
        "degraded plan changed results")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

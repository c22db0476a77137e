package graft

import org.apache.spark.sql.functions._
import graft.text.SelectionOps
import graft.events.EventOps
import graft.sim.Ivf

/** Data-selection wave: DSIR importance weights, shard novelty,
  * last-touch attribution, batch IVF search. The DuckDB hash gate covers
  * value equality; these specs pin the SEMANTIC contracts the gate
  * cannot see (ordering direction, partition/consistency invariants). */
class SelectionOpsSpec extends SparkSpec {

  test("doc_dsir: target-language docs outrank the rest on average") {
    val d = SelectionOps.docDsir(spark, sf0001)
      .join(spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "lang"), "doc_id")
    val byLang = d.groupBy(col("lang") === SelectionOps.DsirTargetLang)
      .agg(avg("dsir_ppm").as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the importance estimator must up-weight the target slice: its
    // bigram buckets have higher target/raw ratios by construction
    assert(byLang(true) > byLang(false),
      s"target avg ${byLang(true)} should exceed non-target ${byLang(false)}")
  }

  test("doc_dsir: every scored doc has >=2 tokens; weights are positive") {
    val d = SelectionOps.docDsir(spark, sf0001).collect()
    assert(d.nonEmpty)
    assert(d.forall(_.getLong(1) >= 1), "n_pairs >= 1 for every scored doc")
    assert(d.forall(_.getLong(2) > 0), "smoothed ratio is strictly positive")
    // the trained model is exactly the fixed bucket count — the bounded
    // relation the literal-shipping scale design depends on
    assert(SelectionOps.dsirWeights(spark, sf0001).length == SelectionOps.DsirBuckets)
  }

  test("doc_novelty: novelty counts partition the distinct-shingle universe") {
    val n = SelectionOps.docNovelty(spark, sf0001)
    // every distinct shingle hash is novel in exactly one doc: the sum of
    // per-doc novelty equals the corpus's distinct shingle count
    val novelSum = n.agg(sum("n_novel")).head.getLong(0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val distinctShingles = docs
      .select(explode(array_distinct(transform(
        sequence(lit(0), size(split(col("text"), " ")) - 3),
        i => concat_ws(" ", slice(split(col("text"), " "), i + lit(1), lit(3)))))).as("s"))
      .where(size(split(col("text"), " ")) >= 3)
      .select(countDistinct("s")).head.getLong(0)
    assert(novelSum == distinctShingles,
      s"sum(n_novel)=$novelSum != distinct shingles=$distinctShingles")
    // the first document is all-novel by definition (nothing precedes it)
    val first = n.orderBy("doc_id").limit(1).head
    assert(first.getLong(1) == first.getLong(2), "doc 0: n_shingles == n_novel")
  }

  test("doc_novelty: an exact duplicate of an earlier doc has zero novelty") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L), // exact dup of 0
      (2L, "zeta eta theta iota", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_nov")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n = SelectionOps.docNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(n(0L)._2 == n(0L)._1, "first copy: all shingles novel")
    assert(n(1L)._2 == 0L, "exact duplicate: zero novelty")
    assert(n(2L)._2 == n(2L)._1, "disjoint doc: all novel")
  }

  test("doc_drift: a planted half-exclusive term tops the drift ranking") {
    import spark.implicits._
    // term "zonly" exists only in the second half: its drift is its full
    // second-half share, which dominates the otherwise-identical halves
    val docs = (0L until 40L).map { i =>
      val base = "alpha beta gamma delta epsilon"
      val text = if (i > 20) s"$base zonly zonly zonly" else base
      (i, text, "en", "s", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_drift")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = SelectionOps.docDrift(5)(spark, dir).collect()
    assert(top.head.getString(0) == "zonly", s"expected zonly first, got ${top.head}")
    assert(top.head.getLong(1) == 0L && top.head.getLong(2) > 0L)
    // drift of a term present only in half 2 == its p2 share exactly
    assert(top.head.getLong(5) == top.head.getLong(4))
  }

  test("events_attribution: channels partition the purchases; cents conserved") {
    val a = EventOps.attribution(spark, sf0001).collect()
    val e = EventOps.events(spark, sf0001)
    val purchases = e.filter(col("event_type") === "purchase")
    val total = purchases.count()
    val cents = purchases
      .agg(sum(round(col("value") * 100).cast("long"))).head.getLong(0)
    assert(a.map(_.getLong(1)).sum == total, "every purchase attributed exactly once")
    assert(a.map(_.getLong(2)).sum == cents, "attributed cents sum to total purchase cents")
    val channels = a.map(_.getString(0)).toSet
    assert(channels.subsetOf((EventOps.AttributionTouches :+ "direct").toSet))
  }

  test("events_attribution: credits the latest preceding touch, not itself") {
    import spark.implicits._
    val us = 1000L // ns per us
    val rows = Seq(
      // user A: view @1us, click @2us, purchase @3us -> click
      (1L, 1L * us, "A", "view", 10.0, "{}"),
      (2L, 2L * us, "A", "click", 0.0, "{}"),
      (3L, 3L * us, "A", "purchase", 5.0, "{}"),
      // user B: purchase with no prior touch -> direct
      (4L, 1L * us, "B", "purchase", 7.0, "{}"),
      // user B: touch AFTER the purchase must not matter retroactively
      (5L, 2L * us, "B", "view", 0.0, "{}"),
      // user C: same-us touch with smaller event_id precedes the purchase
      (6L, 9L * us, "C", "signup", 0.0, "{}"),
      (7L, 9L * us, "C", "purchase", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempDir("graft_attr")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.attribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("click") == ((1L, 500L)), s"user A credits the LATEST touch: $got")
    assert(got("direct") == ((1L, 700L)), s"user B is direct: $got")
    assert(got("signup") == ((1L, 300L)), s"same-us smaller-id touch counts: $got")
    assert(!got.contains("view"), "view never the last touch here")
  }

  test("doc_select_budget: two-phase bucketed plan == naive per-lang window") {
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val got = SelectionOps.docSelectBudget(budget)(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // naive reference: ONE window per language over the full weight order
    val w = Window.partitionBy("lang")
      .orderBy(col("dsir_ppm").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .join(SelectionOps.docDsir(spark, sf0001).select("doc_id", "dsir_ppm"), "doc_id")
      .withColumn("cum_before", coalesce(sum("nt").over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select("doc_id", "lang", "nt", "cum_before")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == naive.toSeq, "bucketed two-phase must equal the naive window")
    assert(got.nonEmpty && got.forall(_._4 < budget))
    // the budget actually cuts: some candidates were dropped in every language
    val candidates = SelectionOps.docDsir(spark, sf0001).count()
    assert(got.length < candidates, "budget selection must drop documents")
  }

  test("doc_select_budget: quantile buckets stay population-balanced (no hollow two-phase)") {
    // importance ratios concentrate around 1, so a uniform VALUE grid put
    // 65% of the corpus into one bucket — the two-phase plan would
    // silently degenerate back to a corpus-sized window partition. With
    // quantile cuts the worst (lang, bucket) group must stay a small
    // fraction of its language (measured 5-7% here; 15% is the alarm).
    val sc0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .join(SelectionOps.docDsir(spark, sf0001).select("doc_id", "dsir_ppm"), "doc_id")
    val cuts = sc0.stat.approxQuantile("dsir_ppm",
      (1 until 64).map(_.toDouble / 64).toArray, 0.01)
      .map(_.toLong).distinct.sorted
    val worst = sc0
      .withColumn("g", size(filter(typedLit(cuts.toSeq), c => col("dsir_ppm") >= c)))
      .groupBy("lang", "g").count()
      .groupBy("lang").agg(max("count").as("mx"), sum("count").as("tot"))
      .select(expr("mx * 100 div tot").as("pct")).collect().map(_.getLong(0)).max
    assert(worst <= 15L, s"worst per-language bucket holds $worst% of its language")
  }

  test("events_cohort_ltv: conserves purchase cents; age-0 cell covers the cohort") {
    val m = EventOps.cohortLtv(spark, sf0001).collect()
    val purchases = EventOps.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
    val totalCents = purchases
      .agg(sum(round(col("value") * 100).cast("long"))).head.getLong(0)
    assert(m.map(_.getLong(3)).sum == totalCents, "cents conserved across the matrix")
    assert(m.forall(_.getLong(1) >= 0), "age_weeks >= 0")
    // every user purchases in their own cohort week: the age-0 user count
    // per cohort equals the cohort's size
    val cohortSizes = purchases
      .select(col("user_id"), expr(s"(ts div 1000) div ${EventOps.UsPerWeek}").as("week"))
      .groupBy("user_id").agg(min("week").as("cw"))
      .groupBy("cw").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.filter(_.getLong(1) == 0L).foreach { r =>
      assert(r.getLong(2) == cohortSizes(r.getLong(0)),
        s"cohort ${r.getLong(0)} age-0 users != cohort size")
    }
  }

  test("mm_dup_clusters: labels are exact component minima of the pair graph") {
    val tau = 500000L
    val edges = graft.mm.MultimodalOps.mmNearDupPairs(tau)(spark, sf0001)
      .select("m1", "m2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = graft.mm.MultimodalOps.mmDupClusters(tau)(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver-side union-find ground truth on the (small) edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
      .groupBy(_._2).values.map(_.keys.toSet)
      .map(comp => comp -> comp.min).toMap
    assert(labels.nonEmpty)
    labels.foreach { case (m, lbl, sz) =>
      val comp = truth.keys.find(_.contains(m)).get
      assert(lbl == comp.min, s"media $m: label $lbl != component min ${comp.min}")
      assert(sz == comp.size.toLong, s"media $m: size $sz != ${comp.size}")
    }
    assert(labels.length == parent.size, "every paired media labeled exactly once")
  }

  test("emb_ivf_topk_batch: dynamic partition pruning reads only probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // a 1-query batch probes nprobe=2 of the K=8 cells; the broadcast
    // probe side must prune the cid-partitioned layout scan to exactly
    // those files at RUNTIME (dynamic partition pruning) — the property
    // that makes the batch join an index probe, not a corpus scan
    val df = Ivf.topKBatch(1L, 5, 2)(spark, sf0001)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val layoutScan = scans(df.queryExecution.executedPlan)
      .find(_.partitionFilters.nonEmpty)
      .getOrElse(fail("no partition-filtered scan of the IVF layout in the plan"))
    assert(layoutScan.partitionFilters.mkString.contains("dynamicpruning"),
      s"expected a dynamic pruning filter, got: ${layoutScan.partitionFilters}")
    // the layout is an artifact read: DPP runs over the footer-skipping index
    assert(layoutScan.relation.location.isInstanceOf[FooterStatsFileIndex],
      s"layout scan over ${layoutScan.relation.location.getClass.getSimpleName}")
    val selected = layoutScan.metrics("numFiles").value
    assert(selected <= 2L,
      s"1-query batch with nprobe=2 read $selected of ${Ivf.K} cells")
  }

  test("emb_ivf_topk_batch: row-identical to the single-query IVF search per qid") {
    val k = 5; val nprobe = 2; val nq = 10L
    val batch = Ivf.topKBatch(nq, k, nprobe)(spark, sf0001)
      .collect().groupBy(_.getLong(0))
    assert(batch.keySet == (0L until nq).toSet, "every query answered")
    (0L until nq).foreach { qid =>
      val single = Ivf.topK(qid, k, nprobe)(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = batch(qid).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == single.toSeq, s"qid=$qid: batch != single-query path")
    }
  }
}

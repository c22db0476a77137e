package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.{SimOps, Sq8}
import graft.text.TextOps

/** Round-6 second-wave pipeline operators: SQ8 scalar-quantized ANN,
  * Bloom-prescreened decontamination, CCNet-style perplexity buckets. */
class PipelineOps6Spec extends SparkSpec {

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  // ---- SQ8 ------------------------------------------------------------

  test("sq8 codes are bytes: every component in [0, 255]") {
    val bad = Sq8.codes(spark, sf001)
      .select(explode(col("cd")).as("c"))
      .filter(col("c") < 0 || col("c") > 255)
      .count()
    assert(bad == 0)
  }

  test("sq8 recall@10 == 10/10 with shortlist 50 (byte codes rank well enough)") {
    val exact = ids(SimOps.topK(0L, 10)(spark, sf001))
    val sq8 = ids(Sq8.topK(0L, 50, 10)(spark, sf001))
    info(s"sq8 recall@10 = ${(exact & sq8).size}/10")
    // 8 bits/dim is a far finer quantization than PQ's 2 bits/subspace
    // (recall 5/10 raw); measured 10/10 at sf0.01 — floor one under.
    assert((exact & sq8).size >= 9, s"SQ8 recall collapsed: ${(exact & sq8).size}/10")
  }

  test("sq8 beats pq-rerank recall at the same shortlist (finer codes)") {
    val exact = ids(SimOps.topK(0L, 10)(spark, sf001))
    val sq8 = (ids(Sq8.topK(0L, 50, 10)(spark, sf001)) & exact).size
    val pq = (ids(graft.sim.Pq.rerank(0L, 50, 10)(spark, sf001)) & exact).size
    assert(sq8 >= pq, s"sq8 $sq8 < pq-rerank $pq at shortlist 50")
  }

  test("ivf-sq8 recall@10 >= ivf recall (same probes; byte codes + rerank lose nothing)") {
    val exact = ids(SimOps.topK(0L, 10)(spark, sf001))
    val ivf = (ids(graft.sim.Ivf.topK(0L, 10, 2)(spark, sf001)) & exact).size
    val ivfsq8 = (ids(Sq8.ivfSq8TopK(0L, 10, 2, 50)(spark, sf001)) & exact).size
    info(s"ivf-sq8 recall@10 = $ivfsq8/10 (ivf exact-scan arm: $ivf/10)")
    // both arms see the same 2 probed cells; SQ8's 50-deep shortlist +
    // exact rerank must retrieve everything the exact cell scan does
    assert(ivfsq8 >= ivf, s"ivf-sq8 $ivfsq8 < ivf $ivf at the same nprobe")
  }

  test("ivf-sq8 probe is file-pruned: PartitionFilters restrict to the probed cells") {
    val plan = Sq8.ivfSq8TopK(0L, 10, 2, 50)(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"code-index scan is not partition-pruned:\n${plan.take(2000)}")
  }

  // ---- Bloom decontamination ------------------------------------------

  test("bloom-prescreened contamination is row-identical to the exact join") {
    val exact = TextOps.contamination(10L)(spark, sf001).collect().toSeq
    val bloom = TextOps.contaminationBloom(10L)(spark, sf001).collect().toSeq
    assert(bloom == exact)
  }

  test("incremental dedup decisions agree with the full pair relation") {
    val split = {
      val m = TextOps.docs(spark, sf001).agg(max("doc_id")).head.getLong(0)
      m * 4 / 5 + 1
    }
    val dropped = TextOps.dedupIncremental(5L, TextOps.DupClusterTau)(spark, sf001)
      .filter(!col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    // ground truth: a new doc drops iff the FULL pair relation holds a
    // tau-pair linking it to any earlier doc (d1 < d2 in pairs output)
    val fromPairs = TextOps.ngramJaccardPairs(TextOps.DupClusterTau)(spark, sf001)
      .filter(col("d2") >= split)
      .select("d2").collect().map(_.getLong(0)).toSet
    assert(dropped == fromPairs,
      s"incremental drops $dropped != pair-relation drops $fromPairs")
  }

  // ---- BPE merge training ---------------------------------------------

  test("bpe merge counts are non-increasing across steps") {
    // any pair surviving (or created by) a merge occurred at most as
    // often as the step's winning pair did — so the maxima decrease
    val cnts = TextOps.docBpeMerges(6)(spark, sf001)
      .orderBy("step").collect().map(_.getLong(3))
    assert(cnts.length == 6)
    cnts.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, s"merge counts rose: $a -> $b")
    }
  }

  test("bpe applies merges greedily left-to-right and iterates on merged symbols") {
    val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = tempDir("bpe_fix")
    // 'aaaa' x3 docs: 3 (a,a) pairs per word x freq 3 = 9. Greedy
    // application yields 'aa aa' (not 'aa a a'), so step 3 must see
    // (aa,aa) x3 and NOT (aa,a). 'bc' x5 contributes (b,c) x5.
    Seq.fill(3)("aaaa").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .++(Seq.fill(5)("bc").zipWithIndex.map { case (t, i) => (100L + i, t) })
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val m = TextOps.docBpeMerges(3)(spark, dir)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((1L, "a", "a", 9L)), s"step1 was ${m(0)}")
    assert(m(1) == ((2L, "b", "c", 5L)), s"step2 was ${m(1)}")
    // greedy application left 'aa aa' per word -> (aa,aa) x3; a
    // non-greedy fold would have left (aa,a) and picked it here
    assert(m(2) == ((3L, "aa", "aa", 3L)), s"step3 was ${m(2)}")
  }

  test("bpe at steps>=32 crosses the checkpoint boundary and prefixes the short run") {
    // the merge loop truncates vocab lineage every BpeCheckpointEvery
    // steps; a 32-step run crosses that boundary 4 times. BPE training
    // is a greedy prefix algorithm — merge k depends only on merges
    // 1..k-1 — so the 32-step table MUST start with the 6-step table
    // verbatim; any checkpoint-induced drift (row loss, replace-order
    // change) would break the prefix
    assert(TextOps.BpeCheckpointEvery <= 8,
      "test assumes the 32-step run crosses >= 4 checkpoint boundaries")
    val long = TextOps.docBpeMerges(32)(spark, sf001).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val short = TextOps.docBpeMerges(6)(spark, sf001).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(long.length >= 24, s"corpus exhausted after ${long.length} merges; " +
      "prefix test needs the loop to cross checkpoint boundaries")
    assert(long.take(short.length).toSeq == short.toSeq,
      "long run's merge prefix diverged from the short run")
    // counts stay non-increasing across the checkpoint boundaries too
    long.map(_._4).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, s"merge counts rose after a checkpoint: $a -> $b")
    }
  }

  test("bpe stops early on a pair-free corpus; tokenize is then the identity") {
    val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = tempDir("bpe_edge")
    // single-char words only: no adjacent pairs exist, 0 merges happen
    Seq((0L, "a b c"), (1L, "b c a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(TextOps.docBpeMerges(6)(spark, dir).count() == 0)
    val t = TextOps.docBpeTokenize(6)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t.toSeq == Seq((0L, 3L, 3L), (1L, 3L, 3L)),
      s"single-char words must tokenize to themselves, got ${t.toSeq}")
  }

  // ---- anomaly cells --------------------------------------------------

  test("events_anomaly flags a planted hour spike and only spikes (one-sided)") {
    val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = tempDir("anom_fix")
    val nsH = graft.events.EventOps.NsPerHour
    // type 'a': hour 3 of each of 12 days has 5 events — except day 7,
    // where it has 50 (the spike); hour 5 is constant (never flagged).
    // 12 days, not 10: a single spike among constants sits at exactly
    // (n-1)/9 of the 3-sigma bar, so n must exceed 10 to clear it
    val rows = (0 until 12).flatMap { day =>
      val base = (0 until (if (day == 7) 50 else 5)).map { i =>
        (day * 1000L + i, (day * 24 + 3) * nsH + i, 1L, "a", 1.0, "{}")
      }
      val const = (0 until 5).map { i =>
        (day * 1000L + 500 + i, (day * 24 + 5) * nsH + i, 1L, "a", 1.0, "{}")
      }
      base ++ const
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = graft.events.EventOps.anomalyCells(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("a", 7L, 3L, 50L)),
      s"expected exactly the planted day-7 hour-3 spike, got ${out.toSeq}")
  }

  test("events_anomaly scans the fact table exactly once (window baseline, no self-join)") {
    val plan = graft.events.EventOps.anomalyCells(spark, sf001)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"baseline must be a window, not a join:\n$plan")
  }

  // ---- CCNet buckets --------------------------------------------------

  private lazy val buckets = TextOps.docCcnetBucket(spark, sf001).collect()

  test("ccnet buckets partition each language's scored documents") {
    val perLang = buckets.groupBy(_.getString(0))
    val scored = TextOps.docLmScore(spark, sf001)
      .join(TextOps.docs(spark, sf001).select("doc_id", "lang"), "doc_id")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getLong(2)).sum == scored(lang),
        s"$lang: bucket sizes don't sum to the scored doc count")
      assert(rows.map(_.getLong(1)).toSet.subsetOf(Set(1L, 2L, 3L)))
    }
    assert(perLang.keySet == scored.keySet)
  }

  test("ccnet buckets are score-ordered: head's min >= middle's max >= tail's") {
    buckets.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val byB = rows.map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
      for (b <- 1L to 2L if byB.contains(b) && byB.contains(b + 1)) {
        assert(byB(b)._1 >= byB(b + 1)._2,
          s"$lang: bucket $b min_ppm ${byB(b)._1} < bucket ${b + 1} max_ppm ${byB(b + 1)._2}")
      }
    }
  }

  test("ccnet tie-collapse: a language whose docs all score identically lands in ONE bucket") {
    val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = tempDir("ccnet_tie")
    // same text -> same bigram profile -> identical lm_ppm for all six
    val rows = (0L until 6L).map(i => (i, "the fast cat ran", "xx", "s", 16L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextOps.docCcnetBucket(spark, dir).collect()
    assert(out.length == 1, s"ties must land whole-group: ${out.toSeq}")
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 6L,
      s"all six docs belong to bucket 1: ${out(0)}")
  }

  test("sq8 handles constant dimensions (rng floored at 1) on a planted fixture") {
    val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = tempDir("sq8_const")
    // dim 0 constant across vectors; remaining dims vary; unit-ish floats
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(d =>
        if (d == 0) 0.5f else ((i * 31 + d * 7) % 13 - 6).toFloat / 10f), 0)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val codes = Sq8.codes(spark, dir)
      .select(explode(col("cd")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codes.getLong(0) >= 0 && codes.getLong(1) <= 255)
    val top = Sq8.topK(0L, 10, 5)(spark, dir).collect()
    assert(top.length == 5, s"expected 5 results, got ${top.length}")
  }

  test("ccnet buckets are near-terciles: each within one tie-group of n/3") {
    buckets.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val n = rows.map(_.getLong(2)).sum
      rows.foreach { r =>
        // ties land whole-group; with the synthetic corpus's integer
        // ppm scores groups are small, so sizes stay near n/3
        assert(r.getLong(2) <= n * 2 / 3,
          s"$lang bucket ${r.getLong(1)} holds ${r.getLong(2)} of $n — not a split at all")
      }
      assert(rows.length >= 2, s"$lang collapsed to one bucket")
    }
  }
}

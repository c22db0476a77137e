package graft

import org.apache.spark.sql.functions._

import graft.sim.{Ivf, Rproj, SimOps, Sq8}
import graft.text.TextOps

/** Round-6 fourth-wave retrieval operators: integer BM25, the lossless
  * SQ8 threshold-search prescreen, and the JL random-projection ANN
  * tier. */
class RetrievalOpsSpec extends SparkSpec {

  // ---- BM25 -----------------------------------------------------------

  /** The fixed-point BM25 term score, re-derived independently with
    * BigInt (vs the library's Spark DECIMAL(38,0) expression chain). */
  private def bm25Term(tf: Long, dl: Long, df: Long, n: Long, t: Long): BigInt =
    if (tf == 0) BigInt(0)
    else {
      val idf = (BigInt(2 * n - 2 * df + 1) * 1000000) / BigInt(2 * df + 1)
      val sat = (BigInt(tf) * t * 44000000) /
        (BigInt(20) * t * tf + BigInt(6) * t + BigInt(18) * dl * n)
      idf * sat / 1000000
    }

  test("docBm25 equals an independent BigInt re-derivation on a hand corpus") {
    import spark.implicits._
    val tmp = tempDir("bm25")
    // doc 4 has no query term and must be absent from the result
    val corpus = Seq(
      (1L, "x y vector hash vector", "en", "s", 22L),
      (2L, "vector stream", "en", "s", 13L),
      (3L, "hash hash hash hash", "en", "s", 19L),
      (4L, "x y z", "en", "s", 5L))
    corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val terms = Seq("vector", "stream", "hash")
    val n = corpus.size.toLong
    val toks = corpus.map { case (id, tx, _, _, _) => id -> tx.split(" ").toSeq }
    val t = toks.map(_._2.size.toLong).sum
    val dfs = terms.map(q => toks.count(_._2.contains(q)).toLong)
    val expected = toks
      .map { case (id, ws) =>
        val score = terms.zip(dfs).map { case (q, df) =>
          bm25Term(ws.count(_ == q).toLong, ws.size.toLong, df, n, t)
        }.sum
        (id, score.toLong, terms.count(ws.contains).toLong)
      }
      .filter(_._3 > 0)
      .sortBy { case (id, s, _) => (-s, id) }
    val got = TextOps.docBm25(terms, 10)(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got expected $expected")
  }

  test("docBm25 matches the BigInt re-derivation on random corpora (5 seeds)") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "vector", "stream", "hash", "x", "y")
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val corpus = (1L to (5 + rnd.nextInt(15))).map { id =>
        val text = Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (id, text, "en", "s", text.length.toLong)
      }
      val tmp = tempDir(s"bm25p$seed")
      corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      val terms = Seq("vector", "stream", "hash")
      val toks = corpus.map { case (id, tx, _, _, _) => id -> tx.split(" ").toSeq }
      val n = corpus.size.toLong
      val t = toks.map(_._2.size.toLong).sum
      val dfs = terms.map(q => toks.count(_._2.contains(q)).toLong)
      val expected = toks.map { case (id, ws) =>
        val score = terms.zip(dfs).map { case (q, df) =>
          bm25Term(ws.count(_ == q).toLong, ws.size.toLong, df, n, t)
        }.sum
        (id, score.toLong, terms.count(ws.contains).toLong)
      }.filter(_._3 > 0).sortBy { case (id, s, _) => (-s, id) }
      val got = TextOps.docBm25(terms, corpus.size + 1)(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"seed $seed: got $got expected $expected")
      // the posting-index arm must agree on every random corpus too
      // (fresh index per temp dir — snapshot-keyed like all layouts)
      val idx = TextOps.docBm25Indexed(terms, corpus.size + 1)(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(idx == expected, s"seed $seed (indexed): got $idx expected $expected")
    }
  }

  test("docBm25 ranks an on-topic doc above a diluted one (saturation + length norm)") {
    import spark.implicits._
    val tmp = tempDir("bm25rank")
    // same tf of 'vector' (2), but doc 2 buries it in a 4x longer text:
    // the dl/avgdl length normalization must rank doc 1 first
    Seq(
      (1L, "vector vector stream", "en", "s", 0L),
      (2L, "vector vector a a a a a a a a a a", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = TextOps.docBm25(Seq("vector"), 10)(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("docBm25 plan: map-side tf (no token explode/shuffle), top-k is TakeOrdered") {
    val df = TextOps.docBm25(Seq("vector", "stream", "hash"), 15)(spark, sf001)
    val plan = finalPlan(df).toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
    // the only exchanges are the two 1-row aggregates (corpus totals +
    // per-term dfs); the matching-docs relation itself never shuffles
    assert(countShuffles(df) <= 2, s"expected <=2 exchanges (1-row aggs only):\n$plan")
    assert(!plan.toLowerCase.contains("generate"), // explode would be a Generate node
      s"tf must be size(filter(...)), not an exploded token relation:\n$plan")
  }

  test("docBm25Indexed is row-identical to the corpus-scan arm") {
    val terms = Seq("vector", "stream", "hash")
    val scan = TextOps.docBm25(terms, 15)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val idx = TextOps.docBm25Indexed(terms, 15)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(idx == scan)
  }

  test("docBm25Indexed probe is partition-pruned to the query terms' buckets") {
    val df = TextOps.docBm25Indexed(Seq("vector", "stream", "hash"), 15)(spark, sf001)
    val plan = finalPlan(df).toString
    assert("""PartitionFilters: \[[^\]]*tb""".r.findFirstIn(plan).isDefined,
      s"posting scan must prune on the term-bucket partition column:\n$plan")
  }

  // ---- SQ8 threshold search ------------------------------------------

  test("native ADC / center-dot kernels == their HOF spellings row-for-row") {
    // the corpus-scan distances run through codegen'd loop expressions
    // (HOFs are CodegenFallback — interpreted); pin them to the
    // higher-order spellings they replaced, same discipline as
    // NearestCell vs the unrolled least()
    import org.apache.spark.sql.functions._
    val (mns, rngs, ws) = Sq8.trainCached(spark, sf001)
    val cds = Sq8.codes(spark, sf001)
    val q = cds.filter(col("vec_id") === 0L).select(col("cd").as("qcd"))
    val wsLit = typedLit(ws.toSeq)
    val adcDiff = cds.crossJoin(broadcast(q))
      .select(
        call_function("sq8_adc_dist", col("cd"), col("qcd"), wsLit).as("n"),
        aggregate(
          zip_with(zip_with(col("cd"), col("qcd"), (a, b) => a - b),
            wsLit, (d, w) => (d * w) * (d * w)),
          lit(0L), (acc, v) => acc + v).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(adcDiff == 0L, s"ADC kernel diverges on $adcDiff rows")

    val qv = Ivf.quantized(spark, sf001).filter(col("vec_id") === 0L)
      .select("qv").head().getSeq[Long](0).toArray
    val qcv = qv.map(_ - Sq8.Center)
    val cdDiff = Ivf.quantized(spark, sf001)
      .select(
        call_function("center_dot", col("qv"), typedLit(qcv.toSeq),
          lit(Sq8.Center)).as("n"),
        aggregate(
          zip_with(col("qv"), typedLit(qcv.toSeq),
            (x, qc) => (x - lit(Sq8.Center)) * qc),
          lit(0L), (acc, v) => acc + v).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(cdDiff == 0L, s"center-dot kernel diverges on $cdDiff rows")

    val qq = Ivf.quantized(spark, sf001).filter(col("vec_id") === 0L)
      .select(col("qv").as("qqv"))
    val pjDiff = Ivf.quantized(spark, sf001).crossJoin(broadcast(qq))
      .select(
        call_function("proj_sqdist", col("qv"), col("qqv"),
          typedLit(Rproj.signs.flatten.toSeq)).as("n"),
        Rproj.signs.map { sr =>
          val t = aggregate(
            zip_with(zip_with(col("qv"), col("qqv"), (x, y) => x - y),
              typedLit(sr.toSeq), (x, s) => x * s),
            lit(0L), (acc, v) => acc + v)
          t * t
        }.reduce(_ + _).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(pjDiff == 0L, s"proj-sqdist kernel diverges on $pjDiff rows")
  }

  test("rangeSearch equals the brute-force exact threshold scan (lossless prescreen)") {
    val tau = 220000000000L
    val q = Ivf.quantized(spark, sf001)
    val qqv = q.filter(col("vec_id") === 0L).select("qv")
      .head().getSeq[Long](0).toArray.map(_ - Sq8.Center)
    val exact = q.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        aggregate(zip_with(col("qv"), typedLit(qqv.toSeq),
          (x, qc) => (x - lit(Sq8.Center)) * qc), lit(0L), (a, v) => a + v).as("csim"))
      .filter(col("csim") >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Sq8.rangeSearch(0L, tau)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
    assert(got.nonEmpty, "threshold must select a non-trivial result")
  }

  test("rangeSearch prescreen: ub >= csim on EVERY row, and it actually prunes") {
    // re-derive the bound the prescreen uses, row by row, against the
    // exact csim — one violation anywhere would be a potential false
    // negative at some tau
    val tau = 220000000000L
    val (mns, rngs, _) = Sq8.train(Ivf.quantized(spark, sf001))
    val q = Ivf.quantized(spark, sf001)
    val qcv = q.filter(col("vec_id") === 0L).select("qv")
      .head().getSeq[Long](0).toArray.map(_ - Sq8.Center)
    val rows = Sq8.codes(spark, sf001)
      .join(q.select("vec_id", "qv"), "vec_id")
      .filter(col("vec_id") =!= 0L)
      .collect()
    var pruned = 0
    rows.foreach { r =>
      val cd = r.getSeq[Long](1)
      val qv = r.getSeq[Long](2)
      val csim = (0 until Sq8.Dim).map(i => (qv(i) - Sq8.Center) * qcv(i)).sum
      val ub = (0 until Sq8.Dim).map { i =>
        val base = mns(i) - Sq8.Center
        if (qcv(i) >= 0) qcv(i) * (base + ((cd(i) + 1) * rngs(i)) / 255)
        else qcv(i) * (base + (cd(i) * rngs(i) + 254) / 255)
      }.sum
      assert(ub >= csim, s"bound violated for vec ${r.getLong(0)}: ub=$ub csim=$csim")
      if (ub < tau) pruned += 1
    }
    info(s"prescreen prunes $pruned/${rows.length} vectors at tau=$tau")
    assert(pruned > rows.length / 4,
      s"prescreen should drop a meaningful fraction map-side ($pruned/${rows.length})")
  }

  test("hardNegatives sits exactly below the duplicate band, zero-shuffle plan") {
    val tau = 220000000000L
    val dups = Sq8.rangeSearch(0L, tau)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val df = Sq8.hardNegatives(0L, tau, 20)(spark, sf001)
    val hard = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hard.length == 20)
    // disjoint from the duplicate set, and strictly below it in csim
    assert(dups.map(_._1).toSet.intersect(hard.map(_._1).toSet).isEmpty)
    assert(hard.map(_._2).max < tau)
    assert(hard.map(_._2).max < dups.map(_._2).min)
    val plan = finalPlan(df).toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
    assert(countShuffles(df) == 0, s"one scan + TakeOrdered needs no exchange:\n$plan")
  }

  test("edge cases: unknown query ids yield empty, absent terms contribute nothing") {
    // point-lookup arms must behave like their join/oracle formulations
    // on a missing id: zero rows, not an exception
    assert(Sq8.rangeSearch(999999L, 1L)(spark, sf001).count() == 0)
    assert(Sq8.hardNegatives(999999L, 1L, 5)(spark, sf001).count() == 0)
    assert(Rproj.topK(999999L, 50, 10)(spark, sf001).count() == 0)
    // a query term absent from the corpus: df=0, tf=0 everywhere — it
    // must not change scores or membership vs the query without it
    val withGhost = TextOps.docBm25(Seq("vector", "zzz_not_a_term"), 15)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val without = TextOps.docBm25(Seq("vector"), 15)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(withGhost == without)
  }

  // ---- native min-sqdist loop expression -------------------------------

  test("pc_min_sqdist2 equals the unrolled least(...) spelling bit-for-bit") {
    import graft.pc.{MinSqDist2D, PcQueries}
    MinSqDist2D.register(spark)
    val (us, vs) = PcQueries.modelCloud.unzip
    val pts = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select((col("l_orderkey") % 1000).cast("double").as("x"),
        (col("l_partkey") % 1000).cast("double").as("y"))
    val native = call_function("pc_min_sqdist2",
      col("x"), col("y"), typedLit(us), typedLit(vs))
    val unrolled = least(us.zip(vs).map { case (u, v) =>
      (col("x") - lit(u)) * (col("x") - lit(u)) +
        (col("y") - lit(v)) * (col("y") - lit(v))
    }: _*)
    assert(pts.filter(native =!= unrolled).count() == 0)
  }

  // ---- k-NN graph -----------------------------------------------------

  test("knnGraph: every vector gets min(k, cell-1) in-cell neighbors, plan uses WindowGroupLimit") {
    val k = 3
    val df = SimOps.knnGraph(k)(spark, sf001)
    val rows = df.collect()
    val perSrc = rows.groupBy(_.getLong(0))
    // neighbors come from the DERIVED-K quantizer cell: each source has
    // min(k, |cell|-1) neighbors with ranks 1..that, neighbors share the
    // source's cell and never self-link
    val cells = graft.sim.SemDedup.assignment(spark, sf001)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellSize = cells.values.groupBy(identity).view.mapValues(_.size).toMap
    val expectedSrcs = cells.filter { case (_, c) => cellSize(c) > 1 }.keySet
    assert(perSrc.keySet == expectedSrcs,
      "every vector with a non-singleton cell appears as a source")
    perSrc.foreach { case (src, ns) =>
      val expect = math.min(k, cellSize(cells(src)) - 1).toLong
      assert(ns.map(_.getLong(3)).sorted.toSeq == (1L to expect))
      ns.foreach { r =>
        assert(r.getLong(1) != src)
        assert(cells(r.getLong(1)) == cells(src))
      }
    }
    val plan = finalPlan(df).toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-source top-k must heap before the shuffle:\n$plan")
  }

  test("derived quantizer K tracks the corpus: cells stay ~TargetCell-sized") {
    import graft.sim.Ivf
    assert(Ivf.derivedK(500) == 8)    // sf0.01 fixture = the old fixed K
    assert(Ivf.derivedK(2000) == 32)  // 4x data -> 4x cells, not 16x pairs
    assert(Ivf.derivedK(1) == 2)
    assert(Ivf.derivedK(100000000L) == 1562500) // K ∝ n at any scale
    assert(Ivf.derivedKCached(spark, sf001) == 8)
  }

  // ---- JL random projection ------------------------------------------

  test("rproj signs: every row is a full-length ±1 vector, rows differ") {
    assert(Rproj.signs.length == Rproj.RDim)
    assert(Rproj.signs.forall(r => r.length == Rproj.Dim && r.forall(s => s == 1L || s == -1L)))
    assert(Rproj.signs.map(_.toSeq).distinct.length == Rproj.RDim)
  }

  test("rproj recall@10 vs brute force (16-dim projected shortlist 100)") {
    val exact = SimOps.topK(0L, 10)(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Rproj.topK(0L, 100, 10)(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    info(s"rproj recall@10 = ${(exact & got).size}/10")
    // this corpus is the hardest ANN case (near-random vectors, max
    // pairwise cosine ~0.5, so neighbor gaps are tiny vs JL distortion
    // — the same data property AnnRecallSpec documents for LSH); 64->16
    // dims with a 100-deep shortlist measures 8/10, floor with one-hit
    // slack
    assert((exact & got).size >= 7)
  }

  test("rproj plan: shortlist is TakeOrdered over a map-only projection") {
    val df = Rproj.topK(0L, 100, 10)(spark, sf001)
    val plan = finalPlan(df).toString
    assert(plan.contains("TakeOrderedAndProject"), s"shortlist must not global-sort:\n$plan")
    assert(countShuffles(df) == 0,
      s"projection + shortlist + broadcast rerank needs no exchange:\n$plan")
  }

  test("kernel domain guards: short row-side arrays throw instead of reading out of bounds") {
    // the kernels are session-registered SQL functions that loop to the
    // LITERAL side's length — a shorter row-side array must fail loudly,
    // not return garbage from UnsafeArrayData out-of-bounds reads
    graft.sim.LongVecExprs.register(spark)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def fails(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(messages(e).exists(m =>
        m.contains("elements") || m.contains("sign matrix")),
        s"expected the length guard for `$sql`, got: $e")
    }
    fails("SELECT sq8_adc_dist(array(1L,2L), array(1L,2L,3L), array(1L,1L,1L))")
    fails("SELECT sq8_adc_dist(array(1L,2L,3L), array(1L), array(1L,1L,1L))")
    fails("SELECT center_dot(array(1L), array(1L,2L,3L), 0L)")
    fails("SELECT proj_sqdist(array(1L,2L), array(1L), array(1L,1L,1L,1L))")
    // a sign matrix that is not whole rows of the input dimension
    fails("SELECT proj_sqdist(array(1L,2L), array(1L,2L), array(1L,1L,1L))")
    // in-domain calls still compute
    assert(spark.sql("SELECT center_dot(array(3L,4L), array(1L,1L), 1L) AS v")
      .head().getLong(0) == 5L)
    assert(spark.sql(
      "SELECT sq8_adc_dist(array(3L,4L), array(1L,2L), array(2L,2L)) AS v")
      .head().getLong(0) == 32L)
  }
}

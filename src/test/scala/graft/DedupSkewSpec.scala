package graft

import org.apache.spark.sql.SparkSession

import graft.text.{Sketches, TextOps}

/** Hot-key (document-frequency cap) behavior of the dedup self-joins:
  * a boilerplate shingle / degenerate band / shared simhash half that
  * appears in k documents would contribute k^2/2 rows on ONE join key —
  * the classic 100 TB skew killer. The caps drop such keys before the
  * join; these specs build corpora where a single key is hot and assert
  * the candidate volume collapses when the cap fires and is exactly the
  * all-pairs count when it doesn't. */
class DedupSkewSpec extends SparkSpec {

  test("unhinted dedup joins degrade to shuffles with identical results when broadcast is off") {
    // the r6 policy: per-doc counts / labels / losers are corpus- or
    // near-dup-sized, so their joins carry NO broadcast hint — with
    // broadcasting disabled entirely they must still run (as keyed
    // shuffles, the 100 TB fallback a forced hint forbids) and return
    // bit-identical results
    val tau = TextOps.DupClusterTau
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def all() = Seq(
      rows(TextOps.ngramJaccardPairs(tau)(spark, sf001)),
      rows(TextOps.dupClusters(tau)(spark, sf001)),
      rows(TextOps.dedupKeepOne(tau)(spark, sf001)),
      rows(TextOps.docSplitSafe(tau)(spark, sf001)),
      // round-6 third-session unhinted joins: incremental dedup's
      // count joins, bpe tokenize's vocab join, ccnet's lang join
      rows(TextOps.dedupIncremental(5L, tau)(spark, sf001)),
      rows(TextOps.docBpeTokenize(6)(spark, sf001)),
      rows(TextOps.docCcnetBucket(spark, sf001)))
    val base = all()
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val degraded = all()
      assert(degraded == base, "results changed with broadcasting disabled")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def writeDocs(texts: Seq[String]): String = {
    val dir = tempDir("dedup_skew")
    val s: SparkSession = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private val N = 100

  test("ngramJaccardPairs: a boilerplate shingle shared by all docs is capped") {
    // every doc: 3 shared boilerplate tokens + 3 unique tokens => exactly
    // one cross-doc shingle ("c1 c2 c3"), jaccard 1/7 per pair
    val dir = writeDocs((0 until N).map(i => s"c1 c2 c3 x$i y$i z$i"))
    // cap above N: the hot shingle joins, every pair passes tau=0.1
    val uncapped = TextOps.ngramJaccardPairs(0.1, dfCap = 2 * N)(spark, dir)
    assert(uncapped.count() == N.toLong * (N - 1) / 2)
    // cap below N: the only shared shingle is dropped => zero candidates
    val capped = TextOps.ngramJaccardPairs(0.1, dfCap = N / 2)(spark, dir)
    assert(capped.count() == 0)
  }

  test("ngramJaccardPairs: capping one hot key leaves real near-dups intact") {
    // 40 boilerplate docs + 2 true near-duplicates sharing unique content
    val dup = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val dir = writeDocs(
      (0 until 40).map(i => s"c1 c2 c3 x$i y$i z$i") :+ dup :+ (dup + " tail"))
    val pairs = TextOps.ngramJaccardPairs(0.5, dfCap = 20)(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((40L, 41L)),
      s"expected only the true near-dup pair, got ${pairs.toList}")
  }

  test("minhashLshPairs: identical signatures across the corpus are capped") {
    val dir = writeDocs(Seq.fill(N)("w1 w2 w3 w4 w5 w6 w7 w8"))
    assert(Sketches.minhashLshPairs(spark, dir, dfCap = 2 * N).count() ==
      N.toLong * (N - 1) / 2)
    assert(Sketches.minhashLshPairs(spark, dir, dfCap = N / 2).count() == 0)
  }

  test("simhashPairs: a shared half hot across the corpus is capped") {
    val dir = writeDocs(Seq.fill(N)("w1 w2 w3 w4 w5 w6 w7 w8"))
    assert(Sketches.simhashPairs(0, dfCap = 2 * N)(spark, dir).count() ==
      N.toLong * (N - 1) / 2)
    assert(Sketches.simhashPairs(0, dfCap = N / 2)(spark, dir).count() == 0)
  }
}

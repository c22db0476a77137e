package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions._

import graft.sim.SimOps

/** [[graft.sim.SimOps.LabelPairCap]] truncation detection: the cap that
  * bounds `emb_top_pairs_label`'s exact all-pairs baseline must be
  * SLACK on the canonical fixtures (results exact, spec-pinned here so
  * a future larger canonical fixture cannot silently shift the oracle
  * from exact to truncated), and a label that DOES exceed it must be
  * both reported by the diagnostic and warned about per invocation —
  * never a silent semantics change (r11 advice item 3). */
class LabelCapSpec extends SparkSpec {

  test("canonical fixtures sit inside LabelPairCap — the exact baseline is exact") {
    Seq(sf0001, sf001).foreach { dir =>
      val over = SimOps.labelCapOverflow(spark, dir).collect()
      assert(over.isEmpty,
        s"$dir: label(s) past LabelPairCap — emb_top_pairs_label's " +
          s"baseline silently truncated: ${over.mkString(", ")}")
    }
  }

  test("an over-cap label is reported, warned about, and truncated to the vec_id-order prefix") {
    // 1005 identical unit vectors under ONE label: 5 past the cap
    val n = SimOps.LabelPairCap + 5
    val dir = tempDir("labelcap")
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(1, ${SimOps.Dim}), " +
        "i -> CAST(IF(i = 1, 1.0, 0.0) AS FLOAT))").as("embedding"),
      lit(0L).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val over = SimOps.labelCapOverflow(spark, dir).collect()
    assert(over.length == 1 && over.head.getLong(1) == n,
      "diagnostic must report the one over-cap label with its count")

    // the per-invocation warning on stderr, and the capped result: only
    // the first LabelPairCap vec_ids participate in the pair join
    val realErr = System.err
    val buf = new ByteArrayOutputStream()
    val pairs =
      try {
        System.setErr(new PrintStream(buf, true))
        SimOps.topPairsWithinLabel(20)(spark, dir).collect()
      } finally System.setErr(realErr)
    assert(buf.toString.contains("truncating 1 label(s)"),
      s"expected a truncation warning, got: ${buf.toString.take(200)}")
    assert(pairs.length == 20)
    pairs.foreach { r =>
      assert(r.getLong(0) < SimOps.LabelPairCap &&
        r.getLong(1) < SimOps.LabelPairCap,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) includes a truncated vector")
    }
  }
}

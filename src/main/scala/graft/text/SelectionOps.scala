package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Data-selection operators for training-set curation: which documents
  * to keep (DSIR importance weights + token-budget selection), what
  * each shard newly contributes (first-occurrence novelty), and how the
  * corpus is shifting (token-distribution drift).
  *
  * Every operator follows the repo's determinism discipline (all-integer
  * arithmetic, md5-derived hashes, floor division on positives) so the
  * DuckDB oracles hash-compare bit-for-bit, and each runs in the shape a
  * 100 TB pipeline needs: the DSIR model is a fixed 256-long array that
  * rides as a plan literal (map-only scoring), scores materialize once,
  * novelty reads the already-materialized shingle index, budget
  * selection two-phases on quantile-balanced weight buckets, and drift
  * is one scan with a single keyed aggregation.
  */
object SelectionOps {

  /** Hashed-bigram feature-space size. FIXED by construction (a model
    * hyperparameter, not a data-dependent cardinality), so the trained
    * weight table is bounded at any corpus size — the property that lets
    * it ship as a literal. */
  val DsirBuckets: Int = 256

  /** Target distribution for importance weighting: the high-resource
    * slice a curation pipeline up-samples toward. */
  val DsirTargetLang: String = "en"

  private def words: Column = split(col("text"), " ")

  /** Per-document adjacent-pair hash buckets: md5-prefix 28-bit hash of
    * each bigram, reduced mod [[DsirBuckets]] (positive on both engines:
    * the 28-bit value is non-negative and `%` agrees on non-negative
    * operands). Docs with <2 tokens contribute no pairs and drop out of
    * the scored relation, exactly like the lm-score family. */
  private def pairBuckets: Column = {
    val w = words
    transform(
      zip_with(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      p => TextOps.md5p(p, 1, 7) % lit(DsirBuckets.toLong))
  }

  /** (doc_id, lang, b): one row per bigram occurrence — the map-side
    * explode every hashed-n-gram model trains and scores on. */
  private def pairRel(spark: SparkSession, dir: String): DataFrame =
    TextOps.docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(pairBuckets).as("b"))

  /** Force the one-time DSIR model fit + score materialization (bench
    * isolation hook). */
  def prebuildDsirModel(spark: SparkSession, dir: String): Unit = {
    dsirScores(spark, dir)
    ()
  }

  /** Fit the hashed-bigram importance model: bucket counts under the
    * target distribution (lang = [[DsirTargetLang]]) and under the raw
    * corpus, add-one smoothed, combined into ONE integer ratio per
    * bucket:
    *
    *   lr_ppm(b) = (t_b+1)·(R+B)·10^6  div  (r_b+1)·(T+B)
    *
    * i.e. the smoothed target/raw probability ratio in ppm with a single
    * floor division (no intermediate per-probability floor, no possible
    * division by zero: the denominator is ≥ T+B ≥ B). The published DSIR
    * estimator (Xie et al. 2023) sums LOG ratios; the log is replaced by
    * the ratio itself because transcendental functions are not exact
    * across engines (the repo-wide all-integer rule) — the induced
    * per-document ordering is what the selection step consumes, and the
    * spec pins that target-language documents outrank the rest.
    *
    * Scale: training is ONE keyed aggregation onto ≤256 rows (map-side
    * combined; the shuffle carries 256 rows per partition), collected to
    * the driver as 256 longs. The intermediate products are computed in
    * BigInt (HUGEINT on the oracle side): at the 100 TB regime
    * (t+1)·(R+B)·10^6 ≈ 10^32 overflows int64 but not 128-bit.
    *
    * Bound on the scored sum: t_b ≤ r_b always (target ⊆ raw), so
    * lr_ppm ≤ (R+B)/(T+B)·10^6 — the per-document sum stays inside
    * int64 as long as n_pairs·(R/T) < 9·10^12, i.e. for any document
    * under ~10^6 bigrams unless the target slice is below ~10^-7 of
    * the corpus. A deployment weighting toward a slice that thin
    * should shrink the 10^6 scale factor accordingly.
    *
    * The trained table (256 longs, the same codebook-sized driver collect
    * as the IVF/PQ training results) is a registry artifact. */
  def dsirWeights(spark: SparkSession, dir: String): Array[Long] =
    graft.DatasetCache.artifact(spark, dir, "dsir_weights", "documents.parquet") { _ =>
      val rows = pairRel(spark, dir)
        .groupBy("b")
        .agg(count(lit(1)).as("r"),
          sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("t"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
      val bB = BigInt(DsirBuckets)
      val totR = rows.map(r => BigInt(r._2)).sum + bB
      val totT = rows.map(r => BigInt(r._3)).sum + bB
      // empty buckets get the smoothed default (t=r=0); they are never
      // probed by the scoring pass (no pair hashes there) but a total
      // function keeps the literal well-defined
      val w = Array.fill(DsirBuckets)(
        ((totR * 1000000) / totT).toLong)
      rows.foreach { case (b, r, t) =>
        w(b) = ((BigInt(t + 1) * totR * 1000000) / (BigInt(r + 1) * totT)).toLong
      }
      w
    }

  /** The live scoring plan: the 256-long model is a LITERAL, so scoring
    * is a map-only pass (explode + element_at + one keyed aggregation on
    * doc_id) — no join, no model shuffle, the exact shape DSIR runs at
    * corpus scale. Unordered; shared by the materialization. */
  private def dsirScoresRaw(spark: SparkSession, dir: String): DataFrame = {
    val w = typedLit(dsirWeights(spark, dir))
    pairRel(spark, dir)
      .select(col("doc_id"),
        element_at(w, (col("b") + 1).cast("int")).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("lr").as("s"))
      .select(col("doc_id"), col("n_pairs"),
        expr("s div n_pairs").as("dsir_ppm"))
  }

  /** Materialized per-document DSIR scores (doc_id, n_pairs, dsir_ppm) —
    * quality/importance scores are computed ONCE and every consumer
    * (score reports, budget selection, filtering) reads the scored
    * relation; the same path-keyed materialization as the LM scores. */
  private def dsirScores(spark: SparkSession, dir: String): DataFrame =
    graft.DatasetCache.frame(spark, dir, "dsir_scores", "documents.parquet")(
      dsirScoresRaw(spark, dir))

  /** Per-document DSIR importance score: the mean bucket importance
    * ratio over the document's bigrams, in ppm. */
  def docDsir(spark: SparkSession, dir: String): DataFrame =
    dsirScores(spark, dir).orderBy("doc_id")

  val docDsirSql: String =
    s"""WITH pr AS (
       |  SELECT doc_id, lang, CAST('0x'||substr(md5(pair),1,7) AS BIGINT) % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
       |          i -> ws[i]||' '||ws[i+1])) AS pair
       |        FROM (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents))),
       | m AS (SELECT b, CAST(count(*) AS BIGINT) AS r,
       |   CAST(count(*) FILTER (WHERE lang = '$DsirTargetLang') AS BIGINT) AS t
       |   FROM pr GROUP BY 1),
       | tot AS (SELECT CAST(sum(r) AS BIGINT) + $DsirBuckets AS rr,
       |   CAST(sum(t) AS BIGINT) + $DsirBuckets AS tt FROM m),
       | w AS (SELECT b, CAST((CAST(t+1 AS HUGEINT) * rr * 1000000)
       |   // (CAST(r+1 AS HUGEINT) * tt) AS BIGINT) AS lr FROM m, tot)
       | SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(lr) // count(*) AS BIGINT) AS dsir_ppm
       | FROM pr JOIN w USING (b) GROUP BY 1 ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Per-document content novelty under the corpus's doc_id order: how
    * many of the document's distinct 3-shingles occur for the FIRST time
    * in this document (min doc_id over the corpus == this doc). The
    * shard-contribution metric a curation pipeline tracks while growing
    * a training set — a high-novelty document adds content, a
    * zero-novelty one is covered by earlier data.
    *
    * Scale: reads the materialized shingle index (built once per
    * dataset); one groupBy(h60) min-aggregation (map-side combined,
    * 8-byte keys) and two doc-keyed aggregations/joins. Docs with <3
    * tokens have no shingles and drop out, identically in the oracle.
    * `n_novel * 10^6` stays far inside int64 for any single document. */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.shingleIndex(spark, dir).select(col("doc_id"), col("h60"))
    val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val nov = sh.groupBy("h60").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    tot.join(nov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000L div n_shingles"))
      .orderBy("doc_id")
  }

  /** Importance-ranked token-budget selection — the step after scoring:
    * within each language, keep the highest-[[docDsir]]-weight documents
    * until `budget` tokens are reached (a doc is kept iff the tokens of
    * strictly-better docs leave room for its FIRST token, the
    * [[TextOps.docPack]] prefix rule). Output: the kept docs with their
    * budget position. Docs with <2 tokens have no DSIR evidence and are
    * not candidates, like the lm family.
    *
    * Scale: the naive plan is a per-language window over (weight desc) —
    * one partition per language, corpus-sized at 100 TB. This runs the
    * two-phase bucketed prefix sum instead (the docPack shape applied to
    * the WEIGHT domain), with bucket boundaries taken from weight
    * QUANTILES, not a uniform value grid: importance ratios concentrate
    * around 1 (measured: a value grid put 65% of the sf0.1 corpus in
    * ONE of 64 buckets, silently recreating the corpus-sized window),
    * while quantile cuts give ~equal-population buckets whatever the
    * histogram's shape. Any monotone bucketing leaves the RESULT
    * bit-identical (bucket order ∘ in-bucket order ≡ the global
    * (weight desc, doc_id) order, and the integer in-bucket sums attach
    * to the exclusive bucket offsets exactly), so the approximation in
    * approxQuantile only moves plan balance, never rows — the oracle is
    * the plain window. Per-(lang, g) totals form a BOUNDED relation
    * (|langs|·buckets rows — langs is a bounded categorical, buckets a
    * fixed constant) whose exclusive running sum gives each bucket's
    * starting offset; the big side then only needs an in-bucket window.
    * Residual caveat, shared with every function-of-the-sort-key
    * bucketing: a single weight VALUE carrying a large mass stays in
    * one bucket (the df-cap hot-key situation); quantile cuts bound
    * every multi-value bucket at ~1/buckets of a language. */
  def docSelectBudget(budget: Long, buckets: Int = 64)(
      spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc0 = TextOps.docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(words).cast(LongType).as("nt"))
      .join(dsirScores(spark, dir).select("doc_id", "dsir_ppm"), "doc_id")
    // buckets-1 interior quantile cuts (a bounded driver-side artifact,
    // like every trained model here — cached per dataset snapshot so
    // repeated invocations don't re-run the quantile job);
    // g = #cuts <= weight is monotone
    val cuts = graft.DatasetCache.artifact(spark, dir, s"dsir_cuts#$buckets",
        "documents.parquet") { _ =>
      sc0.stat.approxQuantile("dsir_ppm",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.01)
        .map(_.toLong).distinct.sorted
    }
    // native count_le kernel: the literal-array filter HOF is
    // CodegenFallback (r9 standing-audit find); same INT bucket index
    val sc = sc0.withColumn("g",
      call_function("count_le", typedLit(cuts.toSeq), col("dsir_ppm")))
    val totals = sc.groupBy("lang", "g").agg(sum("nt").as("gtot"))
    val exclusive = Window.partitionBy("lang").orderBy(col("g").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("goff", coalesce(sum("gtot").over(exclusive), lit(0L)))
      .select("lang", "g", "goff")
    val inBucket = Window.partitionBy("lang", "g")
      .orderBy(col("dsir_ppm").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    sc.join(broadcast(offsets), Seq("lang", "g"))
      .withColumn("cum_before",
        col("goff") + coalesce(sum("nt").over(inBucket), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("lang"), col("nt"), col("cum_before"))
      .orderBy("doc_id")
  }

  def docSelectBudgetSql(budget: Long): String =
    s"""SELECT doc_id, lang, nt, cum_before FROM (
       | SELECT sc.doc_id, sc.lang, sc.nt,
       |  CAST(coalesce(sum(sc.nt) OVER (PARTITION BY sc.lang
       |    ORDER BY sc.dsir_ppm DESC, sc.doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       | FROM (SELECT d.doc_id, d.lang,
       |   CAST(len(string_split(d.text,' ')) AS BIGINT) AS nt, w.dsir_ppm
       |  FROM documents d JOIN ($docDsirSql) w ON d.doc_id = w.doc_id) sc)
       | WHERE cum_before < $budget ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Token-distribution drift between the corpus's two doc_id halves —
    * the distribution-shift monitor a pipeline runs between crawl
    * snapshots / shard generations: per-term frequency (ppm of each
    * half's token mass) on both sides of the split, ranked by absolute
    * drift. The split point derives from one 1-row max aggregate
    * (`doc_id <= max div 2`), so "half" is deterministic and
    * oracle-replayable.
    *
    * Scale: one corpus scan (explode + ONE keyed aggregation with
    * map-side combine carrying both halves' counts as conditional
    * sums), two 1-row totals that ride as a broadcast scalar, and a
    * TakeOrderedAndProject top-k — no corpus-sized join or window.
    * All-integer ppm arithmetic. */
  def docDrift(k: Int)(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir)
    val mx = d.agg(max("doc_id").as("mx"))
    val terms = d.crossJoin(broadcast(mx))
      .select(explode(words).as("term"),
        (col("doc_id") <= expr("mx div 2")).as("h1"))
      .groupBy("term")
      .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("h1"), 0L).otherwise(1L)).as("n2"))
    // greatest(t, 1): an all-one-half corpus has a zero token total on
    // the other side — Spark's div would yield NULL ppm rows where
    // DuckDB's // errors; the guard gives 0-ppm rows in BOTH engines
    // (n is 0 whenever its total is), the same null-discipline as the
    // ratio queries elsewhere
    val tot = terms.agg(greatest(sum("n1"), lit(1L)).as("t1"),
      greatest(sum("n2"), lit(1L)).as("t2"))
    terms.crossJoin(broadcast(tot))
      .select(col("term"), col("n1"), col("n2"),
        expr("n1 * 1000000L div t1").as("p1_ppm"),
        expr("n2 * 1000000L div t2").as("p2_ppm"))
      .withColumn("drift_ppm", abs(col("p1_ppm") - col("p2_ppm")))
      .orderBy(col("drift_ppm").desc, col("term").asc)
      .limit(k)
  }

  def docDriftSql(k: Int): String =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
       | t AS (SELECT term, CAST(count(*) FILTER (WHERE h1) AS BIGINT) AS n1,
       |   CAST(count(*) FILTER (WHERE NOT h1) AS BIGINT) AS n2
       |  FROM (SELECT unnest(string_split(text,' ')) AS term, doc_id <= mx // 2 AS h1
       |        FROM documents, mx)
       |  GROUP BY term),
       | tot AS (SELECT greatest(CAST(sum(n1) AS BIGINT), 1) AS t1, greatest(CAST(sum(n2) AS BIGINT), 1) AS t2 FROM t)
       | SELECT term, n1, n2, n1 * 1000000 // t1 AS p1_ppm, n2 * 1000000 // t2 AS p2_ppm,
       |  abs(n1 * 1000000 // t1 - n2 * 1000000 // t2) AS drift_ppm
       | FROM t, tot
       | ORDER BY drift_ppm DESC, term ASC LIMIT $k""".stripMargin.replace("\n", " ")

  val docNoveltySql: String =
    s"""WITH sh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,15) AS BIGINT) AS h
       |   FROM (${TextOps.shinglesSql})),
       | tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1),
       | fo AS (SELECT h, min(doc_id) AS doc_id FROM sh GROUP BY 1),
       | nov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM fo GROUP BY 1)
       | SELECT t.doc_id, t.n_shingles,
       |  CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       |  CAST(coalesce(n.n_novel, 0) * 1000000 // t.n_shingles AS BIGINT) AS novelty_ppm
       | FROM tot t LEFT JOIN nov n USING (doc_id) ORDER BY t.doc_id""".stripMargin.replace("\n", " ")
}

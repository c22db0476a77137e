package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * (k-means over the embeddings) splits the corpus into K cells; a query
  * probes only the `nprobe` nearest cells and scans candidates exactly.
  * This is the classic trained-centroid ANN scale path that complements
  * the LSH variant in [[SimOps]] (reference surface: the AGILE lakehouse
  * has no ANN operator — this belongs to the training-data extension).
  *
  * **Determinism contract (oracle-exact across engines).** Lloyd k-means
  * on doubles is not reproducible across engines (float sums are
  * order-dependent). We make training exact and order-free instead:
  *
  *  - quantize each component to int64: `round((v + 2.0) * 2^20)` — the
  *    float→double widening, +2.0 shift (vectors are unit-normalized, so
  *    components are in (-1,1) and the shift makes everything positive)
  *    and *2^20 are all binary-exact, so both engines round the same
  *    exact value;
  *  - seed centroids = the K smallest `vec_id`s (no RNG);
  *  - assignment = argmin of integer squared L2 distance, ties to the
  *    lowest cell id;
  *  - one Lloyd update in integer space: per-dimension `sum / count`
  *    truncating division on positive int64 == floor division — exact
  *    and order-free on both engines.
  *
  * **Scale design.** Assignment is a single projection: the K centroids
  * ride as reference arrays inside [[NearestCell]], one native
  * codegen'd argmin loop, so the scan side streams through codegen with
  * NO join and NO shuffle — at 100 TB this is a map-only pass. The Lloyd update is a
  * `groupBy(cid)` over K×dim integer sums (map-side partial aggregation;
  * shuffle carries K rows per partition). Training actions collect only
  * K×dim longs to the driver. The search probes `nprobe` cells, so the
  * exact re-scoring touches ~nprobe/K of the data; with the assignment
  * written `partitionBy(cid)` (see [[SimOps]]'s bucket layout) the
  * non-probed cells are pruned at the file level.
  */
object Ivf {

  val K: Int = 8
  val Dim: Int = SimOps.Dim
  val Shift: Double = 2.0
  val Scale: Double = 1048576.0 // 2^20: binary-exact multiplier

  /** Target cell population for the CORPUS-DERIVED quantizer size used
    * by the in-cell-quadratic production ops ([[SemDedup]], the bulk
    * kNN graph): their per-cell pair work is quadratic in cell size by
    * definition, so the number of cells must grow with the corpus —
    * `K(n) = max(2, ceil(n / TargetCell))` keeps cells ~constant and
    * total pair work ~`TargetCell · n`, linear in n (r6 verdict item 3:
    * the knob must be in code, not prose). 64 reproduces the fixed K=8
    * at the sf0.01 fixture (500 vectors), so the small-SF oracle chain
    * is unchanged, while 10× data gets 10× cells instead of 10²× pair
    * work. The fixed [[K]] stays as the INDEX build parameter for the
    * IVF/PQ/SQ8 search family, where cells are probe targets, not pair
    * blocks. */
  val TargetCell: Int = 64

  def derivedK(n: Long): Int =
    math.max(2L, (n + TargetCell - 1) / TargetCell).toInt

  /** The same derivation as a DuckDB scalar subquery, so the oracle's
    * Lloyd CTE chain seeds exactly the K the library derived. */
  val derivedKSql: String =
    s"(SELECT greatest(2, (count(*) + ${TargetCell - 1}) // $TargetCell) FROM embeddings)"

  /** Corpus vector count, cached per dataset snapshot (one metadata-only
    * parquet count — never a scan). */
  def corpusN(spark: SparkSession, dir: String): Long =
    graft.DatasetCache.artifact(spark, dir, "corpus_n", "embeddings.parquet")(
      _ => SimOps.embeddings(spark, dir).count())

  def derivedKCached(spark: SparkSession, dir: String): Int =
    derivedK(corpusN(spark, dir))

  /** embeddings + the quantized int64 vector `qv`, via the native
    * [[FloatVecQuantize]] kernel — the `transform` + per-element `round`
    * HOF spelling (kept as [[quantizedHof]] for the pin spec) is
    * CodegenFallback, so every corpus-wide encode/assign/train scan ran
    * it interpreted. */
  def quantized(spark: SparkSession, dir: String): DataFrame = {
    NearestCell.register(spark)
    LongVecExprs.register(spark)
    SimOps.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      call_function("fvec_quantize", col("embedding"),
        lit(Shift), lit(Scale)).as("qv"))
  }

  /** Reference HOF spelling of [[quantized]]'s `qv`, spec-pinned
    * element-identical to the kernel over the real corpus. */
  private[graft] def quantizedHof(spark: SparkSession, dir: String): DataFrame =
    SimOps.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      transform(col("embedding"),
        v => round((v.cast("double") + lit(Shift)) * lit(Scale)).cast(LongType))
        .as("qv"))

  /** Integer squared-L2 distance from `qv` to a literal centroid. */
  private def distTo(cv: Array[Long]): Column =
    aggregate(
      zip_with(col("qv"), lit(cv), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** `struct(dist, cid)` argmin over literal centroids at ANY K, via
    * [[NearestCell]] — the native codegen'd loop expression. The two
    * built-in spellings both lose: the K-way unrolled
    * `least(struct(...))` is O(K·dim) straight-line generated code
    * (the r6 `pc_register` JIT-limit class — and its per-term HOF
    * distances are CodegenFallback anyway, so it ran INTERPRETED even
    * at K=8: switching cut `emb_semdedup` 1.82→0.64 s and
    * `emb_knn_graph` 1.70→0.70 s at sf0.1), and a higher-order
    * `aggregate(sequence(...))` fold is interpreted outright (the
    * K=313 assignment took minutes). Centroids ride as reference
    * arrays — data, not code — so generated-code size is O(1) in K;
    * the literal's size (K×dim×8 B) caps the flat quantizer at
    * K ~ 10^5, past which a deployment goes hierarchical (coarse
    * cells, then per-cell refinement), composed from this same
    * operator. Ties break to the lowest cid — bit-identical to the
    * `least()` lexicographic struct order, pinned by `IvfSpec` against
    * [[nearestUnrolled]], the reference implementation kept for that
    * spec. Requires [[NearestCell.register]], done in [[quantized]]. */
  private[graft] def nearest(centroids: Seq[(Long, Array[Long])]): Column =
    call_function("ivf_nearest_cell", col("qv"),
      typedLit(centroids.map(_._1)),
      typedLit(centroids.flatMap(_._2.toSeq)))

  /** The K-way unrolled `least()` spelling — the SPEC REFERENCE the
    * native expression is pinned against, not a production path. */
  private[graft] def nearestUnrolled(
      centroids: Seq[(Long, Array[Long])]): Column =
    least(centroids.map { case (cid, cv) =>
      struct(distTo(cv).as("dist"), lit(cid).as("cid"))
    }: _*)

  /** The trained codebook, a registry artifact: both IVF queries (assign
    * + search) share one trained codebook per dataset, like a production
    * pipeline that trains once and reuses. Centroids are K×dim longs —
    * driver-memory-trivial at any corpus size. */
  def trainCached(spark: SparkSession, dir: String): Seq[(Long, Array[Long])] =
    trainCachedK(spark, dir, K)

  /** Trained codebook for an explicit quantizer size — the derived-K
    * path of the in-cell-quadratic ops trains (and caches) per
    * (dataset, k), like a production pipeline that re-trains when the
    * corpus outgrows its cell budget. */
  def trainCachedK(spark: SparkSession, dir: String,
      k: Int): Seq[(Long, Array[Long])] =
    graft.DatasetCache.artifact(spark, dir, s"ivf_train#k$k", "embeddings.parquet")(
      _ => train(quantized(spark, dir), k = k))

  /** Lloyd iterations run at training time (the oracle CTE chain extends
    * mechanically with this constant — both engines iterate identically). */
  val LloydSteps: Int = 2

  /** Deterministic training: seed with the K smallest vec_ids, run
    * `steps` integer Lloyd iterations. Each iteration is one map-only
    * assignment + one groupBy(cid) shuffle collecting K×dim longs; the
    * order-free integer arithmetic keeps every step oracle-exact.
    * Returns (cid, centroid) sorted by cid. */
  def train(q: DataFrame, steps: Int = LloydSteps,
      k: Int = K): Seq[(Long, Array[Long])] = {
    val seeds: Seq[(Long, Array[Long])] =
      q.orderBy("vec_id").limit(k).select("qv").collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Long](0).toArray) }.toSeq
    (1 to steps).foldLeft(seeds)((c, _) => lloydStep(q, c))
  }

  /** One integer Lloyd update: per-dimension `sum / count` (truncating
    * division on positive int64 == floor division — exact and order-free
    * on both engines). A cell that attracts no vectors drops out, exactly
    * like the oracle's GROUP BY. */
  private def lloydStep(q: DataFrame,
      centroids: Seq[(Long, Array[Long])]): Seq[(Long, Array[Long])] = {
    val sumCols = (1 to Dim).map(j => sum(element_at(col("qv"), j)).as(s"s$j"))
    q.withColumn("cid", nearest(centroids).getField("cid"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1)
        r.getLong(0) -> Array.tabulate(Dim)(j => r.getLong(j + 2) / n)
      }
      .sortBy(_._1).toSeq
  }

  /** Total assignment cost (sum of integer squared distances) for a
    * codebook — the Lloyd convergence measure the spec tracks. */
  def totalDist(q: DataFrame, centroids: Seq[(Long, Array[Long])]): Long =
    assignment(q, centroids).agg(sum(col("dist"))).head().getLong(0)

  /** The map-only quantize+argmin projection (unsorted). */
  def assignment(q: DataFrame, centroids: Seq[(Long, Array[Long])]): DataFrame = {
    val best = nearest(centroids)
    q.select(col("vec_id"), best.getField("cid").as("cid"),
      best.getField("dist").as("dist"))
  }

  /** Per-vector cell assignment after training: (vec_id, cid, dist). */
  def assign(spark: SparkSession, dir: String): DataFrame =
    assignment(quantized(spark, dir), trainCached(spark, dir))
      .orderBy("vec_id")

  /** Integer distance between a centroid and the query's quantized
    * vector, and the `nprobe` nearest cell ids — shared by both probe
    * paths so tie-breaking ((dist, cid) order, matching the oracle's
    * ORDER BY dist, cid) can never diverge between them. */
  private[graft] def probeCells(centroids: Seq[(Long, Array[Long])],
      queryQv: Array[Long], nprobe: Int): Seq[Long] = {
    def qdist(cv: Array[Long]): Long =
      cv.iterator.zip(queryQv.iterator).map { case (c, x) =>
        val d = x - c; d * d
      }.sum
    centroids.map { case (cid, cv) => (qdist(cv), cid) }
      .sorted.take(nprobe).map(_._2)
  }

  /** Exact cosine top-k over a candidate set vs a 1-row broadcast query. */
  private def scoreTopK(candidates: DataFrame, qe: DataFrame, queryId: Long,
      k: Int): DataFrame =
    candidates.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)

  /** IVF search: probe the `nprobe` cells nearest to `queryId`'s vector,
    * then exact cosine top-k within the probed cells. */
  def topK(queryId: Long, k: Int, nprobe: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir)
    val centroids = trainCached(spark, dir)
    q.filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => SimOps.emptyTopK(spark) // unknown id: empty, like the oracle
      case Some(row) =>
        val probed = probeCells(centroids, row.getSeq[Long](0).toArray, nprobe)
        val qe = SimOps.embeddings(spark, dir)
          .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
        scoreTopK(
          q.withColumn("cid", nearest(centroids).getField("cid"))
            .filter(col("cid").isin(probed: _*)),
          qe, queryId, k)
    }
  }

  /** Materialized inverted-list layout: the assignment written
    * `partitionBy(cid)` — one directory per cell. Built once per dataset
    * (like a production index build job). */
  def layoutPath(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "ivf_layout", "embeddings.parquet") { path =>
      val q = quantized(spark, dir)
      val best = nearest(trainCached(spark, dir))
      Ivf2.layoutWrite(
        q.select(col("vec_id"), col("embedding"), best.getField("cid").as("cid")),
        "cid", SimOps.embeddings(spark, dir).count(), path)
    }

  /** IVF search against the cid-partitioned layout: same results (and
    * oracle) as [[topK]], but the probe filter `cid IN (...)` prunes at
    * the FILE level — non-probed cells are never opened, the on-disk
    * inverted-list behavior a production IVF index has. */
  def topKPartitioned(queryId: Long, k: Int, nprobe: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val centroids = trainCached(spark, dir)
    val table = graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir))
    quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => SimOps.emptyTopK(spark) // unknown id: empty, like the oracle
      case Some(row) =>
        val probed = probeCells(centroids, row.getSeq[Long](0).toArray, nprobe)
        val qe = table.filter(col("vec_id") === queryId)
          .select(col("embedding").as("qe"))
        scoreTopK(table.filter(col("cid").isin(probed: _*)), qe, queryId, k)
    }
  }

  /** Batch IVF search: top-k for EVERY query in a query set (vec_id <
    * `nq`), expressed as one distributed JOIN instead of `nq` driver-side
    * probe loops — the shape that scales to millions of queries (kNN-join
    * for hard-negative mining, recommendation backfill, eval sweeps).
    *
    *  - per-query probe cells: the K literal-centroid distances sort
    *    IN-ROW (`array_sort` over (dist, cid) structs — ascending struct
    *    order IS the (dist, cid) tiebreak the single-query
    *    [[probeCells]]/oracle use), slice nprobe, explode. Map-only.
    *  - candidates: probes join the cid-partitioned layout ON cid. The
    *    probe side is broadcast — bounded by the QUERY BATCH (the
    *    deployment knob, independent of corpus size); a corpus-scale
    *    batch drops the hint and shuffles both sides on cid. Spark
    *    injects DYNAMIC PARTITION PRUNING from the broadcast side, so
    *    the layout scan opens only the probed cells' files at runtime
    *    (spec-asserted: a 1-query batch reads nprobe of K partitions)
    *    — the join stays an index probe, not a corpus scan.
    *  - exact rescoring + per-query top-k via row_number (Spark plans
    *    WindowGroupLimit: per-partition partial top-k before the window
    *    shuffle, so the exchange carries ≤ k·|batch| survivors, not all
    *    candidates).
    *
    * Same output schema and oracle conventions as [[SimOps.topKMulti]]
    * (its IVF-indexed twin). */
  def topKBatch(nq: Long, k: Int, nprobe: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = trainCached(spark, dir)
    val table = graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir))
    // native probe selection (ivf_probe_cells): the struct-sort HOF
    // spelling (slice(array_sort(array(struct(dist, cid)...)), 1, p))
    // is CodegenFallback — interpreted once per query row (the r9
    // standing-audit find); the kernel has the identical (dist, cid)
    // ascending tiebreak, spec-pinned in IvfSpec
    val probes = quantized(spark, dir).filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(call_function("ivf_probe_cells", col("qv"),
          typedLit(centroids.map(_._1)),
          typedLit(centroids.flatMap(_._2.toSeq)),
          lit(nprobe))).as("cid"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    table.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  def topKBatchSql(nq: Long, k: Int, nprobe: Int): String =
    s"""WITH ${chainSql(LloydSteps)},
       |qs AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < $nq),
       |pd AS (
       |  SELECT qs.qid, c.cid,
       |    CAST(list_sum(list_transform(range(1,${Dim + 1}), i -> (qs.qv[i]-c.cv[i])*(qs.qv[i]-c.cv[i]))) AS BIGINT) AS dist
       |  FROM qs, c$LloydSteps c),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn FROM pd)
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id FROM probes p JOIN afin a ON a.cid = p.cid
       |  WHERE a.vec_id != p.qid),
       |sc AS (
       |  SELECT cand.qid, cand.vec_id,
       |    round(${SimOps.dotSql("e.embedding", "qe.embedding")}, 6) AS sim
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cand.qid)
       |SELECT qid, vec_id, sim, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn FROM sc)
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin.replace("\n", " ")

  /** Recall@k evaluation of the IVF index against the exact scan — the
    * eval-harness query every ANN deployment runs before trusting an
    * index (and re-runs on drift). Both arms already share the rounded
    * (sim, vec_id) tie discipline and self-exclusion, so the
    * intersection is deterministic; the result is ONE row of integer
    * evidence (hits, recall in ppm). Cost = the two arms it measures;
    * the join is on (qid, vec_id) over nq·k rows — negligible. */
  def recallEval(nq: Long, k: Int, nprobe: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val exact = SimOps.topKMulti(nq.toInt, k)(spark, dir)
      .select("qid", "vec_id")
    val approx = topKBatch(nq, k, nprobe)(spark, dir)
      .select("qid", "vec_id")
    exact.join(approx, Seq("qid", "vec_id"))
      .agg(count(lit(1)).as("hits"))
      .select(lit(nq).as("n_queries"), lit(k.toLong).as("k"), col("hits"),
        expr(s"hits * 1000000 div ${nq * k}").as("recall_ppm"))
  }

  def recallEvalSql(nq: Long, k: Int, nprobe: Int): String =
    s"""SELECT CAST($nq AS BIGINT) AS n_queries, CAST($k AS BIGINT) AS k,
       | CAST(count(*) AS BIGINT) AS hits,
       | CAST(count(*) * 1000000 // ${nq * k} AS BIGINT) AS recall_ppm
       | FROM (${SimOps.topKMultiSql(nq.toInt, k)}) e
       | JOIN (${topKBatchSql(nq, k, nprobe)}) a USING (qid, vec_id)""".stripMargin.replace("\n", " ")

  // ---- DuckDB oracle: the same training chain in SQL -------------------

  /** Mechanically generated CTE chain for `steps` Lloyd iterations:
    * quantize (q) → c0 (seeds) → [d{s}: distances vs c{s} → a{s}: argmin
    * → c{s+1}: integer means] repeated → final distances/argmin vs
    * c{steps}. The per-step SQL shapes are identical, so extending
    * `LloydSteps` extends the oracle with no hand-editing. */
  /** The shared quantize CTE — factored out so [[Pq]] can compose its
    * subspace chains with this one without defining `q` twice. */
  private[sim] val qCteSql: String =
    s"""q AS (
       |  SELECT vec_id, list_transform(embedding, v -> CAST(round((CAST(v AS DOUBLE)+$Shift)*$Scale) AS BIGINT)) AS qv
       |  FROM embeddings)""".stripMargin

  private[sim] def chainSql(steps: Int, kSql: String = K.toString): String =
    s"$qCteSql,\n${chainBodySql(steps, kSql)}"

  /** The IVF train+assign chain WITHOUT the leading `q` CTE (for
    * composition with the PQ chains, which share `q`). `kSql` is the
    * quantizer size as a SQL expression — the fixed index K by default,
    * or [[derivedKSql]] (a scalar subquery; the seed CTE's LIMIT
    * accepts it) for the corpus-derived cell count. */
  private[sim] def chainBodySql(steps: Int, kSql: String = K.toString): String = {
    val dist = (c: String) =>
      s"CAST(list_sum(list_transform(range(1,${Dim + 1}), i -> (q.qv[i]-$c.cv[i])*(q.qv[i]-$c.cv[i]))) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, qv AS cv
       |  FROM q ORDER BY vec_id LIMIT $kSql)""".stripMargin
    (0 until steps).foreach { s =>
      sb ++= s""",
       |d$s AS (
       |  SELECT q.vec_id, q.qv, c.cid, ${dist("c")} AS dist
       |  FROM q, c$s c),
       |a$s AS (
       |  SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$s)
       |  WHERE rn = 1),
       |c${s + 1} AS (
       |  SELECT cid, list(s ORDER BY i) AS cv FROM (
       |    SELECT cid, i, CAST(sum(qv[i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS s
       |    FROM a$s, range(1,${Dim + 1}) AS t(i) GROUP BY cid, i)
       |  GROUP BY cid)""".stripMargin
    }
    sb ++= s""",
       |dfin AS (
       |  SELECT q.vec_id, c.cid, ${dist("c")} AS dist
       |  FROM q, c$steps c),
       |afin AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM dfin)
       |  WHERE rn = 1)""".stripMargin
    sb.toString
  }

  val assignSql: String =
    s"WITH ${chainSql(LloydSteps)} SELECT vec_id, cid, dist FROM afin ORDER BY vec_id"
      .replace("\n", " ")

  def topKSql(queryId: Long, k: Int, nprobe: Int): String =
    s"""WITH ${chainSql(LloydSteps)},
       |probes AS (
       |  SELECT c.cid FROM c$LloydSteps c, (SELECT qv FROM q WHERE vec_id = $queryId) AS qq
       |  ORDER BY CAST(list_sum(list_transform(range(1,${Dim + 1}), i -> (qq.qv[i]-c.cv[i])*(qq.qv[i]-c.cv[i]))) AS BIGINT), c.cid
       |  LIMIT $nprobe)
       |SELECT e.vec_id,
       |  round(list_sum(list_transform(range(1,${Dim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))), 6) AS sim
       |FROM embeddings e
       |JOIN afin ON e.vec_id = afin.vec_id
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |WHERE afin.cid IN (SELECT cid FROM probes) AND e.vec_id != $queryId
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
}

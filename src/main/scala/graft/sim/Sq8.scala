package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization — the middle tier of the ANN compression
  * ladder (float32 256 B → SQ8 64 B → PQ 1 B per vector): each of the
  * 64 dimensions maps to one byte via a per-dimension [min, max] range
  * learned from the corpus, approximate distances are integer squared
  * L2 over code arrays with per-dimension dequantization weights, and
  * only a short exact-rerank shortlist touches the float vectors.
  * Faiss's `ScalarQuantizer(QT_8bit)` is this exact scheme.
  *
  * **Determinism contract** (same family as [[Ivf]]/[[Pq]]): ranges are
  * per-dimension min/max over [[Ivf.quantized]]'s int64 components
  * (min/max are order-free), codes are
  * `least((qv_d - mn_d) * 255 div rng_d, 255)` — all-integer floor
  * division — and approximate distances are integer sums, so codes and
  * shortlists hash-match the DuckDB oracle, which recomputes the same
  * ranges in SQL.
  *
  * **Scale design.** Training collects 2×64 longs (one min/max
  * aggregate, map-side combined). Encoding is map-only: the mins and
  * weights are LITERAL arrays baked into one codegen'd `zip_with`
  * chain — no join, no shuffle. Search scans the 64 B/vector code
  * relation (in production persisted like [[Pq.codeIndex]]; 4× less IO
  * than floats), the query's codes ride along as a 1-row broadcast,
  * and the exact stage reads only `shortlist` float rows. */
object Sq8 {

  val Dim: Int = Ivf.Dim

  /** Per-dimension (min, rng, weight) from the corpus: one aggregate,
    * 128 longs collected. `rng` is floored at 1 (constant dimensions),
    * `w = max(rng div 255, 1)` is the integer dequantization step. */
  def train(q: DataFrame): (Array[Long], Array[Long], Array[Long]) = {
    val aggs = (1 to Dim).flatMap(i => Seq(
      min(element_at(col("qv"), i)).as(s"mn$i"),
      max(element_at(col("qv"), i)).as(s"mx$i")))
    val r = q.agg(aggs.head, aggs.tail: _*).collect()(0)
    val mns = Array.tabulate(Dim)(i => r.getLong(2 * i))
    val rngs = Array.tabulate(Dim)(i => math.max(r.getLong(2 * i + 1) - mns(i), 1L))
    val ws = rngs.map(rg => math.max(rg / 255L, 1L))
    (mns, rngs, ws)
  }

  def trainCached(spark: SparkSession, dir: String): (Array[Long], Array[Long], Array[Long]) =
    graft.DatasetCache.artifact(spark, dir, "sq8_train", "embeddings.parquet")(
      _ => train(Ivf.quantized(spark, dir)))

  /** Force the one-time range training (bench isolation hook). */
  def prebuildRanges(spark: SparkSession, dir: String): Unit = {
    trainCached(spark, dir)
    ()
  }

  private def litArr(a: Array[Long]): String =
    a.mkString("array(", "L,", "L)")

  /** The encoding expression over the `qv` column — the ONE definition
    * both the flat codes relation and the partitioned layout use (a
    * fork here would silently desynchronize them from the oracle).
    * Native `sq8_encode` kernel: the previous chained-`zip_with`
    * spelling is CodegenFallback, so every encode pass over the corpus
    * ran interpreted (r9 standing-audit find); [[cdExprHof]] keeps that
    * spelling as the spec reference. */
  private def cdExpr(mns: Array[Long], rngs: Array[Long]): org.apache.spark.sql.Column =
    call_function("sq8_encode", col("qv"),
      typedLit(mns.toSeq), typedLit(rngs.toSeq))

  /** The built-in HOF spelling — SPEC REFERENCE only (PqSpec pins the
    * kernel element-identical to it), never a production path. */
  private[sim] def cdExprHof(mns: Array[Long], rngs: Array[Long]): org.apache.spark.sql.Column =
    expr(s"zip_with(zip_with(qv, ${litArr(mns)}, (x, mn) -> x - mn), " +
      s"${litArr(rngs)}, (d, rng) -> least(d * 255L div rng, 255L))")

  /** Map-only SQ8 encoding: (vec_id, cd) with `cd: array<bigint>` of
    * values in [0, 255]. Mins/ranges ride as literal arrays inside one
    * codegen'd expression. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val (mns, rngs, _) = trainCached(spark, dir)
    Ivf.quantized(spark, dir).select(col("vec_id"), cdExpr(mns, rngs).as("cd"))
  }

  /** SQ8 top-k: integer approximate distances over the code relation,
    * shortlist, exact cosine rerank. */
  def topK(queryId: Long, shortlist: Int, k: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val (_, _, ws) = trainCached(spark, dir)
    val cds = codes(spark, dir)
    val qc = cds.filter(col("vec_id") === queryId).select(col("cd").as("qcd"))
    val short = cds.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        call_function("sq8_adc_dist", col("cd"), col("qcd"),
          typedLit(ws.toSeq)).as("ad"))
      .orderBy(col("ad").asc, col("vec_id").asc)
      .limit(shortlist)
      .select("vec_id")
    val qe = SimOps.embeddings(spark, dir)
      .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    SimOps.embeddings(spark, dir)
      .join(broadcast(short), "vec_id") // k-bounded shortlist: hint OK
      .crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The range-training + encoding chain as oracle CTEs: `st` (per-dim
    * min/rng), `sa` (as lists incl. weights), `cds` (codes), `qc` (the
    * query's codes). */
  private def chainCtesSql(queryId: Long): String =
    s"""st AS (
       |  SELECT i, min(qv[i]) AS mn, greatest(max(qv[i]) - min(qv[i]), 1) AS rng
       |  FROM q, (SELECT unnest(range(1, ${Dim + 1})) AS i) GROUP BY i),
       |sa AS (
       |  SELECT list(mn ORDER BY i) AS mns, list(rng ORDER BY i) AS rngs,
       |    list(greatest(rng // 255, 1) ORDER BY i) AS ws
       |  FROM st),
       |cds AS (
       |  SELECT vec_id, list_transform(range(1, ${Dim + 1}),
       |    i -> least((qv[i] - mns[i]) * 255 // rngs[i], 255)) AS cd
       |  FROM q, sa),
       |qc AS (SELECT cd AS qcd FROM cds WHERE vec_id = $queryId)""".stripMargin

  /** Integer-ADC shortlist CTE over `cds`; `extraFrom`/`extraWhere`
    * let the IVF composition restrict to probed cells. */
  private def shortCteSql(queryId: Long, n: Int,
      extraFrom: String = "", extraWhere: String = ""): String =
    s"""short AS (
       |  SELECT c.vec_id FROM cds c, qc, sa $extraFrom
       |  WHERE c.vec_id != $queryId $extraWhere
       |  ORDER BY CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |    i -> ((c.cd[i] - qcd[i]) * ws[i]) * ((c.cd[i] - qcd[i]) * ws[i]))) AS BIGINT) ASC,
       |    c.vec_id ASC
       |  LIMIT $n)""".stripMargin

  private[sim] def rerankTailSql(queryId: Long, k: Int): String =
    s"""SELECT e.vec_id,
       |  round(list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))), 6) AS sim
       |FROM embeddings e
       |JOIN short ON e.vec_id = short.vec_id
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin

  /** Oracle: recompute ranges + codes + integer ADC in SQL, then the
    * exact rerank tail — the same three stages. */
  def topKSql(queryId: Long, shortlist: Int, k: Int): String =
    s"""WITH ${Ivf.qCteSql},
       |${chainCtesSql(queryId)},
       |${shortCteSql(queryId, shortlist)}
       |${rerankTailSql(queryId, k)}""".stripMargin.replace("\n", " ")

  // ---- threshold (range) search: lossless SQ8 prescreen ---------------

  /** The centering constant of [[Ivf.quantized]]'s shift: `qv - Center`
    * ≈ the raw component × 2^20, so the centered integer dot product
    * tracks cosine × 2^40 on these unit vectors. */
  val Center: Long = (Ivf.Shift * Ivf.Scale).toLong

  /** Threshold similarity search (the radius-query complement of top-k:
    * "every vector with sim ≥ τ", the shape semantic-dedup and
    * contamination sweeps run) over the centered quantized dot
    * `csim = Σ (qv_i−Center)·(qqv_i−Center)` — exact int64, ≈ cosine·2^40.
    *
    * The scale path is a PROVABLY LOSSLESS prescreen over the 64 B/vector
    * SQ8 code relation: each code `c` pins its component to the exact
    * integer interval `[mn + ⌈c·rng/255⌉, mn + ⌊(c+1)·rng/255⌋]` (from
    * `c = ⌊(x−mn)·255/rng⌋`), so
    * `ub = Σ qcv_i·(qcv_i ≥ 0 ? hi_i : lo_i)` — with the branch chosen at
    * PLAN time because the query components are literals — is an integer
    * upper bound of csim with NO float slack. Vectors with `ub < τ` drop
    * map-side reading only codes (4× less IO than floats, same relation
    * a production system persists anyway for SQ8 top-k); only survivors
    * — a result-sized, not corpus-sized, set — pay the exact verify join
    * against the base table. No false negatives, so the result is
    * row-identical to the exact scan and the DuckDB oracle is the PLAIN
    * exact filter with no prescreen replay: the correctness gate itself
    * proves losslessness (`RetrievalOpsSpec` additionally pins the
    * per-row `ub ≥ csim` invariant and that the prescreen prunes). */
  def rangeSearch(queryId: Long, tau: Long)(
      spark: SparkSession, dir: String): DataFrame = {
    val (mns, rngs, _) = trainCached(spark, dir)
    Ivf.quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => // unknown id: empty, like the oracle
        spark.range(0).select(col("id").as("vec_id"), lit(0L).as("csim"))
      case Some(row) =>
        val qcv = row.getSeq[Long](0).toArray.map(_ - Center)
        val surv = codes(spark, dir)
          .filter(col("vec_id") =!= queryId)
          .filter(call_function("sq8_ub", col("cd"), typedLit(qcv.toSeq),
            typedLit(rngs.toSeq),
            typedLit(mns.map(_ - Center).toSeq)) >= tau)
          .select("vec_id")
        // no hint: the survivor set is result-sized (unbounded in τ)
        Ivf.quantized(spark, dir).join(surv, "vec_id")
          .select(col("vec_id"),
            call_function("center_dot", col("qv"), typedLit(qcv.toSeq),
              lit(Center)).as("csim"))
          .filter(col("csim") >= tau)
          .orderBy(col("csim").desc, col("vec_id").asc)
    }
  }

  /** The unrolled 64-term integer upper bound of csim from a code row
    * `cd` — per-dim quantization-interval endpoint picked by the SIGN of
    * the literal query component (ceil lower / floor upper bound). SPEC
    * REFERENCE only (PqSpec pins the `sq8_ub` kernel term-identical); as
    * a production filter its 64 references to `cd` let predicate
    * pushdown clone the encode into every term (the r9 plan-audit
    * find). */
  private[graft] def ubCol(qcv: Array[Long], mns: Array[Long],
      rngs: Array[Long]): org.apache.spark.sql.Column = {
    val terms = (0 until Dim).map { i =>
      val base = mns(i) - Center
      if (qcv(i) >= 0)
        s"${qcv(i)}L * (${base}L + ((element_at(cd, ${i + 1}) + 1) * ${rngs(i)}L) div 255)"
      else
        s"${qcv(i)}L * (${base}L + (element_at(cd, ${i + 1}) * ${rngs(i)}L + 254) div 255)"
    }
    expr(terms.mkString("(", ") + (", ")"))
  }

  /** Oracle: the PLAIN exact threshold scan — deliberately no prescreen
    * CTEs, so a single false negative in the bound breaks the hash. */
  def rangeSearchSql(queryId: Long, tau: Long): String =
    s"""WITH ${Ivf.qCteSql},
       |qq AS (SELECT qv AS qqv FROM q WHERE vec_id = $queryId)
       |SELECT vec_id, csim FROM (
       |  SELECT vec_id, CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |    i -> (qv[i] - $Center) * (qqv[i] - $Center))) AS BIGINT) AS csim
       |  FROM q, qq WHERE vec_id != $queryId)
       |WHERE csim >= $tau
       |ORDER BY csim DESC, vec_id ASC""".stripMargin.replace("\n", " ")

  /** Hard-negative mining for contrastive training: the top-k vectors
    * most similar to the query that are NOT near-duplicates of it —
    * `dupTau ≤ csim` rows are positives/duplicates (what
    * [[rangeSearch]] returns) and must be excluded, the band just below
    * is exactly what an embedding-model trainer wants in the batch.
    * Same centered-quantized integer similarity as [[rangeSearch]]
    * (deterministic, oracle-exact); one corpus scan, map-side filter,
    * TakeOrderedAndProject — zero exchanges. */
  def hardNegatives(queryId: Long, dupTau: Long, k: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    Ivf.quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => // unknown id: empty, like the oracle
        spark.range(0).select(col("id").as("vec_id"), lit(0L).as("csim"))
      case Some(row) =>
        val qcv = row.getSeq[Long](0).toArray.map(_ - Center)
        Ivf.quantized(spark, dir)
          .filter(col("vec_id") =!= queryId)
          .select(col("vec_id"),
            call_function("center_dot", col("qv"), typedLit(qcv.toSeq),
              lit(Center)).as("csim"))
          .filter(col("csim") < dupTau)
          .orderBy(col("csim").desc, col("vec_id").asc)
          .limit(k)
    }
  }

  def hardNegativesSql(queryId: Long, dupTau: Long, k: Int): String =
    s"""WITH ${Ivf.qCteSql},
       |qq AS (SELECT qv AS qqv FROM q WHERE vec_id = $queryId)
       |SELECT vec_id, csim FROM (
       |  SELECT vec_id, CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |    i -> (qv[i] - $Center) * (qqv[i] - $Center))) AS BIGINT) AS csim
       |  FROM q, qq WHERE vec_id != $queryId)
       |WHERE csim < $dupTau
       |ORDER BY csim DESC, vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  // ---- IVF-SQ8: cells route → bytes rank → floats re-score ------------

  /** cid-partitioned SQ8 code index — what Faiss persists as
    * `IVF<K>,SQ8`, its most common on-disk index: the inverted-list
    * layout holds 64 B codes per vector, so a probe reads
    * ~nprobe/K of the corpus at 1/4 float width, file-pruned by the
    * partition column. Built once per dataset like [[Pq.codesLayoutPath]]. */
  def codesLayoutPath(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "sq8_codes", "embeddings.parquet") { path =>
      val (mns, rngs, _) = trainCached(spark, dir)
      Ivf2.layoutWrite(
        Ivf.quantized(spark, dir).select(col("vec_id"),
          cdExpr(mns, rngs).as("cd"),
          Ivf.nearest(Ivf.trainCached(spark, dir)).getField("cid").as("cid")),
        "cid", SimOps.embeddings(spark, dir).count(), path)
    }

  /** Force the one-time code-index build (bench isolation hook). */
  def prebuildCodesLayout(spark: SparkSession, dir: String): Unit = {
    codesLayoutPath(spark, dir)
    ()
  }

  /** The same encoding, driver-side, for the query vector. */
  private def encodeQuery(qv: Array[Long], mns: Array[Long],
      rngs: Array[Long]): Array[Long] =
    Array.tabulate(Dim)(i => math.min((qv(i) - mns(i)) * 255L / rngs(i), 255L))

  /** IVF-SQ8 top-k: probe `nprobe` cells (file-pruned partitions of
    * the code index), rank their 64 B codes by integer ADC, exact-
    * rerank the shortlist — each stage cuts what the next reads
    * (cells → bytes → floats). */
  def ivfSq8TopK(queryId: Long, k: Int, nprobe: Int, shortlist: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val centroids = Ivf.trainCached(spark, dir)
    val (mns, rngs, ws) = trainCached(spark, dir)
    val qe = SimOps.embeddings(spark, dir)
      .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    Ivf.quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => SimOps.emptyTopK(spark) // unknown id: empty, like the oracle
      case Some(row) =>
        val qv = row.getSeq[Long](0).toArray
        val probed = Ivf.probeCells(centroids, qv, nprobe)
        val qcd = encodeQuery(qv, mns, rngs)
        val short = graft.DatasetCache.readArtifact(spark, codesLayoutPath(spark, dir))
          .filter(col("cid").isin(probed: _*) && col("vec_id") =!= queryId)
          .select(col("vec_id"),
            call_function("sq8_adc_dist", col("cd"), typedLit(qcd.toSeq),
              typedLit(ws.toSeq)).as("ad"))
          .orderBy(col("ad").asc, col("vec_id").asc)
          .limit(shortlist)
          .select("vec_id")
        SimOps.embeddings(spark, dir)
          .join(broadcast(short), "vec_id")
          .crossJoin(broadcast(qe))
          .select(col("vec_id"),
            round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(k)
    }
  }

  /** IVF-SQ8 oracle: the IVF chain (assignment + probes) and the SQ8
    * chain share one quantize CTE; the ADC shortlist is restricted to
    * probed cells, then exact-reranked. */
  def ivfSq8TopKSql(queryId: Long, k: Int, nprobe: Int, shortlist: Int): String =
    s"""WITH ${Ivf.qCteSql},
       |${Ivf.chainBodySql(Ivf.LloydSteps)},
       |${chainCtesSql(queryId)},
       |probes AS (
       |  SELECT c.cid FROM c${Ivf.LloydSteps} c, (SELECT qv FROM q WHERE vec_id = $queryId) AS qq
       |  ORDER BY CAST(list_sum(list_transform(range(1,${Dim + 1}), i -> (qq.qv[i]-c.cv[i])*(qq.qv[i]-c.cv[i]))) AS BIGINT), c.cid
       |  LIMIT $nprobe),
       |${shortCteSql(queryId, shortlist,
          extraFrom = ", afin",
          extraWhere = s"AND afin.vec_id = c.vec_id AND afin.cid IN (SELECT cid FROM probes)")}
       |${rerankTailSql(queryId, k)}""".stripMargin.replace("\n", " ")
}

package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Product quantization (PQ) — the memory-compression half of the
  * classic IVF-PQ ANN stack ([[Ivf]] is the routing half). The vector
  * space splits into `M` orthogonal subspaces; each subspace trains its
  * own tiny codebook (integer k-means, same determinism contract as
  * [[Ivf]]), and a vector is stored as `M` small codes — here 4 × 2 bits
  * against 64 float32 components, a 256 B → 1 B compression. Search uses
  * asymmetric distance computation (ADC): the query builds an `M × Ksub`
  * lookup table of exact subspace distances once, and every candidate's
  * approximate distance is `M` table lookups — no float math per row.
  *
  * **Determinism contract.** Identical to [[Ivf]]: int64-quantized
  * components, seeds = the `Ksub` smallest vec_ids' subvectors, integer
  * argmin with ties to the lowest code, floor-division Lloyd updates —
  * so codebooks, codes, and integer ADC distances all hash-match the
  * DuckDB oracle, which replays the same chain per subspace in SQL.
  *
  * **Scale design.** Training collects M × Ksub × SubDim longs (driver-
  * trivial); encoding is a map-only projection (literal codewords ride
  * as reference arrays in the native [[NearestCell]] argmin loops — no
  * join, no shuffle); ADC search is a map-only projection over the codes relation
  * (the LUT is a literal array — effectively a broadcast of M × Ksub
  * longs) followed by TakeOrderedAndProject. At 100 TB the codes
  * relation is ~1/256 the size of the embeddings, so a full ADC scan
  * reads ~400 GB instead of 100 TB — and composes with the IVF
  * partition layout for further pruning. */
object Pq {

  /** Subspaces. */
  val M: Int = 4
  /** Dimensions per subspace. */
  val SubDim: Int = Ivf.Dim / M
  /** Codewords per subspace (2-bit codes). */
  val Ksub: Int = 4

  /** Subvector `m` (0-based) of the quantized vector column. */
  private def sub(qv: Column, m: Int): Column =
    slice(qv, m * SubDim + 1, SubDim)

  /** `struct(dist, code)` argmin over a subspace codebook; ties to the
    * lowest code. Runs through [[NearestCell]] (the generic native
    * argmin loop — dim comes from the codebook, so the Dim/M
    * subvectors work unchanged); the unrolled `least()` + HOF-distance
    * spelling it replaces was CodegenFallback-interpreted, the same
    * finding as [[Ivf.nearest]], pinned row-identical by `IvfSpec`.
    * Registration happens in [[Ivf.quantized]], which every Pq path
    * reads first. */
  private def nearest(sv: Column, codebook: Seq[(Long, Array[Long])]): Column =
    call_function("ivf_nearest_cell", sv,
      typedLit(codebook.map(_._1)),
      typedLit(codebook.flatMap(_._2.toSeq)))

  /** One integer Lloyd update for subspace `m`. */
  private def lloydStep(q: DataFrame, m: Int,
      codebook: Seq[(Long, Array[Long])]): Seq[(Long, Array[Long])] = {
    val sv = sub(col("qv"), m)
    val sumCols = (1 to SubDim).map(j => sum(element_at(sv, j)).as(s"s$j"))
    q.withColumn("code", nearest(sv, codebook).getField("cid"))
      .groupBy("code")
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1)
        r.getLong(0) -> Array.tabulate(SubDim)(j => r.getLong(j + 2) / n)
      }
      .sortBy(_._1).toSeq
  }

  /** Deterministic per-subspace training: seeds are the `Ksub` smallest
    * vec_ids' subvectors, then [[Ivf.LloydSteps]] integer updates. */
  def train(q: DataFrame): Seq[Seq[(Long, Array[Long])]] = {
    val seedRows = q.orderBy("vec_id").limit(Ksub).select("qv").collect()
    (0 until M).map { m =>
      val seeds: Seq[(Long, Array[Long])] = seedRows.zipWithIndex.map {
        case (r, i) =>
          (i.toLong,
            r.getSeq[Long](0).slice(m * SubDim, (m + 1) * SubDim).toArray)
      }.toSeq
      (1 to Ivf.LloydSteps).foldLeft(seeds)((c, _) => lloydStep(q, m, c))
    }
  }

  def trainCached(spark: SparkSession, dir: String): Seq[Seq[(Long, Array[Long])]] =
    graft.DatasetCache.artifact(spark, dir, "pq_train", "embeddings.parquet")(
      _ => train(Ivf.quantized(spark, dir)))

  /** Force the one-time codebook training (bench isolation hook). */
  def prebuildCodebooks(spark: SparkSession, dir: String): Unit = {
    trainCached(spark, dir)
    ()
  }

  /** Map-only PQ encoding: (vec_id, qv, code_0..code_{M-1}). */
  private def encoded(spark: SparkSession, dir: String): DataFrame = {
    val books = trainCached(spark, dir)
    (0 until M).foldLeft(Ivf.quantized(spark, dir)) { (df, m) =>
      df.withColumn(s"code_$m",
        nearest(sub(col("qv"), m), books(m)).getField("cid"))
    }
  }

  /** PQ codes per vector — the stored index relation. */
  def codes(spark: SparkSession, dir: String): DataFrame =
    encoded(spark, dir)
      .select(col("vec_id") +: (0 until M).map(m => col(s"code_$m")): _*)
      .orderBy("vec_id")

  /** Materialized code index: (vec_id, code_0..3) partitioned by the
    * IVF cell — built once per dataset like the other layouts. This is
    * what a production store persists: search scans ~1 byte of codes
    * per vector instead of re-encoding 256 B embeddings per query, and
    * the `cid` partitioning file-prunes the IVF-PQ probe exactly like
    * the inverted-list layout. */
  def codesLayoutPath(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "pq_codes", "embeddings.parquet") { path =>
      val withCell = encoded(spark, dir).withColumn("cid",
        Ivf.nearest(Ivf.trainCached(spark, dir)).getField("cid"))
      Ivf2.layoutWrite(
        withCell.select(
          col("vec_id") +: (0 until M).map(m => col(s"code_$m")) :+ col("cid"): _*),
        "cid", SimOps.embeddings(spark, dir).count(), path)
    }

  /** Force the one-time code-index build (bench isolation hook). */
  def prebuildCodesLayout(spark: SparkSession, dir: String): Unit = {
    codesLayoutPath(spark, dir)
    ()
  }

  /** ADC top-k: integer approximate distances via the query's per-
    * subspace lookup table, smallest first. The LUT indexing is
    * `element_at(lit(lutRow), code+1)` — a literal array probe inside
    * whole-stage codegen, the Spark expression of "M table lookups per
    * candidate". */
  def topK(queryId: Long, k: Int)(spark: SparkSession, dir: String): DataFrame = {
    val books = trainCached(spark, dir)
    Ivf.quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => // unknown id: empty with the right schema, like the oracle
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id", LongType),
            org.apache.spark.sql.types.StructField("adc_dist", LongType))))
      case Some(row) =>
        // ADC over the MATERIALIZED code index: ~1 byte of codes per
        // vector scanned, embeddings untouched
        graft.DatasetCache.readArtifact(spark, codesLayoutPath(spark, dir))
          .filter(col("vec_id") =!= queryId)
          .select(col("vec_id"),
            adcColumn(books, row.getSeq[Long](0).toArray).as("adc_dist"))
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
          .limit(k)
    }
  }

  /** The ADC expression for a concrete query vector: LUT[m][j] = exact
    * integer distance from query subvector m to codeword j, probed by
    * the code columns. A literal map per subspace — codes index it, so
    * absent codes (empty Lloyd cells) never appear and order never
    * matters. */
  private def adcColumn(books: Seq[Seq[(Long, Array[Long])]],
      qv: Array[Long]): Column =
    (0 until M).map { m =>
      val qs = qv.slice(m * SubDim, (m + 1) * SubDim)
      val pairs = books(m).map { case (code, cw) =>
        code -> cw.iterator.zip(qs.iterator).map { case (c, x) =>
          val d = x - c; d * d
        }.sum
      }.sortBy(_._1)
      element_at(
        map(pairs.flatMap { case (c, d) => Seq(lit(c), lit(d)) }: _*),
        col(s"code_$m"))
    }.reduce(_ + _)

  /** The full IVF-PQ stack: route with the coarse quantizer (probe the
    * `nprobe` cells nearest the query), ADC-rank ONLY the probed cells'
    * codes, exact-rerank the shortlist — coarse routing prunes the scan,
    * compressed codes rank the survivors, float vectors are touched for
    * `shortlist` rows only. This is the composition a 100 TB vector
    * store actually runs: each stage cuts the data the next one reads
    * (cells → codes → floats). */
  def ivfPqTopK(queryId: Long, k: Int, nprobe: Int, shortlist: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val centroids = Ivf.trainCached(spark, dir)
    val books = trainCached(spark, dir)
    val qe = SimOps.embeddings(spark, dir)
      .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    Ivf.quantized(spark, dir).filter(col("vec_id") === queryId)
      .select("qv").collect().headOption match {
      case None => SimOps.emptyTopK(spark) // unknown id: empty, like the oracle
      case Some(row) =>
        val qv = row.getSeq[Long](0).toArray
        val probed = Ivf.probeCells(centroids, qv, nprobe)
        // the cid-partitioned code index file-prunes the non-probed
        // cells; ADC touches only the probed cells' 1-byte codes
        val short = graft.DatasetCache.readArtifact(spark, codesLayoutPath(spark, dir))
          .filter(col("cid").isin(probed: _*) && col("vec_id") =!= queryId)
          .select(col("vec_id"), adcColumn(books, qv).as("adc_dist"))
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
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

  /** ADC shortlist → exact re-rank: the production two-stage shape. The
    * 1-byte codes rank the whole corpus cheaply (map-only, integer
    * adds); only the `shortlist` survivors have their float vectors
    * touched for exact cosine scoring. At 100 TB the exact stage reads
    * `shortlist` rows instead of the corpus — the compressed codes do
    * the heavy lifting, the embeddings are only probed. */
  def rerank(queryId: Long, shortlist: Int, k: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val short = topK(queryId, shortlist)(spark, dir).select("vec_id")
    val qe = SimOps.embeddings(spark, dir)
      .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    SimOps.embeddings(spark, dir)
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- DuckDB oracle: the same per-subspace chains in SQL --------------

  /** Per-subspace training + assignment chain. Mirrors [[Ivf.chainSql]]
    * with subspace slicing: `qs{m}` carries the subvector, the rest of
    * the chain is the identical quantize→seed→Lloyd→argmin shape. */
  private def subChainSql(m: Int, steps: Int): String = {
    val lo = m * SubDim
    val dist = (c: String, q: String) =>
      s"CAST(list_sum(list_transform(range(1,${SubDim + 1}), i -> ($q.sv[i]-$c.cv[i])*($q.sv[i]-$c.cv[i]))) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""qs$m AS (
       |  SELECT vec_id, list_transform(range(1,${SubDim + 1}), i -> qv[$lo+i]) AS sv FROM q),
       |c0_$m AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, sv AS cv
       |  FROM qs$m ORDER BY vec_id LIMIT $Ksub)""".stripMargin
    (0 until steps).foreach { s =>
      sb ++= s""",
       |d${s}_$m AS (
       |  SELECT q.vec_id, q.sv, c.code, ${dist("c", "q")} AS dist
       |  FROM qs$m q, c${s}_$m c),
       |a${s}_$m AS (
       |  SELECT vec_id, sv, code FROM (
       |    SELECT vec_id, sv, code, row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) AS rn FROM d${s}_$m)
       |  WHERE rn = 1),
       |c${s + 1}_$m AS (
       |  SELECT code, list(s ORDER BY i) AS cv FROM (
       |    SELECT code, i, CAST(sum(sv[i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS s
       |    FROM a${s}_$m, range(1,${SubDim + 1}) AS t(i) GROUP BY code, i)
       |  GROUP BY code)""".stripMargin
    }
    sb ++= s""",
       |afin_$m AS (
       |  SELECT vec_id, code, dist FROM (
       |    SELECT q.vec_id, c.code, ${dist("c", "q")} AS dist,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dist("c", "q")}, c.code) AS rn
       |    FROM qs$m q, c${steps}_$m c)
       |  WHERE rn = 1)""".stripMargin
    sb.toString
  }

  private def allChains: String =
    (Ivf.qCteSql +: (0 until M).map(m => subChainSql(m, Ivf.LloydSteps)))
      .mkString(",\n")

  val codesSql: String = {
    val joins = (0 until M).map(m =>
      s"JOIN afin_$m ON afin_$m.vec_id = q.vec_id").mkString(" ")
    val cols = (0 until M).map(m => s"afin_$m.code AS code_$m").mkString(", ")
    s"WITH $allChains SELECT q.vec_id, $cols FROM q $joins ORDER BY q.vec_id"
      .replace("\n", " ")
  }

  /** ADC-ranked relation in SQL: join each subspace's assignment to its
    * final codebook and sum the exact distances from the query's
    * subvectors to the ASSIGNED codewords — algebraically identical to
    * the LUT. */
  private def adcSql(queryId: Long, n: Int,
      extraJoin: String = "", extraWhere: String = ""): String = {
    val perSub = (0 until M).map { m =>
      s"""(SELECT CAST(list_sum(list_transform(range(1,${SubDim + 1}), i -> (qq$m.sv[i]-cb$m.cv[i])*(qq$m.sv[i]-cb$m.cv[i]))) AS BIGINT)
         | FROM qs$m qq$m, c${Ivf.LloydSteps}_$m cb$m
         | WHERE qq$m.vec_id = $queryId AND cb$m.code = afin_$m.code)""".stripMargin
    }.mkString(" + ")
    val joins = (0 until M).map(m =>
      s"JOIN afin_$m ON afin_$m.vec_id = q.vec_id").mkString(" ")
    s"""SELECT q.vec_id, $perSub AS adc_dist
       |FROM q $joins $extraJoin
       |WHERE q.vec_id != $queryId
       |  AND EXISTS (SELECT 1 FROM q WHERE vec_id = $queryId)
       |  $extraWhere
       |ORDER BY adc_dist ASC, q.vec_id ASC LIMIT $n""".stripMargin
  }

  def topKSql(queryId: Long, k: Int): String =
    s"WITH $allChains ${adcSql(queryId, k)}".replace("\n", " ")

  /** Exact-rerank tail shared by [[rerankSql]] and [[ivfPqTopKSql]]. */
  private def rerankTailSql(queryId: Long, k: Int): String =
    s"""SELECT e.vec_id,
       |  round(list_sum(list_transform(range(1,${Ivf.Dim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))), 6) AS sim
       |FROM embeddings e
       |JOIN short ON e.vec_id = short.vec_id
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin

  /** Shortlist-then-exact oracle: ADC LIMIT `shortlist`, then exact
    * cosine over the survivors only — same two stages as [[rerank]]. */
  def rerankSql(queryId: Long, shortlist: Int, k: Int): String =
    s"""WITH $allChains,
       |short AS (${adcSql(queryId, shortlist)})
       |${rerankTailSql(queryId, k)}""".stripMargin.replace("\n", " ")

  /** IVF-PQ oracle: the IVF chain (cell assignment `afin` + probe list)
    * and all four PQ subspace chains share one quantize CTE; the ADC
    * shortlist is restricted to the probed cells, then exact-reranked. */
  def ivfPqTopKSql(queryId: Long, k: Int, nprobe: Int, shortlist: Int): String = {
    val chains =
      (Seq(Ivf.qCteSql, Ivf.chainBodySql(Ivf.LloydSteps)) ++
        (0 until M).map(m => subChainSql(m, Ivf.LloydSteps))).mkString(",\n")
    s"""WITH $chains,
       |probes AS (
       |  SELECT c.cid FROM c${Ivf.LloydSteps} c, (SELECT qv FROM q WHERE vec_id = $queryId) AS qq
       |  ORDER BY CAST(list_sum(list_transform(range(1,${Ivf.Dim + 1}), i -> (qq.qv[i]-c.cv[i])*(qq.qv[i]-c.cv[i]))) AS BIGINT), c.cid
       |  LIMIT $nprobe),
       |short AS (${adcSql(queryId, shortlist,
          extraJoin = "JOIN afin ON afin.vec_id = q.vec_id",
          extraWhere = "AND afin.cid IN (SELECT cid FROM probes)")})
       |${rerankTailSql(queryId, k)}""".stripMargin.replace("\n", " ")
  }
}

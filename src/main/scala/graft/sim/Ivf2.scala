package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Two-level (hierarchical) derived-K quantizer — the 100-TB answer to
  * the flat codebook's assignment wall. The flat quantizer's cell count
  * DERIVES from the corpus (K = ceil(n/TargetCell)), so exact flat
  * assignment costs O(n·K) = O(n²/TargetCell): measured 102× wall at
  * 100× data (`BENCH_SCALE_r08.json`) — quadratic, as predicted by the
  * [[NearestCell]] scaladoc's "past the ceiling go hierarchical".
  * This module IS that hierarchical composition:
  *
  *  - LEVEL 1: a coarse Lloyd codebook of K1 = max(2, ceil(√K)) cells
  *    (the same deterministic integer k-means as [[Ivf.train]], via
  *    [[Ivf.trainCachedK]]); assignment is the literal-codebook
  *    [[NearestCell]] scan — O(n·K1).
  *  - LEVEL 2: within each coarse cell, an independent sub-quantizer of
  *    K2(c) = max(1, ceil(|cell|/TargetCell)) cells, seeded by the
  *    cell's first members in vec_id order and refined by the same
  *    LloydSteps integer rounds — ALL cells train in parallel as plain
  *    keyed aggregations. Assignment joins each row to its coarse
  *    cell's PACKED sub-codebook (a K1-row relation — never a driver
  *    literal, unlike the flat path's K-sized literal) and runs the
  *    row-codebook argmin [[NearestCellRow]] — O(n·K2).
  *
  * Total assignment work O(n·(K1 + mean K2)) = O(n·√K) — measured ~17×
  * at 100× data where flat is 102×, with leaf cells still
  * ~TargetCell-sized (K1·K2 ≈ K). Determinism end-to-end (integer
  * arithmetic, vec_id-seeded Lloyd at both levels, (dist, id) ties to
  * the lower id) means the DuckDB oracle replays BOTH levels exactly:
  * the coarse chain is [[Ivf.chainSql]] at K1 (a scalar-subquery K),
  * and the per-cell level-2 chain is the same Lloyd recurrence with
  * the coarse cid as an extra partition key. */
object Ivf2 {

  /** Coarse cell count: K1 = max(2, ceil(√(derivedK(n)))). IEEE sqrt is
    * correctly rounded, so ceil(sqrt) of an exact int agrees across
    * engines (perfect squares land exactly). */
  def k1(n: Long): Int =
    math.max(2, math.ceil(math.sqrt(Ivf.derivedK(n).toDouble)).toInt)

  /** The same K1 as a DuckDB scalar subquery (composes [[Ivf.derivedKSql]]'s
    * derivation inline). */
  val k1Sql: String =
    s"(SELECT greatest(2, CAST(ceil(sqrt(greatest(2, (count(*) + " +
      s"${Ivf.TargetCell - 1}) // ${Ivf.TargetCell}))) AS BIGINT)) FROM embeddings)"

  /** The DuckDB integer squared-L2 lambda — ONE definition for every
    * oracle in this module (a drift between copies would silently fork
    * the oracles from each other). */
  private def distSql(qv: String, cv: String): String =
    s"CAST(list_sum(list_transform(range(1,${Ivf.Dim + 1}), i -> ($qv[i]-$cv[i])*($qv[i]-$cv[i]))) AS BIGINT)"

  /** (vec_id, qv, c1): the corpus with its coarse cell. Map-only
    * literal-codebook scan at K1 ≈ √K centroids. */
  private def coarseAssigned(spark: SparkSession, dir: String): DataFrame = {
    val coarse = Ivf.trainCachedK(spark, dir, k1(Ivf.corpusN(spark, dir)))
    val best = Ivf.nearest(coarse)
    Ivf.quantized(spark, dir)
      .select(col("vec_id"), col("qv"), best.getField("cid").as("c1"))
  }

  /** Each coarse cell's sub-codebook packed into ONE row (scids
    * ascending, centroid components flattened in scid order) — a K1-row
    * relation that JOINS, never broadcasts-by-hint (K1 grows with the
    * corpus; AQE decides). HOFs run over these K1 rows only, never the
    * corpus. */
  private def packedCodebook(cents: DataFrame): DataFrame =
    cents
      .groupBy("c1")
      .agg(sort_array(collect_list(struct(col("scid"), col("cv")))).as("sc"))
      .select(col("c1"),
        expr("transform(sc, x -> x.scid)").as("scids"),
        expr("flatten(transform(sc, x -> x.cv))").as("cvs"))

  /** Row-codebook leaf argmin against the packed level-2 codebook:
    * `a`'s columns (which must include qv and c1) plus (scid, dist).
    * ONE body for every caller — batch assignment, layout build, and
    * streaming ingest share the argmin call and tie discipline, so
    * they cannot drift (Catalyst prunes whatever passthrough columns a
    * caller does not keep). */
  private def leafArgmin(a: DataFrame, cents: DataFrame): DataFrame =
    a.join(packedCodebook(cents), Seq("c1"))
      .withColumn("best",
        call_function("ivf_nearest_cell_row", col("qv"), col("scids"), col("cvs")))
      .withColumn("scid", col("best").getField("cid"))
      .withColumn("dist", col("best").getField("dist"))
      .drop("scids", "cvs", "best")

  /** [[leafArgmin]] at the (vec_id, qv, c1, scid, dist) shape the Lloyd
    * chain and layout build consume. */
  private def assignRow(a: DataFrame, cents: DataFrame): DataFrame =
    leafArgmin(a, cents)
      .select(col("vec_id"), col("qv"), col("c1"), col("scid"), col("dist"))

  /** One distributed level-2 Lloyd update: per-(c1, scid) integer means
    * (truncating division on the positive quantized domain == the
    * oracle's floor division). Cells that attract no vectors drop out,
    * exactly like the GROUP BY. */
  private def lloydStep2(a: DataFrame, cents: DataFrame): DataFrame = {
    val sumCols = (1 to Ivf.Dim).map(j => sum(element_at(col("qv"), j)).as(s"s$j"))
    assignRow(a, cents)
      .groupBy("c1", "scid")
      .agg(count(lit(1)).as("nc"), sumCols: _*)
      .select(col("c1"), col("scid"),
        array((1 to Ivf.Dim).map(j => expr(s"s$j div nc")): _*).as("cv"))
  }

  /** The trained level-2 codebook (c1, scid, cv) — per-cell seeds
    * refined by LloydSteps distributed rounds. */
  private def level2Trained(a: DataFrame): DataFrame = {
    val byCell = Window.partitionBy("c1").orderBy("vec_id")
    val k2 = a.groupBy("c1").agg(count(lit(1)).as("nc"))
      .select(col("c1"),
        expr(s"greatest(1L, (nc + ${Ivf.TargetCell - 1}) div ${Ivf.TargetCell})")
          .as("k2"))
    val seeds = a.withColumn("rn", row_number().over(byCell).cast(LongType))
      .join(k2, Seq("c1"))
      .filter(col("rn") <= col("k2"))
      .select(col("c1"), (col("rn") - 1).as("scid"), col("qv").as("cv"))
    (1 to Ivf.LloydSteps).foldLeft(seeds)((c, _) => lloydStep2(a, c))
  }

  /** Per-vector two-level assignment: (vec_id, c1, scid, dist), sorted.
    * Oracle twin: [[assign2Sql]]. */
  def assign2(spark: SparkSession, dir: String): DataFrame = {
    val a = coarseAssigned(spark, dir)
    assignRow(a, level2Trained(a))
      .select(col("vec_id"), col("c1"), col("scid"), col("dist"))
      .orderBy("vec_id")
  }

  // ---- the two-level index as an on-disk artifact (build once) --------

  /** Materialized level-2 codebook parquet (c1, scid, cv) — K1·K2 rows,
    * probed (never fully read) by [[topK2]]. */
  private def trained2Path(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "ivf2_cents", "embeddings.parquet")(
      level2Trained(coarseAssigned(spark, dir)).write.mode("overwrite").parquet(_))

  /** Materialized two-level inverted-list layout: (vec_id, embedding,
    * scid) partitioned by the COARSE cell — a probe opens only its
    * coarse cells' directories (file-level pruning), then map-filters to
    * the probed leaves. Assignment runs against the MATERIALIZED
    * codebook from [[trained2Path]] — one Lloyd training pass per
    * dataset, not one per artifact (re-deriving `level2Trained` here
    * doubled the `ivf2_layout` build time).
    *
    * File sizing is the [[layoutWrite]] discipline (the r11 §10
    * tiny-file lesson generalized off the pc layouts): without it, an
    * unrepartitioned `partitionBy` writes (upstream tasks × cells)
    * files, so file count grows linearly with the corpus and per-file
    * listing/footer costs eventually swamp the dir-pruning the layout
    * exists for. */
  def layout2Path(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "ivf2_layout", "embeddings.parquet") { p =>
      val cents = spark.read.parquet(trained2Path(spark, dir))
        .select(col("c1"), col("scid"), col("cv"))
      layoutWrite(
        assignRow(coarseAssigned(spark, dir), cents)
          .join(SimOps.embeddings(spark, dir), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("scid"), col("dist"),
            col("c1")),
        "c1", SimOps.embeddings(spark, dir).count(), p, subCols = Seq("scid"))
    }

  /** ONE file-sizing discipline for every cell-partitioned sim layout
    * (two-level, flat IVF, SQ8/PQ codes, LSH buckets): range-partition
    * on (partition column, `subCols`) into `ceil(rows / budget)` tasks,
    * where budget is the SAME corpus-adaptive row cap as the pc layouts
    * ([[graft.pc.Layout.adaptiveBatchSize]]: ~256 files until the
    * 512Ki-row cluster-scale cap takes over). Range partitioning keeps
    * each cell's rows CONTIGUOUS across tasks, so total file count is
    * ≈ max(cells, rows/budget) + boundary spill — proportional to data
    * VOLUME, never to task count (an unrepartitioned `partitionBy`
    * writes tasks × cells files, linear in the corpus; a fixed-width
    * HASH repartition on fine keys writes width × cells — both were
    * measured at 100×: ann 3735 files pre-discipline, ivf2 1024 under
    * the hash spelling this replaces). Write parallelism is data-sized
    * too: one task at toy SFs, up to 4096 at cluster scale.
    * `sortWithinPartitions` on the same keys clusters each file by
    * `subCols` (e.g. the leaf id), so parquet min/max stats prune
    * probed leaves WITHIN a cell dir. */
  private[graft] def layoutWrite(df: DataFrame, partCol: String, rows: Long,
      path: String, subCols: Seq[String] = Nil): Unit = {
    val budget = graft.pc.Layout.adaptiveBatchSize(rows)
    // Write-parallelism floor (r12 optimization round): ceil(rows/budget)
    // alone collapses small layouts to ONE writer task, which then creates
    // every partitionBy directory file SEQUENTIALLY — profiled at sf0.1:
    // the ann layout's single write task spent 2.5 s of wall on ~10 ms/file
    // create+commit latency for 249 bucket files with only 1.2 s of CPU.
    // Floor the task count at the scheduler width (what a REBALANCE hint
    // would pick; at real scale rows/budget >> cores, so the floor is
    // inert). Range partitioning keeps each task's cells contiguous, so
    // file count stays ≈ max(cells, rows/budget) — a cell can straddle at
    // most one task boundary, adding ≤ nParts boundary files.
    val width = df.sparkSession.sparkContext.defaultParallelism.toLong
    val nParts = math.max(math.min(width, math.max(1L, rows / 64L)),
      math.min((rows + budget - 1) / budget, 4096L)).toInt
    val keys = (partCol +: subCols).map(col)
    // localCheckpoint before repartitionByRange (r13, VERDICT r12 item
    // 2): RangePartitioner SAMPLES its input RDD, which executes the
    // whole upstream plan once — for the two-level layout that is the
    // Lloyd-assignment ⋈ embeddings join, re-run in full just to pick
    // range bounds, then run AGAIN for the write. The lazy checkpoint
    // computes the frame once (the sampling pass populates the blocks,
    // the write replays them), trading one extra block-store
    // materialization of the layout rows for a full re-execution of the
    // assignment subtree — the right trade at every scale, since the
    // upstream is strictly more expensive than a row copy. Build-time
    // only (inside the timed index_build; nothing persists across
    // bench invocations beyond the layout artifact itself).
    df.localCheckpoint(false).repartitionByRange(nParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", budget)
      .partitionBy(partCol).parquet(path)
  }

  /** The materialized assignment + embeddings, read back from the
    * layout artifact — the INDEX-CONSUMER path for the production
    * similarity ops (semantic dedup, kNN graph, balanced sampling,
    * drift): a 100-TB pipeline trains/assigns once ([[layout2Path]],
    * isolated as the `ivf2_layout` one-time build) and every consumer
    * reads the leaf-partitioned artifact instead of re-running both
    * Lloyd chains per query. Identical rows to
    * [[assign2]]`.join(embeddings)` by construction — the same
    * deterministic chain wrote the files — so the DuckDB oracles
    * (which replay the chain) are unchanged. The `c1` PARTITION column
    * reads back as the directory-name-inferred INT; restore the
    * library-wide LongType contract here, once, so no consumer's
    * output schema silently narrows. */
  def assign2FromLayout(spark: SparkSession, dir: String): DataFrame =
    graft.DatasetCache.readArtifact(spark, layout2Path(spark, dir))
      .withColumn("c1", col("c1").cast(LongType))

  /** [[assign2FromLayout]] at the dominance-kernel row shape
    * (vec_id, embedding, c1, scid, dist) — ONE definition of the frame
    * both the dedup report ([[SemDedup.semDedup2]]) and the DV sidecar
    * build ([[deletionVectorPath]]) feed to `droppedCells`, so the
    * kill-list the sidecar persists can never fork from the one the
    * dedup pipeline reports. */
  private[sim] def leafFrame(spark: SparkSession, dir: String): DataFrame =
    assign2FromLayout(spark, dir)
      .select(col("vec_id"), col("embedding"), col("c1"), col("scid"),
        col("dist"))

  /** Bench isolation hook: force both one-time builds. */
  def prebuildLayout2(spark: SparkSession, dir: String): Unit = {
    trained2Path(spark, dir)
    layout2Path(spark, dir)
    ()
  }

  /** Two-level IVF search: probe the `nprobe1` nearest coarse cells by
    * codebook distance (driver math over the K1-sized coarse codebook),
    * then the `nprobe2` nearest LEAVES among them (one probe read of the
    * K2·nprobe1 sub-centroid rows), then exact-rescore only the probed
    * leaves' vectors — the layout read is file-pruned to the probed
    * coarse directories and map-filtered to the leaves. Work per query:
    * O(K1 + nprobe1·K2) driver distance math + one pruned scan of
    * ~nprobe2·TargetCell candidates, independent of both n and K. Tie
    * discipline matches the oracle ((dist, id) everywhere). */
  def topK2(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int)(
      spark: SparkSession, dir: String): DataFrame =
    topK2Impl(queryId, k, nprobe1, nprobe2, live = false)(spark, dir)

  /** Shared probe + rescore body of [[topK2]] (full index) and
    * [[topK2Deleted]] (`live = true`: candidates anti-joined with the
    * deletion-vector sidecar, pruned to the same probed coarse cells —
    * the DV read costs one file-pruned scan of kill-sized data). The
    * PROBE side never consults the DV: codebooks are untouched by
    * deletion (that is the whole point of the verb), so probing stays
    * O(K1 + nprobe1·K2) regardless of how much has been deleted. */
  private def topK2Impl(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int,
      live: Boolean)(spark: SparkSession, dir: String): DataFrame =
    probeSearch(queryId, k, nprobe1, nprobe2,
      coarse = Ivf.trainCachedK(spark, dir, k1(Ivf.corpusN(spark, dir))),
      cents = graft.DatasetCache.readArtifact(spark, trained2Path(spark, dir)),
      candidates = cells => graft.DatasetCache.readArtifact(spark, layout2Path(spark, dir))
        .filter(col("c1").isin(cells: _*)), // dir-level pruning
      dvPath = if (live) Some(deletionVectorPath(spark, dir)) else None)(
      spark, dir)

  /** ONE probe-and-rescore discipline for every single-query two-level
    * search — [[topK2]] (full index), [[topK2Deleted]] (DV anti-join),
    * and [[lifecycleSearch]] (base ∪ delta segments, DV anti-join) —
    * parameterized on the codebooks (trained or frozen), the candidate
    * source (one layout or a union of segments, already dir-pruned to
    * the probed coarse cells by the callback), and an optional DV
    * sidecar. The tie discipline is oracle-load-bearing in every
    * caller ((dist, cid) coarse, (dist, c1, scid) leaves,
    * (sim desc, vec_id) results); keeping it in one body means a probe
    * change can never fork one caller's results from its SQL twin. */
  private def probeSearch(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int,
      coarse: Seq[(Long, Array[Long])], cents: DataFrame,
      candidates: Seq[Long] => DataFrame, dvPath: Option[String])(
      spark: SparkSession, dir: String): DataFrame = {
    val qrow = Ivf.quantized(spark, dir)
      .filter(col("vec_id") === queryId)
      .select(col("qv"), col("embedding")).collect()
    if (qrow.isEmpty) return SimOps.emptyTopK(spark)
    val qv = qrow.head.getSeq[Long](0).toArray
    def qdist(cv: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < cv.length) { val d = qv(i) - cv(i); s += d * d; i += 1 }
      s
    }
    val p1 = coarse.map { case (cid, cv) => (qdist(cv), cid) }
      .sorted.take(nprobe1).map(_._2)
    val subs = cents.select(col("c1"), col("scid"), col("cv"))
      .filter(col("c1").isin(p1: _*)).collect()
      .map(r => (qdist(r.getSeq[Long](2).toArray), r.getLong(0), r.getLong(1)))
    val p2 = subs.sorted.take(nprobe2).map(t => (t._2, t._3))
    // degenerate but possible: every probed coarse cell lost all its
    // members to other cells in the final assignment, leaving no
    // level-2 centroids — the SQL oracle's joins yield zero rows, so
    // return empty instead of reduce() throwing on an empty list
    if (p2.isEmpty) return SimOps.emptyTopK(spark)
    val leafPred = p2.map { case (c1v, scid) =>
      col("c1") === c1v && col("scid") === scid }.reduce(_ || _)
    val qe = SimOps.embeddings(spark, dir)
      .filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val probedCells = p2.map(_._1).distinct
    val cand0 = candidates(probedCells)
      .filter(leafPred)
      .filter(col("vec_id") =!= queryId)
    val cand = dvPath.fold(cand0) { p =>
      cand0.join( // DV scan pruned to the SAME probed cells; unhinted
        readDv(spark, p)
          .filter(col("c1").isin(probedCells: _*)).select("vec_id"),
        Seq("vec_id"), "left_anti")
    }
    cand
      .crossJoin(broadcast(qe)) // 1-row query vector: bounded hint
      .select(col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding-distribution drift across the corpus halves, measured
    * on the two-level quantizer's leaf occupancies: per (c1, scid)
    * leaf, the old-half and new-half member counts and their occupancy
    * shares in exact integer ppm, plus the share delta — the
    * distribution-shift monitor an embedding pipeline runs between
    * ingest batches (a leaf whose share moves is a topic whose volume
    * moved; an empty-new leaf is vanishing data; a hot-new leaf wants
    * an index rebuild). The text-side twin is `doc_drift`; this is the
    * embedding-space version, and it rides the O(n·√K) hierarchical
    * assignment, never the flat quadratic scan.
    *
    * Scale shape: ONE leaf-keyed aggregation of the assignment with
    * conditional counts; the totals are a 1-row scalar (bounded
    * broadcast); output is leaf-count-sized. */
  def cellDrift(spark: SparkSession, dir: String): DataFrame = {
    val half = Ivf.corpusN(spark, dir) / 2
    val g = assign2FromLayout(spark, dir) // index-consumer path
      .groupBy("c1", "scid")
      .agg(sum(when(col("vec_id") < half, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("vec_id") >= half, 1L).otherwise(0L)).as("n_new"))
    val tot = g.agg(sum("n_old").as("t_old"), sum("n_new").as("t_new"))
    g.crossJoin(broadcast(tot)) // 1-row scalar: bounded hint
      .select(col("c1"), col("scid"), col("n_old"), col("n_new"),
        expr("n_old * 1000000 div greatest(t_old, 1L)").as("p_old_ppm"),
        expr("n_new * 1000000 div greatest(t_new, 1L)").as("p_new_ppm"),
        expr("(n_new * 1000000 div greatest(t_new, 1L)) - " +
          "(n_old * 1000000 div greatest(t_old, 1L))").as("delta_ppm"))
      .orderBy("c1", "scid")
  }

  val cellDriftSql: String = {
    val half = "(SELECT count(*) // 2 FROM embeddings)"
    s"""WITH $chain2CtesSql,
       |hg AS (SELECT c1, scid,
       |  CAST(sum(CASE WHEN vec_id < $half THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |  CAST(sum(CASE WHEN vec_id >= $half THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       | FROM hbf GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
       |  CAST(sum(n_new) AS BIGINT) AS t_new FROM hg)
       |SELECT c1, scid, n_old, n_new,
       | CAST(n_old * 1000000 // greatest(t_old, 1) AS BIGINT) AS p_old_ppm,
       | CAST(n_new * 1000000 // greatest(t_new, 1) AS BIGINT) AS p_new_ppm,
       | CAST(n_new * 1000000 // greatest(t_new, 1) AS BIGINT) -
       |  CAST(n_old * 1000000 // greatest(t_old, 1) AS BIGINT) AS delta_ppm
       |FROM hg, t ORDER BY c1, scid""".stripMargin.replace("\n", " ")
  }

  /** Recall@k of the two-level search against the exact scan — one
    * oracle-gated row, the eval an ANN deployment runs before trusting
    * the index (the [[Ivf.recallEval]] discipline for the hierarchical
    * arm; both arms share the rounded tie rule, so the intersection is
    * deterministic). */
  def recallEval2(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val exact = SimOps.topK(queryId, k)(spark, dir).select("vec_id")
    val approx = topK2(queryId, k, nprobe1, nprobe2)(spark, dir).select("vec_id")
    exact.join(approx, Seq("vec_id"))
      .agg(count(lit(1)).as("hits"))
      .select(lit(k.toLong).as("k"), col("hits"),
        expr(s"hits * 1000000 div $k").as("recall_ppm"))
  }

  def recallEval2Sql(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int): String =
    s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS hits,
       | CAST(count(*) * 1000000 // $k AS BIGINT) AS recall_ppm
       | FROM (${SimOps.topKSql(queryId, k)}) e
       | JOIN (${topK2Sql(queryId, k, nprobe1, nprobe2)}) a USING (vec_id)""".stripMargin.replace("\n", " ")

  def topK2Sql(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int): String = {
    val dim = Ivf.Dim
    val dist = distSql _
    val dot = s"list_sum(list_transform(range(1,${dim + 1}), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)))"
    s"""WITH $chain2CtesSql,
       |qq AS (SELECT qv FROM q WHERE vec_id = $queryId),
       |p1 AS (SELECT c.cid FROM c${Ivf.LloydSteps} c, qq
       |  ORDER BY ${dist("qq.qv", "c.cv")}, c.cid LIMIT $nprobe1),
       |p2 AS (SELECT s.c1, s.scid FROM hs${Ivf.LloydSteps} s JOIN p1 ON s.c1 = p1.cid, qq
       |  ORDER BY ${dist("qq.qv", "s.cv")}, s.c1, s.scid LIMIT $nprobe2)
       |SELECT e.vec_id, round($dot, 6) AS sim
       |FROM embeddings e
       |JOIN hbf b ON e.vec_id = b.vec_id
       |JOIN p2 ON b.c1 = p2.c1 AND b.scid = p2.scid
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |WHERE e.vec_id != $queryId
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** The full two-level oracle: [[Ivf.chainSql]]'s coarse chain at K1
    * (CTEs q/c0/d0/a0/.../afin), then the level-2 per-cell Lloyd chain
    * under `h`-prefixed CTEs — the identical recurrence with c1 as an
    * extra partition/grouping key. */
  def assign2Sql: String =
    s"WITH $chain2CtesSql SELECT vec_id, c1, scid, dist FROM hbf ORDER BY vec_id"
      .replace("\n", " ")

  /** The full two-level CTE list (coarse chain + `h`-prefixed level-2
    * chain), ending at `hbf(vec_id, c1, scid, dist)` — shared by
    * [[assign2Sql]] and the two-level cluster-sampling oracle. */
  private[sim] def chain2CtesSql: String =
    s"${Ivf.chainSql(Ivf.LloydSteps, k1Sql)},\n$hChainBodySql"
      .replace("\n", " ")

  /** The level-2 (`h`-prefixed) Lloyd chain alone, from `afin`/`q` to
    * `hbf` — composed after the coarse chain by [[chain2CtesSql]] and
    * after a FILTERED coarse chain by [[assign2AppendSql]]. */
  private def hChainBodySql: String = {
    val dim = Ivf.Dim
    val dist = distSql _
    val sb = new StringBuilder
    sb ++= s"""ha AS (SELECT a.vec_id, q.qv, a.cid AS c1 FROM afin a JOIN q USING (vec_id)),
       |hk AS (SELECT c1, greatest(1, (count(*) + ${Ivf.TargetCell - 1}) // ${Ivf.TargetCell}) AS k2 FROM ha GROUP BY 1),
       |hs0 AS (SELECT t.c1, t.rn - 1 AS scid, t.qv AS cv FROM (
       |  SELECT c1, qv, row_number() OVER (PARTITION BY c1 ORDER BY vec_id) AS rn FROM ha) t
       |  JOIN hk ON t.c1 = hk.c1 WHERE t.rn <= hk.k2)""".stripMargin
    (0 until Ivf.LloydSteps).foreach { s =>
      sb ++= s""",
       |hd$s AS (SELECT ha.vec_id, ha.qv, ha.c1, s.scid, ${dist("ha.qv", "s.cv")} AS dist
       |  FROM ha JOIN hs$s s ON ha.c1 = s.c1),
       |hb$s AS (SELECT vec_id, qv, c1, scid FROM (
       |  SELECT vec_id, qv, c1, scid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, scid) AS rn FROM hd$s)
       |  WHERE rn = 1),
       |hs${s + 1} AS (SELECT c1, scid, list(s ORDER BY i) AS cv FROM (
       |  SELECT c1, scid, i, CAST(sum(qv[i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS s
       |  FROM hb$s, range(1,${dim + 1}) AS t(i) GROUP BY c1, scid, i)
       |  GROUP BY c1, scid)""".stripMargin
    }
    sb ++= s""",
       |hdf AS (SELECT ha.vec_id, ha.c1, s.scid, ${dist("ha.qv", "s.cv")} AS dist
       |  FROM ha JOIN hs${Ivf.LloydSteps} s ON ha.c1 = s.c1),
       |hbf AS (SELECT vec_id, c1, scid, dist FROM (
       |  SELECT vec_id, c1, scid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, scid) AS rn FROM hdf)
       |  WHERE rn = 1)""".stripMargin
    sb.toString.replace("\n", " ")
  }

  /** Batch two-level IVF search: top-k for EVERY query in the batch
    * (vec_id < `nq`) over the hierarchical index — the kNN-join /
    * backfill / eval-sweep shape ([[Ivf.topKBatch]]) on the index that
    * actually scales (derived-K flat probes are O(K) per query; the
    * two-level probe is O(K1 + nprobe1·K2) = O(√K)). All distributed,
    * no per-query driver loop:
    *
    *  - coarse probes: the native [[ProbeCells]] kernel over the
    *    K1-literal codebook — map-only, nprobe1 cells per query row;
    *  - leaf probes: probes join the K1·K2-row level-2 codebook
    *    RELATION on c1 (never a driver literal), rank sub-centroids
    *    per query by the exact integer distance — the plain row-row
    *    squared L2 is [[LongVecSqDistW]] with unit weights — and keep
    *    nprobe2 via a batch-bounded window (WindowGroupLimit);
    *  - candidates: the probed (c1, scid) leaves join the c1-partitioned
    *    layout; the probe side is bounded by the QUERY BATCH
    *    (nq·nprobe2 rows — the deployment knob, corpus-independent), so
    *    its broadcast injects dynamic partition pruning into the layout
    *    scan exactly like the flat batch path; exact cosine rescoring +
    *    per-query top-k via row_number.
    *
    * Tie discipline matches [[topK2]]: coarse (dist, cid), leaves
    * (dist, c1, scid), results (sim DESC, vec_id ASC). */
  def topK2Batch(nq: Long, k: Int, nprobe1: Int, nprobe2: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coarse = Ivf.trainCachedK(spark, dir, k1(Ivf.corpusN(spark, dir)))
    val ones = Seq.fill(Ivf.Dim)(1L)
    // probe ranking carries ONLY (qid, qv, c1): the ~512 B float query
    // embedding must not ride the nq·nprobe1·K2-row window exchange
    // just so nq·nprobe2 survivors can keep it — it joins back onto
    // the candidates by qid (a batch-bounded relation; AQE broadcasts)
    val qs = Ivf.quantized(spark, dir).filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("qv"),
        explode(call_function("ivf_probe_cells", col("qv"),
          typedLit(coarse.map(_._1)),
          typedLit(coarse.flatMap(_._2.toSeq)),
          lit(nprobe1))).as("c1"))
    val subs = graft.DatasetCache.readArtifact(spark, trained2Path(spark, dir))
      .select(col("c1"), col("scid"), col("cv"))
    val byQ = Window.partitionBy("qid")
      .orderBy(col("d2"), col("c1"), col("scid"))
    val leaves = qs.join(subs, Seq("c1"))
      .withColumn("d2", call_function("sq8_adc_dist", col("qv"), col("cv"),
        typedLit(ones)))
      .withColumn("prn", row_number().over(byQ))
      .filter(col("prn") <= nprobe2)
      .select(col("qid"), col("c1"), col("scid"))
    val qe = SimOps.embeddings(spark, dir).filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    graft.DatasetCache.readArtifact(spark, layout2Path(spark, dir))
      .join(broadcast(leaves), Seq("c1", "scid")) // batch-bounded probe side
      .filter(col("vec_id") =!= col("qid"))
      .join(qe, Seq("qid")) // batch-bounded; unhinted, AQE decides
      .select(col("qid"), col("vec_id"),
        round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  def topK2BatchSql(nq: Long, k: Int, nprobe1: Int, nprobe2: Int): String = {
    val dim = Ivf.Dim
    val dist = distSql _
    s"""WITH $chain2CtesSql,
       |qs AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < $nq),
       |p1 AS (SELECT qid, qv, cid AS c1 FROM (
       |  SELECT qs.qid, qs.qv, c.cid,
       |    row_number() OVER (PARTITION BY qs.qid ORDER BY ${dist("qs.qv", "c.cv")}, c.cid) AS rn
       |  FROM qs, c${Ivf.LloydSteps} c)
       |  WHERE rn <= $nprobe1),
       |p2 AS (SELECT qid, c1, scid FROM (
       |  SELECT p1.qid, s.c1, s.scid,
       |    row_number() OVER (PARTITION BY p1.qid ORDER BY ${dist("p1.qv", "s.cv")}, s.c1, s.scid) AS rn
       |  FROM p1 JOIN hs${Ivf.LloydSteps} s ON s.c1 = p1.c1)
       |  WHERE rn <= $nprobe2),
       |cand AS (
       |  SELECT p2.qid, b.vec_id FROM p2 JOIN hbf b ON b.c1 = p2.c1 AND b.scid = p2.scid
       |  WHERE b.vec_id != p2.qid),
       |sc AS (
       |  SELECT cand.qid, cand.vec_id,
       |    round(${SimOps.dotSql("e.embedding", "qe.embedding")}, 6) AS sim
       |  FROM cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cand.qid)
       |SELECT qid, vec_id, sim, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn FROM sc)
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin.replace("\n", " ")
  }

  // ---- incremental index maintenance: append without retraining -------

  /** The split point for the append scenario: the newest half of the
    * corpus arrives AFTER both quantizer levels were trained. */
  private def appendSplit(spark: SparkSession, dir: String): Long =
    Ivf.corpusN(spark, dir) / 2

  /** The FROZEN old-half index (coarse codebook + materialized level-2
    * codebook parquet) — trained once per dataset snapshot, like every
    * other index artifact here: the append path's whole point is that
    * training is periodic and offline, so the op itself must not pay
    * an O(n_old) Lloyd pass per invocation (it did at first — the r9
    * self-review catch). Distinct artifact from [[trained2Path]]:
    * these codebooks see only `vec_id < split`. The coarse codebook is
    * an in-memory value; the level-2 codebook is written at the root. */
  private def appendIndex(spark: SparkSession, dir: String)
      : (Seq[(Long, Array[Long])], String) =
    graft.DatasetCache.artifact(spark, dir, "ivf2_append", "embeddings.parquet") { p =>
      val split = appendSplit(spark, dir)
      val qOld = Ivf.quantized(spark, dir).filter(col("vec_id") < split)
      val coarse = Ivf.train(qOld, k = k1(split))
      val best = Ivf.nearest(coarse)
      val aOld = qOld.select(col("vec_id"), col("qv"),
        best.getField("cid").as("c1"))
      level2Trained(aOld).write.mode("overwrite").parquet(p)
      (coarse, p)
    }

  /** Bench isolation hook: force the one-time old-half training. */
  def prebuildAppendIndex(spark: SparkSession, dir: String): Unit = {
    appendIndex(spark, dir)
    ()
  }

  /** The frozen old-half codebooks as consumable values: the coarse
    * literal codebook plus the level-2 codebook RELATION — what both
    * the batch append ([[assign2Append]]) and the streaming ingest
    * twin ([[graft.streaming.EmbedStream.streamingIndexIngest]])
    * assign against. */
  private[graft] def appendCodebooks(spark: SparkSession, dir: String)
      : (Seq[(Long, Array[Long])], DataFrame) = {
    val (coarse, centsPath) = appendIndex(spark, dir)
    (coarse, graft.DatasetCache.readArtifact(spark, centsPath)
      .select(col("c1"), col("scid"), col("cv")))
  }

  /** Assignment of arbitrary (vec_id, embedding) rows against FROZEN
    * codebooks — the shared kernel of batch append and streaming
    * ingest. Stateless and map-side except the K1-row packed-codebook
    * join (stream-static safe): quantize, literal-codebook coarse
    * argmin, row-codebook leaf argmin. NO sort (a streaming caller
    * cannot sort an append-mode stream); batch callers order
    * downstream. */
  private[graft] def assignFrozen(vecs: DataFrame,
      coarse: Seq[(Long, Array[Long])], cents: DataFrame): DataFrame =
    assignFrozenFull(vecs, coarse, cents)
      .select(col("vec_id"), col("c1"), col("scid"), col("dist"))

  /** [[assignFrozen]] KEEPING the embedding — the layout-segment row
    * shape (vec_id, embedding, scid, dist, c1), column-identical to the
    * files [[layout2Path]] writes, so a streaming ingest sink can emit
    * files a layout reader unions with the base segment directly. */
  private[graft] def assignFrozenFull(vecs: DataFrame,
      coarse: Seq[(Long, Array[Long])], cents: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    NearestCell.register(spark)
    LongVecExprs.register(spark)
    val best = Ivf.nearest(coarse)
    val q = vecs.select(col("vec_id"), col("embedding"),
      call_function("fvec_quantize", col("embedding"),
        lit(Ivf.Shift), lit(Ivf.Scale)).as("qv"))
      .select(col("vec_id"), col("embedding"), col("qv"),
        best.getField("cid").as("c1"))
    leafArgmin(q, cents)
      .select(col("vec_id"), col("embedding"), col("scid"), col("dist"),
        col("c1"))
  }

  /** Incremental two-level assignment of APPENDED vectors — the index
    * MAINTENANCE path: vectors with `vec_id >= split` are assigned
    * against the coarse + level-2 codebooks trained on the OLD corpus
    * only (`vec_id < split`), with NO retraining. This is how a
    * production ANN index absorbs an ingest batch at 100 TB: training
    * is a periodic offline job; appends are a map-only literal-codebook
    * scan of the NEW rows (O(n_new·√K_old)) plus the K1-row packed
    * sub-codebook join — corpus-size-independent work per appended row.
    * The [[cellDrift]] monitor is the signal that decides when the
    * codebooks have aged enough to retrain; until then every append
    * rides this path (the batch-side-bound discipline of
    * `doc_dedup_incremental`). Oracle: the SAME two-level Lloyd chain
    * with the training CTEs filtered to the old half, then the
    * (dist, id)-tiebroken argmin of the new rows against both frozen
    * levels — [[assign2AppendSql]]. */
  def assign2Append(spark: SparkSession, dir: String): DataFrame = {
    val split = appendSplit(spark, dir)
    // both levels FROZEN (trained once on the old half, cached/
    // materialized like every index artifact): the op itself is pure
    // assignment — a literal-codebook scan of the new rows plus the
    // K1-row packed sub-codebook join, shared with the streaming twin
    val (coarse, cents) = appendCodebooks(spark, dir)
    assignFrozen(
      SimOps.embeddings(spark, dir).filter(col("vec_id") >= split),
      coarse, cents)
      .orderBy("vec_id")
  }

  /** The FROZEN-chain CTE prefix shared by [[assign2AppendSql]] and
    * [[lifecycleSql]]: the OLD half's coarse + level-2 Lloyd chains
    * (`q`/`c*`/`afin`, `hs*`/`hbf` — the base index, trained at
    * k1(n_old)), then the NEW half's frozen assignment against both
    * levels (`qn`/`nd1`/`nb1`/`nd2`/`nb2` — the delta segment). */
  private def frozenChainsCtesSql: String = {
    val dist = distSql _
    val splitSql = "(SELECT count(*) // 2 FROM embeddings)"
    // q = the OLD half (training corpus); k1 derives from the old count
    val qOldCte =
      s"""q AS (
         |  SELECT vec_id, list_transform(embedding, v -> CAST(round((CAST(v AS DOUBLE)+${Ivf.Shift})*${Ivf.Scale}) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id < $splitSql)""".stripMargin
    val k1Old = s"(SELECT greatest(2, CAST(ceil(sqrt(greatest(2, (count(*) + " +
      s"${Ivf.TargetCell - 1}) // ${Ivf.TargetCell}))) AS BIGINT)) " +
      s"FROM embeddings WHERE vec_id < $splitSql)"
    s"""$qOldCte,
       |${Ivf.chainBodySql(Ivf.LloydSteps, k1Old)},
       |$hChainBodySql,
       |qn AS (
       |  SELECT vec_id, list_transform(embedding, v -> CAST(round((CAST(v AS DOUBLE)+${Ivf.Shift})*${Ivf.Scale}) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id >= $splitSql),
       |nd1 AS (SELECT qn.vec_id, qn.qv, c.cid AS c1, ${dist("qn.qv", "c.cv")} AS dist
       |  FROM qn, c${Ivf.LloydSteps} c),
       |nb1 AS (SELECT vec_id, qv, c1 FROM (
       |  SELECT vec_id, qv, c1, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c1) AS rn FROM nd1)
       |  WHERE rn = 1),
       |nd2 AS (SELECT nb1.vec_id, nb1.c1, s.scid, ${dist("nb1.qv", "s.cv")} AS dist
       |  FROM nb1 JOIN hs${Ivf.LloydSteps} s ON nb1.c1 = s.c1),
       |nb2 AS (SELECT vec_id, c1, scid, dist FROM (
       |  SELECT vec_id, c1, scid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, scid) AS rn FROM nd2)
       |  WHERE rn = 1)""".stripMargin.replace("\n", " ")
  }

  def assign2AppendSql: String =
    s"""WITH $frozenChainsCtesSql
       |SELECT vec_id, c1, scid, dist FROM nb2 ORDER BY vec_id""".stripMargin
      .replace("\n", " ")

  // ---- index lifecycle: delete without retraining ----------------------

  /** The deletion-vector sidecar for [[layout2Path]]: the kill-list as
    * (vec_id, scid) parquet PARTITIONED BY THE COARSE CELL, mirroring
    * the layout's own directory structure so every read that prunes the
    * layout to its probed cells prunes the DV identically. The
    * kill-list is [[SemDedup.semDedup2]]'s dropped set — the dedup
    * pipeline's natural output IS the deletion workload (semantic
    * near-duplicates leave the corpus; the index must stop returning
    * them) — and deletion deliberately touches NEITHER codebook level
    * nor any layout data file: at 100 TB a delete writes O(kill-list)
    * bytes, search stays correct immediately via the anti-join, and
    * [[compactDeletes]] reclaims space leaf-locally when the DV has
    * grown past taste (the [[cellDrift]] monitor decides when the
    * SHAPE has drifted enough to retrain — orthogonal verbs). Built
    * once per dataset snapshot like every other index artifact
    * (`ivf2_delete_dv` in the bench prelude). */
  def deletionVectorPath(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "ivf2_dv", "embeddings.parquet") { p =>
      // the same kill-list semDedup2 reports as keep=false, off the
      // shared droppedCells kernel over the shared leafFrame: the
      // keep-flag left join and the per-vector sort exist for the
      // dedup REPORT, not for the sidecar, which only needs
      // (vec_id, scid, c1)
      SemDedup.droppedCells(leafFrame(spark, dir), SemDedup.Tau,
          Seq("c1", "scid"))
        .select(col("v_id").as("vec_id"), col("scid"), col("c1"))
        .write.mode("overwrite").partitionBy("c1").parquet(p)
    }

  /** Bench isolation hook: force the one-time kill-list derivation. */
  def prebuildDeletionVectors(spark: SparkSession, dir: String): Unit = {
    deletionVectorPath(spark, dir)
    ()
  }

  /** Spark's file-visibility rule, in ONE place (shared by the
    * data-file walk below, the streaming segment reader's commit-log
    * probe, and the fold spec's file inventory): names starting with
    * `_` or `.` (`_SUCCESS`, `_spark_metadata`, `.crc` sidecars) are
    * metadata, not data. */
  private[graft] def isVisibleName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** True iff `root` contains at least one VISIBLE data file — a
    * regular file none of whose path segments under `root` is
    * invisible ([[isVisibleName]]). The structural emptiness test for
    * layout-shaped directories: a partitioned write of zero rows
    * leaves only metadata. Walked with a visitor that (a) SKIPS
    * invisible subtrees (`_spark_metadata` most importantly — a LIVE
    * streaming sink renames `.N.tmp` commit files in there while
    * searches read the segment, and a stat on a vanished entry would
    * crash the walk) and (b) treats a file that disappears mid-walk
    * as simply not there, so a concurrent micro-batch commit can
    * never fail a reader. */
  private[graft] def hasVisibleDataFile(root: java.nio.file.Path): Boolean = {
    import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    var found = false
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) =
        if (d != root && !isVisibleName(d.getFileName.toString))
          FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        if (a.isRegularFile && isVisibleName(f.getFileName.toString)) {
          found = true; FileVisitResult.TERMINATE
        } else FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        FileVisitResult.CONTINUE // vanished mid-walk: not a data file
      // the default rethrows a non-null IOException — but a DIRECTORY
      // whose iteration failed mid-walk (vanished concurrently, e.g. a
      // partition dir the sink is renaming) holds no observable data
      // files either, and the doc contract above is that a concurrent
      // commit can never fail a reader
      override def postVisitDirectory(d: Path, e: java.io.IOException) =
        FileVisitResult.CONTINUE
    })
    found
  }

  /** Read a DV sidecar as (vec_id, c1). A zero-row kill-list leaves a
    * partitioned parquet dir with no data files (schema cannot be
    * inferred) — that is an EMPTY deletion vector, not an error. A
    * NONEXISTENT path is an error: treating a mistyped/moved sidecar
    * location as "nothing deleted" would silently resurrect rows — and
    * so would swallowing ANY read failure: emptiness is detected
    * STRUCTURALLY (no visible data file under the dir), so a
    * malformed/wrong-schema sidecar still fails loudly in the
    * `spark.read` below instead of reading as "nothing deleted". */
  private[sim] def readDv(spark: SparkSession, p: String): DataFrame = {
    val root = java.nio.file.Paths.get(p)
    require(java.nio.file.Files.isDirectory(root),
      s"deletion-vector path does not exist: $p")
    if (!hasVisibleDataFile(root))
      spark.range(0).select(col("id").as("vec_id"), col("id").as("c1"))
    else spark.read.parquet(p)
      .select(col("vec_id"), col("c1").cast(LongType).as("c1"))
  }

  /** The LIVE (post-delete) index view: [[assign2FromLayout]] minus the
    * deletion vector. The anti-join's build side is the kill-list —
    * unhinted, because a dedup kill-list can be corpus-sized on a
    * duplicate-heavy corpus (AQE broadcasts when it is small). */
  def assign2FromLayoutLive(spark: SparkSession, dir: String): DataFrame =
    assign2FromLayout(spark, dir)
      .join(readDv(spark, deletionVectorPath(spark, dir)).select("vec_id"),
        Seq("vec_id"), "left_anti")

  /** Post-delete search: [[topK2]] over the live view — returns no
    * killed vector, with NO retraining and NO layout rewrite. Oracle:
    * [[topK2DeletedSql]] (the same frozen chains, candidates
    * anti-joined with the replayed kill-list). */
  def topK2Deleted(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int)(
      spark: SparkSession, dir: String): DataFrame =
    topK2Impl(queryId, k, nprobe1, nprobe2, live = true)(spark, dir)

  /** Deletion audit: per coarse cell, total/killed/live member counts —
    * the occupancy report an operator reads after applying a kill-list
    * (a cell going mostly-dead is a compaction candidate; ALL cells
    * going thin is a retrain signal). ONE aggregation of the layout
    * left-joined with the kill-sized DV; output is K1-sized. */
  def deleteStats(spark: SparkSession, dir: String): DataFrame = {
    val dv = readDv(spark, deletionVectorPath(spark, dir))
      .select(col("vec_id"), lit(1L).as("killed"))
    assign2FromLayout(spark, dir)
      .join(dv, Seq("vec_id"), "left") // kill-sized right side; AQE decides
      .groupBy("c1")
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce(col("killed"), lit(0L))).as("n_killed"),
        sum(when(col("killed").isNull, 1L).otherwise(0L)).as("n_live"))
      .orderBy("c1")
  }

  def deleteStatsSql: String =
    s"""WITH $chain2CtesSql,
       |${SemDedup.dropped2CtesSql(SemDedup.Tau)}
       |SELECT b.c1, CAST(count(*) AS BIGINT) AS n_total,
       | CAST(count(d.vec_id) AS BIGINT) AS n_killed,
       | CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_live
       |FROM hbf b LEFT JOIN dropped d ON b.vec_id = d.vec_id
       |GROUP BY b.c1 ORDER BY b.c1""".stripMargin.replace("\n", " ")

  def topK2DeletedSql(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int): String = {
    val dist = distSql _
    val dot = s"list_sum(list_transform(range(1,${Ivf.Dim + 1}), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)))"
    s"""WITH $chain2CtesSql,
       |${SemDedup.dropped2CtesSql(SemDedup.Tau)},
       |qq AS (SELECT qv FROM q WHERE vec_id = $queryId),
       |p1 AS (SELECT c.cid FROM c${Ivf.LloydSteps} c, qq
       |  ORDER BY ${dist("qq.qv", "c.cv")}, c.cid LIMIT $nprobe1),
       |p2 AS (SELECT s.c1, s.scid FROM hs${Ivf.LloydSteps} s JOIN p1 ON s.c1 = p1.cid, qq
       |  ORDER BY ${dist("qq.qv", "s.cv")}, s.c1, s.scid LIMIT $nprobe2)
       |SELECT e.vec_id, round($dot, 6) AS sim
       |FROM embeddings e
       |JOIN hbf b ON e.vec_id = b.vec_id
       |JOIN p2 ON b.c1 = p2.c1 AND b.scid = p2.scid
       |LEFT JOIN dropped dd ON e.vec_id = dd.vec_id
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |WHERE e.vec_id != $queryId AND dd.vec_id IS NULL
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** Leaf-local physical reclaim: rewrite ONLY the coarse-cell
    * partitions that carry deletions (dynamic partition overwrite —
    * untouched cells' files are never read OR written), then drop the
    * consumed DV sidecar. Returns the rewritten cell ids. Work is
    * proportional to the AFFECTED cells' data, not the corpus — the
    * Spark spelling of the reference's cell-routed chunk rewrite
    * (`pc-format/src/pointcloud.rs:146-171`). The rewrite frame is
    * localCheckpoint'ed first: it reads the same path it overwrites,
    * and the LogicalRDD leaf both licenses that and pins the rows
    * before any file is replaced. */
  def compactDeletes(spark: SparkSession, layoutPath: String,
      dvPath: String): Seq[Long] = {
    // a STREAMING delta segment is governed by its file sink's
    // `_spark_metadata` commit log; a plain batch rewrite would bypass
    // that log, leaving segment readers pointing at deleted committed
    // files and blind to the rewritten ones. Fold the segment into a
    // base layout first (EmbedStream.foldDelta), then compact the base.
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(layoutPath, "_spark_metadata")),
      s"$layoutPath is a streaming delta segment (_spark_metadata); " +
        "fold it into a base layout (EmbedStream.foldDelta) before compacting")
    val dv = readDv(spark, dvPath)
    val cells = dv.select("c1").distinct().collect().map(_.getLong(0)).toSeq
    if (cells.nonEmpty) {
      val live = spark.read.parquet(layoutPath)
        .withColumn("c1", col("c1").cast(LongType))
        .filter(col("c1").isin(cells: _*)) // file-pruned to affected dirs
        .join(dv.select("vec_id"), Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      // per-write dynamic overwrite (NOT the session conf: a concurrent
      // write in the same session must not inherit dynamic semantics)
      live.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("c1").parquet(layoutPath)
      // a kill-list that empties a WHOLE cell writes no rows for it, so
      // dynamic overwrite never touches its directory — without this
      // explicit removal the old files would survive the compaction and
      // the deleted vectors would silently resurrect once the DV is
      // consumed below (semdedup kill-lists cannot empty a cell — the
      // per-leaf minimum survives — but this API accepts ANY DV)
      val survivors = live.select("c1").distinct()
        .collect().map(_.getLong(0)).toSet
      cells.filterNot(survivors).foreach { dead =>
        deleteTree(java.nio.file.Paths.get(layoutPath, s"c1=$dead"))
      }
      // the DV is consumed: a stale sidecar would re-hide rows a future
      // kill-list legitimately re-adds under the same ids
      deleteTree(java.nio.file.Paths.get(dvPath), keepRoot = true)
    }
    cells
  }

  // ---- composed lifecycle read: search base ∪ delta − DV ---------------

  /** A layout segment (base or delta) read back at the library row
    * shape (vec_id, embedding, scid, dist, c1:long). `spark.read`
    * resolves a streaming file sink's `_spark_metadata` commit log
    * automatically when present, so this read is committed-files-only
    * on streamed segments and a plain scan on batch ones. ONE
    * definition of the segment row contract — the streaming reader
    * ([[graft.streaming.EmbedStream.deltaSegment]]) delegates here. */
  private[graft] def readSegment(spark: SparkSession, p: String): DataFrame =
    spark.read.parquet(p)
      .withColumn("c1", col("c1").cast(LongType))
      .select("vec_id", "embedding", "scid", "dist", "c1")

  /** The three composed-lifecycle artifacts for a dataset snapshot —
    * (basePath, deltaPath, dvPath), built once as ONE artifact whose
    * root holds the three as subdirectories (`ivf2_lifecycle` in the
    * bench prelude):
    *
    *  - BASE: the old corpus half assigned by its own trained codebooks
    *    ([[appendCodebooks]] — the frozen index), written as the
    *    c1-partitioned layout;
    *  - DELTA: the new half assigned against the SAME frozen codebooks
    *    ([[assignFrozenFull]] — row-identical to what the streaming
    *    ingest sink lands, spec-pinned by `EmbedStreamIngestSpec`),
    *    written as a second c1-partitioned segment;
    *  - DV: the [[SemDedup]] dominance kill-list derived over the
    *    base ∪ delta assignment (the dedup pipeline running on the
    *    grown corpus), as the coarse-cell-partitioned sidecar.
    *
    * Together they are one moment of the index's life: trained once,
    * appended without retraining, deduped without rewriting. */
  private def lifecyclePaths(spark: SparkSession, dir: String)
      : (String, String, String) =
    graft.DatasetCache.artifact(spark, dir, "ivf2_lifecycle", "embeddings.parquet") { root =>
      val (coarse, cents) = appendCodebooks(spark, dir)
      val split = appendSplit(spark, dir)
      val half = SimOps.embeddings(spark, dir).count() / 2
      val base = s"$root/base"
      layoutWrite(assignFrozenFull(
        SimOps.embeddings(spark, dir).filter(col("vec_id") < split),
        coarse, cents), "c1", half, base, subCols = Seq("scid"))
      val delta = s"$root/delta"
      layoutWrite(assignFrozenFull(
        SimOps.embeddings(spark, dir).filter(col("vec_id") >= split),
        coarse, cents), "c1", half, delta, subCols = Seq("scid"))
      // the kill-list: SemDedup's dominance rule over the UNION
      // assignment — vectors meet within their (c1, scid) leaf only,
      // ordered by (dist-to-frozen-sub-centroid, vec_id); ONE shared
      // kernel (SemDedup.droppedCells) so the lifecycle DV can never
      // drift from the dedup pipeline that defines it. droppedCells
      // keeps the dropped vector's leaf key, so the sidecar writes
      // straight off the pair join — no second corpus-sized scan of
      // `m` to recover (c1, scid) for ids the join already localized
      val m = readSegment(spark, base).unionByName(readSegment(spark, delta))
      val dv = s"$root/dv"
      SemDedup.droppedCells(m, SemDedup.Tau, Seq("c1", "scid"))
        .select(col("v_id").as("vec_id"), col("scid"), col("c1"))
        .write.mode("overwrite").partitionBy("c1").parquet(dv)
      (base, delta, dv)
    }

  /** Bench isolation hook: force the one-time lifecycle artifacts. */
  def prebuildLifecycle(spark: SparkSession, dir: String): Unit = {
    lifecyclePaths(spark, dir)
    ()
  }

  /** The COMPOSED lifecycle search — the read path every verb in this
    * module exists to serve, as ONE oracle-gated operator: top-k over
    * base ∪ delta − DV against the frozen codebooks. Probing is the
    * [[topK2]] discipline (driver math over the K1 coarse codebook,
    * one probe read of the sub-centroids, ties (dist, id) everywhere);
    * BOTH segments are file-pruned to the probed coarse cells (they
    * share the c1 directory shape by construction), the DV scan prunes
    * identically, and the anti-join is unhinted (kill-lists can be
    * corpus-sized; AQE broadcasts small ones). Work per query is the
    * same O(K1 + nprobe1·K2) probe + one pruned candidate scan as the
    * single-segment search — the union adds files, not plan shape.
    * Oracle: [[lifecycleSql]] — the frozen chains replayed, the delta
    * assignment replayed, the SAME `dropped` CTE over the union. */
  def lifecycleSearch(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val (basePath, deltaPath, dvPath) = lifecyclePaths(spark, dir)
    val (coarse, cents) = appendCodebooks(spark, dir)
    // the shared probe discipline; only the candidate source differs —
    // BOTH segments dir-prune to the probed coarse cells (they share
    // the c1 directory shape by construction)
    probeSearch(queryId, k, nprobe1, nprobe2, coarse, cents,
      candidates = cells => {
        def seg(p: String) = readSegment(spark, p)
          .filter(col("c1").isin(cells: _*)) // dir-level pruning
        seg(basePath).unionByName(seg(deltaPath))
      },
      dvPath = Some(dvPath))(spark, dir)
  }

  def lifecycleSql(queryId: Long, k: Int, nprobe1: Int, nprobe2: Int): String = {
    val dist = distSql _
    val dot = s"list_sum(list_transform(range(1,${Ivf.Dim + 1}), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)))"
    s"""WITH $frozenChainsCtesSql,
       |ubf AS (SELECT vec_id, c1, scid, dist FROM hbf
       |  UNION ALL SELECT vec_id, c1, scid, dist FROM nb2),
       |${SemDedup.dropped2CtesSql(SemDedup.Tau, "ubf")},
       |qq AS (SELECT list_transform(embedding, v -> CAST(round((CAST(v AS DOUBLE)+${Ivf.Shift})*${Ivf.Scale}) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id = $queryId),
       |p1 AS (SELECT c.cid FROM c${Ivf.LloydSteps} c, qq
       |  ORDER BY ${dist("qq.qv", "c.cv")}, c.cid LIMIT $nprobe1),
       |p2 AS (SELECT s.c1, s.scid FROM hs${Ivf.LloydSteps} s JOIN p1 ON s.c1 = p1.cid, qq
       |  ORDER BY ${dist("qq.qv", "s.cv")}, s.c1, s.scid LIMIT $nprobe2)
       |SELECT e.vec_id, round($dot, 6) AS sim
       |FROM embeddings e
       |JOIN ubf b ON e.vec_id = b.vec_id
       |JOIN p2 ON b.c1 = p2.c1 AND b.scid = p2.scid
       |LEFT JOIN dropped dd ON e.vec_id = dd.vec_id
       |JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) AS qe ON TRUE
       |WHERE e.vec_id != $queryId AND dd.vec_id IS NULL
       |ORDER BY sim DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  private[graft] def deleteTree(root: java.nio.file.Path,
      keepRoot: Boolean = false): Unit =
    if (java.nio.file.Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      val all = java.nio.file.Files.walk(root)
      try all.iterator().asScala.toSeq.reverseIterator
        .filter(p => !keepRoot || p != root)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally all.close()
    }
}

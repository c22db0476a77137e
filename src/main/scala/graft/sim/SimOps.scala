package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float> dim 64, label). The vectors are unit-normalized, so
  * cosine similarity == dot product.
  *
  * Design for scale:
  *  - query vectors are tiny side inputs => `broadcast` cross joins; the
  *    scan side streams, no shuffle;
  *  - top-k goes through `orderBy(...).limit(k)` which Spark plans as
  *    TakeOrderedAndProject (per-partition heaps + driver merge, never a
  *    full sort);
  *  - the brute-force pair scan is bounded to a partition key (label) —
  *    the IVF-style restriction — and the LSH path buckets vectors by
  *    random-hyperplane signs so candidate generation is an equi-join.
  *
  * Dot products are `aggregate(zip_with(...))` over doubles — sequential
  * left-to-right summation, which DuckDB's `list_sum(list_transform(...))`
  * reproduces exactly; outputs round to 6 dp so the hash compare is
  * stable anyway.
  */
object SimOps {

  val Dim: Int = 64

  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    FloatVecDot.register(spark)
    graft.DatasetCache.readTable(spark, dir, "embeddings.parquet")
  }

  /** Sequential dot product of two array<float> columns in double: the
    * native codegen'd expression (identical left-to-right summation). */
  def dot(a: Column, b: Column): Column = call_function("fvec_dot", a, b)

  /** Built-in-only formulation (kept for the equivalence spec). */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private[sim] val dotSql: (String, String) => String = (a, b) =>
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  // ---- brute-force cosine top-k ---------------------------------------

  /** Top-k nearest neighbors of vector `queryId` by cosine similarity;
    * the baseline every ANN variant is measured against. */
  def topK(queryId: Long, k: Int)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  def topKSql(queryId: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId)
       | SELECT vec_id, round(${dotSql("embedding", "qe")}, 6) AS sim
       | FROM embeddings, q WHERE vec_id != $queryId
       | ORDER BY sim DESC, vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** Batched top-k: one broadcast of `nQueries` query vectors, top-k per
    * query via a window rank — the shape of bulk retrieval jobs. */
  def topKMulti(nQueries: Int, k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("embedding"), col("qe")), 6).as("sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  def topKMultiSql(nQueries: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $nQueries),
       | scored AS (SELECT qid, vec_id, round(${dotSql("embedding", "qe")}, 6) AS sim
       |   FROM embeddings, q WHERE vec_id != qid),
       | ranked AS (SELECT qid, vec_id, sim,
       |   CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn FROM scored)
       | SELECT qid, vec_id, sim, rn FROM ranked WHERE rn <= $k ORDER BY qid, rn""".stripMargin.replace("\n", " ")

  // ---- MMR diverse top-k ----------------------------------------------

  /** Maximal-Marginal-Relevance diverse top-k: greedily pick the
    * candidate maximizing `rel − max_{s∈selected} sim(v, s)` (MMR with
    * λ=0.5 — the constant factor does not change any argmax, so it is
    * dropped from the score). The retrieval-diversification step of a
    * RAG / training-data-sampling pipeline, as opposed to [[topK]]'s
    * redundancy-blind ranking.
    *
    * Shape at scale: k map-only corpus scans (selected vectors ride as
    * plan literals, ≤ k·dim floats), each reduced by
    * TakeOrderedAndProject to ONE row — no shuffle, no join, no
    * candidate materialization. The (id, embedding, rel) projection is
    * cached MEMORY_AND_DISK across the k iterations (spill-capable —
    * never an OOM risk) so the parquet scan and the query-dot run ONCE
    * instead of k times; it unpersists before returning. The driver
    * loop is bounded by k (the documented driver-side exception class:
    * k picked rows, not a dataset). Ranks compare the ROUNDED score
    * (what the oracle hashes) with vec_id as tiebreak, so bucket
    * boundaries cannot diverge between engines; the oracle replays the
    * same greedy chain as k generated CTE stages. */
  def mmr(queryId: Long, k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, dir)
    val qOpt = e.filter(col("vec_id") === queryId)
      .select(col("embedding")).collect().headOption
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    qOpt match {
      case None => // unknown id: empty, like the join/oracle arms
        spark.range(0).select(col("id").as("rank"), col("id").as("vec_id"),
          lit(0.0).as("rel"), lit(0.0).as("score"))
      case Some(qe) =>
        val rel = e.filter(col("vec_id") =!= queryId)
          .select(col("vec_id"), col("embedding"),
            round(dot(col("embedding"), typedLit(qe)), 6).as("rel"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val picked = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double, Double)]()
          var exhausted = false
          while (!exhausted && picked.length < k) {
            val scoreCol =
              if (picked.isEmpty) col("rel")
              else round(col("rel") - picked.map(p =>
                  round(dot(col("embedding"), typedLit(p._2)), 6))
                .reduce((a, b) => greatest(a, b)), 6)
            val rows = rel
              .filter(if (picked.isEmpty) lit(true)
                else !col("vec_id").isin(picked.map(_._1).toSeq: _*))
              .select(col("vec_id"), col("embedding"), col("rel"),
                scoreCol.as("score"))
              .orderBy(col("score").desc, col("vec_id").asc)
              .limit(1).collect()
            if (rows.isEmpty) exhausted = true
            else {
              val r = rows(0)
              picked += ((r.getLong(0),
                r.getAs[scala.collection.Seq[Float]](1).toArray,
                r.getDouble(2), r.getDouble(3)))
            }
          }
          picked.zipWithIndex
            .map { case ((vid, _, rl, sc), i) => ((i + 1).toLong, vid, rl, sc) }
            .toSeq.toDF("rank", "vec_id", "rel", "score")
            .orderBy("rank")
        } finally rel.unpersist(blocking = false)
    }
  }

  /** The same greedy chain as k generated CTE stages: p_i picks step
    * i's argmax, s_i accumulates the selected set, c_i scores the
    * remaining candidates against it (max over ≤ i−1 rows). Every chained
    * CTE is `AS MATERIALIZED`: each s_i is referenced twice by stage i+1,
    * so the default inline-on-reference expansion is 2^k copies of the
    * whole chain — measured ~7 min to PLAN at k=8 vs 0.13 s materialized. */
  def mmrSql(queryId: Long, k: Int): String = {
    val qdot = dotSql("embedding", "qe")
    val sdot = dotSql("r.embedding", "s.embedding")
    val sb = new StringBuilder
    sb ++= s"WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId), "
    sb ++= s"rel AS MATERIALIZED (SELECT vec_id, embedding, round($qdot, 6) AS rel FROM embeddings, q WHERE vec_id != $queryId), "
    sb ++= "p1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS rank, vec_id, embedding, rel, rel AS score FROM rel ORDER BY score DESC, vec_id ASC LIMIT 1), "
    sb ++= "s1 AS MATERIALIZED (SELECT vec_id, embedding FROM p1)"
    for (i <- 2 to k) {
      sb ++= s", c$i AS MATERIALIZED (SELECT r.vec_id, r.rel, round(r.rel - max(round($sdot, 6)), 6) AS score" +
        s" FROM rel r, s${i - 1} s WHERE r.vec_id NOT IN (SELECT vec_id FROM s${i - 1}) GROUP BY r.vec_id, r.rel)" +
        s", p$i AS MATERIALIZED (SELECT CAST($i AS BIGINT) AS rank, c.vec_id, e.embedding, c.rel, c.score" +
        s" FROM c$i c JOIN embeddings e ON c.vec_id = e.vec_id ORDER BY c.score DESC, c.vec_id ASC LIMIT 1)" +
        s", s$i AS MATERIALIZED (SELECT vec_id, embedding FROM s${i - 1} UNION ALL SELECT vec_id, embedding FROM p$i)"
    }
    sb ++= " SELECT rank, vec_id, rel, score FROM (" +
      (1 to k).map(i => s"SELECT rank, vec_id, rel, score FROM p$i")
        .mkString(" UNION ALL ") + ") ORDER BY rank"
    sb.toString
  }

  // ---- within-cluster near-duplicate pairs (IVF-style restriction) -----

  /** Per-label member cap for [[topPairsWithinLabel]]: the exact
    * all-pairs baseline evaluates the FIRST `LabelPairCap` vectors of
    * each label in vec_id order — a deterministic, SQL-expressible
    * bound that keeps the in-cell quadratic's work at
    * O(labels · cap²) no matter how dense a label grows. At every
    * canonical SF the cap is slack (max per-label count is 218 at
    * sf0.1, measured), so results are unchanged there; it exists for
    * scale-stress fixtures whose key-shifted copies densify labels
    * 100× (the r10 sweep's 1187× row — an unbounded exact quadratic is
    * not a baseline, it is a suite-distorting outlier). The PRODUCTION
    * path for dense cells is the two-level index ([[knnGraph2]] /
    * [[SemDedup.semDedup2]]), whose leaves stay ~TargetCell-sized by
    * construction. */
  val LabelPairCap: Int = 1000

  /** Truncation DIAGNOSTIC for [[LabelPairCap]]: the labels whose
    * membership exceeds the cap, i.e. exactly the labels where
    * [[topPairsWithinLabel]]'s "exact all-pairs" baseline has silently
    * become a bounded-prefix baseline (the true top pair may involve a
    * truncated vector). Empty at every canonical SF (max per-label
    * count is 218 at sf0.1, spec-pinned) — a future larger canonical
    * fixture that crosses the cap is caught by the spec AND by the
    * warning [[topPairsWithinLabel]] emits per invocation, instead of
    * silently shifting from exact to truncated. */
  def labelCapOverflow(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).groupBy("label")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > LabelPairCap)

  /** Most-similar pairs, restricted to equal `label` (the coarse-quantizer
    * cell): the O(n^2) blow-up is bounded per cell and the join
    * co-partitions on the label key, with per-label membership bounded
    * at [[LabelPairCap]] (deterministic vec_id-order prefix; identical
    * clause in the oracle). Caps that actually TRUNCATE are not silent:
    * one cheap label-count scan (columnar, label column only — noise
    * next to the in-cell quadratic) warns when any label exceeds the
    * cap ([[labelCapOverflow]] lists the offenders). */
  def topPairsWithinLabel(k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val over = labelCapOverflow(spark, dir).count()
    if (over > 0) System.err.println(
      s"simops: topPairsWithinLabel truncating $over label(s) past " +
        s"LabelPairCap=$LabelPairCap — the exact baseline is a bounded " +
        "vec_id-order prefix for those labels (labelCapOverflow lists them)")
    val byLabel = Window.partitionBy("label").orderBy("vec_id")
    val e = embeddings(spark, dir)
      .withColumn("lrn", row_number().over(byLabel))
      .filter(col("lrn") <= LabelPairCap)
      .drop("lrn")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        col("a.label").as("label"),
        round(dot(col("a.embedding"), col("b.embedding")), 6).as("sim"))
      .orderBy(col("sim").desc, col("v1").asc, col("v2").asc)
      .limit(k)
  }

  def topPairsWithinLabelSql(k: Int): String =
    s"""WITH capped AS (SELECT vec_id, embedding, label FROM (
       |  SELECT vec_id, embedding, label,
       |   row_number() OVER (PARTITION BY label ORDER BY vec_id) AS lrn
       |  FROM embeddings) WHERE lrn <= $LabelPairCap)
       |SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
       |  round(${dotSql("a.embedding", "b.embedding")}, 6) AS sim
       | FROM capped a JOIN capped b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       | ORDER BY sim DESC, v1 ASC, v2 ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** Bulk k-NN graph: every vector's k nearest neighbors WITHIN its
    * quantizer cell — the corpus-wide neighbor-graph build behind
    * SemDeDup-style dedup, kNN-LM retrieval and graph-ANN
    * bootstrapping, as opposed to [[topKMulti]]'s handful of query
    * vectors. The cell equi-join bounds the pair blow-up per cell and
    * co-partitions both sides; the per-source rank compiles to
    * WindowGroupLimit (per-partition top-k heaps BEFORE the final
    * shuffle — plan-asserted), so no cell's full pair list ever
    * crosses the wire. Ranks compare the ROUNDED sim (what the oracle
    * hashes) with dst as tiebreak, so bucket boundaries cannot diverge
    * between engines.
    *
    * Scale contract (r6 verdict item 3 — the knob is in CODE now):
    * per-cell work is quadratic in CELL SIZE by definition, so the
    * cell id comes from the [[SemDedup]] assignment whose quantizer
    * size is DERIVED from the corpus (K = max(2, ceil(n /
    * [[Ivf.TargetCell]]))) — cells stay ~TargetCell-sized as the
    * corpus grows and total pair work is ~TargetCell·n, linear in n.
    * The oracle replays the same K derivation as a scalar subquery in
    * its Lloyd seed CTE. A vector alone in its cell has no in-cell
    * neighbors, exactly like the oracle. */
  def knnGraph(k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = SemDedup.assignment(spark, dir)
    val a = m.select(col("vec_id").as("src"), col("embedding").as("a_emb"), col("cid"))
    val b = m.select(col("vec_id").as("dst"), col("embedding").as("b_emb"), col("cid"))
    val scored = a.join(b, Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("a_emb"), col("b_emb")), 6).as("sim"))
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("src", "rn")
  }

  def knnGraphSql(k: Int): String =
    s"""WITH ${Ivf.chainSql(Ivf.LloydSteps, Ivf.derivedKSql)},
       | m AS (SELECT a.vec_id, a.cid, e.embedding
       |   FROM afin a JOIN embeddings e ON a.vec_id = e.vec_id)
       | SELECT src, dst, sim, rn FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |   round(${dotSql("a.embedding", "b.embedding")}, 6) AS sim,
       |   CAST(row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY round(${dotSql("a.embedding", "b.embedding")}, 6) DESC, b.vec_id ASC) AS BIGINT) AS rn
       |  FROM m a JOIN m b
       |   ON a.cid = b.cid AND a.vec_id != b.vec_id)
       | WHERE rn <= $k ORDER BY src, rn""".stripMargin.replace("\n", " ")

  /** [[knnGraph]] over the TWO-LEVEL quantizer's leaf cells — the
    * 100-TB arm, completing the hierarchical trio with
    * [[clusterSample2]] and [[SemDedup.semDedup2]]: neighbor candidates
    * meet within their (c1, scid) leaf (~TargetCell-sized by the
    * per-cell K2 derivation), and the assignment stage is [[Ivf2]]'s
    * O(n·√K) path instead of the flat O(n·K) scan. */
  def knnGraph2(k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // index-consumer path: the materialized leaf-partitioned assignment
    val m = Ivf2.assign2FromLayout(spark, dir)
      .select(col("vec_id"), col("embedding"), col("c1"), col("scid"))
    val a = m.select(col("vec_id").as("src"), col("embedding").as("a_emb"),
      col("c1"), col("scid"))
    val b = m.select(col("vec_id").as("dst"), col("embedding").as("b_emb"),
      col("c1"), col("scid"))
    val scored = a.join(b, Seq("c1", "scid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("a_emb"), col("b_emb")), 6).as("sim"))
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("src", "rn")
  }

  def knnGraph2Sql(k: Int): String =
    s"""WITH ${Ivf2.chain2CtesSql},
       | m AS (SELECT b.vec_id, b.c1, b.scid, e.embedding
       |   FROM hbf b JOIN embeddings e ON b.vec_id = e.vec_id)
       | SELECT src, dst, sim, rn FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |   round(${dotSql("a.embedding", "b.embedding")}, 6) AS sim,
       |   CAST(row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY round(${dotSql("a.embedding", "b.embedding")}, 6) DESC, b.vec_id ASC) AS BIGINT) AS rn
       |  FROM m a JOIN m b
       |   ON a.c1 = b.c1 AND a.scid = b.scid AND a.vec_id != b.vec_id)
       | WHERE rn <= $k ORDER BY src, rn""".stripMargin.replace("\n", " ")

  // ---- random-hyperplane LSH ------------------------------------------

  val Planes: Int = 8

  /** Fixed ±1 hyperplane components, derived from md5("p-d") parity so
    * they are reproducible anywhere (embedded as literals in the oracle
    * SQL). planes(p)(d) ∈ {+1.0, -1.0}. */
  val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dim) { (p, d) =>
      val hex = md.digest(s"$p-$d".getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      if ((Integer.parseInt(hex, 16) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Sign-bucket column: bit p of the bucket = [dot(v, plane_p) >= 0].
    * Plane literals are float (±1.0, exact) so fvec_dot applies without
    * implicit casts. */
  def bucketCol(emb: Column): Column =
    (0 until Planes).map { p =>
      val w = array(planes(p).map(v => lit(v.toFloat)): _*)
      when(dot(emb, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _).cast(LongType)

  private def bucketSql(emb: String): String =
    (0 until Planes).map { p =>
      val lst = planes(p).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($emb[i] AS DOUBLE) * ($lst::DOUBLE[])[i])) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Every vector's LSH bucket (0..2^Planes-1). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("vec_id"), bucketCol(col("embedding")).as("bucket"))
      .orderBy("vec_id")

  val lshBucketsSql: String =
    s"SELECT vec_id, CAST(${bucketSql("embedding")} AS BIGINT) AS bucket FROM embeddings ORDER BY vec_id"

  /** ANN top-k via LSH: score only candidates in the query's bucket.
    * The candidate filter is an equi-join on the bucket id — at scale the
    * table is written bucketed/partitioned by `bucket` so this prunes to
    * one partition instead of scanning all vectors. */
  def lshTopK(queryId: Long, k: Int)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketCol(col("embedding")).as("bucket"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("bucket").as("qb"))
    e.join(broadcast(q), col("bucket") === col("qb"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- materialized ANN layout: partition pruning on the bucket -------

  /** Force the one-time bucket-layout build (bench isolation hook). */
  def prebuildAnnLayout(spark: SparkSession, dir: String): Unit = {
    annLayoutPath(spark, dir)
    ()
  }

  /** Embeddings written `partitionBy(bucket)` — the at-scale ANN layout:
    * a query reads ONLY its bucket's directory (partition pruning), the
    * file-source analog of a vector index's inverted lists. */
  private[graft] def annLayoutPath(spark: SparkSession, dir: String): String =
    graft.DatasetCache.materialize(spark, dir, "ann_layout", "embeddings.parquet") { path =>
      Ivf2.layoutWrite(
        embeddings(spark, dir).select(col("vec_id"), col("embedding"),
          bucketCol(col("embedding")).as("bucket")),
        "bucket", embeddings(spark, dir).count(), path)
    }

  /** LSH top-k against the bucket-partitioned layout: same results as
    * [[lshTopK]] (same oracle), but the scan is partition-pruned to the
    * query's bucket instead of recomputing signatures over everything. */
  def lshTopKPartitioned(queryId: Long, k: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    // register unconditionally: on a layout-cache hit the embeddings()
    // call (which registers) is skipped, and a NEW session in the same
    // JVM would otherwise miss fvec_dot
    FloatVecDot.register(spark)
    val table = graft.DatasetCache.readArtifact(spark, annLayoutPath(spark, dir))
    // the query's (embedding, bucket) is a point lookup on the BASE
    // table — one compact file with the vec_id filter pushed — not a
    // scan of the 2^Planes-directory layout; surfacing the bucket as a
    // driver literal turns the layout scan into STATIC partition
    // pruning (plan-visible PartitionFilters), where the former
    // bucket==qb broadcast join read every partition directory unless
    // runtime DPP happened to fire. Same IVF-probe pattern as
    // Ivf.topKPartitioned; the 1-row lookup is the documented
    // driver-side exception (a query vector, not a dataset).
    embeddings(spark, dir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding"), bucketCol(col("embedding")).as("bucket"))
      .collect().headOption match {
      case None => emptyTopK(spark) // unknown id: empty, like the join arms
      case Some(qRow) =>
        val qe = qRow.getAs[scala.collection.Seq[Float]](0).toArray
        val qb = qRow.getLong(1)
        table.filter(col("bucket") === qb && col("vec_id") =!= queryId)
          .select(col("vec_id"),
            round(dot(col("embedding"), typedLit(qe)), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(k)
    }
  }

  /** What every top-k arm returns for a query id not in the table — the
    * join/oracle formulations yield zero rows, so the point-lookup arms
    * must too instead of throwing on `head()`. */
  private[sim] def emptyTopK(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("vec_id"), lit(0.0).as("sim"))

  def lshTopKSql(queryId: Long, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       | q AS (SELECT embedding AS qe, bucket AS qb FROM e WHERE vec_id = $queryId)
       | SELECT vec_id, round(${dotSql("embedding", "qe")}, 6) AS sim
       | FROM e, q WHERE bucket = qb AND vec_id != $queryId
       | ORDER BY sim DESC, vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  /** Multi-probe LSH top-k: candidates from the query's bucket AND every
    * bucket at Hamming distance 1 (flip one hyperplane sign) — the
    * standard recall knob. Candidate filter is a 1-row broadcast
    * condition, so the scan still streams with no shuffle. */
  def lshTopKMultiProbe(queryId: Long, k: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketCol(col("embedding")).as("bucket"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("bucket").as("qb"))
    e.join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("qb"))) <= 1)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  def lshTopKMultiProbeSql(queryId: Long, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       | q AS (SELECT embedding AS qe, bucket AS qb FROM e WHERE vec_id = $queryId)
       | SELECT vec_id, round(${dotSql("embedding", "qe")}, 6) AS sim
       | FROM e, q WHERE bit_count(xor(bucket, qb)) <= 1 AND vec_id != $queryId
       | ORDER BY sim DESC, vec_id ASC LIMIT $k""".stripMargin.replace("\n", " ")

  // ---- cluster-balanced curation ---------------------------------------

  /** Cluster-balanced (semantically stratified) sampling: keep
    * `ceil(fracPpm/1e6 · |cell|)` members of EVERY quantizer cell,
    * chosen by a deterministic per-id hash order — the training-data
    * curation step that downsamples a corpus while PRESERVING its
    * semantic diversity (uniform sampling over-represents dense topic
    * clusters; per-cell quotas keep the tail topics; cf. the
    * cluster-based selection in SemDeDup/DSIR-style pipelines).
    *
    * Scale shape: the cell assignment is the map-only [[NearestCell]]
    * scan over [[Ivf]]'s corpus-derived quantizer; then ONE shuffle on
    * `cid` where a single window pass ranks members by
    * `(md5-hash, vec_id)` and counts the cell — both over cells the
    * derived-K knob keeps ~[[Ivf.TargetCell]]-sized, so no window
    * partition grows with the corpus. Quota arithmetic is integer ppm
    * (exact in both engines); output is ~frac·n rows, map-filtered in
    * the same pass. */
  def clusterSample(fracPpm: Long)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Md5Prefix.register(spark)
    val a = SemDedup.assignment(spark, dir).select(col("vec_id"), col("cid"))
    val byCell = Window.partitionBy("cid")
    val hk = call_function("md5_prefix",
      col("vec_id").cast("string"), lit(1), lit(15))
    a.withColumn("rn", row_number()
        .over(byCell.orderBy(hk, col("vec_id"))).cast(LongType))
      .withColumn("n", count(lit(1)).over(byCell))
      .filter(col("rn") <= expr(s"(n * $fracPpm + 999999L) div 1000000L"))
      .select(col("vec_id"), col("cid"))
      .orderBy("vec_id")
  }

  def clusterSampleSql(fracPpm: Long): String =
    s"""WITH ${Ivf.chainSql(Ivf.LloydSteps, Ivf.derivedKSql)},
       |r AS (SELECT vec_id, cid,
       |  CAST(row_number() OVER (PARTITION BY cid
       |    ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT), vec_id) AS BIGINT) AS rn,
       |  count(*) OVER (PARTITION BY cid) AS n
       | FROM afin)
       |SELECT vec_id, cid FROM r
       |WHERE rn <= (n * $fracPpm + 999999) // 1000000
       |ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** [[clusterSample]] over the TWO-LEVEL quantizer's leaf cells
    * ((c1, scid) keys) — the 100-TB arm of cluster-balanced sampling:
    * the flat derived-K assignment is O(n·K) = O(n²/TargetCell)
    * (measured 102× wall at 100× data), while [[Ivf2]]'s hierarchical
    * assignment is O(n·√K) (measured 3.5×). Same per-cell quota rule,
    * same deterministic (md5, id) order, same bounded leaf cells. */
  def clusterSample2(fracPpm: Long)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Md5Prefix.register(spark)
    // index-consumer path: the materialized leaf-partitioned assignment
    val a = Ivf2.assign2FromLayout(spark, dir)
      .select(col("vec_id"), col("c1"), col("scid"))
    val byCell = Window.partitionBy("c1", "scid")
    val hk = call_function("md5_prefix",
      col("vec_id").cast("string"), lit(1), lit(15))
    a.withColumn("rn", row_number()
        .over(byCell.orderBy(hk, col("vec_id"))).cast(LongType))
      .withColumn("n", count(lit(1)).over(byCell))
      .filter(col("rn") <= expr(s"(n * $fracPpm + 999999L) div 1000000L"))
      .select(col("vec_id"), col("c1"), col("scid"))
      .orderBy("vec_id")
  }

  def clusterSample2Sql(fracPpm: Long): String =
    s"""WITH ${Ivf2.chain2CtesSql},
       |r AS (SELECT vec_id, c1, scid,
       |  CAST(row_number() OVER (PARTITION BY c1, scid
       |    ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT), vec_id) AS BIGINT) AS rn,
       |  count(*) OVER (PARTITION BY c1, scid) AS n
       | FROM hbf)
       |SELECT vec_id, c1, scid FROM r
       |WHERE rn <= (n * $fracPpm + 999999) // 1000000
       |ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** Top-`topN` terms per quantizer cell — the cluster "topic labeling"
    * pass a curation pipeline runs to inspect WHAT each semantic cell
    * holds before keeping/dropping/reweighting it (the human-auditable
    * face of [[clusterSample]] / SemDeDup decisions).
    *
    * Scale shape: one keyed equi-join of documents to their cell (the
    * assignment side is the map-only quantizer scan; AQE picks the join
    * strategy), explode + map-side-combined (cid, term) counting, then
    * a rank window whose partitions are per-cell VOCABULARIES — bounded
    * by cell size · doc length, never corpus-sized, because the
    * derived-K knob keeps cells ~[[Ivf.TargetCell]] docs. */
  def clusterTerms(topN: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = SemDedup.assignment(spark, dir).select(col("vec_id"), col("cid"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tf = docs.join(a, docs("doc_id") === a("vec_id"))
      .select(col("cid"), explode(split(col("text"), " ")).as("term"))
      .groupBy("cid", "term")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("cid").orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= topN)
      .orderBy("cid", "rn")
  }

  def clusterTermsSql(topN: Int): String =
    s"""WITH ${Ivf.chainSql(Ivf.LloydSteps, Ivf.derivedKSql)},
       |t AS (SELECT a.cid, unnest(string_split(d.text, ' ')) AS term
       |  FROM documents d JOIN afin a ON d.doc_id = a.vec_id),
       |tf AS (SELECT cid, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |r AS (SELECT cid, term, tf,
       |  CAST(row_number() OVER (PARTITION BY cid ORDER BY tf DESC, term ASC) AS BIGINT) AS rn FROM tf)
       |SELECT cid, term, tf, rn FROM r WHERE rn <= $topN
       |ORDER BY cid, rn""".stripMargin.replace("\n", " ")
}

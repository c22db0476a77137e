package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** MinHash+LSH and SimHash near-duplicate sketches over `documents`.
  *
  * All hashing is built from md5 prefixes re-read as integers, so the
  * DuckDB oracle reproduces every bit: a shingle/token hash is the first
  * 7 (28-bit) or 15 (60-bit) hex chars of its md5, and the MinHash
  * family is `(a_j * h + b_j) mod P` with fixed odd constants — products
  * stay < 2^59 so 64-bit arithmetic never overflows (Spark 4 runs ANSI
  * mode: overflow would *throw*, not wrap).
  *
  * Scale shape: signatures are one scan + one groupBy(doc_id) shuffle;
  * LSH candidate pairs are an equi-join on (band, band-hash) — never an
  * O(n^2) pair enumeration. That is exactly the 100 TB formulation.
  */
object Sketches {

  val P: Long = 2147483647L // 2^31 - 1
  /** MinHash family constants (k = 8), odd multipliers < 2^31. */
  val MinHashAB: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (1140671485L, 12820163L),
    (65793L, 4282663L), (214013L, 2531011L),
    (134775813L, 1L), (1664525L, 1013904223L),
    (22695477L, 1L), (1103515245L, 54321L))
  val Bands: Int = 4 // 4 bands x 2 rows

  /** 28-bit shingle hash column (from TextOps.shingles' `s`). 28 bits is
    * the no-overflow bound for the `(a·h+b) mod P` family below, not a
    * join-key width (the candidate JOINS key on band strings of two
    * 31-bit values — no key-space saturation; contrast the
    * [[SimHashBits]] note): its only scale cost is estimator quality —
    * shingles colliding in 2^28 read as identical to MinHash, biasing a
    * pair's estimated jaccard up by ~|doc shingle set|/2^28 (≈4e-7 at
    * the ~100-shingle documents here) INDEPENDENT of corpus size, so it
    * never becomes a scale problem the way a narrow JOIN key does. */
  private def h28 = TextOps.md5p(col("s"), 1, 7)

  private val h28Sql = "CAST('0x'||substr(md5(s),1,7) AS BIGINT)"

  // ---- MinHash signatures ---------------------------------------------

  /** k=8 MinHash signature per document: min_j over distinct shingles of
    * (a_j*h + b_j) mod P. One scan, one combiner-friendly groupBy. */
  private def minhashSigRaw(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.shingleIndex(spark, dir).select(col("doc_id"), col("h28").as("h"))
    val aggs = MinHashAB.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$j")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigRaw(spark, dir).orderBy("doc_id")

  val minhashSignaturesSql: String = {
    val mins = MinHashAB.zipWithIndex
      .map { case ((a, b), j) => s"min(($a*h+$b)%$P) AS mh$j" }.mkString(", ")
    s"""WITH sh AS (${TextOps.shinglesSql}),
       | hh AS (SELECT doc_id, $h28Sql AS h FROM sh)
       | SELECT doc_id, $mins FROM hh GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  // ---- LSH candidate pairs --------------------------------------------

  /** Document-frequency cap on band keys (same rationale as
    * `TextOps.ShingleDfCap`: a band key shared by k docs contributes
    * k^2/2 candidate rows on one shuffle key — a degenerate "everything
    * hashes together" band must be dropped, not joined). Far above the
    * testdata's max band df (12 at sf0.1). */
  val BandDfCap = 512

  /** LSH banding: signature rows are exploded to (doc_id, band, band-key)
    * and candidates found by equi-join on (band, key) — shuffle on the
    * band key, so it scales linearly in corpus size. Band keys with more
    * than `dfCap` members are dropped before the join (broadcast
    * anti-join; the hot list is at most |rows|/cap keys). Output:
    * candidate pair + number of matching (non-hot) bands. */
  def minhashLshPairs(spark: SparkSession, dir: String,
      dfCap: Int = BandDfCap): DataFrame = {
    // explode, not unionAll-of-selects: one signature aggregation feeds all
    // bands, and the self-join's two sides canonicalize to the same plan so
    // the shuffle is computed once (ReuseExchange).
    val bandRows = minhashSigRaw(spark, dir).select(col("doc_id"),
        explode(array((0 until Bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws(":", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("bkey"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      // one materialization feeds both self-join sides (shingle scan +
      // signature aggregation would otherwise run twice)
      .localCheckpoint(false)
    val keep = TextOps.dfCapped(bandRows, Seq("band", "bkey"), dfCap)
    keep.as("a").join(keep.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("d1", "d2")
  }

  val minhashLshPairsSql: String = {
    // same banded formulation as the Spark plan (incl. the df cap), so
    // the engines agree even when a cap fires
    val bandRows = (0 until Bands).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR)||':'||CAST(mh${2 * b + 1} AS VARCHAR) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sig AS ($minhashSignaturesSql),
       | bands AS ($bandRows),
       | hot AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) > $BandDfCap),
       | keep AS (SELECT bands.* FROM bands ANTI JOIN hot USING (band, bkey))
       | SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_bands
       | FROM keep a JOIN keep b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")
  }

  // ---- SimHash ---------------------------------------------------------

  /** Sketch width 60 — the full md5-prefix token hash. Width is the
    * banded join's scale knob: random-collision candidate pairs cost
    * ~bands·N²/2^(bits/2), so a 32-bit sketch (16-bit halves, 2×65k
    * buckets) SATURATES its key space once the corpus passes ~10⁵ docs
    * and the join drifts quadratic — measured on the 100× fixture
    * (500k docs): 10.9M candidate pairs at 16-bit halves vs 0.48M at
    * 30-bit (22× fewer; the survivors are the true near-dup structure,
    * which grows linearly). 30-bit halves push the saturation point out
    * by 2^14 (≈10⁹ docs before random df ≈ 1) at identical per-row
    * sketch cost; past that, the knob turns again (wider hash → wider
    * halves). `BENCH_SCALE_r06.json#hundredx_dedup` has the runs. */
  val SimHashBits: Int = 60
  private val HalfBits: Int = SimHashBits / 2
  private val HalfMask: Long = (1L << HalfBits) - 1

  /** 60-bit SimHash over whitespace tokens (with multiplicity): bit b is
    * set iff the majority of token-hash bits b vote 1.
    *
    * Implemented as 30 LANE-PACKED sum aggregates (r13 optimization
    * round; was 60 conditional ±1 sums): each aggregate sums TWO bit
    * counters — bit 2i in the low 32-bit lane, bit 2i+1 shifted into the
    * high lane — so the per-token-row work halves (30 buffer updates of
    * `(h>>2i)&1 + ((h>>(2i+1))&1)<<32` replace 60 compare-branch-sum
    * updates) while staying map-side combinable on a single shuffle.
    * Lane overflow is impossible: each lane counts ≤ one document's
    * tokens, and a single text value cannot hold 2^31 tokens (the high
    * lane's headroom below the signed Long's sign bit). The
    * majority vote is recovered exactly — the old `sum(±1) >= 0` is
    * `2·ones_b >= n` with n the doc's token count — so the assembled
    * sketch is bit-identical (oracle-pinned).
    *
    * The tokenize+md5 map side is [[graft.DatasetCache.spread]] (the
    * pii-regex discipline: per-token MD5 is far heavier than a row
    * copy, and the single-file canonical corpus otherwise runs it as
    * ONE task — profiled 340 ms of a 743 ms stage wall; identity at
    * real scale where splits cover the cores). */
  private def simhashRaw(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.DatasetCache.spread(TextOps.docs(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val th = tok.select(col("doc_id"),
      TextOps.md5p(col("t"), 1, 15).as("h"))
    val laneAggs = (0 until SimHashBits / 2).map { i =>
      sum(shiftright(col("h"), 2 * i).bitwiseAND(lit(1L)) +
        shiftright(col("h"), 2 * i + 1).bitwiseAND(lit(1L)) * lit(1L << 32))
        .as(s"l$i")
    }
    def ones(b: Int): Column =
      if (b % 2 == 0) col(s"l${b / 2}").bitwiseAND(lit(0xFFFFFFFFL))
      else shiftright(col(s"l${b / 2}"), 32)
    val assembled = (0 until SimHashBits)
      .map(b => when(ones(b) * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    th.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), laneAggs: _*)
      .select(col("doc_id"), assembled.cast(LongType).as("simhash"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashRaw(spark, dir).orderBy("doc_id")

  val simhashSql: String = {
    val bitSums = (0 until SimHashBits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val assemble = (0 until SimHashBits)
      .map(b => s"(CASE WHEN b$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
       | th AS (SELECT doc_id, CAST('0x'||substr(md5(t),1,15) AS BIGINT) AS h FROM tok),
       | bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id)
       | SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Document-frequency cap on simhash halves — a half shared by k docs
    * is a k^2/2 hot key in the candidate join. With 30-bit halves a df
    * this high can only be true mass duplication (the skew case the cap
    * exists for), never random collision. */
  val HalfDfCap = 1024

  /** SimHash near-dup pairs with Hamming distance <= maxDist, found by
    * the banded trick: split the 60-bit sketch in two 30-bit halves; any
    * pair within Hamming <= 3 of a half-match shares at least one exact
    * half (pigeonhole only guarantees this for dist <= 1 per half — we
    * use half-match as the candidate filter exactly like production
    * SimHash dedup does, trading a sliver of recall for an equi-join).
    * Halves with more than `dfCap` members are dropped before the join
    * (they pair everything with everything — no signal, all skew). */
  def simhashPairs(maxDist: Int, dfCap: Int = HalfDfCap)(
      spark: SparkSession, dir: String): DataFrame = {
    val halves = simhashRaw(spark, dir).select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("hx"), col("simhash").bitwiseAND(lit(HalfMask)).as("hv")),
          struct(lit(1).as("hx"), shiftright(col("simhash"), HalfBits).as("hv")))).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.hx").as("hx"), col("bb.hv").as("hv"))
      // one shuffle feeds the hot-key aggregation and both join sides
      .localCheckpoint(false)
    val keep = TextOps.dfCapped(halves, Seq("hx", "hv"), dfCap)
    keep.as("a").join(keep.as("b"),
        col("a.hx") === col("b.hx") && col("a.hv") === col("b.hv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType)
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("d1", "d2")
  }

  /** Cross-modal dedup verification: MinHash-LSH candidate pairs
    * re-scored with the documents' embedding cosine (doc_id == vec_id in
    * the testdata) — the text-sketch recall stage feeding a dense-vector
    * precision stage, each side a broadcast-friendly equi-join. */
  def crossCheckPairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLshPairs(spark, dir)
    val emb = graft.sim.SimOps.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.as("ea"), col("d1") === col("ea.vec_id"))
      .join(emb.as("eb"), col("d2") === col("eb.vec_id"))
      .select(col("d1"), col("d2"), col("n_bands"),
        round(graft.sim.SimOps.dot(col("ea.embedding"), col("eb.embedding")), 6)
          .as("cosine"))
      .orderBy("d1", "d2")
  }

  val crossCheckPairsSql: String = {
    val dot = s"list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))"
    s"""WITH pairs AS ($minhashLshPairsSql)
       | SELECT d1, d2, n_bands, round($dot, 6) AS cosine
       | FROM pairs JOIN embeddings ea ON d1 = ea.vec_id
       |  JOIN embeddings eb ON d2 = eb.vec_id
       | ORDER BY d1, d2""".stripMargin.replace("\n", " ")
  }

  def simhashPairsSql(maxDist: Int): String =
    s"""WITH sig AS ($simhashSql),
       | halves AS (SELECT doc_id, simhash, 0 AS hx, simhash & $HalfMask AS hv FROM sig
       |   UNION ALL SELECT doc_id, simhash, 1 AS hx, simhash >> $HalfBits AS hv FROM sig),
       | hot AS (SELECT hx, hv FROM halves GROUP BY 1, 2 HAVING count(*) > $HalfDfCap),
       | keep AS (SELECT halves.* FROM halves ANTI JOIN hot USING (hx, hv)),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |   a.simhash AS s1, b.simhash AS s2
       |   FROM keep a JOIN keep b ON a.hx = b.hx AND a.hv = b.hv AND a.doc_id < b.doc_id)
       | SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming FROM cand
       | WHERE bit_count(xor(s1, s2)) <= $maxDist
       | ORDER BY 1, 2""".stripMargin.replace("\n", " ")
}

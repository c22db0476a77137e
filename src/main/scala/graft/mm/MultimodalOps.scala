package graft.mm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) as opaque
  * `binary` columns with a typed metadata struct, plus the decode /
  * feature-extract / frame-sample operator shapes a training pipeline
  * needs.
  *
  * No codec libraries exist in this environment, so the *decode* step is
  * a clearly-marked stub ([[MediaDecoder]]); everything Spark-side —
  * schema, batch shape, partition-parallel `mapPartitions` plumbing,
  * chunk/frame sampling, deterministic fingerprinting — is real and
  * oracle-tested. The media blob is synthesized from `documents.text`
  * (ASCII), which lets the DuckDB oracle compute the same hashes from
  * string slices while Spark operates on genuine `BinaryType`.
  */
object MultimodalOps {

  val ChunkBytes: Int = 64

  /** documents → media table: (media_id, media: binary, meta struct).
    * The struct mirrors what an ingest job would carry for real assets. */
  def media(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").as("media_id"),
      encode(col("text"), "utf-8").as("media"),
      struct(
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("format"),
        (col("doc_id") % 640 + 16).cast(IntegerType).as("width"),
        (col("doc_id") % 480 + 16).cast(IntegerType).as("height")).as("meta"))

  private val mediaMetaSql =
    """SELECT doc_id AS media_id, text,
      | CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS format,
      | CAST(doc_id % 640 + 16 AS INTEGER) AS width,
      | CAST(doc_id % 480 + 16 AS INTEGER) AS height
      | FROM documents""".stripMargin.replace("\n", " ")

  /** Per-asset metadata + content fingerprint: byte length, md5, chunk
    * count. Pure map-side projection — one scan at any scale. */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir).select(
      col("media_id"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("media")).cast(LongType).as("n_bytes"),
      md5(col("media")).as("content_md5"),
      ceil(length(col("media")) / lit(ChunkBytes.toDouble)).cast(LongType).as("n_chunks"))
      .orderBy("media_id")

  val mmMetaSql: String =
    s"""SELECT media_id, format, width, height,
       | CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5,
       | CAST(ceil(length(text) / $ChunkBytes.0) AS BIGINT) AS n_chunks
       | FROM ($mediaMetaSql) ORDER BY media_id""".stripMargin.replace("\n", " ")

  /** Frame/chunk sampling: split each blob into fixed-size chunks (the
    * frame-sample analog for video, window-sample for audio) and
    * fingerprint each chunk. explode() keeps this fully distributed — a
    * 100 TB corpus becomes (bytes/chunk) rows spread over all tasks. */
  /** (media_id, chunk_idx, chunk_md5) relation shared by full chunk
    * hashing and frame sampling. The `length > 0` guard matters: for an
    * empty blob nChunks = 0 and Spark's `sequence(0, -1)` DESCENDS
    * ([0, -1]) instead of being empty like the oracle's `range(0, 0)`. */
  private def chunkHashRelation(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = ceil(length(col("media")) / lit(ChunkBytes.toDouble)).cast(LongType)
    media(spark, dir)
      .filter(length(col("media")) > 0)
      .select(col("media_id"), col("media"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("media_id"), col("chunk_idx"),
        md5(expr(s"substring(media, chunk_idx * $ChunkBytes + 1, $ChunkBytes)"))
          .as("chunk_md5"))
  }

  def mmChunkHashes(spark: SparkSession, dir: String): DataFrame =
    chunkHashRelation(spark, dir).orderBy("media_id", "chunk_idx")

  val mmChunkHashesSql: String =
    s"""SELECT media_id, CAST(ci AS BIGINT) AS chunk_idx,
       | md5(substr(text, ci * $ChunkBytes + 1, $ChunkBytes)) AS chunk_md5
       | FROM (SELECT media_id, text, unnest(range(0, CAST(ceil(length(text) / $ChunkBytes.0) AS BIGINT))) AS ci
       |   FROM ($mediaMetaSql))
       | ORDER BY media_id, chunk_idx""".stripMargin.replace("\n", " ")

  /** Blob-level near-duplicate pairs by chunk-hash Jaccard — the
    * storage-dedup / dataset-dedup move for opaque media: two assets
    * are near-duplicates when their fixed-size chunk fingerprint SETS
    * overlap, which catches exact copies (jaccard = 1e6) and
    * append/truncate variants (high overlap) without ever decoding the
    * bytes. The same shape CDC (content-defined chunking) dedup uses;
    * chunk boundaries here are fixed-offset, the alignment-sensitive
    * variant, which keeps the oracle exact.
    *
    * Scale: candidates come from an equi-join on `chunk_md5` — never
    * all-pairs. Chunk hashes with corpus-wide document frequency above
    * `dfCap` (zero blocks, shared headers — the classic hot keys) are
    * excluded from the *universe* (both the intersection AND the set
    * sizes, so the measure stays a true Jaccard over the capped
    * universe), bounding any hash bucket's pair fan-out at dfCap^2 —
    * the same df-cap policy the text shingle joins use. Jaccard is
    * integer ppm, oracle-exact. */
  def mmNearDupPairs(tauPpm: Long, dfCap: Long = 64L)(
      spark: SparkSession, dir: String): DataFrame = {
    val ch = chunkHashRelation(spark, dir)
      .select("media_id", "chunk_md5").distinct()
    // no hint: the hash-frequency relation is corpus-sized
    val hot = ch.groupBy("chunk_md5").agg(count(lit(1)).as("df"))
    val kept = ch.join(hot.filter(col("df") <= dfCap), "chunk_md5")
      .select("media_id", "chunk_md5")
    val sizes = kept.groupBy("media_id").agg(count(lit(1)).as("n"))
    val shared = kept.as("a")
      .join(kept.as("b"), col("a.chunk_md5") === col("b.chunk_md5") &&
        col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("m1"), col("b.media_id").as("m2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("media_id").as("m1"), col("n").as("n1")), "m1")
      .join(sizes.select(col("media_id").as("m2"), col("n").as("n2")), "m2")
      .select(col("m1"), col("m2"), col("shared"),
        expr("shared * 1000000L div (n1 + n2 - shared)").as("jaccard_ppm"))
      .filter(col("jaccard_ppm") >= tauPpm)
      .orderBy("m1", "m2")
  }

  def mmNearDupPairsSql(tauPpm: Long, dfCap: Long = 64L): String =
    s"""WITH ch AS (
       |  SELECT DISTINCT media_id, md5(substr(text, ci * $ChunkBytes + 1, $ChunkBytes)) AS chunk_md5
       |  FROM (SELECT media_id, text, unnest(range(0, CAST(ceil(length(text) / $ChunkBytes.0) AS BIGINT))) AS ci
       |    FROM ($mediaMetaSql))),
       | kept AS (SELECT media_id, chunk_md5 FROM ch
       |   WHERE chunk_md5 IN (SELECT chunk_md5 FROM ch GROUP BY 1 HAVING count(*) <= $dfCap)),
       | sizes AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY 1),
       | shared AS (SELECT a.media_id AS m1, b.media_id AS m2, CAST(count(*) AS BIGINT) AS shared
       |   FROM kept a JOIN kept b ON a.chunk_md5 = b.chunk_md5 AND a.media_id < b.media_id
       |   GROUP BY 1, 2)
       |SELECT m1, m2, shared, shared * 1000000 // (s1.n + s2.n - shared) AS jaccard_ppm
       |FROM shared JOIN sizes s1 ON m1 = s1.media_id JOIN sizes s2 ON m2 = s2.media_id
       |WHERE shared * 1000000 // (s1.n + s2.n - shared) >= $tauPpm
       |ORDER BY m1, m2""".stripMargin.replace("\n", " ")

  /** Near-duplicate media CLUSTERS: connected components over the
    * [[mmNearDupPairs]] candidate edges — the cross-modal twin of
    * `doc_dup_clusters`, sharing [[graft.text.TextOps.connectedComponents]]
    * (path-halving, O(log diameter) rounds, label = smallest media_id in
    * the component — the order-free fixpoint the recursive-closure
    * oracle lands on too). Only media with at least one near-dup pair
    * appear, identically in the oracle. Cluster-size relation is
    * near-dup-sized (unbounded on a duplicate-heavy corpus): no forced
    * broadcast, AQE picks. */
  /** Materialized media near-dup pair index for `(dataset, tau)` — like
    * the text `pair_index`, candidate pairs are computed ONCE per
    * dataset and every consumer (clustering, reporting) reads the
    * relation; `mm_neardup` itself stays on the live computation as the
    * honest benchmark arm for pair generation. */
  private def mmPairIndex(spark: SparkSession, dir: String,
      tauPpm: Long): DataFrame =
    graft.DatasetCache.frame(spark, dir, s"mm_pair_idx#$tauPpm", "documents.parquet")(
      mmNearDupPairs(tauPpm)(spark, dir))

  /** Force the one-time pair-index build (bench isolation hook). */
  def prebuildMmPairIndex(tauPpm: Long)(spark: SparkSession, dir: String): Unit = {
    mmPairIndex(spark, dir, tauPpm)
    ()
  }

  def mmDupClusters(tauPpm: Long)(spark: SparkSession, dir: String): DataFrame = {
    val edges = mmPairIndex(spark, dir, tauPpm)
      .select(col("m1").as("d1"), col("m2").as("d2"))
    val labels = graft.text.TextOps.connectedComponents(edges)._1
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id").as("media_id"), col("lbl").as("cluster"),
        col("cluster_size"))
      .orderBy("media_id")
  }

  def mmDupClustersSql(tauPpm: Long): String =
    s"""WITH RECURSIVE
       | e AS (SELECT m1 AS d1, m2 AS d2 FROM (${mmNearDupPairsSql(tauPpm)})),
       | und AS (SELECT d1 AS a, d2 AS b FROM e UNION SELECT d2, d1 FROM e),
       | nodes AS (SELECT a FROM und UNION SELECT b FROM und),
       | reach(a, b) AS (
       |   SELECT a, a FROM nodes
       |   UNION
       |   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       | lab AS (SELECT a AS media_id, CAST(min(b) AS BIGINT) AS cluster FROM reach GROUP BY a)
       | SELECT media_id, cluster, CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
       | FROM lab ORDER BY media_id""".stripMargin.replace("\n", " ")

  /** Deterministic stand-in "feature extraction": 4 doubles in [0,1)
    * derived from md5 prefixes of the blob — the operator shape (binary
    * in, fixed-width float features out, pure projection) matches a real
    * embedding/decode UDF while staying oracle-checkable. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Prefix.register(spark)
    def f(j: Int): Column =
      round(call_function("md5_prefix", col("media"), lit(j * 8 + 1), lit(7))
        .cast("double") / (1L << 28).toDouble, 6)
    media(spark, dir).select(
      col("media_id"),
      f(0).as("f0"), f(1).as("f1"), f(2).as("f2"), f(3).as("f3"))
      .orderBy("media_id")
  }

  val mmFeaturesSql: String = {
    def f(j: Int) =
      s"round(CAST(CAST('0x'||substr(md5(text),${j * 8 + 1},7) AS BIGINT) AS DOUBLE) / ${(1L << 28).toDouble}, 6) AS f$j"
    s"SELECT media_id, ${(0 to 3).map(f).mkString(", ")} FROM ($mediaMetaSql) ORDER BY media_id"
  }

  /** Temporal frame sampling: keep every `stride`-th chunk (video frame
    * subsampling / audio window decimation) — [[chunkHashRelation]] plus
    * the stride filter, which Catalyst pushes below the hash projection,
    * so skipped frames are never hashed. */
  def mmFrameSample(stride: Long)(spark: SparkSession, dir: String): DataFrame =
    chunkHashRelation(spark, dir)
      .filter(col("chunk_idx") % stride === 0)
      .withColumnRenamed("chunk_md5", "frame_md5")
      .orderBy("media_id", "chunk_idx")

  def mmFrameSampleSql(stride: Long): String =
    s"""SELECT media_id, CAST(ci AS BIGINT) AS chunk_idx,
       | md5(substr(text, ci * $ChunkBytes + 1, $ChunkBytes)) AS frame_md5
       | FROM (SELECT media_id, text, unnest(range(0, CAST(ceil(length(text) / $ChunkBytes.0) AS BIGINT))) AS ci
       |   FROM ($mediaMetaSql))
       | WHERE ci % $stride = 0 ORDER BY media_id, chunk_idx""".stripMargin.replace("\n", " ")

  // ---- resize (stub codec, real plumbing) ------------------------------

  /** Aspect-preserving downscale factor for a (w, h) asset into a
    * (maxW, maxH) box — never upscales. Shared by the Scala stub and the
    * SQL oracle (identical IEEE double ops ⇒ identical results). */
  def resizeScale(w: Int, h: Int, maxW: Int, maxH: Int): Double =
    math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))

  /** STUB resize: a real implementation decodes, rescales pixels and
    * re-encodes; without codecs we keep the byte-count contract — the
    * output blob is the first `ceil(n * scale²)` bytes (area ratio) —
    * and the real metadata contract: floor(w·s) × floor(h·s). */
  def resizeBytesStub(bytes: Array[Byte], scale: Double): Array[Byte] = {
    val n = math.ceil(bytes.length * (scale * scale)).toInt
    java.util.Arrays.copyOfRange(bytes, 0, math.min(bytes.length, n))
  }

  /** Distributed resize over the binary column: `mapPartitions` batch
    * path (no shuffle), output = resized blob + updated meta struct. The
    * oracle-gated projection [[mmResize]] exposes the integer outputs
    * (new geometry + byte count) so the END-TO-END plumbing — including
    * the actual resized array lengths — is hash-checked against DuckDB
    * computing the same formulas. */
  def resizeMedia(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("format", StringType),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false))))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col("media_id"), col("media"), col("meta.format"),
        col("meta.width"), col("meta.height"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h) = (r.getInt(3), r.getInt(4))
          val s = resizeScale(w, h, maxW, maxH)
          val out = resizeBytesStub(r.getAs[Array[Byte]](1), s)
          Row(r.getLong(0), out, Row(r.getString(2),
            math.floor(w * s).toInt, math.floor(h * s).toInt))
        }
      }(enc)
  }

  /** Oracle surface for the resize pipeline: run the REAL mapPartitions
    * resize, then project the checkable integers. */
  def mmResize(maxW: Int, maxH: Int)(spark: SparkSession, dir: String): DataFrame =
    resizeMedia(media(spark, dir), maxW, maxH).select(
      col("media_id"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("media")).cast(LongType).as("n_bytes"))
      .orderBy("media_id")

  def mmResizeSql(maxW: Int, maxH: Int): String = {
    val scale = s"least(1.0, least($maxW / CAST(w AS DOUBLE), $maxH / CAST(h AS DOUBLE)))"
    s"""SELECT media_id,
       | CAST(floor(w * s) AS INTEGER) AS width,
       | CAST(floor(h * s) AS INTEGER) AS height,
       | CAST(least(length(text), CAST(ceil(length(text) * (s * s)) AS BIGINT)) AS BIGINT) AS n_bytes
       | FROM (SELECT media_id, text, width AS w, height AS h, $scale AS s FROM ($mediaMetaSql))
       | ORDER BY media_id""".stripMargin.replace("\n", " ")
  }

  // ---- real-decoder plumbing (stubbed codec) ---------------------------

  /** Pluggable decoder: bytes of one asset → fixed-width feature vector.
    * Real implementations (JPEG decode + resize, PCM windowing, video
    * frame extraction) slot in here; none of those codecs exist in this
    * container, so the default is a deterministic fake. */
  trait MediaDecoder extends Serializable {
    def features(format: String, bytes: Array[Byte]): Array[Float]
  }

  /** STUB: stands in for the real codec path. Deterministic: folds bytes
    * into `dim` accumulators. Replace with actual image/audio decoding
    * when codec libraries are available. */
  final class StubDecoder(dim: Int = 8) extends MediaDecoder {
    def features(format: String, bytes: Array[Byte]): Array[Float] = {
      val acc = new Array[Float](dim)
      var k = 0
      while (k < bytes.length) {
        acc(k % dim) += (bytes(k) & 0xff) / 255.0f
        k += 1
      }
      acc
    }
  }

  /** Distributed decode: partition-parallel map over the binary column.
    * This is the `mapInPandas`-equivalent batch path — each task decodes
    * its partition's blobs without any shuffle; the output schema is
    * (media_id, features array<float>). */
  def decodeFeatures(df: DataFrame, decoder: MediaDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col("media_id"), col("meta.format").as("format"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), decoder.features(r.getString(1), r.getAs[Array[Byte]](2)).toSeq)
        }
      }(enc)
  }
}

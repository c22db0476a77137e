package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.sim.{Ivf2, SimOps}
import graft.streaming.EmbedStream

/** End-to-end streaming ingest into a QUERYABLE index segment: the
  * file-sink delta directory must (a) land exactly the batch append's
  * rows exactly once across a stop/restart, (b) carry the base
  * layout's file-set semantics (coarse-cell partition dirs + commit
  * log), and (c) make crash debris invisible to readers. */
class EmbedStreamIngestSpec extends SparkSpec {

  /** Move the single parquet part file of a one-shot batch write into
    * `dst` — the arrival of one source file for the file stream. */
  private def arriveFile(df: org.apache.spark.sql.DataFrame, dst: Path,
      name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(tempDir("ingest_src_stage"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, dst.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("a delta dir with no committed batch reads as an EMPTY segment; a missing dir errors") {
    val fresh = Paths.get(tempDir("ingest_fresh_delta"))
    val seg = EmbedStream.deltaSegment(spark, fresh.toString)
    assert(seg.count() == 0)
    assert(seg.columns.toSeq ==
      Seq("vec_id", "embedding", "scid", "dist", "c1"))
    intercept[IllegalArgumentException] {
      EmbedStream.deltaSegment(spark, "/nonexistent/segment/path")
    }
  }

  test("restarted ingest lands the batch append rows exactly once, as a queryable segment") {
    val n = SimOps.embeddings(spark, sf0001).count()
    val split = n / 2
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val newHalf = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split).select("vec_id", "embedding")

    val src = Paths.get(tempDir("ingest_src"))
    val delta = tempDir("ingest_delta")
    val ckpt = tempDir("ingest_ckpt")
    // wave 1 + wave 2 arrive before the restart, wave 3 after
    val bounds = Seq(split, split + 7, split + 8, Long.MaxValue)
    def wave(i: Int) = newHalf
      .filter(col("vec_id") >= bounds(i) && col("vec_id") < bounds(i + 1))
    arriveFile(wave(0), src, "wave0.parquet")
    arriveFile(wave(1), src, "wave1.parquet") // a 1-row arrival

    def startQuery() = EmbedStream.startIndexIngest(
      spark.readStream.schema(newHalf.schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString),
      coarse, cents, delta, ckpt)

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // planned stop mid-ingest — wave 3 has not arrived yet
    val seen = EmbedStream.deltaSegment(spark, delta).count()
    assert(seen == 8, s"pre-restart segment has $seen rows, want 8")

    arriveFile(wave(2), src, "wave2.parquet")
    val q2 = startQuery() // SAME checkpoint + path: resume, not redo
    q2.processAllAvailable()
    q2.stop()

    val got = EmbedStream.deltaSegment(spark, delta)
      .select("vec_id", "c1", "scid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val want = Ivf2.assign2Append(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want,
      "stream-built segment != batch append assignment (or not exactly-once)")
    // exactly-once, stated directly: no vec_id landed twice
    assert(got.map(_._1).distinct.length == got.length)

    // file-set semantics: one partition dir per coarse cell the batch
    // assignment uses, exactly like the base layout's directory shape
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(delta)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("c1="))
      .map(_.getFileName.toString.stripPrefix("c1=").toLong).toSet
    assert(dirs == want.map(_._2).toSet,
      s"partition dirs $dirs != assigned coarse cells ${want.map(_._2).toSet}")

    // search equivalence: brute-force top-k over base ∪ stream-delta ==
    // over base ∪ batch-delta (same reader, same pruning columns)
    val base = tempDir("ingest_base")
    Ivf2.assignFrozenFull(
      SimOps.embeddings(spark, sf0001).filter(col("vec_id") < split),
      coarse, cents)
      .write.mode("overwrite").partitionBy("c1").parquet(base)
    val baseDf = spark.read.parquet(base)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1")
    val qe = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    def topk(seg: org.apache.spark.sql.DataFrame) =
      baseDf.unionByName(seg)
        .filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qe))
        .select(col("vec_id"), round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaStream = topk(EmbedStream.deltaSegment(spark, delta))
    val viaBatch = topk(Ivf2.assignFrozenFull(newHalf, coarse, cents)
      .select("vec_id", "embedding", "scid", "dist", "c1"))
    assert(viaStream == viaBatch && viaStream.nonEmpty,
      s"search over stream segment diverged: $viaStream vs $viaBatch")
    // and the union search actually sees appended vectors (otherwise
    // the equivalence above is vacuous about the delta)
    assert(viaStream.exists(_._1 >= split) ||
      EmbedStream.deltaSegment(spark, delta).count() == n - split)

    // crash debris: a data file dropped into a partition dir WITHOUT a
    // commit-log entry must be invisible to the segment reader
    val before = EmbedStream.deltaSegment(spark, delta).count()
    val anyCell = dirs.head
    val victim = Files.list(Paths.get(delta, s"c1=$anyCell")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.copy(victim, victim.resolveSibling("part-99999-debris.parquet"))
    assert(EmbedStream.deltaSegment(spark, delta).count() == before,
      "uncommitted file is visible — the reader is not using the sink's commit log")
  }
}

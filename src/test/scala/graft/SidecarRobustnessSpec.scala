package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.sim.Ivf2
import graft.streaming.EmbedStream

/** Failure-mode discipline for the layout sidecar/segment readers:
  * emptiness must be detected STRUCTURALLY (no visible data file, no
  * committed batch), never by swallowing read errors — a malformed or
  * wrong-schema sidecar must fail loudly, not silently resurrect
  * deleted vectors or hide ingested ones. */
class SidecarRobustnessSpec extends SparkSpec {

  /** A layout-shaped dir (one c1 partition, layout columns). */
  private def tinyLayout(): String = {
    val p = tempDir("robust_layout")
    spark.range(4).select(col("id").as("vec_id"),
        expr("CAST(array(1.0, 2.0) AS array<float>)").as("embedding"),
        col("id").as("scid"), col("id").as("dist"),
        (col("id") % 2).as("c1"))
      .write.mode("overwrite").partitionBy("c1").parquet(p)
    p
  }

  test("a wrong-schema DV sidecar fails loudly instead of reading as 'nothing deleted'") {
    val dv = tempDir("robust_bad_dv")
    // data files exist, but the vec_id/c1 columns do not
    spark.range(3).select(col("id").as("wrong_column"))
      .write.mode("overwrite").parquet(dv)
    intercept[AnalysisException] {
      Ivf2.compactDeletes(spark, tinyLayout(), dv)
    }
  }

  test("a zero-committed-file DV dir is structurally empty: compaction is a no-op") {
    val dv = tempDir("robust_empty_dv")
    // only metadata under the dir: a partitioned zero-row write's shape
    Files.writeString(Paths.get(dv, "_SUCCESS"), "")
    assert(Ivf2.compactDeletes(spark, tinyLayout(), dv).isEmpty)
  }

  test("compactDeletes refuses a streaming delta segment (commit-log bypass)") {
    val seg = tinyLayout()
    Files.createDirectory(Paths.get(seg, "_spark_metadata"))
    val dv = tempDir("robust_dv")
    val e = intercept[IllegalArgumentException] {
      Ivf2.compactDeletes(spark, seg, dv)
    }
    assert(e.getMessage.contains("foldDelta"))
  }

  test("a wrong-schema delta segment fails loudly instead of reading as empty") {
    val seg = tempDir("robust_bad_seg")
    spark.range(3).select(col("id").as("wrong_column"))
      .write.mode("overwrite").parquet(seg)
    intercept[AnalysisException] {
      EmbedStream.deltaSegment(spark, seg)
    }
  }

  test("a delta segment with an EMPTY commit log hides in-flight data files") {
    val seg = Paths.get(tempDir("robust_inflight_seg"))
    // an in-flight (uncommitted) data file plus a batchless metadata log
    spark.range(2).select(col("id").as("vec_id"),
        expr("CAST(array(1.0, 2.0) AS array<float>)").as("embedding"),
        col("id").as("scid"), col("id").as("dist"), col("id").as("c1"))
      .write.mode("overwrite").parquet(seg.resolve("c1=0").toString)
    Files.createDirectory(seg.resolve("_spark_metadata"))
    assert(EmbedStream.deltaSegment(spark, seg.toString).count() == 0)
  }

  test("a commit log whose batches list ZERO files reads as an empty segment") {
    // a micro-batch can legitimately commit no files (every row of the
    // batch filtered out): the log has a batch, the committed file SET
    // is empty, and the next batch's part file is in flight on disk —
    // the segment must read as EMPTY, not crash schema inference
    val seg = Paths.get(tempDir("robust_zerofile_seg"))
    spark.range(2).select(col("id").as("vec_id"),
        expr("CAST(array(1.0, 2.0) AS array<float>)").as("embedding"),
        col("id").as("scid"), col("id").as("dist"), col("id").as("c1"))
      .write.mode("overwrite").parquet(seg.resolve("c1=0").toString) // in flight
    val meta = Files.createDirectory(seg.resolve("_spark_metadata"))
    Files.write(meta.resolve("0"), "v1\n".getBytes) // batch 0: zero files
    assert(EmbedStream.deltaSegment(spark, seg.toString).count() == 0)
  }

  test("a commit log listing committed files with the data files GONE fails loudly") {
    // the inverse of the two cases above: the sink's log names committed
    // files but no visible data file exists (partial copy, external
    // deletion) — reading that as an empty delta would silently drop the
    // whole segment from a composed search (r11 advice item 1)
    import scala.jdk.CollectionConverters._
    val stage = Paths.get(tempDir("robust_gone_stage"))
    val src = Paths.get(tempDir("robust_gone_src"))
    val rows = spark.range(2).select(col("id").as("vec_id"),
      expr("CAST(array(1.0, 2.0) AS array<float>)").as("embedding"),
      col("id").as("scid"), col("id").as("dist"), col("id").as("c1"))
    rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, src.resolve("wave0.parquet"))
    val seg = Paths.get(tempDir("robust_gone_seg"))
    val ckpt = Paths.get(tempDir("robust_gone_ckpt"))
    val q = spark.readStream.schema(rows.schema).parquet(src.toString)
      .writeStream.format("parquet").option("path", seg.toString)
      .option("checkpointLocation", ckpt.toString)
      .partitionBy("c1").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(EmbedStream.deltaSegment(spark, seg.toString).count() == 2)
    // externally delete every committed DATA file; the log survives
    val walk = Files.walk(seg)
    try walk.iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        seg.relativize(p).iterator().asScala.forall(s =>
          Ivf2.isVisibleName(s.toString)))
      .foreach(Files.delete)
    finally walk.close()
    val e = intercept[IllegalArgumentException] {
      EmbedStream.deltaSegment(spark, seg.toString)
    }
    assert(e.getMessage.contains("refusing to read a truncated segment"))
  }

  test("foldDelta refuses base == delta under path aliasing") {
    val base = Paths.get(tempDir("robust_selffold_base"))
    spark.range(2).select(col("id").as("vec_id"),
        expr("CAST(array(1.0, 2.0) AS array<float>)").as("embedding"),
        col("id").as("scid"), col("id").as("dist"), col("id").as("c1"))
      .write.mode("overwrite").partitionBy("c1").parquet(base.toString)
    // an aliased spelling of the same dir: fold(base, base/.) would
    // anti-join every row away and then CONSUME the "segment" — i.e.
    // delete the base layout while reporting success
    val aliased = base.toString + java.io.File.separator + "."
    val e = intercept[IllegalArgumentException] {
      EmbedStream.foldDelta(spark, base.toString, aliased)
    }
    assert(e.getMessage.contains("fold of a segment into itself"))
    // the base survived untouched
    assert(spark.read.parquet(base.toString).count() == 2)
  }
}

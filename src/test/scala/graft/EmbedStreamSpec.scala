package graft

import org.apache.spark.sql.functions._

import graft.sim.{Ivf2, SimOps}
import graft.streaming.EmbedStream

/** Streaming ANN index ingest: micro-batched arrival through the
  * frozen-codebook assignment must equal the batch append operator
  * row-for-row, with no state store (the transform is stateless by
  * design — a stream-static join plus map-only kernels). */
class EmbedStreamSpec extends SparkSpec {

  test("streaming ingest over micro-batches == batch assign2Append, row for row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val n = SimOps.embeddings(spark, sf0001).count()
    val split = n / 2
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    // the appended half, as (vec_id, embedding) tuples in three
    // arrival waves (uneven on purpose: batch boundaries must not
    // matter for a stateless transform)
    val newRows = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split)
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toSeq
    val waves = Seq(
      newRows.take(7),
      newRows.slice(7, 8), // a 1-row micro-batch
      newRows.drop(8))
    val mem = MemoryStream[(Long, Seq[Float])]
    val df = mem.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val ckpt = tempDir("emb_ingest_ckpt")
    val q = EmbedStream.streamingIndexIngest(df, coarse, cents).writeStream
      .format("memory").queryName("emb_ingest_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    waves.foreach { w => mem.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("emb_ingest_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val batch = Ivf2.assign2Append(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(streamed == batch,
      s"stream and batch append diverge:\n$streamed\n$batch")
    assert(streamed.nonEmpty)
  }

  test("the ingest plan is stateless: no state-store operator anywhere") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val mem = MemoryStream[(Long, Seq[Float])]
    val df = mem.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val ckpt = tempDir("emb_ingest_ckpt2")
    val q = EmbedStream.streamingIndexIngest(df, coarse, cents).writeStream
      .format("memory").queryName("emb_ingest_sink2").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    mem.addData(Seq((0L, Seq.fill(graft.sim.SimOps.Dim)(0.1f))))
    q.processAllAvailable()
    val plan = q.lastProgress.toString
    q.stop()
    // a stateless transform reports zero stateful operators — state at
    // ingest would mean the plan silently grew a corpus-sized store
    assert(!plan.contains("\"stateOperators\" : [ {"),
      s"unexpected stateful operator in the ingest plan:\n$plan")
  }
}

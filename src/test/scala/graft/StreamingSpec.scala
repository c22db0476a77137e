package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.events.EventOps
import graft.streaming.EventStream

/** Batch ≡ stream equivalence: the streaming pipeline over the events
  * table (replayed as a file stream with AvailableNow) must produce the
  * same rollup as the batch operator. */
class StreamingSpec extends SparkSpec {

  private lazy val eventsBatch = EventOps.events(spark, sf0001)

  /** The O(users) state contract, asserted (r6 verdict item 8): across
    * every micro-batch the query ever ran, total state rows never
    * exceed the distinct-user count — the per-user-twins keep ONE state
    * entry per user, no event buffering, so state cannot grow with
    * event volume. */
  private def assertUserBoundedState(
      q: org.apache.spark.sql.streaming.StreamingQuery, nUsers: Long): Unit = {
    val maxState = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal) match {
      case a if a.isEmpty => 0L
      case a => a.max
    }
    assert(maxState <= nUsers,
      s"state rows $maxState exceed distinct users $nUsers — state is " +
        "growing with events, not users")
    assert(maxState > 0L, "state progress must have been recorded")
  }

  private def runStream(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      sink: String): Unit = {
    val src = tempDir("evt_stream")
    val ckpt = tempDir("evt_ckpt")
    // replay the batch table as a 4-file stream
    eventsBatch.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(src)
    val q = build(stream).writeStream
      .format("memory").queryName(sink).outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("streaming hourly rollup matches the batch rollup") {
    runStream(df => EventStream.hourlyRollup(df), "hourly_sink")
    val streamed = spark.table("hourly_sink")
      .select(expr("unix_micros(hour_start) div 3600000000").as("hour_id"),
        col("event_type"), col("cnt"), col("cents"))
      .orderBy("hour_id", "event_type").collect()
    val batch = EventOps.hourlyRollup(spark, sf0001).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getString(1) == b.getString(1)
        && s.getLong(2) == b.getLong(2) && s.getLong(3) == b.getLong(3),
        s"stream row $s != batch row $b")
    }
  }

  test("stream-static dimension enrichment equals the batch join") {
    // the standard streaming-ETL shape: a stream joined to a static
    // dimension. Spark plans the static side fresh per micro-batch
    // (broadcast at this size) — no streaming state, no watermark needed
    val dim = spark.createDataFrame(Seq(
      ("click", "ui"), ("view", "ui"), ("purchase", "commerce"),
      ("signup", "commerce"), ("error", "ops"))).toDF("event_type", "category")
    def enrich(df: org.apache.spark.sql.DataFrame) =
      df.join(dim, "event_type")
        .groupBy("category")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
    runStream(enrich, "dim_sink")
    val streamed = spark.table("dim_sink").orderBy("category").collect()
    val batch = enrich(eventsBatch).orderBy("category").collect()
    assert(streamed.length == batch.length && streamed.length == 3)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) == b.getString(0) && s.getLong(1) == b.getLong(1)
        && s.getLong(2) == b.getLong(2), s"stream row $s != batch row $b")
    }
  }

  test("streaming session windows cover every event exactly once") {
    runStream(df => EventStream.sessions(df), "session_sink")
    val total = spark.table("session_sink").agg(sum("n_events")).head().getLong(0)
    assert(total == eventsBatch.count())
  }

  test("streaming dedup keeps exactly one record per fingerprint across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("rec_id", "fp")
    val ckpt = tempDir("dedup_ckpt")
    val q = EventStream.streamingDedup(df, Seq("fp")).writeStream
      .format("memory").queryName("dedup_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    mem.addData(Seq((1L, "a"), (2L, "b"), (3L, "a")))
    q.processAllAvailable()
    mem.addData(Seq((4L, "b"), (5L, "c"), (6L, "a")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_sink").collect()
    assert(out.length == 3, s"expected 3 unique fps, got ${out.toSeq}")
    assert(out.map(_.getString(1)).toSet == Set("a", "b", "c"))
    // the survivor for 'a' is from the FIRST micro-batch ((1) or (3) —
    // intra-batch tie-breaking is unspecified); (6) from batch 2 must lose
    val survivors = out.map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(Set(1L, 3L).contains(survivors("a")), s"late 'a' won: $survivors")
    assert(survivors("b") == 2L && survivors("c") == 5L)
  }

  test("stream-stream interval join equals the batch join") {
    val src = tempDir("ssj_stream")
    val ckpt = tempDir("ssj_ckpt")
    eventsBatch.repartition(4).write.mode("overwrite").parquet(src)
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "purchase"))
    val stream = spark.readStream.schema(eventsBatch.schema).parquet(src)
    val (sc, sp) = split(stream)
    val q = EventStream.clickPurchaseJoin(sc, sp).writeStream
      .format("memory").queryName("ssj_sink").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssj_sink")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bc, bp) = split(eventsBatch)
    val batch = EventStream.clickPurchaseJoin(bc, bp)
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "no click->purchase pairs in fixture")
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
  }

  test("watermarked streaming dedup is key-only: same fp, different ts collapses") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("rec_id", "fp", "event_time")
    val ckpt = tempDir("dedup_wm_ckpt")
    val q = EventStream
      .streamingDedup(df, Seq("fp"), eventTimeCol = Some("event_time"))
      .writeStream
      .format("memory").queryName("dedup_wm_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // "a" arrives 3x with three DIFFERENT timestamps (all within the
    // watermark delay) — key-only dedup must keep only the first
    mem.addData(Seq((1L, "a", ts(0)), (2L, "b", ts(1)), (3L, "a", ts(5))))
    q.processAllAvailable()
    mem.addData(Seq((4L, "a", ts(9)), (5L, "c", ts(2))))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_wm_sink").collect()
    assert(out.map(_.getString(1)).sorted.toSeq == Seq("a", "b", "c"),
      s"expected one row per fp, got ${out.toSeq}")
    // batch-1 'a' records (1 or 3; intra-batch tie unspecified) must beat
    // the batch-2 duplicate (4)
    val survivors = out.map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(Set(1L, 3L).contains(survivors("a")), s"late 'a' won: $survivors")
    assert(survivors("b") == 2L && survivors("c") == 5L)
  }

  test("mapGroupsWithState running totals equal the batch totals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsBatch
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val ckpt = tempDir("evt_ckpt2")
    val q = EventStream.runningUserTotals(df).writeStream
      .format("memory").queryName("totals_sink").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    mem.addData(h1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(h2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // last update per user == full batch totals. n_events is strictly
    // monotone per update, so max(struct(n_events, cents)) recovers the
    // FINAL update's cents even if cents ever decreased (refund events)
    val finalTotals = spark.table("totals_sink")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("cents"))).as("last"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
    val batch = eventsBatch.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(finalTotals == batch)
  }

  test("streaming transitions across batch boundaries equal the batch window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // replay the log IN ORDER (the ingest contract) in 3 micro-batches,
    // split mid-stream so many users straddle a batch boundary — the
    // cross-batch state path must stitch those pairs
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val ckpt = tempDir("evt_ckpt3")
    val q = EventStream.streamingTransitions(df).writeStream
      .format("memory").queryName("trans_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    assertUserBoundedState(q, rows.map(_._3).distinct.length.toLong)
    q.stop()
    val streamed = spark.table("trans_sink")
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.events.GraphOps.transitions(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"stream/batch transition counts diverge: ${streamed.size} vs ${batch.size} keys")
  }

  test("streaming attribution across batch boundaries equals the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // in-order replay in 3 micro-batches: users straddle the boundary, so
    // a touch in batch N must credit a purchase in batch N+1 via state
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = tempDir("attr_ckpt")
    val q = EventStream.streamingAttribution(df).writeStream
      .format("memory").queryName("attr_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    assertUserBoundedState(q, rows.map(_._3).distinct.length.toLong)
    q.stop()
    val streamed = spark.table("attr_sink")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.events.EventOps.attribution(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch,
      s"stream/batch attribution diverges: $streamed vs $batch")
  }

  test("streaming funnel conversions across batch boundaries equal the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val ckpt = tempDir("funnel_ckpt")
    val q = EventStream.streamingFunnel(df).writeStream
      .format("memory").queryName("funnel_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    assertUserBoundedState(q, rows.map(_._3).distinct.length.toLong)
    q.stop()
    val streamed = spark.table("funnel_sink")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.events.EventOps.funnel(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"stream/batch funnel diverges: ${streamed.size} vs ${batch.size} conversions")
    assert(batch.nonEmpty, "fixture must contain conversions")
  }

  test("streaming pit-features across batch boundaries equal the batch feature rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // in-order replay in 3 micro-batches: a user's history accumulated in
    // batch N must feed a purchase label arriving in batch N+1 via state,
    // and the label's own row must stay invisible to its features
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val df = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = tempDir("pit_ckpt")
    val q = EventStream.streamingPitFeatures(df).writeStream
      .format("memory").queryName("pit_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    assertUserBoundedState(q, rows.map(_._3).distinct.length.toLong)
    q.stop()
    val streamed = spark.table("pit_sink")
      .select("event_id", "user_id", "ts_us", "feat_events", "feat_views",
        "last_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batch = EventOps.pitFeatures(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(batch.nonEmpty, "fixture must contain purchases")
    assert(streamed == batch,
      s"stream/batch pit-features diverge: ${streamed.size} vs ${batch.size} rows")
  }

  test("streaming retention state aggregates to the batch cohort report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2, r._1))
    val mem = MemoryStream[(Long, Long, Long, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val ckpt = tempDir("ret_ckpt")
    val q = EventStream.streamingRetention(df).writeStream
      .format("memory").queryName("ret_sink").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    assertUserBoundedState(q, rows.map(_._3).distinct.length.toLong)
    q.stop()
    // flags only ever flip false→true and cohort_day is constant per
    // user, so the final state is the flag-wise OR of the emitted rows
    // (no reliance on sink insertion order)
    val finalStates = spark.table("ret_sink")
      .groupBy("user_id")
      .agg(max("cohort_day").as("cohort_day"),
        max(col("d1")).as("d1"), max(col("d7")).as("d7"))
    val streamed = finalStates.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("d1"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("d7"), 1L).otherwise(0L)).as("d7"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.events.EventOps.retention(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch,
      s"stream/batch retention diverges: ${streamed.size} vs ${batch.size} cohorts")
  }

  test("streaming MG sketch state: exact totals + candidate superset across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val denom = 20
    val rows = eventsBatch.select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("user_id", "event_type")
    val ckpt = tempDir("mg_ckpt")
    val q = EventStream.typeHeavyCandidates(df, 2 * denom).writeStream
      .format("memory").queryName("mg_sink").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    // 4 micro-batches: the sketch buffer must survive the state store
    // round-trip and merge per-batch partials
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    // last update per type is the final sketch
    val fin = spark.table("mg_sink").collect()
      .zipWithIndex
      .groupBy(_._1.getString(0)).map { case (t, rs) => t -> rs.maxBy(_._2)._1 }
    val batchCnt = eventsBatch.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // (a) the sketch's exact item total matches the batch count
    assert(fin.view.mapValues(_.getLong(1)).toMap == batchCnt)
    // (b) candidates ⊇ every true over-threshold user (the MG guarantee,
    // here proven through the streaming state path)
    val heavy = eventsBatch.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"))
      .join(eventsBatch.groupBy("event_type").agg(count(lit(1)).as("n")), "event_type")
      .filter(col("cnt") * denom > col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1).toString))
    heavy.foreach { case (t, u) =>
      assert(fin(t).getSeq[String](2).contains(u),
        s"true heavy user $u of $t missing from streaming candidates")
    }
  }
}

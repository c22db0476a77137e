package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.lake.LakeTable

/** The lake as a streaming SOURCE: `readStream.format("lake")` tails the
  * transaction log, emitting each append commit's rows exactly once
  * (offsets are log versions, so the engine's checkpoint gives
  * exactly-once); rewrite commits in a batch range fail the query
  * loudly; `startingVersion` starts past history. */
class LakeStreamSpec extends SparkSpec {

  private var n = 0
  private def fresh(): (String, String, String) = {
    n += 1
    val t = tempDir("lake-stream")
    val ck = tempDir("lake-stream-ck")
    (t, ck, s"lake_stream_sink_$n")
  }

  private def append(t: String, ids: Range): Unit = {
    import spark.implicits._
    LakeTable.append(spark, t,
      ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 10))
  }

  test("readStream emits exactly the appended rows, once, across batches") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10)
    append(t, 10 until 25)
    val q = spark.readStream.format("lake").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val got1 = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got1.toSeq == (0L until 25L), s"first drain wrong: ${got1.length} rows")
      // appends land while the stream runs → tailed exactly once
      append(t, 25 until 30)
      append(t, 30 until 42)
      q.processAllAvailable()
      val got2 = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got2.toSeq == (0L until 42L), s"tail drain wrong: ${got2.length} rows")
      assert(got2.length == got2.distinct.length, "duplicates — not exactly-once")
    } finally q.stop()
  }

  test("startingTimestamp begins the stream at the first commit at/after the instant") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10) // v1
    Thread.sleep(10)
    append(t, 10 until 25) // v2
    val t2 = LakeTable.history(t).last.ts
    assert(t2 > 0L)
    val iso = java.time.Instant.ofEpochMilli(t2).toString
    val q = spark.readStream.format("lake")
      .option("startingTimestamp", iso).load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val got = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (10L until 25L), s"expected only v2 rows, got ${got.toSeq}")
    } finally q.stop()
    // an instant before the first commit serves everything
    val (t3, ck3, sink3) = fresh()
    append(t3, 0 until 5)
    val q2 = spark.readStream.format("lake")
      .option("startingTimestamp", "1999-01-01 00:00:00").load(t3)
      .writeStream.format("memory").queryName(sink3)
      .option("checkpointLocation", ck3).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(sink3).count() == 5)
    } finally q2.stop()
    // both boundary options at once refuse
    val e = intercept[Exception] {
      spark.readStream.format("lake")
        .option("startingVersion", "1")
        .option("startingTimestamp", iso).load(t)
        .writeStream.format("memory").queryName(s"${sink}_both")
        .option("checkpointLocation",
          tempDir("ck-both"))
        .start().processAllAvailable()
    }
    def chain(x: Throwable): Seq[Throwable] =
      Option(x).toSeq.flatMap(y => y +: chain(y.getCause))
    assert(chain(e).exists(c =>
      String.valueOf(c.getMessage).contains("mutually exclusive")), s"got: $e")
  }

  test("a rewrite commit in range fails the stream loudly") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10)
    val q = spark.readStream.format("lake").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      LakeTable.deleteWhere(spark, t, "id", 0, 4) // rewrite: no row delta
      append(t, 10 until 12)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(x: Throwable): Seq[Throwable] =
        Option(x).toSeq.flatMap(y => y +: chain(y.getCause))
      assert(chain(e).exists(c =>
        String.valueOf(c.getMessage).contains("no row-level delta")),
        s"expected the changesBetween refusal, got: $e")
    } finally q.stop()
  }

  test("a DV-carrying table still streams (refusal belongs to the batch scan)") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10) // v1
    LakeTable.deleteWhereDV(spark, t, "id", 0, 2) // v2: DV entries appear
    append(t, 100 until 103) // v3
    // batch DSv2 read must refuse (a bare file scan would resurrect
    // deleted rows) — but only when a scan is actually built
    val e = intercept[Exception] {
      spark.read.format("lake").load(t).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("deletion vectors"))
    // the streaming source serves append commits only and never opens
    // DV'd entries, so the readStream probe must NOT die in getTable
    // (startingVersion is exclusive: 2 serves the v3 append)
    val q = spark.readStream.format("lake")
      .option("startingVersion", "2").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val got = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (100L until 103L))
    } finally q.stop()
  }

  test("maxVersionsPerBatch bounds catch-up batches (admission control)") {
    val (t, ck, sink) = fresh()
    (0 until 5).foreach(i => append(t, i * 10 until i * 10 + 10)) // v1..v5
    val q = spark.readStream.format("lake")
      .option("maxVersionsPerBatch", "2").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // all rows arrive exactly once...
      val got = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 50L))
      // ...but across >= ceil(5/2) = 3 bounded batches, not one big one
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"5 versions at cap 2 must take >=3 batches, got $batches")
    } finally q.stop()
  }

  test("readChangeFeed streams typed DML changes instead of failing") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10) // v1
    val q = spark.readStream.format("lake")
      .option("readChangeFeed", "true").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // a DML commit lands mid-stream: the plain source would fail the
      // query here; the change-feed source serves it as typed rows
      LakeTable.deleteWhere(spark, t, "id", 0, 3) // v2
      append(t, 10 until 12) // v3
      q.processAllAvailable()
      val got = spark.table(sink)
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val want = ((0L until 10L).map(i => (i, "insert", 1L)) ++
        (0L until 4L).map(i => (i, "delete", 2L)) ++
        (10L until 12L).map(i => (i, "insert", 3L))).sorted
      assert(got == want, s"change-feed stream diverged:\n$got")
    } finally q.stop()
  }

  test("writeStream.format(lake) creates the table and commits each batch once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (t, ck, _) = fresh()
    val mem = MemoryStream[Long]
    // the table does NOT exist yet — the first batch must create it
    val q = mem.toDF().select(col("value").as("id"), (col("value") * 10).as("v"))
      .writeStream.format("lake")
      .option("checkpointLocation", ck)
      .start(t)
    try {
      mem.addData(0L until 10L: _*)
      q.processAllAvailable()
      mem.addData(10L until 25L: _*)
      q.processAllAvailable()
      val got = spark.read.format("lake").load(t)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 25L), s"sink rows wrong: ${got.length}")
      // one transactional commit per non-empty batch, tokens recorded
      val hist = LakeTable.history(t)
      assert(hist.forall(_.op == "append"))
      assert(hist.count(_.txn.nonEmpty) == hist.size,
        "every sink commit must carry an idempotence token")
      // a second query on the SAME checkpoint replays nothing
      val q2 = mem.toDF().select(col("value").as("id"), (col("value") * 10).as("v"))
        .writeStream.format("lake")
        .option("checkpointLocation", ck)
        .start(t)
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.format("lake").load(t).count() === 25,
        "checkpoint restart must not duplicate rows")
    } finally q.stop()
  }

  test("lake sink refuses non-append output modes and missing checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (t, ck, _) = fresh()
    val mem = MemoryStream[Long]
    val agg = mem.toDF().groupBy(col("value")).count()
    val e = intercept[Exception] {
      agg.writeStream.format("lake")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .start(t)
    }
    assert(String.valueOf(e.getMessage).contains("Append"), s"$e")
  }

  test("a compact commit mid-stream is silent: no failure, no duplicates") {
    val (t, ck, sink) = fresh()
    (0 until 4).foreach(i => append(t, i * 10 until i * 10 + 10))
    val q = spark.readStream.format("lake").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(LakeTable.compact(spark, t, smallBytes = 1L << 20,
        targetBytes = 1L << 30).isDefined)
      append(t, 40 until 50)
      q.processAllAvailable()
      val got = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 50L),
        s"stream across compact diverged: ${got.length} rows")
    } finally q.stop()
  }

  test("startingVersion starts past historical rewrites") {
    val (t, ck, sink) = fresh()
    append(t, 0 until 10) // v1
    LakeTable.overwrite(spark, t, // v2: rewrite — must be skippable
      spark.range(100, 105).select(col("id"), (col("id") * 10).as("v")))
    append(t, 200 until 203) // v3
    val q = spark.readStream.format("lake")
      .option("startingVersion", "2").load(t)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val got = spark.table(sink).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (200L until 203L),
        s"only post-v2 appends expected, got ${got.mkString(",")}")
    } finally q.stop()
  }
}

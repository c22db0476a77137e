package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** ACID contract of the from-scratch transaction log: atomic commits,
  * snapshot isolation, serializable version history, time travel,
  * crash-orphan invisibility, vacuum. */
class LakeTableSpec extends SparkSpec {

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 2)
  }

  test("append/overwrite/time travel: every version stays readable") {
    val t = tempDir("graft_lake")
    val v1 = LakeTable.append(spark, t, df(0 until 10))
    val v2 = LakeTable.append(spark, t, df(10 until 30))
    val v3 = LakeTable.overwrite(spark, t, df(100 until 105))
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    assert(LakeTable.snapshot(spark, t, Some(1)).count() == 10)
    assert(LakeTable.snapshot(spark, t, Some(2)).count() == 30)
    assert(LakeTable.snapshot(spark, t, Some(3)).count() == 5)
    assert(LakeTable.snapshot(spark, t).count() == 5) // latest
    // history records the ops in serial order
    assert(LakeTable.history(t).map(_.op) == Seq("append", "append", "overwrite"))
  }

  test("snapshot isolation: an open snapshot ignores a later overwrite") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 20))
    val pinned = LakeTable.snapshot(spark, t) // file list captured NOW
    LakeTable.overwrite(spark, t, df(0 until 3))
    assert(pinned.count() == 20, "pinned snapshot must not see the overwrite")
    assert(LakeTable.snapshot(spark, t).count() == 3)
  }

  test("concurrent appends all commit with contiguous versions, no loss") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 1))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { i =>
        Future(LakeTable.append(spark, t, df(1000 * (i + 1) until 1000 * (i + 1) + 50)))
      }
      val got = Await.result(Future.sequence(futures), 120.seconds)
      assert(got.sorted == (2L to 9L), s"versions must be contiguous, got $got")
      assert(LakeTable.snapshot(spark, t).count() == 1 + 8 * 50)
    } finally pool.shutdown()
  }

  test("concurrent overwrites serialize: last version wins, count is sane") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 4).map { i =>
        Future(i -> LakeTable.overwrite(spark, t, df(0 until (i + 1) * 7)))
      }
      val got = Await.result(Future.sequence(futures), 120.seconds).toMap
      // the writer that won the highest version defines the final state
      val lastWriter = got.maxBy(_._2)._1
      assert(LakeTable.snapshot(spark, t).count() == (lastWriter + 1) * 7)
      assert(LakeTable.versions(t) == (1L to 5L))
    } finally pool.shutdown()
  }

  test("a crashed writer's staged files are invisible and vacuumable") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))
    // simulate a crash: data staged, no commit written
    df(0 until 99).write.parquet(s"$t/stage-crashed0000")
    assert(LakeTable.snapshot(spark, t).count() == 10,
      "uncommitted files must not be readable")
    // under the default age guard the fresh unreferenced files are
    // treated as an IN-FLIGHT writer and left alone...
    assert(!LakeTable.vacuum(t, retainFrom = 1L)
      .exists(_.startsWith("stage-crashed0000/")),
      "young unreferenced files may belong to a live writer")
    // ...once aged out (age floor forced to 0) they are collected
    val deleted = LakeTable.vacuum(t, retainFrom = 1L, orphanMinAgeMs = 0L)
    assert(deleted.exists(_.startsWith("stage-crashed0000/")),
      "vacuum must collect the aged orphans")
    assert(LakeTable.snapshot(spark, t).count() == 10)
  }

  test("vacuum clamps retention to the latest version (current state survives)") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))
    LakeTable.vacuum(t, retainFrom = 99L) // overshoot must NOT delete v1's files
    assert(LakeTable.snapshot(spark, t).count() == 10)
  }

  test("time travel to a nonexistent version fails instead of serving latest") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))
    intercept[IllegalArgumentException] {
      LakeTable.snapshot(spark, t, Some(99L)).count()
    }
  }

  test("NaN stats endpoints never prune a file") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t,
      Seq(0.5, 2.0, Double.NaN).toDF("x").coalesce(1))
    val (kept, total) = LakeTable.prunedFiles(t, "x", 0.0, 3.0)
    assert(total == 1 && kept.length == 1,
      "a NaN max must not make the file invisible to range reads")
    assert(LakeTable.snapshotWhere(spark, t, "x", 0.0, 3.0).count() == 2)
  }

  /** Two single-file commits of a FLOAT column: (0.1f, 0.3f), (0.5f, 0.7f). */
  private def floatTable(): String = {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, Seq(0.1f, 0.3f).toDF("f").coalesce(1))
    LakeTable.append(spark, t, Seq(0.5f, 0.7f).toDF("f").coalesce(1))
    t
  }

  private def floatReads(t: String): Seq[Long] = {
    val lake = spark.read.format("lake").load(t)
    Seq(lake.filter(col("f") >= 0.3f).count(), lake.filter(col("f") >= 0.3).count(),
      lake.filter(col("f") <= 0.1f).count(), lake.filter(col("f") === 0.3f).count())
  }

  test("float log stats never skip a file whose bound equals the literal") {
    assert(floatReads(floatTable()) == Seq(3L, 3L, 1L, 1L))
  }

  /** [[floatTable]] with its log rewritten as an older writer logged
    * float bounds: `Float.toString`'s short form (0.3f as "0.3"). */
  private def shortFormFloatTable(): String = {
    val t = floatTable()
    val logs = Files.list(Paths.get(t, "_txlog")).toArray.map(_.asInstanceOf[java.nio.file.Path])
    val short = Seq(0.1f, 0.3f, 0.5f, 0.7f).map(f => BigDecimal(f.toDouble).toString -> f.toString)
    var rewritten = 0
    logs.filter(_.getFileName.toString.endsWith(".json")).foreach { p =>
      val old = Files.readString(p)
      val now = short.foldLeft(old) { case (s, (exact, brief)) => s.replace(exact, brief) }
      if (now != old) { rewritten += 1; Files.writeString(p, now) }
    }
    assert(rewritten == 2, "both commits carry float bounds")
    t
  }

  test("float bounds logged in Float.toString's short form still prune exactly") {
    assert(floatReads(shortFormFloatTable()) == Seq(3L, 3L, 1L, 1L))
  }

  test("library verbs prune short-form float logs exactly") {
    val t = shortFormFloatTable()
    val at = 0.3f.toDouble
    assert(LakeTable.snapshotWhere(spark, t, "f", at, 1.0).count() == 3)
    val (kept, total) = LakeTable.prunedFiles(t, "f", at, 1.0)
    assert(total == 2 && kept.size == 2, s"kept $kept of $total files")
    LakeTable.deleteWhere(spark, t, "f", at, at)
    assert(LakeTable.snapshot(spark, t).count() == 3, "exactly the 0.3f row is deleted")
    assert(LakeTable.snapshot(spark, t).filter(col("f") === 0.3f).count() == 0)
  }

  test("library verbs keep longs that round onto a double bound") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    val v = 1L << 60 // doubles are 128 apart below it, 256 above
    // 2^60 - 50 and 2^60 + 100 compare as the double 2^60
    LakeTable.append(spark, t, Seq(v - 50L, v - 300L).toDF("l").coalesce(1))
    LakeTable.append(spark, t, Seq(v + 100L, v + 300L).toDF("l").coalesce(1))
    val at = v.toDouble
    for ((lo, hi) <- Seq((at, Double.PositiveInfinity), (Double.NegativeInfinity, at), (at, at))) {
      val want = LakeTable.snapshot(spark, t).filter(col("l") >= lo && col("l") <= hi).count()
      assert(want > 0 && LakeTable.snapshotWhere(spark, t, "l", lo, hi).count() == want,
        s"[$lo, $hi]")
    }
    assert(LakeTable.deleteWhere(spark, t, "l", at, at) > 0)
    assert(LakeTable.snapshot(spark, t).as[Long].collect().sorted.toSeq == Seq(v - 300L, v + 300L))
  }

  test("the logged stats string of every stats kind is pinned byte for byte") {
    val t = tempDir("graft_lake")
    val long = "é" * 40 // 80 UTF-8 bytes: the upper bound truncates to 64
    LakeTable.append(spark, t, spark.sql(s"""SELECT * FROM VALUES
      (CAST(-3 AS TINYINT), CAST(-300 AS SMALLINT), -7, 9007199254740993L,
       CAST(0.3 AS FLOAT), 2.5D, TIMESTAMP_NTZ'2024-03-01 12:00:00.000001',
       TIMESTAMP'2024-03-01 12:00:00', DATE'2024-03-01', 'a;b=c',
       CAST(12.34 AS DECIMAL(10,2)), CAST('NaN' AS DOUBLE), CAST(NULL AS INT), 5L, 'p'),
      (CAST(4 AS TINYINT), CAST(300 AS SMALLINT), 7, -1L,
       CAST(-1.5 AS FLOAT), -0.1D, TIMESTAMP_NTZ'1969-12-31 23:59:59',
       TIMESTAMP'2025-01-01 00:00:00', DATE'1960-01-01', '$long',
       CAST(-5.00 AS DECIMAL(10,2)), CAST('NaN' AS DOUBLE), CAST(NULL AS INT), 6L, 'q')
      AS t(b, s, i, l, f, d, ntz, ltz, dt, str, dec, nan, nul, `#rows`, `str$$x`)""")
      .coalesce(1))
    val (files, _) = LakeTable.snapshotFilesWithStats(t)
    // no `#rows=2` count (a real column shades it); no entry for the ltz
    // (INT96), decimal, NaN, all-null or `str$x` columns; the float as
    // its exact double; the string escaped, its upper bound truncated
    val logged =
      "b=-3:4;s=-300:300;i=-7:7;l=-1:9007199254740993;" +
      "f=-1.5:0.30000001192092896;d=-0.1:2.5;" +
      "ntz=-1000000:1709294400000001;dt=-3653:19783;" +
      "str$str=a%3bb%3dc:" +
      "%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9" +
      "%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%a9%c3%aa;" +
      "#rows=5:6"
    assert(files.map(_._2) == Seq(logged))
  }

  test("vacuum drops pre-retention files but keeps retained versions readable") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))       // v1
    LakeTable.overwrite(spark, t, df(0 until 4))     // v2: v1 files now dead
    LakeTable.append(spark, t, df(100 until 102))    // v3
    val deleted = LakeTable.vacuum(t, retainFrom = 2L, orphanMinAgeMs = 0L)
    assert(deleted.nonEmpty, "v1's files are unreachable from v2+")
    assert(LakeTable.snapshot(spark, t, Some(2)).count() == 4)
    assert(LakeTable.snapshot(spark, t, Some(3)).count() == 6)
    assert(LakeTable.versions(t) == (1L to 3L), "the log itself is never truncated")
  }

  test("log stats prune files for range reads; results stay exact") {
    val t = tempDir("graft_lake")
    // three appends with disjoint id ranges → three file groups whose
    // log stats partition the id axis
    LakeTable.append(spark, t, df(0 until 100).coalesce(1))
    LakeTable.append(spark, t, df(100 until 200).coalesce(1))
    LakeTable.append(spark, t, df(200 until 300).coalesce(1))
    val (kept, total) = LakeTable.prunedFiles(t, "id", 120, 180)
    assert(total == 3 && kept.length == 1,
      s"stats must skip the non-overlapping files, kept $kept of $total")
    val rows = LakeTable.snapshotWhere(spark, t, "id", 120, 180)
    assert(rows.count() == 61) // inclusive range
    // conservative: a column with no stats (string) never prunes
    import spark.implicits._
    val t2 = tempDir("graft_lake")
    LakeTable.append(spark, t2, Seq("a", "b").toDF("s").coalesce(1))
    assert(LakeTable.prunedFiles(t2, "missing", 0, 1)._1.nonEmpty)
  }

  test("idempotent append: a replayed batch token commits exactly once") {
    val t = tempDir("graft_lake")
    val v1 = LakeTable.appendIdempotent(spark, t, df(0 until 10), "job-a", 0L)
    assert(v1.contains(1L))
    // replay of the same (appId, version): no-op
    assert(LakeTable.appendIdempotent(spark, t, df(0 until 10), "job-a", 0L).isEmpty)
    // next batch and a different app both land
    assert(LakeTable.appendIdempotent(spark, t, df(10 until 15), "job-a", 1L).contains(2L))
    assert(LakeTable.appendIdempotent(spark, t, df(100 until 101), "job-b", 0L).contains(3L))
    assert(LakeTable.snapshot(spark, t).count() == 16)
  }

  test("streaming sink: AvailableNow replay into the table is exactly-once") {
    val t = tempDir("graft_lake")
    val src = tempDir("lake_stream_src")
    df(0 until 40).repartition(4).write.mode("overwrite").parquet(src)
    val schema = df(0 until 1).schema
    def run(ckpt: String): Unit = {
      val q = graft.lake.LakeSink.start(
        spark.readStream.schema(schema).parquet(src), t, "ingest", ckpt)
      q.awaitTermination(120000)
    }
    val ckpt = tempDir("lake_stream_ckpt")
    run(ckpt)
    val afterFirst = LakeTable.snapshot(spark, t).count()
    assert(afterFirst == 40)
    // same checkpoint: nothing new to process, nothing duplicated
    run(ckpt)
    assert(LakeTable.snapshot(spark, t).count() == 40)
    // a FRESH checkpoint over the UNCHANGED source re-numbers identical
    // batches — the txn tokens make the replay a no-op instead of
    // doubling the table. (If the source had grown, the LakeSink
    // contract requires a new appId — see its scaladoc.)
    val ckpt2 = tempDir("lake_stream_ckpt2")
    run(ckpt2)
    assert(LakeTable.snapshot(spark, t).count() == 40,
      "replayed batch ids must hit the idempotence tokens")
  }

  test("checkpoint compaction: snapshots replay from the checkpoint, identically") {
    val t = tempDir("graft_lake")
    (0 until 23).foreach(i => LakeTable.append(spark, t, df(i * 5 until i * 5 + 5)))
    LakeTable.overwrite(spark, t, df(0 until 7)) // v24
    LakeTable.append(spark, t, df(7 until 9))    // v25
    // checkpoints exist at the interval boundaries
    val ckpts = Files.list(Paths.get(t, "_txlog")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (ckpts.hasNext) names += ckpts.next().getFileName.toString
    assert(names.count(_.endsWith(".checkpoint.json")) >= 2)
    // checkpointed snapshot == full replay at every version (time travel
    // below, at, and above a checkpoint boundary)
    Seq(5L, 10L, 19L, 20L, 24L, 25L).foreach { v =>
      val viaCk = LakeTable.snapshot(spark, t, Some(v)).count()
      val expected = if (v <= 23) v * 5 else if (v == 24) 7 else 9
      assert(viaCk == expected, s"version $v: got $viaCk, want $expected")
    }
    // pruning still works through the checkpointed stats
    val (kept, total) = LakeTable.prunedFiles(t, "id", 7.5, 8.5, Some(25L))
    assert(kept.length < total)
  }

  test("spatial ingest: x-clustered appends give file-level pruning from the log") {
    // the point-cloud thesis one level up: append the cloud in spatial
    // slices (what a tiled ingest naturally produces) and range reads
    // prune WHOLE FILES from log stats before any parquet is opened
    val t = tempDir("graft_lake")
    val pts = graft.pc.Points.fromLineitem(spark, sf0001)
    Seq((0.0, 333.0), (333.0, 666.0), (666.0, 1000.1)).foreach { case (lo, hi) =>
      LakeTable.append(spark, t,
        pts.filter(col("x") >= lo && col("x") < hi).coalesce(1))
    }
    val (kept, total) = LakeTable.prunedFiles(t, "x", 100.0, 200.0)
    assert(total == 3 && kept.length == 1,
      s"one spatial slice should survive pruning, kept ${kept.length}/$total")
    val expected = pts.filter(col("x") >= 100.0 && col("x") <= 200.0).count()
    assert(LakeTable.snapshotWhere(spark, t, "x", 100.0, 200.0).count() == expected)
  }

  test("merge upserts copy-on-write: only files holding matched keys rewrite") {
    val t = tempDir("graft_lake")
    // three disjoint single-file appends
    LakeTable.append(spark, t, df(0 until 100).coalesce(1))
    LakeTable.append(spark, t, df(100 until 200).coalesce(1))
    LakeTable.append(spark, t, df(200 until 300).coalesce(1))
    val before = LakeTable.snapshotFiles(t)._1.toSet
    // update 2 keys in the middle file + insert 2 new keys
    import spark.implicits._
    val updates = Seq((150L, -1L), (160L, -2L), (900L, 9L), (901L, 9L))
      .toDF("id", "v")
    val v = LakeTable.merge(spark, t, updates, "id")
    val after = LakeTable.snapshotFiles(t)._1.toSet
    // files 1 and 3 are carried by reference, file 2 was replaced
    assert((before & after).size == 2,
      s"exactly the un-matched files survive: ${before & after}")
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.count() == 302)
    val got = snap.filter(col("id").isin(150L, 160L, 900L, 901L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(150L -> -1L, 160L -> -2L, 900L -> 9L, 901L -> 9L))
    // untouched row unchanged; pre-merge state still time-travels
    assert(snap.filter(col("id") === 151L).head().getLong(1) == 302L)
    assert(LakeTable.snapshot(spark, t, Some(v - 1))
      .filter(col("id") === 150L).head().getLong(1) == 300L)
  }

  test("merge rejects a schema that differs from the table's") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))
    val wrongType = Seq((1, 2)).toDF("id", "v") // int, table is long
    intercept[IllegalArgumentException] {
      LakeTable.merge(spark, t, wrongType, "id")
    }
  }

  test("merge maps affected files correctly under a non-broadcast join") {
    // with broadcast disabled the semi-join runs as a shuffle join —
    // input_file_name() must still resolve because it is projected in
    // the scan stage, before the exchange
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 50).coalesce(1))
    LakeTable.append(spark, t, df(50 until 100).coalesce(1))
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v = LakeTable.merge(spark, t, Seq((60L, -1L)).toDF("id", "v"), "id")
      assert(v == 3L)
      // only the file containing id=60 was rewritten
      val c = LakeTable.history(t).last
      assert(c.remove.length == 1)
      assert(LakeTable.snapshot(spark, t)
        .filter(col("id") === 60L).head().getLong(1) == -1L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("changesBetween (0, 0] on an existing table is the documented empty delta") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))
    val d = LakeTable.changesBetween(spark, t, 0L, 0L)
    assert(d.count() == 0)
    assert(d.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("deleteWhere resolves columns case-insensitively like Spark does") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10).coalesce(1))
    LakeTable.deleteWhere(spark, t, "ID", 0.0, 4.0)
    assert(LakeTable.snapshot(spark, t).count() == 5)
  }

  test("merge rejects duplicate update keys instead of duplicating rows") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))
    val dup = Seq((1L, -1L), (1L, -2L)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      LakeTable.merge(spark, t, dup, "id")
    }
    assert(LakeTable.snapshot(spark, t).count() == 5, "nothing committed")
  }

  test("deleteWhere rejects non-numeric and unknown columns") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t,
      Seq((1L, "alice"), (2L, "bob")).toDF("id", "name"))
    // a string column would cast to null and silently delete every row
    intercept[IllegalArgumentException] {
      LakeTable.deleteWhere(spark, t, "name", 0.0, 1.0)
    }
    intercept[IllegalArgumentException] {
      LakeTable.deleteWhere(spark, t, "nope", 0.0, 1.0)
    }
    assert(LakeTable.snapshot(spark, t).count() == 2)
  }

  test("updateWhere rewrites only stats-affected files and applies assignments") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100).coalesce(1))
    LakeTable.append(spark, t, df(100 until 200).coalesce(1))
    LakeTable.append(spark, t, df(200 until 300).coalesce(1))
    val before = LakeTable.snapshotFiles(t)._1.toSet
    val v = LakeTable.updateWhere(spark, t, "id", 120, 180, Map("v" -> -7L))
    val after = LakeTable.snapshotFiles(t)._1.toSet
    assert((before & after).size == 2, "only the overlapping file rewrites")
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.count() == 300)
    assert(snap.filter(col("v") === -7L).count() == 61)
    assert(snap.filter(col("id") === 119L).head().getLong(1) == 238L,
      "out-of-range rows in the rewritten file keep their values")
    // time travel pre-update; predicate-column assignment rejected
    assert(LakeTable.snapshot(spark, t, Some(v - 1))
      .filter(col("v") === -7L).count() == 0)
    intercept[IllegalArgumentException] {
      LakeTable.updateWhere(spark, t, "id", 0, 1, Map("id" -> 5L))
    }
  }

  test("deleteWhere prunes unaffected files from stats and keeps results exact") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100).coalesce(1))
    LakeTable.append(spark, t, df(100 until 200).coalesce(1))
    LakeTable.append(spark, t, df(200 until 300).coalesce(1))
    val before = LakeTable.snapshotFiles(t)._1.toSet
    LakeTable.deleteWhere(spark, t, "id", 120, 180)
    val after = LakeTable.snapshotFiles(t)._1.toSet
    assert((before & after).size == 2,
      "only the file whose stats overlap the range is rewritten")
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.count() == 300 - 61)
    assert(snap.filter(col("id").between(120, 180)).count() == 0)
    assert(snap.filter(col("id") === 119L).count() == 1)
  }

  test("optimize zorder: compaction tightens stats so pruning bites both axes") {
    val t = tempDir("graft_lake")
    // 6 appends of (x, y) data that interleave ranges — every file's
    // stats span nearly the whole domain, so nothing prunes
    import spark.implicits._
    val pts = graft.pc.Points.fromLineitem(spark, sf0001).select("pid", "x", "y")
    (0 until 6).foreach(s =>
      LakeTable.append(spark, t, pts.filter(col("pid") % 6 === s).coalesce(1)))
    val rows = LakeTable.snapshot(spark, t).count()
    val (keptBefore, totalBefore) = LakeTable.prunedFiles(t, "x", 100.0, 200.0)
    assert(totalBefore == 6 && keptBefore.length == 6,
      "interleaved appends must be unprunable (that is the problem optimize solves)")
    val v = LakeTable.optimize(spark, t, "x", "y", targetFiles = 8)
    // data-identical
    assert(LakeTable.snapshot(spark, t).count() == rows)
    val (keptAfter, totalAfter) = LakeTable.prunedFiles(t, "x", 100.0, 200.0)
    assert(keptAfter.length < totalAfter,
      s"z-clustered files must prune on x: ${keptAfter.length}/$totalAfter")
    // exactness through the pruned path, and time travel to pre-optimize
    val expected = pts.filter(col("x") >= 100.0 && col("x") <= 200.0).count()
    assert(LakeTable.snapshotWhere(spark, t, "x", 100.0, 200.0).count() == expected)
    assert(LakeTable.snapshot(spark, t, Some(v - 1)).count() == rows)
  }

  test("WriteSerializable: a DISJOINT concurrent append rebases DML instead of aborting") {
    import graft.lake.LakeTestHooks
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100).repartition(1)) // v1
    var fired = false
    LakeTestHooks.withRaceHook { _ =>
      if (!fired) { fired = true; LakeTable.append(spark, t, df(1000 until 1010).repartition(1)) }
    } {
      val v = LakeTable.deleteWhere(spark, t, "id", 0, 49)
      assert(v === 3, "delete must land AFTER the racing append (v2)")
    }
    val ids = LakeTable.snapshot(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == ((50 until 100) ++ (1000 until 1010)).map(_.toLong),
      "rebased delete must keep the racing append's rows and drop the range")
  }

  test("WriteSerializable: an OVERLAPPING concurrent append conflicts loudly") {
    import graft.lake.LakeTestHooks
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100).repartition(1))
    var fired = false
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeTestHooks.withRaceHook { _ =>
        if (!fired) { fired = true; LakeTable.append(spark, t, df(40 until 60).repartition(1)) }
      } {
        LakeTable.deleteWhere(spark, t, "id", 0, 49)
      }
    }
    assert(e.getMessage.contains("read set"))
    // nothing committed by the failed delete: rows = both appends
    assert(LakeTable.snapshot(spark, t).count() === 120)
  }

  test("WriteSerializable: merge rebases across key-disjoint appends, conflicts on overlap") {
    import spark.implicits._
    import graft.lake.LakeTestHooks
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 50).repartition(1))
    // disjoint keys: append 500.. while merging keys 0..9 → rebase
    var fired = false
    LakeTestHooks.withRaceHook { _ =>
      if (!fired) { fired = true; LakeTable.append(spark, t, df(500 until 510).repartition(1)) }
    } {
      LakeTable.merge(spark, t,
        (0 until 10).map(i => (i.toLong, 777L)).toDF("id", "v"), "id")
    }
    val m = LakeTable.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 10).forall(i => m(i.toLong) == 777L))
    assert((500 until 510).forall(i => m.contains(i.toLong)),
      "racing append's rows must survive the rebased merge")
    // overlapping keys → loud conflict
    var fired2 = false
    intercept[java.util.ConcurrentModificationException] {
      LakeTestHooks.withRaceHook { _ =>
        if (!fired2) { fired2 = true; LakeTable.append(spark, t, df(5 until 8).repartition(1)) }
      } {
        LakeTable.merge(spark, t, Seq((6L, 1L)).toDF("id", "v"), "id")
      }
    }
  }

  test("WriteSerializable: maintenance (optimize/compact) rebases across ANY append") {
    import graft.lake.LakeTestHooks
    val t = tempDir("graft_lake")
    (0 until 3).foreach(i =>
      LakeTable.append(spark, t, df(i * 10 until i * 10 + 10).repartition(1)))
    var fired = false
    LakeTestHooks.withRaceHook { _ =>
      if (!fired) { fired = true; LakeTable.append(spark, t, df(100 until 110).repartition(1)) }
    } {
      assert(LakeTable.compact(spark, t, smallBytes = 1L << 20,
        targetBytes = 1L << 30).isDefined)
    }
    val ids = LakeTable.snapshot(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == ((0 until 30) ++ (100 until 110)).map(_.toLong),
      "compact must keep the racing append's rows")
    // a racing REWRITE still conflicts (remove sets may collide)
    var fired2 = false
    intercept[java.util.ConcurrentModificationException] {
      LakeTestHooks.withRaceHook { _ =>
        if (!fired2) { fired2 = true; LakeTable.deleteWhere(spark, t, "id", 0, 5) }
      } {
        LakeTable.optimize(spark, t, "id", "v", targetFiles = 2)
      }
    }
  }

  test("compact bin-packs small files only, carrying well-sized files by reference") {
    val t = tempDir("graft_lake")
    // one "big" file (10k rows) + six tiny ones
    LakeTable.append(spark, t, df(100000 until 110000).repartition(1))
    (0 until 6).foreach(i =>
      LakeTable.append(spark, t, df(i * 10 until i * 10 + 10).repartition(1)))
    val before = LakeTable.snapshotFiles(t)._1
    assert(before.size == 7)
    val bigEntry = before.head // v1's file
    val bigBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, bigEntry))
    // threshold below the big file, above the tiny ones
    val v = LakeTable.compact(spark, t, smallBytes = bigBytes,
      targetBytes = 1L << 30)
    assert(v.isDefined)
    val after = LakeTable.snapshotFiles(t)._1
    assert(after.contains(bigEntry), "well-sized file must be carried by reference")
    assert(after.size == 2, s"6 small files should pack into 1, got $after")
    // row-identical, and time travel to pre-compact still works
    val ids = LakeTable.snapshot(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == ((0 until 60).map(_.toLong) ++
      (100000 until 110000).map(_.toLong)).sorted)
    assert(LakeTable.snapshot(spark, t, Some(v.get - 1)).count() == ids.length)
    // nothing left to compact: one packed file + one big file
    assert(LakeTable.compact(spark, t, smallBytes = 1L << 10,
      targetBytes = 1L << 30).isEmpty, "re-compacting must be a no-op")
  }

  test("compact absorbs deletion vectors and is silent to change readers") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100).repartition(1)) // v1
    LakeTable.append(spark, t, df(100 until 200).repartition(1)) // v2
    LakeTable.deleteWhereDV(spark, t, "id", 0, 9) // v3: DV on file 1
    assert(LakeTable.snapshotFiles(t)._1.exists(_.contains("#dv=")))
    val v = LakeTable.compact(spark, t, smallBytes = 2L, // nothing is "small"...
      targetBytes = 1L << 30)
    assert(v.isDefined, "...but DV entries always compact")
    assert(LakeTable.snapshotFiles(t)._1.forall(!_.contains("#dv=")),
      "compaction must materialize deletion vectors away")
    assert(LakeTable.snapshot(spark, t).count() === 190)
    // changesBetween spans the compact commit silently: only the real
    // appends' rows come back
    val changed = LakeTable.changesBetween(spark, t, v.get - 1, v.get)
    assert(changed.count() === 0, "compact must be row-silent to the change reader")
  }

  test("change feed: append ranges are exact deltas; rewrites refuse") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))   // v1
    LakeTable.append(spark, t, df(10 until 25))  // v2
    LakeTable.append(spark, t, df(25 until 30))  // v3
    // consuming (1, 3] yields exactly the rows of v2+v3
    val delta = LakeTable.changesBetween(spark, t, 1L, 3L)
    assert(delta.count() == 20)
    assert(delta.agg(min("id"), max("id")).head().toSeq == Seq(10L, 29L))
    // empty range, and a full-history read
    assert(LakeTable.changesBetween(spark, t, 3L, 3L).count() == 0)
    assert(LakeTable.changesBetween(spark, t, 0L, 3L).count() == 30)
    // a rewrite inside the range has no row-level delta: refuse loudly
    LakeTable.deleteWhere(spark, t, "id", 0, 4) // v4
    intercept[IllegalArgumentException] {
      LakeTable.changesBetween(spark, t, 2L, 4L).count()
    }
    // ranges past the rewrite work again
    LakeTable.append(spark, t, df(100 until 103)) // v5
    assert(LakeTable.changesBetween(spark, t, 4L, 5L).count() == 3)
  }

  test("deleteWhereDV: merge-on-read delete commits without rewriting any data file") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100)) // v1
    LakeTable.append(spark, t, df(100 until 200)) // v2
    val before = LakeTable.snapshotFiles(t)._1.toSet
    val v = LakeTable.deleteWhereDV(spark, t, "id", 20, 29)
    val c = LakeTable.history(t).find(_.version == v).get
    assert(c.op == "delete-dv")
    // every ADDED entry is an existing data file + a DV annotation — the
    // proof no data file was rewritten
    assert(c.add.nonEmpty && c.add.forall(_.contains("#dv=")))
    assert(c.add.map(_.split("#dv=")(0)).forall(before.contains))
    assert(LakeTable.snapshot(spark, t).count() == 190)
    assert(LakeTable.snapshot(spark, t).agg(sum("id")).head.getLong(0) == 19655)
    // identical to the copy-on-write path on a twin table
    val cow = tempDir("graft_lake")
    LakeTable.append(spark, cow, df(0 until 100))
    LakeTable.append(spark, cow, df(100 until 200))
    LakeTable.deleteWhere(spark, cow, "id", 20, 29)
    assert(LakeTable.snapshot(spark, t).collect().map(_.toSeq).toSet ==
      LakeTable.snapshot(spark, cow).collect().map(_.toSeq).toSet)
    // time travel still sees the pre-delete state
    assert(LakeTable.snapshot(spark, t, Some(2)).count() == 200)
  }

  test("deletion vectors stack, prune-read exactly, and OPTIMIZE compacts them away") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100))
    LakeTable.append(spark, t, df(100 until 200))
    LakeTable.deleteWhereDV(spark, t, "id", 20, 29)
    LakeTable.deleteWhereDV(spark, t, "id", 25, 39) // overlaps the first DV
    assert(LakeTable.snapshot(spark, t).count() == 180)
    // the stats-pruned read path applies DVs too
    assert(LakeTable.snapshotWhere(spark, t, "id", 0, 50).count() == 31)
    // the DSv2 scan cannot apply DVs: it must refuse AT SCAN BUILD (not
    // at table construction — readStream probes the provider too), and
    // never resurrect rows
    val e = intercept[Exception] { spark.read.format("lake").load(t).count() }
    assert(e.getMessage.contains("deletion vectors"))
    // merge sees through the mask: a deleted key merges as an INSERT
    import spark.implicits._
    LakeTable.merge(spark, t, Seq((25L, -1L)).toDF("id", "v"), "id")
    assert(LakeTable.snapshot(spark, t).filter(col("id") === 25).collect()
      .map(_.getLong(1)).toSeq == Seq(-1L))
    // OPTIMIZE rewrites DV-applied rows: annotations disappear and the
    // DSv2 read works again
    LakeTable.optimize(spark, t, "id", "v", targetFiles = 4)
    assert(LakeTable.snapshotFiles(t)._1.forall(!_.contains("#dv=")))
    assert(spark.read.format("lake").load(t).count() == 181)
    // vacuum now collects the superseded DV sidecars (they are .parquet
    // files under stage dirs like any data file)
    val dvFiles = LakeTable.history(t).filter(_.op == "delete-dv")
      .flatMap(_.add).map(_.split("#dv=")(1)).distinct
    assert(dvFiles.nonEmpty)
    LakeTable.vacuum(t, retainFrom = LakeTable.latestVersion(t).get,
      orphanMinAgeMs = 0L)
    dvFiles.foreach(d => assert(!Files.exists(Paths.get(t, d)),
      s"superseded DV sidecar $d must be vacuumable"))
    assert(LakeTable.snapshot(spark, t).count() == 181)
  }

  test("copy-on-write delete and update on a DV'd table respect the mask") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100))
    LakeTable.deleteWhereDV(spark, t, "id", 0, 9)
    // CoW delete of an overlapping range: rewrites survivors DV-applied
    LakeTable.deleteWhere(spark, t, "id", 5, 14)
    assert(LakeTable.snapshot(spark, t).count() == 85)
    assert(LakeTable.snapshot(spark, t).agg(min("id")).head.getLong(0) == 15)
    // update on the DV'd remainder
    LakeTable.deleteWhereDV(spark, t, "id", 15, 19)
    LakeTable.updateWhere(spark, t, "id", 20, 24, Map("v" -> 0L))
    val s = LakeTable.snapshot(spark, t)
    assert(s.count() == 80)
    assert(s.filter(col("v") === 0).count() == 5)
  }

  test("model check: random op sequences match an in-memory reference at every version") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val t = tempDir("graft_lake")
    // model: id -> v, tracked after every commit; snapshots stored per
    // version so time travel can be re-checked at the end
    var model = Map.empty[Long, Long]
    val perVersion = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    def toDf(m: Seq[(Long, Long)]) = m.toDF("id", "v")
    def freshRows(n: Int): Seq[(Long, Long)] =
      Seq.fill(n)(rnd.nextLong(1000L) -> rnd.nextLong(100L))
        .groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }.toSeq
    LakeTable.append(spark, t, toDf(freshRows(20).map { case (k, v) => (k, v) }))
    // seed the model from what actually landed
    model = LakeTable.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    perVersion += model
    (0 until 14).foreach { _ =>
      val committed = rnd.nextInt(8) match {
        case 0 => // append fresh ids only (append semantics = multiset add;
          // keep ids disjoint from the model so the map stays a valid model)
          val rows = freshRows(rnd.nextInt(8) + 1)
            .filterNot { case (k, _) => model.contains(k) }
          LakeTable.append(spark, t, toDf(rows))
          model = model ++ rows
          true
        case 1 => // overwrite with a fresh small state
          val rows = freshRows(rnd.nextInt(10) + 1)
          LakeTable.overwrite(spark, t, toDf(rows))
          model = rows.toMap
          true
        case 2 => // merge: update some existing + insert some new
          val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4))
            .map(k => k -> rnd.nextLong(100L))
          val ins = freshRows(rnd.nextInt(3) + 1)
            .filterNot { case (k, _) => model.contains(k) }
          val rows = (upd ++ ins).toMap.toSeq
          if (rows.nonEmpty) {
            LakeTable.merge(spark, t, toDf(rows), "id")
            model = model ++ rows
          }
          rows.nonEmpty
        case 3 => // range delete on id (copy-on-write)
          val lo = rnd.nextLong(900L); val hi = lo + rnd.nextLong(100L)
          LakeTable.deleteWhere(spark, t, "id", lo.toDouble, hi.toDouble)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          true
        case 4 => // range delete on id (merge-on-read deletion vector);
          // same model semantics as case 3 — the two paths must be
          // indistinguishable to readers
          val lo = rnd.nextLong(900L); val hi = lo + rnd.nextLong(100L)
          LakeTable.deleteWhereDV(spark, t, "id", lo.toDouble, hi.toDouble)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          true
        case 5 => // restore to a random recorded version
          val target = rnd.nextInt(perVersion.size) + 1
          LakeTable.restoreTo(t, target.toLong)
          model = perVersion(target - 1)
          true
        case 6 => // truncate (metadata-only remove-all)
          LakeTable.truncate(t)
          model = Map.empty
          true
        case 7 => // bin-packing compaction: row-identical, absorbs DVs
          LakeTable.compact(spark, t, smallBytes = 1L << 20,
            targetBytes = 1L << 30).isDefined
      }
      if (committed) { // keep perVersion aligned with the version counter
        perVersion += model
        val got = LakeTable.snapshot(spark, t).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"diverged at version ${LakeTable.latestVersion(t)}")
      }
    }
    // time travel: every recorded version still matches its model
    perVersion.zipWithIndex.foreach { case (m, i) =>
      val got = LakeTable.snapshot(spark, t, Some(i + 1L)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == m, s"time travel diverged at version ${i + 1}")
    }
    // a final OPTIMIZE (data-identical, compacts any deletion vectors)
    // must not change what readers see
    if (model.nonEmpty) {
      LakeTable.optimize(spark, t, "id", "v", targetFiles = 2)
      val got = LakeTable.snapshot(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model, "optimize changed visible data")
      assert(LakeTable.snapshotFiles(t)._1.forall(!_.contains("#dv=")))
    }
  }

  test("model check: timestamp verbs resolve through recorded wall-clock at every instant") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val t = tempDir("graft_lake")
    def toDf(m: Seq[(Long, Long)]) = m.toDF("id", "v")
    def freshRows(n: Int, taken: Set[Long]): Seq[(Long, Long)] =
      Seq.fill(n)(rnd.nextLong(1000L) -> rnd.nextLong(100L))
        .groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }.toSeq
        .filterNot { case (k, _) => taken(k) }
    def state(v: Long): Map[Long, Long] =
      LakeTable.snapshot(spark, t, Some(v)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var model = Map.empty[Long, Long]
    // per committed version: an instant strictly between this commit and
    // the next, plus the state in effect then (the 30 ms margins keep
    // the probe outside any commit's own wall-clock millisecond and
    // leave room for the cutoff re-read inside vacuumRetainMillis)
    val probes = scala.collection.mutable.ArrayBuffer[(Long, Map[Long, Long])]()
    def probe(): Unit = {
      Thread.sleep(30)
      probes += ((System.currentTimeMillis(), model))
      Thread.sleep(30)
    }
    LakeTable.append(spark, t, toDf(freshRows(10, Set.empty)))
    model = state(LakeTable.latestVersion(t).get)
    probe()
    (0 until 10).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 =>
          val rows = freshRows(rnd.nextInt(6) + 1, model.keySet)
          LakeTable.append(spark, t, toDf(rows)); model = model ++ rows
        case 1 =>
          val rows = freshRows(rnd.nextInt(6) + 1, Set.empty)
          LakeTable.overwrite(spark, t, toDf(rows)); model = rows.toMap
        case 2 =>
          val lo = rnd.nextLong(900L); val hi = lo + rnd.nextLong(150L)
          LakeTable.deleteWhere(spark, t, "id", lo.toDouble, hi.toDouble)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
        case 3 => // RESTORE to a recorded instant — state snaps back
          val (ts, m) = probes(rnd.nextInt(probes.size))
          LakeTable.restoreToTimestamp(t, ts); model = m
      }
      probe()
    }
    // 1) TIMESTAMP AS OF: every recorded instant resolves to the state
    //    in effect at that instant
    probes.foreach { case (ts, m) =>
      assert(state(LakeTable.versionAtTimestamp(t, ts)) == m,
        s"TIMESTAMP AS OF $ts diverged")
    }
    // resolution is monotone in the instant (clock skew can never make
    // a later instant resolve to an earlier version)
    val resolved = probes.map { case (ts, _) => LakeTable.versionAtTimestamp(t, ts) }
    assert(resolved == resolved.sorted, s"non-monotone resolution: $resolved")
    // before the first commit: loud refusal, not an empty table
    intercept[IllegalArgumentException] {
      LakeTable.versionAtTimestamp(t, probes.head._1 - 1000000L)
    }
    // 2) time-windowed vacuum to a mid-history instant keeps EVERY
    //    in-window instant time-travelable (the r5-ADVICE boundary)
    val cutIdx = probes.size / 2
    LakeTable.vacuumRetainMillis(t,
      System.currentTimeMillis() - probes(cutIdx)._1)
    probes.drop(cutIdx).foreach { case (ts, m) =>
      assert(state(LakeTable.versionAtTimestamp(t, ts)) == m,
        s"vacuum broke TIMESTAMP AS OF $ts inside the retention window")
    }
    // 3) clock-skew edge: rewrite a mid-log commit's recorded ts ~1 s
    //    BACKWARDS (a racing writer with a slow clock). Monotonization
    //    absorbs the skewed commit into its predecessor's effective
    //    time: the probe that used to resolve to the predecessor now
    //    sees the skewed commit too, and resolution stays monotone.
    val vs = LakeTable.versions(t)
    val skewV = vs(vs.size / 2)
    val origTs = LakeTable.history(t).find(_.version == skewV).get.ts
    val prevTs = LakeTable.history(t).find(_.version == skewV - 1).get.ts
    val logFile = java.nio.file.Paths.get(t, "_txlog", f"$skewV%020d.json")
    val json = new String(java.nio.file.Files.readAllBytes(logFile), "UTF-8")
    val skewed = json.replaceAll("\"ts\":\\d+", s""""ts":${prevTs - 1000}""")
    java.nio.file.Files.write(logFile, skewed.getBytes("UTF-8"))
    val resolvedAfter = probes.map { case (ts, _) => LakeTable.versionAtTimestamp(t, ts) }
    assert(resolvedAfter == resolvedAfter.sorted,
      s"skew broke monotone resolution: $resolvedAfter")
    // an instant inside [prevTs, origTs) used to see skewV-1; with the
    // skewed commit's effective time collapsed onto prevTs it must now
    // see skewV exactly (not past it — later commits keep later times)
    assert(LakeTable.versionAtTimestamp(t, origTs - 1) == skewV,
      "skewed commit did not collapse onto its predecessor's instant")
    // every probe OUTSIDE that window resolves exactly as before
    probes.zip(resolved).foreach { case ((ts, _), was) =>
      if (ts < prevTs || ts >= origTs)
        assert(LakeTable.versionAtTimestamp(t, ts) == was,
          s"skew changed resolution of an unrelated instant $ts")
    }
  }

  test("change feed: typed row changes for append/delete/update/merge") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 10))                        // v1
    LakeTable.deleteWhere(spark, t, "id", 3.0, 5.0)                   // v2
    LakeTable.updateWhere(spark, t, "id", 0.0, 1.0, Map("v" -> 999L)) // v3
    LakeTable.merge(spark, t,                                         // v4
      Seq((8L, 123L), (100L, 456L)).toDF("id", "v"), "id")
    val feed = LakeTable.changeFeed(spark, t, 0L, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3))).toSeq
    def of(v: Long, tpe: String) =
      feed.filter(r => r._4 == v && r._3 == tpe).map(r => (r._1, r._2)).sorted
    assert(of(1, "insert") == (0L until 10L).map(i => (i, i * 2)))
    assert(of(2, "delete") == Seq((3L, 6L), (4L, 8L), (5L, 10L)))
    assert(of(3, "update_preimage") == Seq((0L, 0L), (1L, 2L)))
    assert(of(3, "update_postimage") == Seq((0L, 999L), (1L, 999L)))
    assert(of(4, "update_preimage") == Seq((8L, 16L)))
    assert(of(4, "update_postimage") == Seq((8L, 123L)))
    assert(of(4, "insert") == Seq((100L, 456L)))
    assert(feed.size == 10 + 3 + 4 + 3, s"unexpected extra rows: $feed")
    // a sub-range carries only its own commits
    val sub = LakeTable.changeFeed(spark, t, 2L, 3L).collect()
    assert(sub.forall(_.getLong(3) == 3L) && sub.length == 4)
    // replaying the feed against the v1 state reproduces the v4 snapshot
    val replayed = feed.filter(r => r._4 >= 2)
      .sortBy(_._4)
      .foldLeft((0L until 10L).map(i => i -> (i * 2)).toMap) {
        case (m, (id, v, "delete", _)) => m - id
        case (m, (id, _, "update_preimage", _)) => m
        case (m, (id, v, "update_postimage", _)) => m + (id -> v)
        case (m, (id, v, "insert", _)) => m + (id -> v)
      }
    val snap = LakeTable.snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == snap, "feed replay diverged from the snapshot")
  }

  test("change feed: DV delete emits the same rows as copy-on-write") {
    val (t1, t2) = (tempDir("graft_lake"), tempDir("graft_lake"))
    Seq(t1, t2).foreach(t => LakeTable.append(spark, t, df(0 until 50)))
    LakeTable.deleteWhere(spark, t1, "id", 10.0, 19.0)
    LakeTable.deleteWhereDV(spark, t2, "id", 10.0, 19.0)
    def rows(t: String) = LakeTable.changeFeed(spark, t, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows(t1) == rows(t2), "CoW and DV deletes must be feed-identical")
    assert(rows(t1).forall(_._3 == "delete") && rows(t1).size == 10)
  }

  test("change feed: rewrites refuse; optimize is silent; vacuum respects retention") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 30))           // v1
    LakeTable.deleteWhere(spark, t, "id", 0.0, 4.0)      // v2 (cdc staged)
    LakeTable.overwrite(spark, t, df(100 until 130))     // v3 (whole-table)
    val e = intercept[IllegalArgumentException] {
      LakeTable.changeFeed(spark, t, 2L, 3L)
    }
    assert(e.getMessage.contains("no change files"), e.getMessage)
    // ranges before the rewrite still serve
    assert(LakeTable.changeFeed(spark, t, 1L, 2L).count() == 5)
    LakeTable.optimize(spark, t, "id", "v", targetFiles = 1) // v4
    assert(LakeTable.changeFeed(spark, t, 3L, 4L).count() == 0)
    // vacuum to the latest version reclaims v2's change files...
    val cdcFiles = LakeTable.history(t).flatMap(_.cdc)
    assert(cdcFiles.nonEmpty)
    LakeTable.vacuum(t, retainFrom = Long.MaxValue, orphanMinAgeMs = 0L)
    assert(cdcFiles.forall(f => !Files.exists(Paths.get(t, f))),
      "expired change files must be vacuumed")
    // ...while a DML after the vacuum keeps its feed readable
    LakeTable.deleteWhere(spark, t, "id", 100.0, 101.0)  // v5
    assert(LakeTable.changeFeed(spark, t, 4L, 5L).count() == 2)
  }

  test("change feed refuses a range spanning a schema evolution") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))                       // v1
    LakeTable.append(spark, t,                                      // v2: +w
      df(5 until 8).withColumn("w", col("id") + 100L),
      mergeSchema = true)
    val e = intercept[IllegalArgumentException] {
      LakeTable.changeFeed(spark, t, 0L, 2L)
    }
    assert(e.getMessage.contains("schema changed"), e.getMessage)
    // each side of the evolution reads fine on its own
    assert(LakeTable.changeFeed(spark, t, 0L, 1L).count() == 5)
    assert(LakeTable.changeFeed(spark, t, 1L, 2L).count() == 3)
  }

  test("restore re-points an old snapshot metadata-only; history is preserved") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100))             // v1
    LakeTable.append(spark, t, df(100 until 250))           // v2
    LakeTable.deleteWhere(spark, t, "id", 0.0, 199.0)       // v3
    val parquets = Files.walk(Paths.get(t)).filter(_.toString.endsWith(".parquet")).count()
    val v = LakeTable.restoreTo(t, 2L)                      // v4 = state of v2
    assert(v == 4L)
    // no data file written or removed — pure log metadata
    val after = Files.walk(Paths.get(t)).filter(_.toString.endsWith(".parquet")).count()
    assert(after == parquets, s"restore touched data files: $parquets -> $after")
    assert(LakeTable.snapshot(spark, t).count() == 250)
    // the undone delete stays time-travelable (history preserved)
    assert(LakeTable.snapshot(spark, t, Some(3L)).count() == 50)
    assert(LakeTable.history(t).map(_.op) ==
      Seq("append", "append", "delete", "restore"))
    // restore works on DV'd snapshots too: DV delete, then undo it
    LakeTable.deleteWhereDV(spark, t, "id", 0.0, 9.0)       // v5
    assert(LakeTable.snapshot(spark, t).count() == 240)
    LakeTable.restoreTo(t, 4L)                              // v6
    assert(LakeTable.snapshot(spark, t).count() == 250)
    // and restoring FORWARD to the DV'd state re-applies the mask
    LakeTable.restoreTo(t, 5L)                              // v7
    assert(LakeTable.snapshot(spark, t).count() == 240)
  }

  test("restore refuses when vacuum already reclaimed the target's files") {
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 50))              // v1
    LakeTable.overwrite(spark, t, df(50 until 60))          // v2 (v1 files dead)
    LakeTable.vacuum(t, retainFrom = 2L)                    // v1's files reclaimed
    val e = intercept[IllegalArgumentException] {
      LakeTable.restoreTo(t, 1L)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // nothing committed; current state intact
    assert(LakeTable.latestVersion(t).contains(2L))
    assert(LakeTable.snapshot(spark, t).count() == 10)
  }

  test("schema is pinned per commit; empty and missing tables behave") {
    val t = tempDir("graft_lake")
    intercept[IllegalArgumentException] { LakeTable.snapshot(spark, t) }
    LakeTable.append(spark, t, df(0 until 5))
    LakeTable.overwrite(spark, t, df(0 until 0)) // empty overwrite
    val s = LakeTable.snapshot(spark, t)
    assert(s.count() == 0)
    assert(s.schema.fieldNames.toSeq == Seq("id", "v"),
      "empty snapshot still carries the committed schema")
  }

  // ---- schema evolution -----------------------------------------------

  test("schema evolution: mergeSchema append adds a column, old rows null-fill") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5))
    // un-opted new column is rejected loudly (no silent clobber)
    val widened = Seq((100L, 200L, "x")).toDF("id", "v", "tag")
    val e = intercept[IllegalArgumentException] {
      LakeTable.append(spark, t, widened)
    }
    assert(e.getMessage.contains("mergeSchema"))
    // opted-in evolution commits the union schema
    LakeTable.append(spark, t, widened, mergeSchema = true)
    val s = LakeTable.snapshot(spark, t)
    assert(s.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(s.count() == 6)
    val byId = s.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("tag"))).toMap
    assert(byId(100L).contains("x"))
    assert((0L until 5L).forall(byId(_).isEmpty),
      "pre-evolution rows must read the new column as null")
    // time travel still sees the narrow schema
    assert(LakeTable.snapshot(spark, t, Some(1)).schema.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("schema evolution: writers may omit nullable columns (null-filled)") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t,
      Seq((1L, 2L, "a")).toDF("id", "v", "tag"))
    // a narrower writer omits `tag`; the table schema must NOT shrink
    LakeTable.append(spark, t, df(10 until 12))
    val s = LakeTable.snapshot(spark, t)
    assert(s.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(s.count() == 3)
    assert(s.filter(col("tag").isNull).count() == 2)
  }

  test("schema evolution: type changes and case collisions fail loudly") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 3))
    val retyped = Seq((1L, "not-a-long")).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      LakeTable.append(spark, t, retyped, mergeSchema = true)
    }
    assert(e1.getMessage.contains("type"))
    val cased = Seq((1L, 2L)).toDF("id", "V")
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.append(spark, t, cased, mergeSchema = true)
    }
    assert(e2.getMessage.contains("case"))
    // the failed writes must not have committed anything
    assert(LakeTable.history(t).size == 1)
  }

  // ---- round-4 review fixes -------------------------------------------

  test("decimal columns carry no log stats (unscaled-footer hazard) and never misprune") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    // parquet stores precision<=18 decimals as UNSCALED ints in footer
    // stats; recording those verbatim would prune wrongly — the contract
    // is: decimal columns contribute NO stats, files are kept, results
    // stay exact through the row-level filter
    def dec(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, BigDecimal(i) / 100))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(10,2)").as("price"))
    LakeTable.append(spark, t, dec(0, 100).repartition(1))
    LakeTable.append(spark, t, dec(1000, 1100).repartition(1))
    val (pruned, total) = LakeTable.prunedFiles(t, "price", 0.0, 0.5)
    assert(pruned.size == total, "decimal stats must be absent => keep all files")
    // rows with price in [0.00, 0.50] <=> id in [0, 50]
    assert(LakeTable.snapshotWhere(spark, t, "price", 0.0, 0.5).count() == 51)
    // the sibling long column still prunes
    val (prunedId, totalId) = LakeTable.prunedFiles(t, "id", 0.0, 50.0)
    assert(prunedId.size < totalId, "plain numeric stats must still prune")
  }

  test("appends with infinities succeed; the column just loses its stats") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, Seq(
      (1L, 1.0), (2L, Double.PositiveInfinity), (3L, Double.NegativeInfinity))
      .toDF("id", "score"))
    assert(LakeTable.snapshot(spark, t).count() == 3)
    val (pruned, total) = LakeTable.prunedFiles(t, "score", 0.0, 2.0)
    assert(pruned.size == total, "infinite endpoints => no stats => kept")
    assert(LakeTable.snapshotWhere(spark, t, "score", 0.0, 2.0).count() == 1)
  }

  test("updateWhere: NULL and NaN assignments are exact; lossy casts still fail") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, Seq((1L, 1.5, "a"), (2L, 2.5, "b"), (10L, 9.0, "c"))
      .toDF("id", "score", "tag"))
    // SET tag = NULL — plain SQL, must commit
    LakeTable.updateWhere(spark, t, "id", 1, 2, Map("tag" -> null))
    assert(LakeTable.snapshot(spark, t).filter(col("tag").isNull).count() == 2)
    // SET score = NaN on a double column is an exact value, not a lossy cast
    LakeTable.updateWhere(spark, t, "id", 1, 1, Map("score" -> Double.NaN))
    assert(LakeTable.snapshot(spark, t).filter(isnan(col("score"))).count() == 1)
    // a long above 2^53 is NOT exactly a double — silent rounding refused
    val e = intercept[IllegalArgumentException] {
      LakeTable.updateWhere(spark, t, "id", 10, 10,
        Map("score" -> 9007199254740993L))
    }
    assert(e.getMessage.contains("representable"))
  }

  test("append omitting a NON-nullable column fails instead of null-filling") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 5)) // id, v: non-nullable longs
    val e = intercept[IllegalArgumentException] {
      LakeTable.append(spark, t, Seq(7L).toDF("id")) // omits non-null v
    }
    assert(e.getMessage.contains("non-nullable"))
    assert(LakeTable.history(t).size == 1, "the rejected write must not commit")
  }

  test("schema evolution: stats pruning still works across schema versions") {
    import spark.implicits._
    val t = tempDir("graft_lake")
    LakeTable.append(spark, t, df(0 until 100))
    LakeTable.append(spark, t,
      (1000 until 1100).map(i => (i.toLong, i.toLong * 2, i.toLong * 10))
        .toDF("id", "v", "w"), mergeSchema = true)
    // pruning on the evolved column: pre-evolution files have no `w`
    // stats and must be KEPT conservatively (their rows are null => never
    // match, but skipping must be provably safe, not assumed)
    val (pruned, total) = LakeTable.prunedFiles(t, "w", 10000.0, 10500.0)
    assert(total > pruned.size, "files outside the w-range must prune")
    val got = LakeTable.snapshotWhere(spark, t, "w", 10000.0, 10500.0)
    assert(got.count() == 51) // w in [10000,10500] <=> id in [1000,1050]
    // pruning on the original column spans both schema generations
    assert(LakeTable.snapshotWhere(spark, t, "id", 90.0, 1005.0).count() ==
      10 + 6)
  }
}

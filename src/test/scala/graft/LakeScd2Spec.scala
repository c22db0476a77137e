package graft

import org.apache.spark.sql.functions._
import graft.events.EventOps
import graft.lake.LakeTable

/** SCD2 over the transaction log: a change batch applies to the
  * dimension as ONE atomic MERGE (close the open interval + insert the
  * new version), history stays time-travelable, and the tiling
  * invariant survives every apply. */
class LakeScd2Spec extends SparkSpec {

  /** A 3-user dimension: u1 tier 1 @ [10, MAX), u2 tier 2 @ [10, 40)
    * then tier 0 @ [40, MAX). */
  private def seedDim() = {
    import spark.implicits._
    Seq(
      (1L, 1L, 1L, 10L, Long.MaxValue),
      (2L, 2L, 1L, 10L, 40L),
      (2L, 0L, 2L, 40L, Long.MaxValue))
      .toDF("user_id", "tier", "version", "valid_from_us", "valid_to_us")
      .withColumn("dim_key", col("user_id") * lit(1000000L) + col("version"))
  }

  private def tiling(rows: Array[org.apache.spark.sql.Row]): Unit =
    rows.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).foreach { case (u, ivs) =>
        val sorted = ivs.sortBy(_._2)
        assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
          s"user $u versions not dense")
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._4 == b._3, s"user $u gap/overlap")
          case _ =>
        }
        assert(sorted.last._4 == Long.MaxValue, s"user $u no open interval")
      }

  test("scd2Delta computes exactly the close+insert set") {
    import spark.implicits._
    val dim = seedDim()
    // u1: real change (1→3 @50); u2: no-op (already 0); u3: brand new;
    // u1 also demonstrates the version bump
    val changes = Seq((1L, 3L, 50L), (2L, 0L, 60L), (3L, 1L, 70L))
      .toDF("user_id", "tier", "ts_us")
    val got = EventOps.scd2Delta(dim, changes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (1L, 1L, 1L, 10L, 50L),             // u1 old interval closed @50
      (1L, 3L, 2L, 50L, Long.MaxValue),   // u1 new version opened
      (3L, 1L, 1L, 70L, Long.MaxValue)),  // u3 first version
      s"got $got")
  }

  test("surrogate keys out of the injective domain fail loudly, never collide") {
    import spark.implicits._
    // u1 already at version 999999: the bump to 1000000 would collide
    // with (user_id+1, version 0) under dim_key = uid * 10^6 + version
    val dim = Seq((1L, 1L, EventOps.Scd2VersionCap - 1, 10L, Long.MaxValue))
      .toDF("user_id", "tier", "version", "valid_from_us", "valid_to_us")
      .withColumn("dim_key",
        col("user_id") * lit(EventOps.Scd2VersionCap) + col("version"))
    val change = Seq((1L, 3L, 50L)).toDF("user_id", "tier", "ts_us")
    val e = intercept[Exception] {
      EventOps.scd2Delta(dim, change).collect()
    }
    assert(e.getMessage.contains("surrogate key out of domain") ||
      Option(e.getCause).exists(_.getMessage.contains("surrogate key out of domain")),
      s"expected the domain assert, got: ${e.getMessage}")
    // a user_id past the Long headroom fails the same way
    val dim2 = seedDim()
    val huge = Seq((Long.MaxValue / EventOps.Scd2VersionCap + 1, 3L, 50L))
      .toDF("user_id", "tier", "ts_us")
    intercept[Exception] { EventOps.scd2Delta(dim2, huge).collect() }
  }

  test("stale changes (ts not after the open start) drop out") {
    import spark.implicits._
    val dim = seedDim()
    val stale = Seq((2L, 3L, 40L)).toDF("user_id", "tier", "ts_us")
    assert(EventOps.scd2Delta(dim, stale).count() == 0,
      "a change at exactly the open interval's start cannot tile")
  }

  test("SCD2 apply is one atomic lake MERGE; history time-travels") {
    val t = tempDir("graft_scd2")
    import spark.implicits._
    LakeTable.append(spark, t, seedDim())
    val v1 = LakeTable.latestVersion(t).get
    val changes = Seq((1L, 3L, 50L), (3L, 1L, 70L))
      .toDF("user_id", "tier", "ts_us")
    val delta = EventOps.scd2Delta(LakeTable.snapshot(spark, t), changes)
    LakeTable.merge(spark, t, delta, "dim_key")
    val now = LakeTable.snapshot(spark, t)
      .select("user_id", "tier", "version", "valid_from_us", "valid_to_us")
      .collect()
    // tiling holds after the apply, for every user
    tiling(now)
    // u1 is now tier 3 open at 50; its v1 interval is CLOSED at 50
    val u1 = now.filter(_.getLong(0) == 1L).sortBy(_.getLong(2))
    assert(u1.length == 2 && u1(0).getLong(4) == 50L &&
      u1(1).getLong(1) == 3L && u1(1).getLong(3) == 50L &&
      u1(1).getLong(4) == Long.MaxValue)
    // u3 exists with exactly one open version
    assert(now.count(_.getLong(0) == 3L) == 1)
    // time travel: the pre-apply snapshot still shows u1 open at tier 1
    val before = LakeTable.snapshot(spark, t, Some(v1))
      .filter(col("user_id") === 1L).collect()
    assert(before.length == 1 && before.head.getAs[Long]("valid_to_us")
      == Long.MaxValue)
    // the whole apply was ONE commit
    assert(LakeTable.history(t).map(_.op) == Seq("append", "merge"))
  }

  test("streaming change batches maintain the SCD2 dimension via foreachBatch MERGE") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = tempDir("graft_scd2")
    LakeTable.append(spark, t, seedDim())
    // a stream of (user_id, tier, ts_us) changes, applied per micro-batch
    // as one transactional MERGE each — the streaming CDC→SCD2 pipeline
    val mem = MemoryStream[(Long, Long, Long)]
    val ckpt = tempDir("scd2_stream_ckpt")
    val q = mem.toDF().toDF("user_id", "tier", "ts_us").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = EventOps.scd2Delta(LakeTable.snapshot(spark, t), batch)
        if (!delta.isEmpty) { LakeTable.merge(spark, t, delta, "dim_key"); () }
      }
      .start()
    // three micro-batches; u1 changes twice ACROSS batches, u3 is new
    Seq(Seq((1L, 3L, 50L)), Seq((3L, 1L, 60L), (2L, 0L, 65L)),
        Seq((1L, 0L, 90L)))
      .foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val rows = LakeTable.snapshot(spark, t)
      .select("user_id", "tier", "version", "valid_from_us", "valid_to_us")
      .collect()
    tiling(rows)
    val u1 = rows.filter(_.getLong(0) == 1L).sortBy(_.getLong(2))
    assert(u1.map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 10L, 50L), (3L, 50L, 90L), (0L, 90L, Long.MaxValue)))
    // the no-op change for u2 (already tier 0) committed nothing for it
    assert(rows.count(_.getLong(0) == 2L) == 2)
    assert(rows.filter(_.getLong(0) == 3L).map(_.getLong(2)).toSeq == Seq(1L))
  }

  test("a second apply chains versions and stays tiled") {
    val t = tempDir("graft_scd2")
    import spark.implicits._
    LakeTable.append(spark, t, seedDim())
    val c1 = Seq((1L, 3L, 50L)).toDF("user_id", "tier", "ts_us")
    LakeTable.merge(spark, t,
      EventOps.scd2Delta(LakeTable.snapshot(spark, t), c1), "dim_key")
    val c2 = Seq((1L, 0L, 90L)).toDF("user_id", "tier", "ts_us")
    LakeTable.merge(spark, t,
      EventOps.scd2Delta(LakeTable.snapshot(spark, t), c2), "dim_key")
    val rows = LakeTable.snapshot(spark, t)
      .select("user_id", "tier", "version", "valid_from_us", "valid_to_us")
      .collect()
    tiling(rows)
    val u1 = rows.filter(_.getLong(0) == 1L).sortBy(_.getLong(2))
    assert(u1.map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 10L, 50L), (3L, 50L, 90L), (0L, 90L, Long.MaxValue)))
  }
}

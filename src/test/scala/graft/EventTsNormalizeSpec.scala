package graft

import java.sql.Timestamp
import java.time.LocalDateTime
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.events.EventOps

/** Environment-drift guard for the events `ts` column: the driver's
  * testdata has shipped `ts` as TIMESTAMP(NANOS) (one generation) and
  * TIMESTAMP(MICROS) (the next), and the r4 round went red because the
  * session-level `nanosAsLong` flag silently stopped applying when the
  * physical type changed. [[EventOps.events]] must yield int64
  * nanoseconds for EVERY physical spelling — this spec pins all the
  * branches with fixtures so the class of drift can never reach the
  * driver again.
  */
class EventTsNormalizeSpec extends SparkSpec {
  import spark.implicits._

  // 2024-03-01T12:00:00Z and one microsecond later, as epoch-micros
  private val baseUs = 1709294400000000L
  private val usValues = Seq(baseUs, baseUs + 1L, baseUs + 3600L * 1000000)

  private def assertNs(df: org.apache.spark.sql.DataFrame): Unit = {
    assert(df.schema("ts").dataType == LongType, s"ts is ${df.schema("ts").dataType}")
    val got = df.select("ts").as[Long].collect().sorted
    assert(got.toSeq == usValues.map(_ * 1000L), s"ns values off: ${got.toSeq}")
  }

  test("events(): TIMESTAMP(MICROS) parquet (current testdata) reads as int64 ns") {
    val dir = tempDir("evts_micros")
    usValues.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        lit("click").as("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: the fixture really is a timestamp column, not a long
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    assertNs(EventOps.events(spark, dir))
  }

  test("events(): int64 ts parquet (nanosAsLong generation) passes through") {
    val dir = tempDir("evts_nanos")
    usValues.map(_ * 1000L).toDF("ts")
      .withColumn("event_type", lit("view"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = EventOps.events(spark, dir)
    assertNs(df)
    // passthrough, not a rewrite: the plan has no projection over the scan
    assert(df.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.isEmpty, "LongType ts must not be re-projected")
  }

  test("normalizeTs: session-zoned TIMESTAMP column also lands on int64 ns") {
    // UTC session tz (pinned in the shared builder) makes this exact
    val df = usValues.map(us => Tuple1(new Timestamp(us / 1000)))
      .toDF("ts")
    assert(df.schema("ts").dataType == TimestampType)
    val ns = EventOps.normalizeTs(df)
    assert(ns.schema("ts").dataType == LongType)
    val got = ns.select("ts").as[Long].collect().sorted
    assert(got.toSeq == usValues.map(us => (us / 1000) * 1000000L))
  }

  test("normalizeTs: a non-time ts column fails loudly, not with wrong math") {
    val bad = Seq("oops").toDF("ts")
    val e = intercept[IllegalArgumentException](EventOps.normalizeTs(bad))
    assert(e.getMessage.contains("events.ts"))
  }

  test("downstream ns arithmetic works on the micros-generation testdata") {
    // the real driver fixture: this is exactly what failed in r4
    val df = EventOps.events(spark, sf0001)
    assert(df.schema("ts").dataType == LongType)
    val hours = df.select(expr(s"ts div ${EventOps.NsPerHour}").as("h"))
      .distinct().count()
    assert(hours > 0)
  }
}

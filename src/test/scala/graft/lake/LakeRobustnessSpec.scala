package graft.lake

import org.apache.spark.sql.functions._

import graft.{DatasetCache, SparkSpec}

/** Round-6 lake-layer review findings, each pinned by the failure it
  * closed: schema-reverting blind rebase, NOT NULL holes, stream-
  * wedging metadata commits, reserved/reserved-namespace column
  * collisions, vacuumed-change-feed fallback. Lives in `graft.lake`
  * for access to the `private[lake]` stats parsers. */
class LakeRobustnessSpec extends SparkSpec {

  private def freshTable(): String = {
    val d = tempDir("graft_lake_rb")
    d
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 2)
  }

  test("append rebasing over a mergeSchema winner re-evolves instead of reverting the schema") {
    import spark.implicits._
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 5))
    // deterministically interleave: B's widening append (adds c1)
    // commits while A's plain append is between staging and commit
    LakeTestHooks.withRaceHook(op =>
      if (op == "append") {
        LakeTestHooks.withRaceHook(_ => ())(
          LakeTable.append(spark, t,
            df(100 until 105).withColumn("c1", lit(7L)),
            mergeSchema = true))
      }) {
      LakeTable.append(spark, t, df(10 until 15))
    }
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.columns.contains("c1"),
      s"the rebased append reverted the widened schema: ${snap.columns.toSeq}")
    assert(snap.filter(col("c1") === 7L).count() == 5,
      "the widening writer's data was lost")
    assert(snap.count() == 15)
  }

  test("NOT NULL table columns reject null values per row (not just omitted columns)") {
    import spark.implicits._
    val t = freshTable()
    // spark.range produces a non-nullable id — the committed schema
    // promises NOT NULL
    LakeTable.append(spark, t, spark.range(0, 5).select(col("id")))
    val e = intercept[Exception] {
      LakeTable.append(spark, t,
        Seq(Some(9L), Option.empty[Long]).toDF("id")) // nullable writer col
    }
    assert(String.valueOf(e.getMessage).contains("NOT NULL") ||
      String.valueOf(e.getCause).contains("NOT NULL"))
    assert(LakeTable.snapshot(spark, t).count() == 5)
    // all-non-null values through a nullable writer column still land
    LakeTable.append(spark, t, Seq(Some(9L), Some(10L)).toDF("id"))
    assert(LakeTable.snapshot(spark, t).count() == 7)
  }

  test("metadata-only commits don't wedge changesBetween (constraint DDL mid-stream)") {
    val t = freshTable()
    val v1 = LakeTable.append(spark, t, df(0 until 5))
    val v2 = LakeTable.addConstraint(spark, t, "ck", "id >= 0")
    val v3 = LakeTable.append(spark, t, df(5 until 8))
    val delta = LakeTable.changesBetween(spark, t, v1, v3)
    assert(delta.count() == 3, "the constraint commit must read as an empty delta")
    assert(v2 == v1 + 1)
  }

  test("reserved engine column names are refused at write time") {
    import spark.implicits._
    val t = freshTable()
    for (bad <- Seq("_change_type", "__lake_rel", "__lake_ri", "_commit_version")) {
      val e = intercept[IllegalArgumentException] {
        LakeTable.append(spark, t,
          Seq(1L).toDF("id").withColumn(bad, lit("x")))
      }
      assert(e.getMessage.contains("reserved"), s"$bad: ${e.getMessage}")
    }
  }

  test("stats namespaces are read-side safe: str$/#rows column names never mis-prune or crash") {
    // a string column x writes `str$x=...`; a NUMERIC column literally
    // named `str$x` must not read those byte bounds as its range
    assert(LakeTable.statsRange("str$x=100:999;y=1:2", "str$x").isEmpty)
    assert(LakeTable.statsRange("str$x=100:999;y=1:2", "y").contains(
      (BigDecimal(1), BigDecimal(2))))
    // a column named #rows writes a range entry; the row-count parser
    // must return None, not throw
    assert(LakeTable.rowCountFromStats("#rows=5:9").isEmpty)
    assert(LakeTable.rowCountFromStats("#rows=42").contains(42L))
  }

  test("a vacuumed change feed fails covers() and the MV falls back to full recompute") {
    import spark.implicits._
    val src = freshTable()
    val view = tempDir("graft_lake_rb_mv")
    LakeTable.append(spark, src, df(0 until 20))
    MaterializedView.create(spark, view, src, Seq("id"), Seq("v"))
    // DML traffic the view hasn't folded yet, then vacuum reclaims the
    // change files below the new floor
    LakeTable.deleteWhere(spark, src, "id", 0.0, 4.0)
    LakeTable.append(spark, src, df(100 until 105))
    val latest = LakeTable.latestVersion(src).get
    LakeTable.vacuum(src, latest, orphanMinAgeMs = 0L)
    val from = MaterializedView.lastSourceVersion(view)
    assert(!LakeTable.changeFeedCovers(src, from, latest),
      "covers() must report the reclaimed change files")
    // refresh survives via the full-recompute branch
    MaterializedView.refresh(spark, view)
    val got = MaterializedView.read(spark, view)
      .agg(sum("cnt")).head.getLong(0)
    assert(got == LakeTable.snapshot(spark, src).count(),
      "the rebuilt view must equal the source row count")
  }
}

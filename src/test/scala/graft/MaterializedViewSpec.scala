package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.{LakeTable, MaterializedView}

/** Incremental view maintenance: a refreshed view must be row-identical
  * to a from-scratch recompute after ANY supported DML history — the
  * delta-multiset rule has no partial credit. */
class MaterializedViewSpec extends SparkSpec {

  private def rows(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"g${i % 5}", (i % 100).toLong)).toDF("id", "g", "x")
  }

  /** The oracle: full recompute of the view definition on the source. */
  private def recompute(source: String): DataFrame =
    LakeTable.snapshot(spark, source)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"))

  private def assertMatches(view: String, source: String): Unit = {
    val got = MaterializedView.read(spark, view)
      .select("g", "cnt", "sum_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
    val want = recompute(source).collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
    assert(got == want)
  }

  test("create builds the full state; incremental append refresh matches recompute") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 100))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    assertMatches(view, src)
    // two more appends, ONE refresh folds both versions
    LakeTable.append(spark, src, rows(100 until 150))
    LakeTable.append(spark, src, rows(150 until 160))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastSourceVersion(view) == 3)
    assertMatches(view, src)
  }

  test("refresh is idempotent and stale-proof: no source change → None") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 20))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    assert(MaterializedView.refresh(spark, view).isEmpty)
    assertMatches(view, src)
  }

  test("deletes and updates fold through the change feed, to group death") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 50).repartition(4))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    // delete a slice, update another, then delete EVERY row of group g4
    // (ids ≡ 4 mod 5) — its state row must disappear, not linger at 0
    LakeTable.deleteWhere(spark, src, "id", 10, 19)
    LakeTable.updateWhere(spark, src, "id", 30, 39, Map("x" -> 7L))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assertMatches(view, src)
    val g4Ids = LakeTable.snapshot(spark, src)
      .filter(col("g") === "g4").select("id").collect().map(_.getLong(0))
    g4Ids.foreach(i => LakeTable.deleteWhere(spark, src, "id", i, i))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(!MaterializedView.read(spark, view).select("g").collect()
      .map(_.getString(0)).contains("g4"))
    assertMatches(view, src)
  }

  test("merge (upsert) folds incrementally") {
    import spark.implicits._
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 40))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    LakeTable.merge(spark, src,
      Seq((5L, "g0", 999L), (1000L, "gNEW", 1L)).toDF("id", "g", "x"), "id")
    assert(MaterializedView.refresh(spark, view).isDefined)
    assertMatches(view, src)
  }

  test("whole-table rewrite falls back to full recompute, still exact") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 30))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    LakeTable.overwrite(spark, src, rows(500 until 620)) // no row-level feed
    assert(!LakeTable.changeFeedCovers(src,
      MaterializedView.lastSourceVersion(view),
      LakeTable.latestVersion(src).get))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assertMatches(view, src)
  }

  test("null group keys and null measures carry SQL semantics through deltas") {
    import spark.implicits._
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    val withNulls = Seq[(java.lang.Long, String, java.lang.Long)](
      (1L, null, 10L), (2L, null, null), (3L, "a", null), (4L, "a", 5L))
      .toDF("id", "g", "x")
    LakeTable.append(spark, src, withNulls)
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    // delete the only non-null x of group a → its sum must flip to NULL;
    // null group key must aggregate as its own group (SQL GROUP BY)
    LakeTable.deleteWhere(spark, src, "id", 4, 4)
    assert(MaterializedView.refresh(spark, view).isDefined)
    val m = MaterializedView.read(spark, view).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), Option(r.get(2)))).toMap
    assert(m(Some("a")) == ((1L, None)), "all-null group must read sum NULL")
    assert(m(None)._1 == 2L, "null key is one group")
    assert(m(None)._2.contains(10L))
    val want = recompute(src).collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(m == want)
  }

  test("random DML storm: interleaved refreshes always equal recompute") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    val rnd = new scala.util.Random(42)
    LakeTable.append(spark, src, rows(0 until 60).repartition(3))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    var nextId = 1000
    for (_ <- 0 until 12) {
      rnd.nextInt(4) match {
        case 0 =>
          LakeTable.append(spark, src, rows(nextId until nextId + rnd.nextInt(20) + 1))
          nextId += 40
        case 1 =>
          val lo = rnd.nextInt(nextId)
          LakeTable.deleteWhere(spark, src, "id", lo, lo + rnd.nextInt(30))
        case 2 =>
          val lo = rnd.nextInt(nextId)
          LakeTable.updateWhere(spark, src, "id", lo, lo + rnd.nextInt(15),
            Map("x" -> rnd.nextInt(500).toLong))
        case 3 =>
          if (rnd.nextBoolean()) { MaterializedView.refresh(spark, view); () }
      }
    }
    assert(MaterializedView.refresh(spark, view).isDefined ||
      MaterializedView.lastSourceVersion(view) ==
        LakeTable.latestVersion(src).get)
    assertMatches(view, src)
  }

  /** min/max oracle. */
  private def recomputeMM(source: String): DataFrame =
    LakeTable.snapshot(spark, source)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"),
        min("x").as("min_x"), max("x").as("max_x"))

  private def assertMatchesMM(view: String, source: String): Unit = {
    val got = MaterializedView.read(spark, view)
      .select("g", "cnt", "sum_x", "min_x", "max_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2), r.get(3), r.get(4))).toSet
    val want = recomputeMM(source).collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2), r.get(3), r.get(4))).toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("min/max views: appends fold incrementally, exact extrema") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 50))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"), Seq("x"))
    assertMatchesMM(view, src)
    // growth only: both refreshes must take the incremental path
    LakeTable.append(spark, src, rows(200 until 260))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastRefreshMode == "incremental",
      "insert-only range must fold incrementally for min/max views")
    assertMatchesMM(view, src)
    LakeTable.append(spark, src, rows(300 until 310))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastRefreshMode == "incremental")
    assertMatchesMM(view, src)
  }

  test("min/max views: a delete in the range triggers the exact full-recompute fallback") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 50).repartition(2))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"), Seq("x"))
    // delete the global maximum of group g4 (id 49, x = 49): the stored
    // max is now unrepairable from state — the fallback must fire and
    // the new max must be exact
    LakeTable.deleteWhere(spark, src, "id", 49, 49)
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastRefreshMode == "full",
      "a delete under a min/max view must recompute, not fold")
    assertMatchesMM(view, src)
    // and a later pure append is incremental again
    LakeTable.append(spark, src, rows(100 until 120))
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastRefreshMode == "incremental")
    assertMatchesMM(view, src)
  }

  test("sum-only views still fold deletes incrementally (fallback is min/max-scoped)") {
    val src = tempDir("graft_mv_src")
    val view = tempDir("graft_mv_view")
    LakeTable.append(spark, src, rows(0 until 50).repartition(2))
    MaterializedView.create(spark, view, src, Seq("g"), Seq("x"))
    LakeTable.deleteWhere(spark, src, "id", 10, 19)
    assert(MaterializedView.refresh(spark, view).isDefined)
    assert(MaterializedView.lastRefreshMode == "incremental",
      "a sum-only view must keep folding deletes through the feed")
    assertMatches(view, src)
  }

  test("min/max create refuses non-orderable columns; old specs read back minmax-free") {
    import spark.implicits._
    val src = tempDir("graft_mv_src")
    LakeTable.append(spark, src,
      Seq((1L, "a", Seq(1.0))).toDF("id", "g", "arr"))
    intercept[IllegalArgumentException] {
      MaterializedView.create(spark, tempDir("graft_mv_view"), src,
        Seq("g"), Seq.empty, Seq("arr"))
    }
  }

  test("create refuses unknown columns and decimal measures") {
    import spark.implicits._
    val src = tempDir("graft_mv_src")
    LakeTable.append(spark, src, rows(0 until 5))
    intercept[IllegalArgumentException] {
      MaterializedView.create(spark, tempDir("graft_mv_view"), src,
        Seq("nope"), Seq("x"))
    }
    val dsrc = tempDir("graft_mv_src")
    LakeTable.append(spark, dsrc, Seq((1L, "a", BigDecimal(1)))
      .toDF("id", "g", "d"))
    intercept[IllegalArgumentException] {
      MaterializedView.create(spark, tempDir("graft_mv_view"), dsrc,
        Seq("g"), Seq("d"))
    }
  }
}

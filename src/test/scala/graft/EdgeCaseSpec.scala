package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.mm.MultimodalOps
import graft.sources.{Ply, las => L}

/** Degenerate-input behavior: empty blobs, zero-point files, zero-count
  * elements — the places distributed pipelines break first. */
class EdgeCaseSpec extends SparkSpec {

  test("empty media blob contributes zero chunks/frames (no descending sequence)") {
    // synthesize a documents table with an empty text row
    val dir = tempDir("mm_empty")
    spark.range(3).selectExpr(
        "id AS doc_id",
        "CASE WHEN id = 1 THEN '' ELSE 'some words here repeated words' END AS text",
        "'en' AS lang", "'src0' AS source", "length('x') AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = MultimodalOps.mmChunkHashes(spark, dir).collect()
    assert(!chunks.map(_.getLong(0)).contains(1L), "empty blob produced chunks")
    assert(chunks.nonEmpty)
    val frames = MultimodalOps.mmFrameSample(4L)(spark, dir).collect()
    assert(!frames.map(_.getLong(0)).contains(1L))
  }

  test("NULL-text doc surfaces in docRepetition with NULL stats, not dropped") {
    val dir = tempDir("null_text")
    spark.range(3).selectExpr(
        "id AS doc_id",
        "CASE WHEN id = 1 THEN NULL ELSE 'w w v' END AS text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.text.TextOps.docRepetition(spark, dir).collect()
    // all three docs present (explode_outer keeps the NULL-text row —
    // the oracle's len(string_split(NULL)) = NULL semantics)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(3))
    assert(rows(0).getLong(1) == 3L && rows(0).getLong(2) == 2L)
  }

  test("derived-artifact caches re-derive when the dataset is rewritten in place") {
    val dir = tempDir("cache_rewrite")
    def write(n: Int): Unit =
      spark.range(n).selectExpr("id AS doc_id", "'a b c d e f' AS text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(4)
    assert(graft.text.TextOps.ngramJaccardPairs(0.9)(spark, dir).count() == 6) // C(4,2)
    Thread.sleep(5) // ensure a distinct child mtime even on coarse clocks
    write(6)
    // a path-only cache would keep serving the 4-doc shingle index
    assert(graft.text.TextOps.ngramJaccardPairs(0.9)(spark, dir).count() == 15) // C(6,2)
  }

  test("zero-point LAS file: header reads, scan yields 0 rows, stats say 0") {
    val conf = new Configuration()
    val dir = tempDir("las_empty")
    L.LasFormat.write(conf, s"$dir/empty.las", Seq.empty)
    val df = spark.read.format("las").load(s"$dir/empty.las")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.contains("x"))
  }

  test("zero-point LAZ file: empty chunk table, scan yields 0 rows") {
    val conf = new Configuration()
    val dir = tempDir("laz_empty")
    graft.sources.las.laz.LazFormat.write(conf, s"$dir/empty.laz", Seq.empty)
    val h = L.LasFormat.readHeader(conf, s"$dir/empty.laz")
    assert(h.pointCount == 0 && h.laz.isDefined)
    assert(graft.sources.las.laz.LazFormat.readChunks(conf, s"$dir/empty.laz", h).isEmpty)
    assert(spark.read.format("las").load(s"$dir/empty.laz").count() == 0)
  }

  test("zero-count PLY element skips cleanly; empty vertex element reads as 0 rows") {
    val dir = tempDir("ply_empty")
    val path = s"$dir/empty.ply"
    val text =
      """ply
        |format ascii 1.0
        |element face 0
        |property list uchar int vertex_indices
        |element vertex 0
        |property float x
        |property float y
        |property float z
        |end_header
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(path), text.getBytes)
    val df = Ply.read(spark, path)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("x", "y", "z"))
  }

  test("degenerate geometry: single-point and collinear clouds write layouts without blowing up") {
    import graft.pc.{Aabb, Layout, Points}
    // single point: zero-area bounds must not divide by zero (grid) or
    // saturate the quadtree depth to ~22
    val one = spark.range(1).selectExpr(
      "CAST(5.0 AS DOUBLE) AS x", "CAST(7.0 AS DOUBLE) AS y", "id AS pid")
    val onePts = Points.withImportance(one, seed = 1L)
    val d1 = tempDir("degen1")
    Layout.writeGrid(onePts, s"$d1/grid", sigma = 4, batchSize = 16L)
    assert(spark.read.parquet(s"$d1/grid").count() == 1)
    val (_, depth) = Aabb.quadtreeDerivation(Aabb.xy(5.0, 7.0, 5.0, 7.0), 1L, 16L)
    assert(depth <= 1, s"degenerate bounds gave depth $depth")
    Layout.writeQuadtree(onePts, s"$d1/quad", batchSize = 16L)
    assert(spark.read.parquet(s"$d1/quad").count() == 1)
    // collinear (all same y): area 0, thousands of rows
    val line = spark.range(2000).selectExpr(
      "CAST(id AS DOUBLE) AS x", "CAST(1.0 AS DOUBLE) AS y", "id AS pid")
    val linePts = Points.withImportance(line, seed = 2L)
    val d2 = tempDir("degen2")
    Layout.writeQuadtree(linePts, s"$d2/quad", batchSize = 256L)
    assert(spark.read.parquet(s"$d2/quad").count() == 2000)
    // empty input fails fast with a clear message, not an NPE
    val e = intercept[IllegalArgumentException] {
      Layout.boundsAndCount(onePts.filter(col("pid") < 0))
    }
    assert(e.getMessage.contains("empty point cloud"))
  }

  test("circle rule: tiny radius fires and stays correct; exact r2=0 bypasses the guard") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    def xBounds(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case f: LFilter =>
        f.condition.collect {
          case GreaterThanOrEqual(a: AttributeReference, _: Literal) if a.name == "x" => 1
          case LessThanOrEqual(a: AttributeReference, _: Literal) if a.name == "x" => 1
        }.size
      }.sum
    graft.plans.GraftExtensions.install(spark)
    try {
      val dir = tempDir("circle_zero")
      spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x", "CAST(id AS DOUBLE) AS y")
        .write.mode("overwrite").parquet(dir)
      def circle(r2: Double) = {
        val d2 = (col("x") - 5.0) * (col("x") - 5.0) + (col("y") - 5.0) * (col("y") - 5.0)
        spark.read.parquet(dir).filter(d2 < r2)
      }
      // tiny radius: the rule FIRES (tree-checked) and results are exact
      assert(xBounds(circle(0.25)) == 2, "rule did not fire for r2=0.25")
      assert(circle(0.25).count() == 1) // only (5,5)
      // exact r2 = 0: guard skips the rewrite (no bounds) and the empty
      // predicate still evaluates correctly
      assert(xBounds(circle(0.0)) == 0)
      assert(circle(0.0).count() == 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.CirclePrefilterRule)
    }
  }

  test("selection-wave degenerate inputs: zero budget, pair-free clusters, touchless attribution, empty batch") {
    import graft.text.SelectionOps
    import graft.events.EventOps
    // budget 0: nothing fits (cum_before >= 0 always) — empty, no crash
    assert(SelectionOps.docSelectBudget(0L)(spark, sf0001).count() == 0)
    // tau above every pair: zero edges — CC's vacuous fixpoint, empty result
    assert(MultimodalOps.mmDupClusters(1000001L)(spark, sf0001).count() == 0)
    // a log with no touch events: every purchase is 'direct'
    val dir = tempDir("attr_direct")
    spark.range(3).selectExpr("id AS event_id", "id * 1000 AS ts",
        "id AS user_id", "'purchase' AS event_type",
        "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val a = EventOps.attribution(spark, dir).collect()
    assert(a.length == 1 && a.head.getString(0) == "direct" &&
      a.head.getLong(1) == 3L)
    // an empty query batch probes nothing and returns no rows
    assert(graft.sim.Ivf.topKBatch(0L, 5, 2)(spark, sf0001).count() == 0)
  }

  test("quantiles/deciles: NULL values are excluded, not engine-dependently ranked") {
    import graft.events.EventOps
    // Spark windows sort NULL first under ASC, DuckDB defaults to NULLS
    // LAST — so a null value in the rank population would diverge
    // silently. The definition excludes nulls; a planted-null fixture
    // must equal the same fixture with those rows dropped.
    val dir = tempDir("null_value_events")
    spark.range(20).selectExpr("id AS event_id", "id * 1000000 AS ts",
        "id % 4 AS user_id", "'click' AS event_type",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id * 3 AS DOUBLE) END AS value",
        "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val clean = tempDir("null_value_events_clean")
    spark.read.parquet(s"$dir/events.parquet")
      .filter(org.apache.spark.sql.functions.col("value").isNotNull)
      .write.mode("overwrite").parquet(s"$clean/events.parquet")
    assert(EventOps.quantiles(spark, dir).collect().toSeq ==
      EventOps.quantiles(spark, clean).collect().toSeq)
    assert(EventOps.valueDeciles(spark, dir).collect().toSeq ==
      EventOps.valueDeciles(spark, clean).collect().toSeq)
    // n_events counts the ranked (non-null) population only
    assert(EventOps.quantiles(spark, dir).head.getLong(1) == 17L)
  }

  test("feature-wave degenerate inputs: purchase-free log, no-match pattern, single-event SCD2, singleton baskets") {
    import graft.events.EventOps
    import graft.rel.RelQueries
    import spark.implicits._
    // a log with no purchases yields zero training rows, no crash
    val dir = tempDir("pit_nopurch")
    spark.range(10).selectExpr("id AS event_id", "id * 1000000 AS ts",
        "id % 3 AS user_id", "'view' AS event_type",
        "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .write.parquet(s"$dir/events.parquet")
    assert(EventOps.pitFeatures(spark, dir).count() == 0)
    // a pattern no user can match is empty, not an error
    assert(EventOps.seqPattern("zzz")(spark, dir).count() == 0)
    // single-event users produce exactly one OPEN interval at version 1
    val one = tempDir("scd2_one")
    Seq((1L, 5000L, 42L, "view", 1.0, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$one/events.parquet")
    val iv = EventOps.scd2(spark, one).collect()
    assert(iv.length == 1 && iv.head.getLong(2) == 1L &&
      iv.head.getLong(4) == Long.MaxValue)
    // all-singleton baskets: no pair ever forms, support filter or not
    val li = tempDir("copurch_single")
    spark.range(20).selectExpr("id AS l_orderkey", "id + 100 AS l_partkey")
      .write.parquet(s"$li/lineitem.parquet")
    assert(RelQueries.copurchase(10)(spark, li).count() == 0)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.pc.{Aabb, Layout, PcQueries, Points}

/** The partition-invariance property (the reference's implicit invariant:
  * the same query returns the same result on the unpartitioned, grid, and
  * quadtree layouts — pc-cli/examples/partition.rs:22-136) plus pruning
  * evidence from Parquet footer statistics. */
class LayoutSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft-layout")
  private lazy val points = Points.fromLineitem(spark, sf001)

  // sf0.01 has ~60k points; batchSize 2048 => ~29 cells/row groups, enough
  // to observe clustering + pruning at test scale
  private lazy val gridPath = {
    Layout.writeGrid(points, s"$tmp/grid", sigma = 8, batchSize = 2048L); s"$tmp/grid"
  }
  private lazy val quadPath = {
    Layout.writeQuadtree(points, s"$tmp/quad", batchSize = 2048L); s"$tmp/quad"
  }
  private lazy val flatPath = {
    // "unpartitioned" baseline: same data, random row order, one file
    points.orderBy(org.apache.spark.sql.functions.rand(7))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/flat")
    s"$tmp/flat"
  }

  private lazy val zorderPath = {
    Layout.writeZorder(points, s"$tmp/zorder", batchSize = 2048L); s"$tmp/zorder"
  }

  private def rectCount(df: DataFrame, box: Aabb): Long =
    df.filter(Points.boxPredicate(box)).count()

  test("layouts preserve every row (count + checksum)") {
    import org.apache.spark.sql.functions._
    val want = points.agg(count(lit(1)), sum("pid")).head()
    for (p <- Seq(gridPath, quadPath)) {
      val got = spark.read.parquet(p).agg(count(lit(1)), sum("pid")).head()
      assert(got == want, s"layout $p lost rows")
    }
  }

  test("partition invariance: same query result on flat, grid, quadtree layouts") {
    val rnd = new scala.util.Random(76) // seeded like the reference workload
    val randomBoxes = Seq.fill(5) {
      val x0 = rnd.nextDouble() * 900; val y0 = rnd.nextDouble() * 900
      val e = 10.0 + rnd.nextDouble() * 300
      Aabb.xy(x0, y0, x0 + e, y0 + e)
    }
    val queries = Seq(
      PcQueries.sRect, PcQueries.mRect,
      Aabb.xyi(250.0, 500.0, 5.0 / 21.0, 500.0, 750.0, 1.0)) ++ randomBoxes
    for (box <- queries) {
      val flat = rectCount(spark.read.parquet(flatPath), box)
      val grid = rectCount(spark.read.parquet(gridPath), box)
      val quad = rectCount(spark.read.parquet(quadPath), box)
      assert(flat == grid && grid == quad, s"box $box: flat=$flat grid=$grid quad=$quad")
    }
  }

  test("grid layout produces spatially tight row groups") {
    val stats = Layout.rowGroupStats(spark, gridPath, Seq("x", "y", "i"))
    assert(stats.nonEmpty)
    // every row group must carry stats for the dimensions
    assert(stats.forall(s => s.mins.contains("x") && s.maxs.contains("y")))
    // clustered row groups span far less than the full domain on some axis:
    // a random layout would give every row group ~the full [0,1000) extent
    val xSpans = stats.map(s => s.maxs("x") - s.mins("x"))
    assert(xSpans.min < 500.0, s"row groups not clustered: min x-span ${xSpans.min}")
  }

  test("driver-side row-group pruning (I3) selects a strict subset for a small box") {
    val stats = Layout.rowGroupStats(spark, gridPath, Seq("x", "y", "i"))
    val hit = Layout.intersectingRowGroups(stats, PcQueries.sRect.withImportance(0.0, 1.0))
    assert(hit.size < stats.size, s"no pruning: ${hit.size}/${stats.size} row groups intersect")
    // sanity: the selected row groups still contain all matching rows
    val hitRows = hit.map(_.rows).sum
    val matching = rectCount(spark.read.parquet(gridPath), PcQueries.sRect)
    assert(hitRows >= matching)
  }

  private def scanOutputRows(df: DataFrame): Long =
    finalPlan(df).collectLeaves().collectFirst {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.getOrElse(sys.error("no FileSourceScanExec found"))

  test("native row-group pruning: clustered layout reads fewer rows than flat") {
    // grid(1) is the xy-optimized layout (sigma=8 spends granularity on the
    // importance axis instead — same tradeoff as the reference's grid(8))
    Layout.writeGrid(points, s"$tmp/grid1", sigma = 1, batchSize = 2048L)
    val box = PcQueries.sRect
    val flatRead = scanOutputRows(
      spark.read.parquet(flatPath).filter(Points.boxPredicate(box)))
    val gridRead = scanOutputRows(
      spark.read.parquet(s"$tmp/grid1").filter(Points.boxPredicate(box)))
    // flat layout: stats are useless, the scan materializes ~everything;
    // grid layout: only row groups overlapping the 70x70 box survive
    assert(gridRead < flatRead,
      s"pruning ineffective: grid read $gridRead rows vs flat $flatRead")
    assert(gridRead < flatRead / 2,
      s"pruning weaker than 2x: grid $gridRead vs flat $flatRead")
  }

  test("zorder key column matches a local Morton interleave") {
    val (bounds, _) = Layout.boundsAndCount(points)
    val geo = Layout.ZorderGeometry(bounds, bits = 16)
    def localQuant(v: Double, lo: Double, hi: Double): Long =
      if (hi == lo) 0L
      else math.max(0L, math.min((1L << 16) - 1L,
        math.floor((v - lo) / (hi - lo) * (1L << 16)).toLong))
    def localSpread(v: Long): Long = {
      var x = v
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      (x | (x << 1)) & 0x5555555555555555L
    }
    val rows = points.select(org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"), geo.zCol.as("z"))
      .limit(1000).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = localSpread(localQuant(r.getDouble(0), bounds.lower(0), bounds.upper(0))) |
        (localSpread(localQuant(r.getDouble(1), bounds.lower(1), bounds.upper(1))) << 1)
      assert(r.getLong(2) == want, s"morton mismatch at (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("zorder layout: result-invariant and prunes like the grid") {
    import org.apache.spark.sql.functions._
    // preserves every row
    val want = points.agg(count(lit(1)), sum("pid")).head()
    assert(spark.read.parquet(zorderPath).agg(count(lit(1)), sum("pid")).head() == want)
    // result-invariant on the benchmark boxes
    for (box <- Seq(PcQueries.sRect, PcQueries.mRect)) {
      assert(rectCount(spark.read.parquet(zorderPath), box) ==
        rectCount(spark.read.parquet(flatPath), box))
    }
    // the Morton order clusters (x, y) jointly: row-group stats prune the
    // native scan well below the flat layout's full materialization
    val box = PcQueries.sRect
    val flatRead = scanOutputRows(
      spark.read.parquet(flatPath).filter(Points.boxPredicate(box)))
    val zRead = scanOutputRows(
      spark.read.parquet(zorderPath).filter(Points.boxPredicate(box)))
    assert(zRead < flatRead / 2,
      s"zorder pruning weaker than 2x: $zRead vs flat $flatRead")
  }

  test("importance sampling prunes row groups on the quadtree layout") {
    import org.apache.spark.sql.functions.col
    val p = 1.0 / 21.0 // exactly the level-0 importance slice
    val quadRead = scanOutputRows(
      spark.read.parquet(quadPath).filter(col("i") < p))
    val flatRead = scanOutputRows(
      spark.read.parquet(flatPath).filter(col("i") < p))
    assert(quadRead < flatRead,
      s"LoD pruning ineffective: quad read $quadRead rows vs flat $flatRead")
  }

  test("adaptiveBatchSize: file count stays bounded until the 512Ki cap") {
    // the tiny-file trap: a FIXED rows-per-file makes file count grow
    // linearly with data, and per-file costs then dominate pruned scans
    // (measured 10x slower than a plain scan at 100x sf0.1). The adaptive
    // size keeps ~256 files as the table grows, floors at the test
    // granularity, and past ~134M rows the reference's 512Ki cluster
    // default caps the file size so file COUNT grows linearly again.
    assert(Layout.adaptiveBatchSize(0L) == 8192L)
    assert(Layout.adaptiveBatchSize(600000L) == 8192L) // sf0.1: unchanged
    assert(Layout.adaptiveBatchSize(60000000L) == 234375L) // 100x: ~256 files
    assert(Layout.adaptiveBatchSize(Long.MaxValue) == Layout.BatchSize)
    // monotone non-decreasing in count => file count never shrinks the
    // per-file size below the floor as data grows
    val probes = Seq(1L, 8192L, 2097152L, 134217728L, 1L << 40)
    probes.zip(probes.tail).foreach { case (a, b) =>
      assert(Layout.adaptiveBatchSize(a) <= Layout.adaptiveBatchSize(b)) }
  }
}

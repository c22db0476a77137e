package graft

import graft.pc.{Layout, Points, VizExperiment}

/** 16-probe-per-level viz workload over a quadtree LoD layout. */
class VizExperimentSpec extends SparkSpec {

  test("probe schedule: ~M probes per level, every level covered") {
    val box = graft.pc.Aabb.xyi(0, 0, 0, 1024, 1024, 1.0)
    val probes = VizExperiment.selectProbes(box, depth = 3, m = 16)
    val byLevel = probes.groupBy(_.level).view.mapValues(_.size).toMap
    assert(byLevel.keySet == Set(0, 1, 2, 3))
    assert(byLevel(0) == 16) // 1 cell repeated 16x
    assert(byLevel(1) == 16) // 4 cells repeated 4x
    assert(byLevel(2) == 16) // 16 cells, stride 1
    assert(byLevel(3) == 16) // 64 cells, stride 4
  }

  test("scan arm and index arm agree; the index is selective at leaf levels") {
    val dir = tempDir("viz")
    val pts = Points.withImportance(
      Points.fromLineitem(spark, sf001).select("x", "y", "pid"), seed = 7L)
    val geo = Layout.writeQuadtree(pts, dir, batchSize = 2048L)
    val report = VizExperiment.run(spark, dir, geo.box, geo.depth).collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      val (rows, upper, hit, total) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(rows <= upper, s"exact $rows > candidate bound $upper")
      assert(hit <= total)
    }
    // every point of the cloud is owned by exactly one cell per level,
    // so each level's probes can't overcount the table
    val table = pts.count()
    val deepest = report.filter(_.getInt(0) == geo.depth)
    assert(deepest.nonEmpty)
    // leaf cells are small: the footer index must skip most row groups
    val avgHitFrac = deepest.map(r => r.getLong(3).toDouble / r.getLong(4)).sum / deepest.size
    assert(avgHitFrac < 0.5, s"leaf probes hit $avgHitFrac of row groups on average")
    // distinct rows: shallow levels REPEAT probes (max(1, m/4^l) copies),
    // so a raw sum over repeats could legitimately exceed the table
    assert(deepest.map(r => (r.getLong(1), r.getLong(2))).distinct.map(_._1).sum <= table)
  }

  test("R-tree index returns exactly the linear scan's row groups") {
    val dir = tempDir("viz_idx")
    val pts = Points.withImportance(
      Points.fromLineitem(spark, sf001).select("x", "y", "pid"), seed = 7L)
    val geo = Layout.writeQuadtree(pts, dir, batchSize = 2048L)
    val stats = Layout.rowGroupStats(spark, dir, Seq("x", "y", "i"))
    val index = Layout.RowGroupIndex.build(stats, Seq("x", "y", "i"))
    def key(s: Layout.RowGroupStat) = (s.file, s.ordinal)
    VizExperiment.selectProbes(geo.box, geo.depth).foreach { p =>
      val linear = Layout.intersectingRowGroups(stats, p.cell).map(key).toSet
      val indexed = index.query(p.cell).map(key).toSet
      assert(indexed == linear, s"probe ${p.cell} diverged")
    }
  }

  test("R-tree probes visit O(log n + k) nodes on a many-row-group fixture") {
    // 64x64 grid of synthetic row groups (4096 leaves) — the scale regime
    // where the linear scan stops being free
    val side = 64
    val stats = for (gx <- 0 until side; gy <- 0 until side) yield
      Layout.RowGroupStat(f"f$gx%02d", gy, 1000L,
        Map("x" -> gx * 10.0, "y" -> gy * 10.0),
        Map("x" -> (gx * 10.0 + 10.0), "y" -> (gy * 10.0 + 10.0)))
    val index = Layout.RowGroupIndex.build(stats, Seq("x", "y"))
    val rnd = new scala.util.Random(3)
    (0 until 50).foreach { _ =>
      val (x0, y0) = (rnd.nextDouble() * 620, rnd.nextDouble() * 620)
      val box = graft.pc.Aabb.xy(x0, y0, x0 + 15.0, y0 + 15.0)
      val linear = Layout.intersectingRowGroups(stats, box)
        .map(s => (s.file, s.ordinal)).toSet
      val (hits, visited) = index.queryCounting(box)
      assert(hits.map(s => (s.file, s.ordinal)).toSet == linear)
      // a 2x2-to-3x3 cell probe must not walk the whole tree: the index
      // wins by visiting a small fraction of the 8191 nodes
      assert(visited < index.size / 10,
        s"visited $visited of ${index.size} nodes for $box")
    }
  }

  test("R-tree over zero row groups answers probes with empty hits") {
    val index = Layout.RowGroupIndex.build(Nil, Seq("x", "y"))
    val (hits, _) = index.queryCounting(graft.pc.Aabb.xy(0, 0, 10, 10))
    assert(hits.isEmpty && index.size == 0)
  }
}

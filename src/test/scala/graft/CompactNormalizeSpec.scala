package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pc.{Layout, Points}

/** S8 compaction preserves rows + clustering; §2.9 normalize fits the
  * cloud into the unit box. */
class CompactNormalizeSpec extends SparkSpec {

  private lazy val points = Points.fromLineitem(spark, sf0001)

  test("compact: many small files -> row-group-sized files, same rows, still clustered") {
    val tmp = tempDir("compact")
    // fragment the layout: tiny batchSize => many files
    Layout.writeGrid(points, s"$tmp/frag", sigma = 4, batchSize = 256L)
    val n = points.count()
    Layout.compact(spark, s"$tmp/frag", s"$tmp/out",
      clusterCols = Seq("x", "y"), count = n, batchSize = 4096L,
      compression = "zstd")
    val fragFiles = new java.io.File(s"$tmp/frag").listFiles.count(_.getName.endsWith(".parquet"))
    val outFiles = new java.io.File(s"$tmp/out").listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles < fragFiles, s"no compaction: $fragFiles -> $outFiles")
    val want = points.agg(count(lit(1)), sum("pid")).head()
    val got = spark.read.parquet(s"$tmp/out").agg(count(lit(1)), sum("pid")).head()
    assert(got == want)
    // clustering retained: row groups still span a fraction of the domain
    val stats = Layout.rowGroupStats(spark, s"$tmp/out", Seq("x"))
    assert(stats.nonEmpty)
    assert(stats.map(s => s.maxs("x") - s.mins("x")).min < 500.0)
  }

  test("normalize: location dims land exactly in [0,1], other columns untouched") {
    val norm = Layout.normalize(points, Seq("x", "y", "z"))
    val r = norm.agg(
      min("x"), max("x"), min("y"), max("y"), min("z"), max("z"),
      sum("pid")).head()
    for (i <- 0 until 6) {
      val v = r.getDouble(i)
      assert(v >= 0.0 && v <= 1.0, s"dim stat $i out of unit box: $v")
    }
    assert(r.getLong(6) == points.agg(sum("pid")).head().getLong(0))
    // exact corners reached
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }
}

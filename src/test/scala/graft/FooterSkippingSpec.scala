package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.pc.{Aabb, Layout, Points}

/** Whole-file skipping in [[DatasetCache.readArtifact]]
  * ([[FooterStatsFileIndex]]): every answer equals a plain
  * `spark.read.parquet` of the same path, on the point-cloud layouts and
  * on hand-built files at the edges of footer statistics (bounds equal to
  * a file's min/max, float columns against double literals, NaN, all-null
  * chunks, files with different schemas). */
class FooterSkippingSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft-footer-skip")
  private lazy val points = Points.fromLineitem(spark, sf001)

  // sf0.01 has ~60k points; 2048-row files give ~30 files per layout
  private lazy val layouts: Seq[(String, String)] = {
    Layout.writeGrid(points, s"$tmp/grid8", sigma = 8, batchSize = 2048L)
    Layout.writeQuadtree(points, s"$tmp/quadtree", batchSize = 2048L)
    Layout.writeZorder(points, s"$tmp/zorder", batchSize = 2048L)
    Seq("grid8", "quadtree", "zorder").map(l => l -> s"$tmp/$l")
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scans)
  }

  /** Rows of `df` and the files its scans listed (the `numFiles` metric). */
  private def run(df: DataFrame): (Seq[Row], Long) = {
    val rows = df.collect().toSeq
    (rows, scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum)
  }

  private def fileCount(path: String): Long =
    new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")).toLong

  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum("pid"), lit(0L)))

  private def d2(cx: Double, cy: Double) =
    (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)

  /** 52 seeded queries: rectangles (some with an importance range),
    * naive circles (the circle rule derives the pushable box), k-NN inside
    * a prefilter box, and importance samples. */
  private lazy val queries: Seq[(String, DataFrame => DataFrame)] = {
    val rnd = new scala.util.Random(2025)
    def corner(e: Double) = rnd.nextDouble() * (1000.0 - e)
    val rects = (0 until 16).map { q =>
      val e = 5.0 + rnd.nextDouble() * 200.0
      val (x0, y0) = (corner(e), corner(e))
      val box = if (q % 4 == 3) Aabb.xyi(x0, y0, 5.0 / 21.0, x0 + e, y0 + e, 1.0)
        else Aabb.xy(x0, y0, x0 + e, y0 + e)
      s"rect $box" -> ((df: DataFrame) => agg(df.filter(Points.boxPredicate(box))))
    }
    val circles = (0 until 14).map { _ =>
      val r = 5.0 + rnd.nextDouble() * 100.0
      val (cx, cy) = (rnd.nextDouble() * 1000.0, rnd.nextDouble() * 1000.0)
      s"circle ($cx, $cy, $r)" -> ((df: DataFrame) => agg(df.filter(d2(cx, cy) < r * r)))
    }
    val knns = (0 until 10).map { _ =>
      val (cx, cy, r) = (rnd.nextDouble() * 1000.0, rnd.nextDouble() * 1000.0, 30.0)
      s"knn ($cx, $cy)" -> ((df: DataFrame) =>
        df.filter(Points.boxPredicate(Aabb.xy(cx - r, cy - r, cx + r, cy + r)))
          .withColumn("d2", d2(cx, cy)).select("pid", "d2")
          .orderBy(col("d2").asc, col("pid").asc).limit(25))
    }
    val samples = (0 until 12).map { _ =>
      val p = rnd.nextDouble() * 0.05
      s"sample $p" -> ((df: DataFrame) => agg(df.filter(col("i") < p)))
    }
    rects ++ circles ++ knns ++ samples
  }

  test("every layout answers 52 seeded queries exactly as a plain read, listing fewer files") {
    assert(queries.size >= 50)
    for ((layout, path) <- layouts) {
      val fast = DatasetCache.readArtifact(spark, path)
      val plain = spark.read.parquet(path)
      var (fastFiles, plainFiles) = (0L, 0L)
      for ((name, q) <- queries) {
        val (got, gotFiles) = run(q(fast))
        val (want, wantFiles) = run(q(plain))
        assert(got == want, s"$layout $name: skipping read $got, plain read $want")
        fastFiles += gotFiles; plainFiles += wantFiles
      }
      assert(plainFiles == queries.size * fileCount(path), s"$layout: plain read skipped files")
      assert(fastFiles < plainFiles / 2, s"$layout: listed $fastFiles of $plainFiles files")
    }
  }

  test("a box that meets few files lists fewer files than the layout holds") {
    val box = Aabb.xy(480.0, 480.0, 520.0, 520.0)
    for ((layout, path) <- layouts) {
      val df = DatasetCache.readArtifact(spark, path)
      val (_, rect) = run(agg(df.filter(Points.boxPredicate(box))))
      val (_, circle) = run(agg(df.filter(d2(500.0, 500.0) < 400.0)))
      val (_, plain) = run(agg(spark.read.parquet(path).filter(Points.boxPredicate(box))))
      assert(plain == fileCount(path))
      assert(rect < fileCount(path), s"$layout rect listed $rect of ${fileCount(path)} files")
      assert(circle < fileCount(path), s"$layout circle listed $circle of ${fileCount(path)} files")
    }
  }

  /** Writes each part as ONE file of the artifact at `name`. */
  private def artifact(name: String, parts: Seq[DataFrame]): String = {
    val path = s"$tmp/$name"
    parts.foreach(_.coalesce(1).write.mode("append").parquet(path))
    path
  }

  /** Same rows from the skipping and the plain read, and that answer is
    * `want`; returns the files the skipping read listed. */
  private def exact(path: String, cond: org.apache.spark.sql.Column, want: Long,
      session: SparkSession = spark): Long = {
    val (got, files) = run(DatasetCache.readArtifact(session, path).filter(cond).select("id"))
    val (plain, _) = run(session.read.parquet(path).filter(cond).select("id"))
    assert(got.map(_.getLong(0)).sorted == plain.map(_.getLong(0)).sorted, s"$cond")
    assert(got.size == want, s"$cond: ${got.size} rows, expected $want")
    files
  }

  test("bounds equal to a file's min or max, strict and inclusive") {
    val s = spark
    import s.implicits._
    // three files: x/k in {0,5,10}, {10,15,20}, {20,25,30}
    val path = artifact("edges", Seq(0, 10, 20).map { lo =>
      Seq(0, 5, 10).map(d => (lo * 100L + d, (lo + d).toDouble, (lo + d).toLong)).toDF("id", "x", "k")
    })
    val xs = Seq(0, 5, 10, 10, 15, 20, 20, 25, 30).map(_.toDouble)
    for (c <- Seq(0.0, 10.0, 20.0, 30.0)) {
      exact(path, col("x") < c, xs.count(_ < c).toLong)
      exact(path, col("x") <= c, xs.count(_ <= c).toLong)
      exact(path, col("x") > c, xs.count(_ > c).toLong)
      exact(path, col("x") >= c, xs.count(_ >= c).toLong)
      exact(path, col("x") === c, xs.count(_ == c).toLong)
      exact(path, col("k") < c.toLong, xs.count(_ < c).toLong)
      exact(path, col("k") >= c.toLong, xs.count(_ >= c).toLong)
    }
    // strict bounds prune like inclusive ones: `x < 10` keeps the file
    // whose min is 10 and drops the one starting at 20; `x > 30` keeps
    // the file whose max is 30
    assert(exact(path, col("x") < 10.0, 2L) == 2L)
    assert(exact(path, col("x") >= 30.0, 1L) == 1L)
    assert(exact(path, col("x") > 30.0, 0L) == 1L)
    assert(exact(path, col("x") > 30.5, 0L) == 0L)
    // long → double rounds, so it bounds nothing
    assert(exact(path, col("k").cast("double") >= 30.0, 1L) == 3L)
  }

  test("a FloatType importance column compared against double literals") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/float_i"
    // sorted by i, 1000-row files: each file holds one slice of i
    Points.withImportance(spark.range(0, 4000).toDF("id"), seed = 7L)
      .orderBy("i").coalesce(1)
      .write.option("maxRecordsPerFile", 1000L).parquet(path)
    val is = spark.read.parquet(path).select("i").as[Float].collect().toSeq.map(_.toDouble)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxes = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap(f => Layout.readFooter(spark.sparkContext.hadoopConfiguration, f))
      .map(_.nums("i")._2.toDouble)
    assert(maxes.length == 4)
    for (c <- Seq(0.1, 0.3, 0.5, 0.75) ++ maxes) {
      exact(path, col("i") < c, is.count(_ < c).toLong)
      exact(path, col("i") <= c, is.count(_ <= c).toLong)
      exact(path, col("i") > c, is.count(_ > c).toLong)
      exact(path, col("i") >= c, is.count(_ >= c).toLong)
      exact(path, col("i") === c, is.count(_ == c).toLong)
    }
    assert(exact(path, col("i") < 0.1, is.count(_ < 0.1).toLong) < 4L, "float bounds never pruned")
  }

  test("a file holding NaN is kept under x > c (NaN sorts above every value)") {
    val s = spark
    import s.implicits._
    val path = artifact("nan", Seq(
      Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "x"),
      Seq((4L, 3.0), (5L, 4.0)).toDF("id", "x")))
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val footers = dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).map(f => Layout.readFooter(conf, f))
    assert(footers.count(_.exists(!_.nums.contains("x"))) == 1,
      "the NaN chunk must carry no x bounds")
    exact(path, col("x") > 5.0, 1L)
    exact(path, col("x") >= 2.5, 3L)
    exact(path, col("x") < 1.5, 1L)
    exact(path, col("x") === Double.NaN, 1L)
  }

  test("an all-null column never prunes and still answers exactly") {
    val s = spark
    import s.implicits._
    val path = artifact("nulls", Seq(
      Seq(1L, 2L, 3L).toDF("id").withColumn("v", lit(null).cast("double")),
      Seq((4L, 1.0), (5L, 2.0)).toDF("id", "v")))
    exact(path, col("v") > 0.5, 2L)
    exact(path, col("v") <= 1.0, 1L)
    exact(path, col("v") > 5.0, 0L)
    exact(path, col("v").isNull && col("id") >= 2L, 2L)
  }

  test("date, timestamp_ntz and string bounds prune and answer exactly") {
    // one file per year; dates, timestamps and keys all sort by (year, month)
    val path = artifact("typed", Seq(2021, 2022, 2023).map { y =>
      spark.sql(s"""SELECT id, make_date($y, m, 1) AS d,
        make_timestamp_ntz($y, m, 1, 12, 0, 0) AS ntz,
        CAST(make_timestamp_ntz($y, m, 1, 12, 0, 0) AS TIMESTAMP) AS ltz,
        concat('k$y-', lpad(CAST(m AS STRING), 2, '0')) AS s
        FROM (SELECT id, CAST(id % 12 + 1 AS INT) AS m FROM range(${y * 100}, ${y * 100 + 12}))""")
    })
    def listed(cond: String, want: Long): Long = exact(path, expr(cond), want)
    assert(listed("d >= DATE'2022-06-01'", 19L) == 2L)
    assert(listed("d = DATE'2021-03-01'", 1L) == 1L)
    // strict bounds count as inclusive: the file whose min is the literal stays
    assert(listed("d < DATE'2021-01-01'", 0L) == 1L)
    assert(listed("d < DATE'2020-12-31'", 0L) == 0L)
    assert(listed("ntz < TIMESTAMP_NTZ'2021-02-01 12:00:00'", 1L) == 1L)
    assert(listed("ntz <= TIMESTAMP_NTZ'2021-12-01 12:00:00'", 12L) == 1L)
    assert(listed("ntz > TIMESTAMP_NTZ'2021-12-01 12:00:00'", 24L) == 3L)
    assert(listed("ntz > TIMESTAMP_NTZ'2021-12-01 12:00:00.000001'", 24L) == 2L)
    assert(listed("s = 'k2023-05'", 1L) == 1L)
    assert(listed("s > 'k2022'", 24L) == 2L)
    assert(listed("s < 'k2021-1'", 9L) == 1L)
    assert(listed("s >= 'l'", 0L) == 0L)
    // INT96 timestamps (Spark's default for TIMESTAMP) carry no usable bounds
    assert(listed("ltz >= TIMESTAMP'2023-01-01 00:00:00'", 12L) == 3L)
  }

  test("a multi-file artifact whose files have different schemas") {
    val s = spark
    import s.implicits._
    val path = artifact("schemas", Seq(
      Seq((1L, 1.0, 100.0), (2L, 2.0, 200.0)).toDF("id", "x", "y"),
      Seq((3L, 11.0), (4L, 12.0)).toDF("id", "x"),
      Seq((5L, 21.0, "a"), (6L, 22.0, "b")).toDF("id", "x", "tag")))
    // a session whose reads merge the file schemas: (id, x, y, tag)
    val merged = spark.newSession()
    merged.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(DatasetCache.readArtifact(merged, path).columns.toSet == Set("id", "x", "y", "tag"))
    assert(exact(path, col("x") > 15.0, 2L, merged) == 1L)
    exact(path, col("y") >= 150.0, 1L, merged)
    exact(path, col("y") < 150.0 && col("x") < 5.0, 1L, merged)
    exact(path, col("tag") === "b" && col("x") > 1.5, 1L, merged)
  }
}

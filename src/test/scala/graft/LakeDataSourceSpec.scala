package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** The lake as a DSv2 table: `spark.read.format("lake").load(dir)` must
  * plan through the connector API with (a) the snapshot pinned from the
  * transaction log — not a directory listing, so staged-but-uncommitted
  * files are invisible — (b) time travel via `versionAsOf`, and (c)
  * LOG-STATS file pruning applied from pushed filters inside the scan's
  * file listing, the mirror of the `snapshotWhere` library path. */
class LakeDataSourceSpec extends SparkSpec {

  private def mkTable(): String = {
    val dir = tempDir("lake-dsv2")
    // three appends with DISJOINT id ranges → 3+ files with disjoint
    // log stats, the precondition for provable pruning
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
      LakeTable.append(spark, dir,
        spark.range(lo, hi).repartition(1)
          .select(col("id"), (col("id") * 2).as("v")))
    }
    dir
  }

  /** Distinct data-file paths the executed scan actually planned. */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    scans(finalPlan(df)).flatMap(_.partitions.flatten.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case _ => Seq.empty
    }).distinct
  }

  test("DSv2 read matches the library snapshot, ignores uncommitted files") {
    val dir = mkTable()
    // an orphaned stage dir (crashed writer): invisible to the log
    val orphan = new java.io.File(s"$dir/stage-orphan")
    orphan.mkdirs()
    spark.range(900, 950).write.mode("overwrite")
      .parquet(s"$dir/stage-orphan/orphan.parquet")
    val v2 = spark.read.format("lake").load(dir)
    assert(v2.count() === 300)
    assert(v2.agg(sum("v")).head.getLong(0) ===
      LakeTable.snapshot(spark, dir).agg(sum("v")).head.getLong(0))
  }

  test("versionAsOf time travel matches snapshot(version)") {
    val dir = mkTable()
    val v1 = spark.read.format("lake").option("versionAsOf", "1").load(dir)
    assert(v1.count() === 100)
    assert(v1.agg(max("id")).head.getLong(0) === 99)
    intercept[Exception] {
      spark.read.format("lake").option("versionAsOf", "99").load(dir).count()
    }
  }

  test("pushed range predicate prunes files from the log stats alone") {
    val dir = mkTable()
    val all = spark.read.format("lake").load(dir)
    val filtered = all.filter(col("id") >= 210 && col("id") <= 250)
    assert(filtered.count() === 41)
    val (fAll, fPruned) = (scannedFiles(all), scannedFiles(filtered))
    assert(fAll.size >= 3, s"expected >=3 data files, saw ${fAll.size}")
    assert(fPruned.size < fAll.size,
      s"range predicate should prune files (${fPruned.size} vs ${fAll.size})")
    assert(fPruned.nonEmpty)
    // and equality predicates prune too
    val eq = scannedFiles(all.filter(col("id") === 150))
    assert(eq.size === 1, s"equality should hit exactly one file, got ${eq.size}")
  }

  test("pruning never drops a matching file (boundary + no-stats columns)") {
    val dir = mkTable()
    val v2 = spark.read.format("lake").load(dir)
    // boundary values live in file edges; exact count proves no file
    // was wrongly skipped
    assert(v2.filter(col("id") >= 99 && col("id") <= 100).count() === 2)
    // a filter on a column with no stats must scan everything, not crash
    assert(v2.filter(col("v") % 2 === 0).count() === 300)
  }

  test("DSv2 scan sees merge/delete results; DataFrame append commits transactionally") {
    val dir = mkTable()
    LakeTable.deleteWhere(spark, dir, "id", 0, 49)
    assert(spark.read.format("lake").load(dir).count() === 250)
    // df.write.format("lake").mode("append") routes through the SQL
    // INSERT rewrite into LakeTable.append — ONE log commit, not a bare
    // file write. Columns resolve BY NAME (the analyzer reorders before
    // the rewrite sees the plan), so a reversed column order must land
    // values in the right fields.
    val before = LakeTable.latestVersion(dir).get
    spark.range(500, 505)
      .select((col("id") * 2).as("v"), col("id")) // deliberately reversed
      .write.format("lake").mode("append").save(dir)
    assert(LakeTable.latestVersion(dir).get === before + 1,
      "append must be exactly one log commit")
    val appended = spark.read.format("lake").load(dir)
      .filter(col("id") >= 500).orderBy("id").collect()
    assert(appended.length === 5)
    appended.foreach(r => assert(r.getLong(1) === 2 * r.getLong(0),
      s"by-name write mislabeled columns: $r"))
    // time travel still sees the pre-append table
    assert(spark.read.format("lake").option("versionAsOf", before.toString)
      .load(dir).count() === 250)
    // overwrite mode is NOT a lake verb — refused loudly, nothing committed
    val ow = intercept[Exception] {
      spark.range(5).select(col("id"), col("id").as("v"))
        .write.format("lake").mode("overwrite").save(dir)
    }
    assert(String.valueOf(ow.getMessage).contains("INSERT OVERWRITE"), s"$ow")
    assert(LakeTable.latestVersion(dir).get === before + 1)
  }

  /** Three appends with disjoint day/category/timestamp ranges — the
    * typed-stats twin of [[mkTable]]. Day d ∈ [0,30) ∪ [30,60) ∪
    * [60,90), category = f"cat_$d%03d" (zero-padded so lexicographic
    * order equals numeric order), ts = 2024-01-01 + d days. */
  private def mkTypedTable(): String = {
    val dir = tempDir("lake-typed")
    Seq((0L, 30L), (30L, 60L), (60L, 90L)).foreach { case (lo, hi) =>
      LakeTable.append(spark, dir,
        spark.range(lo, hi).repartition(1).select(
          col("id"),
          format_string("cat_%03d", col("id")).as("cat"),
          to_timestamp_ntz(lit("2024-01-01")).+(
            expr("make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0)")).as("ts"),
          to_date(lit("2024-01-01")).+(col("id").cast("int")).as("d")))
    }
    dir
  }

  test("timestamp, date and string predicates prune from typed log stats") {
    val dir = mkTypedTable()
    val all = spark.read.format("lake").load(dir)
    val (fAll) = scannedFiles(all)
    assert(fAll.size >= 3)

    // timestamp range: only the last file holds days >= 70
    val ts = all.filter(col("ts") >= lit("2024-03-11").cast("timestamp_ntz"))
    assert(ts.count() === 20)
    assert(scannedFiles(ts).size === 1,
      s"timestamp range should prune to one file, got ${scannedFiles(ts).size}")

    // date equality: one file
    val de = all.filter(col("d") === lit("2024-02-15").cast("date"))
    assert(de.count() === 1)
    assert(scannedFiles(de).size === 1,
      s"date equality should prune to one file, got ${scannedFiles(de).size}")

    // string equality and range on the zero-padded category
    val se = all.filter(col("cat") === "cat_045")
    assert(se.count() === 1)
    assert(scannedFiles(se).size === 1,
      s"string equality should prune to one file, got ${scannedFiles(se).size}")
    val sr = all.filter(col("cat") >= "cat_005" && col("cat") <= "cat_025")
    assert(sr.count() === 21)
    assert(scannedFiles(sr).size === 1,
      s"string range should prune to one file, got ${scannedFiles(sr).size}")
  }

  test("typed pruning is conservative: casts, boundaries, odd bytes") {
    val dir = mkTypedTable()
    val all = spark.read.format("lake").load(dir)
    // a DATE cast of the timestamp column changes value space — it must
    // not prune on the timestamp stats, and results stay exact
    assert(all.filter(col("ts").cast("date") === lit("2024-01-31").cast("date"))
      .count() === 1)
    // boundary day lives in the edge file and must survive pruning
    assert(all.filter(col("d") === lit("2024-01-31").cast("date")).count() === 1)
    assert(all.filter(col("ts") < lit("2024-01-02").cast("timestamp_ntz"))
      .count() === 1)

    // strings with format delimiters, percent signs, non-ASCII, and
    // >64-byte values (truncated upper bounds) round-trip the log and
    // never lose rows
    val dir2 = tempDir("lake-oddstr")
    val odd = Seq("a;b", "c:d=e", "100%", "naïve—ü", "z" + ("y" * 100))
    import spark.implicits._
    LakeTable.append(spark, dir2, odd.toDF("s").repartition(1))
    LakeTable.append(spark, dir2,
      Seq("m1", "m2").toDF("s").repartition(1))
    val t2 = spark.read.format("lake").load(dir2)
    odd.foreach { v =>
      assert(t2.filter(col("s") === v).count() === 1, s"lost row for `$v`")
    }
    // "m1" sits INSIDE the odd file's ["100%", "zyy…"] range — both
    // files scan, exactly one row returns
    assert(t2.filter(col("s") === "m1").count() === 1)
    // a value below every min prunes BOTH files — zero scan
    val below = t2.filter(col("s") === "0")
    assert(below.count() === 0)
    assert(scannedFiles(below).isEmpty,
      "below-min string predicate should prune every file")
    // a value above the TRUNCATED upper bound (the >64-byte max stores a
    // bumped 64-byte prefix) prunes the odd file too
    val above = t2.filter(col("s") >= "zz")
    assert(above.count() === 0)
    assert(scannedFiles(above).isEmpty,
      "above-truncated-max predicate should prune every file")
    // prefix query INSIDE the truncated long-string file's range
    assert(t2.filter(col("s") >= "z").count() === 1)
  }
}

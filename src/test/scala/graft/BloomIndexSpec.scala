package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.lake.{BloomIndex, LakeTable}

/** Per-file Bloom data skipping: point predicates prune files that
  * min/max range stats structurally cannot (hash-distributed keys span
  * the whole domain in every file), with zero false negatives. */
class BloomIndexSpec extends SparkSpec {

  private def freshTable(): String = {
    val d = tempDir("graft_bloom")
    d
  }

  /** 16 hash-distributed files: every file's id range spans ~the whole
    * domain, so range pruning keeps all 16; each id lives in ONE file. */
  private def seed(t: String): Unit = {
    import spark.implicits._
    val df = spark.range(8000)
      .select(col("id"), concat(lit("doc-"), col("id")).as("name"),
        (col("id") % 97).as("v"))
      .repartition(16, col("id"))
    LakeTable.append(spark, t, df)
  }

  test("point lookup prunes to ~1 file where range stats keep all 16") {
    val t = freshTable()
    seed(t)
    // range stats cannot prune a hash layout: every file spans the domain
    val (byRange, total) = LakeTable.prunedFiles(t, "id", 4242.0, 4242.0)
    assert(total == 16 && byRange.size == 16,
      s"fixture must be range-unprunable, got ${byRange.size}/$total")
    assert(BloomIndex.build(spark, t, "id", 2000) == 16)
    val (byBloom, total2) = BloomIndex.prunedFilesPoint(t, "id", 4242L)
    assert(total2 == 16)
    assert(byBloom.size <= 3, // 1 true + fpp stragglers at worst
      s"bloom kept ${byBloom.size}/16 files for a single-file id")
    // the pruned read returns exactly the full-scan result
    val got = BloomIndex.snapshotPoint(spark, t, "id", 4242L).collect()
    assert(got.length == 1 && got.head.getAs[Long]("id") == 4242L &&
      got.head.getAs[String]("name") == "doc-4242")
  }

  test("build purges a legacy _bloom root; versioned root never reads legacy sidecars") {
    val t = freshTable()
    seed(t)
    // plant a retired-format index: under the old non-injective naming a
    // stale filter could be probed for the WRONG file (false-negative
    // pruning); the versioned build must remove the whole legacy root
    val legacy = java.nio.file.Paths.get(t, "_bloom", "id")
    Files.createDirectories(legacy)
    Files.write(legacy.resolve("stale~sfile"), Array[Byte](1, 2, 3))
    assert(BloomIndex.build(spark, t, "id", 2000) == 16)
    assert(!Files.exists(java.nio.file.Paths.get(t, "_bloom")),
      "legacy _bloom root must be purged by the versioned build")
    assert(Files.isDirectory(java.nio.file.Paths.get(t, BloomIndex.IndexRoot, "id")))
    // and the versioned index is fully functional
    val got = BloomIndex.snapshotPoint(spark, t, "id", 4242L).collect()
    assert(got.length == 1 && got.head.getAs[Long]("id") == 4242L)
  }

  test("an id absent everywhere prunes to ~0 files and returns no rows") {
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "id", 2000)
    val (kept, _) = BloomIndex.prunedFilesPoint(t, "id", 999999L)
    assert(kept.size <= 2, s"absent id kept ${kept.size} files")
    assert(BloomIndex.snapshotPoint(spark, t, "id", 999999L).count() == 0)
  }

  test("string column: same skipping, same exactness") {
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "name", 2000)
    val (kept, total) = BloomIndex.prunedFilesPoint(t, "name", "doc-77")
    assert(total == 16 && kept.size <= 3, s"kept ${kept.size}")
    val got = BloomIndex.snapshotPoint(spark, t, "name", "doc-77").collect()
    assert(got.length == 1 && got.head.getAs[Long]("id") == 77L)
  }

  test("files appended after the build are scanned conservatively; rebuild blooms only them") {
    import spark.implicits._
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "id", 2000)
    // new data WITHOUT a sidecar must stay visible (no false negative)
    LakeTable.append(spark, t,
      Seq((900000L, "doc-900000", 0L)).toDF("id", "name", "v"))
    val got = BloomIndex.snapshotPoint(spark, t, "id", 900000L).collect()
    assert(got.length == 1, "appended row must be found without a sidecar")
    // incremental rebuild blooms ONLY the new file, then still finds it
    val n = BloomIndex.build(spark, t, "id", 2000)
    assert(n == 1, s"expected 1 new sidecar, wrote $n")
    assert(BloomIndex.snapshotPoint(spark, t, "id", 900000L).count() == 1)
    assert(BloomIndex.build(spark, t, "id", 2000) == 0) // idempotent
  }

  test("DV-deleted rows stay deleted through the bloom path (filter over-approximates, read is exact)") {
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "id", 2000)
    LakeTable.deleteWhereDV(spark, t, "id", 4242.0, 4242.0)
    // the stale sidecar still says "might contain" — the DV-applied
    // read must NOT resurrect the row
    assert(BloomIndex.snapshotPoint(spark, t, "id", 4242L).count() == 0)
    // neighbors survive
    assert(BloomIndex.snapshotPoint(spark, t, "id", 4243L).count() == 1)
  }

  /** Data files a DataFrame's final plan actually scans (the
    * LakeDataSourceSpec pattern). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
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

  test("DSv2 point predicates prune through the bloom sidecars automatically") {
    val t = freshTable()
    seed(t)
    // no index yet: the hash layout defeats min/max — all 16 files scan
    val before = spark.read.format("lake").load(t)
      .filter(col("id") === 4242L)
    assert(scannedFiles(before).size == 16,
      "fixture must be range-unprunable before the index exists")
    BloomIndex.build(spark, t, "id", 2000)
    val after = spark.read.format("lake").load(t)
      .filter(col("id") === 4242L)
    assert(after.count() == 1)
    val scanned = scannedFiles(after)
    assert(scanned.size <= 3,
      s"SQL point predicate scanned ${scanned.size}/16 files with the index")
    // string column through the same path
    BloomIndex.build(spark, t, "name", 2000)
    val s = spark.read.format("lake").load(t)
      .filter(col("name") === "doc-77")
    assert(s.count() == 1 && scannedFiles(s).size <= 3)
    // a range predicate on the bloomed column is untouched by the index
    assert(spark.read.format("lake").load(t)
      .filter(col("id") >= 4240L && col("id") <= 4244L).count() == 5)
  }

  test("vacuum reclaims the sidecars of the files it deletes") {
    import spark.implicits._
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "id", 2000)
    val bloomDir = java.nio.file.Paths.get(t, BloomIndex.IndexRoot, "id")
    assert(java.nio.file.Files.list(bloomDir).count() == 16)
    // replace the table contents: the 16 seeded files leave the snapshot
    LakeTable.overwrite(spark, t,
      Seq((1L, "doc-1", 0L)).toDF("id", "name", "v"))
    val latest = LakeTable.latestVersion(t).get
    val gone = LakeTable.vacuum(t, latest, orphanMinAgeMs = 0L)
    assert(gone.size >= 16, s"expected the 16 old files vacuumed, got ${gone.size}")
    // their sidecars went with them; the read stays correct
    assert(java.nio.file.Files.list(bloomDir).count() == 0)
    assert(BloomIndex.snapshotPoint(spark, t, "id", 1L).count() == 1)
  }

  test("time travel to a pre-DV snapshot stays exact: sidecars hash raw physical rows") {
    val t = freshTable()
    seed(t)
    val v0 = LakeTable.latestVersion(t).get
    LakeTable.deleteWhereDV(spark, t, "id", 4242.0, 4242.0)
    // build AFTER the delete: were the build DV-applied, 4242 would be
    // missing from its file's filter and the pinned read below would
    // silently lose the row to a Bloom false negative
    BloomIndex.build(spark, t, "id", 2000)
    // latest (DV-applied, via the snapshot API — the DSv2 scan refuses
    // DV-carrying snapshots): deleted
    assert(LakeTable.snapshot(spark, t)
      .filter(col("id") === 4242L).count() == 0, "latest must see the delete")
    assert(BloomIndex.snapshotPoint(spark, t, "id", 4242L).count() == 0,
      "the bloom point read of the latest snapshot must see the delete")
    val pinned = spark.read.format("lake").option("versionAsOf", v0).load(t)
      .filter(col("id") === 4242L)
    assert(pinned.count() == 1,
      "bloom pruning dropped a row visible in the pinned pre-delete snapshot")
  }

  test("no false negatives across 50 sampled ids") {
    val t = freshTable()
    seed(t)
    BloomIndex.build(spark, t, "id", 2000)
    (0 until 50).map(_ * 161L).foreach { id =>
      val got = BloomIndex.snapshotPoint(spark, t, "id", id).collect()
      assert(got.length == 1 && got.head.getAs[Long]("id") == id,
        s"id $id lost through the bloom path")
    }
  }
}

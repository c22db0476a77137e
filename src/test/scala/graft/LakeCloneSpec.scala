package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** Zero-copy CLONE: hardlinked live files + one v1 commit. The clone
  * must equal the source snapshot byte-for-byte with zero data copied,
  * diverge independently afterwards, and — the property a path-sharing
  * shallow clone lacks — survive the SOURCE's vacuum. */
class LakeCloneSpec extends SparkSpec {

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 3)
  }

  test("clone equals the source snapshot with zero data bytes copied") {
    val (src, dst) = (tempDir("clone_src"), tempDir("clone_dst"))
    LakeTable.append(spark, src, df(0 until 500).repartition(4))
    assert(LakeTable.cloneTable(src, dst) == 1L)
    val a = LakeTable.snapshot(spark, src).collect().map(_.toSeq).toSet
    val b = LakeTable.snapshot(spark, dst).collect().map(_.toSeq).toSet
    assert(a == b && a.size == 500)
    // every cloned parquet is a HARDLINK of the source file (nlink 2),
    // not a copy
    val stage = Files.list(Paths.get(dst)).iterator()
    var checked = 0
    while (stage.hasNext) {
      val d = stage.next()
      if (Files.isDirectory(d) && d.getFileName.toString.startsWith("stage-")) {
        Files.list(d).iterator().forEachRemaining { f =>
          if (f.toString.endsWith(".parquet")) {
            assert(Files.getAttribute(f, "unix:nlink").asInstanceOf[Int] >= 2,
              s"$f is a copy, not a hardlink")
            checked += 1
          }
        }
      }
    }
    assert(checked >= 4, s"expected >=4 linked files, checked $checked")
    // log stats came along: the clone prunes without footer reads
    assert(LakeTable.prunedFiles(dst, "id", 1.0, 1.0)._1.nonEmpty)
  }

  test("clone and source diverge independently") {
    val (src, dst) = (tempDir("div_src"), tempDir("div_dst"))
    LakeTable.append(spark, src, df(0 until 100))
    LakeTable.cloneTable(src, dst)
    LakeTable.append(spark, dst, df(100 until 150))
    LakeTable.deleteWhere(spark, src, "id", 0.0, 49.0)
    assert(LakeTable.snapshot(spark, dst).count() == 150)
    assert(LakeTable.snapshot(spark, src).count() == 50)
  }

  test("the clone survives the SOURCE's vacuum (the shallow-clone failure mode)") {
    val (src, dst) = (tempDir("vac_src"), tempDir("vac_dst"))
    LakeTable.append(spark, src, df(0 until 200).repartition(3))
    LakeTable.cloneTable(src, dst)
    // source moves on and vacuums its old files away
    LakeTable.overwrite(spark, src, df(0 until 5))
    val latest = LakeTable.latestVersion(src).get
    val gone = LakeTable.vacuum(src, latest, orphanMinAgeMs = 0L)
    assert(gone.nonEmpty, "source vacuum must reclaim the old files")
    // the clone still reads its full snapshot — hardlinks kept the inodes
    assert(LakeTable.snapshot(spark, dst).count() == 200)
  }

  test("clone refuses a missing source and an existing target") {
    val (src, dst) = (tempDir("ref_src"), tempDir("ref_dst"))
    intercept[IllegalArgumentException] {
      LakeTable.cloneTable(tempDir("nope"), dst)
    }
    LakeTable.append(spark, src, df(0 until 10))
    LakeTable.append(spark, dst, df(0 until 10))
    intercept[IllegalArgumentException] {
      LakeTable.cloneTable(src, dst)
    }
  }

  test("constraints carry over to the clone") {
    val (src, dst) = (tempDir("c_src"), tempDir("c_dst"))
    LakeTable.append(spark, src, df(0 until 20))
    LakeTable.addConstraint(spark, src, "id_nonneg", "id >= 0")
    LakeTable.cloneTable(src, dst)
    intercept[Exception] {
      import spark.implicits._
      LakeTable.append(spark, dst,
        Seq((-1L, 0L)).toDF("id", "v"))
    }
  }
}

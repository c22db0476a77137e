package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.pc.Layout
import graft.text.TextOps

/** The artifact registry ([[DatasetCache.artifact]]: build once per
  * input snapshot, retire superseded entries, clean up failed builds),
  * its frame cache ([[DatasetCache.readArtifact]]) and footer reads for
  * file skipping, and the posting build's range-write sizing guard. */
class ArtifactCacheSpec extends SparkSpec {

  test("readArtifact returns the cached resolved frame per (session, path)") {
    val dir = tempDir("artifact_cache")
    val s: SparkSession = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/t.parquet")
    Seq((3L, "c")).toDF("id", "v")
      .write.parquet(s"$dir/u.parquet")
    val a = DatasetCache.readArtifact(spark, s"$dir/t.parquet")
    val b = DatasetCache.readArtifact(spark, s"$dir/t.parquet")
    // the whole point: the SAME resolved DataFrame (schema + listing)
    // comes back, so no schema-inference / partition-discovery job
    // re-runs per invocation — while the DATA is still re-read (collect
    // sees the parquet rows, not a cached result)
    assert(a eq b, "second read must hit the per-session frame cache")
    assert(a.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val other = DatasetCache.readArtifact(spark, s"$dir/u.parquet")
    assert(!(other eq a), "different path must resolve its own frame")
    assert(other.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  /** A fresh three-file artifact: ids 0-9, 100-109 and 200-209. */
  private def threeFiles(name: String): String = {
    val s: SparkSession = spark
    import s.implicits._
    val path = tempDir(name) + "/t.parquet"
    Seq(0L, 100L, 200L).foreach { lo =>
      (lo until lo + 10L).toDF("id").coalesce(1).write.mode("append").parquet(path)
    }
    path
  }

  test("an unfiltered scan of an artifact reads no footers") {
    val df = DatasetCache.readArtifact(spark, threeFiles("artifact_unfiltered"))
    val before = Layout.footerReads.get
    assert(df.count() == 30L)
    assert(df.collect().length == 30)
    // a filter with no min/max-comparable bound does not read them either
    assert(df.filter(col("id") % 2L === 0L).count() == 15L)
    assert(Layout.footerReads.get == before, "footers read without a usable bound")
  }

  test("repeated filtered queries on one artifact frame read footers exactly once") {
    val path = threeFiles("artifact_filtered")
    val before = Layout.footerReads.get
    assert(DatasetCache.readArtifact(spark, path).filter(col("id") < 5L).count() == 5L)
    assert(Layout.footerReads.get - before == 3L, "one footer per file on the first bound")
    assert(DatasetCache.readArtifact(spark, path).filter(col("id") >= 150L).count() == 10L)
    assert(DatasetCache.readArtifact(spark, path).filter(col("id") === 205L).count() == 1L)
    assert(DatasetCache.readArtifact(spark, path)
      .filter(col("id") > 100L && col("id") <= 102L).count() == 2L)
    assert(Layout.footerReads.get - before == 3L, "footers re-read for a cached frame")
  }

  test("posting-index build tolerates an empty corpus (NULL token sum)") {
    val dir = tempDir("posting_empty")
    val s: SparkSession = spark
    import s.implicits._
    // a zero-ROW (not zero-file) corpus: the filter keeps the write task
    // alive so a schema-carrying empty part file lands (a no-file dir
    // would fail at read in every round, not just this code path)
    Seq((0L, "x")).toDF("doc_id", "text").filter("doc_id < 0")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // sum(size(words)) over zero docs is NULL; the r13 range-write
    // sizing must read it as 0 tokens, not NPE. (Reading the resulting
    // file-less postings dir back is out of scope: a zero-row
    // partitionBy write lands no part files, so the consumer read
    // failed identically before r13.)
    TextOps.prebuildPostingIndex(spark, dir)
    val stats = spark.read.parquet(
      TextOps.postingIndexPath(spark, dir) + "/stats").head
    assert(stats.getLong(0) == 0L, "doc count must be 0")
    assert(stats.isNullAt(1), "token sum over zero docs is NULL")
  }

  /** A fresh dataset dir whose one input table `t.parquet` holds `ids`. */
  private def dataset(ids: Seq[Long]): String = {
    val dir = tempDir("registry")
    writeIds(dir, ids)
    dir
  }

  private def writeIds(dir: String, ids: Seq[Long]): Unit = {
    val s: SparkSession = spark
    import s.implicits._
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  private def ids(dir: String): DataFrame = spark.read.parquet(s"$dir/t.parquet")

  test("eight threads asking for a new artifact build it once and share it") {
    val dir = dataset(0L until 10L)
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val asks = (0 until 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          DatasetCache.materialize(spark, dir, "once", "t.parquet") { root =>
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others ask
            ids(dir).write.parquet(root)
          }
        }
      }))
      start.countDown()
      val roots = asks.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get == 1, "one build for one (tag, inputs, snapshot)")
      assert(roots.distinct.size == 1)
      assert(DatasetCache.readArtifact(spark, roots.head).count() == 10L)
    } finally pool.shutdown()
  }

  test("a rewritten input gets a fresh artifact; the old frames and root are retired") {
    val dir = dataset(0L until 10L)
    def total(): String = DatasetCache.materialize(spark, dir, "total", "t.parquet")(
      ids(dir).agg(sum("id").as("s")).write.parquet(_))
    val old = total()
    val other = spark.newSession()
    val frame = DatasetCache.readArtifact(spark, old)
    assert(frame.head.getLong(0) == 45L)
    assert(DatasetCache.readArtifact(other, old).head.getLong(0) == 45L)
    assert(total() == old, "unchanged input: the same entry")
    writeIds(dir, 100L until 110L)
    val fresh = total()
    assert(fresh != old)
    assert(DatasetCache.readArtifact(spark, fresh).head.getLong(0) == 1045L)
    assert(!Files.exists(Paths.get(old)), "superseded root deleted")
    // an evicted frame is resolved again, and its deleted root no longer
    // reads — in every session that had cached it
    intercept[AnalysisException](DatasetCache.readArtifact(spark, old))
    intercept[AnalysisException](DatasetCache.readArtifact(other, old))
  }

  test("a build that throws leaves no entry and no files; the next call rebuilds") {
    val dir = dataset(0L until 10L)
    var partial: String = null
    val e = intercept[IllegalStateException](
      DatasetCache.materialize(spark, dir, "flaky", "t.parquet") { root =>
        partial = root
        ids(dir).write.parquet(s"$root/half")
        throw new IllegalStateException("injected build failure")
      })
    assert(e.getMessage == "injected build failure")
    assert(partial != null && !Files.exists(Paths.get(partial)), "partial root removed")
    var builds = 0
    val root = DatasetCache.materialize(spark, dir, "flaky", "t.parquet") { root =>
      builds += 1
      ids(dir).write.parquet(root)
    }
    assert(builds == 1 && root != partial)
    assert(DatasetCache.readArtifact(spark, root).count() == 10L)
  }

  test("a build that reads other registry artifacts completes (nested builds)") {
    val dir = dataset(0L until 10L)
    def evens(): DataFrame = DatasetCache.frame(spark, dir, "evens", "t.parquet")(
      ids(dir).filter(col("id") % 2L === 0L))
    def scaled(): DataFrame = DatasetCache.frame(spark, dir, "scaled", "t.parquet")(
      evens().select((col("id") * 10L).as("id")))
    val n = DatasetCache.artifact(spark, dir, "scaled_n", "t.parquet")(_ => scaled().count())
    assert(n == 5L)
    assert(scaled().agg(sum("id")).head.getLong(0) == 200L)
  }
}

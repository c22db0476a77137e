package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.sim.{Ivf2, SimOps}
import graft.streaming.EmbedStream

/** The delta-segment FOLD: absorbing a (stopped) streaming ingest's
  * committed rows into the base layout without retraining —
  * fold(base, delta) must carry exactly the batch-built layout's rows,
  * leave unaffected base files untouched (append mode: ALL base files
  * untouched), keep search results identical, and consume the segment. */
class FoldDeltaSpec extends SparkSpec {

  /** (basePath, deltaPath): a frozen-codebook base layout of the old
    * corpus half plus a STREAM-WRITTEN delta segment of the new half
    * (one micro-batch through the real file sink — commit log and all). */
  private def buildBaseAndDelta(): (String, String) = {
    import scala.jdk.CollectionConverters._
    val n = SimOps.embeddings(spark, sf0001).count()
    val split = n / 2
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val base = tempDir("fold_base")
    Ivf2.assignFrozenFull(
      SimOps.embeddings(spark, sf0001).filter(col("vec_id") < split),
      coarse, cents)
      .write.mode("overwrite").partitionBy("c1").parquet(base)

    val newHalf = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split).select("vec_id", "embedding")
    val src = Paths.get(tempDir("fold_src"))
    val stage = Paths.get(tempDir("fold_stage"))
    newHalf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, src.resolve("wave0.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val delta = tempDir("fold_delta")
    val ckpt = tempDir("fold_ckpt")
    val q = EmbedStream.startIndexIngest(
      spark.readStream.schema(newHalf.schema).parquet(src.toString),
      coarse, cents, delta, ckpt)
    q.processAllAvailable()
    q.stop()
    (base, delta)
  }

  private def rows(path: String) =
    spark.read.parquet(path)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "c1", "scid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  /** Every (relative file name, size) under `root`, data files only. */
  private def fileSet(root: String): Set[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val rp = Paths.get(root)
    val all = Files.walk(rp)
    try all.iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        rp.relativize(f).iterator().asScala.forall(seg =>
          graft.sim.Ivf2.isVisibleName(seg.toString)))
      .map(f => (rp.relativize(f).toString, Files.size(f))).toSet
    finally all.close()
  }

  private def topk(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] = {
    val qe = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    df.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), round(SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("append-mode fold: batch-layout rows, base files untouched, search unchanged, segment consumed") {
    val (base, delta) = buildBaseAndDelta()
    val preFiles = fileSet(base)
    val preSearch = topk(spark.read.parquet(base)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1")
      .unionByName(EmbedStream.deltaSegment(spark, delta)))
    val deltaCells = EmbedStream.deltaSegment(spark, delta)
      .select("c1").distinct().collect().map(_.getLong(0)).toSet

    val folded = EmbedStream.foldDelta(spark, base, delta)
    assert(folded.toSet == deltaCells, "fold must report the delta's cells")

    // rows ≡ the batch-built layout over the grown corpus
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val want = Ivf2.assignFrozenFull(SimOps.embeddings(spark, sf0001), coarse, cents)
      .select("vec_id", "c1", "scid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(rows(base) == want, "folded base != batch-built layout rows")

    // O(delta) write: every pre-fold base file survives byte-identical
    assert(preFiles.subsetOf(fileSet(base)),
      "append-mode fold touched a pre-existing base file")

    // the composed read collapses to a base-only read with no delta
    val postSearch = topk(spark.read.parquet(base)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1"))
    assert(postSearch == preSearch, "search result changed across the fold")

    // segment consumed: a stale union would double-count its rows
    assert(!Files.exists(Paths.get(delta)), "delta segment must be consumed")
  }

  test("compact-mode fold: identical rows, affected cells rewritten as merged files") {
    val (base, delta) = buildBaseAndDelta()
    val deltaCells = EmbedStream.deltaSegment(spark, delta)
      .select("c1").distinct().collect().map(_.getLong(0)).toSet
    val preFiles = fileSet(base)
    val untouchedPre = preFiles.filterNot { case (p, _) =>
      deltaCells.exists(c => p.startsWith(s"c1=$c/")) }

    EmbedStream.foldDelta(spark, base, delta, compact = true)

    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val want = Ivf2.assignFrozenFull(SimOps.embeddings(spark, sf0001), coarse, cents)
      .select("vec_id", "c1", "scid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(rows(base) == want, "compact-folded base != batch-built layout rows")

    // unaffected cells' files are untouched; affected cells were
    // rewritten (fresh file names) with at most a task's worth of files
    val postFiles = fileSet(base)
    assert(untouchedPre.subsetOf(postFiles),
      "compact fold touched a cell the delta does not reach")
    deltaCells.foreach { c =>
      val nFiles = postFiles.count(_._1.startsWith(s"c1=$c/"))
      assert(nFiles >= 1 && nFiles <= 2,
        s"cell $c has $nFiles files after compaction — not merged")
    }
    assert(!Files.exists(Paths.get(delta)))
  }

  test("crash recovery: re-running a fold whose segment removal did not land is a no-op") {
    import scala.jdk.CollectionConverters._
    val (base, delta) = buildBaseAndDelta()
    // snapshot the segment — the state a crash between the base write
    // and the segment removal leaves behind
    val stale = Paths.get(tempDir("fold_stale"))
    val dp = Paths.get(delta)
    val walk = Files.walk(dp)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val t = stale.resolve(dp.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()

    EmbedStream.foldDelta(spark, base, delta)
    val once = rows(base)
    // resurrect the stale segment and fold AGAIN (the crash-recovery
    // path): nothing may double-append
    Files.move(stale, dp)
    EmbedStream.foldDelta(spark, base, delta)
    assert(rows(base) == once, "re-folding a stale segment duplicated rows")
    assert(!Files.exists(dp), "the stale segment must still be consumed")
  }

  test("an empty delta folds as the identity and a streaming base is refused") {
    val (base, _) = buildBaseAndDelta()
    val empty = tempDir("fold_empty")
    val pre = fileSet(base)
    assert(EmbedStream.foldDelta(spark, base, empty).isEmpty)
    assert(fileSet(base) == pre)
    // a bare directory carries NO sink commit log, so it is not provably
    // a retired segment — the identity fold must not delete it
    assert(Files.exists(Paths.get(empty)), "identity fold must not consume")

    val seg = Paths.get(tempDir("fold_streambase"))
    Files.createDirectory(seg.resolve("_spark_metadata"))
    intercept[IllegalArgumentException] {
      EmbedStream.foldDelta(spark, seg.toString, empty)
    }
  }

  test("a zero-row ingest's segment is still consumed by the fold") {
    // a stopped ingest whose micro-batches committed ZERO rows (every
    // row filtered out) leaves a segment dir whose commit log proves an
    // ingest owned it — the fold must retire it like any other segment,
    // or it leaks forever (r11 verdict item 4)
    import scala.jdk.CollectionConverters._
    val n = SimOps.embeddings(spark, sf0001).count()
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf0001)
    val (base, _) = buildBaseAndDelta()

    val newHalf = SimOps.embeddings(spark, sf0001)
      .filter(col("vec_id") >= n / 2).select("vec_id", "embedding")
    val src = Paths.get(tempDir("fold_zsrc"))
    val stage = Paths.get(tempDir("fold_zstage"))
    newHalf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, src.resolve("wave0.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val seg = tempDir("fold_zseg")
    val ckpt = tempDir("fold_zckpt")
    val q = EmbedStream.startIndexIngest(
      spark.readStream.schema(newHalf.schema).parquet(src.toString)
        .filter(col("vec_id") < 0), // every row filtered: zero-row commits
      coarse, cents, seg, ckpt)
    q.processAllAvailable()
    q.stop()
    assert(Files.isDirectory(Paths.get(seg, "_spark_metadata")),
      "fixture regression: the sink left no commit log")

    val pre = fileSet(base)
    assert(EmbedStream.foldDelta(spark, base, seg).isEmpty)
    assert(fileSet(base) == pre, "zero-row fold must not touch the base")
    assert(!Files.exists(Paths.get(seg)),
      "a committed-empty segment must be consumed, not leaked")
  }

  test("a delta row colliding on vec_id with a DIFFERENT base payload fails the fold") {
    val (base, delta) = buildBaseAndDelta()
    EmbedStream.foldDelta(spark, base, delta) // absorb the honest delta
    val once = rows(base)
    // forge a conflicting segment: one vec_id the base already holds,
    // with a different assignment payload — update semantics or a
    // duplicate-id ingest bug, NOT a crash-recovery re-land
    val victim = spark.read.parquet(base)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1")
      .orderBy("vec_id").limit(1)
      .withColumn("dist", col("dist") + 1L)
    val forged = tempDir("fold_forged")
    victim.write.mode("overwrite").partitionBy("c1").parquet(forged)
    val ex = intercept[IllegalStateException] {
      EmbedStream.foldDelta(spark, base, forged)
    }
    assert(ex.getMessage.contains("payload DIFFERS"))
    assert(rows(base) == once, "failed fold must not modify the base")
    assert(Files.exists(Paths.get(forged)),
      "failed fold must not consume the segment")
  }

  /** The fold × DV composition (r11 verdict item 3): a deletion-vector
    * sidecar derived while the delta segment was live must stay valid
    * across a compact fold — compact mode preserves c1 partition keys
    * and vec_ids, and the DV is vec_id-keyed, so (a) the anti-joined
    * search over the folded base equals the pre-fold base ∪ delta − DV
    * search, and (b) the sidecar still APPLIES physically
    * ([[graft.sim.Ivf2.compactDeletes]] on the folded base removes
    * exactly the killed rows). */
  test("fold × DV: a pre-fold sidecar stays valid across a compact fold and still applies") {
    val (base, delta) = buildBaseAndDelta()
    def readBase() = spark.read.parquet(base)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1")
    val union = readBase().unionByName(EmbedStream.deltaSegment(spark, delta))
    val unionIds = union.select("vec_id").collect().map(_.getLong(0)).toSet
    val n = SimOps.embeddings(spark, sf0001).count()

    // kill-list drawn from BOTH segments AND from the live top-10 (so
    // the DV provably changes the search), written as the sidecar shape
    val noDv = topk(union)
    val kill = noDv.map(_._1).take(3).toSet ++
      unionIds.filter(_ % 7 == 3)
    assert(kill.exists(_ < n / 2) && kill.exists(_ >= n / 2),
      "fixture regression: kill-list must span base and delta")
    val dvPath = tempDir("fold_dv")
    union.filter(col("vec_id").isInCollection(kill))
      .select("vec_id", "scid", "c1")
      .write.mode("overwrite").partitionBy("c1").parquet(dvPath)

    def dvIds = spark.read.parquet(dvPath).select("vec_id")
    val pre = topk(union.join(dvIds, Seq("vec_id"), "left_anti"))
    assert(pre != noDv, "fixture regression: DV did not change the top-k")

    EmbedStream.foldDelta(spark, base, delta, compact = true)

    // (a) the anti-joined search over the folded base ≡ pre-fold
    val post = topk(readBase().join(dvIds, Seq("vec_id"), "left_anti"))
    assert(post == pre, "fold changed the DV-composed search result")
    assert(post.forall(p => !kill(p._1)), "killed id in post-fold result")
    // the DV's c1 keys still name existing base partition dirs
    spark.read.parquet(dvPath).select(col("c1").cast("long"))
      .distinct().collect().map(_.getLong(0)).foreach { c =>
        assert(Files.isDirectory(Paths.get(base, s"c1=$c")),
          s"DV cell c1=$c no longer exists in the folded base")
      }
    // (b) the sidecar still applies PHYSICALLY: compacting the folded
    // base removes exactly the killed rows, and the search is unchanged
    Ivf2.compactDeletes(spark, base, dvPath)
    val live = rows(base).map(_._1).toSet
    assert(live == unionIds -- kill,
      "compactDeletes after the fold did not remove exactly the killed rows")
    assert(topk(readBase()) == pre)
  }
}

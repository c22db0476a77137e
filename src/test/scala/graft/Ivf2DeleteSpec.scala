package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sim.{Ivf2, SemDedup}

/** ANN index deletion — the lifecycle verb that removes a dedup
  * kill-list from the two-level layout WITHOUT retraining: DV-sidecar
  * correctness (search + stats), empty-kill identity, and the
  * leaf-local physical compaction that consumes the sidecar. */
class Ivf2DeleteSpec extends SparkSpec {

  private def killSet: Set[Long] =
    SemDedup.semDedup2(SemDedup.Tau)(spark, sf001)
      .filter(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet

  test("post-delete search drops killed ids and keeps every live result in order") {
    val pre = Ivf2.topK2(0L, 10, 2, 4)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val post = Ivf2.topK2Deleted(0L, 10, 2, 4)(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val kill = killSet
    // the fixture must actually exercise the verb: at least one killed
    // vector sat in the pre-delete top-k (or this test proves nothing)
    val killedInPre = pre.filter(p => kill(p._1))
    assert(killedInPre.nonEmpty,
      "fixture regression: no killed vector in the pre-delete top-10")
    assert(post.length == 10)
    assert(post.forall(p => !kill(p._1)), s"killed id in post-delete result")
    // survivors keep their rank order; backfills append with sim no
    // greater than any survivor they displaced past
    val survivors = pre.filterNot(p => kill(p._1))
    assert(post.take(survivors.length).toSeq == survivors.toSeq,
      "pre-delete survivors must lead the post-delete result unchanged")
    val minSurvivor = survivors.map(_._2).min
    post.drop(survivors.length).foreach { case (id, sim) =>
      assert(sim <= minSurvivor,
        s"backfill $id sim $sim outranks a pre-delete survivor")
    }
  }

  test("delete stats partition the layout exactly: total = killed + live, killed = kill-list") {
    val rows = Ivf2.deleteStats(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (c1, total, killed, live) =>
      assert(total == killed + live, s"cell $c1: $total != $killed + $live")
      // semdedup never empties a leaf (the per-leaf minimum survives),
      // so no coarse cell can go fully dead either
      assert(live >= 1, s"cell $c1 emptied by deletion")
    }
    assert(rows.map(_._3).sum == killSet.size,
      "per-cell killed counts must sum to the kill-list size")
    val layoutTotal = Ivf2.assign2FromLayout(spark, sf001).count()
    assert(rows.map(_._2).sum == layoutTotal)
    // and the live view is exactly the layout minus the kill-list
    assert(Ivf2.assign2FromLayoutLive(spark, sf001).count() ==
      layoutTotal - killSet.size)
  }

  // ---- physical compaction (operates on throwaway copies) -------------

  private def copyTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = Files.walk(src)
    try all.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally all.close()
  }

  private def listFiles(root: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val all = Files.walk(root)
    try all.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_"))
      .map(p => root.relativize(p).toString ->
        Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally all.close()
  }

  test("compaction rewrites ONLY the affected cell, consumes the DV, and preserves live rows") {
    val layoutSrc = Paths.get(Ivf2.layout2Path(spark, sf001))
    val layout = Paths.get(tempDir("ivf2_compact_layout"))
    copyTree(layoutSrc, layout)
    // a DV that kills only inside ONE coarse cell — the other cells'
    // files must come through compaction bit-untouched
    val firstCell = Ivf2.deleteStats(spark, sf001)
      .filter(col("n_killed") > 0).orderBy("c1").limit(1)
      .collect()(0).getLong(0)
    val dv = tempDir("ivf2_compact_dv")
    SemDedup.semDedup2(SemDedup.Tau)(spark, sf001)
      .filter(!col("keep")).filter(col("c1") === firstCell)
      .select(col("vec_id"), col("scid"), col("c1"))
      .write.mode("overwrite").partitionBy("c1").parquet(dv)
    val killed = spark.read.parquet(dv).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(killed.nonEmpty)

    val before = listFiles(layout)
    val beforeRows = spark.read.parquet(layout.toString).count()
    val affected = Ivf2.compactDeletes(spark, layout.toString, dv)
    assert(affected == Seq(firstCell))

    val after = listFiles(layout)
    val untouchedBefore = before.filter(!_._1.startsWith(s"c1=$firstCell"))
    val untouchedAfter = after.filter(!_._1.startsWith(s"c1=$firstCell"))
    assert(untouchedAfter == untouchedBefore,
      "compaction touched files outside the affected cell")
    assert(after.keys.exists(_.startsWith(s"c1=$firstCell")),
      "affected cell lost all its files")
    // row semantics: exactly the killed rows are gone, nothing else
    val post = spark.read.parquet(layout.toString)
    assert(post.count() == beforeRows - killed.size)
    assert(post.filter(col("vec_id").isInCollection(killed)).count() == 0)
    // the DV is consumed — a re-read sees an EMPTY deletion vector, so
    // a second compaction is a no-op
    assert(Ivf2.compactDeletes(spark, layout.toString, dv).isEmpty)
    assert(spark.read.parquet(layout.toString).count() == beforeRows - killed.size)
  }

  test("compacting a FULLY-dead cell removes its files instead of resurrecting them") {
    // dynamic partition overwrite writes nothing for a cell with zero
    // live rows; compactDeletes must remove such cells explicitly or
    // the old files survive the DV's consumption (the r10 self-review
    // must-fix)
    val layout = Paths.get(tempDir("ivf2_deadcell_layout"))
    copyTree(Paths.get(Ivf2.layout2Path(spark, sf001)), layout)
    val all = spark.read.parquet(layout.toString)
      .withColumn("c1", col("c1").cast("long"))
    val deadCell = all.select("c1").orderBy("c1").limit(1)
      .collect()(0).getLong(0)
    val cellRows = all.filter(col("c1") === deadCell).count()
    val total = all.count()
    val dv = tempDir("ivf2_deadcell_dv")
    all.filter(col("c1") === deadCell) // kill EVERY row of the cell
      .select(col("vec_id"), col("scid"), col("c1"))
      .write.mode("overwrite").partitionBy("c1").parquet(dv)
    assert(Ivf2.compactDeletes(spark, layout.toString, dv) == Seq(deadCell))
    val post = spark.read.parquet(layout.toString)
      .withColumn("c1", col("c1").cast("long"))
    assert(post.count() == total - cellRows)
    assert(post.filter(col("c1") === deadCell).count() == 0,
      "fully-dead cell's rows resurrected after compaction")
    assert(!Files.isDirectory(layout.resolve(s"c1=$deadCell")),
      "fully-dead cell's partition directory survived compaction")
  }

  test("a nonexistent DV path is an error, not an empty deletion vector") {
    val layout = Ivf2.layout2Path(spark, sf001)
    intercept[IllegalArgumentException] {
      Ivf2.compactDeletes(spark, layout, "/nonexistent/dv/path")
    }
  }

  test("lifecycle composition: (base ∪ appended delta) − deletions searches exactly") {
    import graft.sim.SimOps
    // the three lifecycle verbs COMPOSED, checked against a fully
    // independent client-side ground truth: a base segment (old half,
    // frozen codebooks), an appended delta segment (new half — batch
    // spelling; batch ≡ stream is pinned in EmbedStreamIngestSpec), and
    // a kill-list spanning BOTH segments, searched through the same
    // union + DV-anti-join shape production uses
    val n = SimOps.embeddings(spark, sf001).count()
    val split = n / 2
    // frozen codebooks from the old half, as the append path trains
    val (coarse, cents) = Ivf2.appendCodebooks(spark, sf001)
    val base = tempDir("lc_base")
    val delta = tempDir("lc_delta")
    Ivf2.assignFrozenFull(SimOps.embeddings(spark, sf001)
      .filter(col("vec_id") < split), coarse, cents)
      .write.mode("overwrite").partitionBy("c1").parquet(base)
    Ivf2.assignFrozenFull(SimOps.embeddings(spark, sf001)
      .filter(col("vec_id") >= split), coarse, cents)
      .write.mode("overwrite").partitionBy("c1").parquet(delta)
    def seg(p: String) = spark.read.parquet(p)
      .withColumn("c1", col("c1").cast("long"))
      .select("vec_id", "embedding", "scid", "dist", "c1")
    // kill every 5th vector: ids from BOTH halves
    val union = seg(base).unionByName(seg(delta))
    val dvDir = tempDir("lc_dv")
    union.filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("scid"), col("c1"))
      .write.mode("overwrite").partitionBy("c1").parquet(dvDir)
    val dv = spark.read.parquet(dvDir).select("vec_id")
    val qid = 1L
    val got = union
      .join(dv, Seq("vec_id"), "left_anti")
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(SimOps.embeddings(spark, sf001)
        .filter(col("vec_id") === qid).select(col("embedding").as("qe"))))
      .select(col("vec_id"),
        round(graft.sim.SimOps.dot(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // ground truth computed OUTSIDE the reader path: plain Scala over
    // the raw embeddings table
    val all = SimOps.embeddings(spark, sf001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == qid).get._2
    def cos(a: Array[Float]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * q(i).toDouble; i += 1 }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = all
      .filter { case (id, _) => id != qid && id % 5 != 2 }
      .map { case (id, e) => (id, cos(e)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got == want,
      s"composed lifecycle search diverged from ground truth:\n$got\n$want")
    // the composition genuinely exercises all three pieces
    assert(got.exists(_._1 >= split), "no delta-segment vector in top-10")
    assert(got.exists(_._1 < split), "no base-segment vector in top-10")
  }

  test("an empty kill-list is the identity: compaction over a fresh dir is a no-op") {
    val emptyDv = tempDir("ivf2_empty_dv")
    val layout = Paths.get(tempDir("ivf2_noop_layout"))
    copyTree(Paths.get(Ivf2.layout2Path(spark, sf001)), layout)
    val before = listFiles(layout)
    assert(Ivf2.compactDeletes(spark, layout.toString, emptyDv).isEmpty)
    assert(listFiles(layout) == before, "empty DV must leave the layout alone")
  }
}

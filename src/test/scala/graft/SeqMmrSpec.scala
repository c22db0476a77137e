package graft

import graft.events.EventOps
import graft.sim.SimOps

/** MMR diverse top-k and regex sequence search: each pinned against an
  * independent driver-side re-derivation on generated fixtures. */
class SeqMmrSpec extends SparkSpec {

  /** FloatVecDot's contract: sequential left-to-right double sum. */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The greedy MMR chain, re-derived independently: at each step pick
    * the candidate maximizing round6(rel - max round6(sim to selected)),
    * ties by vec_id ascending. */
  private def mmrRef(vecs: Map[Long, Array[Float]], qid: Long, k: Int)
      : Seq[(Long, Long, Double, Double)] = {
    val q = vecs(qid)
    val rel = vecs.toSeq.filter(_._1 != qid)
      .map { case (id, v) => (id, v, r6(dot(v, q))) }
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double, Double)]()
    while (picked.length < k && picked.length < rel.length) {
      val chosen = picked.map(_._1).toSet
      val best = rel.filterNot(c => chosen(c._1))
        .map { case (id, v, rl) =>
          val score =
            if (picked.isEmpty) rl
            else r6(rl - picked.map(p => r6(dot(v, p._2))).max)
          (id, v, rl, score)
        }
        .minBy { case (id, _, _, sc) => (-sc, id) }
      picked += best
    }
    picked.zipWithIndex.map { case ((id, _, rl, sc), i) =>
      ((i + 1).toLong, id, rl, sc)
    }.toSeq
  }

  test("mmr replays the independent greedy chain on random fixtures (3 seeds)") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(20)
      val vecs = (0L until n.toLong).map { id =>
        id -> Array.fill(8)((rnd.nextInt(2001) - 1000) / 1000.0f)
      }.toMap
      val dir = tempDir(s"mmr$seed")
      import spark.implicits._
      vecs.toSeq.map { case (id, v) => (id, v, (id % 3).toInt) }
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val got = SimOps.mmr(0L, 6)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      val expected = mmrRef(vecs, 0L, 6)
      assert(got == expected, s"seed $seed: got $got expected $expected")
    }
  }

  test("mmr first pick IS the brute-force top-1; later picks are penalized") {
    val rows = SimOps.mmr(0L, 8)(spark, sf0001).collect()
    assert(rows.length == 8)
    val top = SimOps.topK(0L, 1)(spark, sf0001).head
    assert(rows(0).getLong(1) == top.getLong(top.fieldIndex("vec_id")))
    assert(rows(0).getDouble(3) == rows(0).getDouble(2)) // score == rel at step 1
    // diverse != redundant: picked ids are distinct
    assert(rows.map(_.getLong(1)).distinct.length == 8)
  }

  test("mmr of an unknown query id is empty, same as the topK arms") {
    assert(SimOps.mmr(-42L, 5)(spark, sf0001).count() == 0)
  }

  test("seqPattern matches users by regex over the ordered type string") {
    import spark.implicits._
    val dir = tempDir("seqpat")
    // user 1: v c p  (matches vc.*p)   user 2: v s c p (v NOT followed by c)
    // user 3: v c s  (no purchase)     user 4: c v c p (matches: vc at pos 2)
    val rows = Seq(
      (1L, 1L, 10L, "view"), (2L, 1L, 20L, "click"), (3L, 1L, 30L, "purchase"),
      (4L, 2L, 10L, "view"), (5L, 2L, 20L, "session"), (6L, 2L, 30L, "click"), (7L, 2L, 40L, "purchase"),
      (8L, 3L, 10L, "view"), (9L, 3L, 20L, "click"), (10L, 3L, 30L, "session"),
      (11L, 4L, 10L, "click"), (12L, 4L, 20L, "view"), (13L, 4L, 30L, "click"), (14L, 4L, 40L, "purchase"))
    rows.map { case (eid, uid, tsUs, ty) => (eid, tsUs * 1000L, uid, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.seqPattern("vc.*p")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (4L, 4L)), s"got $got")
  }

  test("seqPattern equals a driver-side regex re-derivation on random logs (3 seeds)") {
    import spark.implicits._
    val types = Vector("view", "click", "purchase", "session", "error")
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (1L to 300L).map { eid =>
        (eid, (rnd.nextInt(1000) * 1000L + rnd.nextInt(3)) * 1000L, // µs ties on purpose
          rnd.nextInt(20).toLong, types(rnd.nextInt(types.size)))
      }
      val dir = tempDir(s"seqprop$seed")
      rows.map { case (e, ns, u, ty) => (e, ns, u, ty, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val pattern = "vc.*p"
      val expected = rows.groupBy(_._3).flatMap { case (u, es) =>
        val seq = es.sortBy(e => (e._2 / 1000, e._1)).map(_._4.head).mkString
        if (pattern.r.findFirstIn(seq).isDefined) Some((u, seq.length.toLong))
        else None
      }.toSeq.sortBy(_._1)
      val got = EventOps.seqPattern(pattern)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"seed $seed: got $got expected $expected")
    }
  }

  test("seqPattern orders the string by (us, event_id), not arrival order") {
    import spark.implicits._
    val dir = tempDir("seqpat_order")
    // same µs for all three events: event_id must break the tie, giving
    // v(1) c(2) p(3) regardless of the shuffled input order below
    Seq((3L, 7000L, 9L, "purchase", 1.0, "{}"),
        (1L, 7000L, 9L, "view", 1.0, "{}"),
        (2L, 7000L, 9L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.seqPattern("^vcp$")(spark, dir).collect()
    assert(got.length == 1 && got.head.getLong(0) == 9L && got.head.getLong(1) == 3L)
  }
}

package graft

/** End-to-end partition-pipeline experiment (partition.rs twin). */
class ExperimentSpec extends SparkSpec {

  test("all stages run; query counts are invariant across the four layouts") {
    val out = tempDir("exp")
    val r = Experiment.run(spark, sf0001, out, runs = 1, batchSize = 4096L)
    assert(r.stageSec.keySet ==
      Set("convert", "grid(1)", "grid(8)", "quadtree"))
    assert(r.stats.map(_.layout).toSet ==
      Set("plain", "grid1", "grid8", "quadtree"))
    assert(r.stats.map(_.query).toSet.size == 10)
    assert(Experiment.invarianceViolations(r).isEmpty)
    // the workload actually selects rows (non-degenerate boxes)
    val sRect = r.stats.filter(_.query == "s_rect").map(_.meanRows)
    assert(sRect.forall(_ > 0))
  }
}

package graft

/** [[Bench.indexDefs]] against the registered queries: a build whose
  * predicate matches no query name is dropped from the timed setup
  * without a word, and the artifact it would have built is then paid for
  * inside the first consuming query's timing. */
class BenchIndexDefsSpec extends SparkSpec {

  test("each of the 26 one-time builds has a unique name and a registered consumer") {
    val defs = Bench.indexDefs(spark, sf001)
    val names = defs.map(_._1)
    assert(names.size == 26, names)
    assert(names.distinct == names, names.diff(names.distinct))
    val queries = SparkEntry.queries.keySet
    for ((name, consumes, _) <- defs)
      assert(queries.exists(consumes), s"build $name matches no query in SparkEntry.queries")
  }
}

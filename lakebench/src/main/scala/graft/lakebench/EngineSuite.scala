package graft.lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Bench, SparkEntry}

/** engine_suite: a rule-picked subset of the registered queries on the
  * scale-0.01 star-schema fixture in `lakebench/fixture` — every
  * [[Every]]-th query by name, the known hot spots, and the first query of
  * any family the two rules missed. The artifact builds those queries
  * consume run first (timed one by one), then one pass that runs each
  * query once and writes its result, with the queries' oracle SQL in
  * `oracle_sql.json` beside them, for `scripts/compare.py`. It runs only
  * inside traced runs, so it has no warm pass: its figures explain
  * layers, they are not compared. */
object EngineSuite {
  val Every = 15
  val HotSpots: Seq[String] = Seq("rel_assoc_rules", "rel_copurchase", "events_scd2", "doc_bpe_tokenize",
    "doc_dedup_incremental", "dedup_crosscheck", "doc_dup_clusters", "mm_neardup")
  val Families: Seq[String] = Seq("doc", "emb", "events", "rel", "mm", "pc", "lake")
  private val LakeBuilds = Set("lake_ingest", "bloom_point_lake", "mv_build")

  /** Consumer predicates of the artifact builds, by build name (the build
    * thunks are not run, so no session is needed). */
  private def consumers: Seq[(String, String => Boolean)] =
    Bench.indexDefs(null, "").map { case (n, rel, _) => n -> rel }

  def family(q: String): String =
    if (consumers.exists { case (b, rel) => LakeBuilds(b) && rel(q) }) "lake"
    else if (q.startsWith("dedup_")) "doc"
    else q.takeWhile(_ != '_')

  def subset: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val picked = (names.indices.collect { case i if i % Every == 0 => names(i) } ++ HotSpots).distinct
    val missing = Families.filterNot(f => picked.exists(family(_) == f))
      .flatMap(f => names.find(family(_) == f))
    (picked ++ missing).sorted
  }

  def run(ctx: Ctx): Phase = {
    val spark = ctx.spark
    val dir = ctx.tables
    val names = subset
    val fns = SparkEntry.queries
    val defs = Bench.indexDefs(spark, dir).filter { case (_, rel, _) => names.exists(rel) }
    val buildTimes = defs.map { case (n, _, build) =>
      n -> Stats.timed(ctx.trace.span(s"build.$n")(build()))._2
    }
    val out = s"${ctx.work}/engine_suite/results"
    // results with an oracle are compared by scripts/compare.py after the
    // run; the others must return rows
    val ops = names.map(n => Op(n, n, () => ctx.trace.span(s"query.${family(n)}")(
      fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")),
      _ => SparkEntry.oracleSql.contains(n) || spark.read.parquet(s"$out/$n").count() > 0))
    val loop = Loop.run(ops.toIndexedSeq, 0, 0, ctx.trace, maxPasses = 1)
    // a query that threw wrote nothing and already counts as failed
    val written = names.filter(n => new java.io.File(s"$out/$n/_SUCCESS").exists)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(written.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))))

    val layer = mutable.LinkedHashMap[String, Double]()
    buildTimes.foreach { case (n, s) => layer(s"build.${n}_s") = s }
    Families.foreach(f => layer(s"suite.${f}_s") = ctx.trace.total(s"query.$f"))
    layer("suite.pass_s") = loop.passS.head
    HotSpots.foreach(h => layer(s"suite.q.${h}_ms") = loop.clsMedianMs(h))
    Phase(buildTimes.map(_._2).sum, 0, loop, Map.empty, layer.toMap)
  }
}

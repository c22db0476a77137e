package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pc.{Layout, Points}
import graft.plans.GraftExtensions

/** Catalyst circle-prefilter rule: the naive circle predicate gains a
  * pushable bbox, pruning row groups like the hand-written two-phase
  * query, with identical results. */
class CirclePrefilterRuleSpec extends SparkSpec {

  private lazy val layoutDir: String = {
    val dir = tempDir("circle_rule")
    val pts = Points.withImportance(
      Points.fromLineitem(spark, sf001).select("x", "y", "pid"), seed = 3L)
    Layout.writeGrid(pts, dir, sigma = 1, batchSize = 2048L)
    dir
  }

  private def circleDf(): DataFrame = {
    val (cx, cy, r) = (400.0, 400.0, 60.0)
    val d2 = (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
    spark.read.parquet(layoutDir).filter(d2 < r * r) // naive: no bbox
  }

  private def pushedFilters(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString
  }

  /** Count comparison conjuncts on attribute `name` in the OPTIMIZED
    * logical plan via the expression TREE (plan strings print exprIds
    * like `x#140`, so substring matching is vacuous). */
  private def boundCount(df: DataFrame, name: String): Int = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    df.queryExecution.optimizedPlan.collect { case f: Filter =>
      f.condition.collect {
        case GreaterThanOrEqual(a: AttributeReference, _: Literal) if a.name == name => 1
        case LessThanOrEqual(a: AttributeReference, _: Literal) if a.name == name => 1
      }.size
    }.sum
  }

  test("rule injects a pushable bbox; results identical; plan is idempotent") {
    // baseline in a NO-extensions session (the shared session carries
    // the rule by default now): nothing pushable in the naive predicate
    val expected = withPlainSession { plain =>
      val (cx, cy, r) = (400.0, 400.0, 60.0)
      val d2 = (col("x") - cx) * (col("x") - cx) +
        (col("y") - cy) * (col("y") - cy)
      val df = plain.read.parquet(layoutDir).filter(d2 < r * r)
      val before = pushedFilters(df)
      assert(!before.contains("GreaterThanOrEqual(x"),
        s"expected no pushable range without the rule, got: $before")
      df.count()
    }

    GraftExtensions.install(spark)
    try {
      val after = pushedFilters(circleDf())
      assert(after.contains("GreaterThanOrEqual(x") && after.contains("LessThanOrEqual(x")
        && after.contains("GreaterThanOrEqual(y"),
        s"bbox not pushed: $after")
      assert(circleDf().count() == expected)
      // idempotence: exactly ONE lower + ONE upper bound per axis — a
      // non-idempotent rule re-adds conjuncts every fixed-point pass
      assert(boundCount(circleDf(), "x") == 2,
        s"expected 2 x-bounds, got ${boundCount(circleDf(), "x")}")
      assert(boundCount(circleDf(), "y") == 2)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.CirclePrefilterRule)
    }
  }

  test("pow(x-c, 2) spelling gets the same bbox as the multiply form") {
    val (cx, cy, r) = (400.0, 400.0, 60.0)
    def powDf(): DataFrame = spark.read.parquet(layoutDir)
      .filter(pow(col("x") - cx, 2) + pow(col("y") - cy, 2) < r * r)
    val expected = powDf().count()
    // baseline without the rule needs a no-extensions session
    withPlainSession { plain =>
      val df = plain.read.parquet(layoutDir)
        .filter(pow(col("x") - cx, 2) + pow(col("y") - cy, 2) < r * r)
      assert(boundCount(df, "x") == 0, "no rule installed yet")
    }

    GraftExtensions.install(spark)
    try {
      val after = pushedFilters(powDf())
      assert(after.contains("GreaterThanOrEqual(x") && after.contains("LessThanOrEqual(x")
        && after.contains("GreaterThanOrEqual(y"),
        s"bbox not pushed for pow spelling: $after")
      assert(powDf().count() == expected)
      assert(boundCount(powDf(), "x") == 2)
      assert(boundCount(powDf(), "y") == 2)
      // the SQL spelling `power(x-400, 2)` must match too
      spark.read.parquet(layoutDir).createOrReplaceTempView("circle_rule_pts")
      val sqlDf = spark.sql(
        s"SELECT * FROM circle_rule_pts WHERE power(x - $cx, 2) + power(y - $cy, 2) < ${r * r}")
      assert(sqlDf.count() == expected)
      assert(boundCount(sqlDf, "x") == 2)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.CirclePrefilterRule)
    }
  }

  test("rule leaves non-circle filters untouched") {
    GraftExtensions.install(spark)
    try {
      val df = spark.read.parquet(layoutDir).filter(col("x") > 100.0)
      val n = df.count()
      assert(n == spark.read.parquet(layoutDir).filter(col("x") > 100.0).count())
      // tree-based: the rule must not have injected any y bounds
      assert(boundCount(df, "y") == 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.CirclePrefilterRule)
    }
  }
}

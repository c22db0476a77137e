package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.plans.GraftExtensions` entry point:
  * a SQL-only user (spark-sql / JDBC / notebooks with no library
  * imports) must get the full extension surface — the fvec_dot codegen
  * primitive as a resolvable SQL function and the circle-prefilter
  * optimizer rule — purely from session conf. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Fresh session on the shared context with the graft extensions
    * applied through `builder.withExtensions` — the same
    * `GraftExtensions.apply` that Spark's reflective loader invokes for
    * `--conf spark.sql.extensions=graft.plans.GraftExtensions` (the conf
    * itself is a STATIC one, readable only at SparkContext startup, so a
    * shared-context test suite must enter through the builder hook).
    * Restores the previous active/default session afterwards so the
    * shared-session suites are unaffected. */
  private def withExtensionSession[A](f: SparkSession => A): A = {
    val prev = SparkSpec.spark // ensures the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      try f(s)
      finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("fvec_dot resolves and computes in pure SQL via the extensions conf") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT fvec_dot(
          |  array(cast(1.5 as float), cast(2.0 as float), cast(-1.0 as float)),
          |  array(cast(2.0 as float), cast(0.5 as float), cast(4.0 as float))) AS d
          |""".stripMargin).head().getDouble(0)
      assert(r == 1.5 * 2.0 + 2.0 * 0.5 + (-1.0) * 4.0)
      assert(s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("fvec_dot")))
    }
  }

  test("mg_sketch resolves and sketches in pure SQL via the extensions conf") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT sk.n AS n, sk.terms AS terms FROM (
          |  SELECT mg_sketch(t, 4) AS sk FROM (
          |    SELECT explode(array('a','a','a','b','c')) AS t))
          |""".stripMargin).head()
      assert(r.getLong(0) == 5L)
      assert(r.getSeq[String](1).contains("a"))
    }
  }

  test("circle-prefilter rule is active in the extension session's optimizer") {
    withExtensionSession { s =>
      import s.implicits._
      // parquet-backed (a Seq-backed LocalRelation would be fully
      // constant-folded away, leaving no Filter to inspect)
      val dir = SparkSpec.tempDir("extcircle")
      Seq((1.0, 2.0), (50.0, 50.0), (3.0, 4.0)).toDF("x", "y")
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir).createOrReplaceTempView("pts")
      val df = s.sql(
        "SELECT * FROM pts WHERE (x - 2.0) * (x - 2.0) + (y - 3.0) * (y - 3.0) <= 25.0")
      // the rule derives pushable per-dimension range conjuncts from the
      // circle predicate; their presence in the optimized plan proves the
      // injection happened (no library call registered anything here)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains(">=") && optimized.contains("<="),
        s"derived AABB range filters missing from plan:\n$optimized")
      assert(df.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet ==
        Set((1.0, 2.0), (3.0, 4.0)))
    }
  }

  test("fvec_dot is absent without the conf (the injection is really doing it)") {
    // the shared session (and any newSession() on its context) now
    // carries spark.sql.extensions by default, so the no-extensions
    // baseline must opt out explicitly with an empty conf override
    val prev = SparkSpec.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.extensions", "")
        .getOrCreate()
      assert(!fresh.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("fvec_dot")))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}

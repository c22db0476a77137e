package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    // the mains' settings (timezone, UI, nanos flag, local FileSystem), so
    // no query builder has to mutate shared-session conf at call time
    .config(LocalSession.Settings)
    // plan-string assertions need untruncated output; set ONCE for every
    // suite so no test mutates shared-session state
    .config("spark.sql.debug.maxToStringFields", "200")
    .config("spark.sql.maxMetadataStringLength", "2000")
    // full library SQL surface, incl. the DML resolution rewrites
    // (which install() cannot retrofit — resolution rules have no
    // post-construction injection path). withExtensions, NOT the
    // spark.sql.extensions conf: the conf is STATIC, so it would land in
    // the SparkContext conf and force the extensions onto every session
    // of this context — the no-extensions baseline tests could never
    // opt out again.
    .withExtensions(new graft.plans.GraftExtensions())
    .getOrCreate()

  /** A fresh directory under the system temp dir, deleted at JVM exit
    * ([[DatasetCache.registerTempDir]]), so suite runs leave no data
    * behind. The one way every spec makes a scratch directory; suites
    * without Spark call it here (it does not start the session). */
  def tempDir(prefix: String): String =
    DatasetCache.registerTempDir(java.nio.file.Files.createTempDirectory(prefix).toString)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** See [[SparkSpec.tempDir]]. */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  /** A session on the shared context WITHOUT the graft extensions (the
    * shared session has them on by default — `spark.sql.extensions`
    * propagates through the SparkContext conf to every new session, so
    * opting out needs an explicit empty override). Baseline for tests
    * that prove an injection is really doing the work. */
  def withPlainSession[A](f: SparkSession => A): A = {
    val prev = SparkSpec.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.extensions", "")
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

  /** Executed plan with AQE wrappers peeled — shared by every suite that
    * walks plans (scan partitions, shuffle counts, output rows). */
  def finalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Count ShuffleExchange nodes in the executed plan (AQE stages
    * unwrapped) — the plan-budget metric the scale claims assert on.
    * Broadcast exchanges deliberately do NOT count: they move a
    * dimension, not the data. */
  def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var n = 0
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan) // unwrap; count the exchange itself
      case e: ShuffleExchangeExec => n += 1; e.children.foreach(go)
      case other => other.children.foreach(go)
    }
    go(finalPlan(df))
    n
  }
}

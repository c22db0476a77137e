package graft

import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Delta-style CHECK constraints on the lake write path: born-valid
  * (ADD scans existing data), enforced FUSED into every staging scan,
  * SQL unknown-passes null semantics, carried forward by every commit. */
class LakeConstraintSpec extends SparkSpec {

  private def freshTable(): String = {
    val d = tempDir("graft_lake_ck")
    d
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 2)
  }

  test("add constraint refuses when existing rows violate it") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 10))
    val e = intercept[IllegalArgumentException] {
      LakeTable.addConstraint(spark, t, "small_id", "id < 5")
    }
    assert(e.getMessage.contains("existing rows violate"))
    assert(LakeTable.constraints(t).isEmpty)
  }

  test("violating append fails loudly and commits NOTHING; table stays readable") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 10))
    LakeTable.addConstraint(spark, t, "id_bound", "id < 100")
    val before = LakeTable.latestVersion(t)
    val e = intercept[Exception] { LakeTable.append(spark, t, df(95 until 105)) }
    assert(e.getMessage.contains("id_bound") ||
      String.valueOf(e.getCause).contains("id_bound"))
    assert(LakeTable.latestVersion(t) == before, "a failed write left a commit")
    assert(LakeTable.snapshot(spark, t).count() == 10)
    // a satisfying append still lands, and the constraint survives it
    LakeTable.append(spark, t, df(10 until 20))
    assert(LakeTable.snapshot(spark, t).count() == 20)
    assert(LakeTable.constraints(t) == Map("id_bound" -> "id < 100"))
  }

  test("NULL passes (SQL unknown-passes), including omitted nullable columns") {
    import spark.implicits._
    val t = freshTable()
    LakeTable.append(spark, t,
      Seq((0L, Some(1L)), (1L, None)).toDF("id", "v"))
    LakeTable.addConstraint(spark, t, "v_pos", "v > 0") // null v passes
    LakeTable.append(spark, t, Seq((2L, Option.empty[Long])).toDF("id", "v"))
    // a write omitting v entirely: v reads back null -> unknown -> passes
    LakeTable.append(spark, t, Seq(3L).toDF("id"))
    assert(LakeTable.snapshot(spark, t).count() == 4)
    val e = intercept[Exception] {
      LakeTable.append(spark, t, Seq((4L, Some(-1L))).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_pos") ||
      String.valueOf(e.getCause).contains("v_pos"))
  }

  test("updateWhere assignments are constrained; drop lifts enforcement") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 10))
    LakeTable.addConstraint(spark, t, "v_small", "v < 1000")
    intercept[Exception] {
      LakeTable.updateWhere(spark, t, "id", 0.0, 5.0, Map("v" -> 5000L))
    }
    assert(LakeTable.snapshot(spark, t).filter(col("v") === 5000L).count() == 0)
    LakeTable.dropConstraint(spark, t, "v_small")
    assert(LakeTable.constraints(t).isEmpty)
    LakeTable.updateWhere(spark, t, "id", 0.0, 5.0, Map("v" -> 5000L))
    assert(LakeTable.snapshot(spark, t).filter(col("v") === 5000L).count() > 0)
  }

  test("SQL INSERT INTO a constrained table is enforced (the rewrite hits the same append)") {
    val r = tempDir("lake_ck_sql")
    LakeTable.append(spark, s"$r/ns/t", df(0 until 10))
    LakeTable.addConstraint(spark, s"$r/ns/t", "id_cap", "id < 100")
    spark.conf.set("spark.sql.catalog.cklake", classOf[graft.lake.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cklake.root", r)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO cklake.ns.t SELECT id, id * 2 AS v FROM range(95, 105)")
    }
    assert(e.getMessage.contains("id_cap") ||
      String.valueOf(e.getCause).contains("id_cap"))
    assert(LakeTable.snapshot(spark, s"$r/ns/t").count() == 10)
    spark.sql("INSERT INTO cklake.ns.t SELECT id, id * 2 AS v FROM range(10, 20)")
    assert(LakeTable.snapshot(spark, s"$r/ns/t").count() == 20)
  }

  test("non-boolean constraint expressions are refused at ADD (never silently vacuous)") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 5))
    val e = intercept[IllegalArgumentException] {
      LakeTable.addConstraint(spark, t, "oops", "'abc'")
    }
    assert(e.getMessage.contains("boolean"))
    assert(LakeTable.constraints(t).isEmpty)
    // unresolvable columns fail loudly too
    intercept[Exception] { LakeTable.addConstraint(spark, t, "oops2", "nope > 0") }
    assert(LakeTable.constraints(t).isEmpty)
  }

  test("overwrite cannot drop a column a CHECK constraint references") {
    import spark.implicits._
    val t = freshTable()
    LakeTable.append(spark, t, df(1 until 6))
    LakeTable.addConstraint(spark, t, "v_pos", "v > 0")
    val e = intercept[IllegalArgumentException] {
      LakeTable.overwrite(spark, t, Seq(9L).toDF("id"))
    }
    assert(e.getMessage.contains("v_pos"))
    assert(LakeTable.snapshot(spark, t).count() == 5)
    // a schema-keeping overwrite still works, and stays enforced
    LakeTable.overwrite(spark, t, df(10 until 12))
    assert(LakeTable.snapshot(spark, t).count() == 2)
  }

  test("addConstraint re-validates when a write lands between its scan and its commit") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 5))
    // deterministically lose the race: a violating append commits right
    // after the validation scan would have passed
    val e = intercept[Exception] {
      graft.lake.LakeTestHooks.withRaceHook(op =>
        if (op == "addconstraint") {
          graft.lake.LakeTestHooks.withRaceHook(_ => ())(
            LakeTable.append(spark, t, df(500 until 505)))
        }) {
        LakeTable.addConstraint(spark, t, "id_cap", "id < 100")
      }
    }
    assert(e.getMessage.contains("existing rows violate"),
      s"constraint must re-validate at the new tip, got: ${e.getMessage}")
    assert(LakeTable.constraints(t).isEmpty)
  }

  test("a staged write refuses to commit under a constraint added meanwhile") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 5))
    // the violating append stages while the table is unconstrained; the
    // constraint lands before its commit -> the append must refuse, not
    // commit around the check
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.lake.LakeTestHooks.withRaceHook(op =>
        if (op == "append") {
          graft.lake.LakeTestHooks.withRaceHook(_ => ())(
            LakeTable.addConstraint(spark, t, "id_cap", "id < 100"))
        }) {
        LakeTable.append(spark, t, df(500 until 505))
      }
    }
    assert(e.getMessage.contains("constraints changed"))
    assert(LakeTable.snapshot(spark, t).count() == 5)
    assert(LakeTable.constraints(t) == Map("id_cap" -> "id < 100"))
  }

  test("dropConstraint raced by addConstraint keeps the winner's constraint") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 5))
    LakeTable.addConstraint(spark, t, "a_ck", "id >= 0")
    var injected = false
    graft.lake.LakeTestHooks.withRaceHook(op =>
      if (op == "dropconstraint" && !injected) {
        injected = true
        graft.lake.LakeTestHooks.withRaceHook(_ => ())(
          LakeTable.addConstraint(spark, t, "b_ck", "v >= 0"))
      }) {
      LakeTable.dropConstraint(spark, t, "a_ck")
    }
    // the retry must re-derive from the winner's set: b_ck survives
    assert(LakeTable.constraints(t) == Map("b_ck" -> "v >= 0"),
      s"concurrent addConstraint was erased: ${LakeTable.constraints(t)}")
  }

  test("restore refuses to resurrect a schema lacking a CHECK-referenced column") {
    val t = freshTable()
    import spark.implicits._
    LakeTable.append(spark, t, Seq(1L, 2L).toDF("id")) // v1: id only
    LakeTable.append(spark, t, df(3 until 6), mergeSchema = true) // v2: + v
    LakeTable.addConstraint(spark, t, "v_ok", "v >= 0") // v3
    val e = intercept[IllegalArgumentException] {
      LakeTable.restoreTo(t, 1L)
    }
    assert(e.getMessage.contains("v_ok"))
    // restoring to a version whose schema keeps the column still works
    LakeTable.restoreTo(t, 2L)
    assert(LakeTable.constraints(t) == Map("v_ok" -> "v >= 0"))
    LakeTable.append(spark, t, df(10 until 12)) // writes still analyzable
  }

  test("streaming sink enforces constraints: a violating micro-batch fails, nothing lands") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 10))
    LakeTable.addConstraint(spark, t, "id_cap", "id < 1000")
    val src = tempDir("lake_ck_src")
    df(995 until 1005).coalesce(1).write.mode("overwrite").parquet(src)
    val ckpt = tempDir("lake_ck_ckpt")
    val q = graft.lake.LakeSink.start(
      spark.readStream.schema(df(0 until 1).schema).parquet(src),
      t, "ck_ingest", ckpt)
    val e = intercept[Exception] { q.awaitTermination(120000) }
    assert(String.valueOf(e.getMessage).contains("id_cap") ||
      String.valueOf(e.getCause).contains("id_cap"))
    assert(LakeTable.snapshot(spark, t).count() == 10,
      "a violating micro-batch must commit nothing")
  }

  test("constraints survive unrelated DML, optimize and a concurrent-writer rebase") {
    val t = freshTable()
    LakeTable.append(spark, t, df(0 until 50))
    LakeTable.addConstraint(spark, t, "id_nonneg", "id >= 0")
    LakeTable.deleteWhere(spark, t, "id", 40.0, 49.0)
    LakeTable.optimize(spark, t, "id", "v")
    assert(LakeTable.constraints(t) == Map("id_nonneg" -> "id >= 0"))
    // racing appenders: every surviving commit must still carry props
    val threads = (0 until 4).map { i =>
      new Thread(() => LakeTable.append(spark, t, df(100 + i * 10 until 100 + i * 10 + 5)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(LakeTable.constraints(t) == Map("id_nonneg" -> "id >= 0"))
  }
}

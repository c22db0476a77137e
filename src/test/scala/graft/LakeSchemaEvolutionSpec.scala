package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.lake.LakeTable

/** Metadata-only schema evolution: ALTER TABLE ADD/DROP COLUMN as ONE
  * log commit, no file rewrites. Old files null-fill added columns at
  * read (Spark's explicit-schema parquet behavior); dropped columns are
  * projected away from immutable files and their names tombstoned so
  * stale physical values can never resurrect. */
class LakeSchemaEvolutionSpec extends SparkSpec {

  private def freshTable(prefix: String): String = {
    val d = tempDir(prefix)
    s"$d/t"
  }

  test("addColumn: metadata-only commit, old rows read as NULL, new writes populate") {
    val t = freshTable("lake_addcol")
    LakeTable.append(spark, t,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    val v = LakeTable.addColumn(t, "score", LongType)
    assert(v == 2L)
    // no files were added or removed by the schema commit
    val h = LakeTable.history(t).find(_.version == v).get
    assert(h.op == "addcolumn" && h.add.isEmpty && h.remove.isEmpty)
    // old rows null-fill
    val snap1 = LakeTable.snapshot(spark, t)
    assert(snap1.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(snap1.filter(col("score").isNotNull).count() == 0)
    // a later write populates it
    LakeTable.append(spark, t,
      spark.range(10, 15).select(col("id"), (col("id") * 2).as("v"),
        (col("id") * 10).as("score")))
    val snap2 = LakeTable.snapshot(spark, t)
    assert(snap2.count() == 15)
    assert(snap2.filter(col("score").isNotNull).count() == 5)
    assert(snap2.filter(col("id") === 12).head().getLong(2) == 120L)
    // time travel to v1 still shows the OLD schema
    assert(LakeTable.snapshot(spark, t, Some(1L)).schema.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("addColumn refuses duplicates (case-insensitive) and reserved names") {
    val t = freshTable("lake_addcol_dup")
    LakeTable.append(spark, t, spark.range(0, 3).select(col("id")))
    intercept[IllegalArgumentException] { LakeTable.addColumn(t, "ID", LongType) }
    intercept[IllegalArgumentException] {
      LakeTable.addColumn(t, "_change_type", LongType)
    }
    intercept[IllegalArgumentException] {
      LakeTable.addColumn("/nonexistent/nope", "x", LongType)
    }
  }

  test("dropColumn: projected away without rewriting files; tombstone blocks resurrection") {
    val t = freshTable("lake_dropcol")
    LakeTable.append(spark, t,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"),
        (col("id") * 10).as("score")))
    val filesBefore = LakeTable.snapshotFiles(t)._1
    val v = LakeTable.dropColumn(spark, t, "score")
    assert(LakeTable.snapshotFiles(t)._1 == filesBefore, "no file rewrite")
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(snap.count() == 10)
    // time travel BEFORE the drop still reads the physical values
    val old = LakeTable.snapshot(spark, t, Some(v - 1))
    assert(old.filter(col("id") === 3).head().getLong(2) == 30L)
    // the name is tombstoned: addColumn AND mergeSchema both refuse
    assert(LakeTable.droppedColumns(t) == Set("score"))
    val e1 = intercept[IllegalArgumentException] {
      LakeTable.addColumn(t, "score", LongType)
    }
    assert(e1.getMessage.contains("previously dropped"))
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.append(spark, t,
        spark.range(10, 12).select(col("id"), (col("id") * 2).as("v"),
          lit(0L).as("score")), mergeSchema = true)
    }
    assert(e2.getMessage.contains("previously dropped"))
    // a FRESH name is fine, and the tombstone survives further commits
    LakeTable.addColumn(t, "score2", LongType)
    LakeTable.append(spark, t, spark.range(10, 12).select(col("id"),
      (col("id") * 2).as("v"), lit(7L).as("score2")))
    assert(LakeTable.droppedColumns(t) == Set("score"))
    assert(LakeTable.snapshot(spark, t).count() == 12)
  }

  test("dropColumn refuses: constraint-referenced, unknown, and last column") {
    val t = freshTable("lake_dropcol_guard")
    LakeTable.append(spark, t,
      spark.range(0, 5).select(col("id"), (col("id") * 2).as("v")))
    LakeTable.addConstraint(spark, t, "v_nonneg", "v >= 0")
    val e = intercept[IllegalArgumentException] {
      LakeTable.dropColumn(spark, t, "v")
    }
    assert(e.getMessage.contains("v_nonneg"))
    intercept[IllegalArgumentException] { LakeTable.dropColumn(spark, t, "zzz") }
    LakeTable.dropConstraint(spark, t, "v_nonneg")
    LakeTable.dropColumn(spark, t, "v")
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.dropColumn(spark, t, "id")
    }
    assert(e2.getMessage.contains("last column"))
    // constraints and tombstones coexist in the props channel
    LakeTable.addConstraint(spark, t, "id_nonneg", "id >= 0")
    assert(LakeTable.constraints(t).keySet == Set("id_nonneg"))
    assert(LakeTable.droppedColumns(t) == Set("v"))
  }

  test("addColumn raced by an append rebases and lands the widened schema") {
    val t = freshTable("lake_addcol_race")
    LakeTable.append(spark, t, spark.range(0, 5).select(col("id")))
    var injected = false
    graft.lake.LakeTestHooks.withRaceHook(op =>
      if (op == "addcolumn" && !injected) {
        injected = true
        graft.lake.LakeTestHooks.withRaceHook(_ => ())(
          LakeTable.append(spark, t, spark.range(5, 8).select(col("id"))))
      }) {
      LakeTable.addColumn(t, "score", LongType)
    }
    assert(injected)
    // both commits landed: the append's rows AND the widened schema
    val snap = LakeTable.snapshot(spark, t)
    assert(snap.count() == 8)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "score"))
  }

  test("dropColumn raced by a constraint on that column refuses on retry") {
    val t = freshTable("lake_dropcol_race")
    LakeTable.append(spark, t,
      spark.range(0, 5).select(col("id"), (col("id") * 2).as("v")))
    var injected = false
    val e = intercept[IllegalArgumentException] {
      graft.lake.LakeTestHooks.withRaceHook(op =>
        if (op == "dropcolumn" && !injected) {
          injected = true
          graft.lake.LakeTestHooks.withRaceHook(_ => ())(
            LakeTable.addConstraint(spark, t, "v_nonneg", "v >= 0"))
        }) {
        LakeTable.dropColumn(spark, t, "v")
      }
    }
    assert(injected)
    assert(e.getMessage.contains("v_nonneg"),
      s"retry must re-check constraints at the new tip, got: ${e.getMessage}")
    // nothing dropped: the column, the constraint, and the rows survive
    assert(LakeTable.snapshot(spark, t).schema.fieldNames.toSeq == Seq("id", "v"))
    assert(LakeTable.constraints(t).contains("v_nonneg"))
    assert(LakeTable.droppedColumns(t).isEmpty)
  }

  test("SQL: ALTER TABLE ADD/DROP COLUMN through the lake catalog") {
    val root = tempDir("lake_alter_cat")
    val t = s"$root/ns/ev"
    LakeTable.append(spark, t,
      spark.range(0, 4).select(col("id"), (col("id") * 2).as("v")))
    spark.conf.set("spark.sql.catalog.evlake", classOf[graft.lake.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.evlake.root", root)
    spark.sql("ALTER TABLE evlake.ns.ev ADD COLUMN score BIGINT")
    assert(spark.table("evlake.ns.ev").schema.fieldNames.toSeq ==
      Seq("id", "v", "score"))
    spark.sql("ALTER TABLE evlake.ns.ev DROP COLUMN v")
    assert(spark.table("evlake.ns.ev").schema.fieldNames.toSeq ==
      Seq("id", "score"))
    // unsupported changes refuse loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE evlake.ns.ev RENAME COLUMN id TO id2")
    }
    assert(e.getMessage.contains("not supported"))
    // NOT NULL adds refuse instead of silently committing nullable:
    // existing rows null-fill added columns, the constraint cannot hold
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE evlake.ns.ev ADD COLUMN req BIGINT NOT NULL")
    }
    assert(e2.getMessage.contains("NOT NULL"),
      s"NOT NULL add must refuse, got: ${e2.getMessage}")
    assert(!spark.table("evlake.ns.ev").schema.fieldNames.contains("req"),
      "a refused ADD COLUMN must not commit")
    // and VERSION AS OF still pairs old files with the old schema
    assert(spark.sql("SELECT * FROM evlake.ns.ev VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("id", "v"))
  }
}

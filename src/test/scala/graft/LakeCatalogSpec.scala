package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}

import graft.lake.LakeTable

/** The lake as a SQL catalog: pure-SQL addressing
  * (`SELECT ... FROM <cat>.<ns>.<table>`), SQL time travel via
  * `VERSION AS OF` riding Spark's own catalog hook, log-stats pruning
  * intact through the catalog path, and loud refusals for DDL and
  * unsupported travel modes. */
class LakeCatalogSpec extends SparkSpec {

  private lazy val root: String = {
    val r = tempDir("lake-cat")
    // prod.orders: two appends => versions 1..2
    val t = s"$r/prod/orders"
    LakeTable.append(spark, t,
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")))
    LakeTable.append(spark, t,
      spark.range(100, 250).select(col("id"), (col("id") * 2).as("v")))
    spark.conf.set("spark.sql.catalog.graftlake", classOf[graft.lake.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftlake.root", r)
    r
  }

  test("SELECT through the catalog reads the latest snapshot") {
    root
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.prod.orders")
      .head().getLong(0) == 250)
  }

  test("SQL time travel: VERSION AS OF pins file list and schema together") {
    root
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.prod.orders VERSION AS OF 1")
      .head().getLong(0) == 100)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftlake.prod.orders VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("versions 1..2"))
    // a pre-first-commit instant errors loudly (full TIMESTAMP AS OF
    // behavior has its own tests below)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graftlake.prod.orders TIMESTAMP AS OF '2026-01-01'")
        .collect()
    }
    assert(e2.getMessage.contains("nothing existed yet"),
      s"pre-epoch timestamp travel must refuse, got: ${e2.getMessage}")
  }

  test("log-stats pruning works through the catalog path") {
    root
    // the second append's file is skipped for a low-id range predicate:
    // same file-pruning evidence as the format path, via SQL only
    val df = spark.sql(
      "SELECT count(*) AS n FROM graftlake.prod.orders WHERE id <= 50")
    assert(df.head().getLong(0) == 51)
    val scan = finalPlan(df).toString
    assert(scan.contains("BatchScan") || scan.contains("Scan parquet"),
      s"catalog read must plan through the DSv2 scan:\n$scan")
  }

  test("missing tables and namespaces resolve to loud errors; listTables works") {
    root
    val cat = spark.sessionState.catalogManager.catalog("graftlake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    assert(cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("prod"), "orders")))
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("prod"), "nope")))
    assert(cat.listTables(Array("prod")).map(_.name()).toSeq == Seq("orders"))
    intercept[Exception] {
      spark.sql("SELECT * FROM graftlake.prod.nope").collect()
    }
  }

  test("DDL through the catalog is refused (writes stay transactional)") {
    root
    val e = intercept[Exception] {
      spark.sql("DROP TABLE graftlake.prod.orders")
    }
    assert(e.getMessage.contains("transactional API"))
  }

  /** A separate table per DML test — the shared `root` table is read by
    * the other cases and version counts must stay predictable. */
  private def dmlTable(name: String): String = {
    val t = s"$root/dml/$name"
    LakeTable.append(spark, t,
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")))
    LakeTable.append(spark, t,
      spark.range(100, 250).select(col("id"), (col("id") * 2).as("v")))
    t
  }

  test("SQL DELETE executes as a lake transaction with range semantics") {
    val t = dmlTable("del")
    spark.sql("DELETE FROM graftlake.dml.del WHERE id >= 40 AND id < 120")
    // a fresh catalog read sees the new commit
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.del")
      .head().getLong(0) == 170)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.del WHERE id BETWEEN 40 AND 119")
      .head().getLong(0) == 0)
    // it is a commit: version advanced and the old snapshot still reads
    assert(LakeTable.latestVersion(t).contains(3L))
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.del VERSION AS OF 2")
      .head().getLong(0) == 250)
    // strict bound excluded 120 but kept it
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.del WHERE id = 120")
      .head().getLong(0) == 1)
  }

  test("SQL DELETE refuses untranslatable predicates loudly") {
    dmlTable("delrefuse")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graftlake.dml.delrefuse WHERE id % 2 = 0")
    }
    assert(e.getMessage.toLowerCase.contains("delete"),
      s"unexpected refusal message: ${e.getMessage}")
    // disjunctions stay refused — only conjunctions of ranges translate
    val e2 = intercept[Exception] {
      spark.sql("DELETE FROM graftlake.dml.delrefuse WHERE id < 5 OR v > 400")
    }
    assert(e2.getMessage.toLowerCase.contains("delete"))
    // nothing committed by either refusal
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delrefuse")
      .head().getLong(0) == 250)
  }

  test("SQL UPDATE with a two-column conjunction scopes the transaction") {
    val t = s"$root/dml/updconj"
    LakeTable.append(spark, t,
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"),
        lit(0L).as("flag")))
    LakeTable.append(spark, t,
      spark.range(100, 250).select(col("id"), (col("id") * 2).as("v"),
        lit(0L).as("flag")))
    // id >= 40 AND v < 300 ≡ id in [40, 149]
    spark.sql(
      "UPDATE graftlake.dml.updconj SET flag = 1 WHERE id >= 40 AND v < 300")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.updconj WHERE flag = 1")
      .head().getLong(0) == 110)
    assert(spark.sql(
      """SELECT count(*) AS n FROM graftlake.dml.updconj
        | WHERE flag = 1 AND (id < 40 OR id > 149)""".stripMargin)
      .head().getLong(0) == 0)
    // assigning one of the predicate columns still refuses
    val e = intercept[Exception] {
      spark.sql("UPDATE graftlake.dml.updconj SET v = 0 WHERE id >= 0 AND v < 10")
    }
    assert(e.getMessage.contains("predicate column"))
  }

  test("SQL DELETE with a two-column conjunction commits the minimal rewrite set") {
    val t = dmlTable("delconj") // v = id * 2; files: [0,100) and [100,250)
    // id >= 40 AND v < 300 ≡ id in [40, 149]: matches rows in BOTH files
    spark.sql("DELETE FROM graftlake.dml.delconj WHERE id >= 40 AND v < 300")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delconj")
      .head().getLong(0) == 250 - 110)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.delconj WHERE id BETWEEN 40 AND 149")
      .head().getLong(0) == 0)
    // survivors on both flanks intact
    assert(spark.sql(
      "SELECT min(id) AS a, max(id) AS b FROM graftlake.dml.delconj")
      .head().toSeq == Seq(0L, 249L))
    // intersection pruning, on a fresh table with known file boundaries:
    // the v conjunct must prune files the id conjunct alone cannot
    val t2 = dmlTable("delconj2")
    val before = LakeTable.snapshotFiles(t2, None)._1.size
    assert(before > 1)
    val v0 = LakeTable.latestVersion(t2).get
    // id >= 0 spans EVERY file; v < 30 (≡ id < 15) prunes to the first —
    // a single-column translation could not have skipped any file here
    spark.sql("DELETE FROM graftlake.dml.delconj2 WHERE id >= 0 AND v < 30")
    val commit = LakeTable.history(t2).find(_.version == v0 + 1).get
    assert(commit.remove.size < before,
      s"conjunction pruning rewrote all $before files: ${commit.remove}")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delconj2")
      .head().getLong(0) == 250 - 15)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delconj2 WHERE id < 15")
      .head().getLong(0) == 0)
  }

  test("DML conjuncts on one column in different case spellings intersect") {
    // ADVICE r5: `ID >= a AND id <= b` used to build two ranges that
    // both resolved to `id`, passing canDeleteWhere and then throwing
    // at execution; the ranges must intersect into ONE instead
    dmlTable("delcase")
    spark.sql("DELETE FROM graftlake.dml.delcase WHERE ID >= 40 AND id <= 149")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delcase")
      .head().getLong(0) == 250 - 110)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.delcase WHERE id BETWEEN 40 AND 149")
      .head().getLong(0) == 0)
    // same through the UPDATE translation (LakeSqlUpdate shares the fix)
    dmlTable("updcase")
    spark.sql("UPDATE graftlake.dml.updcase SET v = 0 WHERE ID >= 10 AND id <= 19")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.updcase WHERE v = 0 AND id >= 10")
      .head().getLong(0) == 10)
  }

  test("TRUNCATE TABLE is a metadata-only commit; time travel survives") {
    val t = dmlTable("trunc")
    val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      .filter(_.toString.endsWith(".parquet")).count()
    spark.sql("TRUNCATE TABLE graftlake.dml.trunc")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.trunc")
      .head().getLong(0) == 0)
    // no data file was written or removed — pure log metadata
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(after == dataFiles, s"truncate touched data files: $dataFiles -> $after")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.trunc VERSION AS OF 2")
      .head().getLong(0) == 250)
    // appends keep working after a truncate
    LakeTable.append(spark, t, spark.range(0, 7)
      .select(col("id"), (col("id") * 2).as("v")))
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.trunc")
      .head().getLong(0) == 7)
  }

  /** The executed plan's leaves, AQE wrappers and stages unwrapped. */
  private def leaves(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case l if l.children.isEmpty => Seq(l)
      case o => o.children.flatMap(walk)
    }
    df.collect()
    walk(df.queryExecution.executedPlan)
  }

  /** Answered from the log: a local row, and no file scan. */
  private def fromLog(df: DataFrame): Boolean = {
    val ls = leaves(df)
    ls.exists(_.isInstanceOf[LocalTableScanExec]) && !ls.exists(_.isInstanceOf[BatchScanExec])
  }

  private def scans(df: DataFrame): Boolean = leaves(df).exists(_.isInstanceOf[BatchScanExec])

  test("count(*) folds to log metadata: no scan, exact under time travel and DML") {
    val t = dmlTable("countstar")
    def planOf(sql: String) = {
      val df = spark.sql(sql)
      (df.head().getLong(0), df)
    }
    val (n, df) = planOf("SELECT count(*) AS n FROM graftlake.dml.countstar")
    assert(n == 250)
    assert(fromLog(df), s"count(*) must fold to metadata, got:\n${df.queryExecution.executedPlan}")
    // time travel folds against the pinned snapshot
    val (n1, df1) = planOf(
      "SELECT count(*) AS n FROM graftlake.dml.countstar VERSION AS OF 1")
    assert(n1 == 100 && fromLog(df1))
    // a copy-on-write DELETE updates the folded count (new files, new stats)
    spark.sql("DELETE FROM graftlake.dml.countstar WHERE id < 30")
    val (n2, df2) = planOf("SELECT count(*) AS n FROM graftlake.dml.countstar")
    assert(n2 == 220 && fromLog(df2))
    // grouped/filtered counts must NOT fold — they need the scan
    val grouped = spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.countstar WHERE id >= 100")
    assert(grouped.head().getLong(0) == 150)
    assert(scans(grouped), "a filtered count must keep the scan")
  }

  test("min/max fold to log metadata for integral columns only") {
    val t = dmlTable("minmax")
    // add a double column table-mate via schema evolution-free route:
    // the base table has (id: long, v: long); query both aggregates
    def run(sql: String) = {
      val df = spark.sql(sql)
      (df.head(), df)
    }
    val (r, df) = run(
      "SELECT count(*) AS n, min(id) AS mn, max(v) AS mx FROM graftlake.dml.minmax")
    assert(r.getLong(0) == 250 && r.getLong(1) == 0 && r.getLong(2) == 498)
    assert(fromLog(df),
      s"count/min/max must fold to metadata, got:\n${df.queryExecution.executedPlan}")
    // time travel folds against the pinned snapshot (version 1 = 0..99)
    val (r1, df1) = run(
      "SELECT min(id) AS mn, max(id) AS mx FROM graftlake.dml.minmax VERSION AS OF 1")
    assert(r1.getLong(0) == 0 && r1.getLong(1) == 99 && fromLog(df1))
    // a copy-on-write DELETE narrows the folded range (new files, new stats)
    spark.sql("DELETE FROM graftlake.dml.minmax WHERE id < 30")
    val (r2, df2) = run(
      "SELECT min(id) AS mn FROM graftlake.dml.minmax")
    assert(r2.getLong(0) == 30 && fromLog(df2))
    // filtered / grouped / expression aggregates must keep the scan
    val filtered = spark.sql(
      "SELECT min(id) AS mn FROM graftlake.dml.minmax WHERE id >= 100")
    assert(filtered.head().getLong(0) == 100)
    assert(scans(filtered), "a filtered min must keep the scan")
    val computed = spark.sql(
      "SELECT min(id + 1) AS mn FROM graftlake.dml.minmax")
    assert(computed.head().getLong(0) == 31)
    assert(scans(computed), "min over an expression must keep the scan")
    val grouped = spark.sql(
      "SELECT v % 2 AS k, min(id) AS mn FROM graftlake.dml.minmax GROUP BY v % 2")
    assert(grouped.collect().map(_.getLong(1)).toSeq == Seq(30L))
    assert(scans(grouped), "a grouped min must keep the scan")
  }

  test("min/max fold refuses double columns and deletion-vector snapshots") {
    val t = s"$root/dml/minmaxguards"
    LakeTable.append(spark, t, spark.range(0, 100)
      .select(col("id"), (col("id").cast("double") / 4.0).as("score")))
    // double column: stats exist for pruning, but the fold must refuse
    // (parquet stats exclude NaN; Spark's max orders NaN above +Inf)
    val d = spark.sql("SELECT max(score) AS mx FROM graftlake.dml.minmaxguards")
    assert(math.abs(d.head().getDouble(0) - 24.75) < 1e-9)
    assert(scans(d), "float max must keep the scan")
    // integral column on the same table folds
    val i = spark.sql("SELECT max(id) AS mx FROM graftlake.dml.minmaxguards")
    assert(i.head().getLong(0) == 99)
    assert(fromLog(i))
    // a DV delete poisons the metadata path (the masked row could be the
    // max, and its count is not in the log): the DSv2 scan builder
    // refuses the DV snapshot AT PLAN TIME, before any answer, loudly,
    // instead of resurrecting deleted rows. A wrong fold would have
    // returned 100 silently; the throw proves the fold did not happen.
    LakeTable.deleteWhereDV(spark, t, "id", 99.0, 100.0)
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) AS n FROM graftlake.dml.minmaxguards").head()
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
  }

  test("log answers through the DataFrame reader: versionAsOf, no extensions, column types") {
    val t = dmlTable("readerfold")
    LakeTable.append(spark, t, spark.range(250, 260)
      .select(col("id"), (col("id") * 2).as("v")))
    def aggs(df: DataFrame) = df.agg(count(lit(1)), min("id"), max("v"))
    // option("versionAsOf") pins the snapshot the answer comes from
    val v2 = aggs(spark.read.format("lake").option("versionAsOf", 2L).load(t))
    assert(v2.head() == Row(250L, 0L, 498L) && fromLog(v2))
    val latest = aggs(spark.read.format("lake").load(t))
    assert(latest.head() == Row(260L, 0L, 518L) && fromLog(latest))
    // the answer is the source's own: a session without the graft
    // extensions gets it too
    withPlainSession { plain =>
      val df = aggs(plain.read.format("lake").option("versionAsOf", 1L).load(t))
      assert(df.head() == Row(100L, 0L, 198L) && fromLog(df))
    }
    // each answer carries its column's type, and a nullable column's
    // count(col) is left to the scan (the log counts rows, not values)
    val typed = s"$root/dml/typedfold"
    LakeTable.append(spark, typed, spark.range(-5, 40).select(
      col("id").cast("byte").as("b"), (col("id") * 300).cast("short").as("s"),
      (col("id") * 70000).cast("int").as("i")))
    val mm = spark.read.format("lake").load(typed)
      .agg(min("b"), max("b"), min("s"), max("s"), min("i"), max("i"))
    assert(mm.schema.map(_.dataType) == Seq(ByteType, ByteType, ShortType, ShortType,
      IntegerType, IntegerType))
    assert(mm.head() == Row(-5.toByte, 39.toByte, -1500.toShort, 11700.toShort,
      -350000, 2730000) && fromLog(mm))
    val counted = spark.read.format("lake").load(typed).agg(count("i"))
    assert(counted.head().getLong(0) == 45L && scans(counted))
  }

  test("SQL UPDATE executes as a lake transaction with lossless guards") {
    val t = dmlTable("upd")
    graft.plans.GraftExtensions.install(spark)
    spark.sql("UPDATE graftlake.dml.upd SET v = 7 WHERE id >= 40 AND id < 120")
    val after = spark.sql(
      "SELECT sum(v) AS s, count(*) AS n FROM graftlake.dml.upd WHERE v = 7")
      .head()
    assert(after.getLong(1) == 80, s"expected 80 updated rows, got $after")
    // untouched rows keep their values
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.upd WHERE v = 2 * id").head()
      .getLong(0) == 170)
    // time travel still sees the pre-update table
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.upd VERSION AS OF 2 WHERE v = 7")
      .head().getLong(0) == 0)
    // flipped literal comparison: `130 > id` == `id < 130`
    spark.sql("UPDATE graftlake.dml.upd SET v = 9 WHERE 130 > id AND id >= 120")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.upd WHERE v = 9").head()
      .getLong(0) == 10)
    // lossy literal: Cast(2.5 AS BIGINT) would silently fold to 2 — the
    // rule hands the RAW literal to the lossless validation, which throws
    val lossy = intercept[Exception] {
      spark.sql("UPDATE graftlake.dml.upd SET v = 2.5 WHERE id < 10")
    }
    assert(lossy.getMessage.contains("not an integral value"), lossy.getMessage)
    // computed update: refused (merge covers it)
    val computed = intercept[Exception] {
      spark.sql("UPDATE graftlake.dml.upd SET v = v + 1 WHERE id < 10")
    }
    assert(computed.getMessage.contains("non-literal"), computed.getMessage)
    // full-table update: refused (no predicate column to scope the txn)
    val full = intercept[Exception] {
      spark.sql("UPDATE graftlake.dml.upd SET v = 1")
    }
    assert(full.getMessage.contains("WHERE"), full.getMessage)
    // predicate-column assignment: refused by updateWhere
    val self = intercept[Exception] {
      spark.sql("UPDATE graftlake.dml.upd SET id = 1 WHERE id < 10")
    }
    assert(self.getMessage.contains("predicate column"), self.getMessage)
  }

  test("SQL INSERT INTO appends as a lake transaction") {
    val t = dmlTable("ins")
    graft.plans.GraftExtensions.install(spark)
    spark.sql(
      "INSERT INTO graftlake.dml.ins SELECT id, id * 3 AS v FROM range(250, 300)")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.ins")
      .head().getLong(0) == 300)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.ins WHERE v = 3 * id AND id >= 250")
      .head().getLong(0) == 50)
    // the append is a commit: time travel sees the pre-insert table
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.ins VERSION AS OF 2")
      .head().getLong(0) == 250)
    // INSERT OVERWRITE refuses loudly
    val ow = intercept[Exception] {
      spark.sql("INSERT OVERWRITE graftlake.dml.ins SELECT id, id AS v FROM range(5)")
    }
    assert(ow.getMessage.contains("INSERT OVERWRITE"), ow.getMessage)
  }

  test("SQL MERGE INTO upserts as a lake transaction; non-upsert shapes refuse") {
    val t = dmlTable("mrg")
    graft.plans.GraftExtensions.install(spark)
    // update rows 0..9, insert rows 500..504
    spark.sql(
      """MERGE INTO graftlake.dml.mrg t
        | USING (SELECT id, CAST(999 AS BIGINT) AS v FROM range(0, 10)
        |        UNION ALL SELECT id, CAST(1000 AS BIGINT) AS v FROM range(500, 505)) s
        | ON t.id = s.id
        | WHEN MATCHED THEN UPDATE SET *
        | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.mrg")
      .head().getLong(0) == 255)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.mrg WHERE v = 999")
      .head().getLong(0) == 10)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.mrg WHERE v = 1000")
      .head().getLong(0) == 5)
    // untouched rows intact
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.mrg WHERE v = 2 * id AND id >= 10 AND id < 250")
      .head().getLong(0) == 240)
    // a conditional matched action refuses (would change upsert semantics)
    val typedSrc = "(SELECT CAST(1 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v) s"
    val cond = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graftlake.dml.mrg t USING $typedSrc
           | ON t.id = s.id
           | WHEN MATCHED AND s.v > 0 THEN UPDATE SET *""".stripMargin)
    }
    assert(cond.getMessage.contains("WHEN MATCHED"), cond.getMessage)
    // a DELETE action refuses
    val del = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graftlake.dml.mrg t USING $typedSrc
           | ON t.id = s.id WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(del.getMessage.contains("WHEN MATCHED"), del.getMessage)
    // duplicate source keys refuse inside the transaction (merge guard)
    val dup = intercept[Exception] {
      spark.sql(
        """MERGE INTO graftlake.dml.mrg t
          | USING (SELECT CAST(1 AS BIGINT) AS id, CAST(2 AS BIGINT) AS v
          |        UNION ALL SELECT CAST(1 AS BIGINT) AS id, CAST(3 AS BIGINT) AS v) s
          | ON t.id = s.id
          | WHEN MATCHED THEN UPDATE SET *
          | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(dup.getMessage.contains("duplicate key"), dup.getMessage)
  }

  test("SQL DELETE guards: flipped literals work, unbounded float ranges refuse") {
    import org.apache.spark.sql.functions.col
    // a float-valued column alongside the longs
    val t = s"$root/dml/delguards"
    LakeTable.append(spark, t, spark.range(0, 100)
      .select(col("id"), (col("id").cast("double") / 4.0).as("score")))
    // literal-on-the-left comparison: `30 > id` == `id < 30`
    spark.sql("DELETE FROM graftlake.dml.delguards WHERE 30 > id")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delguards")
      .head().getLong(0) == 70)
    // double column, one-sided range: Spark orders NaN above +Inf, so an
    // unbounded side could silently disagree with the row filter — refuse
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graftlake.dml.delguards WHERE score >= 20.0")
    }
    assert(e.getMessage.toLowerCase.contains("delete"), e.getMessage)
    // bounded on both sides: fine ([20, 24.75] = ids 80..99)
    spark.sql(
      "DELETE FROM graftlake.dml.delguards WHERE score >= 20.0 AND score <= 24.75")
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.delguards")
      .head().getLong(0) == 50)
  }

  test("TIMESTAMP AS OF resolves to the version in effect at that instant") {
    val t = s"$root/dml/traveltime"
    LakeTable.append(spark, t,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    Thread.sleep(10) // commit clock is millis-grained
    LakeTable.append(spark, t,
      spark.range(10, 30).select(col("id"), (col("id") * 2).as("v")))
    val hist = LakeTable.history(t)
    assert(hist.forall(_.ts > 0L), "commits must record wall-clock")
    val Seq(t1, t2) = hist.map(_.ts)
    assert(t2 > t1)
    def fmt(ms: Long): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
    // at v1's instant: only the first append is visible
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftlake.dml.traveltime TIMESTAMP AS OF '${fmt(t1)}'")
      .head().getLong(0) == 10)
    // at v2's instant (and later): the full table
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftlake.dml.traveltime TIMESTAMP AS OF '${fmt(t2)}'")
      .head().getLong(0) == 30)
    // before the first commit: loud error, not an empty table
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT count(*) AS n FROM graftlake.dml.traveltime TIMESTAMP AS OF '${fmt(t1 - 1)}'")
        .collect()
    }
    assert(e.getMessage.contains("nothing existed yet"),
      s"unexpected: ${e.getMessage}")
  }

  test("TIMESTAMP AS OF refuses logs from before timestamps were recorded") {
    val t = s"$root/dml/travelold"
    LakeTable.append(spark, t,
      spark.range(0, 5).select(col("id"), (col("id") * 2).as("v")))
    // simulate a pre-timestamp-era commit: strip the ts field from v1
    val logFile = java.nio.file.Paths.get(t, "_txlog",
      f"${1L}%020d.json")
    val json = new String(java.nio.file.Files.readAllBytes(logFile))
    assert(json.contains("\"ts\":"))
    java.nio.file.Files.write(logFile,
      json.replaceAll("\"ts\":\\d+,", "").getBytes)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graftlake.dml.travelold TIMESTAMP AS OF '2030-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("before timestamps were recorded"))
    // VERSION AS OF still works on the same table
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftlake.dml.travelold VERSION AS OF 1")
      .head().getLong(0) == 5)
  }

  test("time-based restore and vacuum resolve through commit wall-clock") {
    val t = s"$root/dml/timeverbs"
    LakeTable.append(spark, t,
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    Thread.sleep(10)
    LakeTable.append(spark, t,
      spark.range(10, 30).select(col("id"), (col("id") * 2).as("v")))
    val t1 = LakeTable.history(t).head.ts
    // restore to the instant of v1 → table back to 10 rows, as v3
    LakeTable.restoreToTimestamp(t, t1)
    assert(LakeTable.latestVersion(t).contains(3L))
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.timeverbs")
      .head().getLong(0) == 10)
    // a huge retention window reclaims nothing
    assert(LakeTable.vacuumRetainMillis(t, 24L * 3600 * 1000).isEmpty)
    // zero retention keeps only the current snapshot: v2's extra file
    // (unreachable from the restored state) is reclaimed
    val dropped = LakeTable.vacuumRetainMillis(t, 0L)
    assert(dropped.nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.timeverbs")
      .head().getLong(0) == 10)
  }

  test("vacuum retention floor is the snapshot in effect at the window start") {
    val t = s"$root/dml/vacfloor"
    LakeTable.append(spark, t,
      spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))) // v1
    Thread.sleep(150)
    // v2 REMOVES v1's files — the ADVICE r5 boundary case: an instant in
    // (t1, t2) resolves to v1, so a window starting there must keep v1
    LakeTable.overwrite(spark, t,
      spark.range(0, 7).select(col("id"), (col("id") * 2).as("v")))
    val hist = LakeTable.history(t)
    val (c1, c2) = (hist.head, hist(1))
    val cutoff = (c1.ts + c2.ts) / 2
    assert(LakeTable.versionAtTimestamp(t, cutoff) == c1.version)
    // retention window starting strictly between the commits: v2 is
    // inside the window, but v1 is the snapshot IN EFFECT at the window
    // start — nothing may be reclaimed (the old floor — first commit
    // at/after the cutoff — would have reclaimed v1's files here and
    // broken TIMESTAMP AS OF inside the window)
    val dropped =
      LakeTable.vacuumRetainMillis(t, System.currentTimeMillis() - cutoff)
    assert(dropped.isEmpty,
      s"window-start snapshot's files were reclaimed: $dropped")
    // every instant inside the window stays time-travelable
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftlake.dml.vacfloor VERSION AS OF ${c1.version}")
      .head().getLong(0) == 5)
    // zero retention: now only the current snapshot must survive
    assert(LakeTable.vacuumRetainMillis(t, 0L).nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graftlake.dml.vacfloor")
      .head().getLong(0) == 7)
  }

  test("DELETE FROM a VERSION AS OF snapshot is refused") {
    dmlTable("deltravel")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graftlake.dml.deltravel VERSION AS OF 1 WHERE id <= 5")
    }
    // Spark may refuse time-travel DML in analysis; if it reaches the
    // table, our own guard throws — either way it must not commit
    assert(LakeTable.latestVersion(s"$root/dml/deltravel").contains(2L))
    assert(e != null)
  }
}

package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** ACID table format on plain Parquet — the transaction-log half of the
  * "lakehouse" (data lake + ACID) thesis, built from scratch because no
  * Delta/Iceberg jars exist in this environment. The protocol is the
  * published one (Armbrust et al., "Delta Lake: High-Performance ACID
  * Table Storage over Cloud Object Stores", VLDB 2020): an append-only
  * log of versioned commits, each listing data files added/removed;
  * a snapshot at version V is the replay of commits 1..V; writers race
  * to create version V+1 with an ATOMIC create-exclusive, and the loser
  * rebases and retries (optimistic concurrency).
  *
  * Guarantees (spec-verified in `LakeTableSpec`):
  *  - **Atomicity**: a commit is one log-file creation; data files are
  *    staged first and invisible until the log entry exists, so a
  *    crashed writer leaves orphans, never a torn table.
  *  - **Isolation**: snapshots pin a file list; concurrent commits
  *    (even overwrites) never change what an open snapshot reads,
  *    because data files are immutable and removal is logical.
  *  - **Serializability**: the contiguous version counter is the
  *    serial order; appends commute and rebase-retry, overwrite
  *    re-derives its remove-set against the winner before retrying
  *    (last-writer-wins, like Delta under WriteSerializable).
  *  - **Time travel**: any historical version remains readable until
  *    vacuumed.
  *
  * The log CAS uses `Files.createLink` (hard-link creation is O_EXCL-
  * atomic and publishes fully-written content in one syscall) — the
  * local-filesystem equivalent of the HDFS rename-no-overwrite
  * LogStore; an object-store deployment would swap in a put-if-absent.
  * Data files are written by Spark (distributed, any size); ONLY the
  * driver touches the log, which is O(commits), not O(data). */
object LakeTable {

  private val LogDir = "_txlog"

  /** One log entry. `addStats` aligns with `add`: per-file column
    * min/max in the flat form `col=min:max;col2=...` (numeric columns
    * only; empty string = no stats) — the data-skipping index. `txn` is
    * an optional idempotence token `appId:version` for exactly-once
    * streaming appends (Delta's txnAppId/txnVersion pattern). */
  /** `cdc`: table-relative parquet files holding this commit's row-level
    * change feed (data columns + `_change_type`), staged by the DML
    * verbs and read by [[changeFeed]]. Never part of any snapshot —
    * the replayer ignores them — but vacuum-retained alongside the
    * versions that reference them. Commits written before the field
    * existed decode to empty (no feed available → loud refusal). */
  /** `ts` is the commit wall-clock (epoch millis), stamped at CAS time —
    * transactional state in the log record itself, NOT file mtime (which
    * copies/restores would silently rewrite). 0 marks a commit from
    * before timestamps were recorded; timestamp-based time travel
    * refuses on such logs instead of guessing. */
  /** `props` carries table-level metadata every commit re-asserts
    * (currently CHECK constraints as `name=sql` entries) — the Delta
    * pattern where the newest commit's metadata IS the table's
    * metadata. Absent in pre-props logs → decodes empty. */
  final case class Commit(version: Long, op: String, add: Seq[String],
      remove: Seq[String], schemaJson: String,
      addStats: Seq[String] = Seq.empty, txn: String = "",
      cdc: Seq[String] = Seq.empty, ts: Long = 0L,
      props: Seq[String] = Seq.empty)

  // ---- log encoding (hand-rolled, no deps beyond the JDK) -------------

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  private def encode(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"version":${c.version},"op":"${c.op}","ts":${c.ts},"add":${arr(c.add)},"remove":${arr(c.remove)},"stats":${arr(c.addStats)},"txn":"${esc(c.txn)}","cdc":${arr(c.cdc)},"props":${arr(c.props)},"schema":"${esc(c.schemaJson)}"}"""
  }

  /** Parse one commit file. The format is self-authored (see [[encode]]),
    * so a targeted parser is safe — no general JSON needed. */
  private def decode(s: String): Commit = {
    def field(name: String): String = {
      val key = "\"" + name + "\":"
      val i = s.indexOf(key)
      require(i >= 0, s"corrupt commit: missing $name")
      s.drop(i + key.length)
    }
    def str(rest: String): String = {
      // rest starts with '"'; scan to the unescaped closing quote
      val b = rest.drop(1)
      var i = 0
      while (b.charAt(i) != '"') { if (b.charAt(i) == '\\') i += 1; i += 1 }
      unesc(b.take(i))
    }
    def strArr(rest: String): Seq[String] = {
      require(rest.startsWith("["), "corrupt commit: expected array")
      val out = Seq.newBuilder[String]
      var r = rest.drop(1)
      while (!r.startsWith("]")) {
        val v = str(r)
        out += v
        // skip past the quoted value we just read (re-escaped length)
        r = r.drop(2 + esc(v).length)
        if (r.startsWith(",")) r = r.drop(1)
      }
      out.result()
    }
    def opt[A](name: String, f: String => A, default: A): A =
      if (s.contains("\"" + name + "\":")) f(field(name)) else default
    Commit(
      version = field("version").takeWhile(c => c.isDigit).toLong,
      op = str(field("op")),
      add = strArr(field("add")),
      remove = strArr(field("remove")),
      schemaJson = str(field("schema")),
      addStats = opt("stats", strArr, Seq.empty),
      txn = opt("txn", str, ""),
      cdc = opt("cdc", strArr, Seq.empty),
      ts = opt("ts", _.takeWhile(_.isDigit).toLong, 0L),
      props = opt("props", strArr, Seq.empty))
  }

  // ---- log primitives --------------------------------------------------

  private def logDir(table: String): Path = Paths.get(table, LogDir)

  private def versionFile(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")

  import scala.jdk.CollectionConverters._

  /** All committed versions, ascending. */
  def versions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val it = Files.list(d)
      try it.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
        .map(_.getFileName.toString.dropRight(5).toLong).toSeq.sorted
      finally it.close()
    }
  }

  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  private def readCommit(table: String, v: Long): Commit =
    decode(new String(Files.readAllBytes(versionFile(table, v)), UTF_8))

  def history(table: String): Seq[Commit] = versions(table).map(readCommit(table, _))

  /** The snapshot version in effect at wall-clock `tsMillis` — Delta's
    * `TIMESTAMP AS OF` semantics: the LATEST commit whose recorded time
    * is at or before the asked instant. Commit times are monotonized
    * with a running max during resolution, so clock skew between racing
    * writers can never make a later version resolve before an earlier
    * one. Refuses (rather than guesses) when the log predates recorded
    * timestamps or the instant is earlier than the first commit. */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val commits = history(table)
    require(commits.nonEmpty, s"no such table: $table")
    if (commits.exists(_.ts == 0L))
      throw new UnsupportedOperationException(
        s"lake: $table has commits from before timestamps were recorded; " +
          "TIMESTAMP AS OF cannot answer deterministically — use " +
          "VERSION AS OF <commit version>")
    var eff = 0L
    var found = -1L
    commits.foreach { c =>
      eff = math.max(eff, c.ts) // monotonized commit time
      if (eff <= tsMillis) found = c.version
    }
    require(found >= 0,
      s"lake: $table's first commit is at epoch-ms ${commits.head.ts}, " +
        s"after the asked instant $tsMillis; nothing existed yet")
    found
  }

  /** Stream start boundary for `startingTimestamp`: the last version
    * STRICTLY BEFORE the instant (0 if none) — a stream starting
    * "after" this version serves every commit whose monotonized time is
    * at or after the instant, Delta's startingTimestamp contract. Same
    * refusal on pre-timestamp-era logs as [[versionAtTimestamp]]. */
  def streamStartVersionAt(table: String, tsMillis: Long): Long = {
    val commits = history(table)
    require(commits.nonEmpty, s"no such table: $table")
    if (commits.exists(_.ts == 0L))
      throw new UnsupportedOperationException(
        s"lake: $table has commits from before timestamps were recorded; " +
          "startingTimestamp cannot answer deterministically — use " +
          "startingVersion")
    var eff = 0L
    var found = 0L
    commits.foreach { c =>
      eff = math.max(eff, c.ts)
      if (eff < tsMillis) found = c.version
    }
    found
  }

  /** Commit interval at which writers leave a checkpoint: a single file
    * holding the full live (file, stats) snapshot, so readers replay
    * O(CheckpointEvery) tail commits instead of the whole log — the
    * log-compaction half of the Delta protocol. At 100 TB the log is
    * years of commits; without this, snapshot construction is O(n). */
  val CheckpointEvery: Long = 10

  private def checkpointFile(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  /** Latest checkpoint at or below `upTo`, if any. Encoded as a commit
    * whose add/addStats hold the ENTIRE live set. */
  private def latestCheckpoint(table: String, upTo: Long): Option[Commit] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) None
    else {
      val it = Files.list(d)
      val vs =
        try it.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.matches("\\d{20}\\.checkpoint\\.json"))
          .map(_.take(20).toLong).filter(_ <= upTo).toSeq
        finally it.close()
      vs.sorted.lastOption.map { v =>
        decode(new String(Files.readAllBytes(checkpointFile(table, v)), UTF_8))
      }
    }
  }

  /** Write the checkpoint for version `v` (idempotent; best-effort —
    * a lost checkpoint only costs replay time, never correctness).
    * The ENTIRE body is exception-guarded: it runs after tryCommit has
    * already succeeded, so an IO failure here (disk full, replay error)
    * must never surface as a failed append/merge — the transaction IS
    * committed, the checkpoint is only an optimization. */
  private def maybeCheckpoint(table: String, v: Long): Unit =
    try {
      if (v % CheckpointEvery == 0 && !Files.exists(checkpointFile(table, v))) {
        val r = fullReplayer(table, v)
        val (live, schema) = r.result
        val c = Commit(v, "checkpoint", live.map(_._1), Seq.empty,
          schema.getOrElse(""), live.map(_._2),
          txn = r.tokens.mkString(","))
        val tmp = logDir(table).resolve(s".tmpck-${java.util.UUID.randomUUID()}")
        Files.write(tmp, encode(c).getBytes(UTF_8))
        try Files.move(tmp, checkpointFile(table, v),
          StandardCopyOption.ATOMIC_MOVE)
        catch { case NonFatal(_) => () } // raced another writer: identical content
        finally { Files.deleteIfExists(tmp); () }
      }
    } catch { case NonFatal(_) => () }

  /** One shared commit-application step — the ONLY place the live-set
    * merge semantics exist, so the checkpoint path and the full-replay
    * path cannot diverge (a checkpoint entry is just a pre-merged
    * commit). */
  private final class Replayer {
    val live = scala.collection.mutable.LinkedHashMap[String, String]()
    val tokens = scala.collection.mutable.LinkedHashSet[String]()
    var schema: Option[String] = None
    def apply(c: Commit): Unit = {
      c.remove.foreach(live -= _)
      c.add.zipWithIndex.foreach { case (f, i) =>
        live(f) = c.addStats.lift(i).getOrElse("")
      }
      // a checkpoint entry carries the comma-joined union of all tokens
      tokens ++= c.txn.split(',').filter(_.nonEmpty)
      if (c.schemaJson.nonEmpty) schema = Some(c.schemaJson)
    }
    def result: (Seq[(String, String)], Option[String]) = (live.toSeq, schema)
  }

  /** Full-replay reference implementation (also builds checkpoints). */
  private def fullReplayer(table: String, upTo: Long): Replayer = {
    val r = new Replayer
    versions(table).takeWhile(_ <= upTo).foreach(v => r(readCommit(table, v)))
    r
  }

  private def replay(table: String, version: Option[Long])
      : (Seq[(String, String)], Option[String]) =
    fullReplayer(table,
      version.orElse(latestVersion(table)).getOrElse(0L)).result

  /** Live (file, stats) list + schema at `version` (default: latest).
    * Starts from the newest checkpoint ≤ version and replays only the
    * tail commits. Requesting a version that was never committed is an
    * error (silently serving the latest state as "version 99" would be
    * wrong data for an audit read). */
  def snapshotFilesWithStats(table: String, version: Option[Long] = None)
      : (Seq[(String, String)], Option[String]) = {
    val latest = latestVersion(table).getOrElse(0L)
    version.foreach(v => require(v >= 1 && v <= latest,
      s"version $v does not exist in $table (latest: $latest)"))
    val upTo = version.getOrElse(latest)
    latestCheckpoint(table, upTo) match {
      case None => replay(table, Some(upTo))
      case Some(ck) =>
        val r = new Replayer
        r(ck)
        versions(table).filter(v => v > ck.version && v <= upTo)
          .foreach(v => r(readCommit(table, v)))
        r.result
    }
  }

  /** Live file list + schema at `version` (default: latest). */
  def snapshotFiles(table: String, version: Option[Long] = None): (Seq[String], Option[String]) = {
    val (fs, schema) = snapshotFilesWithStats(table, version)
    (fs.map(_._1), schema)
  }

  /** The atomic commit CAS: returns true iff this writer created the
    * version file. Content is fully durable before publication (written
    * to a temp file, published by hard-link creation — one atomic
    * syscall that fails if the target exists). */
  /** Zero-copy CLONE of `src`'s current snapshot into a NEW table at
    * `dst`: every live data file (and DV sidecar) HARDLINKS into `dst`
    * under its original rel path, and one v1 commit registers them with
    * their log stats, the source's schema, and its props (constraints +
    * column tombstones) carried over. No data copied, no scan run —
    * O(files) metadata work, the dev/test-snapshot verb at 100 TB.
    *
    * Hardlinks make this STRONGER than a path-sharing shallow clone
    * (Delta's shallow clone breaks when the source vacuums): each
    * side's vacuum unlinks its own name and the inode survives until
    * the last reference drops, so the clone stays readable whatever
    * the source does — while still writing zero data bytes. Bloom
    * sidecars are advisory and rebuildable; the clone starts
    * unindexed. */
  def cloneTable(src: String, dst: String): Long = {
    val (all, schemaJson) = snapshotFilesWithStats(src, None)
    require(schemaJson.isDefined, s"no such table: $src")
    require(latestVersion(dst).isEmpty, s"clone target already exists: $dst")
    val (srcRoot, dstRoot) = (Paths.get(src), Paths.get(dst))
    all.foreach { case (e, _) =>
      val p = parseEntry(e)
      (p.data +: p.dv.toSeq).foreach { rel =>
        val to = dstRoot.resolve(rel)
        Files.createDirectories(to.getParent)
        if (!Files.exists(to)) Files.createLink(to, srcRoot.resolve(rel))
      }
    }
    val ok = tryCommit(dst, Commit(1L, "clone", all.map(_._1), Seq.empty,
      schemaJson.get, addStats = all.map(_._2), props = currentProps(src)))
    require(ok, s"clone target already exists: $dst")
    1L
  }

  private def tryCommit(table: String, c: Commit): Boolean = {
    Files.createDirectories(logDir(table))
    // every commit re-asserts the table props (constraints): only the
    // constraint-editing ops carry an explicit set; everything else —
    // whatever code path built the Commit — inherits the predecessor's.
    // The predecessor is immutable and (versions are contiguous) exists
    // whenever version > 1, so the inherit read is race-free.
    val props =
      if (c.op == "addconstraint" || c.op == "dropconstraint" ||
        c.op == "dropcolumn") c.props // dropcolumn adds a name tombstone
      else if (c.version > 1) readCommit(table, c.version - 1).props
      else c.props
    val tmp = logDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    // stamp the commit wall-clock at CAS time, so rebased retries carry
    // the time they actually committed
    Files.write(tmp,
      encode(c.copy(ts = System.currentTimeMillis(), props = props))
        .getBytes(UTF_8))
    try { Files.createLink(versionFile(table, c.version), tmp); true }
    catch { case NonFatal(_) => false }
    finally Files.deleteIfExists(tmp)
  }

  // ---- write path ------------------------------------------------------

  // ---- CHECK constraints (Delta-style table invariants) ---------------

  /** Active CHECK constraints (name → boolean SQL expression) from the
    * newest commit's props — every commit re-asserts the full set, so
    * the latest commit IS the table metadata (the Delta pattern). */
  def constraints(table: String): Map[String, String] =
    latestVersion(table).map(readCommit(table, _).props).getOrElse(Seq.empty)
      .filterNot(_.startsWith(DroppedPropPrefix)) // column tombstones, not CHECKs
      .flatMap { p =>
        val i = p.indexOf('=')
        if (i <= 0) None else Some(p.take(i) -> p.drop(i + 1))
      }.toMap

  /** Tombstoned column-name props (`dropped:<lowername>=1`). The ':' in
    * the prefix cannot collide with constraint names ([A-Za-z0-9_]+). */
  private val DroppedPropPrefix = "dropped:"

  private def droppedProps(table: String): Seq[String] =
    currentProps(table).filter(_.startsWith(DroppedPropPrefix))

  /** Lowercased names of every column ever dropped from the table. */
  def droppedColumns(table: String): Set[String] =
    droppedProps(table)
      .map(_.stripPrefix(DroppedPropPrefix).takeWhile(_ != '=')).toSet

  /** The raw prop entries of the newest commit (currently: constraint
    * definitions) — what every data commit must re-assert. */
  private def currentProps(table: String): Seq[String] =
    latestVersion(table).map(readCommit(table, _).props).getOrElse(Seq.empty)

  /** SQL-standard CHECK semantics: a row violates only when the
    * expression is strictly FALSE — NULL (unknown) passes. */
  private def constraintHolds(sql: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    coalesce(expr(sql).cast("boolean"), lit(true))
  }

  /** Column names a constraint expression references (unresolved). */
  private def constraintRefs(sql: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
      .collect { case ua: UnresolvedAttribute => ua.name }
  }

  /** Refuse a schema-replacing write that drops a column an active
    * CHECK constraint references — otherwise the constraint passes the
    * replacing batch via null-substitution and then every later write
    * dies in analysis ('cannot resolve ...') until the constraint is
    * dropped by hand. Delta refuses the metadata change the same way. */
  private def requireConstraintColumns(table: String,
      newSchema: StructType, op: String): Unit = {
    val have = newSchema.fieldNames.map(_.toLowerCase).toSet
    constraints(table).foreach { case (name, sql) =>
      val missing = constraintRefs(sql).filterNot(r => have(r.toLowerCase))
      require(missing.isEmpty,
        s"$op on $table drops column(s) ${missing.mkString(", ")} referenced " +
          s"by CHECK constraint `$name` ($sql); drop the constraint first")
    }
  }

  /** Fused write-path enforcement: each staged row flows through an
    * `assert_true` filter per active constraint — evaluated DURING the
    * staging scan (no second pass; Delta's invariant-check operator).
    * A violation fails the write loudly BEFORE any commit exists; the
    * crashed-writer contract already makes the partial staging
    * invisible. Nullable table columns the write omits evaluate as
    * NULL (they read back as null), so constraints over them apply
    * SQL unknown-passes semantics via literal-null substitution —
    * which the optimizer folds away when the constraint then passes
    * trivially. */
  private def enforceConstraints(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, col, isnull, lit}
    val cs = constraints(table)
    val have = df.schema.fieldNames.map(_.toLowerCase).toSet
    val tableSchema = latestVersion(table).flatMap(v =>
      snapshotFiles(table, Some(v))._2)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    // NOT NULL is enforced per ROW like Delta's invariants — the
    // schema check alone can't do it (Spark frames routinely carry
    // nullable=true over data that is in fact never null, so refusing
    // on writer-side nullability would reject legitimate appends,
    // while accepting it unchecked lets NULLs into a column the
    // committed schema promises non-null and every schema-trusting
    // reader then mis-folds IsNotNull)
    val notNull = tableSchema.map(_.fields.toSeq).getOrElse(Seq.empty)
      .filter(f => !f.nullable && have.contains(f.name.toLowerCase))
      .filter(f => df.schema(df.schema.fieldIndex(f.name)).nullable)
    if (cs.isEmpty && notNull.isEmpty) return df
    val missing = tableSchema.map(_.fields.toSeq).getOrElse(Seq.empty)
      .filter(f => !have.contains(f.name.toLowerCase))
    val extended = missing.foldLeft(df)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val nnChecked = notNull.foldLeft(extended) { (d, f) =>
      d.where(isnull(assert_true(col(f.name).isNotNull,
        lit(s"NOT NULL constraint violated: column `${f.name}`"))))
    }
    val checked = cs.foldLeft(nnChecked) { case (d, (name, sql)) =>
      d.where(isnull(assert_true(constraintHolds(sql),
        lit(s"CHECK constraint `$name` violated: $sql"))))
    }
    checked.select(df.columns.map(col).toSeq: _*)
  }

  /** ADD CONSTRAINT: validates the name and expression, proves the
    * EXISTING data satisfies it (Delta scans on ADD too — a constraint
    * must never be born broken), then lands a metadata-only commit
    * whose props carry the extended set. Concurrent writers carry
    * props forward on rebase, so the constraint survives races.
    * Like Delta, [[restoreTo]] does NOT re-validate: restoring to a
    * pre-constraint version can resurrect violating rows — the
    * restore verb is an explicit time-travel escape hatch. */
  def addConstraint(spark: SparkSession, table: String,
      name: String, sql: String): Long = {
    import org.apache.spark.sql.functions.expr
    require(name.matches("[A-Za-z0-9_]+"), s"constraint name `$name` invalid")
    // the expression must RESOLVE to boolean against the table: a
    // string-typed (or typo'd) expression would cast to NULL per row,
    // 'unknown passes', and the constraint would be accepted yet
    // enforce nothing, forever — Delta rejects non-boolean CHECKs too
    val dt = snapshot(spark, table).select(expr(sql)).schema.head.dataType
    require(dt == org.apache.spark.sql.types.BooleanType,
      s"CHECK constraint `$name` must be a boolean expression; " +
        s"`$sql` has type ${dt.simpleString}")
    // validate-then-commit is pinned: the commit only lands at exactly
    // the version the validation scan saw, so a write sneaking in
    // between scan and commit forces a re-validation pass (otherwise a
    // racing violating append would be committed UNDER the constraint,
    // breaking born-valid)
    var tries = 0
    while (tries < MaxRetries) {
      val cur = constraints(table)
      require(!cur.contains(name), s"constraint `$name` already exists")
      val v0 = latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no such table: $table"))
      val (_, schemaJson) = snapshotFiles(table, Some(v0))
      val violations = snapshot(spark, table, Some(v0))
        .where(!constraintHolds(sql)).limit(1).count()
      require(violations == 0L,
        s"cannot add CHECK constraint `$name`: existing rows violate $sql")
      raceHook("addconstraint") // test seam: a writer lands post-validation
      val props = ((cur + (name -> sql)).map { case (n, s) => s"$n=$s" }.toSeq ++
        droppedProps(table)).sorted
      val c = Commit(v0 + 1, "addconstraint", Seq.empty, Seq.empty,
        schemaJson.getOrElse(""), props = props)
      if (tryCommit(table, c)) { maybeCheckpoint(table, v0 + 1); return v0 + 1 }
      tries += 1 // someone committed after the scan: re-validate at the new tip
    }
    throw new IllegalStateException(
      s"addConstraint on $table failed after $MaxRetries validate-commit retries")
  }

  /** DROP CONSTRAINT: metadata-only commit with the shrunk set —
    * PINNED like [[addConstraint]]: the shrunk set derives from the
    * exact version the commit replaces, so a concurrent constraint
    * edit makes the CAS lose and the drop recompute from the winner's
    * set instead of silently erasing it on rebase. */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long = {
    var tries = 0
    while (tries < MaxRetries) {
      val cur = constraints(table)
      require(cur.contains(name), s"no such constraint: $name")
      val v0 = latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no such table: $table"))
      val (_, schemaJson) = snapshotFiles(table, Some(v0))
      raceHook("dropconstraint") // test seam: a constraint edit lands here
      val props = ((cur - name).map { case (n, s) => s"$n=$s" }.toSeq ++
        droppedProps(table)).sorted
      val c = Commit(v0 + 1, "dropconstraint", Seq.empty, Seq.empty,
        schemaJson.getOrElse(""), props = props)
      if (tryCommit(table, c)) { maybeCheckpoint(table, v0 + 1); return v0 + 1 }
      tries += 1 // re-derive the shrunk set from the winner's props
    }
    throw new IllegalStateException(
      s"dropConstraint on $table failed after $MaxRetries retries")
  }

  /** ALTER TABLE ADD COLUMN — metadata-only schema evolution: ONE log
    * commit carrying the widened schema and no files. The new column is
    * nullable by definition (every existing file lacks it; the explicit
    * -schema parquet scan null-fills, Spark's native behavior), so old
    * rows read as NULL and later writes may populate it.
    *
    * Re-adding a previously DROPPED name is refused: live files written
    * before the drop still carry the old PHYSICAL values, which would
    * resurrect — with stale data — under the re-added name. Delta
    * requires column mapping (physical ids) to allow this; without ids,
    * tombstoning the name forever is the honest contract
    * ([[droppedColumns]], carried as log props like constraints).
    *
    * Pinned validate-commit loop like [[addConstraint]]: the widened
    * schema derives from exactly the version the commit replaces, so a
    * racing schema edit makes the CAS lose and the derivation re-run
    * against the winner. */
  def addColumn(table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    require(name.matches("[A-Za-z0-9_]+"), s"column name `$name` invalid")
    requireNoReservedNames(StructType(Seq(StructField(name, dataType))),
      "addColumn")
    var tries = 0
    while (tries < MaxRetries) {
      val v0 = latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no such table: $table"))
      val (_, schemaJson) = snapshotFiles(table, Some(v0))
      val cur = DataType.fromJson(schemaJson.getOrElse(
        throw new IllegalStateException(s"$table carries no schema")))
        .asInstanceOf[StructType]
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"addColumn: column `$name` already exists in ${cur.simpleString}")
      require(!droppedColumns(table).contains(name.toLowerCase),
        s"addColumn: `$name` was previously dropped; live files may still " +
          "carry its old physical values (which would resurrect as stale " +
          "data) — use a fresh name")
      val widened = StructType(cur.fields :+
        StructField(name, dataType, nullable = true))
      raceHook("addcolumn") // test seam: a schema edit lands here
      // props inherit from the predecessor in tryCommit (constraints +
      // tombstones carry through untouched)
      val c = Commit(v0 + 1, "addcolumn", Seq.empty, Seq.empty, widened.json)
      if (tryCommit(table, c)) { maybeCheckpoint(table, v0 + 1); return v0 + 1 }
      tries += 1 // re-derive against the winner's schema
    }
    throw new IllegalStateException(
      s"addColumn on $table failed after $MaxRetries retries")
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: ONE commit with the
    * shrunk schema; no file is rewritten (the physical column stays in
    * the immutable parquet, the explicit-schema scan simply never reads
    * it — Delta's drop-column semantics). The name is tombstoned in the
    * log props so [[addColumn]]/mergeSchema can never resurrect the
    * stale physical values. Refused while a CHECK constraint references
    * the column ([[requireConstraintColumns]]) and for the last
    * remaining column. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    var tries = 0
    while (tries < MaxRetries) {
      val v0 = latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no such table: $table"))
      val (_, schemaJson) = snapshotFiles(table, Some(v0))
      val cur = DataType.fromJson(schemaJson.getOrElse(
        throw new IllegalStateException(s"$table carries no schema")))
        .asInstanceOf[StructType]
      val field = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"dropColumn: no column `$name` in ${cur.simpleString}"))
      val shrunk = StructType(cur.fields.filterNot(_.name == field.name))
      require(shrunk.nonEmpty, s"dropColumn: cannot drop the last column")
      requireConstraintColumns(table, shrunk, "dropColumn")
      val props = (currentProps(table).filterNot(_.startsWith(DroppedPropPrefix)) ++
        droppedProps(table) :+ s"$DroppedPropPrefix${field.name.toLowerCase}=1")
        .distinct.sorted
      raceHook("dropcolumn") // test seam: a schema edit lands here
      val c = Commit(v0 + 1, "dropcolumn", Seq.empty, Seq.empty,
        shrunk.json, props = props)
      if (tryCommit(table, c)) { maybeCheckpoint(table, v0 + 1); return v0 + 1 }
      tries += 1 // re-derive against the winner's schema
    }
    throw new IllegalStateException(
      s"dropColumn on $table failed after $MaxRetries retries")
  }

  /** Stage `df` as immutable parquet files under a unique subdir and
    * return their table-relative paths with per-file stats
    * ([[footerStats]]) — the data-skipping index, read from the footers
    * just written. Distributed write; nothing is visible until a log
    * entry references it. */
  private def stage(df: DataFrame, table: String): (Seq[String], Seq[String]) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val sub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
    val dir = Paths.get(table, sub)
    enforceConstraints(df, table).write.parquet(dir.toString)
    val conf = new org.apache.hadoop.conf.Configuration()
    val hdir = new HPath(dir.toString)
    val parts = hdir.getFileSystem(conf).listStatus(hdir).toSeq
      .filter { f => val n = f.getPath.getName; n.endsWith(".parquet") && !n.startsWith(".") }
      .sortBy(_.getPath.getName)
    (parts.map(f => s"$sub/${f.getPath.getName}"),
      parts.map(f => footerStats(graft.pc.Layout.readFooter(conf, f), df.schema)))
  }

  /** Key prefix separating string-typed stats from the numeric namespace
    * (a numeric parser must never see lexicographic bounds: a string
    * column holding "100".."99" would otherwise numeric-parse and
    * mis-prune). Columns whose NAME starts with the marker get no stats
    * at all — collision-proof by construction. */
  private[lake] val StrKeyPrefix = "str$"

  /** One file's log stats, from its footer alone — driver-side metadata
    * reads (a few KB per file), not a second full scan of freshly-staged
    * data. Which bounds are usable, and in which units, is
    * [[graft.pc.Layout.readFooter]]'s decision, folded over the file's
    * row groups by [[graft.pc.Layout.fileBounds]]; this is only the log
    * encoding, in `schema` order:
    *  - `#rows=n`, the file's exact row count, first — it serves
    *    metadata-only `count(*)` ([[LakeScanBuilder]]); left out
    *    when a real column's range takes the reserved key;
    *  - `name=min:max` for numbers (timestamps as micros, dates as days);
    *  - `str$name=min:max` for strings, percent-escaped
    *    ([[escBytes]]) and truncated to [[StrStatsMaxLen]] bytes.
    * A column without bounds, or named under [[StrKeyPrefix]], has no
    * entry, so every read keeps the file for it. */
  private def footerStats(rowGroups: Seq[graft.pc.Layout.FooterRowGroup],
      schema: StructType): String = {
    val file = graft.pc.Layout.fileBounds(rowGroups)
    val cols = schema.fieldNames.toSeq.filterNot(_.startsWith(StrKeyPrefix)).flatMap { name =>
      file.nums.get(name).map { case (mn, mx) => s"$name=$mn:$mx" }.orElse(
        file.strs.get(name).flatMap { case (mn, mx) =>
          // an all-0xFF prefix has no finite truncated upper bound
          truncUpper(mx, StrStatsMaxLen).map(hi =>
            s"$StrKeyPrefix$name=${escBytes(truncLower(mn, StrStatsMaxLen))}:${escBytes(hi)}")
        })
    }
    val rows = if (file.nums.contains(RowsKey)) Nil else Seq(s"$RowsKey=${file.rows}")
    (rows ++ cols).mkString(";")
  }

  /** Cap on stored string-bound length: long values truncate (lower
    * bound = prefix; upper bound = prefix with its last byte bumped, the
    * parquet truncation rule) so a pathological 1 MB key cannot bloat
    * the log. */
  private[lake] val StrStatsMaxLen = 64

  private def truncLower(v: Array[Byte], max: Int): Array[Byte] =
    if (v.length <= max) v else v.take(max) // prefix <= v: valid lower bound

  /** Truncated UPPER bound: a bare prefix would sort BELOW the value, so
    * the last non-0xFF byte is incremented and the tail dropped; an
    * all-0xFF prefix has no finite successor → None (no upper bound). */
  private def truncUpper(v: Array[Byte], max: Int): Option[Array[Byte]] =
    if (v.length <= max) Some(v)
    else {
      val p = v.take(max)
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else Some(p.take(i + 1).updated(i, (p(i) + 1).toByte))
    }

  /** Percent-escape stats-format delimiters (`;` `:` `=` `%`), control
    * bytes, and non-ASCII so string bounds survive the flat format and
    * the JSON layer byte-exactly. */
  private[lake] def escBytes(v: Array[Byte]): String = {
    val b = new StringBuilder
    v.foreach { x =>
      val u = x & 0xff
      if (u >= 0x20 && u < 0x7f && u != '%' && u != ';' && u != ':' && u != '=')
        b += u.toChar
      else b ++= f"%%$u%02x"
    }
    b.toString
  }

  private[lake] def unescBytes(s: String): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        out += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        i += 3
      } else { out += s.charAt(i).toByte; i += 1 }
    }
    out.toArray
  }

  /** String-column stats range (unsigned byte bounds), from the `str$`
    * namespace. None = no stats → conservatively kept. */
  private[lake] def statsRangeStr(stats: String, column: String): Option[(Array[Byte], Array[Byte])] = {
    val key = s"$StrKeyPrefix$column"
    stats.split(';').filter(_.nonEmpty)
      .map(_.split('=')).collectFirst {
        case Array(c, mm) if c == key => mm.split(':')
      }.flatMap {
        case Array(mn, mx) =>
          try Some((unescBytes(mn), unescBytes(mx)))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
  }

  private[lake] val RowsKey = "#rows"

  private[lake] def rowCountFromStats(stats: String): Option[Long] =
    // toLongOption, not toLong: a real column NAMED `#rows` writes a
    // `#rows=mn:mx` range entry that must read as "no row count", not
    // crash the metadata count(*) path with a NumberFormatException
    stats.split(';').collectFirst {
      case s if s.startsWith(RowsKey + "=") =>
        s.drop(RowsKey.length + 1).toLongOption
    }.flatten

  private val MaxRetries = 20

  private def commitLoop(table: String, op: String, add: Seq[String],
      stats: Seq[String], removeAt: Seq[Long] => Seq[String],
      schemaJson: => String, txn: String = "",
      abortIf: () => Boolean = () => false,
      propsOverride: Option[Seq[String]] = None,
      enforcedProps: Option[Seq[String]] = None): Option[Long] = {
    raceHook(op)
    var tries = 0
    while (tries < MaxRetries) {
      if (abortIf()) return None // e.g. idempotence token already landed
      val base = versions(table)
      // blind appends rebase over ANYTHING — so a constraint that landed
      // after this write's rows were staged (and therefore checked
      // against the OLD set) would otherwise be committed around:
      // refuse loudly instead (the write re-runs and re-stages under
      // the new set). The rewrite verbs don't need this — their
      // commitWithRebase already throws on any non-append winner.
      enforcedProps.foreach { enforced =>
        val current = base.lastOption
          .map(readCommit(table, _).props).getOrElse(Seq.empty)
        if (current != enforced)
          throw new java.util.ConcurrentModificationException(
            s"$op on $table: table constraints changed while this write " +
              "was staging (checked against a stale set); re-run the write")
      }
      val next = base.lastOption.getOrElse(0L) + 1
      // props resolution happens in tryCommit (constraint-editing ops
      // carry an explicit set, everything else inherits).
      // schemaJson is BY-NAME and re-evaluated per attempt: appends
      // pass the schema-evolution derivation, so a rebase over a
      // winner that changed the table schema (mergeSchema append,
      // overwrite) re-derives against the WINNER's schema instead of
      // silently reverting it with the pre-race value (the replayer
      // takes the newest commit's schema as the table schema).
      val c = Commit(next, op, add, removeAt(base), schemaJson, stats, txn,
        props = propsOverride.getOrElse(Seq.empty))
      if (tryCommit(table, c)) { maybeCheckpoint(table, next); return Some(next) }
      tries += 1 // lost the race: rebase on the new latest and retry
    }
    throw new IllegalStateException(
      s"$op on $table failed after $MaxRetries optimistic retries")
  }

  /** Validate `df`'s schema against the table's and return the schema
    * JSON the commit should carry — Delta's write-compatibility rules:
    *
    *  - a column present in both must have the SAME type (a silent type
    *    change would commit a mixed-type table: carried-by-reference
    *    files keep their physical types);
    *  - `df` may OMIT nullable table columns (the files simply lack
    *    them; the read path's explicit-schema parquet scan null-fills);
    *  - `df` may ADD columns only when `mergeSchema=true` (Delta's
    *    `mergeSchema` option) — the committed schema becomes the table
    *    schema plus the new fields, nullable (old files null-fill);
    *  - names colliding only by case are rejected (the lake resolves
    *    columns case-insensitively, so `price`/`Price` would alias).
    *
    * First write (no table yet) commits `df`'s schema as-is. Validation
    * reads the schema at call time; like Delta, a racing schema change
    * between validation and commit is the concurrent writer's
    * responsibility (appends never rewrite carried files, so the losing
    * order still reads correctly — both schemas' columns null-fill). */
  /** Column names the engine reserves for its own machinery: the DV
    * row-index provenance pair and the CDC tagging columns. A user
    * column with one of these names would be silently overwritten by
    * the verb that injects it (the `_zkey` failure mode) — refused at
    * write time instead. */
  private val ReservedCols = Set("__lake_rel", "__lake_ri",
    "_change_type", "_commit_version")

  private def requireNoReservedNames(schema: StructType, op: String): Unit = {
    val bad = schema.fieldNames.filter(n => ReservedCols(n.toLowerCase))
    require(bad.isEmpty,
      s"$op: column name(s) ${bad.mkString(", ")} are reserved by the " +
        "lake engine (deletion-vector / change-feed machinery)")
  }

  private def evolvedSchemaJson(table: String, df: DataFrame,
      mergeSchema: Boolean, op: String): String = {
    requireNoReservedNames(df.schema, op)
    val current = latestVersion(table).flatMap(v =>
      snapshotFiles(table, Some(v))._2)
    current match {
      case None => df.schema.json
      case Some(sj) =>
        val cur = DataType.fromJson(sj).asInstanceOf[StructType]
        val curByLower = cur.fields.map(f => f.name.toLowerCase -> f).toMap
        val dupes = df.schema.fieldNames.groupBy(_.toLowerCase).filter(_._2.length > 1)
        require(dupes.isEmpty,
          s"$op: column names collide case-insensitively: ${dupes.keys.mkString(", ")}")
        val fresh = df.schema.fields.filter(f =>
          !curByLower.contains(f.name.toLowerCase))
        df.schema.fields.foreach { f =>
          curByLower.get(f.name.toLowerCase).foreach { tf =>
            require(tf.name == f.name,
              s"$op: column `${f.name}` differs from table spelling `${tf.name}` " +
                "only by case; use the table spelling")
            require(tf.dataType == f.dataType,
              s"$op: column `${f.name}` type ${f.dataType.simpleString} does not " +
                s"match table type ${tf.dataType.simpleString}")
          }
        }
        if (fresh.nonEmpty && !mergeSchema)
          throw new IllegalArgumentException(
            s"$op: columns ${fresh.map(_.name).mkString(", ")} not in table " +
              s"schema ${cur.simpleString}; pass mergeSchema=true to evolve")
        // a merge-evolved column must not resurrect a DROPPED name: live
        // files written before the drop still carry the old physical
        // values, which would reappear as stale data (same rule as
        // addColumn)
        val tomb = droppedColumns(table)
        val resurrect = fresh.filter(f => tomb(f.name.toLowerCase))
        require(resurrect.isEmpty,
          s"$op: column(s) ${resurrect.map(_.name).mkString(", ")} were " +
            "previously dropped; live files may still carry their old " +
            "physical values — use fresh names")
        // the omission rule is nullable-only: a file lacking a NON-null
        // column would read as null in a field the schema promises
        // non-null — impossible data for schema-trusting consumers
        val provided = df.schema.fieldNames.map(_.toLowerCase).toSet
        val omittedNonNull = cur.fields.filter(tf =>
          !provided.contains(tf.name.toLowerCase) && !tf.nullable)
        require(omittedNonNull.isEmpty,
          s"$op: non-nullable columns ${omittedNonNull.map(_.name).mkString(", ")} " +
            "missing from the write; provide them (null-filling would violate the schema)")
        StructType(cur.fields ++ fresh.map(_.copy(nullable = true))).json
    }
  }

  /** Append: stages files, then commits. Appends commute, so losing the
    * version race just rebases the version number — no re-staging, no
    * data rewrite, exactly Delta's blind-append behavior. Schema is
    * validated against the table ([[evolvedSchemaJson]]); pass
    * `mergeSchema=true` to add new columns (old rows read as null). */
  def append(spark: SparkSession, table: String, df: DataFrame,
      mergeSchema: Boolean = false): Long = {
    val cs0 = currentProps(table)
    // validate BEFORE staging (fail fast, nothing written), then pass
    // the derivation by-name so a rebase re-evolves against the winner
    evolvedSchemaJson(table, df, mergeSchema, "append")
    val (add, stats) = stage(df, table)
    commitLoop(table, "append", add, stats, _ => Seq.empty,
      evolvedSchemaJson(table, df, mergeSchema, "append"),
      enforcedProps = Some(cs0)).get
  }

  /** Idempotence tokens visible at the latest version: the newest
    * checkpoint's token set plus the tail commits' tokens — O(interval)
    * log reads, not O(history), mirroring the snapshot path. */
  private def committedTokens(table: String,
      upTo: Option[Long] = None): Set[String] = {
    val latest = upTo.orElse(latestVersion(table)).getOrElse(0L)
    val (ckTokens, from) = latestCheckpoint(table, latest) match {
      case Some(ck) => (ck.txn.split(',').filter(_.nonEmpty).toSet, ck.version)
      case None => (Set.empty[String], 0L)
    }
    ckTokens ++ versions(table).filter(v => v > from && v <= latest)
      .map(readCommit(table, _).txn).filter(_.nonEmpty)
  }

  /** Exactly-once append for replayable writers (streaming batches,
    * retried jobs): the commit carries the token `appId:txnVersion`, and
    * a replay whose token is already in the log is a no-op (returns
    * None). The token re-check runs inside the optimistic retry loop, so
    * two racing replays of the same batch cannot both land: the CAS
    * serializes them and the loser sees the winner's token on rebase.
    *
    * Correctness precondition (same as Delta's txnAppId/txnVersion):
    * token equality must mean CONTENT equality — i.e. the writer replays
    * deterministic batches. A stream restarted from its checkpoint
    * satisfies this; restarting with a FRESH checkpoint over a source
    * that has since grown re-numbers different content from batch 0 and
    * must use a new appId, or the new data is silently skipped. */
  def appendIdempotent(spark: SparkSession, table: String, df: DataFrame,
      appId: String, txnVersion: Long): Option[Long] = {
    // tokens are ','-joined in checkpoint txn fields and split on ':' —
    // either character inside appId would fragment the token once a
    // checkpoint covers it, and a replayed batch would re-commit
    // (silently duplicating data); reject loudly instead
    require(!appId.exists(c => c == ',' || c == ':'),
      s"appendIdempotent: appId `$appId` must not contain ',' or ':'")
    val token = s"$appId:$txnVersion"
    def landed(): Boolean = committedTokens(table)(token)
    if (landed()) None
    else {
      val cs0 = currentProps(table)
      evolvedSchemaJson(table, df, mergeSchema = false, "appendIdempotent")
      val (add, stats) = stage(df, table)
      commitLoop(table, "append", add, stats, _ => Seq.empty,
        evolvedSchemaJson(table, df, mergeSchema = false, "appendIdempotent"),
        txn = token, abortIf = () => landed(),
        enforcedProps = Some(cs0))
    }
  }

  /** Overwrite: logically removes every file live at commit time and
    * adds the staged ones. The remove-set is recomputed against the
    * winner on each retry (last-writer-wins serialization). Old files
    * stay on disk for time travel until [[vacuum]]. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val cs0 = currentProps(table)
    requireNoReservedNames(df.schema, "overwrite")
    requireConstraintColumns(table, df.schema, "overwrite")
    val (add, stats) = stage(df, table)
    commitLoop(table, "overwrite", add, stats,
      base => base.lastOption.map(v => snapshotFiles(table, Some(v))._1)
        .getOrElse(Seq.empty),
      df.schema.json, enforcedProps = Some(cs0)).get
  }

  /** Idempotent overwrite for replayable MAINTAINERS (e.g. incremental
    * view refresh, scheduled rebuild jobs). Token semantics are
    * MONOTONE, Delta's txnAppId/txnVersion rule rather than
    * [[appendIdempotent]]'s equality rule: the write is skipped when the
    * log already carries `appId` at a version ≥ `txnVersion`, because an
    * overwrite is a statement about TABLE STATE, not a batch of new
    * rows — a state derived from source version v is subsumed by any
    * state derived from v' ≥ v, while a replayed or stale maintainer
    * must never clobber a newer state with an older one. The check
    * re-runs inside the commit retry loop, so two racing maintainers
    * serialize through the CAS and the stale one aborts (returns None). */
  def overwriteIdempotent(spark: SparkSession, table: String, df: DataFrame,
      appId: String, txnVersion: Long): Option[Long] = {
    require(!appId.exists(c => c == ',' || c == ':'),
      s"overwriteIdempotent: appId `$appId` must not contain ',' or ':'")
    def landed(): Boolean = lastTxnVersion(table, appId).exists(_ >= txnVersion)
    if (landed()) None
    else {
      val cs0 = currentProps(table)
      requireNoReservedNames(df.schema, "overwriteIdempotent")
      requireConstraintColumns(table, df.schema, "overwriteIdempotent")
      val (add, stats) = stage(df, table)
      commitLoop(table, "overwrite", add, stats,
        base => base.lastOption.map(v => snapshotFiles(table, Some(v))._1)
          .getOrElse(Seq.empty),
        df.schema.json, txn = s"$appId:$txnVersion", abortIf = () => landed(),
        enforcedProps = Some(cs0))
    }
  }

  /** Highest `txnVersion` the log carries for `appId`, across both
    * idempotence-token flavors — how a restarted maintainer discovers
    * where it left off (Delta's `txn.lastWriteVersion`). */
  def lastTxnVersion(table: String, appId: String,
      upTo: Option[Long] = None): Option[Long] = {
    val prefix = s"$appId:"
    val vs = committedTokens(table, upTo).toSeq
      .filter(_.startsWith(prefix))
      .flatMap(_.drop(prefix.length).toLongOption)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Copy-on-write upsert (MERGE): rows in `updates` replace rows with
    * the same `key` and new keys are inserted. Only the files that
    * actually CONTAIN a matched key are rewritten — untouched files are
    * carried by reference, so the write cost is proportional to the
    * files hit, not the table (file-granular copy-on-write, Delta's
    * MERGE execution shape). The rewrite + insert stage as new files
    * and swap in atomically with the removes in ONE commit.
    *
    * Concurrency: merge reads table state to build its rewrite, so a
    * concurrent commit invalidates it; unlike blind appends it must NOT
    * rebase silently (the winner may have changed the very rows merged).
    * A lost race throws `ConcurrentModificationException` — the caller
    * re-runs against the new snapshot (Delta's serializable behavior). */
  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Shared tail of the read-modify-write ops (merge/delete/optimize):
    * these read the state they replace, so a lost race must THROW, never
    * silently rebase — the winner may have changed the very rows
    * involved (Delta's serializable behavior). */
  private def commitOrThrow(table: String, c: Commit, op: String): Long =
    commitWithRebase(table, c, op, _ => false)

  /** Test-only injection point: runs once before the FIRST commit
    * attempt of a read-modify-write op, so specs can deterministically
    * lose the race to a concurrent writer. Never set outside tests. */
  private[lake] var raceHook: String => Unit = _ => ()

  /** Commit a read-modify-write transaction with CONFLICT-AWARE retry
    * (Delta's WriteSerializable): losing the CAS is fatal only when a
    * winner actually conflicts. Winners for which `safeAcross` holds —
    * pure appends whose rows provably cannot affect this transaction's
    * read set — are rebased over: the commit re-points to the next
    * version with its add/remove sets unchanged, which is exactly the
    * state re-running the op against the new snapshot would produce
    * (the winner's files stay live; ours replace the same inputs).
    * `safeAcross` receives each winner commit; any non-append, any
    * remove, or any schema change must return false. */
  private def commitWithRebase(table: String, c: Commit, op: String,
      safeAcross: Commit => Boolean): Long = {
    raceHook(op)
    var cur = c
    var tries = 0
    while (tries < MaxRetries) {
      if (tryCommit(table, cur)) {
        maybeCheckpoint(table, cur.version)
        return cur.version
      }
      val latest = versions(table).lastOption.getOrElse(0L)
      val winners = (cur.version to latest).map(readCommit(table, _))
      winners.find(w => !(w.op == "append" && w.remove.isEmpty &&
          w.schemaJson == cur.schemaJson && safeAcross(w))).foreach { w =>
        throw new java.util.ConcurrentModificationException(
          s"$op on $table lost the commit race to a ${w.op} at version " +
            s"${w.version} that may affect its read set; re-run against " +
            "the new snapshot")
      }
      cur = cur.copy(version = latest + 1)
      tries += 1
    }
    throw new IllegalStateException(
      s"$op on $table failed after $MaxRetries rebase retries")
  }

  /** Can a pure-append winner's files contain a row with
    * `column ∈ [lo, hi]`? Checked from the COMMIT's own stats with the
    * same test as every read ([[filesMayMatch]]); a file without usable
    * stats conservatively counts as overlapping. */
  private def appendOverlapsRange(w: Commit, schema: StructType, column: String,
      lo: Double, hi: Double): Boolean =
    filesMayMatch(w.add.zipWithIndex.map { case (f, i) =>
      (f, w.addStats.lift(i).getOrElse(""))
    }, schema, Seq((column, lo, hi))).nonEmpty

  /** Resolve `column` against the schema (exact first, then the
    * case-insensitive match Spark's own resolution uses), require it
    * numeric, and return the SCHEMA-cased name — stats keys and filter
    * expressions must use that spelling. */
  private def requireNumeric(schema: StructType, column: String, op: String): String = {
    val f = schema.fields.find(_.name == column)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(column)))
      .getOrElse(
        throw new IllegalArgumentException(s"$op: no such column `$column`"))
    require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op on non-numeric column `${f.name}` (${f.dataType.simpleString}): " +
        "range semantics would silently misfire on cast-to-null values")
    f.name
  }

  def merge(spark: SparkSession, table: String, updates: DataFrame,
      key: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    // validate BEFORE any table scan: both checks are metadata/updates-
    // sized, and a rejected merge must not first pay a full table read
    // 1. schema must match the table exactly — carried-by-reference
    //    files keep their types, so silent evolution would commit a
    //    mixed-type table (Delta likewise rejects unless opted into)
    val aligned = updates.select(schema.fieldNames.map(col).toSeq: _*)
    require(
      aligned.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge schema mismatch: table has ${schema.simpleString}, " +
        s"updates have ${aligned.schema.simpleString}")
    // 2. one update row per key — duplicates would survive the anti-join
    //    and commit a duplicated table (Delta errors on multi-match too)
    val dup = aligned.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge updates contain duplicate key ${dup.headOption.map(_.get(0))}: " +
        "one update row per key required")
    // no broadcast hint: a CDC-sized key set would OOM the driver; AQE
    // picks broadcast itself when the key relation is actually small
    val keys = aligned.select(col(key)).distinct()
    // which live ENTRIES hold a matched key: one semi-join pass keyed by
    // the scan-bound metadata provenance column (stable across the
    // shuffle a sort-merge join inserts, unlike input_file_name), read
    // DV-applied so a row already masked by a deletion vector cannot
    // drag its file into the rewrite
    val entries = all.map(_._1)
    val relToEntry = entries.map(e => parseEntry(e).data -> e).toMap
    val affected: Seq[String] =
      if (all.isEmpty) Seq.empty
      else readEntriesWithRel(spark, table, entries, schema)
        .select(col(key), col(RelCol))
        .join(keys, Seq(key), "left_semi")
        .select(RelCol).distinct()
        .collect().map(_.getString(0))
        .map(rel => relToEntry.getOrElse(rel,
          sys.error(s"unmapped scan file `$rel`")))
        .toSeq.distinct.sorted
    // rewrite = affected files minus matched rows, plus ALL updates
    val survivors =
      if (affected.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, table, affected, schema)
        .join(keys, Seq(key), "left_anti")
    // change feed: replaced rows (pre), their replacements (post), and
    // the genuinely new keys (insert). Matched keys live only in
    // affected files, so the pre-image read is already file-pruned.
    val cdc = {
      val pre =
        if (affected.isEmpty) emptyDf(spark, schema)
        else readEntries(spark, table, affected, schema)
          .join(keys, Seq(key), "left_semi")
      val matchedKeys = pre.select(col(key)).distinct()
      stageCdc(pre, "update_preimage", table) ++
        stageCdc(aligned.join(matchedKeys, Seq(key), "left_semi"),
          "update_postimage", table) ++
        stageCdc(aligned.join(matchedKeys, Seq(key), "left_anti"),
          "insert", table)
    }
    val (add, stats) = stage(survivors.unionByName(aligned), table)
    // rebase policy: a concurrent pure append is safe iff its files
    // provably hold NO key inside the updates' key hull (log stats of
    // the key column vs the hull, computed lazily on first race) — the
    // winner then cannot contain a matched key, so re-running the merge
    // against the new snapshot would produce exactly the rebased state
    val keyName = schema.fields.find(_.name == key)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(key)))
      .map(_.name).getOrElse(key)
    lazy val keyHull: Option[(Double, Double)] =
      if (!schema(keyName).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) None
      else {
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val r = aligned.agg(fmin(col(keyName)), fmax(col(keyName))).head()
        (r.get(0), r.get(1)) match {
          case (a: Number, b: Number)
            if !a.doubleValue().isNaN && !b.doubleValue().isNaN =>
            Some((math.nextDown(a.doubleValue()), math.nextUp(b.doubleValue())))
          case _ => None
        }
      }
    commitWithRebase(table,
      Commit(baseVersion + 1, "merge", add, affected, schemaJson.get, stats,
        cdc = cdc),
      "merge",
      w => keyHull.exists { case (lo, hi) =>
        !appendOverlapsRange(w, schema, keyName, lo, hi) })
  }

  /** Copy-on-write DELETE of rows with `column ∈ [lo, hi]`. The
    * affected-file search is pure LOG METADATA — the same stats pruning
    * as [[snapshotWhere]] — so files that cannot contain a matching row
    * are carried by reference without being opened, and only the pruned
    * survivors are rewritten without their matching rows. Same
    * serializable no-rebase contract as [[merge]]. */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): Long =
    deleteWhereRanges(spark, table, Seq((column, lo, hi)))

  /** Copy-on-write DELETE of rows matching a CONJUNCTION of per-column
    * ranges (`a ∈ [alo, ahi] AND b ∈ [blo, bhi] AND ...`) — the shape a
    * multi-column SQL `DELETE WHERE` translates to. Affected files are
    * pruned against EVERY conjunct's interval (a file escapes the
    * rewrite if ANY range provably excludes it — intersection pruning,
    * the same test as [[snapshotWhere]] per column), so a
    * two-column delete touches no more files than the more selective of
    * its columns alone. Row-level semantics are SQL's: a row deletes iff
    * the conjunction is TRUE (a NULL in any predicate column keeps the
    * row). Same serializable no-rebase contract as [[merge]]: a
    * concurrent pure append is safe iff its log stats provably exclude
    * at least one conjunct's range — then no appended row can match the
    * whole conjunction. */
  def deleteWhereRanges(spark: SparkSession, table: String,
      ranges: Seq[(String, Double, Double)]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(ranges.nonEmpty, "deleteWhereRanges: no predicate ranges")
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    // a string column here would cast to null and the NULL-filter chain
    // would DROP every such row — fail loudly instead
    val resolved = ranges.map { case (c0, lo, hi) =>
      (requireNumeric(schema, c0, "deleteWhere"), lo, hi)
    }
    require(resolved.map(_._1).distinct.size == resolved.size,
      s"deleteWhere: duplicate predicate column in ${resolved.map(_._1)}")
    // intersection pruning: keep a file only while every range could hit
    val affected = filesMayMatch(all, schema, resolved)
    val matched = resolved.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    val survivors =
      if (affected.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, table, affected, schema)
        // three-valued logic: NULL-matched rows survive
        .filter(not(coalesce(matched, lit(false))))
    // change feed: the matched rows, tagged, staged with this commit
    val cdc =
      if (affected.isEmpty) Seq.empty[String]
      else stageCdc(readEntries(spark, table, affected, schema)
        .filter(matched), "delete", table)
    val (add, stats) = stage(survivors, table)
    // a concurrent pure append rebases iff its stats exclude at least
    // one range — its rows then hold nothing this delete would remove
    commitWithRebase(table,
      Commit(baseVersion + 1, "delete", add, affected, schemaJson.get, stats,
        cdc = cdc),
      "delete",
      w => resolved.exists { case (c, lo, hi) =>
        !appendOverlapsRange(w, schema, c, lo, hi) })
  }

  /** TRUNCATE: remove every live row in one METADATA-ONLY commit — no
    * file is read, rewritten, or physically deleted (old versions stay
    * time-travelable until [[vacuum]]). Reads its base snapshot's file
    * list, so it takes the same serializable no-rebase contract as the
    * other read-modify-write verbs. */
  def truncate(table: String): Long = {
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    commitOrThrow(table,
      Commit(baseVersion + 1, "truncate", Seq.empty, all.map(_._1),
        schemaJson.get),
      "truncate")
  }

  /** RESTORE the table to its state at `version`, as a NEW commit
    * (Delta's RESTORE verb): pure log metadata — the target snapshot's
    * file list is re-pointed, nothing is read or rewritten, and history
    * is preserved (the restore itself is version latest+1, so the undone
    * versions stay time-travelable until [[vacuum]]). Files live only in
    * the target snapshot must still exist physically — a vacuum may have
    * reclaimed them, in which case the restore refuses loudly instead of
    * committing dangling references. Same serializable no-rebase
    * contract as the other read-modify-write verbs. */
  def restoreTo(table: String, version: Long): Long = {
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (target, targetSchema) = snapshotFilesWithStats(table, Some(version))
    val (current, _) = snapshotFilesWithStats(table, Some(baseVersion))
    val cur = current.map(_._1).toSet
    val tgt = target.map(_._1).toSet
    val add = target.filterNot(e => cur(e._1))
    val remove = current.map(_._1).filterNot(tgt)
    add.foreach { case (entry, _) =>
      val live = parseEntry(entry)
      (live.data +: live.dv.toSeq).foreach { rel =>
        require(Files.exists(Paths.get(table, rel)),
          s"restore: `$rel` of snapshot v$version was vacuumed away; " +
            "the table cannot be restored past that vacuum")
      }
    }
    // restore resurrects the TARGET's schema but carries the CURRENT
    // constraints forward (props inherit) — refuse when that schema
    // lacks a column an active CHECK references, or every later write
    // would die in analysis (same guard as overwrite)
    targetSchema.foreach { sj =>
      requireConstraintColumns(table,
        DataType.fromJson(sj).asInstanceOf[StructType], "restore")
    }
    commitOrThrow(table,
      Commit(baseVersion + 1, "restore", add.map(_._1), remove,
        targetSchema.get, add.map(_._2)),
      "restore")
  }

  /** Copy-on-write UPDATE: rows with `column ∈ [lo, hi]` get
    * `assignments` applied (literal new values per column); everything
    * else is untouched. Affected files come from LOG STATS like
    * [[deleteWhere]] — files that cannot contain a matching row are
    * carried by reference unopened — and only those are rewritten with
    * the conditional projection. Completes the DML verbs
    * (append/merge/delete/update/optimize/vacuum). Same serializable
    * no-rebase conflict contract as [[merge]]. */
  /** Reject assignment literals the `cast(targetType)` would silently
    * mangle: a non-integral Double into a long column truncates (2.5 →
    * 2), an out-of-range value wraps under non-ANSI cast, a number into
    * a string column stringifies — all silent-wrong-data paths. Loud
    * here, like the predicate-column guards. */
  private def requireLossless(dt: DataType, value: Any, colName: String): Unit = {
    import org.apache.spark.sql.types._
    def numeric(v: Any): Option[BigDecimal] = v match {
      case d: Double => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case f: Float => if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case n: Byte => Some(BigDecimal(n.toInt))
      case n: Short => Some(BigDecimal(n.toInt))
      case n: Int => Some(BigDecimal(n))
      case n: Long => Some(BigDecimal(n))
      case n: BigDecimal => Some(n)
      case n: java.math.BigDecimal => Some(BigDecimal(n))
      case _ => None
    }
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"updateWhere: assignment `$colName = $value` $why " +
        s"(column type ${dt.simpleString}); a cast would silently corrupt it")
    dt match {
      case _ if value == null => () // SET col = NULL: exact for every type
      case ByteType | ShortType | IntegerType | LongType =>
        val n = numeric(value).getOrElse(fail("is not numeric"))
        if (!n.isWhole) fail("is not an integral value")
        val (lo, hi) = dt match {
          case ByteType => (BigDecimal(Byte.MinValue.toInt), BigDecimal(Byte.MaxValue.toInt))
          case ShortType => (BigDecimal(Short.MinValue.toInt), BigDecimal(Short.MaxValue.toInt))
          case IntegerType => (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue))
          case _ => (BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
        }
        if (n < lo || n > hi) fail("is out of range")
      case FloatType =>
        value match {
          case _: Float => () // identity (incl. NaN/infinities)
          case d: Double if d.isNaN || d.isInfinite => () // NaN/inf map exactly
          case _ =>
            val n = numeric(value).getOrElse(fail("is not numeric"))
            val f = n.toFloat
            if (f.isInfinite || BigDecimal(f.toDouble) != n)
              fail("is not exactly representable as float")
        }
      case DoubleType =>
        value match {
          case _: Double => () // identity (incl. NaN/infinities)
          case _: Float => () // float->double widening is exact
          case _ =>
            val n = numeric(value).getOrElse(fail("is not numeric"))
            val d = n.toDouble
            if (d.isInfinite || BigDecimal(d) != n)
              fail("is not exactly representable as double")
        }
      case dec: DecimalType =>
        val n = numeric(value).getOrElse(fail("is not numeric"))
        val scaled =
          try n.setScale(dec.scale)
          catch { case _: ArithmeticException =>
            fail(s"does not fit scale ${dec.scale} exactly") }
        if (scaled.precision > dec.precision) fail("exceeds the decimal precision")
      case StringType =>
        if (!value.isInstanceOf[String]) fail("is not a string")
      case _ => () // other types: let the cast's own resolution error
    }
  }

  def updateWhere(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double, assignments: Map[String, Any]): Long =
    updateWhereRanges(spark, table, Seq((column, lo, hi)), assignments)

  /** Copy-on-write UPDATE scoped by a CONJUNCTION of per-column ranges —
    * the multi-column twin of [[deleteWhereRanges]], with the same
    * intersection file pruning (a file escapes the rewrite if ANY
    * conjunct's interval provably excludes it), SQL three-valued match
    * semantics (NULL in a predicate column → row untouched), and
    * no-rebase contract (a concurrent append is safe iff its stats
    * exclude at least one conjunct's range). */
  def updateWhereRanges(spark: SparkSession, table: String,
      ranges: Seq[(String, Double, Double)],
      assignments: Map[String, Any]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(ranges.nonEmpty, "updateWhereRanges: no predicate ranges")
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    val resolved = ranges.map { case (c0, lo, hi) =>
      (requireNumeric(schema, c0, "updateWhere"), lo, hi)
    }
    require(resolved.map(_._1).distinct.size == resolved.size,
      s"updateWhere: duplicate predicate column in ${resolved.map(_._1)}")
    assignments.foreach { case (a, v) =>
      require(schema.fieldNames.contains(a), s"updateWhere: no such column `$a`")
      requireLossless(schema(a).dataType, v, a)
    }
    resolved.map(_._1).foreach(c => require(!assignments.contains(c),
      "updateWhere: assigning the predicate column would make the result " +
        "order-of-application dependent; use merge for key rewrites"))
    val affected = filesMayMatch(all, schema, resolved)
    // three-valued logic: a NULL conjunct means NOT matched
    val matched = coalesce(resolved.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _), lit(false))
    val survivors =
      if (affected.isEmpty) emptyDf(spark, schema)
      else assignments.foldLeft(readEntries(spark, table, affected, schema)) {
        case (df, (name, value)) =>
          df.withColumn(name,
            when(matched, lit(value).cast(schema(name).dataType))
              .otherwise(col(name)))
      }
    // change feed: matched rows before and after the assignments
    val cdc =
      if (affected.isEmpty) Seq.empty[String]
      else {
        def pre = readEntries(spark, table, affected, schema).filter(matched)
        val post = assignments.foldLeft(pre) { case (df, (name, value)) =>
          df.withColumn(name, lit(value).cast(schema(name).dataType))
        }
        stageCdc(pre, "update_preimage", table) ++
          stageCdc(post, "update_postimage", table)
      }
    val (add, stats) = stage(survivors, table)
    commitWithRebase(table,
      Commit(baseVersion + 1, "update", add, affected, schemaJson.get, stats,
        cdc = cdc),
      "update",
      w => resolved.exists { case (c, lo, hi) =>
        !appendOverlapsRange(w, schema, c, lo, hi) })
  }

  /** OPTIMIZE with Z-ORDER BY: rewrite the live file set compacted into
    * `targetFiles` files range-partitioned on the Morton interleave of
    * two columns (reusing the point-cloud layout's codegen'd key). Small
    * files from incremental appends collapse, and the rewritten files
    * carry TIGHT per-file min/max on BOTH columns, so the log-stats
    * pruning of [[snapshotWhere]]/[[deleteWhere]] actually bites on
    * either dimension afterward — the exact job Delta's
    * `OPTIMIZE ... ZORDER BY` does, with the same commit semantics:
    * one atomic swap, old files stay for time travel until vacuum.
    * Data-identical (a pure re-layout); same no-rebase conflict
    * contract as [[merge]]. */
  def optimize(spark: SparkSession, table: String, colX: String,
      colY: String, targetFiles: Int = 4, bits: Int = 16): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    val cx = requireNumeric(schema, colX, "optimize")
    val cy = requireNumeric(schema, colY, "optimize")
    // `_zkey` is this verb's scratch column: withColumn would OVERWRITE
    // a user column of that name and drop() would then remove it, while
    // the commit keeps the full schema — every later read null-fills
    // the column table-wide with no error. Refuse loudly instead.
    require(!schema.fieldNames.exists(_.equalsIgnoreCase("_zkey")),
      "optimize: the table has a column named `_zkey`, which collides " +
        "with the clustering scratch column; rename it first")
    if (all.isEmpty) return baseVersion // nothing to lay out
    // DV-applied read: OPTIMIZE is also how deletion vectors get
    // compacted away — the rewritten files carry only surviving rows
    val df = readEntries(spark, table, all.map(_._1), schema)
    // column bounds: fold the LOG's per-file stats (free) — scan only
    // if some live file lacks stats for one of the cluster columns
    def foldBounds(column: String): Option[(Double, Double)] = {
      val ranges = all.map { case (_, s) => statsRangeDouble(s, column) }
      if (ranges.exists(_.isEmpty)) None
      else Some((ranges.map(_.get._1).min, ranges.map(_.get._2).max))
    }
    val (bx, by) = (foldBounds(cx), foldBounds(cy)) match {
      case (Some(x), Some(y)) => (x, y)
      case _ =>
        val b = df.agg(min(col(cx)), max(col(cx)),
          min(col(cy)), max(col(cy))).head()
        def d(i: Int): Double = b.get(i) match {
          case null => 0.0
          case n: Number => n.doubleValue()
        }
        ((d(0), d(1)), (d(2), d(3)))
    }
    val zkey = graft.pc.Layout.mortonKey(
      col(cx), col(cy), bx._1, bx._2, by._1, by._2, bits)
    val clustered = df.withColumn("_zkey", zkey)
      .repartitionByRange(targetFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
    val (add, stats) = stage(clustered, table)
    // re-layouts read only the files they replace: ANY pure append is
    // disjoint from that read set (its files simply stay un-clustered
    // this round), so it always rebases
    commitWithRebase(table,
      Commit(baseVersion + 1, "optimize", add, all.map(_._1),
        schemaJson.get, stats),
      "optimize", _ => true)
  }

  /** Bin-packing COMPACTION — `OPTIMIZE` without `ZORDER BY` (Delta's
    * default form): rewrite only the live files smaller than
    * `smallBytes` (plus every deletion-vector-carrying entry, whose
    * masked rows compaction materializes away) into ~`targetBytes`
    * outputs, carrying well-sized files by reference untouched. This is
    * the incremental-maintenance verb for streaming-ingested tables:
    * a sink committing every few seconds accretes thousands of small
    * files, and full [[optimize]] (whole-table rewrite) at 100 TB pays
    * the entire table to fix the newest 0.1%. Cost here is proportional
    * to the SMALL files only.
    *
    * Data-identical by construction (DV-applied rows are re-laid out,
    * never changed), so the streaming source and [[changesBetween]]
    * treat a `compact` commit as row-silent. Returns None (no commit)
    * when there is nothing worth compacting: fewer than `minFiles`
    * small files and no DVs to absorb. Same serializable no-rebase
    * contract as [[merge]]. */
  def compact(spark: SparkSession, table: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      minFiles: Int = 2): Option[Long] = {
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    val sized = all.map { case (entry, _) =>
      val p = parseEntry(entry)
      (entry, p, Files.size(Paths.get(table, p.data)))
    }
    val picked = sized.filter { case (_, p, bytes) =>
      p.dv.isDefined || bytes < smallBytes
    }
    val hasDv = picked.exists(_._2.dv.isDefined)
    if (!hasDv && picked.size < minFiles) return None
    val totalBytes = picked.map(_._3).sum
    val outFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val compacted = readEntries(spark, table, picked.map(_._1), schema)
      .repartition(outFiles)
    val (add, stats) = stage(compacted, table)
    Some(commitWithRebase(table,
      Commit(baseVersion + 1, "compact", add, picked.map(_._1),
        schemaJson.get, stats),
      "compact", _ => true))
  }

  // ---- deletion vectors (merge-on-read) --------------------------------

  /** A live-set entry is either a bare data file (`stage-x/f.parquet`)
    * or a data file annotated with its deletion vector
    * (`stage-x/f.parquet#dv=stage-y/dv.parquet`): the DV is a parquet
    * sidecar of (rel_file, row_index) rows that are LOGICALLY DELETED
    * from the data file. Entries are opaque strings to the log/replay
    * machinery, so checkpoints and time travel need no protocol change
    * (the annotated entry is Delta's add-with-DV-descriptor, flattened). */
  private[lake] final case class LiveEntry(data: String, dv: Option[String])

  private val DvSep = "#dv="

  private[lake] def parseEntry(e: String): LiveEntry = {
    val i = e.indexOf(DvSep)
    if (i < 0) LiveEntry(e, None)
    else LiveEntry(e.take(i), Some(e.drop(i + DvSep.length)))
  }

  /** Hidden column names used by the DV anti-join — double-underscored
    * to stay clear of any user schema. */
  private[lake] val RelCol = "__lake_rel"
  private val RiCol = "__lake_ri"

  /** `stage-sub/name` of the file each row came from, via the parquet
    * metadata column (stable, unlike `input_file_name()`, across joins
    * and shuffles because it is bound at the scan). */
  private def relFileCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat_ws, element_at, split}
    concat_ws("/",
      element_at(split(col("_metadata.file_path"), "/"), -2),
      element_at(split(col("_metadata.file_path"), "/"), -1))
  }

  /** Read a set of live entries with deletion vectors applied, plus a
    * `__lake_rel` provenance column (callers that don't need it drop
    * it). Files WITHOUT a DV take the plain vectorized scan — no join
    * tax; files WITH one anti-join their (file, row_index) pairs against
    * the union of referenced sidecars. The anti-join keys on the scan-
    * bound metadata columns, so it is exact whatever Spark does to the
    * plan downstream. */
  private[lake] def readEntriesWithRel(spark: SparkSession, table: String,
      entries: Seq[String], schema: StructType,
      withRowIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val parsed = entries.map(parseEntry)
    val extra = if (withRowIndex) Seq(RelCol, RiCol) else Seq(RelCol)
    val outCols = (schema.fieldNames.toSeq ++ extra).map(col)
    val (dvd, plain) = parsed.partition(_.dv.isDefined)
    val plainDf =
      if (plain.isEmpty) None
      else Some(spark.read.schema(schema)
        .parquet(plain.map(e => s"$table/${e.data}"): _*)
        .withColumn(RelCol, relFileCol)
        .withColumn(RiCol, col("_metadata.row_index"))
        .select(outCols: _*))
    val dvdDf =
      if (dvd.isEmpty) None
      else {
        val dvPaths = dvd.flatMap(_.dv).distinct.map(d => s"$table/$d")
        val dvRel = spark.read.parquet(dvPaths: _*)
          .select(col("rel_file").as(RelCol), col("row_index").as(RiCol))
        Some(spark.read.schema(schema)
          .parquet(dvd.map(e => s"$table/${e.data}"): _*)
          .withColumn(RelCol, relFileCol)
          .withColumn(RiCol, col("_metadata.row_index"))
          .join(dvRel, Seq(RelCol, RiCol), "left_anti")
          .select(outCols: _*))
      }
    (plainDf, dvdDf) match {
      case (Some(p), Some(d)) => p.union(d)
      case (Some(p), None) => p
      case (None, Some(d)) => d
      case (None, None) => emptyDf(spark,
        StructType(schema.fields ++ extra.map(n =>
          org.apache.spark.sql.types.StructField(n,
            if (n == RiCol) org.apache.spark.sql.types.LongType
            else org.apache.spark.sql.types.StringType))))
    }
  }

  private[lake] def readEntries(spark: SparkSession, table: String,
      entries: Seq[String], schema: StructType): DataFrame =
    readEntriesWithRel(spark, table, entries, schema).drop(RelCol)

  /** Raw PHYSICAL read of entries' data files — deletion vectors are
    * deliberately NOT applied — with the `__lake_rel` provenance column.
    * The Bloom index build hashes THESE rows: a sidecar must
    * over-approximate EVERY snapshot of its immutable file, and a
    * `versionAsOf` read of a snapshot predating a DV must still probe
    * positive for the value that DV later masked. Hashing the
    * DV-applied rows would be a Bloom false NEGATIVE for exactly that
    * time-travel read. */
  private[lake] def readEntriesRawWithRel(spark: SparkSession, table: String,
      entries: Seq[String], schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val parsed = entries.map(parseEntry)
    if (parsed.isEmpty)
      return emptyDf(spark, StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(RelCol,
          org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema)
      .parquet(parsed.map(e => s"$table/${e.data}"): _*)
      .withColumn(RelCol, relFileCol)
      .select((schema.fieldNames.toSeq :+ RelCol).map(col): _*)
  }

  /** Merge-on-read DELETE: rows with `column ∈ [lo, hi]` are masked by a
    * deletion-vector sidecar instead of rewriting the data files — the
    * industry answer to point deletes at 100 TB, where copy-on-write
    * ([[deleteWhere]]) would rewrite terabytes to drop kilobytes. The
    * commit swaps each affected entry for the same data file annotated
    * with a new DV that holds the union of its old DV (if any) and the
    * newly matched (file, row_index) pairs; data files are never
    * rewritten, and [[optimize]] compacts DVs away by re-laying out the
    * DV-applied rows. Same stats pruning for the affected-file search
    * and the same serializable no-rebase contract as [[deleteWhere]]. */
  def deleteWhereDV(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): Long = {
    import org.apache.spark.sql.functions.col
    val baseVersion = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val (all, schemaJson) = snapshotFilesWithStats(table, Some(baseVersion))
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    val c = requireNumeric(schema, column, "deleteWhereDV")
    val affected = filesMayMatch(all, schema, Seq((c, lo, hi)))
    if (affected.isEmpty)
      return commitWithRebase(table,
        Commit(baseVersion + 1, "delete-dv", Seq.empty, Seq.empty,
          schemaJson.get),
        "delete-dv",
        w => !appendOverlapsRange(w, schema, c, lo, hi))
    // newly deleted (rel_file, row_index) pairs, read DV-applied so a
    // row already masked by an older DV is not re-matched
    val parsed = affected.map(parseEntry)
    def matchedRows =
      readEntriesWithRel(spark, table, affected, schema, withRowIndex = true)
        .filter(col(c) >= lo && col(c) <= hi)
    val matchedNow = matchedRows
      .select(col(RelCol).as("rel_file"), col(RiCol).as("row_index"))
    // change feed: the same matched rows, as data (no row pointers)
    val cdc = stageCdc(matchedRows.drop(RelCol, RiCol), "delete", table)
    // carry forward the affected files' existing DV rows (union replace)
    val oldDvPaths = parsed.flatMap(_.dv).distinct
    val dataRels = parsed.map(_.data)
    val carried =
      if (oldDvPaths.isEmpty) matchedNow
      else matchedNow.union(
        spark.read.parquet(oldDvPaths.map(d => s"$table/$d"): _*)
          .select(col("rel_file"), col("row_index"))
          .filter(col("rel_file").isin(dataRels: _*)))
    val dvSub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
    // one sidecar file per DELETE commit (row indexes only — tiny next
    // to the data); readers union sidecars, so no per-file fan-out
    carried.coalesce(1).write.parquet(Paths.get(table, dvSub).toString)
    val dvIt = Files.list(Paths.get(table, dvSub))
    val dvFile =
      try dvIt.iterator().asScala.map(_.getFileName.toString)
        .find(n => n.endsWith(".parquet") && !n.startsWith("."))
        .map(n => s"$dvSub/$n")
        .getOrElse(sys.error("deleteWhereDV: sidecar write produced no file"))
      finally dvIt.close()
    val statsOf = all.toMap
    val add = parsed.map(e => s"${e.data}$DvSep$dvFile")
    commitWithRebase(table,
      Commit(baseVersion + 1, "delete-dv", add, affected, schemaJson.get,
        affected.map(statsOf), // stats carry over: DVs only remove rows
        cdc = cdc),
      "delete-dv",
      w => !appendOverlapsRange(w, schema, c, lo, hi))
  }

  // ---- read path -------------------------------------------------------

  /** Snapshot read, optionally at a historical version. The file list
    * and schema are pinned at call time: concurrent commits cannot
    * change what this DataFrame reads (immutable files + logical
    * deletes = snapshot isolation for free). Deletion-vector entries
    * are applied as an anti-filter ([[readEntries]]). */
  def snapshot(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val (files, schemaJson) = snapshotFiles(table, version)
    schemaJson match {
      case None => throw new IllegalArgumentException(s"no such table: $table")
      case Some(sj) =>
        val schema = DataType.fromJson(sj).asInstanceOf[StructType]
        if (files.isEmpty) emptyDf(spark, schema)
        else readEntries(spark, table, files, schema)
    }
  }

  /** Parse one file's flat stats string for a column's (min, max).
    * Parsed as BigDecimal, NOT Double: an int64 value above 2^53 (e.g. a
    * nanosecond-timestamp long) is not Double-representable, and a lossy
    * parse could SHRINK the range below the file's true bounds — then
    * pruning wrongly skips a file whose rows match, a silent-wrong-
    * result path for snapshotWhere/deleteWhere/updateWhere. BigDecimal
    * round-trips every decimal literal [[stage]] ever writes exactly. */
  private[lake] def statsRange(stats: String, column: String): Option[(BigDecimal, BigDecimal)] = {
    // reserved namespaces: `str$x` is STRING column x's byte bounds and
    // `#rows` is the file row count — a user column that happens to
    // carry such a name gets NO numeric stats on the write side, so the
    // read side must not mis-parse the reserved entry as its range
    // (pruning on it would silently skip matching files)
    if (column.startsWith(StrKeyPrefix) || column == RowsKey) return None
    stats.split(';').filter(_.nonEmpty)
      .map(_.split('=')).collectFirst {
        case Array(c, mm) if c == column => mm.split(':')
      }.flatMap {
        case Array(mn, mx) =>
          // NaN/Infinity endpoints (or anything unparseable) give a
          // useless range; treat as no stats (belt to stage()'s
          // suspenders — old logs may predate the write guard)
          try Some((BigDecimal(mn), BigDecimal(mx)))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
  }

  /** [[statsRange]] widened to a Double interval that always CONTAINS the
    * exact range (outward rounding) — for consumers that need primitive
    * bounds (e.g. Z-order layout) where a superset is safe. */
  private def statsRangeDouble(stats: String, column: String): Option[(Double, Double)] =
    statsRange(stats, column).map { case (mn, mx) =>
      (math.nextDown(mn.toDouble), math.nextUp(mx.toDouble))
    }

  /** Entries of `all` whose log stats could hold a row inside every
    * `column ∈ [lo, hi]` range: [[LakeStatsPruning.mayMatch]], the test
    * the DSv2 scan uses, over `schema`'s FLOAT columns. An infinite
    * endpoint leaves that side open.
    *
    * The rows match as `col(column) >= lo && col(column) <= hi`, where
    * a LONG column compares as its nearest double: above 2^53 a long
    * rounds onto a bound it lies below (2^60 - 50 compares as 2^60), so a
    * long column's sides widen by one ulp, at their exact value. */
  private def filesMayMatch(all: Seq[(String, String)], schema: StructType,
      ranges: Seq[(String, Double, Double)]): Seq[String] = {
    val bounds = ranges.map { case (c, lo, hi) =>
      val long = schema.fields.exists(f => f.name == c && f.dataType == LongType)
      def side(d: Double, widen: Double => Double) = {
        val w = if (long) widen(d) else d
        if (w.isInfinite) None
        else Some(if (long) BigDecimal(new java.math.BigDecimal(w)) else BigDecimal(w))
      }
      LakeStatsPruning.NumBound(c, side(lo, math.nextDown), side(hi, math.nextUp))
    }
    val floats = LakeStatsPruning.floatColumns(schema)
    all.collect { case (f, stats) if LakeStatsPruning.mayMatch(bounds, stats, floats) => f }
  }

  /** Files at `version` whose stats could contain a row with
    * `column ∈ [lo, hi]` — the data-skipping pruning a Delta reader does
    * from the log alone, no footer reads. */
  def prunedFiles(table: String, column: String, lo: Double, hi: Double,
      version: Option[Long] = None): (Seq[String], Int) = {
    val (all, schemaJson) = snapshotFilesWithStats(table, version)
    val schema = schemaJson.fold(new StructType())(DataType.fromJson(_).asInstanceOf[StructType])
    (filesMayMatch(all, schema, Seq((column, lo, hi))), all.size)
  }

  /** Snapshot read restricted by a range predicate, scanning ONLY the
    * log-pruned files (plus the row-level filter for exactness). One
    * log replay serves both the file list and the schema. */
  def snapshotWhere(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (all, schemaJson) = snapshotFilesWithStats(table, version)
    val schema = DataType.fromJson(schemaJson.getOrElse(
      throw new IllegalArgumentException(s"no such table: $table")))
      .asInstanceOf[StructType]
    val files = filesMayMatch(all, schema, Seq((column, lo, hi)))
    val base =
      if (files.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, table, files, schema)
    base.filter(col(column) >= lo && col(column) <= hi)
  }

  /** Ops whose commits are row-identical re-layouts: their added files
    * hold only rows earlier commits already carried, so change readers
    * and streams skip them silently (Delta's dataChange=false). */
  private val DataIdenticalOps = Set("optimize", "compact")

  /** Incremental change feed: the rows appended by commits in
    * `(fromVersion, toVersion]` — how a downstream job consumes a table
    * fed by [[LakeSink]] without re-reading it (track the last version
    * you processed, read the delta, repeat). Exact because appended
    * files ARE the change; commits that rewrite data (merge / delete /
    * overwrite / optimize) have no row-level delta in the log, so a
    * range containing one throws rather than returning wrong changes —
    * the consumer falls back to a snapshot diff or re-sync, exactly
    * Delta's behavior when CDF is unavailable. */
  def changesBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val latest = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    require(fromVersion >= 0 && toVersion <= latest && fromVersion <= toVersion,
      s"bad change range ($fromVersion, $toVersion] (latest: $latest)")
    val commits = versions(table)
      .filter(v => v > fromVersion && v <= toVersion)
      .map(readCommit(table, _))
    // metadata-only commits (addconstraint/dropconstraint, a
    // deleteWhereDV whose pruning matched nothing, ...) change zero
    // rows: their delta is exactly empty, so they must NOT wedge a
    // plain streaming source the way a genuine rewrite does
    commits.find(c => c.op != "append" && !DataIdenticalOps(c.op) &&
        !(c.add.isEmpty && c.remove.isEmpty)).foreach(c =>
      throw new IllegalArgumentException(
        s"changesBetween: version ${c.version} is a ${c.op}, which has no " +
          "row-level delta; re-sync from a snapshot instead"))
    val files = commits.filter(_.op == "append").flatMap(_.add)
    // empty range (e.g. the documented fromVersion == toVersion poll,
    // including (0, 0]): take the schema from the latest snapshot —
    // Some(0) would be rejected as a nonexistent version
    val schemaJson = commits.lastOption.map(_.schemaJson)
      .orElse(snapshotFilesWithStats(table,
        if (toVersion >= 1) Some(toVersion) else None)._2)
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    if (files.isEmpty) emptyDf(spark, schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$table/$f"): _*)
  }

  // ---- change data feed ------------------------------------------------

  /** Column naming of the change feed (Delta's CDF convention). */
  val CdcTypeCol = "_change_type"
  val CdcVersionCol = "_commit_version"

  /** Stage `rows` tagged `changeType` as this commit's change-feed
    * files. Same unique-stage-dir isolation as data files (a lost
    * commit race leaves only an unreferenced orphan for vacuum — never
    * a file another writer's commit could accidentally reference), but
    * WITHOUT footer stats: CDC files never join a snapshot, so nothing
    * ever prunes on them. */
  private def stageCdc(rows: DataFrame, changeType: String,
      table: String): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val sub = s"stage-${java.util.UUID.randomUUID().toString.take(12)}"
    val dir = Paths.get(table, sub)
    rows.withColumn(CdcTypeCol, lit(changeType)).write.parquet(dir.toString)
    val it = Files.list(dir)
    try it.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .map(n => s"$sub/$n").toSeq.sorted
    finally it.close()
  }

  /** Row-level CHANGE FEED over `(fromVersion, toVersion]`: every row
    * change in the range with `_change_type` (`insert`, `delete`,
    * `update_preimage`, `update_postimage`) and `_commit_version` —
    * Delta's `readChangeFeed` surface. Appends synthesize `insert` rows
    * straight from their data files (no extra storage); the DML verbs
    * (delete / delete-dv / update / merge) read the change files they
    * staged at write time; `optimize` and empty DML commits contribute
    * nothing (data-identical). Whole-table rewrites (`overwrite` /
    * `truncate` / `restore`) and pre-CDF DML commits have no row-level
    * delta — those REFUSE loudly (re-sync from a snapshot), exactly the
    * plain [[changesBetween]] contract. A schema change inside the
    * range likewise refuses: one feed, one schema. */
  /** Does [[changeFeed]] cover `(fromVersion, toVersion]` without
    * refusing? False when the range contains a whole-table rewrite
    * (overwrite / truncate / restore), a pre-CDF DML commit, or a
    * schema change — the cases where an incremental consumer must
    * re-sync from a snapshot instead. Same checks as [[changeFeed]],
    * exposed so maintainers can CHOOSE full recompute up front rather
    * than drive control flow off the exception. */
  def changeFeedCovers(table: String, fromVersion: Long,
      toVersion: Long): Boolean = {
    val latest = latestVersion(table).getOrElse(return false)
    if (fromVersion < 0 || toVersion > latest || fromVersion > toVersion)
      return false
    val commits = versions(table)
      .filter(v => v > fromVersion && v <= toVersion)
      .map(readCommit(table, _))
    val rowLevel = commits.forall(c => c.op match {
      case "append" => true
      case op if DataIdenticalOps(op) => true
      case _ => c.cdc.nonEmpty || (c.add.isEmpty && c.remove.isEmpty)
    })
    // the log alone is not enough: vacuum reclaims the change files of
    // versions below its retention floor, and a consumer that trusts a
    // covers()=true would then throw on every incremental read forever
    // instead of falling back to a snapshot re-sync — so "covers" also
    // means "the bytes are still on disk"
    val readable = commits.forall { c =>
      val paths =
        if (c.cdc.nonEmpty) c.cdc
        else if (c.op == "append") c.add.map(e => parseEntry(e).data)
        else Seq.empty
      paths.forall(p => Files.exists(Paths.get(table, p)))
    }
    rowLevel && readable && commits.map(_.schemaJson).distinct.size <= 1
  }

  def changeFeed(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val latest = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    require(fromVersion >= 0 && toVersion <= latest && fromVersion <= toVersion,
      s"bad change range ($fromVersion, $toVersion] (latest: $latest)")
    val commits = versions(table)
      .filter(v => v > fromVersion && v <= toVersion)
      .map(readCommit(table, _))
    commits.find(c => c.op match {
      case "append" => false
      case op if DataIdenticalOps(op) => false
      case _ => c.cdc.isEmpty && (c.add.nonEmpty || c.remove.nonEmpty)
    }).foreach(c => throw new IllegalArgumentException(
      s"changeFeed: version ${c.version} is a ${c.op} with no change " +
        "files (whole-table rewrite, or committed before the change " +
        "feed existed); re-sync from a snapshot instead"))
    val schemaJson = commits.lastOption.map(_.schemaJson)
      .orElse(snapshotFilesWithStats(table,
        if (toVersion >= 1) Some(toVersion) else None)._2)
    require(commits.map(_.schemaJson).distinct.size <= 1,
      s"changeFeed: schema changed inside ($fromVersion, $toVersion]; " +
        "read up to the evolution commit, re-sync, then continue")
    val schema = DataType.fromJson(schemaJson.get).asInstanceOf[StructType]
    val cdcSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(CdcTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false))
    val parts = commits.flatMap { c =>
      val rows =
        if (c.cdc.nonEmpty)
          Some(spark.read.schema(cdcSchema)
            .parquet(c.cdc.map(f => s"$table/$f"): _*))
        else if (c.op == "append" && c.add.nonEmpty)
          Some(spark.read.schema(schema)
            .parquet(c.add.map(f => s"$table/$f"): _*)
            .withColumn(CdcTypeCol, lit("insert")))
        else None // optimize / empty commits: no row-level change
      rows.map(_.withColumn(CdcVersionCol, lit(c.version)))
    }
    parts.reduceOption(_.unionByName(_)).getOrElse(
      emptyDf(spark, StructType(cdcSchema.fields :+
        org.apache.spark.sql.types.StructField(CdcVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Unreferenced files younger than this are presumed to belong to an
    * IN-FLIGHT writer (staged, commit not yet written) and are never
    * vacuumed — the same role as Delta's file-retention threshold.
    * A crashed writer's orphans become collectible once they age out. */
  val OrphanMinAgeMs: Long = 15 * 60 * 1000

  /** Delete data files no snapshot ≥ `retainFrom` can reach, plus
    * orphaned stage files a crashed writer left behind (only once they
    * are older than `orphanMinAgeMs` — a younger unreferenced file may
    * be a LIVE writer racing us toward its commit). `retainFrom` is
    * clamped to the latest version, so the current snapshot is always
    * retained. Never touches the log, so `versions` stays contiguous;
    * time travel BELOW the clamped `retainFrom` becomes unreadable
    * (exactly Delta's VACUUM trade). */
  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS`): keep
    * every snapshot reachable from any instant INSIDE the window,
    * reclaim below. The floor is the snapshot in effect AT the window
    * start — the same version [[versionAtTimestamp]](cutoff) resolves —
    * NOT the first commit after it: files removed BY that first commit
    * belong to the floor snapshot, and reclaiming them would break
    * `TIMESTAMP AS OF` / [[restoreToTimestamp]] for instants in
    * [cutoff, first-commit-after-cutoff), making the two timestamp
    * features mutually inconsistent at the boundary (Delta retains
    * files invalidated within the window for exactly this reason).
    * A cutoff that predates the log retains everything; when every
    * commit is older than the window, only the current snapshot is
    * retained. Pre-timestamp-era logs refuse — use version-based
    * [[vacuum]]. */
  def vacuumRetainMillis(table: String, retainMs: Long,
      orphanMinAgeMs: Long = OrphanMinAgeMs): Seq[String] = {
    val commits = history(table)
    require(commits.nonEmpty, s"no such table: $table")
    if (commits.exists(_.ts == 0L))
      throw new UnsupportedOperationException(
        s"lake: $table has commits from before timestamps were recorded; " +
          "use version-based vacuum(table, retainFrom)")
    val cutoff = System.currentTimeMillis() - retainMs
    var eff = 0L
    var floor = -1L
    commits.foreach { c =>
      eff = math.max(eff, c.ts) // monotonized commit time
      if (eff <= cutoff) floor = c.version
    }
    // floor < 0 ⇔ the cutoff predates the first commit: nothing existed
    // at the window start, so every version is inside the window
    vacuum(table, if (floor < 0) commits.head.version else floor,
      orphanMinAgeMs)
  }

  /** RESTORE to the state at a wall-clock instant — [[restoreTo]] with
    * the version [[versionAtTimestamp]] resolves. */
  def restoreToTimestamp(table: String, tsMillis: Long): Long =
    restoreTo(table, versionAtTimestamp(table, tsMillis))

  /** Shared instant parsing for every string-typed timestamp entry
    * point (stream `startingTimestamp`, CLI `lake restore`): strict
    * ISO-8601 (`...Z`) or the SQL `yyyy-MM-dd HH:mm:ss[.SSS]` form read
    * as UTC (every session here pins UTC — [[graft.LocalSession]]).
    * One parser so all entry points accept the same formats and fail
    * with the same message (ADVICE r5). */
  def parseInstantMillis(s: String, what: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      try java.sql.Timestamp.valueOf(s).toLocalDateTime
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"$what: cannot parse instant `$s` (use ISO-8601 " +
            "or yyyy-MM-dd HH:mm:ss[.SSS], read as UTC)")
      }
    }

  def vacuum(table: String, retainFrom: Long,
      orphanMinAgeMs: Long = OrphanMinAgeMs): Seq[String] = {
    // an entry references its data file AND its DV sidecar (if any) —
    // both must survive while any retained snapshot can reach them
    def filesOf(e: String): Seq[String] = {
      val p = parseEntry(e); p.data +: p.dv.toSeq
    }
    val floor = latestVersion(table).fold(retainFrom)(math.min(retainFrom, _))
    // keep-set computation re-runs until the log is STABLE across it: a
    // RESTORE committing concurrently can re-point the tip at files
    // only reachable below the floor — computed against the pre-restore
    // log those files look expired, and deleting them would break the
    // CURRENT snapshot. Re-reading until no commit landed mid-compute
    // closes that direction (the converse — vacuum deleting between
    // restore's existence check and its commit — remains the operator's
    // serialization responsibility, as in Delta: don't restore below
    // the retention window while a vacuum is in flight).
    var commits = history(table)
    var keep = Set.empty[String]
    var stable = false
    while (!stable) {
      // change-feed files live and die with the versions that wrote
      // them: retained alongside time travel ≥ floor, reclaimed below
      keep = versions(table).filter(_ >= floor)
        .flatMap(v => snapshotFiles(table, Some(v))._1).flatMap(filesOf).toSet ++
        commits.filter(_.version >= floor).flatMap(_.cdc)
      val nowLog = history(table)
      if (nowLog.map(_.version) == commits.map(_.version)) stable = true
      else commits = nowLog
    }
    val referenced = commits.flatMap(_.add).flatMap(filesOf).toSet ++
      commits.flatMap(_.cdc)
    val now = System.currentTimeMillis()
    val root = Paths.get(table)
    val deleted = Seq.newBuilder[String]
    val it = Files.list(root)
    try it.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("stage-"))
      .foreach { dir =>
        val sub = dir.getFileName.toString
        val files = Files.list(dir)
        try files.iterator().asScala.foreach { f =>
          val rel = s"$sub/${f.getFileName}"
          val isData = f.getFileName.toString.endsWith(".parquet")
          val aged = now - Files.getLastModifiedTime(f).toMillis >= orphanMinAgeMs
          val orphan = isData && !referenced(rel) && aged // crashed writer
          val expired = isData && referenced(rel) && !keep(rel)
          if (orphan || expired) { Files.delete(f); deleted += rel }
        } finally files.close()
      }
    finally it.close()
    val gone = deleted.result()
    // reclaim the deleted files' advisory Bloom sidecars ([[BloomIndex]]
    // keys them by data-file rel, so a vacuumed file's sidecar is pure
    // garbage; live files' sidecars are untouched)
    val bloomRoot = root.resolve(BloomIndex.IndexRoot)
    if (Files.isDirectory(bloomRoot)) {
      val cols = Files.list(bloomRoot)
      try cols.iterator().asScala.filter(Files.isDirectory(_)).foreach { cd =>
        gone.foreach(rel =>
          Files.deleteIfExists(cd.resolve(BloomIndex.sidecarName(rel))))
      } finally cols.close()
    }
    // a retired non-injective `_bloom` root is dead weight on a table
    // that is vacuumed but never re-indexed: reclaim it here too (the
    // build path already purges it; both are advisory-only deletes).
    // Announced when it fires: vacuum silently removing a directory
    // tree this library version never wrote would be surprising
    // (ADVICE r9), so the purge is observable.
    val legacyPurged = BloomIndex.purgeLegacyRoot(table)
    if (legacyPurged > 0)
      System.err.println(
        s"lake: vacuum purged legacy advisory `_bloom` root of $table " +
          s"($legacyPurged entries) — superseded by `_bloom2`")
    gone
  }
}

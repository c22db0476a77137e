package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionDirectory, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The ACID lake as a first-class Spark DSv2 table:
  * `spark.read.format("lake").load(tableDir)`, with time travel via
  * `.option("versionAsOf", v)` — mirroring how the reference registers
  * every source as a queryable table (pc-io/src/las/mod.rs:92-126,
  * pc-cli/src/benchmark.rs:73-80) rather than a library-only API.
  *
  * Architecture: the table extends Spark's own `FileTable` and delegates
  * scan building to `ParquetScanBuilder`, so column pruning, parquet
  * filter pushdown (row-group skipping), and the vectorized reader all
  * come from the engine. The lake-specific part is [[LakeFileIndex]]: a
  * file index seeded from the TRANSACTION LOG's snapshot (not a
  * directory listing — staged-but-uncommitted files are invisible, and
  * the file set is pinned at load time for snapshot isolation) that
  * applies LOG-STATS file pruning inside `listFiles`, which is what the
  * scan's `planInputPartitions` consults with the pushed data filters.
  * A plain `WHERE price BETWEEN ...` therefore skips every file whose
  * log min/max excludes the range — no footer reads, no file opens —
  * the data-skipping read path a Delta reader gets from its log. */
class LakeDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "lake"

  // -- streaming sink (writeStream.format("lake")): v1 Sink API over
  // [[LakeTable.appendIdempotent]] — each micro-batch is ONE transactional
  // commit carrying the (appId, batchId) token, so checkpoint-replayed
  // batches commit nothing twice (the declarative twin of [[LakeSink]],
  // which routes the same call through foreachBatch)
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "lake sink: partitionBy is not supported (cluster with OPTIMIZE instead)")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"lake sink: only Append output mode is supported, got $outputMode " +
        "(aggregating streams: write the finalized aggregate via foreachBatch)")
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val table = tableRoot(options)
    // batch ids are only meaningful relative to ONE checkpoint, so the
    // default idempotence scope is the checkpoint location itself
    // (hashed: appIds must avoid ',' and ':'); an explicit appId option
    // overrides — same contract as [[LakeSink]]
    val appId = Option(options.get("appId")).getOrElse {
      val ckpt = Option(options.get("checkpointLocation")).getOrElse(
        throw new IllegalArgumentException(
          "lake sink: checkpointLocation (or an explicit appId option) required"))
      java.security.MessageDigest.getInstance("MD5")
        .digest(ckpt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    new LakeStreamSink(table, appId)
  }

  // -- streaming source (readStream.format("lake")): v1 Source API, the
  // route Delta's own streaming source takes, so getBatch can serve each
  // version range through the ordinary vectorized parquet read path
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    ("lake", streamSchema(options))
  }

  /** With `readChangeFeed=true` the stream's rows carry the feed's two
    * metadata columns on top of the data schema. */
  private def streamSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = inferSchema(options)
    if (!options.getBoolean("readChangeFeed", false)) base
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(LakeTable.CdcTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(LakeTable.CdcVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    require(LakeTable.latestVersion(tableRoot(options)).isDefined,
      s"no such lake table: ${tableRoot(options)}")
    val fromVersion = Option(options.get("startingVersion")).map(_.toLong)
    val fromTs = Option(options.get("startingTimestamp"))
      .map(parseInstantMillis)
    require(fromVersion.isEmpty || fromTs.isEmpty,
      "lake source: startingVersion and startingTimestamp are mutually " +
        "exclusive")
    new LakeStreamSource(sqlContext.sparkSession, tableRoot(options),
      schema.getOrElse(streamSchema(options)),
      fromTs.map(LakeTable.streamStartVersionAt(tableRoot(options), _))
        .orElse(fromVersion).getOrElse(0L),
      Option(options.get("maxVersionsPerBatch")).map(_.toLong),
      options.getBoolean("readChangeFeed", false))
  }

  /** `startingTimestamp` accepts what every timestamp entry point here
    * accepts — [[LakeTable.parseInstantMillis]] (ISO-8601 or SQL form,
    * UTC). */
  private def parseInstantMillis(s: String): Long =
    LakeTable.parseInstantMillis(s, "lake source: startingTimestamp")

  private def tableRoot(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("lake source: no table path given"))
    require(!p.trim.startsWith("["),
      "lake source: exactly one table path (multi-path load is not a lake table)")
    p
  }

  private def versionOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map(_.toLong)

  /** Missing table → EMPTY schema, not an exception: the streaming-sink
    * resolution path constructs the table object before falling back to
    * [[createSink]], and `writeStream` must be able to target a table
    * its first batch will create. Reads stay loud — the scan builder
    * refuses a schema-less table ([[LakeV2Table.newScanBuilder]]). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (_, schemaJson) =
      LakeTable.snapshotFiles(tableRoot(options), versionOf(options))
    schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new StructType())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = tableRoot(options)
    // pin the CONCRETE version now: every later read of this table object
    // (schema, file list, stats) replays the same snapshot even if
    // writers keep committing — snapshot isolation at the table level.
    // The schema is re-derived FROM the pinned version rather than taken
    // from the earlier inferSchema call: a commit racing between the two
    // would otherwise pair version-N+1 files with the version-N schema
    // (silent null-fill after an overwrite that changed columns)
    val version = versionOf(options).orElse(LakeTable.latestVersion(root))
    val pinnedSchema = LakeTable.snapshotFiles(root, version)._2
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    new LakeV2Table(SparkSession.active, options, root, version,
      pinnedSchema.getOrElse(new StructType()),
      exists = pinnedSchema.isDefined)
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** v1 streaming sink: one idempotent lake commit per micro-batch. */
class LakeStreamSink(table: String, appId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    // the engine hands a streaming-flagged DataFrame; re-tag it over the
    // same physical plan (no extra pass) so the batch append accepts it
    val batch = org.apache.spark.sql.GraftSqlShims.asBatchDataFrame(data)
    LakeTable.appendIdempotent(batch.sparkSession, table, batch, appId, batchId)
    ()
  }
  override def toString: String = s"LakeStreamSink[$table]"
}

class LakeV2Table(spark: SparkSession, options: CaseInsensitiveStringMap,
    root: String, version: Option[Long], tableSchema: StructType,
    exists: Boolean = true)
    extends FileTable(spark, options, Seq.empty, Some(tableSchema))
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  /** (relative path, stats) of the pinned snapshot. */
  private val entries: Seq[(String, String)] =
    if (!exists) Seq.empty
    else LakeTable.snapshotFilesWithStats(root, version)._1

  /** A deletion-vector entry cannot be expressed as a bare file scan —
    * reading the data file raw would RESURRECT deleted rows, so the
    * BATCH scan refuses loudly rather than return wrong data. Checked in
    * [[newScanBuilder]], NOT the constructor: `readStream` probes the
    * TableProvider (constructing this table) before falling back to the
    * v1 streaming source, and the stream serves append commits only — a
    * constructor check would kill legitimate streams over DV-carrying
    * tables. */
  private def requireNoDvEntries(): Unit =
    require(entries.forall(e => LakeTable.parseEntry(e._1).dv.isEmpty),
      s"lake: snapshot of $root${version.fold("")(v => s"@v$v")} carries " +
        "deletion vectors, which the DSv2 scan does not apply; read it via " +
        "LakeTable.snapshot(...) or compact with LakeTable.optimize(...)")

  /** EXACT snapshot row count from LOG STATS alone — None when any
    * entry predates recorded counts or carries a deletion vector (the
    * masked-row count is not in the log). Feeds the metadata-only
    * `count(*)` rewrite ([[graft.plans.LakeCountStarRule]]). */
  def logRowCount: Option[Long] = {
    val counts = entries.map { case (rel, stats) =>
      if (LakeTable.parseEntry(rel).dv.nonEmpty) None
      else LakeTable.rowCountFromStats(stats)
    }
    if (counts.forall(_.isDefined)) Some(counts.flatMap(x => x).sum) else None
  }

  /** EXACT snapshot (min, max) of an INTEGRAL column from log stats
    * alone — the `min(x)`/`max(x)` twin of [[logRowCount]]. None unless
    * every live entry is DV-free (a deletion vector could mask exactly
    * the extreme row) and carries a stats range for the column
    * (all-null files and pre-upgrade files have none; parquet stats
    * cover non-null values only, which matches SQL min/max's
    * null-ignoring semantics). Restricted to integral column types on
    * purpose: parquet float/double footer stats silently EXCLUDE NaN,
    * but Spark's max() orders NaN above +Infinity — a folded float max
    * could differ from the scan's. */
  def logColumnRange(column: String): Option[(Long, Long)] = {
    import org.apache.spark.sql.types._
    val integral = tableSchema.fields.find(_.name == column)
      .exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    if (!integral || entries.isEmpty) None
    else {
      val rs = entries.map { case (rel, stats) =>
        if (LakeTable.parseEntry(rel).dv.nonEmpty) None
        else LakeTable.statsRange(stats, column)
      }
      if (!rs.forall(_.isDefined)) None
      else {
        val v = rs.flatMap(x => x)
        try Some((v.map(_._1).min.toLongExact, v.map(_._2).max.toLongExact))
        catch { case _: ArithmeticException => None } // non-integral stats
      }
    }
  }

  override def name(): String = s"lake:$root${version.fold("")(v => s"@v$v")}"

  override def formatName: String = "lake"

  override def fallbackFileFormat: Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[ParquetFileFormat]

  override def inferSchema(files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    Some(tableSchema)

  override lazy val fileIndex: PartitioningAwareFileIndex =
    new LakeFileIndex(spark, root, entries, tableSchema)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    if (!exists)
      throw new IllegalArgumentException(s"no such lake table: $root")
    requireNoDvEntries()
    ParquetScanBuilder(spark, fileIndex, schema, dataSchema, mergedOptions(o))
  }

  /** Writes go through the transactional API ([[LakeTable.append]] /
    * [[LakeSink]]) — a bare file write could not be atomic. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException(
      "lake: write via LakeTable.append/overwrite or stream via LakeSink " +
        "(a plain file write would bypass the transaction log)")

  // -- SQL DML: `DELETE FROM lake.ns.t WHERE ...` / `TRUNCATE TABLE` ----
  // (SupportsDeleteV2). The predicate set must translate to a
  // CONJUNCTION of per-column numeric ranges — the shape
  // [[LakeTable.deleteWhereRanges]] executes transactionally with
  // log-stats affected-file pruning (files pruned against EVERY
  // conjunct's interval). Anything else is REFUSED in canDeleteWhere,
  // which Spark reports loudly — never a partial or silently-different
  // delete.

  /** Table root + pinned version for the SQL UPDATE rewrite
    * ([[LakeSqlUpdate]]), which executes through [[LakeTable]] by path. */
  private[lake] def tableRoot: String = root
  private[lake] def requireCurrentFor(op: String): Unit = requireCurrent(op)

  /** DML must target the live table: a commit that raced past our pinned
    * snapshot (or an explicit `VERSION AS OF`) is stale state. */
  private def requireCurrent(op: String): Unit = {
    val latest = LakeTable.latestVersion(root)
    require(version == latest,
      s"lake: $op targets snapshot v${version.getOrElse(-1L)} of $root but " +
        s"the table is at v${latest.getOrElse(-1L)}; re-read the table " +
        "(DML on a time-travel snapshot cannot be expressed as a commit)")
  }

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    LakeSqlDelete.translate(predicates, tableSchema).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    requireCurrent("DELETE")
    LakeSqlDelete.translate(predicates, tableSchema) match {
      case Some(LakeSqlDelete.All) => LakeTable.truncate(root)
      case Some(LakeSqlDelete.Ranges(ranges)) =>
        LakeTable.deleteWhereRanges(spark, root, ranges)
      case None => throw new UnsupportedOperationException(
        s"lake: cannot DELETE with ${predicates.mkString(" AND ")} — " +
          "supported: conjunctions of =, <, <=, >, >= between numeric " +
          "columns and literals (bounded on both sides for float/double " +
          "columns); disjunctions and expressions refuse")
    }
  }

  /** `TRUNCATE TABLE`: one metadata-only commit, no file I/O. */
  override def truncateTable(): Boolean = {
    requireCurrent("TRUNCATE")
    LakeTable.truncate(root)
    true
  }
}

/** Translation of SQL DELETE predicates into the lake's transactional
  * range-delete. Conservative by design: only conjunctions of
  * comparisons between ONE numeric column and exact literals are
  * accepted; everything else returns None (→ Spark refuses the DELETE
  * loudly). Guards where engine semantics could diverge silently:
  * float/double columns require bounds on BOTH sides (Spark orders NaN
  * above +Inf, so an unbounded side would disagree with the row filter
  * on NaN rows), integral-column literals must be exact in a Double
  * (|v| ≤ 2⁵³ — the row filter compares through DoubleType), and
  * NaN/infinite literals are refused. */
object LakeSqlDelete {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, And => VAnd, Predicate => VPred}
  import org.apache.spark.sql.types._

  sealed trait Target
  /** Every row (SQL `DELETE FROM t` / `WHERE true`) → truncate. */
  case object All extends Target
  /** Conjunction of per-column ranges (one range per distinct column,
    * multiple conjuncts on the same column intersect). A single-column
    * WHERE is the one-element case. */
  final case class Ranges(ranges: Seq[(String, Double, Double)]) extends Target

  private val maxExactLong = 1L << 53

  def translate(predicates: Array[VPred], schema: StructType): Option[Target] = {
    val conjuncts = predicates.toSeq.flatMap(flatten)
    if (conjuncts.exists(_.isEmpty)) return None // an untranslatable leaf
    val leaves = conjuncts.flatten
    if (leaves.isEmpty) return Some(All)
    // resolve each leaf to its schema field FIRST (case-insensitive,
    // like Spark's analyzer), THEN build one interval per RESOLVED
    // column — so `ID >= 1 AND id <= 5` intersects into one range
    // instead of two same-field ranges that only fail at execution time
    // (ADVICE r5); sorted for determinism
    val resolved = leaves.map { case (name, lo, hi) =>
      val field = schema.fields.find(_.name == name)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(return None)
      (field, lo, hi)
    }
    val ranges = resolved.groupBy(_._1.name).toSeq.sortBy(_._1).map {
      case (_, bounds) =>
        val field = bounds.head._1
        val integral = field.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case FloatType | DoubleType => false
          case _ => return None // non-numeric: deleteWhere would refuse anyway
        }
        val lo = bounds.flatMap(_._2).foldLeft(Double.NegativeInfinity)(math.max)
        val hi = bounds.flatMap(_._3).foldLeft(Double.PositiveInfinity)(math.min)
        // float/double columns: both sides must be explicit (NaN totality)
        if (!integral && (lo.isNegInfinity || hi.isPosInfinity)) return None
        if (integral && bounds.flatMap(b => b._2.toSeq ++ b._3.toSeq)
          .exists(v => math.abs(v) > maxExactLong.toDouble)) return None
        (field.name, lo, hi)
    }
    Some(Ranges(ranges))
  }

  /** One predicate → its comparison leaves as (col, lo?, hi?), or
    * Seq(None) marking an untranslatable leaf. */
  private def flatten(p: VPred): Seq[Option[(String, Option[Double], Option[Double])]] =
    p match {
      case _: AlwaysTrue => Seq.empty
      case a: VAnd => flatten(a.left()) ++ flatten(a.right())
      case cmp => Seq(leaf(cmp))
    }

  private def leaf(p: VPred): Option[(String, Option[Double], Option[Double])] = {
    val kids = p.children()
    if (kids.length != 2) return None
    def colOf(e: VExpr): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
      case _ => None
    }
    def litOf(e: VExpr): Option[Double] = e match {
      case l: VLit[_] => l.value match {
        case null => None
        case b: Byte => Some(b.toDouble)
        case s: Short => Some(s.toDouble)
        case i: Int => Some(i.toDouble)
        case l2: Long =>
          if (math.abs(l2) > maxExactLong) None else Some(l2.toDouble)
        case f: Float =>
          if (f.isNaN || f.isInfinite) None else Some(f.toDouble)
        case d: Double => if (d.isNaN || d.isInfinite) None else Some(d)
        case d: Decimal =>
          val bd = d.toBigDecimal
          val asD = bd.toDouble
          if (!asD.isInfinite && BigDecimal(asD) == bd) Some(asD) else None
        case _ => None
      }
      case _ => None
    }
    // normalize to column-on-the-left; a flipped operand order flips ops
    val parsed = (colOf(kids(0)), litOf(kids(1)), colOf(kids(1)), litOf(kids(0))) match {
      case (Some(c), Some(v), _, _) => Some((c, v, false))
      case (_, _, Some(c), Some(v)) => Some((c, v, true))
      case _ => None
    }
    parsed.flatMap { case (c, v, flipped) =>
      val op = p.name() match {
        case ">" if flipped => "<"
        case "<" if flipped => ">"
        case ">=" if flipped => "<="
        case "<=" if flipped => ">="
        case other => other
      }
      op match {
        case "=" => Some((c, Some(v), Some(v)))
        case ">=" => Some((c, Some(v), None))
        case ">" => Some((c, Some(Math.nextUp(v)), None))
        case "<=" => Some((c, None, Some(v)))
        case "<" => Some((c, None, Some(Math.nextDown(v))))
        case _ => None
      }
    }
  }
}

/** File index seeded from the lake log snapshot. `listFiles` receives
  * the pushed data filters as catalyst predicates and drops every file
  * whose log min/max cannot contain a matching row — the same interval
  * test as `LakeTable.pruneByStats`, applied where `FileScan.partitions`
  * (and hence `planInputPartitions`) gets its file list. */
class LakeFileIndex(spark: SparkSession, root: String,
    entries: Seq[(String, String)], schema: StructType)
    extends InMemoryFileIndex(
      spark,
      entries.map { case (rel, _) => new Path(s"$root/$rel") },
      Map.empty[String, String],
      Some(schema)) {

  /** Root path for the SQL INSERT rewrite ([[LakeSqlInsert]]): the V1
    * fallback path erases the [[LakeV2Table]] identity, leaving this
    * index as the only marker that a LogicalRelation is a lake
    * snapshot. */
  private[lake] def tableRoot: String = root

  /** Stats keyed the way the log stores files: `stage-sub/name`. */
  private val statsByRel: Map[String, String] = entries.toMap

  private def relOf(p: Path): String = s"${p.getParent.getName}/${p.getName}"

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, Seq.empty)
    val bounds = LakeStatsPruning.constraints(dataFilters)
    // point (=) predicates additionally probe per-file Bloom sidecars
    // when an index exists — the skipping class min/max cannot serve on
    // hash-distributed key columns; no index directory → zero cost
    val bloomTests = LakeStatsPruning.points(dataFilters)
      .flatMap { case (name, value) =>
        schema.fields.find(_.name == name)
          .flatMap(f => BloomIndex.pointTest(root, f, value))
      }
    if (bounds.isEmpty && bloomTests.isEmpty) base
    else base.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        val rel = relOf(f.getPath)
        LakeStatsPruning.mayMatch(bounds, statsByRel.getOrElse(rel, "")) &&
          bloomTests.forall(_(rel))
      })
    }.filter(_.files.nonEmpty)
  }
}

/** Catalyst-predicate → per-column interval extraction for log-stats
  * pruning. Deliberately conservative: only simple `col <op> literal`
  * conjuncts contribute bounds (each element of `dataFilters` is one
  * conjunct, so collecting across the Seq is an AND); anything
  * unrecognized contributes nothing and the file is kept. Strict bounds
  * are treated as inclusive — pruning may keep a borderline file, never
  * drop a matching one.
  *
  * Typed bounds: numeric / timestamp / date columns compare as exact
  * decimals (timestamp literals carry MICROS and date literals DAYS —
  * the same units [[LakeTable.stage]] records); string columns compare
  * as UNSIGNED UTF-8 bytes against the `str$` stats namespace (the order
  * parquet binary stats and UTF8String share). A `Cast` on the column is
  * accepted ONLY when it is a value-preserving numeric widening —
  * anything else (date casts of timestamps, narrowing, string casts)
  * changes value space and must not prune. */
object LakeStatsPruning {

  sealed trait Bound { def column: String }
  /** Numeric value-space interval; None = unbounded on that side. */
  final case class NumBound(column: String, lo: Option[BigDecimal],
      hi: Option[BigDecimal]) extends Bound
  /** Unsigned-byte interval on a string column. */
  final case class StrBound(column: String, lo: Option[Array[Byte]],
      hi: Option[Array[Byte]]) extends Bound

  import org.apache.spark.sql.types._

  /** Value-preserving numeric widenings (every source value maps to
    * exactly itself in the target type). int→float and long→double are
    * NOT here: their mantissas round large values, and a rounded column
    * could satisfy a predicate its exact stats exclude. */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  private def attrOf(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case Cast(a: Attribute, t, _, _) if widens(a.dataType, t) => Some(a)
    case _ => None
  }

  private def numLit(e: Expression): Option[BigDecimal] = e match {
    case Literal(v, _) => v match {
      case null => None
      case b: Byte => Some(BigDecimal(b.toInt))
      case s: Short => Some(BigDecimal(s.toInt))
      case i: Int => Some(BigDecimal(i)) // also DateType (days)
      case l: Long => Some(BigDecimal(l)) // also Timestamp[NTZ] (micros)
      case f: Float => if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case d: Double => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
      case _ => None
    }
    case _ => None
  }

  private def strLit(e: Expression): Option[Array[Byte]] = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
      Some(v.getBytes)
    case _ => None
  }

  def constraints(filters: Seq[Expression]): Seq[Bound] =
    filters.flatMap(constraintsOf)

  /** `column = literal` point predicates for Bloom probing — bare
    * Attribute only (a Cast changes the hashed value space), non-null
    * literal, integral or string column (the families [[BloomIndex]]
    * blooms). Conjuncts only, like [[constraints]]. */
  def points(filters: Seq[Expression]): Seq[(String, Any)] =
    filters.flatMap(pointsOf)

  private def pointsOf(e: Expression): Seq[(String, Any)] = e match {
    case And(l, r) => pointsOf(l) ++ pointsOf(r)
    case EqualTo(a: Attribute, Literal(v, t)) if v != null &&
        pointFamilyOk(a.dataType, t) => Seq((a.name, v))
    case EqualTo(Literal(v, t), a: Attribute) if v != null &&
        pointFamilyOk(a.dataType, t) => Seq((a.name, v))
    case _ => Seq.empty
  }

  private def pointFamilyOk(col: DataType, lit: DataType): Boolean =
    (col, lit) match {
      case (ByteType | ShortType | IntegerType | LongType,
        ByteType | ShortType | IntegerType | LongType) => true
      case (StringType, StringType) => true
      case _ => false
    }

  private def constraintsOf(e: Expression): Seq[Bound] = e match {
    case And(l, r) => constraintsOf(l) ++ constraintsOf(r)
    case GreaterThan(a, v) => bound(a, v, lower = true)
    case GreaterThanOrEqual(a, v) => bound(a, v, lower = true)
    case LessThan(a, v) => bound(a, v, lower = false)
    case LessThanOrEqual(a, v) => bound(a, v, lower = false)
    case EqualTo(a, v) =>
      bound(a, v, lower = true) ++ bound(a, v, lower = false)
    case _ => Seq.empty
  }

  /** Normalize `attr op lit` / `lit op attr` into a one-sided bound.
    * The literal type must match the column family: a string literal
    * bounds only a string column (an implicit-cast comparison would
    * compare in a different value space). */
  private def bound(l: Expression, r: Expression, lower: Boolean): Seq[Bound] = {
    def mk(a: Attribute, flipped: Boolean): Seq[Bound] = {
      val lowerSide = lower != flipped
      (a.dataType, if (flipped) Seq(l) else Seq(r)) match {
        case (StringType, Seq(lit)) =>
          strLit(lit).map(v =>
            if (lowerSide) StrBound(a.name, Some(v), None)
            else StrBound(a.name, None, Some(v))).toSeq
        case (_, Seq(lit)) =>
          numLit(lit).map(v =>
            if (lowerSide) NumBound(a.name, Some(v), None)
            else NumBound(a.name, None, Some(v))).toSeq
      }
    }
    (attrOf(l), attrOf(r)) match {
      case (Some(a), None) => mk(a, flipped = false)
      case (None, Some(a)) => mk(a, flipped = true)
      case _ => Seq.empty
    }
  }

  /** Can a file with `stats` contain a row satisfying ALL bounds?
    * A column with no usable stats never prunes. */
  def mayMatch(bounds: Seq[Bound], stats: String): Boolean =
    mayMatchRanges(bounds, LakeTable.statsRange(stats, _), LakeTable.statsRangeStr(stats, _))

  /** [[mayMatch]] over any per-column (min, max) lookup — the lake log's
    * stats string or a Parquet footer ([[graft.FooterStatsFileIndex]]). */
  def mayMatchRanges(bounds: Seq[Bound],
      numRange: String => Option[(BigDecimal, BigDecimal)],
      strRange: String => Option[(Array[Byte], Array[Byte])]): Boolean =
    bounds.forall {
      case NumBound(column, lo, hi) =>
        numRange(column).forall { case (mn, mx) =>
          hi.forall(mn <= _) && lo.forall(_ <= mx)
        }
      case StrBound(column, lo, hi) =>
        strRange(column).forall { case (mn, mx) =>
          hi.forall(h => LakeTable.unsignedCompare(mn, h) <= 0) &&
            lo.forall(l => LakeTable.unsignedCompare(l, mx) <= 0)
        }
    }
}

package graft.sources.las

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pc.Layout
import graft.sources.MetadataAggregate
import graft.sources.las.laz.LazFormat

/** Hadoop-conf plumbing: the source must honor `spark.hadoop.*` settings
  * (custom filesystems, credentials) like any built-in file source.
  * Driver side we take the session's conf; executor side the readers get
  * it via a BROADCAST of [[SerializableHadoopConf]] (Configuration isn't
  * serializable) — one transfer per executor, like Spark's built-in file
  * sources, instead of re-shipping the full conf with every task. */
object LasHadoopConf {
  /** The active session's hadoop configuration, or a bare default when no
    * session exists (driver-side tools/tests outside Spark). */
  def sessionConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
}

/** Java-serializable Configuration wrapper (the standard Spark pattern;
  * the built-in `SerializableConfiguration` is private[spark]). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Spark DSv2 source for LAS and LAZ point clouds — the faithful port of
  * the reference's custom provider (pc-io/src/las/source.rs:34-138,
  * pc-io/src/las/provider.rs:33-182), re-expressed on the connector API.
  * Both formats share one record codec ([[LasFormat]]: `readRaw` and
  * `project`) and one scan path:
  *
  *  - one [[LasSpan]] per task: a byte span of one file plus its chunks'
  *    byte and point counts — a 512Ki-point slice of a LAS file is one
  *    raw chunk, a LAZ span is a run of chunk-table chunks of about as
  *    many points (the reference's chunk-parallel decode, as parallelism
  *    *between* tasks instead of a rayon pool inside one partition);
  *  - one reader: read the span once, then per chunk raw records or the
  *    LAZ pointwise/layered decoder, then project; a zero-column read
  *    (`count()`) opens no file;
  *  - `SupportsPushDownRequiredColumns`: only requested fields project,
  *    and the layered LAZ decoder decodes only their layers;
  *  - `SupportsPushDownFilters`: x/y/z range predicates prune whole
  *    files against header bounds (I1) but remain residual — *inexact*
  *    pushdown, exactly the reference's contract
  *    (pc-io/src/las/provider.rs:91-118);
  *  - `SupportsReportStatistics`: exact row count + byte size from the
  *    headers (I5);
  *  - `SupportsPushDownAggregates`: with no filter and no GROUP BY,
  *    `COUNT(*)`, `COUNT(col)` and `MIN`/`MAX` of x, y, z are answered
  *    from the headers as one local row (the reference reports the same
  *    header statistics as exact — pc-io/src/las/provider.rs:120-182).
  *    This relies on the header contract: the point count is exact, and
  *    the LAS spec defines the header extents as the extents of the
  *    records' resolved coordinates (file pruning above relies on them
  *    too). [[LasFormat.header]] writes them with the `raw * scale +
  *    offset` arithmetic [[LasFormat.project]] decodes with, so the
  *    answers equal a decoding scan's. Any other aggregate decodes. The
  *    matcher is the lake's too ([[graft.sources.MetadataAggregate]]).
  *
  * Header counts and bounds are trusted as they are: a file whose header
  * disagrees with its records answers and prunes from the header. The one
  * check is the length of an uncompressed file: shorter than its header's
  * records, it fails at load with "truncated LAS file" (the listing's
  * length, no extra filesystem call). A truncated LAZ file is not
  * detected until a decode reaches the missing chunk.
  *
  * Usage: `spark.read.format("las").load(path)` (a file, or a directory
  * of .las/.laz files).
  */
class LasDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "las"

  /** The last load's path options and headers. Spark calls `inferSchema`
    * and then `getTable` on one provider instance per load, so each
    * header is read once per load, not twice. */
  private var loaded: Option[(Seq[String], Seq[(String, LasFormat.LasHeader)])] = None

  private def headersFor(options: CaseInsensitiveStringMap): Seq[(String, LasFormat.LasHeader)] = {
    val key = Seq(options.get("path"), options.get("paths"))
    loaded.collect { case (k, hs) if k == key => hs }.getOrElse {
      val conf = LasHadoopConf.sessionConf()
      val hs = filesFor(conf, options).map { case (f, length) =>
        f -> requireComplete(f, length, LasFormat.readHeader(conf, f))
      }
      loaded = Some(key -> hs)
      hs
    }
  }

  /** An uncompressed file shorter than the records its header declares
    * was cut: fail by name at load, before the header answers a count or
    * a bound that the records no longer hold. */
  private def requireComplete(f: String, length: Long,
      h: LasFormat.LasHeader): LasFormat.LasHeader = {
    val need = BigInt(h.pointOffset) + BigInt(h.pointCount) * h.recordLength
    if (h.laz.isEmpty && need > length)
      throw new IllegalArgumentException(s"truncated LAS file $f: its header declares " +
        s"${h.pointCount} records of ${h.recordLength} bytes from offset " +
        s"${h.pointOffset} ($need bytes), but the file has $length bytes")
    h
  }

  /** The input files with their lengths, from the one listing. */
  private def filesFor(conf: Configuration, options: CaseInsensitiveStringMap): Seq[(String, Long)] = {
    // Spark DSv2 passes multiple load() paths as a JSON array string
    // (DataSourceV2Utils.getOptionsWithPaths), NOT comma-separated
    def parsePaths(v: String): Seq[String] =
      if (v.trim.startsWith("[")) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        mapper.readValue(v, classOf[Array[String]]).toSeq
      } else v.split(",").toSeq
    val raw = Option(options.get("path")).toSeq ++
      Option(options.get("paths")).toSeq.flatMap(parsePaths)
    raw.flatMap { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq.filter(_.isFile)
          .map(f => f.getPath.toString -> f.getLen)
          .filter(f => f._1.toLowerCase.endsWith(".las") || f._1.toLowerCase.endsWith(".laz"))
      else Seq(s -> st.getLen)
    }.sortBy(_._1)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val headers = headersFor(options).map(_._2)
    require(headers.nonEmpty, "las source: no input files")
    // widest schema every input format can serve (gps/rgb/extra_bytes
    // only when all files carry them)
    LasFormat.commonSchema(headers.map(_.pointFormat), headers.map(_.extraBytes))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LasTable(schema, headersFor(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = false
}

class LasTable(schema: StructType, headers: Seq[(String, LasFormat.LasHeader)])
    extends Table with SupportsRead {
  override def name(): String = s"las(${headers.map(_._1).mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LasScanBuilder(schema, headers)
}

class LasScanBuilder(fullSchema: StructType,
    headers: Seq[(String, LasFormat.LasHeader)])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var filtered = false
  private var answered: Option[LocalScan] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve our field order/metadata; keep only requested names
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept x/y/z range predicates for header-bounds pruning; everything
    // stays residual (Inexact pushdown — Spark re-applies all filters)
    filtered = filters.nonEmpty
    pushed = filters.filter(LasPruning.prunable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    headerAnswer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    answered = headerAnswer(agg)
    answered.isDefined
  }

  override def build(): Scan =
    answered.getOrElse(new LasScan(fullSchema, required, headers, pushed))

  /** `agg` answered from the headers alone ([[graft.sources.MetadataAggregate]]):
    * the count is the summed point counts, `MIN`/`MAX` of x, y or z the
    * extremes of the non-empty files' header bounds (null when there is
    * no point). */
  private def headerAnswer(agg: Aggregation): Option[LocalScan] = {
    val bounds = headers.collect { case (_, h) if h.pointCount > 0 => h.bounds }
    MetadataAggregate.answer(agg, filtered, fullSchema, Some(headers.map(_._2.pointCount).sum),
      d => if (!LasPruning.dims(d)) None
        else if (bounds.isEmpty) Some((null, null))
        else Some((bounds.map(_(d)._1).min, bounds.map(_(d)._2).max)))
  }
}

/** Filter-vs-header-bounds interval logic (I1). */
object LasPruning {
  val dims: Set[String] = Set("x", "y", "z")

  def prunable(f: Filter): Boolean = f match {
    case GreaterThan(a, v: Number) => dims(a)
    case GreaterThanOrEqual(a, v: Number) => dims(a)
    case LessThan(a, v: Number) => dims(a)
    case LessThanOrEqual(a, v: Number) => dims(a)
    case EqualTo(a, v: Number) => dims(a)
    case And(l, r) => prunable(l) && prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case _ => false
  }

  /** Can a record inside `bounds` possibly satisfy `f`? A NaN literal
    * prunes nothing: Spark orders NaN above every double, so `x < NaN`
    * holds on every row (`LakeStatsPruning` reads it the same way). */
  def mayMatch(f: Filter, bounds: Map[String, (Double, Double)]): Boolean = f match {
    case GreaterThan(a, v: Number) =>
      nan(v) || bounds.get(a).forall(_._2 > v.doubleValue)
    case GreaterThanOrEqual(a, v: Number) =>
      nan(v) || bounds.get(a).forall(_._2 >= v.doubleValue)
    case LessThan(a, v: Number) =>
      nan(v) || bounds.get(a).forall(_._1 < v.doubleValue)
    case LessThanOrEqual(a, v: Number) =>
      nan(v) || bounds.get(a).forall(_._1 <= v.doubleValue)
    case EqualTo(a, v: Number) =>
      nan(v) || bounds.get(a).forall(b => b._1 <= v.doubleValue && v.doubleValue <= b._2)
    case And(l, r) => mayMatch(l, bounds) && mayMatch(r, bounds)
    case Or(l, r) => mayMatch(l, bounds) || mayMatch(r, bounds)
    case _ => true
  }

  private def nan(v: Number): Boolean = v.doubleValue.isNaN
}

/** One read task: a contiguous byte span of `path` holding consecutive
  * chunks of point records, with each chunk's byte length and point count.
  * A LAS slice is one uncompressed chunk; a LAZ span is a run of the
  * chunk table's independently decodable chunks. `header` carries the
  * point format, extra-bytes tail, scale/offset and compression. */
final case class LasSpan(path: String, header: LasFormat.LasHeader, start: Long,
    chunkBytes: Array[Long], chunkPoints: Array[Long]) extends InputPartition

class LasScan(fullSchema: StructType, required: StructType,
    headers: Seq[(String, LasFormat.LasHeader)], pushed: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  /** Points per read task (the reference's batch size). */
  val ChunkRows: Long = Layout.BatchSize

  override def readSchema(): StructType = required

  /** Files surviving header-bounds pruning (I1). */
  private lazy val survivors: Seq[(String, LasFormat.LasHeader)] =
    headers.filter { case (_, h) =>
      pushed.forall(LasPruning.mayMatch(_, h.bounds))
    }

  override def planInputPartitions(): Array[InputPartition] =
    survivors.flatMap { case (f, h) =>
      // the independent decode units — ChunkRows-point slices of raw
      // records, or the LAZ chunk table's chunks — grouped into
      // ~ChunkRows-point spans (one contiguous read each)
      val chunks =
        if (h.laz.isEmpty)
          (0L until h.pointCount by ChunkRows).map { first =>
            val n = math.min(ChunkRows, h.pointCount - first)
            LazFormat.LazChunk(h.pointOffset + first * h.recordLength, n * h.recordLength, first, n)
          }
        else LazFormat.readChunks(LasHadoopConf.sessionConf(), f, h)
      val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[LazFormat.LazChunk]]
      var cur = Vector.empty[LazFormat.LazChunk]
      var curPoints = 0L
      chunks.foreach { c =>
        if (cur.nonEmpty && curPoints + c.pointCount > ChunkRows) {
          groups += cur; cur = Vector.empty; curPoints = 0L
        }
        cur :+= c; curPoints += c.pointCount
      }
      if (cur.nonEmpty) groups += cur
      groups.map { g =>
        LasSpan(f, h, g.head.fileOffset, g.map(_.byteLen).toArray,
          g.map(_.pointCount).toArray): InputPartition
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new LasReaderFactory(
      required.fieldNames.map(LasFormat.fieldCode),
      spark.sparkContext.broadcast(
        new SerializableHadoopConf(LasHadoopConf.sessionConf())))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(survivors.map { case (_, h) => h.pointCount * h.recordLength }.sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(survivors.map(_._2.pointCount).sum)
  }

  override def toBatch: Batch = this
}

class LasReaderFactory(fieldCodes: Array[Int],
    confBc: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {

  /** Zero-column projections (`count()`) need no point bytes at all: the
    * row count is already exact from the header / chunk table, so emit
    * empty rows without opening the file — the extreme case of the
    * layered source's selective decompression. */
  private def createCountingReader(n: Long): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val empty = new GenericInternalRow(0)
      private var row = -1L
      override def next(): Boolean = { row += 1; row < n }
      override def get(): InternalRow = empty
      override def close(): Unit = ()
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LasSpan]
    if (fieldCodes.isEmpty) createCountingReader(p.chunkPoints.sum)
    else createSpanReader(p)
  }

  /** Read the span once, then walk its chunks: raw records for LAS, the
    * pointwise or layered decoder for LAZ (the layered one decodes only
    * the projected layers), each record projected by [[LasFormat.project]]. */
  private def createSpanReader(p: LasSpan): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val h = p.header
      private val bytes = {
        val path = new Path(p.path)
        val in = path.getFileSystem(confBc.value.value).open(path)
        try {
          val totalL = p.chunkBytes.sum
          require(totalL <= Int.MaxValue.toLong,
            s"LAS partition too large to buffer: $totalL bytes")
          val buf = new Array[Byte](totalL.toInt)
          in.readFully(p.start, buf)
          buf
        } finally in.close()
      }
      private val out = new Array[Any](fieldCodes.length)
      private var chunk = -1
      private var chunkStart = 0
      private var reader: LasFormat.ChunkReader = null

      override def next(): Boolean = {
        while (reader == null || !reader.next()) {
          chunk += 1
          if (chunk >= p.chunkBytes.length) return false
          if (chunk > 0) chunkStart += p.chunkBytes(chunk - 1).toInt
          val end = chunkStart + p.chunkBytes(chunk).toInt
          val n = p.chunkPoints(chunk)
          reader =
            if (h.laz.isEmpty)
              new LasFormat.RawChunkReader(bytes, chunkStart, h.pointFormat, n, h.extraBytes)
            else if (LasFormat.isExtended(h.pointFormat))
              new LazFormat.ChunkDecoder14(bytes, chunkStart, end, h.pointFormat, n,
                fieldCodes, h.extraBytes)
            else
              new LazFormat.ChunkDecoder(bytes, chunkStart, end, h.pointFormat, n,
                h.extraBytes)
        }
        true
      }

      override def get(): InternalRow = {
        LasFormat.project(reader.point, h, fieldCodes, out)
        new GenericInternalRow(out.clone())
      }

      override def close(): Unit = ()
    }
}

package graft.sources.las.laz

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.las.LasFormat
import graft.sources.las.LasFormat.LasPoint

/** LAZ (LASzip) container plumbing: the laszip VLR, the chunk table, and
  * chunk-at-a-time encode/decode over the item codecs in [[LazItems]]
  * (pointwise v2, legacy formats 0-3) and [[LazItems14]] (layered v3,
  * LAS 1.4 extended formats 6-8).
  *
  * Layout (public LASzip container format): a LAS header whose
  * point-format byte has the 0x80 compressed bit, one `laszip encoded`
  * VLR (record 22204) describing coder + items + chunk size, then at
  * the point-data offset an i64 pointer to the chunk table, followed by
  * the chunks themselves. Chunks are independent — the unit of parallel
  * decode (reference: pc-io/src/las/source.rs:159-208 builds its scan
  * partitions from exactly this table via laz-rs). A pointwise
  * (compressor 2) chunk stores its first point raw and arithmetic-codes
  * the rest in one stream; a layered (compressor 3) chunk stores the
  * raw anchor, a u32 point count, per-layer byte sizes, then one
  * independent arithmetic stream per field group, enabling selective
  * decompression (see [[LazItems14]]).
  *
  * Byte-level compatibility with laszip-written files cannot be verified
  * in this sandbox (no sample files, no codec library, no egress), so
  * the contract tested here is self-consistency: encode→decode identity
  * property tests plus LAZ-vs-LAS equality through the DSv2 source.
  */
object LazFormat {

  val LaszipUserId = "laszip encoded"
  val LaszipRecordId = 22204
  /** Pointwise chunked compressor id (legacy formats 0-3). */
  val CompressorChunked = 2
  /** Layered chunked compressor id (extended formats 6-8). */
  val CompressorLayered = 3
  val DefaultChunkSize = 50000

  val ItemByte = 0
  val ItemPoint10 = 6
  val ItemGpstime11 = 7
  val ItemRgb12 = 8
  val ItemPoint14 = 10
  val ItemRgb14 = 11
  val ItemRgbNir14 = 12
  val ItemByte14 = 14

  /** type → (size, version) for the fixed-size items; the BYTE/BYTE14
    * extra-bytes items have caller-defined sizes (versions 2/3). */
  private val ItemSpec = Map(
    ItemPoint10 -> (20, 2),
    ItemGpstime11 -> (8, 2),
    ItemRgb12 -> (6, 2),
    ItemPoint14 -> (30, 3),
    ItemRgb14 -> (6, 3),
    ItemRgbNir14 -> (8, 3))
  private def itemVersion(t: Int): Option[Int] = t match {
    case ItemByte => Some(2)
    case ItemByte14 => Some(3)
    case other => ItemSpec.get(other).map(_._2)
  }
  private val LayeredItems = Set(ItemPoint14, ItemRgb14, ItemRgbNir14, ItemByte14)

  /** Sentinel chunk size (0xFFFFFFFF in the VLR) marking variable-size
    * chunking: per-chunk point counts live in the chunk table. */
  val VariableChunkSize: Int = -1

  final case class LazVlr(compressor: Int, chunkSize: Int, items: Seq[Int],
      extraBytes: Int = 0) {
    require(compressor == CompressorChunked || compressor == CompressorLayered,
      s"unsupported LAZ compressor $compressor (pointwise-chunked=2 or layered=3)")
    require(items.forall(itemVersion(_).isDefined),
      s"unsupported LAZ items $items " +
        "(only POINT10/GPSTIME11/RGB12/BYTE v2 and POINT14/RGB14/RGBNIR14/BYTE14 v3)")
    // the compressor id and the item generation must agree: layered
    // framing (anchor + layer sizes + layer blobs) only exists for the
    // v3 items, pointwise framing only for the v2 items
    require(items.forall(i => LayeredItems(i) == (compressor == CompressorLayered)),
      s"LAZ compressor $compressor does not match items $items")
    require(items.count(i => i == ItemByte || i == ItemByte14) <= 1,
      s"multiple extra-bytes items in $items")
    require((extraBytes > 0) == items.exists(i => i == ItemByte || i == ItemByte14),
      s"extra-bytes item size $extraBytes inconsistent with items $items")
    // 0xFFFFFFFF reads back as -1: variable-size chunking, point counts
    // in the chunk table. Anything else non-positive is a corrupt VLR
    // and must fail loudly here, not decode garbage via a nonsense
    // fixed count downstream.
    require(chunkSize > 0 || chunkSize == VariableChunkSize,
      s"corrupt LAZ chunk size $chunkSize (positive fixed size or " +
        "0xFFFFFFFF variable marker)")
    def variable: Boolean = chunkSize == VariableChunkSize
    def layered: Boolean = compressor == CompressorLayered
  }

  def itemsFor(pointFormat: Int, extraBytes: Int = 0): Seq[Int] =
    (if (LasFormat.isExtended(pointFormat))
      Seq(ItemPoint14) ++
        (if (LasFormat.hasNir(pointFormat)) Seq(ItemRgbNir14)
         else if (LasFormat.hasRgb(pointFormat)) Seq(ItemRgb14)
         else Nil) ++
        (if (extraBytes > 0) Seq(ItemByte14) else Nil)
    else
      Seq(ItemPoint10) ++
        (if (LasFormat.hasGps(pointFormat)) Seq(ItemGpstime11) else Nil) ++
        (if (LasFormat.hasRgb(pointFormat)) Seq(ItemRgb12) else Nil) ++
        (if (extraBytes > 0) Seq(ItemByte) else Nil))

  def vlrPayload(pointFormat: Int, chunkSize: Int, extraBytes: Int = 0): Array[Byte] = {
    val items = itemsFor(pointFormat, extraBytes)
    val compressor =
      if (LasFormat.isExtended(pointFormat)) CompressorLayered else CompressorChunked
    val bb = ByteBuffer.allocate(34 + 6 * items.size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(compressor.toShort)
    bb.putShort(0) // coder: arithmetic
    bb.put(2.toByte) // version major
    bb.put(2.toByte) // version minor
    bb.putShort(0) // revision
    bb.putInt(0) // options
    bb.putInt(chunkSize)
    bb.putLong(-1L) // number of special evlrs (none)
    bb.putLong(-1L) // offset to special evlrs
    bb.putShort(items.size.toShort)
    items.foreach { t =>
      val size = if (t == ItemByte || t == ItemByte14) extraBytes else ItemSpec(t)._1
      val version = itemVersion(t).get
      bb.putShort(t.toShort); bb.putShort(size.toShort); bb.putShort(version.toShort)
    }
    bb.array()
  }

  def parseVlrPayload(bytes: Array[Byte]): LazVlr = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val compressor = bb.getShort(0) & 0xFFFF
    val coder = bb.getShort(2) & 0xFFFF
    require(coder == 0, s"unsupported LAZ coder $coder (only arithmetic=0)")
    val chunkSize = bb.getInt(12)
    val numItems = bb.getShort(32) & 0xFFFF
    var extraBytes = 0
    val items = (0 until numItems).map { i =>
      val t = bb.getShort(34 + 6 * i) & 0xFFFF
      val size = bb.getShort(34 + 6 * i + 2) & 0xFFFF
      val version = bb.getShort(34 + 6 * i + 4) & 0xFFFF
      require(itemVersion(t).forall(_ == version),
        s"unsupported LAZ item version $version for item $t " +
          s"(expected v${itemVersion(t).getOrElse(0)})")
      if (t == ItemByte || t == ItemByte14) extraBytes = size
      t
    }
    LazVlr(compressor, chunkSize, items, extraBytes)
  }

  // ---- chunk codec ---------------------------------------------------

  /** Encode one chunk: raw first point + arithmetic-coded rest (legacy
    * pointwise framing for formats 0-3, layered for 6-8). */
  def encodeChunk(pts: IndexedSeq[LazPoint], fmt: Int): Array[Byte] = {
    require(pts.nonEmpty)
    require(pts.forall(_.extra.length == pts.head.extra.length),
      "all points in a chunk must carry the same extra-bytes length")
    if (LasFormat.isExtended(fmt)) encodeChunkLayered(pts, fmt)
    else encodeChunkPointwise(pts, fmt)
  }

  private def encodeChunkPointwise(pts: IndexedSeq[LazPoint], fmt: Int): Array[Byte] = {
    val extraCount = pts.head.extra.length
    val recLen = LasFormat.recordLengthFor(fmt) + extraCount
    val raw = ByteBuffer.allocate(recLen).order(ByteOrder.LITTLE_ENDIAN)
    LasFormat.writeRaw(raw, pts.head, fmt)
    if (pts.size == 1) raw.array()
    else {
      val enc = new ArithmeticEncoder
      enc.init()
      val p10 = new Point10V2(enc, null, pts.head)
      val gps = if (LasFormat.hasGps(fmt)) new GpsTime11V2(enc, null, pts.head) else null
      val rgb = if (LasFormat.hasRgb(fmt)) new Rgb12V2(enc, null, pts.head) else null
      val ext = if (extraCount > 0) new Byte2V2(enc, null, pts.head) else null
      var i = 1
      while (i < pts.size) {
        val p = pts(i)
        p10.encode(p)
        if (gps != null) gps.encode(p.gpsTime)
        if (rgb != null) rgb.encode(p.red, p.green, p.blue)
        if (ext != null) ext.encode(p.extra)
        i += 1
      }
      raw.array() ++ enc.done()
    }
  }

  /** Layered (v3) chunk: raw anchor, u32 point count, u32 byte size per
    * layer, then the layer blobs — each layer an independent arithmetic
    * stream (see [[LazItems14]]). */
  private def encodeChunkLayered(pts: IndexedSeq[LazPoint], fmt: Int): Array[Byte] = {
    val extraCount = pts.head.extra.length
    val recLen = LasFormat.recordLengthFor(fmt) + extraCount
    val extraBase = LazLayers.numLayers(fmt)
    val nLayers = extraBase + extraCount // one layer per extra byte
    val blobs: Array[Array[Byte]] =
      if (pts.size == 1) Array.fill(nLayers)(Array.emptyByteArray)
      else {
        val encs = Array.fill(nLayers) { val e = new ArithmeticEncoder; e.init(); e }
        val p14 = new Point14V3(encs, null, pts.head)
        val rgb =
          if (LasFormat.hasRgb(fmt)) new Rgb14V3(encs(LazLayers.Rgb), null, pts.head)
          else null
        val nir =
          if (LasFormat.hasNir(fmt)) new Nir14V3(encs(LazLayers.Nir), null, pts.head)
          else null
        val ext =
          if (extraCount > 0)
            new Byte14V3(encs.slice(extraBase, nLayers), null, pts.head)
          else null
        var i = 1
        while (i < pts.size) {
          val p = pts(i)
          p14.encode(p)
          if (rgb != null) rgb.encode(p14.context, p.red, p.green, p.blue)
          if (nir != null) nir.encode(p14.context, p.nir)
          if (ext != null) ext.encode(p14.context, p.extra)
          i += 1
        }
        encs.map(_.done())
      }
    val total = recLen + 4 + 4 * nLayers + blobs.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    LasFormat.writeRaw(bb, pts.head, fmt)
    bb.putInt(pts.size)
    blobs.foreach(b => bb.putInt(b.length))
    blobs.foreach(bb.put)
    bb.array()
  }

  /** Streaming decoder over one layered (v3) chunk's byte slice.
    * `wantedFieldCodes` ([[LasFormat.fieldCode]] values) selects which
    * layers actually decode — unprojected layers are skipped wholesale
    * (their bytes are never touched), the point of the layered framing.
    * Fields outside the wanted set hold garbage in [[point]]. */
  final class ChunkDecoder14(buf: Array[Byte], start: Int, end: Int, fmt: Int,
      count: Long, wantedFieldCodes: Array[Int], extraCount: Int = 0)
      extends LasFormat.ChunkReader {
    import LazLayers._
    val point = new LazPoint
    private var i = 0L
    private var p14: Point14V3 = null
    private var rgb: Rgb14V3 = null
    private var nir: Nir14V3 = null
    private var ext: Byte14V3 = null

    private val wantRgb = LasFormat.hasRgb(fmt) &&
      wantedFieldCodes.exists(c => c >= 13 && c <= 15)
    private val wantNir = LasFormat.hasNir(fmt) && wantedFieldCodes.contains(17)
    private val wantExtra = extraCount > 0 && wantedFieldCodes.contains(23)
    private val extraBase = numLayers(fmt)

    private def layerWanted(l: Int): Boolean =
      if (l >= extraBase) wantExtra // one layer per extra byte
      else l match {
        case XY => true // carries contexts, returns and channel — always on
        case Z => wantedFieldCodes.contains(2)
        case Cls => wantedFieldCodes.contains(8)
        // serves scan direction/edge (6/7), the classification-flags
        // booleans (18-21), and the scan-angle corrector's direction context
        case Flags =>
          wantedFieldCodes.exists(c => c == 6 || c == 7 || c == 9 || (c >= 18 && c <= 22))
        case Intens => wantedFieldCodes.contains(3)
        case ScanAngle => wantedFieldCodes.exists(c => c == 9 || c == 22)
        case UserData => wantedFieldCodes.contains(10)
        case PointSource => wantedFieldCodes.contains(11)
        case Gps => wantedFieldCodes.contains(12)
        case Rgb => wantRgb
        case Nir => wantNir
      }

    def next(): Boolean = {
      if (i >= count) false
      else {
        if (i == 0) {
          val recLen = LasFormat.recordLengthFor(fmt) + extraCount
          val nLayers = extraBase + extraCount
          val bb = ByteBuffer.wrap(buf, start, end - start).order(ByteOrder.LITTLE_ENDIAN)
          LasFormat.readRaw(bb, point, fmt, extraCount)
          val stored = bb.getInt().toLong & 0xFFFFFFFFL
          require(stored == count,
            s"LAZ layered chunk declares $stored points, chunk table says $count")
          if (count > 1) {
            val sizes = new Array[Int](nLayers)
            var l = 0
            while (l < nLayers) {
              sizes(l) = bb.getInt()
              // a u32 size >= 2^31 reads back negative: corrupt (a layer
              // cannot exceed its chunk), and a negative size would walk
              // the layer offset backwards into already-decoded bytes
              require(sizes(l) >= 0,
                s"corrupt LAZ layer size ${sizes(l).toLong & 0xFFFFFFFFL} (layer $l)")
              l += 1
            }
            var off = start + recLen + 4 + 4 * nLayers
            val decs = new Array[ArithmeticDecoder](nLayers)
            l = 0
            while (l < nLayers) {
              require(off + sizes(l) <= end,
                s"LAZ layered chunk overruns its byte span (layer $l)")
              if (layerWanted(l)) {
                decs(l) = new ArithmeticDecoder(buf, off, off + sizes(l))
                decs(l).init()
              }
              off += sizes(l)
              l += 1
            }
            p14 = new Point14V3(null, decs.take(NumPoint14), point)
            if (LasFormat.hasRgb(fmt) && decs(Rgb) != null)
              rgb = new Rgb14V3(null, decs(Rgb), point)
            if (LasFormat.hasNir(fmt) && decs(Nir) != null)
              nir = new Nir14V3(null, decs(Nir), point)
            if (wantExtra)
              ext = new Byte14V3(null, decs.slice(extraBase, nLayers), point)
          }
        } else {
          p14.decode(point)
          if (rgb != null) rgb.decode(p14.context, point)
          if (nir != null) point.nir = nir.decode(p14.context)
          if (ext != null) point.extra = ext.decode(p14.context)
        }
        i += 1
        true
      }
    }
  }

  /** Streaming decoder over one pointwise (v2) chunk's byte slice. */
  final class ChunkDecoder(buf: Array[Byte], start: Int, end: Int, fmt: Int, count: Long,
      extraCount: Int = 0) extends LasFormat.ChunkReader {
    val point = new LazPoint
    private var i = 0L
    private val recLen = LasFormat.recordLengthFor(fmt) + extraCount
    private var p10: Point10V2 = null
    private var gps: GpsTime11V2 = null
    private var rgb: Rgb12V2 = null
    private var ext: Byte2V2 = null
    private var dec: ArithmeticDecoder = null

    def next(): Boolean = {
      if (i >= count) false
      else {
        if (i == 0) {
          val bb = ByteBuffer.wrap(buf, start, end - start).order(ByteOrder.LITTLE_ENDIAN)
          LasFormat.readRaw(bb, point, fmt, extraCount)
          if (count > 1) {
            dec = new ArithmeticDecoder(buf, start + recLen, end)
            dec.init()
            p10 = new Point10V2(null, dec, point)
            gps = if (LasFormat.hasGps(fmt)) new GpsTime11V2(null, dec, point) else null
            rgb = if (LasFormat.hasRgb(fmt)) new Rgb12V2(null, dec, point) else null
            ext = if (extraCount > 0) new Byte2V2(null, dec, point) else null
          }
        } else {
          p10.decode(point)
          if (gps != null) point.gpsTime = gps.decode()
          if (rgb != null) rgb.decode(point)
          if (ext != null) point.extra = ext.decode()
        }
        i += 1
        true
      }
    }
  }

  // ---- chunk table ---------------------------------------------------

  /** One chunk's placement: byte span in the file + point span. */
  final case class LazChunk(fileOffset: Long, byteLen: Long, pointStart: Long, pointCount: Long)

  /** Chunk table: version, count, then per chunk the arithmetic-coded
    * byte size (context 1, previous size as the prediction) — preceded,
    * in variable-size chunking, by the chunk's point count (context 0,
    * previous count as the prediction), laszip's two-context scheme.
    * `chunkPointCounts` must be supplied iff the VLR declares variable
    * chunking. */
  def encodeChunkTable(chunkByteSizes: Seq[Long],
      chunkPointCounts: Option[Seq[Long]] = None): Array[Byte] = {
    require(chunkPointCounts.forall(_.size == chunkByteSizes.size),
      "chunk point-count list must align with the byte-size list")
    val sizes = chunkByteSizes.toIndexedSeq // O(1) access; a List would be O(n^2) below
    val counts = chunkPointCounts.map(_.toIndexedSeq)
    val head = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    head.putInt(0) // version
    head.putInt(sizes.size)
    if (sizes.isEmpty) head.array()
    else {
      val enc = new ArithmeticEncoder
      enc.init()
      val ic = new IntegerCompressor(enc, null, 32, 2)
      var prevSize = 0L
      var prevCount = 0L
      sizes.indices.foreach { i =>
        counts.foreach { cs =>
          ic.compress(prevCount.toInt, cs(i).toInt, 0)
          prevCount = cs(i)
        }
        ic.compress(prevSize.toInt, sizes(i).toInt, 1)
        prevSize = sizes(i)
      }
      head.array() ++ enc.done()
    }
  }

  /** Decode the chunk table to (pointCount, byteSize) pairs; for a
    * fixed-size table the counts come back as -1 (caller fills them from
    * the VLR chunk size). */
  def decodeChunkTable(buf: Array[Byte], start: Int, end: Int,
      variable: Boolean = false): Seq[(Long, Long)] = {
    val bb = ByteBuffer.wrap(buf, start, end - start).order(ByteOrder.LITTLE_ENDIAN)
    val version = bb.getInt()
    require(version == 0, s"unsupported LAZ chunk table version $version")
    val n = bb.getInt()
    if (n == 0) Nil
    else {
      val dec = new ArithmeticDecoder(buf, start + 8, end)
      dec.init()
      val ic = new IntegerCompressor(null, dec, 32, 2)
      val out = new Array[(Long, Long)](n)
      var prevSize = 0L
      var prevCount = 0L
      var i = 0
      while (i < n) {
        val count =
          if (!variable) -1L
          else {
            prevCount = ic.decompress(prevCount.toInt, 0).toLong & 0xFFFFFFFFL
            prevCount
          }
        prevSize = ic.decompress(prevSize.toInt, 1).toLong & 0xFFFFFFFFL
        out(i) = (count, prevSize)
        i += 1
      }
      out.toSeq
    }
  }

  /** Driver-side chunk placement for a LAZ file: reads the i64 table
    * pointer at the point-data offset, decodes the table, and lays the
    * chunks out (chunk 0 starts right after the pointer). */
  def readChunks(conf: Configuration, path: String, header: LasFormat.LasHeader): Seq[LazChunk] = {
    val vlr = header.laz.getOrElse(
      throw new IllegalArgumentException(s"$path is not a LAZ file"))
    require(vlr.layered == LasFormat.isExtended(header.pointFormat),
      s"$path: LAZ compressor ${vlr.compressor} does not match " +
        s"point format ${header.pointFormat}")
    // the decoder derives its item/layer list from the point format and
    // the record length's extra-bytes tail — a VLR declaring a different
    // item set would mis-slice every chunk
    val headerExtra = header.extraBytes
    require(vlr.items == itemsFor(header.pointFormat, headerExtra) &&
        vlr.extraBytes == headerExtra,
      s"$path: laszip VLR items ${vlr.items} (extra ${vlr.extraBytes} B) do not " +
        s"match point format ${header.pointFormat} with $headerExtra extra bytes")
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val ptr = new Array[Byte](8)
      in.readFully(header.pointOffset, ptr)
      val tableOffset = ByteBuffer.wrap(ptr).order(ByteOrder.LITTLE_ENDIAN).getLong
      require(tableOffset > 0 && tableOffset <= fileLen - 8,
        s"$path: bad LAZ chunk table offset $tableOffset")
      val tableLen = (fileLen - tableOffset).toInt
      val table = new Array[Byte](tableLen)
      in.readFully(tableOffset, table)
      val entries = decodeChunkTable(table, 0, tableLen, vlr.variable)
      // fixed mode derives the last chunk's count by subtraction, which
      // would make a sum check tautological — validate the entry COUNT
      // instead (every chunk but the last holds exactly chunkSize points)
      if (!vlr.variable) {
        val expected =
          ((header.pointCount + vlr.chunkSize - 1) / vlr.chunkSize).toInt
        require(entries.size == expected,
          s"$path: ${entries.size} chunk table entries for " +
            s"${header.pointCount} points at chunk size ${vlr.chunkSize} " +
            s"(expected $expected)")
      }
      var off = header.pointOffset + 8
      var pointStart = 0L
      val chunks = entries.zipWithIndex.map { case ((tableCount, byteLen), i) =>
        val count =
          if (vlr.variable) tableCount
          else if (i < entries.size - 1) vlr.chunkSize.toLong
          else header.pointCount - pointStart
        val c = LazChunk(off, byteLen, pointStart, count)
        off += byteLen
        pointStart += count
        c
      }
      require(pointStart == header.pointCount,
        s"$path: chunk table covers $pointStart points, header says ${header.pointCount}")
      chunks
    } finally in.close()
  }

  // ---- whole-file writer (fixtures / export) -------------------------

  /** Write a LAZ file (legacy point formats 0-3 as LAS 1.2, extended
    * formats 6-8 as LAS 1.4 with layered compression): [[LasFormat.header]]
    * with the laszip VLR, the chunk table pointer, the chunks, the chunk
    * table. Records come from [[LasFormat.quantize]], so a LAS and a LAZ
    * of the same points resolve identically. */
  def write(conf: Configuration, path: String, points: Seq[LasPoint],
      pointFormat: Int = 1,
      scale: (Double, Double, Double) = (0.001, 0.001, 0.001),
      offset: (Double, Double, Double) = (0.0, 0.0, 0.0),
      chunkSize: Int = DefaultChunkSize,
      variableChunks: Option[Seq[Int]] = None,
      extraBytes: Int = 0): Unit = {
    require(pointFormat <= 3 || LasFormat.isExtended(pointFormat))
    require(chunkSize > 0)
    require(points.forall(_.extra.length == extraBytes),
      s"every point's extra payload must be exactly $extraBytes bytes")
    variableChunks.foreach { cs =>
      require(cs.forall(_ > 0) && cs.sum == points.size,
        s"variable chunk counts must be positive and sum to ${points.size}")
    }
    val payload = vlrPayload(pointFormat,
      if (variableChunks.isDefined) VariableChunkSize else chunkSize, extraBytes)
    val vlr = ByteBuffer.allocate(54 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    vlr.position(2); vlr.put(LaszipUserId.getBytes("US-ASCII")) // after 2 reserved bytes
    vlr.putShort(18, LaszipRecordId.toShort)
    vlr.putShort(20, payload.length.toShort)
    vlr.position(54); vlr.put(payload)

    val lazPts = points.map(pt =>
      LasFormat.quantize(pt, pointFormat, scale, offset, new LazPoint)).toIndexedSeq

    val body = new ByteArrayOutputStream()
    body.write(LasFormat.header(points, pointFormat, extraBytes, scale, offset, vlr.array()))
    val ptrPos = body.size()
    body.write(new Array[Byte](8)) // chunk table pointer, patched below
    val groups: Iterator[IndexedSeq[LazPoint]] = variableChunks match {
      case None => lazPts.grouped(chunkSize)
      case Some(cs) =>
        val bounds = cs.scanLeft(0)(_ + _)
        bounds.init.zip(bounds.tail).iterator.map { case (a, b) => lazPts.slice(a, b) }
    }
    val chunkSizes = groups.map { group =>
      val bytes = encodeChunk(group, pointFormat)
      body.write(bytes)
      bytes.length.toLong
    }.toSeq
    val tableOffset = body.size().toLong
    body.write(encodeChunkTable(chunkSizes,
      variableChunks.map(_.map(_.toLong))))

    val all = body.toByteArray
    ByteBuffer.wrap(all, ptrPos, 8).order(ByteOrder.LITTLE_ENDIAN).putLong(tableOffset)

    val p = new Path(path)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(all) finally out.close()
  }
}

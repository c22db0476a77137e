package graft.sources.las

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import graft.pc.PcSchema
import graft.sources.las.laz.LazPoint

/** LAS 1.2/1.4 binary format: header codec, point-record codec, and a
  * small writer for fixtures/export (reference reads LAS/LAZ via an
  * external crate — pc-io/src/las/source.rs:50-138; the byte layout here
  * follows the public ASPRS LAS 1.2 and 1.4 specifications).
  *
  * Supported point formats: legacy 0 (20 bytes), 1 (format 0 + gps_time
  * f64), 2 (format 0 + RGB u16×3), 3 (format 1 + RGB u16×3); and the
  * LAS 1.4 extended records 6 (30 bytes: 4-bit return fields, scanner
  * channel, i16 scan angle, mandatory gps_time), 7 (format 6 + RGB) and
  * 8 (format 7 + NIR). Formats 9/10 (waveform packets) are rejected with
  * a clear error — same practical scope as the reference's usage.
  * Coordinates resolve as `raw_i32 * scale + offset`; the resolved schema
  * mirrors the reference's `schema_from_header` mapping with unsigned
  * widening (FIXTURES.md §1): intensity/point_source_id/colors/nir
  * u16→Int, u8→Short.
  */
object LasFormat {

  val HeaderSize: Int = 227
  /** LAS 1.4 header size (adds waveform/EVLR pointers + 64-bit counts). */
  val HeaderSize14: Int = 375
  val Signature = "LASF"

  final case class LasHeader(
      pointFormat: Int,
      recordLength: Int,
      pointCount: Long,
      pointOffset: Long,
      scale: (Double, Double, Double),
      offset: (Double, Double, Double),
      // LAS headers store max before min, per axis
      min: (Double, Double, Double),
      max: (Double, Double, Double),
      /** Present iff the file is LAZ (compressed point records). */
      laz: Option[graft.sources.las.laz.LazFormat.LazVlr] = None) {
    def bounds: Map[String, (Double, Double)] = Map(
      "x" -> (min._1, max._1), "y" -> (min._2, max._2), "z" -> (min._3, max._3))
    /** Length of the record's user-defined extra-bytes tail — the single
      * definition every consumer (planner, VLR validation, row decoder)
      * derives it from. */
    def extraBytes: Int = recordLength - recordLengthFor(pointFormat)
  }

  /** Headers parsed by [[readHeader]] since JVM start. */
  private[graft] val headerReads = new java.util.concurrent.atomic.AtomicLong()

  def readHeader(conf: Configuration, path: String): LasHeader = {
    headerReads.incrementAndGet()
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val small = new Array[Byte](HeaderSize)
      in.readFully(0L, small)
      val sig = new String(small, 0, 4, "US-ASCII")
      require(sig == Signature, s"$path is not a LAS file (signature `$sig`)")
      // re-read at the declared header size: LAS 1.4 headers are 375
      // bytes and carry the 64-bit point count past offset 227
      val declared = ByteBuffer.wrap(small).order(ByteOrder.LITTLE_ENDIAN)
        .getShort(94) & 0xffff
      val buf =
        if (declared <= HeaderSize) small
        else { val b = new Array[Byte](declared); in.readFully(0L, b); b }
      val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
      val fmt = bb.get(104) & 0x7f
      require(fmt <= 3 || (fmt >= 6 && fmt <= 8),
        s"unsupported LAS point format $fmt (only 0-3 and 6-8)")
      val compressed = (bb.get(104) & 0x80) != 0
      val pointOffset = bb.getInt(96).toLong & 0xffffffffL
      val laz =
        if (!compressed) None
        else {
          // walk the VLRs between header and point data for the laszip
          // record (user id `laszip encoded`, record id 22204)
          val headerSize = bb.getShort(94) & 0xffff
          val vlrCount = bb.getInt(100)
          val region = new Array[Byte]((pointOffset - headerSize).toInt)
          in.readFully(headerSize.toLong, region)
          val rb = ByteBuffer.wrap(region).order(ByteOrder.LITTLE_ENDIAN)
          var pos = 0
          var found: Option[graft.sources.las.laz.LazFormat.LazVlr] = None
          var i = 0
          while (i < vlrCount && found.isEmpty && pos + 54 <= region.length) {
            val userId = new String(region, pos + 2, 16, "US-ASCII").takeWhile(_ != 0)
            val recordId = rb.getShort(pos + 18) & 0xffff
            val len = rb.getShort(pos + 20) & 0xffff
            if (userId == graft.sources.las.laz.LazFormat.LaszipUserId &&
                recordId == graft.sources.las.laz.LazFormat.LaszipRecordId) {
              val payload = java.util.Arrays.copyOfRange(region, pos + 54, pos + 54 + len)
              found = Some(graft.sources.las.laz.LazFormat.parseVlrPayload(payload))
            }
            pos += 54 + len
            i += 1
          }
          Some(found.getOrElse(throw new IllegalArgumentException(
            s"$path has the LAZ compressed bit but no laszip VLR")))
        }
      // LAS 1.4 stores the real count as u64 at 247 (the legacy u32 at
      // 107 is zero for extended formats); prefer it when present
      val legacyCount = bb.getInt(107).toLong & 0xffffffffL
      val count =
        if (buf.length >= HeaderSize14 && bb.getLong(247) > 0) bb.getLong(247)
        else legacyCount
      val recLen = bb.getShort(105) & 0xffff
      require(recLen >= recordLengthFor(fmt),
        s"$path: record length $recLen below format $fmt's ${recordLengthFor(fmt)}")
      LasHeader(
        pointFormat = fmt,
        recordLength = recLen,
        pointCount = count,
        pointOffset = pointOffset,
        scale = (bb.getDouble(131), bb.getDouble(139), bb.getDouble(147)),
        offset = (bb.getDouble(155), bb.getDouble(163), bb.getDouble(171)),
        min = (bb.getDouble(187), bb.getDouble(203), bb.getDouble(219)),
        max = (bb.getDouble(179), bb.getDouble(195), bb.getDouble(211)),
        laz = laz)
    } finally in.close()
  }

  /** Resolved-coordinate schema for a point format (reference:
    * pc-io/src/las/schema.rs:38-84, with Spark unsigned widening).
    * `extraBytes > 0` (record length beyond the standard format length)
    * appends an opaque `extra_bytes` binary column — user-defined
    * per-point attributes, common in production tiles. */
  def schemaFor(pointFormat: Int, extraBytes: Int = 0): StructType = {
    val base = Seq(
      PcSchema.dimensionField("x", DoubleType, 1, location = true),
      PcSchema.dimensionField("y", DoubleType, 2, location = true),
      PcSchema.dimensionField("z", DoubleType, 3, location = true),
      StructField("intensity", IntegerType, nullable = false),
      StructField("return_number", ShortType, nullable = false),
      StructField("number_of_returns", ShortType, nullable = false),
      StructField("scan_direction", ShortType, nullable = false),
      StructField("is_edge_of_flight_line", BooleanType, nullable = false),
      // classification flags, uniform across formats like the reference
      // (legacy: classification-byte bits 5-7, no overlap flag; extended:
      // the flags nibble) — schema_from_header exposes the same four
      StructField("is_synthetic", BooleanType, nullable = false),
      StructField("is_key_point", BooleanType, nullable = false),
      StructField("is_withheld", BooleanType, nullable = false),
      StructField("is_overlap", BooleanType, nullable = false),
      StructField("classification", ShortType, nullable = false),
      StructField("scan_angle_rank", ShortType, nullable = false),
      // reference exposes degrees as f32 (las crate semantics: legacy
      // rank is whole degrees, extended units are 0.006 deg); the raw
      // scan_angle_rank column above is kept as the lossless twin
      StructField("scan_angle", FloatType, nullable = false),
      StructField("user_data", ShortType, nullable = false),
      StructField("point_source_id", IntegerType, nullable = false))
    val withChannel =
      if (isExtended(pointFormat))
        base :+ StructField("scanner_channel", ShortType, nullable = false)
      else base
    val withGps =
      if (hasGps(pointFormat)) withChannel :+ StructField("gps_time", DoubleType, nullable = false)
      else withChannel
    val withRgb =
      if (hasRgb(pointFormat)) withGps ++ Seq(
        StructField("red", IntegerType, nullable = false),
        StructField("green", IntegerType, nullable = false),
        StructField("blue", IntegerType, nullable = false))
      else withGps
    val withNir =
      if (hasNir(pointFormat)) withRgb :+ StructField("nir", IntegerType, nullable = false)
      else withRgb
    val withExtra =
      if (extraBytes > 0)
        withNir :+ StructField("extra_bytes", BinaryType, nullable = false)
      else withNir
    StructType(withExtra)
  }

  /** LAS 1.4 extended records (4-bit returns, scanner channel, i16 scan
    * angle, mandatory gps). */
  def isExtended(pointFormat: Int): Boolean = pointFormat >= 6
  def hasGps(pointFormat: Int): Boolean =
    pointFormat == 1 || pointFormat == 3 || isExtended(pointFormat)
  def hasRgb(pointFormat: Int): Boolean =
    pointFormat == 2 || pointFormat == 3 || pointFormat == 7 || pointFormat == 8
  def hasNir(pointFormat: Int): Boolean = pointFormat == 8

  /** Widest schema every input format can serve (generalizes the old
    * "lowest format wins" rule, which relied on format 0 being a prefix
    * of format 1 — not true once RGB formats join the mix). The
    * `extra_bytes` column appears only when EVERY file carries extra
    * bytes (payload lengths may differ per file — it's binary). */
  def commonSchema(formats: Seq[Int], extras: Seq[Int] = Nil): StructType = {
    require(formats.nonEmpty)
    val extra = if (extras.nonEmpty && extras.forall(_ > 0)) 1 else 0
    if (formats.forall(_ == formats.head)) schemaFor(formats.head, extra)
    else {
      // the representative format providing exactly the shared features;
      // nir-only mixes can't arise (nir => format 8, caught by all-equal)
      val gps = formats.forall(hasGps)
      val rgb = formats.forall(hasRgb)
      val ext = formats.forall(isExtended) // implies gps
      schemaFor((ext, gps, rgb) match {
        case (true, _, true) => 7
        case (true, _, false) => 6
        case (false, true, true) => 3
        case (false, true, false) => 1
        case (false, false, true) => 2
        case (false, false, false) => 0
      }, extra)
    }
  }

  /** Format-independent semantic field codes: [[project]] switches on
    * these (plus the record's own point format for the bit packing), so a
    * reader can serve any projection of [[commonSchema]] from any file
    * format. */
  val FieldNames: Seq[String] = Seq(
    "x", "y", "z", "intensity", "return_number", "number_of_returns",
    "scan_direction", "is_edge_of_flight_line", "classification",
    "scan_angle_rank", "user_data", "point_source_id", "gps_time",
    "red", "green", "blue", "scanner_channel", "nir",
    "is_synthetic", "is_key_point", "is_withheld", "is_overlap", "scan_angle",
    "extra_bytes")

  def fieldCode(name: String): Int = {
    val c = FieldNames.indexOf(name)
    require(c >= 0, s"unknown LAS field `$name`")
    c
  }

  // ---- the point-record codec -----------------------------------------
  // A record lives in memory as a [[LazPoint]] holding the raw on-disk
  // values. readRaw/writeRaw are the only code that touches a record's
  // bytes, [[quantize]] the only way from a [[LasPoint]] to a record, and
  // [[project]] the only way from a record to column values; the LAZ
  // item codecs work on the same LazPoint.

  /** Read one record at `bb`'s position (advancing it) into `p`. */
  def readRaw(bb: ByteBuffer, p: LazPoint, fmt: Int, extraCount: Int): Unit = {
    p.x = bb.getInt(); p.y = bb.getInt(); p.z = bb.getInt()
    p.intensity = bb.getShort() & 0xFFFF
    if (isExtended(fmt)) {
      p.returns = bb.get() & 0xFF
      p.extFlags = bb.get() & 0xFF
      p.classification = bb.get() & 0xFF
      p.userData = bb.get() & 0xFF
      p.scanAngle = bb.getShort().toInt
      p.pointSourceId = bb.getShort() & 0xFFFF
      p.gpsTime = bb.getLong()
    } else {
      p.flags = bb.get() & 0xFF
      p.classification = bb.get() & 0xFF
      p.scanAngleRank = bb.get() & 0xFF
      p.userData = bb.get() & 0xFF
      p.pointSourceId = bb.getShort() & 0xFFFF
      if (hasGps(fmt)) p.gpsTime = bb.getLong()
    }
    if (hasRgb(fmt)) {
      p.red = bb.getShort() & 0xFFFF
      p.green = bb.getShort() & 0xFFFF
      p.blue = bb.getShort() & 0xFFFF
    }
    if (hasNir(fmt)) p.nir = bb.getShort() & 0xFFFF
    if (extraCount > 0) {
      val e = new Array[Byte](extraCount)
      bb.get(e)
      p.extra = e
    } else p.extra = Array.emptyByteArray
  }

  /** Write `p` as one record at `bb`'s position (advancing it). */
  def writeRaw(bb: ByteBuffer, p: LazPoint, fmt: Int): Unit = {
    bb.putInt(p.x); bb.putInt(p.y); bb.putInt(p.z)
    bb.putShort(p.intensity.toShort)
    if (isExtended(fmt)) {
      bb.put(p.returns.toByte)
      bb.put(p.extFlags.toByte)
      bb.put(p.classification.toByte)
      bb.put(p.userData.toByte)
      bb.putShort(p.scanAngle.toShort)
      bb.putShort(p.pointSourceId.toShort)
      bb.putLong(p.gpsTime)
    } else {
      bb.put(p.flags.toByte)
      bb.put(p.classification.toByte)
      bb.put(p.scanAngleRank.toByte)
      bb.put(p.userData.toByte)
      bb.putShort(p.pointSourceId.toShort)
      if (hasGps(fmt)) bb.putLong(p.gpsTime)
    }
    if (hasRgb(fmt)) {
      bb.putShort(p.red.toShort); bb.putShort(p.green.toShort); bb.putShort(p.blue.toShort)
    }
    if (hasNir(fmt)) bb.putShort(p.nir.toShort)
    if (p.extra.nonEmpty) bb.put(p.extra)
  }

  /** The raw i32 coordinate of `v` on the (scale, offset) grid. */
  private def quantized(v: Double, scale: Double, offset: Double): Int =
    Math.round((v - offset) / scale).toInt

  /** Fill `into` with `pt`'s record in point format `fmt` and return it.
    * Both the legacy and the extended fields are set; the format decides
    * which reach the bytes. The extra-bytes payload is shared, not copied
    * (no codec mutates it). */
  def quantize(pt: LasPoint, fmt: Int, scale: (Double, Double, Double),
      offset: (Double, Double, Double), into: LazPoint): LazPoint = {
    into.x = quantized(pt.x, scale._1, offset._1)
    into.y = quantized(pt.y, scale._2, offset._2)
    into.z = quantized(pt.z, scale._3, offset._3)
    into.intensity = pt.intensity & 0xFFFF
    into.flags = (pt.returnNumber & 0x07) | ((pt.numberOfReturns & 0x07) << 3) |
      ((pt.scanDirection & 0x01) << 6) | ((if (pt.edge) 1 else 0) << 7)
    // legacy packs the 3 flag bits into the classification byte;
    // extended keeps the full u8 class and a separate flags nibble
    into.classification =
      if (isExtended(fmt)) pt.classification & 0xFF else pt.legacyClassByte
    into.scanAngleRank = pt.scanAngleRank & 0xFF
    into.userData = pt.userData & 0xFF
    into.pointSourceId = pt.pointSourceId & 0xFFFF
    into.gpsTime = java.lang.Double.doubleToRawLongBits(pt.gpsTime)
    into.red = pt.red & 0xFFFF; into.green = pt.green & 0xFFFF; into.blue = pt.blue & 0xFFFF
    into.returns = (pt.returnNumber & 0x0F) | ((pt.numberOfReturns & 0x0F) << 4)
    into.extFlags = pt.flagsNibble | ((pt.scannerChannel & 0x03) << 4) |
      ((pt.scanDirection & 0x01) << 6) | ((if (pt.edge) 1 else 0) << 7)
    // extended: scanAngleRank doubles as the i16 0.006-degree scan angle
    into.scanAngle = pt.scanAngleRank.toShort.toInt
    into.nir = pt.nir & 0xFFFF
    into.extra = pt.extra
    into
  }

  /** Project one record into `out(i) = value of fieldCodes(i)`
    * ([[fieldCode]] values), resolving coordinates as
    * `raw * scale + offset` with `h`'s grid. Legacy records read the
    * packed flag byte and 3 flag bits of the classification byte,
    * extended ones (formats 6-8) the 4-bit returns, the flags byte and
    * the i16 scan angle. */
  def project(p: LazPoint, h: LasHeader, fieldCodes: Array[Int], out: Array[Any]): Unit = {
    val ext = isExtended(h.pointFormat)
    var i = 0
    while (i < fieldCodes.length) {
      out(i) = fieldCodes(i) match {
        case 0 => p.x * h.scale._1 + h.offset._1
        case 1 => p.y * h.scale._2 + h.offset._2
        case 2 => p.z * h.scale._3 + h.offset._3
        case 3 => p.intensity
        case 4 =>
          if (ext) (p.returns & 0x0f).toShort else (p.flags & 0x07).toShort
        case 5 =>
          if (ext) ((p.returns >> 4) & 0x0f).toShort
          else ((p.flags >> 3) & 0x07).toShort
        case 6 =>
          if (ext) ((p.extFlags >> 6) & 0x01).toShort
          else ((p.flags >> 6) & 0x01).toShort
        case 7 =>
          if (ext) ((p.extFlags >> 7) & 0x01) == 1
          else ((p.flags >> 7) & 0x01) == 1
        case 8 => // legacy strips the flag bits like the reference's reader
          if (ext) p.classification.toShort else (p.classification & 0x1f).toShort
        case 9 => // i8 "rank" (legacy) vs i16 0.006-degree units (extended)
          if (ext) p.scanAngle.toShort else p.scanAngleRank.toByte.toShort
        case 10 => p.userData.toShort
        case 11 => p.pointSourceId
        case 12 => java.lang.Double.longBitsToDouble(p.gpsTime)
        case 13 => p.red
        case 14 => p.green
        case 15 => p.blue
        case 16 => ((p.extFlags >> 4) & 0x03).toShort
        case 17 => p.nir
        case 18 => // is_synthetic: flags nibble (ext) / classification bit 5
          if (ext) (p.extFlags & 0x01) == 1
          else ((p.classification >> 5) & 0x01) == 1
        case 19 => // is_key_point
          if (ext) ((p.extFlags >> 1) & 0x01) == 1
          else ((p.classification >> 6) & 0x01) == 1
        case 20 => // is_withheld
          if (ext) ((p.extFlags >> 2) & 0x01) == 1
          else ((p.classification >> 7) & 0x01) == 1
        case 21 => ext && ((p.extFlags >> 3) & 0x01) == 1 // extended-only flag
        case 22 => // degrees as f32: legacy rank = whole degrees, ext 0.006°
          if (ext) p.scanAngle * 0.006f
          else p.scanAngleRank.toByte.toFloat
        case 23 => p.extra // readers hand out a fresh array per point
      }
      i += 1
    }
  }

  /** Streaming reader over one chunk of records: [[RawChunkReader]] for
    * uncompressed LAS, the LAZ chunk decoders for compressed chunks. */
  trait ChunkReader {
    /** The record read by the last successful [[next]]. */
    def point: LazPoint
    /** Advance to the next record (into [[point]]); false when exhausted. */
    def next(): Boolean
  }

  /** `count` uncompressed records starting at `buf(start)`. */
  final class RawChunkReader(buf: Array[Byte], start: Int, fmt: Int, count: Long,
      extraCount: Int) extends ChunkReader {
    val point = new LazPoint
    private val bb = ByteBuffer.wrap(buf, start, buf.length - start).order(ByteOrder.LITTLE_ENDIAN)
    private var i = 0L
    def next(): Boolean =
      i < count && { readRaw(bb, point, fmt, extraCount); i += 1; true }
  }

  /** One LAS point for the fixture writer. `overlap` only exists in the
    * extended (1.4) records; the legacy writer ignores it. */
  final case class LasPoint(
      x: Double, y: Double, z: Double,
      intensity: Int = 0, returnNumber: Int = 1, numberOfReturns: Int = 1,
      scanDirection: Int = 0, edge: Boolean = false, classification: Int = 0,
      scanAngleRank: Int = 0, userData: Int = 0, pointSourceId: Int = 0,
      gpsTime: Double = 0.0, red: Int = 0, green: Int = 0, blue: Int = 0,
      scannerChannel: Int = 0, nir: Int = 0,
      synthetic: Boolean = false, keyPoint: Boolean = false,
      withheld: Boolean = false, overlap: Boolean = false,
      extra: Array[Byte] = Array.emptyByteArray) {
    /** The extended flags nibble (byte 15 bits 0-3). */
    def flagsNibble: Int = (if (synthetic) 1 else 0) | (if (keyPoint) 2 else 0) |
      (if (withheld) 4 else 0) | (if (overlap) 8 else 0)
    /** The legacy classification byte: 5-bit class + 3 flag bits. */
    def legacyClassByte: Int = (classification & 0x1f) |
      (if (synthetic) 0x20 else 0) | (if (keyPoint) 0x40 else 0) |
      (if (withheld) 0x80 else 0)
  }

  /** Point record length by format. */
  def recordLengthFor(pointFormat: Int): Int = pointFormat match {
    case 0 => 20; case 1 => 28; case 2 => 26; case 3 => 34
    case 6 => 30; case 7 => 36; case 8 => 38
    case f => throw new IllegalArgumentException(s"unsupported point format $f")
  }

  /** The public header block of a file holding `points`, followed by
    * `vlr` (one whole variable-length record, or empty). LAS 1.2 for
    * point formats 0-3, 1.4 for 6-8 (375-byte header, 64-bit point count,
    * legacy count zeroed per spec); a VLR marks the records compressed
    * (LAZ). Bounds are those of the quantized coordinates. */
  def header(points: Seq[LasPoint], pointFormat: Int, extraBytes: Int,
      scale: (Double, Double, Double), offset: (Double, Double, Double),
      vlr: Array[Byte]): Array[Byte] = {
    val ext = isExtended(pointFormat)
    val hdrLen = if (ext) HeaderSize14 else HeaderSize
    val header = ByteBuffer.allocate(hdrLen + vlr.length).order(ByteOrder.LITTLE_ENDIAN)
    header.put(Signature.getBytes("US-ASCII"))
    header.put(24, 1.toByte) // version major
    header.put(25, (if (ext) 4 else 2).toByte) // version minor
    header.putShort(94, hdrLen.toShort)
    header.putInt(96, hdrLen + vlr.length) // point data offset
    if (vlr.nonEmpty) header.putInt(100, 1) // one VLR: laszip
    header.put(104, (pointFormat | (if (vlr.nonEmpty) 0x80 else 0)).toByte)
    header.putShort(105, (recordLengthFor(pointFormat) + extraBytes).toShort)
    if (ext) header.putLong(247, points.size.toLong) // legacy u32 stays 0
    else header.putInt(107, points.size)
    header.putDouble(131, scale._1); header.putDouble(139, scale._2)
    header.putDouble(147, scale._3)
    header.putDouble(155, offset._1); header.putDouble(163, offset._2)
    header.putDouble(171, offset._3)
    if (points.nonEmpty) {
      def res(v: Double, s: Double, o: Double) = quantized(v, s, o) * s + o
      var lx, ly, lz = Double.PositiveInfinity
      var hx, hy, hz = Double.NegativeInfinity
      points.foreach { p =>
        val x = res(p.x, scale._1, offset._1); lx = math.min(lx, x); hx = math.max(hx, x)
        val y = res(p.y, scale._2, offset._2); ly = math.min(ly, y); hy = math.max(hy, y)
        val z = res(p.z, scale._3, offset._3); lz = math.min(lz, z); hz = math.max(hz, z)
      }
      header.putDouble(179, hx); header.putDouble(187, lx)
      header.putDouble(195, hy); header.putDouble(203, ly)
      header.putDouble(211, hz); header.putDouble(219, lz)
    }
    header.position(hdrLen)
    header.put(vlr)
    header.array()
  }

  /** Write a LAS file: [[header]], then one record per point. */
  def write(conf: Configuration, path: String, points: Seq[LasPoint],
      pointFormat: Int = 1,
      scale: (Double, Double, Double) = (0.001, 0.001, 0.001),
      offset: (Double, Double, Double) = (0.0, 0.0, 0.0),
      extraBytes: Int = 0): Unit = {
    require(points.forall(_.extra.length == extraBytes),
      s"every point's extra payload must be exactly $extraBytes bytes")
    val recLen = recordLengthFor(pointFormat) + extraBytes
    val p = new Path(path)
    val out: OutputStream = p.getFileSystem(conf).create(p, true)
    try {
      out.write(header(points, pointFormat, extraBytes, scale, offset, Array.emptyByteArray))
      val rec = new LazPoint
      val buf = ByteBuffer.allocate(recLen * 4096).order(ByteOrder.LITTLE_ENDIAN)
      points.foreach { pt =>
        writeRaw(buf, quantize(pt, pointFormat, scale, offset, rec), pointFormat)
        if (!buf.hasRemaining) { out.write(buf.array()); buf.clear() }
      }
      out.write(buf.array(), 0, buf.position())
    } finally out.close()
  }
}

package graft

import org.apache.hadoop.conf.Configuration
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.las.LasFormat
import graft.sources.las.LasFormat.LasPoint
import graft.sources.las.laz._

/** LAZ codec round-trip properties. There are no laszip-written sample
  * files (and no codec library) in this sandbox, so the verifiable
  * contract is self-consistency at every layer: arithmetic coder,
  * integer corrector, item codecs, chunks, whole files — encode→decode
  * must be the identity, on adversarial inputs as well as coherent
  * clouds. LAZ-vs-LAS equality through the DSv2 source lives in
  * `LasSourceSpec`. */
class LazCodecSpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(60)
    .withInitialSeed(org.scalacheck.rng.Seed(41L))

  private def check(name: String, prop: Prop): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$name failed: ${r.status}")
  }

  // ---- arithmetic coder ----------------------------------------------

  test("arithmetic coder: adaptive symbol models round-trip (skewed + uniform)") {
    val rnd = new scala.util.Random(7)
    // three interleaved models of different alphabet sizes (one above the
    // decoder-table threshold of 16), plus a bit model and raw bits
    val syms = Array.tabulate(20000) { i =>
      val skew = rnd.nextInt(10)
      (if (skew < 6) rnd.nextInt(3) else rnd.nextInt(33),
        rnd.nextInt(5), rnd.nextInt(2), rnd.nextInt(1 << 19))
    }
    val enc = new ArithmeticEncoder
    enc.init()
    val em1 = new ArithmeticModel(33, forDecoder = false)
    val em2 = new ArithmeticModel(5, forDecoder = false)
    val eb = new ArithmeticBitModel
    syms.foreach { case (a, b, bit, raw) =>
      enc.encodeSymbol(em1, a)
      enc.encodeSymbol(em2, b)
      enc.encodeBit(eb, bit)
      enc.writeBits(19, raw.toLong)
    }
    val bytes = enc.done()
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
    dec.init()
    val dm1 = new ArithmeticModel(33, forDecoder = true)
    val dm2 = new ArithmeticModel(5, forDecoder = true)
    val db = new ArithmeticBitModel
    syms.foreach { case (a, b, bit, raw) =>
      assert(dec.decodeSymbol(dm1) == a)
      assert(dec.decodeSymbol(dm2) == b)
      assert(dec.decodeBit(db) == bit)
      assert(dec.readBits(19) == raw.toLong)
    }
  }

  test("arithmetic coder: 32-bit raw ints round-trip including extremes") {
    val vals = Seq(0L, 1L, 0xFFFFFFFFL, 0x80000000L, 0x7FFFFFFFL, 12345678L)
    val enc = new ArithmeticEncoder
    enc.init()
    vals.foreach(enc.writeInt)
    val bytes = enc.done()
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
    dec.init()
    vals.foreach(v => assert(dec.readInt() == v))
  }

  // ---- integer compressor --------------------------------------------

  test("integer compressor: correctors round-trip at all magnitudes (property)") {
    val extreme = Gen.oneOf(Int.MinValue, Int.MaxValue, Int.MinValue + 1, 0, 1, -1)
    val anyInt = Gen.frequency(
      3 -> Gen.choose(Int.MinValue, Int.MaxValue), 1 -> extreme)
    val seqs = Gen.listOfN(200, Gen.zip(anyInt, anyInt, Gen.choose(0, 3)))
    check("ic32", Prop.forAll(seqs) { pairs =>
      val enc = new ArithmeticEncoder
      enc.init()
      val ic = new IntegerCompressor(enc, null, 32, 4)
      pairs.foreach { case (pred, real, ctx) => ic.compress(pred, real, ctx) }
      val bytes = enc.done()
      val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
      dec.init()
      val icd = new IntegerCompressor(null, dec, 32, 4)
      pairs.forall { case (pred, real, ctx) => icd.decompress(pred, ctx) == real }
    })
  }

  test("integer compressor: 16-bit mode wraps into the u16 corrector ring") {
    val rnd = new scala.util.Random(13)
    val pairs = Array.fill(2000)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val enc = new ArithmeticEncoder
    enc.init()
    val ic = new IntegerCompressor(enc, null, 16, 2)
    pairs.foreach { case (p, r) => ic.compress(p, r, r % 2) }
    val bytes = enc.done()
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
    dec.init()
    val icd = new IntegerCompressor(null, dec, 16, 2)
    pairs.foreach { case (p, r) => assert(icd.decompress(p, r % 2) == r) }
  }

  // ---- chunk codec ----------------------------------------------------

  private def coherentCloud(n: Int, seed: Long, fmt: Int): IndexedSeq[LazPoint] = {
    val rnd = new scala.util.Random(seed)
    var x = 100000; var y = 2000000; var z = 5000
    var gps = 123456.75
    (0 until n).map { k =>
      val p = new LazPoint
      x += rnd.nextInt(200) - 100 // flight-line-ish deltas
      y += rnd.nextInt(100) - 50
      z += rnd.nextInt(20) - 10
      p.x = x; p.y = y; p.z = z
      p.intensity = rnd.nextInt(65536)
      val nr = 1 + rnd.nextInt(3)
      p.flags = (1 + rnd.nextInt(nr)) | (nr << 3) |
        ((k % 2) << 6) | (if (rnd.nextInt(50) == 0) 0x80 else 0)
      p.classification = rnd.nextInt(32)
      p.scanAngleRank = (rnd.nextInt(61) - 30) & 0xFF
      p.userData = rnd.nextInt(256)
      p.pointSourceId = rnd.nextInt(4)
      gps += rnd.nextInt(4) * 0.000025
      p.gpsTime = java.lang.Double.doubleToRawLongBits(gps)
      p.red = (p.z * 13) & 0xFFFF
      p.green = (p.red + rnd.nextInt(9) - 4) & 0xFFFF
      p.blue = (p.red + rnd.nextInt(9) - 4) & 0xFFFF
      p
    }
  }

  private def adversarialCloud(n: Int, seed: Long): IndexedSeq[LazPoint] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val p = new LazPoint
      p.x = rnd.nextInt(); p.y = rnd.nextInt(); p.z = rnd.nextInt()
      p.intensity = rnd.nextInt(65536)
      p.flags = rnd.nextInt(256)
      p.classification = rnd.nextInt(256)
      p.scanAngleRank = rnd.nextInt(256)
      p.userData = rnd.nextInt(256)
      p.pointSourceId = rnd.nextInt(65536)
      p.gpsTime = rnd.nextLong()
      p.red = rnd.nextInt(65536); p.green = rnd.nextInt(65536); p.blue = rnd.nextInt(65536)
      p
    }
  }

  private def assertSame(a: LazPoint, b: LazPoint, fmt: Int, i: Int): Unit = {
    assert(a.x == b.x && a.y == b.y && a.z == b.z, s"xyz mismatch at $i")
    assert(a.intensity == b.intensity, s"intensity at $i")
    assert(a.flags == b.flags, s"flags at $i")
    assert(a.classification == b.classification, s"classification at $i")
    assert(a.scanAngleRank == b.scanAngleRank, s"scanAngleRank at $i")
    assert(a.userData == b.userData, s"userData at $i")
    assert(a.pointSourceId == b.pointSourceId, s"pointSourceId at $i")
    if (LasFormat.hasGps(fmt)) assert(a.gpsTime == b.gpsTime, s"gpsTime at $i")
    if (LasFormat.hasRgb(fmt)) assert(
      a.red == b.red && a.green == b.green && a.blue == b.blue, s"rgb at $i")
  }

  private def chunkRoundTrip(pts: IndexedSeq[LazPoint], fmt: Int): Unit = {
    val bytes = LazFormat.encodeChunk(pts, fmt)
    val d = new LazFormat.ChunkDecoder(bytes, 0, bytes.length, fmt, pts.size.toLong)
    pts.zipWithIndex.foreach { case (p, i) =>
      assert(d.next(), s"decoder exhausted at $i")
      assertSame(d.point, p, fmt, i)
    }
    assert(!d.next())
  }

  test("chunk codec: coherent clouds round-trip in all four point formats") {
    (0 to 3).foreach { fmt => chunkRoundTrip(coherentCloud(3000, 100 + fmt, fmt), fmt) }
  }

  test("chunk codec: adversarial (uniform random) records round-trip") {
    (0 to 3).foreach { fmt => chunkRoundTrip(adversarialCloud(1500, 200 + fmt), fmt) }
  }

  test("chunk codec: degenerate chunks (single point, all-identical points)") {
    (0 to 3).foreach { fmt =>
      chunkRoundTrip(coherentCloud(1, 7, fmt), fmt)
      val one = coherentCloud(1, 8, fmt).head
      chunkRoundTrip(IndexedSeq.fill(500)(one), fmt)
    }
  }

  test("chunk codec: gps-time regimes (constant, linear, jumps, sign flips)") {
    val pts = coherentCloud(2000, 5, 1)
    var t = 0L
    pts.zipWithIndex.foreach { case (p, i) =>
      p.gpsTime = i match {
        case k if k < 400 => java.lang.Double.doubleToRawLongBits(1000.0) // constant
        case k if k < 800 => java.lang.Double.doubleToRawLongBits(1000.0 + k * 0.001)
        case k if k < 1200 => java.lang.Double.doubleToRawLongBits(k.toDouble * 1e9) // huge jumps
        case k if k < 1600 => java.lang.Double.doubleToRawLongBits(1000.0 - (k - 1200) * 0.001)
        case k => { t += (if (k % 3 == 0) 1L << 40 else -(1L << 39)); t } // raw-bit extremes
      }
    }
    chunkRoundTrip(pts, 1)
  }

  test("chunk codec round-trip property: random sizes and formats") {
    val gen = Gen.zip(Gen.choose(1, 600), Gen.choose(0, 3), Gen.choose(0L, 1L << 40))
    check("chunk", Prop.forAll(gen) { case (n, fmt, seed) =>
      val pts =
        if (seed % 2 == 0) coherentCloud(n, seed, fmt) else adversarialCloud(n, seed)
      val bytes = LazFormat.encodeChunk(pts, fmt)
      val d = new LazFormat.ChunkDecoder(bytes, 0, bytes.length, fmt, n.toLong)
      pts.forall { p =>
        d.next() && d.point.x == p.x && d.point.y == p.y && d.point.z == p.z &&
          d.point.flags == p.flags && d.point.intensity == p.intensity &&
          (!LasFormat.hasGps(fmt) || d.point.gpsTime == p.gpsTime) &&
          (!LasFormat.hasRgb(fmt) || (d.point.red == p.red &&
            d.point.green == p.green && d.point.blue == p.blue))
      }
    })
  }

  // ---- layered (v3) chunk codec: extended formats 6-8 ----------------

  /** All semantic field codes — the "decode everything" projection. */
  private val allFields: Array[Int] =
    LasFormat.FieldNames.map(LasFormat.fieldCode).toArray

  private def coherentCloud14(n: Int, seed: Long): IndexedSeq[LazPoint] = {
    val rnd = new scala.util.Random(seed)
    var x = 100000; var y = 2000000; var z = 5000
    var gps = 123456.75
    var channel = rnd.nextInt(4)
    var angle = 0
    (0 until n).map { k =>
      val p = new LazPoint
      // scanner channels interleave in runs — the context-switch hot path
      if (rnd.nextInt(12) == 0) channel = rnd.nextInt(4)
      x += rnd.nextInt(200) - 100
      y += rnd.nextInt(100) - 50
      z += rnd.nextInt(20) - 10
      p.x = x; p.y = y; p.z = z
      p.intensity = rnd.nextInt(65536)
      val nr = 1 + rnd.nextInt(if (rnd.nextInt(20) == 0) 15 else 3)
      p.returns = (1 + rnd.nextInt(nr)) | (nr << 4)
      p.extFlags = (if (rnd.nextInt(40) == 0) rnd.nextInt(16) else 0) |
        (channel << 4) | ((k % 2) << 6) | (if (rnd.nextInt(50) == 0) 0x80 else 0)
      p.classification = rnd.nextInt(64)
      angle += rnd.nextInt(21) - 10
      p.scanAngle = math.max(-30000, math.min(30000, angle))
      p.userData = rnd.nextInt(256)
      p.pointSourceId = rnd.nextInt(4)
      gps += rnd.nextInt(4) * 0.000025
      p.gpsTime = java.lang.Double.doubleToRawLongBits(gps)
      p.red = (p.z * 13) & 0xFFFF
      p.green = (p.red + rnd.nextInt(9) - 4) & 0xFFFF
      p.blue = (p.red + rnd.nextInt(9) - 4) & 0xFFFF
      p.nir = (p.red + rnd.nextInt(17) - 8) & 0xFFFF
      p
    }
  }

  private def adversarialCloud14(n: Int, seed: Long): IndexedSeq[LazPoint] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val p = new LazPoint
      p.x = rnd.nextInt(); p.y = rnd.nextInt(); p.z = rnd.nextInt()
      p.intensity = rnd.nextInt(65536)
      p.returns = rnd.nextInt(256)
      p.extFlags = rnd.nextInt(256)
      p.classification = rnd.nextInt(256)
      p.scanAngle = rnd.nextInt(65536).toShort.toInt
      p.userData = rnd.nextInt(256)
      p.pointSourceId = rnd.nextInt(65536)
      p.gpsTime = rnd.nextLong()
      p.red = rnd.nextInt(65536); p.green = rnd.nextInt(65536); p.blue = rnd.nextInt(65536)
      p.nir = rnd.nextInt(65536)
      p
    }
  }

  private def assertSame14(a: LazPoint, b: LazPoint, fmt: Int, i: Int): Unit = {
    assert(a.x == b.x && a.y == b.y && a.z == b.z, s"xyz mismatch at $i")
    assert(a.intensity == b.intensity, s"intensity at $i")
    assert(a.returns == b.returns, s"returns at $i")
    assert(a.extFlags == b.extFlags, s"extFlags at $i")
    assert(a.classification == b.classification, s"classification at $i")
    assert(a.scanAngle == b.scanAngle, s"scanAngle at $i")
    assert(a.userData == b.userData, s"userData at $i")
    assert(a.pointSourceId == b.pointSourceId, s"pointSourceId at $i")
    assert(a.gpsTime == b.gpsTime, s"gpsTime at $i")
    if (LasFormat.hasRgb(fmt)) assert(
      a.red == b.red && a.green == b.green && a.blue == b.blue, s"rgb at $i")
    if (LasFormat.hasNir(fmt)) assert(a.nir == b.nir, s"nir at $i")
  }

  private def chunkRoundTrip14(pts: IndexedSeq[LazPoint], fmt: Int): Unit = {
    val bytes = LazFormat.encodeChunk(pts, fmt)
    val d = new LazFormat.ChunkDecoder14(bytes, 0, bytes.length, fmt,
      pts.size.toLong, allFields)
    pts.zipWithIndex.foreach { case (p, i) =>
      assert(d.next(), s"decoder exhausted at $i")
      assertSame14(d.point, p, fmt, i)
    }
    assert(!d.next())
  }

  test("layered chunk codec: coherent extended clouds round-trip (formats 6-8)") {
    Seq(6, 7, 8).foreach { fmt => chunkRoundTrip14(coherentCloud14(3000, 300 + fmt), fmt) }
  }

  test("layered chunk codec: adversarial extended records round-trip") {
    Seq(6, 7, 8).foreach { fmt => chunkRoundTrip14(adversarialCloud14(1500, 400 + fmt), fmt) }
  }

  test("layered chunk codec: degenerate chunks (single point, all-identical)") {
    Seq(6, 7, 8).foreach { fmt =>
      chunkRoundTrip14(coherentCloud14(1, 17), fmt)
      val one = coherentCloud14(1, 18).head
      chunkRoundTrip14(IndexedSeq.fill(500)(one), fmt)
    }
  }

  test("layered chunk codec: every-point channel switches exercise all banks") {
    val pts = coherentCloud14(2000, 31).zipWithIndex.map { case (p, k) =>
      p.extFlags = (p.extFlags & 0xCF) | ((k % 4) << 4) // 0,1,2,3,0,1,...
      p
    }
    Seq(6, 7, 8).foreach(fmt => chunkRoundTrip14(pts, fmt))
  }

  test("layered chunk codec round-trip property: random sizes and formats") {
    val gen = Gen.zip(Gen.choose(1, 600), Gen.oneOf(6, 7, 8), Gen.choose(0L, 1L << 40))
    check("chunk14", Prop.forAll(gen) { case (n, fmt, seed) =>
      val pts =
        if (seed % 2 == 0) coherentCloud14(n, seed) else adversarialCloud14(n, seed)
      val bytes = LazFormat.encodeChunk(pts, fmt)
      val d = new LazFormat.ChunkDecoder14(bytes, 0, bytes.length, fmt, n.toLong, allFields)
      pts.forall { p =>
        d.next() && d.point.x == p.x && d.point.y == p.y && d.point.z == p.z &&
          d.point.returns == p.returns && d.point.extFlags == p.extFlags &&
          d.point.scanAngle == p.scanAngle && d.point.gpsTime == p.gpsTime &&
          (!LasFormat.hasRgb(fmt) || (d.point.red == p.red &&
            d.point.green == p.green && d.point.blue == p.blue)) &&
          (!LasFormat.hasNir(fmt) || d.point.nir == p.nir)
      }
    })
  }

  test("selective decompression: skipped layers leave wanted fields exact") {
    val pts = coherentCloud14(4000, 77)
    val bytes = LazFormat.encodeChunk(pts, 8)
    def decode(wanted: Array[Int]): IndexedSeq[LazPoint] = {
      val d = new LazFormat.ChunkDecoder14(bytes, 0, bytes.length, 8, pts.size.toLong, wanted)
      pts.indices.map { i =>
        assert(d.next(), s"exhausted at $i")
        val c = new LazPoint; c.copyFrom(d.point); c
      }
    }
    // x/y only: gps, rgb, nir, z, classification ... all skipped
    val xy = decode(Array(0, 1))
    pts.zip(xy).foreach { case (p, q) => assert(p.x == q.x && p.y == q.y) }
    // scan_angle pulls in the flags layer for its direction context
    val ang = decode(Array(0, 1, 9))
    pts.zip(ang).foreach { case (p, q) =>
      assert(p.scanAngle == q.scanAngle && ((p.extFlags ^ q.extFlags) & 0xF0) == 0)
    }
    // gps + nir without rgb
    val gn = decode(Array(12, 17))
    pts.zip(gn).foreach { case (p, q) =>
      assert(p.gpsTime == q.gpsTime && p.nir == q.nir)
    }
  }

  test("layered whole file: VLR (compressor 3, v3 items), chunks, variable mode") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazext")
    val pts = (0 until 2500).map(k =>
      LasPoint(k * 0.5, k * 0.25, (k % 9) * 1.0, intensity = k % 65536,
        gpsTime = k * 0.1, scannerChannel = k % 3, scanAngleRank = (k % 400) - 200,
        red = k % 65536, green = (k * 3) % 65536, blue = (k * 7) % 65536,
        nir = (k * 11) % 65536))
    LazFormat.write(conf, s"$dir/f.laz", pts, pointFormat = 8, chunkSize = 600)
    val h = LasFormat.readHeader(conf, s"$dir/f.laz")
    assert(h.pointFormat == 8 && h.pointCount == 2500)
    assert(h.laz.exists(_.layered))
    assert(h.laz.get.items == Seq(LazFormat.ItemPoint14, LazFormat.ItemRgbNir14))
    val chunks = LazFormat.readChunks(conf, s"$dir/f.laz", h)
    assert(chunks.size == 5 && chunks.map(_.pointCount).sum == 2500)
    chunks.sliding(2).foreach { case Seq(a, b) =>
      assert(a.fileOffset + a.byteLen == b.fileOffset)
    }
    // variable-size chunking composes with the layered framing
    val counts = Seq(900, 77, 1111, 412)
    LazFormat.write(conf, s"$dir/v.laz", pts, pointFormat = 6,
      variableChunks = Some(counts))
    val hv = LasFormat.readHeader(conf, s"$dir/v.laz")
    assert(hv.laz.exists(v => v.layered && v.variable))
    val vchunks = LazFormat.readChunks(conf, s"$dir/v.laz", hv)
    assert(vchunks.map(_.pointCount) == counts.map(_.toLong))
  }

  test("extra-bytes payloads round-trip in both framings (BYTE v2 / BYTE14 v3)") {
    val rnd = new scala.util.Random(91)
    def withExtras(pts: IndexedSeq[LazPoint], n: Int): IndexedSeq[LazPoint] =
      pts.map { p => p.extra = Array.fill(n)(rnd.nextInt(256).toByte); p }
    // pointwise (format 1): the BYTE item joins the single stream
    val legacy = withExtras(coherentCloud(800, 21, 1), 5)
    val bytes2 = LazFormat.encodeChunk(legacy, 1)
    val d2 = new LazFormat.ChunkDecoder(bytes2, 0, bytes2.length, 1, 800L, extraCount = 5)
    legacy.foreach { p =>
      assert(d2.next())
      assert(java.util.Arrays.equals(d2.point.extra, p.extra))
      assert(d2.point.x == p.x && d2.point.gpsTime == p.gpsTime)
    }
    // layered (format 6): one layer per extra byte
    val ext = withExtras(coherentCloud14(800, 22), 3)
    val bytes3 = LazFormat.encodeChunk(ext, 6)
    val d3 = new LazFormat.ChunkDecoder14(bytes3, 0, bytes3.length, 6, 800L,
      allFields, extraCount = 3)
    ext.foreach { p =>
      assert(d3.next())
      assert(java.util.Arrays.equals(d3.point.extra, p.extra))
      assert(d3.point.x == p.x && d3.point.returns == p.returns)
    }
    // selective decode without code 23: extra layers untouched, x/y exact
    val dSel = new LazFormat.ChunkDecoder14(bytes3, 0, bytes3.length, 6, 800L,
      Array(0, 1), extraCount = 3)
    ext.foreach { p => assert(dSel.next() && dSel.point.x == p.x && dSel.point.y == p.y) }
  }

  test("extra-bytes whole file: VLR declares the byte item, DSv2-visible") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazextra")
    val pts = (0 until 700).map { k =>
      LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k,
        extra = Array.tabulate(4)(j => ((k * 7 + j) % 256).toByte))
    }
    for ((fmt, item) <- Seq(1 -> LazFormat.ItemByte, 6 -> LazFormat.ItemByte14)) {
      val path = s"$dir/f$fmt.laz"
      LazFormat.write(conf, path, pts, pointFormat = fmt, chunkSize = 200, extraBytes = 4)
      val h = LasFormat.readHeader(conf, path)
      assert(h.recordLength == LasFormat.recordLengthFor(fmt) + 4)
      assert(h.extraBytes == 4)
      assert(h.laz.exists(v => v.items.last == item && v.extraBytes == 4))
      val chunks = LazFormat.readChunks(conf, path, h)
      assert(chunks.map(_.pointCount).sum == 700)
    }
    // extras compose with variable-size chunking in both framings
    for (fmt <- Seq(1, 6)) {
      val path = s"$dir/v$fmt.laz"
      LazFormat.write(conf, path, pts, pointFormat = fmt,
        variableChunks = Some(Seq(300, 55, 345)), extraBytes = 4)
      val h = LasFormat.readHeader(conf, path)
      assert(h.laz.exists(v => v.variable && v.extraBytes == 4))
      val chunks = LazFormat.readChunks(conf, path, h)
      assert(chunks.map(_.pointCount) == Seq(300L, 55L, 345L))
    }
  }

  test("layered chunk: corrupt (negative-u32) layer size fails loudly") {
    val pts = coherentCloud14(100, 55)
    val bytes = LazFormat.encodeChunk(pts, 6)
    // patch the first layer-size u32 (after the 30-byte anchor + u32
    // count) to 0x80000000 — reads back negative
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(34, 0x80000000)
    val d = new LazFormat.ChunkDecoder14(bytes, 0, bytes.length, 6, 100L, allFields)
    val e = intercept[IllegalArgumentException] { d.next() }
    assert(e.getMessage.contains("corrupt LAZ layer size"))
  }

  test("VLR items disagreeing with the point format fail loudly") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazbaditems")
    val pts = (0 until 100).map(k => LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k))
    LazFormat.write(conf, s"$dir/f.laz", pts, pointFormat = 7)
    // patch the second VLR item's type u16: RGB14 (11) → RGBNIR14 (12);
    // still a valid v3 item, but not the format-7 layer list
    val f = java.nio.file.Paths.get(dir, "f.laz")
    val bytes = java.nio.file.Files.readAllBytes(f)
    val itemOff = LasFormat.HeaderSize14 + 54 + 34 + 6
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((bb.getShort(itemOff) & 0xFFFF) == LazFormat.ItemRgb14)
    bb.putShort(itemOff, LazFormat.ItemRgbNir14.toShort)
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".f.laz.crc"))
    val h = LasFormat.readHeader(conf, s"$dir/f.laz")
    val e = intercept[IllegalArgumentException] {
      LazFormat.readChunks(conf, s"$dir/f.laz", h)
    }
    assert(e.getMessage.contains("items"))
  }

  test("layered wire format: VLR payload and chunk framing at golden offsets") {
    // round-trip tests can't catch a matching writer+reader framing
    // error; pin the container layout by hand for a 2-point format-8 file
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazgolden")
    val pts = Seq(
      LasPoint(1.0, 2.0, 3.0, gpsTime = 100.0, nir = 7, scannerChannel = 1),
      LasPoint(1.5, 2.5, 3.5, gpsTime = 100.5, nir = 9, scannerChannel = 1))
    LazFormat.write(conf, s"$dir/g.laz", pts, pointFormat = 8, chunkSize = 1000)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "g.laz"))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((bb.get(104) & 0xFF) == (8 | 0x80)) // compressed bit + format
    val payload = LasFormat.HeaderSize14 + 54 // laszip VLR payload start
    assert((bb.getShort(payload) & 0xFFFF) == 3) // compressor: layered
    assert((bb.getShort(payload + 2) & 0xFFFF) == 0) // coder: arithmetic
    assert(bb.getInt(payload + 12) == 1000) // chunk size
    assert((bb.getShort(payload + 32) & 0xFFFF) == 2) // two items
    assert((bb.getShort(payload + 34) & 0xFFFF) == LazFormat.ItemPoint14)
    assert((bb.getShort(payload + 36) & 0xFFFF) == 30) // POINT14 size
    assert((bb.getShort(payload + 38) & 0xFFFF) == 3) // POINT14 version
    assert((bb.getShort(payload + 40) & 0xFFFF) == LazFormat.ItemRgbNir14)
    assert((bb.getShort(payload + 42) & 0xFFFF) == 8) // RGBNIR14 size
    assert((bb.getShort(payload + 44) & 0xFFFF) == 3) // RGBNIR14 version
    val pointOffset = bb.getInt(96)
    assert(pointOffset == payload + 46)
    val tablePtr = bb.getLong(pointOffset)
    val chunk = pointOffset + 8 // first chunk right after the i64 pointer
    // anchor record (38 raw bytes, ASPRS layout), then u32 count, then
    // 11 u32 layer sizes (9 POINT14 layers + rgb + nir), then the blobs
    assert(bb.getInt(chunk) == 1000) // anchor x = 1.0 / 0.001
    assert(bb.getDouble(chunk + 22) == 100.0) // anchor gps
    assert((bb.getShort(chunk + 36) & 0xFFFF) == 7) // anchor nir
    assert(bb.getInt(chunk + 38) == 2) // chunk point count
    val sizes = (0 until 11).map(l => bb.getInt(chunk + 42 + 4 * l))
    assert(sizes.forall(_ >= 0))
    assert(chunk + 42 + 44 + sizes.sum == tablePtr) // blobs end at the table
  }

  test("layered compression: coherent extended cloud beats raw record size") {
    val pts = coherentCloud14(20000, 99)
    val bytes = LazFormat.encodeChunk(pts, 6)
    val raw = 20000L * LasFormat.recordLengthFor(6)
    assert(bytes.length < raw / 2,
      s"layered LAZ chunk ${bytes.length} B vs raw $raw B — compression ineffective")
  }

  // ---- chunk table + whole file --------------------------------------

  test("chunk table round-trips (including empty)") {
    val sizes = Seq(Seq.empty[Long], Seq(100L), Seq(3120L, 2990L, 3301L, 87L))
    sizes.foreach { s =>
      val bytes = LazFormat.encodeChunkTable(s)
      assert(LazFormat.decodeChunkTable(bytes, 0, bytes.length).map(_._2) == s)
    }
  }

  test("chunk table round-trip property: random sizes/counts, both modes") {
    val entry = Gen.zip(
      Gen.chooseNum(0L, Int.MaxValue.toLong), // byte size
      Gen.chooseNum(1L, Int.MaxValue.toLong)) // point count
    val table = Gen.listOfN(40, entry).flatMap(l => Gen.choose(0, 40).map(l.take))
    check("chunkTable", Prop.forAll(table, Gen.oneOf(false, true)) { (t, variable) =>
      val sizes = t.map(_._1)
      val counts = t.map(_._2)
      val bytes = LazFormat.encodeChunkTable(sizes,
        if (variable) Some(counts) else None)
      val back = LazFormat.decodeChunkTable(bytes, 0, bytes.length, variable)
      back.map(_._2) == sizes &&
        (if (variable) back.map(_._1) == counts else back.forall(_._1 == -1L))
    })
  }

  test("variable-size chunk table round-trips counts and sizes") {
    val sizes = Seq(3120L, 2990L, 3301L, 87L)
    val counts = Seq(700L, 1200L, 850L, 12L)
    val bytes = LazFormat.encodeChunkTable(sizes, Some(counts))
    val back = LazFormat.decodeChunkTable(bytes, 0, bytes.length, variable = true)
    assert(back == counts.zip(sizes))
  }

  test("variable-chunked whole file: table-driven counts, DSv2-visible layout") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazvar")
    val pts = (0 until 2500).map(k =>
      LasPoint(k * 0.5, k * 0.25, (k % 9) * 1.0, intensity = k % 65536, gpsTime = k * 0.1))
    val counts = Seq(900, 77, 1111, 412)
    LazFormat.write(conf, s"$dir/f.laz", pts, pointFormat = 1,
      variableChunks = Some(counts))
    val h = LasFormat.readHeader(conf, s"$dir/f.laz")
    assert(h.laz.exists(_.variable))
    val chunks = LazFormat.readChunks(conf, s"$dir/f.laz", h)
    assert(chunks.map(_.pointCount) == counts.map(_.toLong))
    chunks.sliding(2).foreach { case Seq(a, b) =>
      assert(a.fileOffset + a.byteLen == b.fileOffset)
      assert(a.pointStart + a.pointCount == b.pointStart)
    }
    // every point decodes identically to the fixed-chunk spelling
    LazFormat.write(conf, s"$dir/g.laz", pts, pointFormat = 1, chunkSize = 600)
    def decodeAll(path: String): Seq[(Int, Int, Int, Long)] = {
      val hh = LasFormat.readHeader(conf, path)
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(path)).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(new org.apache.hadoop.fs.Path(path))
      try in.readFully(0, buf) finally in.close()
      LazFormat.readChunks(conf, path, hh).flatMap { c =>
        val d = new LazFormat.ChunkDecoder(buf, c.fileOffset.toInt,
          (c.fileOffset + c.byteLen).toInt, hh.pointFormat, c.pointCount)
        Iterator.continually(d).takeWhile(_.next())
          .map(x => (x.point.x, x.point.y, x.point.z, x.point.gpsTime)).toSeq
      }
    }
    assert(decodeAll(s"$dir/f.laz") == decodeAll(s"$dir/g.laz"))
  }

  test("whole file: header/VLR parse back, chunk layout covers all points") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazfile")
    val pts = (0 until 2500).map(k =>
      LasPoint(k * 0.5, k * 0.25, (k % 9) * 1.0, intensity = k % 65536, gpsTime = k * 0.1))
    LazFormat.write(conf, s"$dir/f.laz", pts, pointFormat = 3, chunkSize = 600)
    val h = LasFormat.readHeader(conf, s"$dir/f.laz")
    assert(h.pointFormat == 3 && h.pointCount == 2500)
    assert(h.laz.isDefined)
    assert(h.laz.get.chunkSize == 600)
    assert(h.laz.get.items == Seq(LazFormat.ItemPoint10, LazFormat.ItemGpstime11, LazFormat.ItemRgb12))
    val chunks = LazFormat.readChunks(conf, s"$dir/f.laz", h)
    assert(chunks.size == 5) // ceil(2500/600)
    assert(chunks.map(_.pointCount).sum == 2500)
    assert(chunks.last.pointCount == 2500 - 4 * 600)
    // chunks tile the byte range contiguously
    chunks.sliding(2).foreach { case Seq(a, b) =>
      assert(a.fileOffset + a.byteLen == b.fileOffset)
    }
    // LAS bounds match the LAZ header bounds for the same cloud
    LasFormat.write(conf, s"$dir/f.las", pts, pointFormat = 3)
    val hLas = LasFormat.readHeader(conf, s"$dir/f.las")
    assert(h.bounds == hLas.bounds)
  }

  test("corrupt header point count fails loudly against the chunk table") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("lazcorrupt")
    val pts = (0 until 2500).map(k => LasPoint(k * 0.5, k * 0.25, 1.0))
    LazFormat.write(conf, s"$dir/f.laz", pts, pointFormat = 0, chunkSize = 600)
    // binary-patch the header's point count (u32 at offset 107): the
    // 5-entry table no longer matches ceil(3100/600)=6 expected chunks
    val f = java.nio.file.Paths.get(dir, "f.laz")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(107, 3100)
    java.nio.file.Files.write(f, bytes)
    // drop the Hadoop LocalFS checksum sidecar invalidated by the patch
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".f.laz.crc"))
    val h = LasFormat.readHeader(conf, s"$dir/f.laz")
    val e = intercept[IllegalArgumentException] {
      LazFormat.readChunks(conf, s"$dir/f.laz", h)
    }
    assert(e.getMessage.contains("chunk table entries"))
  }

  test("compression: coherent cloud compresses well below raw record size") {
    val pts = coherentCloud(20000, 99, 1)
    val bytes = LazFormat.encodeChunk(pts, 1)
    val raw = 20000L * LasFormat.recordLengthFor(1)
    assert(bytes.length < raw / 2,
      s"LAZ chunk ${bytes.length} B vs raw $raw B — compression ineffective")
  }
  /** SHA-256 of every file the LAS and LAZ writers produce for one seeded
    * point set: point formats 0-3 and 6-8, without and with a 5-byte
    * extra tail, LAZ with fixed (`z`) and variable (`v`) chunks. The
    * literals were captured from the writers before their record codec
    * was shared, so the shared codec must reproduce them byte for byte. */
  test("writers reproduce pinned bytes for formats 0-3 and 6-8 (LAS, LAZ, extras, chunking)") {
    val conf = new Configuration()
    val dir = SparkSpec.tempDir("las_digest")
    def pts(extra: Int) = {
      val r = new scala.util.Random(20250)
      (0 until 700).map { _ =>
        LasPoint(x = r.nextDouble() * 5000 - 1000, y = r.nextDouble() * 3000,
          z = r.nextGaussian() * 40, intensity = r.nextInt(65536),
          returnNumber = 1 + r.nextInt(15), numberOfReturns = 1 + r.nextInt(15),
          scanDirection = r.nextInt(2), edge = r.nextBoolean(),
          classification = r.nextInt(256), scanAngleRank = r.nextInt(60001) - 30000,
          userData = r.nextInt(256), pointSourceId = r.nextInt(65536),
          gpsTime = 1e8 + r.nextDouble() * 1e4, red = r.nextInt(65536),
          green = r.nextInt(65536), blue = r.nextInt(65536),
          scannerChannel = r.nextInt(4), nir = r.nextInt(65536),
          synthetic = r.nextBoolean(), keyPoint = r.nextBoolean(),
          withheld = r.nextBoolean(), overlap = r.nextBoolean(),
          extra = Array.fill(extra)(r.nextInt(256).toByte))
      }
    }
    val scale = (0.001, 0.002, 0.0005)
    val offset = (-1000.0, 10.0, 0.5)
    def sha(name: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name)))
      .map(b => f"${b & 0xff}%02x").mkString
    val got = for (fmt <- Seq(0, 1, 2, 3, 6, 7, 8); extra <- Seq(0, 5);
        kind <- Seq("las", "laz", "lazv")) yield {
      val name = s"$kind$fmt${if (extra > 0) "e" else ""}"
      val p = pts(extra)
      kind match {
        case "las" => LasFormat.write(conf, s"$dir/$name", p, fmt, scale, offset, extra)
        case "laz" => LazFormat.write(conf, s"$dir/$name", p, fmt, scale, offset,
          chunkSize = 256, extraBytes = extra)
        case "lazv" => LazFormat.write(conf, s"$dir/$name", p, fmt, scale, offset,
          variableChunks = Some(Seq(300, 1, 399)), extraBytes = extra)
      }
      name -> sha(name)
    }
    val pinned = Map(
      "las0" -> "aeae35343c45ec43052075a7f6d7cdd1699aa94f57cc7691ef4cc89c34ec564e",
      "laz0" -> "55cd7e5f4e26bb69776e7d64d1bb3fbad4810ab511a20053d164783768617f25",
      "lazv0" -> "a3984f1eac64b9f9b29f8e6908c5a6de71b4d5be672dd985b9d6adffd6f45e3d",
      "las0e" -> "68dd856aa282ba3c59bf5c436b7fa3cfb6826bf1324db8ae9f58edb8cd40ad31",
      "laz0e" -> "0180a76b73e647a83bd7c8bc6c125f54d4ab6780ecde9e7456e7f612c3e796b7",
      "lazv0e" -> "d50a4a7f296b523792787b2b4f4273f453c8cdaf3aae30235dce17789761fe88",
      "las1" -> "94efa679e9f6be019b21f7a8a1e723507080599252504ff3440b674c5d793308",
      "laz1" -> "1df9e632fc4fc52e7ad5682965995ba78ec97182da9610ccedcdcb7c478df596",
      "lazv1" -> "6f5ee1e1f8cdc7cf2a8b7d1fc5f5dba726f11ab5dd64d8d27be9402af67e0b4c",
      "las1e" -> "fb50c22b2e221c7649def5c250be5dfb038490f4f2c72ab1da29e8e5d20c0e63",
      "laz1e" -> "b240200eefe5fce27430bc404d5d9a0fe87ec9c38770ec74c0d16a7d313ff239",
      "lazv1e" -> "c18c89f98e323bdd7b24090e8aa27f061571fd9ad4c88db94f54c771043daa40",
      "las2" -> "acdd8f758e509854447b9a66f753008a958fe3ba47f8c308c614a8fe465777dd",
      "laz2" -> "f9f814c7d59c37ca85bdb8a7617b7c977b43935869838ba06e6d3f241ad7c21d",
      "lazv2" -> "4574a5ae91f299dc93f825a8bb71c7cdc0ca1d182bcc68b8c6e2d37c7d8c0382",
      "las2e" -> "9bd41f38459d7f4abf0c9d34971fca5a2ec539647f46324994defbca934cc4b6",
      "laz2e" -> "246120d14f01b873ff70f255a1e58f1a33679f283b4d5132482f2fe3fe9a5443",
      "lazv2e" -> "c920e5288cb0fa6f7ef4c438fa22f86cb3be499d1b693d4215f3911e87a98dc5",
      "las3" -> "85ff9a051f2832d9807afb76fdf05d7d43cbcdd54ba88137e4695a2cf89f509a",
      "laz3" -> "de686a86e3b1c05acf4131d27c2762f1c9f32a14ddce58963986e9d1a69bd6f8",
      "lazv3" -> "0f2fff2cea6bf59a9d0fd2258d293d360392346f823768c405ccad9fffce85f2",
      "las3e" -> "014a1a24a44ae05a09e29f53a06753a1a490be1e1e9a0748aade49c7b7d47c74",
      "laz3e" -> "402b494475a9c0aa76397cbc8aa8e36e3daf78bb6934ce37761f02967aa005cf",
      "lazv3e" -> "bbc2fecc966222fbdff25e6b189d54df4cba7500c97c331936e74414887dde3d",
      "las6" -> "ef692a32472f3d07001e5833b24fcd7082df7f8215fe9c65ca01e0c6a22c9e64",
      "laz6" -> "d300dcd9133fe82f2f82b9e765febcd37638399aa3f6437f828ae72c3e2d36d3",
      "lazv6" -> "b39f1e8272a951ee1620dea7957eee70e526297183a86169e46cf165b7d0999b",
      "las6e" -> "2b70850cf452e5698ea11c2672b0ff9548fc1db177e49118c8ab4437a6fbfa64",
      "laz6e" -> "6538b45b4578e2d06742653bbb6ea89223b6a67d3209d2559900346d8dbb06b5",
      "lazv6e" -> "fbbe0ab7dedc7621e5fbf62162e0ed276ab01c4450547d3e0a8d6af7ab9cdb38",
      "las7" -> "d4ad4205d631cf062935ba3222d3ede5d054520673b7246639aad95f3972115b",
      "laz7" -> "961258407c99d471bacf1d02cac50c0b9f04b569e12c78b138c5157e719bcf23",
      "lazv7" -> "41b1c0406690024b9379a6d563fb5328fac585ef09c80fc59a96fe8aac385402",
      "las7e" -> "a65cb23752587a698b6ac5b1605c21e52868ff7f02ce1e99f1fdcc5a36d45e7b",
      "laz7e" -> "8b7926eb5019e29f7e2881157ddc9e7ec748144797daf37d664fcced1ab4ccd6",
      "lazv7e" -> "265ac5916a8689ca71794d54f5c4d38b2670fb148353f2643fc15c3cdcd13cd3",
      "las8" -> "1c444d7ba0807612c9d2ec88ebdfc109f19cd47af0b2c09a3aa386d626c72abc",
      "laz8" -> "7500bff9409555232a6ad16057b95a9aafb378cb53c47bf50dc38e957185722a",
      "lazv8" -> "bd1dfb05e46782068c9faa140020b646fa0b98ae715fa15c1faab4f4b33f9111",
      "las8e" -> "aa14f0814cf10a481d74b8e36547e6391c7f31b45283d89e0179c1b799f222b8",
      "laz8e" -> "bc9e26b1e449a2931d257710dcc0c0b4cbbdc659f0d52e10c75e6cee5c63e8cd",
      "lazv8e" -> "573d904d73534e376140d064387071f7992c63e30702a925cfac6d8e4cae600a")
    got.foreach { case (name, digest) => assert(digest == pinned(name), name) }
    assert(got.map(_._1).toSet == pinned.keySet)
  }
}

package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.pc.PcSchema
import graft.sources.las.{LasConvert, LasFormat}

/** DSv2 LAS source: read-back fidelity, projection + filter pushdown,
  * file-level header pruning (I1), statistics (I5), header-answered
  * aggregates, convert (D8). */
class LasSourceSpec extends SparkSpec {

  private val conf = new Configuration()
  private lazy val dir = tempDir("las")

  /** Two tiles with disjoint x ranges: [0,100) and [1000,1100). */
  private lazy val paths: Seq[String] = {
    def tile(path: String, x0: Double, n: Int): String = {
      val pts = (0 until n).map { k =>
        LasFormat.LasPoint(
          x = x0 + (k % 100), y = (k % 37) * 2.0, z = (k % 11) * 1.5,
          intensity = k % 65536, returnNumber = 1 + (k % 3),
          numberOfReturns = 3, classification = k % 32,
          scanAngleRank = (k % 21) - 10, pointSourceId = k % 100,
          gpsTime = 1000.0 + k * 0.25)
      }
      LasFormat.write(conf, path, pts)
      path
    }
    Seq(tile(s"$dir/tile_a.las", 0.0, 3000), tile(s"$dir/tile_b.las", 1000.0, 2000))
  }

  private def las: DataFrame = { paths; spark.read.format("las").load(dir) }

  private def scanPartitions(df: DataFrame): Int =
    finalPlan(df).collectLeaves().collectFirst {
      case s: BatchScanExec => s.inputRDD.getNumPartitions
    }.getOrElse(sys.error("no BatchScanExec"))

  test("reads all points with the documented schema and PC metadata") {
    assert(las.count() == 5000)
    val schema = las.schema
    assert(schema.fieldNames.take(3).toSeq == Seq("x", "y", "z"))
    assert(PcSchema.dimensions(schema).map(_.name) == Seq("x", "y", "z"))
    assert(schema("gps_time").dataType.typeName == "double")
  }

  test("values round-trip through the raw i32 grid (scale 0.001)") {
    val r = las.filter(col("x") < 100.0).agg(
      sum(col("intensity")), max(col("gps_time")), max(col("return_number"))).head()
    assert(r.getLong(0) == (0 until 3000).map(_ % 65536).sum)
    assert(r.getDouble(1) == 1000.0 + 2999 * 0.25)
    assert(r.getShort(2) == 3)
  }

  test("projection pushdown: narrow read schema still decodes correctly") {
    val df = las.select("classification")
    val counts = df.groupBy("classification").count().collect()
    assert(counts.map(_.getLong(1)).sum == 5000)
  }

  test("file-level pruning (I1): a one-tile box reads only that tile's chunks") {
    val all = scanPartitions(las)
    val pruned = scanPartitions(las.filter(col("x") >= 1000.0))
    assert(all == 2, s"expected one chunk per tile, got $all")
    assert(pruned == 1, s"header pruning failed: $pruned partitions")
    // and the unpruned residual filter still applies exactly
    assert(las.filter(col("x") >= 1000.0).count() == 2000)
  }

  test("statistics (I5): exact row count reported to the planner") {
    val scan = las.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.get
    assert(scan.computeStats().rowCount.contains(BigInt(5000)))
  }

  test("multi-path load works (Spark passes `paths` as a JSON array, not CSV)") {
    val df = spark.read.format("las").load(s"$dir/tile_a.las", s"$dir/tile_b.las")
    assert(df.count() == 5000)
  }

  test("compressed bit without a laszip VLR is rejected with a clear error") {
    val d = tempDir("laz")
    val path = s"$d/c.laz"
    LasFormat.write(conf, s"$d/c.las", Seq(LasFormat.LasPoint(1, 2, 3)))
    // flip the compressed bit (0x80) without adding the laszip VLR — a
    // corrupt/truncated LAZ must fail loudly, not decode garbage
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$d/c.las"))
    bytes(104) = (bytes(104) | 0x80).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val e = intercept[Exception] {
      LasFormat.readHeader(conf, path)
    }
    assert(e.getMessage.contains("LAZ"), s"unclear error: ${e.getMessage}")
  }

  test("LAZ reads through the same DSv2 source: equal rows, same schema") {
    // every point format, with and without an extra-bytes tail: the LAZ
    // read must equal its LAS twin as a table, in every single-column
    // projection (each takes its own decode path through the layers) and
    // in count()
    val d = tempDir("laz_read")
    val n = 2500
    for (fmt <- Seq(0, 1, 2, 3, 6, 7, 8); extra <- Seq(0, 3)) {
      val pts = (0 until n).map { k =>
        LasFormat.LasPoint(
          x = (k % 100) * 1.5, y = (k % 37) * 2.0, z = (k % 11) * 1.5,
          intensity = (k * 7) % 65536, returnNumber = 1 + (k % 5),
          numberOfReturns = 5, scanDirection = k % 2, edge = k % 9 == 0,
          classification = (k * 3) % 256, scanAngleRank = (k % 201) - 100,
          userData = k % 256, pointSourceId = k % 100, gpsTime = 1000.0 + k * 0.25,
          red = (k * 11) % 65536, green = (k * 13) % 65536, blue = (k * 17) % 65536,
          scannerChannel = k % 4, nir = (k * 19) % 65536,
          synthetic = k % 2 == 0, keyPoint = k % 3 == 0, withheld = k % 5 == 0,
          overlap = k % 7 == 0,
          extra = Array.tabulate(extra)(j => ((k * 5 + j) % 256).toByte))
      }
      val tag = s"f$fmt-e$extra"
      LasFormat.write(conf, s"$d/$tag/pts.las", pts, pointFormat = fmt, extraBytes = extra)
      graft.sources.las.laz.LazFormat.write(conf, s"$d/$tag/pts.laz", pts,
        pointFormat = fmt, chunkSize = 1000, extraBytes = extra)
      val las = spark.read.format("las").load(s"$d/$tag/pts.las")
      val laz = spark.read.format("las").load(s"$d/$tag/pts.laz")
      assert(laz.schema == las.schema, tag)
      assert(las.columns.contains("extra_bytes") == (extra > 0), tag)
      assert(laz.count() == n && las.count() == n, tag)
      assert(laz.exceptAll(las).isEmpty && las.exceptAll(laz).isEmpty, tag)
      las.columns.foreach { c =>
        assert(laz.select(c).collect().toSeq == las.select(c).collect().toSeq, s"$tag $c")
      }
    }
  }

  test("a NaN literal prunes no file: < <= > >= = equal a checkpointed copy") {
    // Spark orders NaN above every double, so `x < NaN` and `x <= NaN`
    // hold on every row; header bounds must not prune on a NaN bound
    val d = tempDir("las_nan")
    val pts = (0 until 10).map(k => LasFormat.LasPoint(k * 1.5, k * 0.5, 1.0, gpsTime = k))
    LasFormat.write(conf, s"$d/f.las", pts)
    val df = spark.read.format("las").load(d)
    val copy = df.localCheckpoint()
    val nan = lit(Double.NaN)
    val preds = Seq("<" -> (col("x") < nan), "<=" -> (col("x") <= nan),
      ">" -> (col("x") > nan), ">=" -> (col("x") >= nan), "=" -> (col("x") === nan))
    for ((name, p) <- preds) {
      val got = df.filter(p).orderBy("gps_time").collect().toSeq
      assert(got == copy.filter(p).orderBy("gps_time").collect().toSeq, name)
    }
    assert(df.filter(col("x") < nan).count() == 10)
    assert(df.filter(col("x") <= nan).count() == 10)
  }

  test("LAZ chunk table drives partitioning; header pruning still applies") {
    val d = tempDir("laz_parts")
    def tile(path: String, x0: Double, n: Int): Unit =
      graft.sources.las.laz.LazFormat.write(conf, path,
        (0 until n).map(k => LasFormat.LasPoint(x0 + (k % 100), k % 50, k % 7)),
        pointFormat = 0, chunkSize = 1000)
    tile(s"$d/a.laz", 0.0, 5000)
    tile(s"$d/b.laz", 1000.0, 5000)
    val df = spark.read.format("las").load(d)
    assert(df.count() == 10000)
    // 1000-point chunks group into 524288-point partitions → 1 per file here
    assert(scanPartitions(df) == 2)
    // header-bounds pruning drops file b entirely
    assert(scanPartitions(df.filter(col("x") < 500.0)) == 1)
    assert(df.filter(col("x") < 500.0).count() == 5000)
  }

  test("variable-chunked LAZ reads through DSv2 identically to LAS") {
    val d = tempDir("laz_var_read")
    val pts = (0 until 4000).map { k =>
      LasFormat.LasPoint(
        x = (k % 83) * 1.25, y = (k % 29) * 3.0, z = (k % 13) * 0.5,
        intensity = (k * 13) % 65536, gpsTime = 500.0 + k * 0.125)
    }
    LasFormat.write(conf, s"$d/pts.las", pts)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/pts.laz", pts,
      variableChunks = Some(Seq(1500, 3, 2000, 497)))
    val las = spark.read.format("las").load(s"$d/pts.las")
    val laz = spark.read.format("las").load(s"$d/pts.laz")
    assert(laz.count() == 4000)
    assert(laz.exceptAll(las).isEmpty && las.exceptAll(laz).isEmpty)
  }

  test("mixed directory of .las and .laz serves one consistent table") {
    val d = tempDir("laz_mixed")
    val pts = (0 until 1500).map(k =>
      LasFormat.LasPoint(k * 0.5, k * 0.25, 1.0, intensity = k, gpsTime = k))
    LasFormat.write(conf, s"$d/a.las", pts)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/b.laz", pts, chunkSize = 400)
    val df = spark.read.format("las").load(d)
    assert(df.count() == 3000)
    // the two halves are identical point-for-point
    assert(df.groupBy("x", "y", "z", "intensity", "gps_time").count()
      .filter(col("count") =!= 2).isEmpty)
  }

  test("LAS 1.4 formats 6/7/8: extended records round-trip through DSv2") {
    val d = tempDir("las14")
    val pts = (0 until 800).map { k =>
      LasFormat.LasPoint(
        x = k * 0.5, y = k * 0.25, z = (k % 9) * 1.0,
        intensity = (k * 31) % 65536,
        returnNumber = 1 + (k % 15), numberOfReturns = 15, // 4-bit fields
        scanDirection = k % 2, edge = k % 7 == 0,
        classification = k % 256, // full u8 (legacy caps at 5 bits)
        scanAngleRank = ((k % 60001) - 30000), // i16 0.006-degree units
        userData = k % 256, pointSourceId = k % 65536,
        gpsTime = 1e9 + k * 0.5, scannerChannel = k % 4,
        red = (k * 3) % 65536, green = (k * 5) % 65536, blue = (k * 7) % 65536,
        nir = (k * 11) % 65536)
    }
    Seq(6, 7, 8).foreach { fmt =>
      val path = s"$d/f$fmt.las"
      LasFormat.write(conf, path, pts, pointFormat = fmt)
      val h = LasFormat.readHeader(conf, path)
      assert(h.pointFormat == fmt && h.pointCount == 800) // via the u64 count
      assert(h.recordLength == LasFormat.recordLengthFor(fmt))
      val df = spark.read.format("las").load(path)
      val names = df.schema.fieldNames.toSeq
      assert(names.contains("scanner_channel") && names.contains("gps_time"))
      assert(names.contains("nir") == (fmt == 8))
      assert(names.contains("red") == (fmt >= 7))
      val rows = df.orderBy("gps_time").collect()
      assert(rows.length == 800)
      val r42 = rows(42)
      def f(n: String) = r42.get(r42.fieldIndex(n))
      assert(f("return_number") == (1 + (42 % 15)).toShort)
      assert(f("number_of_returns") == 15.toShort)
      assert(f("classification") == (42 % 256).toShort)
      assert(f("scan_angle_rank") == (42 - 30000).toShort)
      assert(f("scanner_channel") == (42 % 4).toShort)
      assert(f("user_data") == (42 % 256).toShort)
      assert(f("point_source_id") == 42 % 65536)
      assert(f("gps_time") == 1e9 + 42 * 0.5)
      if (fmt >= 7) assert(f("red") == (42 * 3) % 65536)
      if (fmt == 8) assert(f("nir") == (42 * 11) % 65536)
    }
  }

  test("format 8 record bytes match the ASPRS layout (golden offsets)") {
    // round-trip tests can't catch a matching writer+reader offset error;
    // this pins the on-disk layout to the published spec by hand
    val d = tempDir("las14_golden")
    val pt = LasFormat.LasPoint(
      x = 12.345, y = -6.789, z = 3.21, intensity = 0xBEEF,
      returnNumber = 5, numberOfReturns = 12, scanDirection = 1, edge = true,
      classification = 200, scanAngleRank = -12345, userData = 0xAB,
      pointSourceId = 0xCAFE, gpsTime = 123456.789, scannerChannel = 2,
      red = 0x1111, green = 0x2222, blue = 0x3333, nir = 0x4444)
    LasFormat.write(conf, s"$d/g.las", Seq(pt), pointFormat = 8)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, "g.las"))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((bb.get(24), bb.get(25)) == (1.toByte, 4.toByte)) // version 1.4
    assert((bb.getShort(94) & 0xffff) == 375) // header size
    assert(bb.getInt(107) == 0) // legacy count zero for extended formats
    assert(bb.getLong(247) == 1L) // u64 count
    val r = bb.getInt(96) // record start
    assert(bb.getInt(r) == Math.round(12.345 / 0.001).toInt) // x raw i32
    assert((bb.getShort(r + 12) & 0xffff) == 0xBEEF) // intensity
    assert((bb.get(r + 14) & 0xff) == (5 | (12 << 4))) // 4-bit returns
    assert((bb.get(r + 15) & 0xff) == ((2 << 4) | (1 << 6) | (1 << 7))) // ch/dir/edge
    assert((bb.get(r + 16) & 0xff) == 200) // full-u8 classification
    assert((bb.get(r + 17) & 0xff) == 0xAB) // user data
    assert(bb.getShort(r + 18) == -12345) // i16 scan angle
    assert((bb.getShort(r + 20) & 0xffff) == 0xCAFE) // point source id
    assert(bb.getDouble(r + 22) == 123456.789) // gps time
    assert((bb.getShort(r + 30) & 0xffff) == 0x1111) // red
    assert((bb.getShort(r + 32) & 0xffff) == 0x2222)
    assert((bb.getShort(r + 34) & 0xffff) == 0x3333)
    assert((bb.getShort(r + 36) & 0xffff) == 0x4444) // nir
    assert(bytes.length == r + 38) // record length 38
  }

  test("mixed 1.2 + 1.4 directory serves the shared-feature schema") {
    val d = tempDir("las_mixed14")
    val pts = (0 until 300).map(k =>
      LasFormat.LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k))
    LasFormat.write(conf, s"$d/a.las", pts, pointFormat = 1)
    LasFormat.write(conf, s"$d/b.las", pts, pointFormat = 7)
    val df = spark.read.format("las").load(d)
    // shared features: gps yes; rgb/scanner_channel not in format 1
    assert(df.schema.fieldNames.toSeq ==
      LasFormat.schemaFor(1).fieldNames.toSeq)
    assert(df.count() == 600)
  }

  test("LAZ 1.4 formats 6/7/8: layered decode matches the LAS twin through DSv2") {
    val d = tempDir("laz14")
    val pts = (0 until 800).map { k =>
      LasFormat.LasPoint(
        x = k * 0.5, y = k * 0.25, z = (k % 9) * 1.0,
        intensity = (k * 31) % 65536,
        returnNumber = 1 + (k % 15), numberOfReturns = 15,
        scanDirection = k % 2, edge = k % 7 == 0,
        classification = k % 256,
        scanAngleRank = ((k % 60001) - 30000),
        userData = k % 256, pointSourceId = k % 65536,
        gpsTime = 1e9 + k * 0.5, scannerChannel = k % 4,
        red = (k * 3) % 65536, green = (k * 5) % 65536, blue = (k * 7) % 65536,
        nir = (k * 11) % 65536)
    }
    Seq(6, 7, 8).foreach { fmt =>
      LasFormat.write(conf, s"$d/las$fmt/f.las", pts, pointFormat = fmt)
      graft.sources.las.laz.LazFormat.write(conf, s"$d/laz$fmt/f.laz", pts,
        pointFormat = fmt, chunkSize = 256)
      val las = spark.read.format("las").load(s"$d/las$fmt")
      val laz = spark.read.format("las").load(s"$d/laz$fmt")
      assert(laz.schema.fieldNames.toSeq == las.schema.fieldNames.toSeq)
      assert(laz.count() == 800)
      assert(laz.exceptAll(las).isEmpty && las.exceptAll(laz).isEmpty)
      // narrow projection exercises the layered source's selective
      // decompression (only the XY layer decodes for this plan)
      val sx = laz.agg(sum("x")).head().getDouble(0)
      assert(math.abs(sx - pts.map(p => (p.x / 0.001).round * 0.001).sum) < 1e-6)
    }
    // the compressed bit without a laszip VLR still fails loudly on 1.4
    val f = java.nio.file.Paths.get(d, "las6", "f.las")
    val bytes = java.nio.file.Files.readAllBytes(f)
    bytes(104) = (6 | 0x80).toByte
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d, "las6", ".f.las.crc"))
    val e = intercept[IllegalArgumentException] {
      LasFormat.readHeader(conf, s"$d/las6/f.las")
    }
    assert(e.getMessage.contains("laszip VLR"))
  }

  test("classification flags + degree scan_angle columns (reference schema parity)") {
    // the reference exposes is_synthetic/is_key_point/is_withheld/
    // is_overlap and a f32 scan_angle in degrees (pc-io/src/las/
    // schema.rs:61-71); legacy packs 3 flags into the classification
    // byte (no overlap), extended carries a flags nibble + 0.006° units
    val d = tempDir("las_flags")
    val pts = (0 until 400).map { k =>
      LasFormat.LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k,
        classification = k % 32, scanAngleRank = (k % 61) - 30,
        synthetic = k % 2 == 0, keyPoint = k % 3 == 0, withheld = k % 5 == 0,
        overlap = k % 7 == 0, scannerChannel = k % 4)
    }
    // legacy (format 1): LAS and LAZ agree; overlap is always false
    LasFormat.write(conf, s"$d/legacy/f.las", pts, pointFormat = 1)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/legacyz/f.laz", pts,
      pointFormat = 1, chunkSize = 128)
    // extended (format 6): the nibble carries all four flags
    LasFormat.write(conf, s"$d/ext/f.las", pts, pointFormat = 6)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/extz/f.laz", pts,
      pointFormat = 6, chunkSize = 128)
    for ((dir, ext) <- Seq(s"$d/legacy" -> false, s"$d/legacyz" -> false,
        s"$d/ext" -> true, s"$d/extz" -> true)) {
      val rows = spark.read.format("las").load(dir)
        .select("gps_time", "classification", "is_synthetic", "is_key_point",
          "is_withheld", "is_overlap", "scan_angle_rank", "scan_angle")
        .orderBy("gps_time").collect()
      assert(rows.length == 400, dir)
      rows.zipWithIndex.foreach { case (r, k) =>
        assert(r.getShort(1) == (k % 32).toShort, s"$dir class at $k")
        assert(r.getBoolean(2) == (k % 2 == 0), s"$dir synthetic at $k")
        assert(r.getBoolean(3) == (k % 3 == 0), s"$dir keypoint at $k")
        assert(r.getBoolean(4) == (k % 5 == 0), s"$dir withheld at $k")
        assert(r.getBoolean(5) == (ext && k % 7 == 0), s"$dir overlap at $k")
        val rank = (k % 61) - 30
        assert(r.getShort(6) == rank.toShort, s"$dir rank at $k")
        val deg = if (ext) rank * 0.006f else rank.toFloat
        assert(r.getFloat(7) == deg, s"$dir degrees at $k")
      }
    }
  }

  test("extra-bytes records serve an opaque binary column through DSv2") {
    val d = tempDir("las_extra")
    val pts = (0 until 600).map { k =>
      LasFormat.LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k, scannerChannel = k % 3,
        extra = Array.tabulate(6)(j => ((k * 13 + j * 31) % 256).toByte))
    }
    // LAS 1.2, LAS 1.4, LAZ legacy, LAZ layered — all four carry the tail
    LasFormat.write(conf, s"$d/a/f.las", pts, pointFormat = 1, extraBytes = 6)
    LasFormat.write(conf, s"$d/b/f.las", pts, pointFormat = 6, extraBytes = 6)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/c/f.laz", pts,
      pointFormat = 1, chunkSize = 150, extraBytes = 6)
    graft.sources.las.laz.LazFormat.write(conf, s"$d/e/f.laz", pts,
      pointFormat = 6, chunkSize = 150, extraBytes = 6)
    for (sub <- Seq("a", "b", "c", "e")) {
      val df = spark.read.format("las").load(s"$d/$sub")
      assert(df.schema("extra_bytes").dataType ==
        org.apache.spark.sql.types.BinaryType, sub)
      val rows = df.select("gps_time", "extra_bytes").orderBy("gps_time").collect()
      assert(rows.length == 600, sub)
      rows.zipWithIndex.foreach { case (r, k) =>
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), pts(k).extra),
          s"$sub extra at $k")
      }
    }
    // a mixed dir where one file lacks extras drops the column
    LasFormat.write(conf, s"$d/m/p.las", pts, pointFormat = 1, extraBytes = 6)
    LasFormat.write(conf, s"$d/m/q.las", pts.map(_.copy(extra = Array.emptyByteArray)),
      pointFormat = 1)
    val mixed = spark.read.format("las").load(s"$d/m")
    assert(!mixed.columns.contains("extra_bytes"))
    assert(mixed.count() == 1200)
    // mixed legacy + extended where BOTH carry extras keeps the column
    // (commonSchema's representative-format path, differing tail lengths)
    LasFormat.write(conf, s"$d/k/p.las", pts, pointFormat = 1, extraBytes = 6)
    LasFormat.write(conf, s"$d/k/q.las",
      pts.map(p => p.copy(extra = p.extra.take(2))), pointFormat = 6, extraBytes = 2)
    val kept = spark.read.format("las").load(s"$d/k")
    assert(kept.columns.contains("extra_bytes"))
    val lens = kept.select(org.apache.spark.sql.functions.length(col("extra_bytes")))
      .groupBy("length(extra_bytes)").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lens == Map(6 -> 600L, 2 -> 600L))
  }

  test("count() reads no point bytes: exact count survives a corrupt chunk body") {
    val d = tempDir("laz_count")
    val pts = (0 until 1000).map(k =>
      LasFormat.LasPoint(k * 0.5, k * 0.25, 1.0, gpsTime = k, scannerChannel = k % 2))
    graft.sources.las.laz.LazFormat.write(conf, s"$d/f.laz", pts,
      pointFormat = 6, chunkSize = 300)
    // zero out compressed bytes inside the first chunk body (past the
    // 30-byte anchor + count + layer sizes): any decode would now yield
    // garbage or throw, but a pure count() never touches them
    val h = LasFormat.readHeader(conf, s"$d/f.laz")
    val chunk0 = graft.sources.las.laz.LazFormat.readChunks(conf, s"$d/f.laz", h).head
    val f = java.nio.file.Paths.get(d, "f.laz")
    val bytes = java.nio.file.Files.readAllBytes(f)
    val bodyStart = chunk0.fileOffset.toInt + 30 + 4 + 4 * 9
    java.util.Arrays.fill(bytes, bodyStart + 8, bodyStart + 64, 0xAA.toByte)
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d, ".f.laz.crc"))
    assert(spark.read.format("las").load(s"$d/f.laz").count() == 1000L)
    // a filter stops the headers from answering the count; the scan it
    // needs projects no column, so it still reads no point bytes (a
    // filter on rand() against a constant would be folded away)
    val kept = spark.read.format("las").load(s"$d/f.laz")
      .filter(monotonically_increasing_id() >= 0L)
    assert(kept.count() == 1000L)
    assert(batchScans(kept.groupBy().count()).nonEmpty)
  }

  test("point formats 2/3: RGB round-trips; gps offset shifts with format") {
    val d2 = tempDir("las_rgb")
    val pts = (0 until 500).map { k =>
      LasFormat.LasPoint(x = k * 0.5, y = k * 0.25, z = 1.0,
        intensity = k, gpsTime = 2000.0 + k,
        red = (k * 131) % 65536, green = (k * 257) % 65536, blue = (k * 31) % 65536)
    }
    LasFormat.write(conf, s"$d2/f2.las", pts, pointFormat = 2)
    LasFormat.write(conf, s"$d2/f3.las", pts, pointFormat = 3)
    val f2 = spark.read.format("las").load(s"$d2/f2.las")
    assert(f2.columns.toSeq ==
      LasFormat.schemaFor(2).fieldNames.toSeq && !f2.columns.contains("gps_time"))
    val f3 = spark.read.format("las").load(s"$d2/f3.las")
    assert(f3.columns.contains("gps_time") && f3.columns.contains("red"))
    // colors land identically from both formats despite different offsets
    def colors(df: DataFrame) = df.orderBy("intensity")
      .select("red", "green", "blue").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val expected = pts.sortBy(_.intensity).map(p => (p.red, p.green, p.blue))
    assert(colors(f2) == expected)
    assert(colors(f3) == expected)
    val gps = f3.orderBy("intensity").select("gps_time").collect().map(_.getDouble(0)).toSeq
    assert(gps == pts.sortBy(_.intensity).map(_.gpsTime))
  }

  test("mixed-format directory serves the widest common schema") {
    val dm = tempDir("las_mixed")
    val pts = (0 until 100).map(k => LasFormat.LasPoint(x = k, y = k, z = 0.0,
      intensity = k, gpsTime = k, red = k, green = k, blue = k))
    LasFormat.write(conf, s"$dm/a.las", pts, pointFormat = 2) // rgb, no gps
    LasFormat.write(conf, s"$dm/b.las", pts, pointFormat = 3) // rgb + gps
    val df = spark.read.format("las").load(dm)
    // common fields: rgb yes (both have it), gps no (format 2 lacks it)
    assert(df.columns.contains("red") && !df.columns.contains("gps_time"))
    assert(df.count() == 200)
    assert(df.filter(col("red") === col("intensity")).count() == 200)
  }

  test("SQL over the registered source (reference: SELECT mean(x) smoke)") {
    // the reference's SQL entry point (pc-io/src/las/mod.rs:92-126) —
    // DSv2 makes the source a first-class SQL table
    spark.sql("DROP TABLE IF EXISTS las_sql")
    spark.sql(s"CREATE TABLE las_sql USING las OPTIONS (path '$dir')")
    try {
      val viaSql = spark.sql("SELECT mean(x) AS mx, count(*) AS n FROM las_sql").head()
      val viaDf = las.agg(avg("x"), count(lit(1))).head()
      assert(viaSql.getLong(1) == 5000L)
      assert(math.abs(viaSql.getDouble(0) - viaDf.getDouble(0)) < 1e-9)
      // pushdown also works through the SQL path
      assert(spark.sql("SELECT count(*) AS n FROM las_sql WHERE x >= 1000").head().getLong(0)
        == las.filter(col("x") >= 1000).count())
    } finally spark.sql("DROP TABLE IF EXISTS las_sql")
  }

  /** Batch scans in `df`'s executed plan, AQE stages included. */
  private def batchScans(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(walk)
    }
    df.collect()
    walk(df.queryExecution.executedPlan)
  }

  private def headerAggs(df: DataFrame): DataFrame = df.agg(
    min("x"), max("x"), min("y"), max("y"), min("z"), max("z"),
    count(lit(1)), count("classification"))

  test("count and min/max of x/y/z come from the headers: equal a decoded copy, no scan") {
    val d = tempDir("las_agg")
    def pts(n: Int, x0: Double) = (0 until n).map { k =>
      LasFormat.LasPoint(x0 + k * 0.731, -50.0 + (k % 37) * 1.3, (k % 11) * -0.7,
        classification = k % 7, gpsTime = k)
    }
    val laz = graft.sources.las.laz.LazFormat
    val formats = for (fmt <- Seq(0, 1, 2, 3, 6, 7, 8); ext <- Seq("las", "laz")) yield {
      val f = s"$d/f$fmt.$ext"
      if (ext == "las") LasFormat.write(conf, f, pts(700, 10.0), pointFormat = fmt)
      else laz.write(conf, f, pts(700, 10.0), pointFormat = fmt, chunkSize = 300)
      s"format $fmt $ext" -> f
    }
    // two files on a negative offset and a 0.01 grid: bounds that are not
    // on the default 0.001 grid, combined across files
    val scaled = s"$d/scaled"
    LasFormat.write(conf, s"$scaled/a.las", pts(500, -900.0),
      scale = (0.01, 0.01, 0.01), offset = (-1000.0, -2000.0, -10.0))
    laz.write(conf, s"$scaled/b.laz", pts(300, -700.0),
      scale = (0.01, 0.01, 0.01), offset = (-1000.0, -2000.0, -10.0))
    // an empty file alone, and beside a file whose bounds exclude its zero
    // header bounds
    LasFormat.write(conf, s"$d/empty/e.las", Seq.empty)
    LasFormat.write(conf, s"$d/mixed/e.las", Seq.empty)
    LasFormat.write(conf, s"$d/mixed/p.las", pts(200, 5000.0))
    val cases = formats ++ Seq("two files, offset -1000, scale 0.01" -> scaled,
      "zero points" -> s"$d/empty", "zero-point file beside a tile" -> s"$d/mixed")
    for ((tag, path) <- cases) {
      val df = spark.read.format("las").load(path)
      val copy = df.localCheckpoint()
      assert(df.count() == copy.count(), tag)
      assert(headerAggs(df).collect().toSeq == headerAggs(copy).collect().toSeq, tag)
      assert(batchScans(headerAggs(df)).isEmpty, tag)
      assert(batchScans(df.groupBy().count()).isEmpty, tag)
    }
    // the layout writers' bounds pass: the unused importance column is
    // pruned before the pushdown, and an empty cloud still fails loudly
    val withI = graft.pc.Points.withImportance(spark.read.format("las").load(scaled))
    assert(batchScans(withI.agg(min("x"), max("y"), count(lit(1)))).isEmpty)
    assert(graft.pc.Layout.boundsAndCount(withI)._2 == 800L)
    val empty = intercept[IllegalArgumentException](graft.pc.Layout.boundsAndCount(
      graft.pc.Points.withImportance(spark.read.format("las").load(s"$d/empty"))))
    assert(empty.getMessage.contains("empty point cloud"))
  }

  test("aggregates the headers cannot answer decode, and stay correct") {
    paths
    val df = las
    val copy = df.localCheckpoint()
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "filter" -> (_.filter(col("x") >= 1000.0).agg(count(lit(1)), min("x"))),
      "non-prunable filter" -> (_.filter(col("intensity") > 10).agg(count(lit(1)), max("z"))),
      "group by" -> (_.groupBy("classification").agg(count(lit(1)), min("x")).orderBy("classification")),
      "min(intensity)" -> (_.agg(min("intensity"), count(lit(1)))),
      "count(distinct x)" -> (_.agg(countDistinct("x"))),
      "sum(x)" -> (_.agg(sum("x"), max("x"))))
    for ((tag, q) <- queries) {
      assert(q(df).collect().toSeq == q(copy).collect().toSeq, tag)
      assert(batchScans(q(df)).nonEmpty, tag)
    }
  }

  test("a load reads each file's header once") {
    val d = tempDir("las_headers")
    (0 until 3).foreach(t => LasFormat.write(conf, s"$d/t$t.las",
      Seq(LasFormat.LasPoint(t, t, t), LasFormat.LasPoint(t + 1, t, t))))
    val before = LasFormat.headerReads.get
    val df = spark.read.format("las").load(d)
    assert(LasFormat.headerReads.get - before == 3L, "schema inference and table share one read")
    assert(df.count() == 6L)
    assert(df.filter(col("x") > 1.5).collect().length == 3)
    assert(LasFormat.headerReads.get - before == 3L, "headers re-read by a query")
  }

  test("a truncated LAS file fails by name instead of answering from its header") {
    val d = tempDir("las_cut")
    val f = s"$d/f.las"
    LasFormat.write(conf, f, (0 until 1000).map(k => LasFormat.LasPoint(k, k * 0.5, 1.0)),
      pointFormat = 0)
    val h = LasFormat.readHeader(conf, f)
    // cut after 500 records: the header still declares 1000 points and a
    // max x of 999, the last record present holds x = 499
    val file = java.nio.file.Paths.get(f)
    Files.write(file, java.util.Arrays.copyOf(Files.readAllBytes(file),
      (h.pointOffset + 500L * h.recordLength).toInt))
    Files.deleteIfExists(java.nio.file.Paths.get(d, ".f.las.crc"))
    for (path <- Seq(f, d)) {
      def cut = spark.read.format("las").load(path)
      val queries = Seq[(String, () => Any)](
        "count" -> (() => cut.count()),
        "max(x)" -> (() => cut.agg(max("x")).collect()),
        "filtered count" -> (() => cut.filter(monotonically_increasing_id() >= 0L).count()))
      for ((tag, q) <- queries) {
        val e = intercept[IllegalArgumentException](q())
        assert(e.getMessage.contains("truncated LAS file"), s"$path $tag: ${e.getMessage}")
      }
    }
  }

  test("convert (D8): LAS → importance-augmented clustered parquet") {
    val out = s"$dir/converted"
    LasConvert.toGridLayout(spark, dir, out, sigma = 4, batchSize = 1024L)
    val back = spark.read.parquet(out)
    assert(back.count() == 5000)
    assert(back.columns.contains("i"))
    val iStats = back.agg(min("i"), max("i")).head()
    assert(iStats.getFloat(0) >= 0.0f && iStats.getFloat(1) < 1.0f)
  }
}

package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pc.{Layout, PcSchema}

/** PLY point-cloud reader/writer (reference: pc-io/src/ply.rs:39-360).
  *
  * PLY is a test-fixture-scale format in the reference (its own asset is
  * 10k points), so — matching the reference's single-pass design — the
  * reader parses on the driver and hands Spark a local DataFrame, and
  * the writer streams `toLocalIterator` (constant driver memory). Large
  * clouds live in Parquet; PLY exists for viz import/export parity.
  *
  * Supported: ascii / binary_little_endian / binary_big_endian formats,
  * scalar vertex properties of the 8 PLY numeric types, `property list`
  * columns (→ Spark ArrayType — e.g. face `vertex_indices`; the
  * reference engine is scalar-only here), arbitrary extra elements
  * (skipped, or read explicitly via `readElement`). Unsigned types widen
  * like the LAS mapping (SURVEY.md §1.4): uchar→Short, ushort→Int,
  * uint→Long.
  */
object Ply {

  /** PLY property type → (Spark type, byte width). */
  private val typeMap: Map[String, (DataType, Int)] = Map(
    "char" -> (ByteType, 1), "int8" -> (ByteType, 1),
    "uchar" -> (ShortType, 1), "uint8" -> (ShortType, 1),
    "short" -> (ShortType, 2), "int16" -> (ShortType, 2),
    "ushort" -> (IntegerType, 2), "uint16" -> (IntegerType, 2),
    "int" -> (IntegerType, 4), "int32" -> (IntegerType, 4),
    "uint" -> (LongType, 4), "uint32" -> (LongType, 4),
    "float" -> (FloatType, 4), "float32" -> (FloatType, 4),
    "double" -> (DoubleType, 8), "float64" -> (DoubleType, 8))

  /** Inverse map for writing (canonical PLY names). */
  private def plyTypeOf(dt: DataType): String = dt match {
    case ByteType => "char"
    case ShortType => "short"
    case IntegerType => "int"
    case LongType => "int" // PLY has no int64; clamp to int range at write
    case FloatType => "float"
    case DoubleType => "double"
    case other => throw new IllegalArgumentException(s"non-numeric PLY column: $other")
  }

  final case class PlyProperty(name: String, plyType: String,
      listCountType: Option[String] = None) {
    def isList: Boolean = listCountType.isDefined
    def sparkType: DataType =
      if (isList) ArrayType(typeMap(plyType)._1, containsNull = false)
      else typeMap(plyType)._1
    def width: Int = typeMap(plyType)._2
  }
  final case class PlyElement(name: String, count: Long, props: Seq[PlyProperty])
  final case class PlyHeader(format: String, elements: Seq[PlyElement])

  private def readLine(in: DataInputStream, allowEof: Boolean): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') { sb.append(c.toChar); c = in.read() }
    // a final data row may legitimately end at EOF without a newline
    if (c == -1 && !(allowEof && sb.nonEmpty))
      throw new EOFException("PLY stream truncated")
    sb.toString.stripSuffix("\r")
  }

  private def readHeaderLine(in: DataInputStream): String =
    readLine(in, allowEof = false)

  /** Parse the header from the stream (consumes through `end_header`). */
  def parseHeader(in: DataInputStream): PlyHeader = {
    require(readHeaderLine(in) == "ply", "not a PLY file (missing magic)")
    var format: String = null
    val elements = scala.collection.mutable.ArrayBuffer.empty[PlyElement]
    var done = false
    while (!done) {
      val line = readHeaderLine(in)
      line.split("\\s+").toSeq match {
        case Seq("format", f, _) => format = f
        case Seq("comment", _*) | Seq("obj_info", _*) => ()
        case Seq("element", name, n) =>
          elements += PlyElement(name, n.toLong, Vector.empty)
        case Seq("property", "list", ct, vt, name) =>
          require(typeMap.contains(ct) && typeMap.contains(vt),
            s"unknown PLY list types: $ct $vt")
          val last = elements.last
          elements(elements.size - 1) =
            last.copy(props = last.props :+ PlyProperty(name, vt, Some(ct)))
        case Seq("property", t, name) =>
          require(typeMap.contains(t), s"unknown PLY type: $t")
          val last = elements.last
          elements(elements.size - 1) =
            last.copy(props = last.props :+ PlyProperty(name, t))
        case Seq("end_header") => done = true
        case other => throw new IllegalArgumentException(s"bad header line: $line")
      }
    }
    require(format != null, "PLY header missing format line")
    PlyHeader(format, elements.toSeq)
  }

  private def schemaOf(el: PlyElement): StructType = StructType(el.props.map { p =>
    val base = StructField(p.name, p.sparkType, nullable = false)
    p.name match {
      case _ if p.isList => base
      case "x" => PcSchema.dimensionField("x", p.sparkType, 1, location = true)
      case "y" => PcSchema.dimensionField("y", p.sparkType, 2, location = true)
      case "z" => PcSchema.dimensionField("z", p.sparkType, 3, location = true)
      case "i" => PcSchema.dimensionField("i", p.sparkType, 4, importance = true)
      case _ => base
    }
  })

  private def readBinaryScalar(plyType: String, bb: ByteBuffer): Any = plyType match {
    case "char" | "int8" => bb.get()
    case "uchar" | "uint8" => (bb.get() & 0xff).toShort
    case "short" | "int16" => bb.getShort
    case "ushort" | "uint16" => bb.getShort & 0xffff
    case "int" | "int32" => bb.getInt
    case "uint" | "uint32" => bb.getInt.toLong & 0xffffffffL
    case "float" | "float32" => bb.getFloat
    case "double" | "float64" => bb.getDouble
  }

  private def asCount(v: Any): Int = v match {
    case b: Byte => b.toInt
    case s: Short => s.toInt
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"bad list count: $other")
  }

  /** Read a PLY file's `vertex` element into a DataFrame with PC:*
    * metadata on x/y/z(/i). Elements before `vertex` are consumed and
    * skipped; elements after are ignored. */
  def read(spark: SparkSession, path: String): DataFrame =
    readElement(spark, path, "vertex")

  private def parseAsciiScalar(plyType: String, tok: String): Any =
    typeMap(plyType)._1 match {
      case ByteType => tok.toByte
      case ShortType => tok.toShort
      case IntegerType => tok.toInt
      case LongType => tok.toLong
      case FloatType => tok.toFloat
      case DoubleType => tok.toDouble
      case _ => throw new IllegalStateException
    }

  /** Read any element (vertex, face, ...) by name; list properties come
    * back as ArrayType columns (e.g. face `vertex_indices`). */
  def readElement(spark: SparkSession, path: String, element: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new DataInputStream(new BufferedInputStream(fs.open(p)))
    try {
      val header = parseHeader(in)
      val ascii = header.format == "ascii"
      val order =
        if (header.format == "binary_big_endian") ByteOrder.BIG_ENDIAN
        else ByteOrder.LITTLE_ENDIAN
      val scratch = new Array[Byte](8)
      def binScalar(t: String): Any = {
        val w = typeMap(t)._2
        in.readFully(scratch, 0, w)
        readBinaryScalar(t, ByteBuffer.wrap(scratch, 0, w).order(order))
      }
      var rows: Seq[Row] = null
      var schema: StructType = null
      // trailing elements after the target are never needed — stop instead
      // of parse-and-discarding (a large face element after vertex is the
      // common layout). The `.iterator` matters: a strict Seq.takeWhile
      // evaluates every predicate up front (rows is still null), parsing
      // all trailing elements anyway; the iterator re-checks after each
      // element's side effects ran
      header.elements.iterator.takeWhile(_ => rows == null).foreach { el =>
        val isTarget = el.name == element
        // fixed-width (list-free) binary elements: one shared row buffer
        val fixedRowBytes =
          if (!ascii && el.props.forall(!_.isList)) el.props.map(_.width).sum else -1
        val fixedBuf = if (fixedRowBytes >= 0) new Array[Byte](fixedRowBytes) else null
        val parsed = (0L until el.count).iterator.map { _ =>
          if (ascii) {
            val toks = readLine(in, allowEof = true).trim.split("\\s+")
            var ti = 0
            val vals = el.props.map { pr =>
              if (pr.isList) {
                val n = asCount(parseAsciiScalar(pr.listCountType.get, toks(ti)))
                val vs = (1 to n).map(j => parseAsciiScalar(pr.plyType, toks(ti + j)))
                ti += 1 + n
                vs
              } else {
                val v = parseAsciiScalar(pr.plyType, toks(ti)); ti += 1; v
              }
            }
            if (isTarget) Row.fromSeq(vals) else null
          } else if (fixedRowBytes >= 0) {
            // fixed-width rows: ONE bulk read per row (hot path for large
            // vertex elements; the per-scalar loop below is list-only)
            in.readFully(fixedBuf)
            if (isTarget) {
              val bb = ByteBuffer.wrap(fixedBuf).order(order)
              Row.fromSeq(el.props.map(pr => readBinaryScalar(pr.plyType, bb)))
            } else null
          } else {
            val vals = el.props.map { pr =>
              if (pr.isList) {
                val n = asCount(binScalar(pr.listCountType.get))
                (0 until n).map(_ => binScalar(pr.plyType))
              } else binScalar(pr.plyType)
            }
            if (isTarget) Row.fromSeq(vals) else null
          }
        }
        if (isTarget) { rows = parsed.toVector; schema = schemaOf(el) }
        else parsed.foreach(_ => ()) // consume + discard
      }
      require(rows != null, s"no `$element` element in $path")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, (rows.size / Layout.BatchSize + 1).toInt)),
        schema)
    } finally in.close()
  }

  private def fmtAscii(dt: DataType, v: Any): String = v match {
    case f: Float => if (f == f.longValue.toFloat) f.longValue.toString else f.toString
    case d: Double => if (d == d.longValue.toDouble) d.longValue.toString else d.toString
    case other => other.toString
  }

  /** Write a DataFrame of numeric columns as a PLY vertex element.
    * Streams `toLocalIterator`, so driver memory stays constant; the
    * row count comes from a cheap `count()` first (PLY headers are
    * count-prefixed — same constraint the reference works under). */
  def write(df: DataFrame, path: String, format: String = "binary_little_endian"): Unit = {
    require(Seq("ascii", "binary_little_endian", "binary_big_endian").contains(format))
    val n = df.count()
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      val fields = df.schema.fields
      val header = new StringBuilder
      header ++= "ply\n"
      header ++= s"format $format 1.0\n"
      header ++= s"element vertex $n\n"
      fields.foreach {
        case StructField(name, ArrayType(et, _), _, _) =>
          // uchar counts: PLY's conventional list count type (<=255 items)
          header ++= s"property list uchar ${plyTypeOf(et)} $name\n"
        case f =>
          header ++= s"property ${plyTypeOf(f.dataType)} ${f.name}\n"
      }
      header ++= "end_header\n"
      out.write(header.toString.getBytes(StandardCharsets.US_ASCII))
      val order =
        if (format == "binary_big_endian") ByteOrder.BIG_ENDIAN
        else ByteOrder.LITTLE_ENDIAN
      val it = df.toLocalIterator()
      def scalarBytes(dt: DataType): Int = dt match {
        case ByteType => 1
        case ShortType => 2
        case IntegerType | LongType | FloatType => 4
        case DoubleType => 8
        case other => throw new IllegalArgumentException(other.toString)
      }
      def putScalar(bb: ByteBuffer, dt: DataType, v: Any): Unit = dt match {
        case ByteType => bb.put(v.asInstanceOf[Byte])
        case ShortType => bb.putShort(v.asInstanceOf[Short])
        case IntegerType => bb.putInt(v.asInstanceOf[Int])
        case LongType => // clamp (not wrap) to int32 — PLY has no int64
          val l = v.asInstanceOf[Long]
          bb.putInt(math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, l)).toInt)
        case FloatType => bb.putFloat(v.asInstanceOf[Float])
        case DoubleType => bb.putDouble(v.asInstanceOf[Double])
        case _ => throw new IllegalStateException
      }
      if (format == "ascii") {
        while (it.hasNext) {
          val r = it.next()
          val line = fields.indices.map { i =>
            fields(i).dataType match {
              case ArrayType(et, _) =>
                val vs = r.getSeq[Any](i)
                require(vs.size <= 255, s"list longer than uchar count: ${vs.size}")
                (vs.size +: vs.map(fmtAscii(et, _))).mkString(" ")
              case dt => fmtAscii(dt, r.get(i))
            }
          }.mkString("", " ", "\n")
          out.write(line.getBytes(StandardCharsets.US_ASCII))
        }
      } else {
        while (it.hasNext) {
          val r = it.next()
          val rowBytes = fields.indices.map { i =>
            fields(i).dataType match {
              case ArrayType(et, _) => 1 + r.getSeq[Any](i).size * scalarBytes(et)
              case dt => scalarBytes(dt)
            }
          }.sum
          val bb = ByteBuffer.allocate(rowBytes).order(order)
          fields.indices.foreach { i =>
            fields(i).dataType match {
              case ArrayType(et, _) =>
                val vs = r.getSeq[Any](i)
                require(vs.size <= 255, s"list longer than uchar count: ${vs.size}")
                bb.put(vs.size.toByte)
                vs.foreach(putScalar(bb, et, _))
              case dt => putScalar(bb, dt, r.get(i))
            }
          }
          out.write(bb.array(), 0, rowBytes)
        }
      }
    } finally out.close()
  }
}

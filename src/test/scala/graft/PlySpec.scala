package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pc.PcSchema
import graft.sources.Ply

class PlySpec extends SparkSpec {

  private def cloud() = {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("x", FloatType, nullable = false),
      StructField("y", FloatType, nullable = false),
      StructField("z", FloatType, nullable = false),
      StructField("intensity", IntegerType, nullable = false),
      StructField("classification", ShortType, nullable = false)))
    val rows = (0 until 1000).map { k =>
      Row(k * 0.5f, (k % 37) * 1.5f, (k % 11) * -2.0f, k % 65536, (k % 32).toShort)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def roundTrip(format: String): Unit = {
    val dir = tempDir("ply")
    val path = s"$dir/cloud.ply"
    val df = cloud()
    Ply.write(df, path, format)
    val back = Ply.read(spark, path)
    assert(back.count() == 1000)
    assert(back.schema.fieldNames.toSeq ==
      Seq("x", "y", "z", "intensity", "classification"))
    // x/y/z get PC metadata on read (reference attaches the same)
    assert(PcSchema.dimensions(back.schema).map(_.name) == Seq("x", "y", "z"))
    val a = df.orderBy("x", "y", "z").collect()
    val b = back.orderBy("x", "y", "z").collect()
    assert(a.zip(b).forall { case (r1, r2) => r1 == r2 }, s"$format round-trip differs")
  }

  test("PLY binary_little_endian round-trip")(roundTrip("binary_little_endian"))
  test("PLY binary_big_endian round-trip")(roundTrip("binary_big_endian"))
  test("PLY ascii round-trip")(roundTrip("ascii"))

  test("PLY list properties: faces round-trip as array columns, both encodings") {
    val dir = tempDir("ply_list")
    val path = s"$dir/mesh.ply"
    val text =
      """ply
        |format ascii 1.0
        |element vertex 4
        |property float x
        |property float y
        |property float z
        |element face 3
        |property list uchar int vertex_indices
        |property float quality
        |end_header
        |0 0 0
        |1 0 0
        |1 1 0
        |0 1 0
        |3 0 1 2 0.5
        |3 0 2 3 0.25
        |4 0 1 2 3 1
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(path), text.getBytes)
    // vertex read skips the trailing face element (with lists) cleanly
    assert(Ply.read(spark, path).count() == 4)
    val faces = Ply.readElement(spark, path, "face").orderBy("quality").collect()
    assert(faces.length == 3)
    assert(faces(2).getSeq[Int](0) == Seq(0, 1, 2, 3)) // quality 1.0 quad
    assert(faces(0).getSeq[Int](0) == Seq(0, 2, 3))
    // round-trip through the binary writer and back
    val out = s"$dir/mesh_bin.ply"
    Ply.write(Ply.readElement(spark, path, "face"), out)
    // writer emits element name `vertex`; read it back as such
    val back = Ply.read(spark, out).orderBy("quality").collect()
    assert(back.length == 3)
    assert(back(2).getSeq[Int](0) == Seq(0, 1, 2, 3))
    assert(back.map(_.getFloat(1)).toSeq == Seq(0.25f, 0.5f, 1.0f))
  }

  test("PLY reader skips non-vertex elements (scalar + list) before vertex") {
    val dir = tempDir("ply")
    val path = s"$dir/mixed.ply"
    val text =
      """ply
        |format ascii 1.0
        |comment synthetic
        |element dummy 2
        |property int a
        |property list uchar int ids
        |element vertex 3
        |property float x
        |property float y
        |property float z
        |end_header
        |7 2 10 11
        |8 0
        |0 0 0
        |1 2 3
        |4 5 6
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(path), text.getBytes)
    val df = Ply.read(spark, path)
    assert(df.count() == 3)
    assert(df.agg(sum("x")).head().getDouble(0) == 5.0)
  }

  test("PLY reader stops at the target element: absent trailing data is fine") {
    val dir = tempDir("ply")
    val path = s"$dir/truncated.ply"
    // a face element is DECLARED after vertex but its data is missing —
    // a reader that parse-and-discards trailing elements throws EOF here;
    // the lazy skip must succeed without ever touching them
    val text =
      """ply
        |format ascii 1.0
        |element vertex 2
        |property float x
        |property float y
        |property float z
        |element face 5
        |property list uchar int vertex_indices
        |end_header
        |0 0 0
        |1 2 3
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(path), text.getBytes)
    val df = Ply.read(spark, path)
    assert(df.count() == 2)
    assert(df.agg(sum("y")).head().getDouble(0) == 2.0)
  }
}

package graft.lakebench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.pc.{Layout, Points}
import graft.sources.las.{LasConvert, LasFormat}
import graft.sources.las.LasFormat.LasPoint
import graft.sources.las.laz.LazFormat

/** pc_ingest: the paper's write path. Set-up writes seeded LAS and LAZ
  * tiles with the program's own writers; each timed operation converts
  * one tile to plain, grid8 or quadtree Parquet with importance, or
  * collects the footer statistics of a converted tile. Every output's row
  * count, pid sum and quantized-coordinate sums are checked against the
  * input's. */
object PcIngest {
  val Tiles = 4
  val TilePoints = 50000
  val Formats: Seq[String] = Seq("las", "laz")
  val Layouts: Seq[String] = Seq("plain", "grid8", "quadtree")
  val Scale = 0.001

  /** Order-free content checksum of a tile: count, pid sum, and sums of the
    * coordinates as stored (integer multiples of the LAS scale). */
  final case class Checksum(n: Long, pid: Long, x: Long, y: Long, z: Long)

  private def q(v: Double): Long = Math.round(v / Scale).toInt.toLong

  def tile(seed: Long, t: Int): (Seq[LasPoint], Checksum) = {
    val cloud = Cloud(seed * 31 + t, TilePoints)
    val (ox, oy) = (Cloud.Extent * (t % 2), Cloud.Extent * (t / 2))
    var (sp, sx, sy, sz) = (0L, 0L, 0L, 0L)
    val pts = (0 until TilePoints).map { id =>
      val (x0, y0, z, _) = cloud.point(id)
      val (x, y) = (x0 + ox, y0 + oy)
      val pid = t.toLong * TilePoints + id
      val u = Cloud.unit(seed, pid, 7)
      val returns = 1 + (u * 3).toInt
      sp += pid; sx += q(x); sy += q(y); sz += q(z)
      LasPoint(x, y, z, intensity = (u * 65535).toInt, returnNumber = 1 + (pid % returns).toInt,
        numberOfReturns = returns, classification = 1 + (pid % 6).toInt,
        pointSourceId = t, gpsTime = pid.toDouble)
    }
    (pts, Checksum(TilePoints, sp, sx, sy, sz))
  }

  def run(ctx: Ctx, seconds: Double, tour: Boolean): Phase = {
    val spark = ctx.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val root = s"${ctx.work}/pc_ingest"
    val tileCount = if (tour) 1 else Tiles
    val tiles = (0 until tileCount).map(t => tile(ctx.seed, t))

    def input(f: String, t: Int) = s"$root/in/$f/t$t.$f"
    def output(f: String, l: String, t: Int) = s"$root/out/$f/$l/t$t"
    // untimed warm-up writes of a small tile, so that build_s measures the
    // writers and not the JVM warming up under them
    val (_, warmWriteS) = Stats.timed(if (!tour) {
      val small = tiles.head._1.take(2000)
      LasFormat.write(conf, s"$root/warm/t.las", small)
      LazFormat.write(conf, s"$root/warm/t.laz", small)
    })
    val (_, buildS) = Stats.timed(tiles.zipWithIndex.foreach { case ((pts, _), t) =>
      ctx.trace.span("las.write")(LasFormat.write(conf, input("las", t), pts))
      ctx.trace.span("laz.write")(LazFormat.write(conf, input("laz", t), pts))
    })
    val expected = tiles.map(_._2)

    def convert(f: String, l: String, t: Int): Unit = {
      val (in, out) = (input(f, t), output(f, l, t))
      l match {
        case "plain" => LasConvert.toParquet(spark, in, out, ctx.seed, Layout.adaptiveBatchSize(TilePoints))
        case "grid8" => LasConvert.toGridLayout(spark, in, out, 8, ctx.seed, Layout.AdaptiveBatch)
        case "quadtree" => Layout.writeQuadtree(
          Points.withImportance(LasConvert.read(spark, in), ctx.seed), out, Layout.AdaptiveBatch)
      }
    }
    /** One operation converts a tile and collects the footer statistics of
      * the result; the footers must account for every input point. */
    def ops(tileSet: Seq[Int]) = (for (t <- tileSet; f <- Formats; l <- Layouts) yield
      Op(s"$f.$l.t$t", s"$f.$l", () => {
        ctx.trace.span(s"ingest.$f.$l")(convert(f, l, t))
        ctx.trace.span("stats.footer")(Layout.rowGroupStats(spark, output(f, l, t), Seq("x", "y", "i")))
      }, {
        case s: Seq[_] => s.map(_.asInstanceOf[Layout.RowGroupStat].rows).sum == TilePoints
        case _ => false
      })).toIndexedSeq

    /** Content checks of converted tiles, in one job: wrong outputs. */
    def verify(outs: Seq[(String, String, Int)]): Seq[String] = {
      val got = spark.read.parquet(outs.map { case (f, l, t) => output(f, l, t) }: _*)
        .select(regexp_extract(input_file_name(), "/out/(la[sz]/[a-z0-9]+/t[0-9]+)/", 1).as("o"),
          col("gps_time").cast("long").as("pid"),
          round(col("x") / Scale).cast("long").as("x"), round(col("y") / Scale).cast("long").as("y"),
          round(col("z") / Scale).cast("long").as("z"))
        .groupBy("o").agg(count(lit(1)), sum("pid"), sum("x"), sum("y"), sum("z")).collect()
        .map(r => r.getString(0) -> Checksum(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      outs.collect { case (f, l, t) if !got.get(s"$f/$l/t$t").contains(expected(t)) =>
        s"$f/$l/t$t: ${got.get(s"$f/$l/t$t")} != ${expected(t)}" }
    }

    val (warmLoop, warmS) = Stats.timed(Loop.run(if (tour) Vector.empty else ops(Seq(0)), 0, 0, Trace.off, maxPasses = 1))
    val warmOuts = if (tour) Nil else for (f <- Formats; l <- Layouts) yield (f, l, 0)
    val warmWrong = if (tour) Nil else verify(warmOuts)
    val loop = if (tour) Loop.run(ops(Seq(0)), 0, 0, ctx.trace, maxPasses = 1)
      else Loop.run(ops(0 until Tiles), seconds, Loop.MinOps, ctx.trace, ctx.runtime)
    val finalOuts = for (t <- 0 until tileCount; f <- Formats; l <- Layouts) yield (f, l, t)
    val finalWrong = verify(finalOuts)

    def bytes(dir: String): Double = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(f => if (f.isDirectory) bytes(f.getPath) else if (f.getName.endsWith(".parquet") || f.getName.endsWith(".las") ||
        f.getName.endsWith(".laz")) f.length.toDouble else 0.0).sum
    val lazBytes = bytes(s"$root/in/laz")
    val e2e = Map("stored_bytes_ratio" -> bytes(s"$root/out/laz") / Layouts.size / lazBytes)

    val layer = mutable.LinkedHashMap[String, Double]()
    if (ctx.trace.on) {
      for (f <- Formats) {
        val dir = s"$root/in/$f"
        val decode = (0 until 3).map(_ => Stats.timed(ctx.trace.span(s"$f.decode")(
          LasConvert.read(spark, dir).agg(count(lit(1)), sum("x"), sum("y"), sum("z"), sum("gps_time")).collect()))._2)
        layer(s"$f.decode_s") = Stats.median(decode)
        layer(s"$f.points_per_s") = tileCount * TilePoints / Stats.median(decode)
        layer(s"$f.bytes_read") = bytes(dir)
      }
      layer("stats.footer_s") = ctx.trace.total("stats.footer") / loop.passS.size
      layer("ingest.points_per_s") = tileCount * TilePoints * Formats.size * Layouts.size * loop.passS.size /
        Formats.flatMap(f => Layouts.map(l => ctx.trace.total(s"ingest.$f.$l"))).sum
    }
    val wrong = warmWrong ++ finalWrong
    Phase(buildS, warmWriteS + warmS, loop.copy(
      attempted = loop.attempted + warmLoop.attempted + warmOuts.size + finalOuts.size,
      failed = loop.failed + warmLoop.failed + wrong.size,
      errors = warmLoop.errors ++ loop.errors ++ wrong), e2e, layer.toMap,
      f"${expected.map(c => Cloud.mix(c.hashCode.toLong)).sum}%016x")
  }
}

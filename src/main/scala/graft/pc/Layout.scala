package graft.pc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Write-time data organization: the reference's grid / quadtree
  * partitioning re-designed as a Spark shuffle.
  *
  * The reference hand-rolls an out-of-core windowed repartition (filter
  * per window, split rows into cells, border-cell caches, stream to one
  * Parquet sink so each cell ~= one row group —
  * pc-cli/src/partition.rs:249-374). On Spark the entire dance is
  * `repartitionByRange(cell) + sortWithinPartitions(cell) + sized write`:
  * the shuffle IS the out-of-core machinery, and it scales to any number
  * of executors instead of one window at a time.
  *
  * The payoff (and the paper's thesis) is that rows clustered by
  * (x, y, i) cell give tight Parquet row-group min/max statistics, so
  * range/circle/sampling/LoD queries prune row groups for free at read
  * time.
  */
object Layout {
  /** Reference default batch / row-group size
    * (pc-io/src/config.rs:3,30). */
  val BatchSize: Long = 524288L

  /** Rows per layout file for a table of `count` rows: `count/256`
    * clamped to [8192, [[BatchSize]]].
    *
    * A FIXED small per-file row count is a scale trap: file count then
    * grows linearly with the data, and a pruned scan's wall time becomes
    * dominated by per-file costs (driver listing, footer reads, task
    * scheduling) instead of rows read — measured at 100x sf0.1, the
    * 8192-row layouts (7,330 files) made every layout-backed pc query
    * ~10x SLOWER than the plain full scan it was built to beat. The
    * divisor keeps ~256 files as the table grows (enough parallelism for
    * local[32] and enough cells for pruning), the floor keeps tiny SFs
    * from degenerating below the reference's test granularity, and past
    * ~134M rows the [[BatchSize]] cap (the reference's cluster-scale
    * default) takes over so file count resumes growing linearly — at
    * 100 TB you want more 512Ki-row files, not bigger ones. */
  def adaptiveBatchSize(count: Long): Long =
    math.min(BatchSize, math.max(8192L, count / 256L))

  /** Sentinel `batchSize` for the layout writers: derive
    * [[adaptiveBatchSize]] from the count their bounds pass already
    * computes — no extra aggregation job for the caller. */
  val AdaptiveBatch: Long = -1L

  private def resolveBatch(batchSize: Long, count: Long): Long =
    if (batchSize == AdaptiveBatch) adaptiveBatchSize(count) else batchSize

  /** Geometry of a grid(sigma) layout: xy cell edge + importance splits
    * (reference: pc-cli/src/partition.rs:164-198). Windows of the
    * reference are `floor(8/sqrt(sigma))` cells per axis; because windows
    * are aligned to multiples of the window edge, the global fine grid
    * index `floor(coord / cellEdge)` assigns the identical cell. */
  final case class GridGeometry(cellEdge: Double, sigma: Int) {
    val cellNames: Seq[String] = Seq("cell_x", "cell_y", "cell_i")
    def cellCols(df: DataFrame): Seq[Column] = Seq(
      floor(col("x") / cellEdge).cast(LongType).as("cell_x"),
      floor(col("y") / cellEdge).cast(LongType).as("cell_y"),
      least(floor(col("i") * sigma), lit(sigma - 1)).cast(LongType).as("cell_i"))
  }

  def gridGeometry(bounds: Aabb, count: Long, sigma: Int,
      batchSize: Long = BatchSize): GridGeometry = {
    // single source of truth shared with Aabb.gridPartitionCells — the
    // enumerated cells and this cell-id expression must agree exactly
    val (size, acc, splits) = Aabb.gridDerivation(bounds, count, sigma, batchSize)
    // window edge = acc*size subdivided into `splits` slices; keep the
    // exact reference arithmetic for acc that doesn't divide evenly
    GridGeometry((acc * size) / splits, sigma)
  }

  /** Geometry of a quadtree LoD layout: the square box + depth
    * (reference: pc-cli/src/partition.rs:199-237). Points are assigned
    * level-by-importance, then a 2^level x 2^level xy cell. */
  final case class QuadtreeGeometry(box: Aabb, depth: Int) {
    val cellNames: Seq[String] = Seq("cell_l", "cell_qx", "cell_qy")
    /** Cumulative importance thresholds: level l starts at seen_l/num. */
    val num: Long = (0 to depth).map(l => math.pow(4.0, l).toLong).sum
    val starts: Seq[Double] = // starts(l) = first importance of level l
      (0 to depth).scanLeft(0L)((acc, l) => acc + math.pow(4.0, l).toLong)
        .dropRight(1).map(_.toDouble / num)

    def levelCol: Column =
      (1 to depth).foldLeft(lit(0L)) { (acc, l) =>
        when(col("i") >= starts(l), lit(l.toLong)).otherwise(acc)
      }

    def cellCols(df: DataFrame): Seq[Column] = {
      val lvl = levelCol.as("cell_l")
      val scale = (1 to depth).foldLeft(lit(1.0)) { (acc, l) =>
        when(col("i") >= starts(l), lit(math.pow(2.0, l))).otherwise(acc)
      }
      val side = box.upper(0) - box.lower(0)
      def axis(c: String, lo: Double, name: String) =
        least(floor((col(c) - lo) / side * scale),
          scale - 1).cast(LongType).as(name)
      Seq(lvl, axis("x", box.lower(0), "cell_qx"), axis("y", box.lower(1), "cell_qy"))
    }
  }

  def quadtreeGeometry(bounds: Aabb, count: Long,
      batchSize: Long = BatchSize): QuadtreeGeometry = {
    // closed-form (no cell enumeration on the driver) + shared with
    // Aabb.quadtreePartitionCells so box/depth can never drift
    val (box, depth) = Aabb.quadtreeDerivation(bounds, count, batchSize)
    QuadtreeGeometry(box, depth)
  }

  /** Z-order (Morton) clustering geometry: an alternative to grid(σ)
    * that needs no per-dataset cell-size derivation — quantize (x, y)
    * onto a 2^bits × 2^bits grid over the data bounds and interleave the
    * bits into ONE 2·bits-bit sort key. Points close in (x, y) are close
    * on the curve, so `repartitionByRange(zkey) + sort` produces row
    * groups with tight (x, y) min/max stats — the same pruning payoff as
    * the grid layout, but from a single total order that is robust to
    * any aspect ratio or density skew (dense regions simply occupy more
    * key range; no fat cells, no empty cells). The reference has no
    * analogue (its clustering is the σ-grid); this is the standard
    * lakehouse Z-ORDER BY re-expressed as a range shuffle. The
    * interleave is pure shift/and/or column arithmetic — codegen'd, no
    * UDF, so the write-side scan stays whole-stage. */
  /** Spread the low 32 bits of `c` into the even bit positions of a
    * long (the classic mask-doubling Morton spread). */
  private def mortonSpread(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
    val s1 = step(c, 16, 0x0000FFFF0000FFFFL)
    val s2 = step(s1, 8, 0x00FF00FF00FF00FFL)
    val s3 = step(s2, 4, 0x0F0F0F0F0F0F0F0FL)
    val s4 = step(s3, 2, 0x3333333333333333L)
    step(s4, 1, 0x5555555555555555L)
  }

  private def mortonQuantize(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val extent = hi - lo
    if (extent == 0.0) lit(0L)
    else // clamp both ends: fp round-up at the max edge, and callers
      // may pass rows slightly outside the derived bounds
      greatest(lit(0L), least(
        floor((c - lo) / extent * (1L << bits)).cast(LongType),
        lit((1L << bits) - 1L)))
  }

  /** Generic 2-column Morton key over given bounds — shared by the
    * point-cloud Z-order layout and the lake's OPTIMIZE clustering.
    * Pure shift/and/or column arithmetic, codegen'd, no UDF. */
  def mortonKey(cx: Column, cy: Column, loX: Double, hiX: Double,
      loY: Double, hiY: Double, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zorder bits must be in [1,31], got $bits")
    mortonSpread(mortonQuantize(cx, loX, hiX, bits))
      .bitwiseOR(shiftleft(mortonSpread(mortonQuantize(cy, loY, hiY, bits)), 1))
  }

  final case class ZorderGeometry(bounds: Aabb, bits: Int) {
    require(bits >= 1 && bits <= 31, s"zorder bits must be in [1,31], got $bits")

    /** The Morton key expression over the `x`/`y` columns. */
    def zCol: Column = mortonKey(col("x"), col("y"),
      bounds.lower(0), bounds.upper(0), bounds.lower(1), bounds.upper(1), bits)
  }

  /** Z-order layout write: one bounds pass, then the range shuffle on
    * the Morton key. Unlike [[writeGrid]] there is no driver-side cell
    * enumeration at all — the only driver state is the 4-double bounds. */
  def writeZorder(df: DataFrame, path: String, bits: Int = 16,
      batchSize: Long = BatchSize): ZorderGeometry = {
    val (bounds, count) = boundsAndCount(df)
    val geo = ZorderGeometry(bounds, bits)
    writeClustered(df, Seq(geo.zCol.as("zkey")), Seq("zkey"), path, count,
      resolveBatch(batchSize, count))
    geo
  }

  /** Single pass over the data for bounds + count (the reference runs one
    * query per statistic — pc-cli/src/partition.rs:175,201). */
  def boundsAndCount(df: DataFrame): (Aabb, Long) = {
    val row = df.agg(
      min("x").as("x0"), max("x").as("x1"),
      min("y").as("y0"), max("y").as("y1"),
      count(lit(1)).as("n")).head()
    require(!row.isNullAt(0),
      "empty point cloud: layout writers need at least one row")
    (Aabb.xy(row.getDouble(0), row.getDouble(2), row.getDouble(1), row.getDouble(3)),
      row.getLong(4))
  }

  private def writeClustered(
      df: DataFrame, cellCols: Seq[Column], names: Seq[String],
      path: String, count: Long, batchSize: Long): Unit = {
    val numParts = math.max(1L, count / batchSize).toInt
    df.select(col("*") +: cellCols: _*)
      // range-partition on the cell id => cells are contiguous and whole
      // within output files; sort inside each partition so every cell's
      // rows are adjacent => one row group covers few cells => tight stats
      .repartitionByRange(numParts, names.map(col): _*)
      .sortWithinPartitions(names.map(col): _*)
      .drop(names: _*)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", batchSize)
      // row groups of ~BatchSize rows: x,y,z,i,pid ~ 40B/row => 16-32MiB
      .option("parquet.block.size", (32L * 1024 * 1024).toString)
      .parquet(path)
  }

  /** D5+D6: grid(sigma) layout. `batchSize` is the target rows per cell /
    * row group — the reference's 512Ki default suits cluster-scale data;
    * tests shrink it so small inputs still produce a multi-cell layout. */
  def writeGrid(df: DataFrame, path: String, sigma: Int,
      batchSize: Long = BatchSize): GridGeometry = {
    val (bounds, count) = boundsAndCount(df)
    val bs = resolveBatch(batchSize, count)
    val geo = gridGeometry(bounds, count, sigma, bs)
    writeClustered(df, geo.cellCols(df), geo.cellNames, path, count, bs)
    geo
  }

  /** D4+D6: quadtree LoD layout. */
  def writeQuadtree(df: DataFrame, path: String,
      batchSize: Long = BatchSize): QuadtreeGeometry = {
    val (bounds, count) = boundsAndCount(df)
    val bs = resolveBatch(batchSize, count)
    val geo = quadtreeGeometry(bounds, count, bs)
    writeClustered(df, geo.cellCols(df), geo.cellNames, path, count, bs)
    geo
  }

  /** S8: compaction — re-write a (possibly many-file) clustered dataset
    * into row-group-sized files, preserving the cell clustering (the
    * reference's low-level parquet merge, pc-cli/src/merge.rs:46-84,
    * re-expressed as a range shuffle on the sort key). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      clusterCols: Seq[String], count: Long,
      batchSize: Long = BatchSize,
      compression: String = "zstd"): Unit = {
    val df = spark.read.parquet(inPath)
    val numParts = math.max(1L, count / batchSize).toInt
    df.repartitionByRange(numParts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", batchSize)
      .option("compression", compression)
      .option("parquet.block.size", (32L * 1024 * 1024).toString)
      .parquet(outPath)
  }

  /** §2.9 misc: affine normalize — translate/scale the location dims into
    * the unit box [0,1]^n (reference: pc-io/src/ply.rs:403-457). One
    * bounds aggregate, then a pure projection. */
  def normalize(df: DataFrame, dims: Seq[String] = Seq("x", "y", "z")): DataFrame = {
    val b = Points.dataBounds(df, dims)
    val cols = df.columns.map { c =>
      val d = dims.indexOf(c)
      if (d < 0) col(c)
      else {
        val extent = b.upper(d) - b.lower(d)
        if (extent == 0.0) lit(0.0).as(c)
        else ((col(c) - b.lower(d)) / extent).as(c)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** I3: per-row-group min/max statistics straight from Parquet footers
    * (reference extracts the same from footer metadata —
    * pc-io/src/helpers.rs:35-125). Driver-side; used to *verify* layout
    * quality and to prove pruning; on the query path Spark's reader prunes
    * row groups natively from the same stats, and whole files are skipped
    * by [[graft.FooterStatsFileIndex]] through the same [[readFooter]]. */
  final case class RowGroupStat(
      file: String, ordinal: Int, rows: Long,
      mins: Map[String, Double], maxs: Map[String, Double])

  def rowGroupStats(spark: SparkSession, path: String, dims: Seq[String]): Seq[RowGroupStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        readFooter(conf, f).zipWithIndex.map { case (rg, idx) =>
          def side(end: ((Number, Number)) => Number): Map[String, Double] =
            dims.flatMap(d => rg.ranges.get(d).map(r => d -> end(r).doubleValue)).toMap
          RowGroupStat(f.getPath.getName, idx, rg.rows, side(_._1), side(_._2))
        }
      }
  }

  /** One row group of a Parquet footer: its row count and the raw
    * (min, max) of every top-level numeric column (FLOAT, DOUBLE, and
    * INT32/INT64 unannotated or signed-integer annotated) whose chunk has
    * defined bounds. A chunk without them is absent: all nulls, or a
    * float/double chunk holding a NaN (parquet-mr orders NaN last and
    * drops such bounds on read). Decimal, date, time, timestamp and
    * unsigned columns are absent too: their raw values are not the values
    * Spark compares. */
  private[graft] final case class FooterRowGroup(
      rows: Long, ranges: Map[String, (Number, Number)])

  /** Footers parsed by [[readFooter]] since JVM start. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong()

  /** Plain reader options, built once. Options derived from a Hadoop
    * `Configuration` (the default of `ParquetFileReader.open`) cost ~11 ms
    * per open; the footer read itself takes ~0.25 ms (8-file
    * micro-benchmark on a 4-core x86 box). No filter is set, so every row
    * group's metadata is returned. */
  private val footerOptions = org.apache.parquet.ParquetReadOptions.builder().build()

  /** The one footer parser: [[rowGroupStats]] and the artifact reader's
    * file skipping ([[graft.FooterStatsFileIndex]]) both go through it. */
  private[graft] def readFooter(conf: Configuration, file: FileStatus): Seq[FooterRowGroup] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.Type.Repetition
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), footerOptions)
    try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
      FooterRowGroup(b.getRowCount, b.getColumns.asScala.flatMap { c =>
        val t = c.getPrimitiveType
        val signed = t.getLogicalTypeAnnotation match {
          case null => true
          case i: IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        }
        val s = c.getStatistics
        val numeric = t.getPrimitiveTypeName match {
          case INT32 | INT64 | FLOAT | DOUBLE => true
          case _ => false
        }
        if (c.getPath.size != 1 || t.getRepetition == Repetition.REPEATED ||
            !numeric || !signed || s == null || !s.hasNonNullValue) None
        else Some(c.getPath.toArray.head ->
          (s.genericGetMin.asInstanceOf[Number], s.genericGetMax.asInstanceOf[Number]))
      }.toMap)
    } finally reader.close()
  }

  /** Row groups whose stats intersect a query box — the driver-side
    * pruning the paper compares against native row-group pruning. Linear
    * reference implementation; [[RowGroupIndex]] is the indexed twin for
    * large row-group counts (the reference bulk-loads an rstar R-tree
    * over the same boxes — pc-cli/examples/viz.rs:104-127). */
  def intersectingRowGroups(stats: Seq[RowGroupStat], box: Aabb): Seq[RowGroupStat] =
    stats.filter { rg =>
      box.names.indices.forall { d =>
        val n = box.names(d)
        (rg.mins.get(n), rg.maxs.get(n)) match {
          case (Some(lo), Some(hi)) => lo < box.upper(d) && box.lower(d) <= hi
          case _ => true // no stats => cannot prune
        }
      }
    }

  /** Bulk-loaded R-tree over row-group bounding boxes (I3's index
    * structure): kd-packed — entries sorted by box center round-robin per
    * dimension, median-split into a binary hierarchy of MBRs. Probes
    * descend only subtrees whose MBR intersects the query, so a probe
    * touches O(log n + k) nodes instead of scanning all n row groups —
    * the difference between 10^5 and 10^7 row groups at 100 TB. A row
    * group with no stats on an indexed dim gets an infinite extent on it
    * (never pruned), matching [[intersectingRowGroups]]'s contract. */
  final class RowGroupIndex private (
      dims: Seq[String], root: Option[RowGroupIndex.Node]) {
    import RowGroupIndex._

    /** Same intersection semantics as [[intersectingRowGroups]]: stats
      * min strictly below the box's upper (half-open), box lower <= max.
      * `box.names` must be a subset of the indexed dims. */
    def query(box: Aabb): Seq[RowGroupStat] = queryCounting(box)._1

    /** [[query]] plus the number of tree nodes visited — the pruning
      * measure the spec asserts on (deterministic, unlike wall-clock;
      * returned rather than stored so concurrent probes can't race). */
    def queryCounting(box: Aabb): (Seq[RowGroupStat], Int) = {
      val dimIdx = box.names.map { n =>
        val i = dims.indexOf(n)
        require(i >= 0, s"dimension `$n` not indexed (have $dims)")
        i
      }.toArray
      val out = Seq.newBuilder[RowGroupStat]
      var visited = 0
      def hits(mins: Array[Double], maxs: Array[Double]): Boolean = {
        var d = 0
        while (d < dimIdx.length) {
          val i = dimIdx(d)
          if (!(mins(i) < box.upper(d) && box.lower(d) <= maxs(i))) return false
          d += 1
        }
        true
      }
      def walk(n: Node): Unit = {
        visited += 1
        n match {
          case Leaf(mins, maxs, stat) => if (hits(mins, maxs)) out += stat
          case Inner(mins, maxs, l, r) =>
            if (hits(mins, maxs)) { walk(l); walk(r) }
        }
      }
      root.foreach(walk)
      (out.result(), visited)
    }

    def size: Int = {
      def count(n: Node): Int = n match {
        case _: Leaf => 1
        case Inner(_, _, l, r) => 1 + count(l) + count(r)
      }
      root.fold(0)(count)
    }
  }

  object RowGroupIndex {
    private[Layout] sealed trait Node
    private[Layout] final case class Leaf(
        mins: Array[Double], maxs: Array[Double], stat: RowGroupStat) extends Node
    private[Layout] final case class Inner(
        mins: Array[Double], maxs: Array[Double], left: Node, right: Node) extends Node

    /** Empty stats build an index whose every probe returns Nil — same
      * graceful behavior as the linear scan over an empty stats list. */
    def build(stats: Seq[RowGroupStat], dims: Seq[String]): RowGroupIndex = {
      if (stats.isEmpty) return new RowGroupIndex(dims, None)
      val entries = stats.map { s =>
        val mins = dims.map(d => s.mins.getOrElse(d, Double.NegativeInfinity)).toArray
        val maxs = dims.map(d => s.maxs.getOrElse(d, Double.PositiveInfinity)).toArray
        Leaf(mins, maxs, s)
      }.toArray
      def mbr(l: Node, r: Node): (Array[Double], Array[Double]) = {
        def boxOf(n: Node) = n match {
          case Leaf(mi, ma, _) => (mi, ma)
          case Inner(mi, ma, _, _) => (mi, ma)
        }
        val (lmi, lma) = boxOf(l); val (rmi, rma) = boxOf(r)
        (Array.tabulate(dims.length)(i => math.min(lmi(i), rmi(i))),
          Array.tabulate(dims.length)(i => math.max(lma(i), rma(i))))
      }
      def pack(es: Array[Leaf], depth: Int): Node =
        if (es.length == 1) es(0)
        else {
          val d = depth % dims.length
          // center sort is deterministic: ties break on (file, ordinal)
          val sorted = es.sortBy(e =>
            ((e.mins(d) + e.maxs(d)) / 2, e.stat.file, e.stat.ordinal))
          val (l, r) = sorted.splitAt(sorted.length / 2)
          val (ln, rn) = (pack(l, depth + 1), pack(r, depth + 1))
          val (mi, ma) = mbr(ln, rn)
          Inner(mi, ma, ln, rn)
        }
      new RowGroupIndex(dims, Some(pack(entries, 0)))
    }
  }
}

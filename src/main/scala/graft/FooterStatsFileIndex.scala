package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeStatsPruning
import graft.pc.Layout

/** File index of an immutable Parquet artifact that skips whole files by
  * their footer min/max — Delta-style data skipping. Spark's Parquet
  * reader prunes row groups only inside files it has already opened, so
  * a clustered layout still scheduled and opened every file per query;
  * here `listFiles` drops each file whose min/max cannot satisfy the
  * pushed data filters. Listing and partition schema are the wrapped
  * index's, so partition discovery and dynamic partition pruning are
  * unchanged.
  *
  * A file's range on a column is the union of its row groups' ranges.
  * If any row group has no bounds on the column — all nulls, a NaN, a
  * non-numeric type, or a file that lacks the column — the file has no
  * range there and that column never prunes it. Predicates become
  * intervals through [[LakeStatsPruning.constraints]], the lake's own
  * extractor: strict bounds count as inclusive, and casts that round
  * (long→double) bound nothing.
  *
  * Footers are read once per index, on the first listing whose filters
  * carry a numeric bound; the artifact never changes, so they never go
  * stale. */
private[graft] final class FooterStatsFileIndex(base: FileIndex, conf: Configuration)
    extends FileIndex {

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = base.metadataOpsTimeNs

  private lazy val ranges: Map[Path, Map[String, (BigDecimal, BigDecimal)]] =
    base.listFiles(Nil, Nil).flatMap(_.files).map { f =>
      f.getPath -> FooterStatsFileIndex.fileRanges(Layout.readFooter(conf, f.fileStatus))
    }.toMap

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = base.listFiles(partitionFilters, dataFilters)
    val bounds = LakeStatsPruning.constraints(dataFilters)
      .collect { case b: LakeStatsPruning.NumBound => b }
    if (bounds.isEmpty) listed
    else listed.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        val r = ranges.getOrElse(f.getPath, Map.empty)
        LakeStatsPruning.mayMatchRanges(bounds, r.get, _ => None)
      })
    }.filter(_.files.nonEmpty)
  }
}

private[graft] object FooterStatsFileIndex {

  /** Per-column union of row-group ranges, as exact decimals (the
    * [[LakeStatsPruning]] value space); infinite bounds give no range. */
  def fileRanges(rowGroups: Seq[Layout.FooterRowGroup]): Map[String, (BigDecimal, BigDecimal)] =
    rowGroups.map { rg =>
      rg.ranges.flatMap { case (c, (lo, hi)) =>
        for (l <- exact(lo); h <- exact(hi)) yield c -> (l, h)
      }
    }.reduceOption { (a, b) =>
      a.collect { case (c, (lo, hi)) if b.contains(c) =>
        c -> (lo.min(b(c)._1), hi.max(b(c)._2))
      }
    }.getOrElse(Map.empty)

  private def exact(n: Number): Option[BigDecimal] = n match {
    case _: java.lang.Float | _: java.lang.Double =>
      val d = n.doubleValue
      if (d.isInfinite || d.isNaN) None else Some(BigDecimal(d))
    case _ => Some(BigDecimal(n.longValue))
  }
}

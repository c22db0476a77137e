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
  * A file's range on a column is the union of its row groups' bounds
  * ([[Layout.fileBounds]] over [[Layout.readFooter]]): numbers,
  * timestamps, dates and strings. If any row group has no bounds on the
  * column — all nulls, a NaN, a type without usable bounds, or a file
  * that lacks the column — the file has no range there and that column
  * never prunes it. Predicates become intervals through
  * [[LakeStatsPruning.constraints]] and are tested by
  * [[LakeStatsPruning.mayMatchRanges]], the lake's own extractor and test:
  * strict bounds count as inclusive, and casts that round (long→double)
  * bound nothing.
  *
  * Footers are read once per index, on the first listing whose filters
  * carry a bound; the artifact never changes, so they never go stale. */
private[graft] final class FooterStatsFileIndex(base: FileIndex, conf: Configuration)
    extends FileIndex {

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = base.metadataOpsTimeNs

  private lazy val bounds: Map[Path, Layout.FooterRowGroup] =
    base.listFiles(Nil, Nil).flatMap(_.files).map { f =>
      f.getPath -> Layout.fileBounds(Layout.readFooter(conf, f.fileStatus))
    }.toMap

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = base.listFiles(partitionFilters, dataFilters)
    val constraints = LakeStatsPruning.constraints(dataFilters)
    if (constraints.isEmpty) listed
    else listed.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        bounds.get(f.getPath).forall(b =>
          LakeStatsPruning.mayMatchRanges(constraints, b.nums.get, b.strs.get))
      })
    }.filter(_.files.nonEmpty)
  }
}

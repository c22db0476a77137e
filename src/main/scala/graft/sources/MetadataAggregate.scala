package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Bare aggregates answered from a source's metadata, not its rows — the
  * paper's statistics taken from index to answer, as Delta Lake answers
  * metadata-only queries from its log's per-file statistics. The one
  * matcher behind `SupportsPushDownAggregates` in the LAS source (header
  * point counts and bounds) and the lake (log row counts and ranges).
  *
  * With no pushed filter and no GROUP BY, `COUNT(*)` and non-distinct
  * `COUNT(col)` of a non-nullable column are the exact row count, and
  * `MIN`/`MAX` of a bare column its exact range. If any one function
  * cannot be answered, none is, and the source scans. */
object MetadataAggregate {

  /** @param rows  the exact row count, if the metadata holds it
    * @param range a column's exact (min, max), typed as the column
    *              ((null, null) when it holds no value); None when the
    *              metadata cannot vouch for it */
  def answer(agg: Aggregation, filtered: Boolean, schema: StructType,
      rows: Option[Long], range: String => Option[(Any, Any)]): Option[LocalScan] =
    if (filtered || agg.groupByExpressions.nonEmpty) None
    else {
      def field(e: Expression): Option[StructField] = e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          schema.find(_.name == r.fieldNames.head)
        case _ => None
      }
      def bound(e: Expression, pick: ((Any, Any)) => Any) =
        field(e).flatMap(f => range(f.name).map(r => f.dataType -> pick(r)))
      val values: Seq[Option[(DataType, Any)]] = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => rows.map(LongType -> _)
        case c: Count if !c.isDistinct && field(c.column).exists(!_.nullable) =>
          rows.map(LongType -> _)
        case m: Min => bound(m.column, _._1)
        case m: Max => bound(m.column, _._2)
        case _ => None
      }
      if (values.contains(None)) None
      else {
        val (types, row) = values.flatten.unzip
        Some(new Answer(
          StructType(types.zipWithIndex.map { case (t, i) => StructField(s"agg$i", t) }),
          new GenericInternalRow(row.toArray)))
      }
    }

  /** One row, which Spark plans as a `LocalTableScanExec`: no read task. */
  final class Answer(schema: StructType, row: InternalRow) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = Array(row)
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge, the pattern every production Spark
  * connector (Delta, Iceberg) uses: DML rewrites receive the SOURCE of
  * an INSERT/MERGE as an analyzed [[LogicalPlan]], and the only way to
  * hand that plan to DataFrame-level machinery is
  * `classic.Dataset.ofRows`, which Spark scopes `private[sql]`. The
  * artifact reader (`graft.DatasetCache.readArtifact`) uses it the same
  * way, to rebind a resolved relation over a file-skipping index. This
  * object lives in an `org.apache.spark.sql` subpackage solely to
  * re-export that one constructor; nothing else may be added here. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

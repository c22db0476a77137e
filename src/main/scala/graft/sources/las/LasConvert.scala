package graft.sources.las

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pc.{Layout, Points}

/** D8: LAS → Parquet ingest pipeline (reference: pc-cli/src/convert.rs:
  * 53-143) — read the DSv2 LAS source, append seeded importance, write
  * either plain row-group-sized Parquet or the (x,y,i)-clustered grid
  * layout. One shuffle (for the clustered variant) at any scale. */
object LasConvert {

  def read(spark: SparkSession, lasPath: String): DataFrame =
    spark.read.format("las").load(lasPath)

  /** Plain convert: LAS → Parquet + importance column. */
  def toParquet(spark: SparkSession, lasPath: String, outPath: String,
      seed: Long = 42L, rowGroupRows: Long = Layout.BatchSize): Unit =
    Points.withImportance(read(spark, lasPath), seed)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowGroupRows)
      .parquet(outPath)

  /** Convert + organize: LAS → importance → grid(σ) clustered layout. */
  def toGridLayout(spark: SparkSession, lasPath: String, outPath: String,
      sigma: Int = 8, seed: Long = 42L,
      batchSize: Long = Layout.BatchSize): Layout.GridGeometry =
    Layout.writeGrid(
      Points.withImportance(read(spark, lasPath), seed), outPath, sigma, batchSize)
}

package graft

import org.apache.spark.sql.SparkSession

/** Keys and cleanup for the path-keyed derived-artifact caches (shingle
  * index, ANN/IVF layouts, IVF codebooks). Two hygiene rules:
  *
  *  - cache keys carry an input snapshot marker (mtime + length), so a
  *    dataset REWRITTEN at the same path within one JVM re-derives its
  *    artifacts instead of serving stale ones;
  *  - derived temp layouts register for recursive deletion at JVM exit
  *    (`deleteOnExit` alone cannot remove non-empty directories).
  */
object DatasetCache {

  /** Cache key for artifacts derived from `dir/table`. For a dataset
    * DIRECTORY the marker hashes the sorted child (name, mtime, length)
    * list — a directory's own status is useless as a snapshot (length 0
    * everywhere; object stores synthesize mtime 0 for prefixes, and
    * local-FS dir mtime has coarse granularity). */
  def snapshotKey(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val marker =
      if (!st.isDirectory) s"${st.getModificationTime}:${st.getLen}"
      else {
        val kids = fs.listStatus(p)
          .map(k => s"${k.getPath.getName}:${k.getModificationTime}:${k.getLen}")
          .sorted.mkString("|")
        java.util.UUID.nameUUIDFromBytes(kids.getBytes("UTF-8")).toString
      }
    s"$dir/$table@$marker"
  }

  private val tempDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val installHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach { d =>
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(d))
      }
    }))

  /** Register a derived temp directory for exit-time cleanup. */
  def registerTempDir(path: String): String = {
    installHook
    tempDirs.add(path)
    path
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** `spark.read.parquet(path)` with the inferred schema CACHED per
    * (path, input snapshot) — r12 optimization round: schema inference
    * runs a 1-task Spark job (footer read) on EVERY `read.parquet`
    * call, so a query joining five tables paid five ~30 ms driver
    * round-trips per invocation before any real work (profiled:
    * rel_mkt_share spent its first 150 ms on five such jobs, re-paid in
    * each of the bench's three timed runs). Passing the cached schema
    * skips the job; the snapshot marker (mtime+length, the
    * [[snapshotKey]] discipline) re-infers when the dataset is
    * rewritten. Column METADATA rides in the schema, so readers that
    * tag columns (PC metadata) are unaffected. */
  def readTable(spark: SparkSession, dir: String, table: String): org.apache.spark.sql.DataFrame = {
    val path = s"$dir/$table"
    val schema = schemaCache.computeIfAbsent(
      snapshotKey(spark, dir, table),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  // per-session frames: a DataFrame is bound to the session that read it,
  // so the cache must never serve one session's frame to another (the
  // test suites cycle many sessions per JVM). NOT a WeakHashMap: a
  // Dataset strongly references its SparkSession (via QueryExecution),
  // so weak keys would never be collectable (the value-refers-to-key
  // case the WeakHashMap javadoc warns about); stopped sessions are
  // instead purged explicitly on access, bounding retention to "until
  // the next readArtifact call".
  private val artifactFrames =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]]()

  /** `spark.read.parquet(path)` for an IMMUTABLE derived artifact (a
    * temp dir written exactly once per dataset snapshot — the caller's
    * path cache already guarantees a rewritten dataset gets a FRESH
    * directory): the resolved DataFrame — schema plus file/partition
    * listing — is cached per (session, path), so repeated invocations
    * skip the per-read schema-inference job AND the partition-discovery
    * job a many-directory layout pays on every `read.parquet` call
    * (r13 profile: the 249-dir ANN bucket layout re-listed with a
    * 249-task ParallelCollectionRDD job, 0.6 s wall + 1.2 s GC, inside
    * EVERY timed `emb_lsh_topk_part` probe; the two-level IVF probes
    * each paid 4 small metadata jobs the same way). The DATA path is
    * untouched — every query still scans the parquet files; only the
    * plan-time metadata is reused, the [[readTable]] discipline
    * extended to artifact paths. The frame's file index also skips whole
    * files from their footer min/max ([[FooterStatsFileIndex]]), whose
    * footers are read once per frame. At 100 TB this is what a table format
    * with manifest metadata does for you (guide §6: avoid re-listing).
    * Callers that MUTATE a directory in place (lake tables, lifecycle
    * segments with fold/compact) must keep their own readers. */
  def readArtifact(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    artifactFrames.keySet.forEach { s =>
      if (s.sparkContext.isStopped) artifactFrames.remove(s): Unit
    }
    artifactFrames
      .computeIfAbsent(spark, _ =>
        new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]())
      .computeIfAbsent(path, _ => skippingFiles(spark.read.parquet(path)))
  }

  /** `df`'s plan with its Parquet relation rebound over a
    * [[FooterStatsFileIndex]], so filtered reads skip whole files whose
    * footer min/max cannot match, not only row groups inside opened files. */
  private def skippingFiles(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(df.sparkSession,
      df.queryExecution.analyzed.transform {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          r.copy(relation = fs.copy(location = new FooterStatsFileIndex(fs.location, conf))(
            fs.sparkSession))
      })
  }

  /** Spread a CPU-heavy map stage when the input has fewer splits than
    * the cluster has cores (small files, single-row-group parquet — a
    * 1-row-group file is always 1 task no matter how wide the cluster).
    * Identity whenever splits already cover the cores, so at real scale
    * (input splits >> cores) no shuffle is added; the guard reads only
    * plan metadata, it runs no job. Callers pass a PROJECTED frame so
    * the spread moves only the columns the stage consumes. */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of derived artifacts: every index, layout, trained
  * codebook and cached value that is a pure function of some input
  * tables is built, cached and retired here, and nowhere else.
  *
  *  - Key: an artifact is named by (tag, dataset dir, input tables). The
  *    tag carries the artifact's parameters (`hot_idx#512`,
  *    `ivf_train#k8`); the inputs are tables under the dir. A cached
  *    value belongs to the inputs' snapshot: per table, a marker of its
  *    files (name, mtime, length), so a table REWRITTEN at the same path
  *    gets a fresh artifact.
  *  - Build once: [[artifact]] returns the value for the current
  *    snapshot and builds it exactly once, however many threads ask.
  *    Callers wait on a per-entry once-holder; no map lock is held while
  *    a build runs, so a build may itself ask for other artifacts (the
  *    capped shingles read the hot keys, which read the shingle index).
  *  - Values: a build receives a fresh root path that does not exist
  *    yet. Materialized artifacts write under it, as one Parquet
  *    directory or as several subdirectories; in-memory values
  *    (codebooks, counts, Bloom bytes) ignore it. Values are paths or
  *    plain values, never DataFrames: a frame is bound to the session
  *    that read it, and [[readArtifact]] caches frames per session.
  *  - Retention: one live entry per key. When an input snapshot
  *    changes, the next call builds the replacement; once it is built,
  *    the superseded entry is retired — its frames are evicted from
  *    [[readArtifact]] in every session and its root is deleted.
  *  - Cleanup: a build that throws leaves no entry and no files behind,
  *    so the next call builds again. Every root lives under one temp
  *    directory that is deleted at JVM exit. */
object DatasetCache {

  private final case class Key(tag: String, dir: String, inputs: Seq[String])

  /** One (key, snapshot)'s value: completed once by the caller that
    * installed the entry, awaited by everyone else. */
  private final class Entry(val snapshot: Seq[String], tag: String) {
    val root: String =
      s"$artifactBase/${tag.replaceAll("[^A-Za-z0-9_.-]", "_")}-${rootSeq.incrementAndGet()}"
    val value = new CompletableFuture[Any]()
    def retire(): Unit = {
      artifactFrames.values.forEach(_.keySet.removeIf(p =>
        p == root || p.startsWith(root + "/")))
      deleteTree(new java.io.File(root))
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val rootSeq = new AtomicLong()
  private lazy val artifactBase: String =
    registerTempDir(java.nio.file.Files.createTempDirectory("graft_artifacts").toString)

  /** The value of artifact `tag` derived from `inputs` (tables under
    * `dir`) at their current snapshot, built by `build(root)` on first
    * use. See the object doc for the contract. */
  def artifact[T](spark: SparkSession, dir: String, tag: String, inputs: String*)(
      build: String => T): T = {
    val key = Key(tag, dir, inputs.toList)
    val snapshot = inputs.map(snapshotMarker(spark, dir, _)).toList
    var superseded: Option[Entry] = None
    var mine = false
    val e = entries.compute(key, (_, cur) =>
      if (cur != null && cur.snapshot == snapshot) cur
      else { superseded = Option(cur); mine = true; new Entry(snapshot, tag) })
    if (mine) {
      try {
        e.value.complete(build(e.root))
        superseded.foreach(_.retire())
      } catch { case t: Throwable =>
        deleteTree(new java.io.File(e.root))
        // put the superseded entry back (or nothing): the next call rebuilds
        superseded match {
          case Some(s) => entries.replace(key, e, s)
          case None => entries.remove(key, e)
        }
        e.value.completeExceptionally(t)
      }
    }
    try e.value.get().asInstanceOf[T]
    catch { case x: ExecutionException => throw x.getCause }
  }

  /** A materialized [[artifact]]: `write` fills the root, whose path is
    * returned. */
  def materialize(spark: SparkSession, dir: String, tag: String, inputs: String*)(
      write: String => Unit): String =
    artifact(spark, dir, tag, inputs: _*) { root => write(root); root }

  /** A materialized [[artifact]] holding one relation: `df` is written
    * as Parquet at the root once and read back through [[readArtifact]]. */
  def frame(spark: SparkSession, dir: String, tag: String, inputs: String*)(
      df: => DataFrame): DataFrame =
    readArtifact(spark, materialize(spark, dir, tag, inputs: _*)(
      df.write.mode("overwrite").parquet(_)))

  /** Snapshot marker of `dir/table`. For a dataset DIRECTORY it hashes
    * the sorted child (name, mtime, length) list — a directory's own
    * status is useless as a snapshot (length 0 everywhere; object stores
    * synthesize mtime 0 for prefixes, and local-FS dir mtime has coarse
    * granularity). */
  private def snapshotMarker(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) s"${st.getModificationTime}:${st.getLen}"
    else {
      val kids = fs.listStatus(p)
        .map(k => s"${k.getPath.getName}:${k.getModificationTime}:${k.getLen}")
        .sorted.mkString("|")
      java.util.UUID.nameUUIDFromBytes(kids.getBytes("UTF-8")).toString
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }

  private val tempDirs = ConcurrentHashMap.newKeySet[String]()
  private lazy val installHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(d => deleteTree(new java.io.File(d)))))

  /** Register a temp directory for recursive deletion at JVM exit
    * (`deleteOnExit` alone cannot remove non-empty directories). */
  def registerTempDir(path: String): String = {
    installHook
    tempDirs.add(path)
    path
  }

  /** `spark.read.parquet(path)` with the inferred schema cached as an
    * [[artifact]] of the table — schema inference runs a 1-task Spark
    * job (footer read) on EVERY `read.parquet` call, so a query joining
    * five tables paid five ~30 ms driver round-trips per invocation
    * before any real work (profiled: rel_mkt_share spent its first
    * 150 ms on five such jobs, re-paid in each of the bench's three
    * timed runs). Passing the cached schema skips the job; a rewritten
    * table re-infers. Column METADATA rides in the schema, so readers
    * that tag columns (PC metadata) are unaffected. */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table"
    val schema = artifact(spark, dir, "schema", table)(_ => spark.read.parquet(path).schema)
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
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, DataFrame]]()

  /** `spark.read.parquet(path)` for an IMMUTABLE derived artifact (an
    * [[artifact]] root or a directory under it, written exactly once per
    * input snapshot; a rewritten input gets a FRESH root, and retiring
    * the old one evicts its frames here): the resolved DataFrame —
    * schema plus file/partition listing — is cached per (session,
    * path), so repeated invocations skip the per-read schema-inference
    * job AND the partition-discovery job a many-directory layout pays on
    * every `read.parquet` call
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
  def readArtifact(spark: SparkSession, path: String): DataFrame = {
    artifactFrames.keySet.forEach { s =>
      if (s.sparkContext.isStopped) artifactFrames.remove(s): Unit
    }
    artifactFrames
      .computeIfAbsent(spark, _ => new ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(path, _ => skippingFiles(spark.read.parquet(path)))
  }

  /** `df`'s plan with its Parquet relation rebound over a
    * [[FooterStatsFileIndex]], so filtered reads skip whole files whose
    * footer min/max cannot match, not only row groups inside opened files. */
  private def skippingFiles(df: DataFrame): DataFrame = {
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
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** ONE local-session builder for every CLI main (Verify / Bench / Cli /
  * Experiment). The mains used to each carry their own copy of this
  * block, and the copies drifted (Experiment lost the UTC timezone and
  * the nanos flag) — a timezone-dependent cast or a TIMESTAMP(NANOS)
  * read would then behave differently depending on the entry point.
  * The test suites' session starts from the same [[Settings]].
  *
  * `fs.file.impl` is [[NioLocalFileSystem]]: without libhadoop, Hadoop's
  * local FileSystem starts a `chmod` process for every file, `.crc` file
  * and directory it creates, ~26 per LAS → layout convert. It is set
  * before `getOrCreate` because the first `file:` FileSystem is made while
  * the context starts, and Hadoop caches FileSystems by scheme and user,
  * not by configuration: a later setting would never be read. */
object LocalSession {
  /** Settings every library session starts with. */
  val Settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS); read as int64 nanoseconds
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)

  def apply(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(Settings)
      // the library's SQL surface (optimizer rules, SQL functions, and
      // the UPDATE rewrite — the latter needs a RESOLUTION hook, which
      // only the extensions API offers)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard local-mode tuning.
  *
  * Shuffle partitions track the core count (instead of the 200 default) so
  * local runs don't pay idle-task scheduling overhead; AQE coalesces and
  * re-plans beyond that. On a real cluster the same code runs with
  * cluster-sized `spark.sql.shuffle.partitions` — nothing below hard-codes
  * local assumptions.
  */
object GraftSession {
  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the host core count. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runtime confs any externally-created session needs before running the
    * engine: `events.parquet` carries TIMESTAMP(NANOS) (read as epoch-nano
    * LongType), and the log parser merges payload/envelope maps where the
    * envelope must win on key collision (reference semantics: header fields
    * override body fields, `alerts_consumer.go:106-109`).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // Scan-parallelism floor (optimization guide §6): split packing
    // charges every file `openCostInBytes` (default 4 MB), so any table
    // under ~4 MB scans as ONE split — and because caches inherit scan
    // partitioning, every explode/hash/cosine stage over a small cached
    // corpus then runs single-threaded (measured: q_dedup_edit_verify's
    // 3.1 s verify job ran on 2 tasks of a 32-core host). 64 KB is the
    // realistic open cost on local/HDFS-class storage; at 100 TB files
    // are ≥128 MB and the knob is inert. bytesPerCore still derives from
    // `defaultParallelism`, so split counts track SPARK_GRAFT_CPUS.
    // Parameterized for deployments where opens are expensive (object
    // stores with high per-request latency).
    spark.conf.set("spark.sql.files.openCostInBytes",
      sys.props.getOrElse("graft.scan.openCostBytes", "65536"))
    // Fork-free local-FS permission calls (see NioLocalFileSystem: stock
    // RawLocalFileSystem shells out one chmod per created file/dir when
    // libhadoop is absent). Best-effort for externally created sessions:
    // effective iff no file:// FileSystem instance is cached yet — every
    // graft entry point installs it at session build, where it always is.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
    spark
  }
}

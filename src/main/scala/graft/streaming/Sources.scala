package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** O1/O2 — source wiring with the reference's ingest envelope
  * (`run_kcl.sh`, `consumer.properties.template`, the launch yml files,
  * `main.go:54-59`).
  *
  * The reference consumes Kinesis through the KCL MultiLangDaemon with
  * DynamoDB lease checkpointing, TRIM_HORIZON/LATEST start positions, a
  * per-worker read rate limit, and 10k-record GetRecords fetches. Spark
  * mapping, by config key:
  *
  * | reference                                   | Spark                                  |
  * |---------------------------------------------|----------------------------------------|
  * | streamName (← KINESIS_STREAM_NAME)          | option streamName                      |
  * | regionName (← KINESIS_AWS_REGION)           | option region                          |
  * | applicationName / DynamoDB lease table      | option consumerName + checkpointLocation |
  * | initialPositionInStream (TRIM_HORIZON/LATEST)| option startingPosition               |
  * | READ_RATE_LIMIT env (launch yml)            | option maxFetchRate                    |
  * | maxRecords (GetRecords fetch size)          | option maxRecordsPerFetch              |
  * | idleTimeBetweenReadsInMillis                | option minFetchPeriodMs                |
  * | BatchInterval 5s (main.go:57)               | Trigger.ProcessingTime("5 seconds")    |
  * | failed-log spill file (main.go:55)          | StreamPipeline.Config.deadLetterPath   |
  *
  * The zero-egress build has no Kinesis connector jar, so the production
  * source is constructed by format name (resolved at runtime when the
  * connector is on the cluster classpath). The consumption SEMANTICS are
  * implemented and tested in-sandbox by [[KinesisLiteSource]] — a DSv2
  * micro-batch source (format `kinesis-lite`) with per-shard sequence
  * offsets, TRIM_HORIZON/LATEST, the GetRecords per-fetch cap, and
  * checkpoint-resume (KinesisLiteSpec); tests and local runs may also
  * use the plain file/memory sources below — the pipeline itself is
  * source-agnostic.
  */
object Sources {

  /** The reference's KCL operating envelope, one field per load-bearing
    * key in `consumer.properties.template` + the launch-time env
    * (`launch/kinesis-alerts-consumer-us-west-2.yml:4-10`). Defaults are
    * the template's documented KCL defaults. */
  final case class KclConfig(
      streamName: String,
      regionName: String, // "The KCL defaults to us-east-1"
      applicationName: String, // names the DynamoDB lease/checkpoint table
      initialPositionInStream: String = "LATEST",
      readRateLimit: Option[Int] = None, // READ_RATE_LIMIT env
      maxRecords: Int = 10000, // GetRecords fetch size
      idleTimeBetweenReadsInMillis: Long = 1000
  )

  /** `<PLACEHOLDER>` substitutions: the template's placeholders are filled
    * from the launch env (the launch yml env list). */
  private val placeholderEnv = Map(
    "STREAM_NAME" -> "KINESIS_STREAM_NAME",
    "APPLICATION_NAME" -> "KINESIS_APPLICATION_NAME",
    "INITIAL_POSITION" -> "KINESIS_INITIAL_POSITION",
    "REGION_NAME" -> "KINESIS_AWS_REGION"
  )

  /** Parse KCL `consumer.properties` content + launch env into [[KclConfig]]
    * — the config-parity round trip for the reference's deployment files. */
  def kclConfig(props: Map[String, String], env: Map[String, String]): KclConfig = {
    def resolve(v: String): String =
      if (v.length > 2 && v.head == '<' && v.last == '>') {
        val ph = v.substring(1, v.length - 1)
        env.getOrElse(placeholderEnv.getOrElse(ph, ph), v)
      } else v
    KclConfig(
      streamName = resolve(props("streamName")),
      regionName = resolve(props.getOrElse("regionName", "us-east-1")),
      applicationName = resolve(props("applicationName")),
      initialPositionInStream = resolve(props.getOrElse("initialPositionInStream", "LATEST")),
      readRateLimit = env.get("READ_RATE_LIMIT").map(_.trim.toInt),
      maxRecords = props.getOrElse("maxRecords", "10000").trim.toInt,
      idleTimeBetweenReadsInMillis =
        props.getOrElse("idleTimeBetweenReadsInMillis", "1000").trim.toLong
    )
  }

  /** Java-properties text → key/value map (comments/blank lines dropped),
    * for feeding [[kclConfig]] straight from a properties file's content. */
  def parseProperties(content: String): Map[String, String] = {
    val p = new java.util.Properties
    p.load(new java.io.StringReader(content))
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** Spark reader options produced from the KCL envelope (mapping table in
    * the object scaladoc). Validates what the template constrains:
    * "Valid options at TRIM_HORIZON or LATEST", and a fetch size of at
    * least one record. */
  def kinesisOptions(cfg: KclConfig): Map[String, String] = {
    require(
      Set("TRIM_HORIZON", "LATEST").contains(cfg.initialPositionInStream),
      s"initialPositionInStream must be TRIM_HORIZON or LATEST, got ${cfg.initialPositionInStream}"
    )
    require(cfg.maxRecords >= 1, s"maxRecords must be >= 1, got ${cfg.maxRecords}")
    Map(
      "streamName" -> cfg.streamName,
      "region" -> cfg.regionName,
      "consumerName" -> cfg.applicationName,
      "startingPosition" -> cfg.initialPositionInStream,
      "maxRecordsPerFetch" -> cfg.maxRecords.toString,
      "minFetchPeriodMs" -> cfg.idleTimeBetweenReadsInMillis.toString
    ) ++ cfg.readRateLimit.map(r => "maxFetchRate" -> r.toString)
  }

  /** Kinesis source from the KCL envelope (requires a Kinesis connector on
    * the cluster classpath; `format` overridable for compatible forks). */
  def kinesis(spark: SparkSession, cfg: KclConfig, format: String = "aws-kinesis"): DataFrame =
    kinesisOptions(cfg)
      .foldLeft(spark.readStream.format(format)) { case (b, (k, v)) => b.option(k, v) }
      .load()
      .selectExpr("CAST(data AS STRING) AS raw")

  /** The emulated in-sandbox source ([[KinesisLiteSource]]) driven by the
    * SAME reader options as the production reader ([[kinesisOptions]]),
    * plus `path`: `streamDir` stands in for the stream name; kinesis-lite
    * reads the position and the fetch cap and ignores the other keys.
    * Output schema adds (shard_id, sequence) alongside `raw`; the pipeline
    * consumes `raw` either way. */
  def kinesisLite(spark: SparkSession, cfg: KclConfig, streamDir: String): DataFrame =
    spark.readStream.format("kinesis-lite")
      .options(kinesisOptions(cfg) + ("path" -> streamDir))
      .load()

  /** File-drop source — the local/integration-test stand-in; rate-limited
    * ingest via maxFilesPerTrigger (READ_RATE_LIMIT analog). */
  def fileLines(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .withColumnRenamed("value", "raw")
}

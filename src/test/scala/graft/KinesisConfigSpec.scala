package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Sources

/** Config-parity round trip for the reference's deployment envelope: the
  * KCL `consumer.properties.template` content (placeholders and all) plus
  * the launch env (`launch/kinesis-alerts-consumer-us-west-2.yml:4-10`)
  * must map through Sources into the Spark reader options, value for
  * value. The Kinesis connector jar itself is unreachable offline — the
  * mapping is the testable surface. */
class KinesisConfigSpec extends AnyFunSuite {

  // the load-bearing lines of consumer.properties.template, verbatim
  // (placeholders included; commented defaults stay commented)
  private val template =
    """executableName = /kinesis-consumer
      |streamName = <STREAM_NAME>
      |applicationName = <APPLICATION_NAME>
      |AWSCredentialsProvider = DefaultAWSCredentialsProviderChain
      |processingLanguage = golang
      |initialPositionInStream = <INITIAL_POSITION>
      |regionName = <REGION_NAME>
      |#failoverTimeMillis = 10000
      |#maxRecords = 10000
      |#idleTimeBetweenReadsInMillis = 1000
      |""".stripMargin

  // the env the launch yml injects (launch/...us-west-2.yml env list)
  private val launchEnv = Map(
    "DEPLOY_ENV" -> "production",
    "KINESIS_AWS_REGION" -> "us-west-2",
    "KINESIS_STREAM_NAME" -> "logs-stream",
    "KINESIS_APPLICATION_NAME" -> "kinesis-alerts-consumer",
    "KINESIS_INITIAL_POSITION" -> "TRIM_HORIZON",
    "READ_RATE_LIMIT" -> "500"
  )

  test("template + launch env → reader options, every value accounted for") {
    val cfg = Sources.kclConfig(Sources.parseProperties(template), launchEnv)
    assert(cfg.streamName === "logs-stream")
    assert(cfg.regionName === "us-west-2")
    assert(cfg.applicationName === "kinesis-alerts-consumer")
    assert(cfg.initialPositionInStream === "TRIM_HORIZON")
    assert(cfg.readRateLimit === Some(500))
    assert(cfg.maxRecords === 10000) // template's commented KCL default
    assert(cfg.idleTimeBetweenReadsInMillis === 1000L)

    val opts = Sources.kinesisOptions(cfg)
    assert(opts === Map(
      "streamName" -> "logs-stream",
      "region" -> "us-west-2",
      "consumerName" -> "kinesis-alerts-consumer",
      "startingPosition" -> "TRIM_HORIZON",
      "maxRecordsPerFetch" -> "10000",
      "minFetchPeriodMs" -> "1000",
      "maxFetchRate" -> "500"
    ))
  }

  test("table-driven variants: positions, rate limit, explicit fetch tuning") {
    val cases = Seq(
      // (extra props, env overrides, expected position, expected rate, expected fetch)
      (Map.empty[String, String], Map("KINESIS_INITIAL_POSITION" -> "LATEST"),
        "LATEST", None, "10000"),
      (Map("maxRecords" -> "2500", "idleTimeBetweenReadsInMillis" -> "250"),
        Map("KINESIS_INITIAL_POSITION" -> "TRIM_HORIZON"),
        "TRIM_HORIZON", None, "2500"),
      (Map.empty[String, String],
        Map("KINESIS_INITIAL_POSITION" -> "LATEST", "READ_RATE_LIMIT" -> "100"),
        "LATEST", Some("100"), "10000")
    )
    cases.foreach { case (extraProps, envOverride, wantPos, wantRate, wantFetch) =>
      val env = (launchEnv - "READ_RATE_LIMIT") ++ envOverride
      val cfg = Sources.kclConfig(Sources.parseProperties(template) ++ extraProps, env)
      val opts = Sources.kinesisOptions(cfg)
      assert(opts("startingPosition") === wantPos)
      assert(opts.get("maxFetchRate") === wantRate)
      assert(opts("maxRecordsPerFetch") === wantFetch)
    }
  }

  test("defaults when the optional keys are absent entirely") {
    val minimal = Map(
      "streamName" -> "s",
      "applicationName" -> "app"
    )
    val cfg = Sources.kclConfig(minimal, Map.empty)
    assert(cfg.regionName === "us-east-1") // "The KCL defaults to us-east-1"
    assert(cfg.initialPositionInStream === "LATEST")
    assert(cfg.readRateLimit === None)
  }

  test("invalid start position rejected, as the template documents") {
    val cfg = Sources.kclConfig(
      Map("streamName" -> "s", "applicationName" -> "a",
        "initialPositionInStream" -> "AT_TIMESTAMP"),
      Map.empty)
    val e = intercept[IllegalArgumentException](Sources.kinesisOptions(cfg))
    assert(e.getMessage.contains("TRIM_HORIZON or LATEST"))
    // kinesis-lite goes through the same mapping, so the same check
    val lite = intercept[IllegalArgumentException](
      Sources.kinesisLite(SharedSpark.spark, cfg, "/nonexistent-stream"))
    assert(lite.getMessage.contains("TRIM_HORIZON or LATEST"))
  }

  test("a fetch size below one record, or not a number, is rejected on both paths") {
    // 0 would admit nothing per batch, so the stream would never advance
    def names(msg: String, v: String) = msg.endsWith(s"got $v") || msg.contains(s"\"$v\"")
    Seq("0", "-1", "10k").foreach { v =>
      val kcl = intercept[IllegalArgumentException](Sources.kinesisOptions(Sources.kclConfig(
        Map("streamName" -> "s", "applicationName" -> "a", "maxRecords" -> v), Map.empty)))
      assert(names(kcl.getMessage, v), s"maxRecords=$v: ${kcl.getMessage}")
      // the kinesis-lite reader option, parsed when the query starts
      val table = new graft.streaming.KinesisLiteTable(Map("path" -> "/nonexistent-stream",
        "startingPosition" -> "TRIM_HORIZON", "maxRecordsPerFetch" -> v))
      val lite = intercept[IllegalArgumentException](
        table.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
          .build().toMicroBatchStream("/nonexistent-checkpoint"))
      assert(names(lite.getMessage, v), s"maxRecordsPerFetch=$v: ${lite.getMessage}")
    }
  }

  test("unresolvable placeholders surface as-is (missing env is visible, not silent)") {
    val cfg = Sources.kclConfig(Sources.parseProperties(template),
      launchEnv - "KINESIS_STREAM_NAME")
    assert(cfg.streamName === "<STREAM_NAME>")
  }
}

package graft.model

import org.apache.spark.sql.types._

/** Schemas for the kayvee log pipeline.
  *
  * The unit of data is a semi-structured log record: a fixed envelope
  * (extracted from the syslog-ish header) plus a dynamic JSON payload held
  * as `map<string,variant>` so the per-field JSON type survives (the
  * reference dispatches on Go-native JSON types — string / float64 / bool —
  * when coercing dimensions, `alerts_consumer.go:131-146`).
  */
object KayveeModel {

  /** `_kvmeta.routes[]` wire shape (`alerts_consumer_test.go:113-125`). */
  val routeSchema: StructType = StructType(
    Seq(
      StructField("type", StringType),
      StructField("series", StringType),
      StructField("dimensions", ArrayType(StringType)),
      StructField("stat_type", StringType),
      StructField("value_field", StringType),
      StructField("rule", StringType)
    )
  )

  /** `_kvmeta` envelope: team + rules (`alerts_consumer.go:83-92`). */
  val kvmetaSchema: StructType = StructType(
    Seq(
      StructField("team", StringType),
      StructField("kv_version", StringType),
      StructField("kv_language", StringType),
      StructField("routes", ArrayType(routeSchema))
    )
  )

  /** Default dimensions appended to every kvmeta route
    * (`alerts_consumer.go:23`).
    */
  val defaultDimensions: Seq[String] = Seq("Hostname", "env")

  /** CloudWatch series allow-list (`allowlist.go:8-10`): kept tiny because
    * CloudWatch permits ≤20 distinct metrics per put.
    */
  val cloudwatchAllowList: Seq[String] = Seq("ContainerExitCount")
}

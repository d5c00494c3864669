package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.parse.LogParse
import graft.routes.RouteEngine
import graft.project.MetricProject

/** O1/O2/O14/O15 — the streaming wrapper around the kayvee pipeline.
  *
  * Reference wiring (`main.go:54-59,85-86`): KCL source → 5 s / 100-record
  * micro-batches per routing tag → Datadog/CloudWatch submit with 5×
  * exponential-backoff retry (50 ms base) → failed records spilled to a
  * file. Spark mapping: any `readStream` source (file/socket/kinesis
  * connector in prod; MemoryStream in tests) → the single-pass
  * `FastKayvee.unified` parse/route/project (a stateless narrow
  * `mapPartitions`, so the plan is incrementalizable untouched) →
  * `foreachBatch` sink that delivers each source partition in place — per
  * tag ≤100-record batches, as kbc's batcher forms them per shard consumer
  * — retries, and appends the batch's failures, if it has any, to a parquet
  * dead-letter path (`FailedLogsFile` analog).
  *
  * Scale: delivery is stateless and has no exchange, so the pipeline
  * scales with source partitions (Kinesis shards ≙ partitions) and a
  * delivery task holds O(distinct tags × batchCount) rows. The only
  * stateful operator is the meta lane's [[metaAgg]]: one watermark-bounded
  * 1-minute aggregation (state store) feeding both the volume and the
  * route-count series.
  */
object StreamPipeline {

  /** Operating envelope, mirroring the reference's config (`main.go:54-59`). */
  final case class Config(
      deployEnv: String,
      triggerInterval: String = "5 seconds", // BatchInterval (main.go:57)
      retryAttempts: Int = 5, // alerts_consumer.go:257
      retryBaseMs: Long = 50,
      deadLetterPath: Option[String] = None, // FailedLogsFile (main.go:55)
      checkpointLocation: Option[String] = None, // KCL DynamoDB lease table analog
      batchCount: Int = 100, // BatchCount (main.go:56)
      // the four configured CW region clients (main.go:61-66)
      cwRegions: Set[String] = Set("us-west-1", "us-west-2", "us-east-1", "us-east-2")
  )

  /** Per-tag batch delivery target (Datadog/CloudWatch client analog).
    * Implementations may throw; delivery is retried with exponential
    * backoff and dead-lettered on exhaustion. */
  trait BatchSink extends Serializable {
    def submit(tag: String, rows: Seq[Row]): Unit
  }

  /** The full metric pipeline on a streaming (or batch) raw-line frame. */
  def metrics(raw: DataFrame, deployEnv: String): MetricProject.Projected =
    MetricProject.project(RouteEngine.withRoutes(LogParse.parse(raw, deployEnv)))

  /** Wires the full fan-out sink: per-shard, per-tag ≤100-record flushes (O14), DD
    * submit with subset-narrowing retry (O19), per-region CW submit
    * (logged-not-retried), and replayable dead letters (O15) — parse-stage
    * failures (raw line + error) under `deadLetterPath/parse`, sink-stage
    * failures (typed dd rows) under `deadLetterPath/sink`.
    *
    * The record path is `FastKayvee.unified`: one Jackson pass per line
    * (the frame's first column) yields its dd, cw and dead rows,
    * row-for-row identical to `Delivery.unifiedFromStatused` over the
    * declarative chain (FastKayveeParitySpec, StreamingSpec). Streamed, that
    * chain's variant/HOF expressions evaluate interpreted and its
    * three-branch plan is re-analysed in every micro-batch.
    *
    * No driver-side collect and no exchange: delivery is a `mapPartitions`
    * over the source partitions (see [[Delivery.deliverPartition]] for why
    * that is the faithful analog of kbc's per-shard batching), and a
    * micro-batch runs one job of one stage when nothing needs spilling —
    * see [[deliverBatch]]. Caller starts the returned writer. */
  def deliver(
      raw: DataFrame,
      cfg: Config,
      sink: BatchSink,
      cwSink: Option[Delivery.CwSink] = None
  ): DataStreamWriter[Row] = {
    val writer = graft.fast.FastKayvee.unified(raw, cfg.deployEnv).toDF().writeStream
      .trigger(Trigger.ProcessingTime(cfg.triggerInterval))
      .foreachBatch { (batch: DataFrame, _: Long) => deliverBatch(batch, cfg, sink, cwSink) }
    cfg.checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
  }

  /** One micro-batch of the unified frame. Delivery is its first action: a
    * single `foreach` over [[Delivery.deliverPartition]]'s output — each
    * source partition (one per shard) batches its own rows per tag, as
    * kbc does per shard consumer, and yields only its dead letters. With a
    * `deadLetterPath` that small output is persisted first, so the spill
    * writes read it from the cache instead of re-running delivery, and each
    * directory is written only when its accumulator counted rows there:
    * `parse` (raw, err) for parse/projection failures, `sink` (kind, tag,
    * dd, cw) for records that exhausted retries. A clean batch is one job
    * of one stage; a batch with dead letters adds one write job per
    * non-empty directory.
    *
    * A lost cached block is recomputed, which re-runs delivery for its
    * partition: at-least-once, the same as a retried batch. */
  private def deliverBatch(
      unified: DataFrame,
      cfg: Config,
      sink: BatchSink,
      cwSink: Option[Delivery.CwSink]
  ): Unit = {
    val sc = unified.sparkSession.sparkContext
    val deadRows = sc.longAccumulator
    val failedRows = sc.longAccumulator
    // without a dead-letter path nothing reads the dead rows: drop them in
    // the same stage, so no task buffers them
    val in = if (cfg.deadLetterPath.isEmpty) unified.filter(col("kind") =!= "dead") else unified
    val out = in.mapPartitions { it =>
      Delivery.deliverPartition(it, sink, cwSink, cfg.retryAttempts, cfg.retryBaseMs,
        cfg.batchCount, cfg.cwRegions, deadRows, failedRows)
    }(org.apache.spark.sql.Encoders.row(unified.schema))
    cfg.deadLetterPath match {
      case None => out.foreach(_ => ())
      case Some(p) =>
        out.persist()
        try {
          out.foreach(_ => ())
          if (deadRows.value > 0)
            out.filter(col("kind") === "dead").select(col("raw"), col("err"))
              .write.mode("append").parquet(p + "/parse")
          if (failedRows.value > 0)
            out.filter(col("kind") =!= "dead").select(col("kind"), col("tag"), col("dd"), col("cw"))
              .write.mode("append").parquet(p + "/sink")
        } finally { out.unpersist(); () }
    }
  }

  /** O16+O16b streaming, fused: ONE watermarked 1-minute aggregation over
    * ONE parse of the source feeds both the volume and route-count maps —
    * the Spark shape of the reference's single aggregator goroutine
    * (`metrics.go:73-89`, one channel consumer updating both hash maps).
    * Each record contributes one "vol" row (grp = team, nbytes) plus one
    * "route" row per kvmeta route (grp = rule, `metrics.go:63-67`), then a
    * single hash agg on (window, kind, env, application, grp). Returns the
    * grouped frame (window_start TimestampType). */
  def metaAgg(raw: DataFrame, deployEnv: String, watermark: String = "2 minutes"): DataFrame = {
    import graft.agg.Aggregations.unknown
    val routed = RouteEngine.withRoutes(LogParse.parse(raw, deployEnv))
      .withWatermark("ts", watermark)
    val rows = routed.select(
      col("ts"),
      unknown(col("container_env")).as("env"),
      unknown(col("container_app")).as("application"),
      explode(concat(
        array(struct(lit("vol").as("kind"), unknown(col("team")).as("grp"),
          col("nbytes").as("nbytes"))),
        transform(coalesce(col("rule_names"), array().cast("array<string>")),
          r => struct(lit("route").as("kind"), r.as("grp"), lit(0L).as("nbytes")))
      )).as("m")
    )
    rows
      .groupBy(window(col("ts"), "1 minute").as("w"), col("m.kind").as("kind"),
        col("env"), col("application"), col("m.grp").as("grp"))
      .agg(count(lit(1)).as("cnt"), sum(col("m.nbytes")).as("sz"))
      .select(col("w.start").as("window_start"), col("kind"), col("env"),
        col("application"), col("grp"), col("cnt"), col("sz"))
  }

  /** Streaming `shipMetrics` (`metrics.go:91-172`): the fused meta
    * aggregate ([[metaAgg]] — one source reader, one parse, one shuffle)
    * projected into DD series rows and submitted per trigger under tag
    * "meta" with the delivery lane's retry ([[Delivery.submitWithRetry]]:
    * 5× backoff, a `PartialSendBatchError` narrows the resubmission), then
    * logged-not-fatal (`metrics.go:159-171`; meta metrics are never
    * dead-lettered).
    *
    * Emission semantics, chosen by `exactlyOnce`:
    *  - false (default, update mode): a window touched by several
    *    triggers is re-shipped with its cumulative total under the same
    *    point_ts; the receiver is assumed last-write-wins on identical
    *    (metric, tags, ts) — Datadog count points at the same timestamp
    *    overwrite. Low latency (first totals within a trigger).
    *  - true (append mode): each 1-minute window ships EXACTLY ONCE with
    *    its final total, after the watermark passes — the Spark analog of
    *    the reference's ship-once-per-tick swap-reset deltas
    *    (`metrics.go:92-96`); latency is the watermark delay.
    * Either way the checkpointed state store beats the reference's
    * in-memory maps, which drop data on restart. Submission happens per
    * partition on executors; the aggregate frame is bounded-keyspace
    * tiny. */
  def shipMetaSeries(
      raw: DataFrame,
      cfg: Config,
      sink: BatchSink,
      exactlyOnce: Boolean = false
  ): DataStreamWriter[Row] = {
    val grouped = metaAgg(raw, cfg.deployEnv)
      .select(unix_timestamp(col("window_start")).as("window_start"), col("kind"),
        col("env"), col("application"), col("grp"), col("cnt"), col("sz"))
    val series = graft.agg.Aggregations.metaSeriesUnified(grouped)
    series.writeStream
      .outputMode(if (exactlyOnce) "append" else "update")
      .trigger(Trigger.ProcessingTime(cfg.triggerInterval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val attempts = cfg.retryAttempts
        val baseMs = cfg.retryBaseMs
        batch.foreachPartition { (rows: Iterator[Row]) =>
          val buf = rows.toSeq
          // an empty partition submits nothing and returns Nil
          val failed = Delivery.submitWithRetry(sink, "meta", buf, attempts, baseMs)
          if (failed.nonEmpty)
            org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamPipeline")
              .warn(s"failed-sending-volumes: ${failed.size} of ${buf.size} series rows " +
                s"not accepted after $attempts attempts")
        }
      }
  }
}

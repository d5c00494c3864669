package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.project.MetricProject

/** O15 — the batch fan-out sink, re-shaped for scale (round-2 rework).
  *
  * Reference semantics (`alerts_consumer.go:234-284`, `main.go:54-66`):
  * `SendBatch(batch, tag)` is called once per ≤100-record batch per tag;
  * it submits the Datadog series with 5× exponential-backoff retry, and on
  * exhaustion returns `PartialSendBatchError{FailedMessages: batch}` — the
  * framework spills exactly those messages to `FailedLogsFile`. CloudWatch
  * datums of the same batch are then submitted only when the tag is a
  * configured AWS region, and CW errors are logged, NOT retried and NOT
  * failed (`alerts_consumer.go:271-281`).
  *
  * Scale shape: the reference's kbc framework forms batches *per Kinesis
  * shard consumer* — per-tag batches are per-shard-per-tag, never global.
  * Delivery therefore runs inside each source partition (one per shard):
  * [[deliverPartition]] keeps one ≤100-record buffer per tag, with no
  * exchange or sort ahead of it, so the dominant "default" tag is
  * delivered by every shard's task in parallel. Delivery side effects run
  * on executors; the driver never sees a row.
  */
object Delivery {

  /** One Datadog series row (`EncodeOutput.DDMetrics`, `alerts_consumer.go:196-204`). */
  final case class DDRec(
      record_id: Long,
      metric: String,
      `type`: String,
      tags: Seq[String],
      point_ts: Long,
      point_value: Double,
      rule: String
  )

  /** One CloudWatch datum row (`EncodeOutput.CWMetrics`, `alerts_consumer.go:206-223`). */
  final case class CWRec(
      record_id: Long,
      metric_name: String,
      dim_names: Seq[String],
      dim_values: Seq[String],
      value: Double,
      ts_sec: Long,
      storage_resolution: Int
  )

  /** One row of the unified delivery frame: a dd series point, a cw datum,
    * or a dead-lettered record (raw line + error — the replayable
    * `FailedLogsFile` content for parse/projection failures). */
  final case class Unified(
      kind: String, // "dd" | "cw" | "dead"
      tag: String, // routing tag; cw: region; dead: "parse"
      dd: Option[DDRec],
      cw: Option[CWRec],
      raw: Option[String],
      err: Option[String]
  )

  /** `kbc.PartialSendBatchError` analog (`alerts_consumer.go:268`): a sink
    * may report that only a subset of the submitted rows failed; retry and
    * dead-letter then apply to that subset only. Any other exception fails
    * the whole submission. */
  class PartialSendBatchError(message: String, val failed: Seq[Row])
      extends RuntimeException(message)

  /** Per-region CloudWatch `PutMetricData` analog. Errors are logged and
    * never retried (`alerts_consumer.go:274-280`). */
  trait CwSink extends Serializable {
    def putMetricData(region: String, rows: Seq[Row]): Unit
  }

  /** Declarative-lane unified frame from a statused (parse→route→status)
    * frame: dd + cw + dead branches. Callers persist the input first — the
    * three branches each scan it once. */
  def unifiedFromStatused(statused: DataFrame): DataFrame = {
    val p = MetricProject.projectStatused(statused)
    val nullDd = lit(null).cast(
      "struct<record_id:bigint,metric:string,type:string,tags:array<string>,point_ts:bigint,point_value:double,rule:string>")
    val nullCw = lit(null).cast(
      "struct<record_id:bigint,metric_name:string,dim_names:array<string>,dim_values:array<string>,value:double,ts_sec:bigint,storage_resolution:int>")
    val dd = p.dd.select(
      lit("dd").as("kind"),
      col("tag"),
      struct(
        col("record_id"), col("metric"), col("type"), col("tags"),
        col("point_ts"), col("point_value"), col("rule")
      ).as("dd"),
      nullCw.as("cw"),
      lit(null).cast("string").as("raw"),
      lit(null).cast("string").as("err")
    )
    val cw = p.cw.select(
      lit("cw").as("kind"),
      col("region_tag").as("tag"),
      nullDd.as("dd"),
      struct(
        col("record_id"),
        col("metric_name"),
        transform(col("dimensions"), d => d.getField("name")).as("dim_names"),
        transform(col("dimensions"), d => d.getField("value")).as("dim_values"),
        col("value"),
        unix_timestamp(col("timestamp")).as("ts_sec"),
        col("storage_resolution")
      ).as("cw"),
      lit(null).cast("string").as("raw"),
      lit(null).cast("string").as("err")
    )
    val dead = p.deadLetter.select(
      lit("dead").as("kind"),
      lit("parse").as("tag"),
      nullDd.as("dd"),
      nullCw.as("cw"),
      col("raw"),
      col("record_err").as("err")
    )
    dd.unionByName(cw).unionByName(dead)
  }

  /** Submits `rows` with exponential-backoff retry
    * (`alerts_consumer.go:257-268`; the meta lane reuses it, as
    * `metrics.go:42` reuses that policy); a `PartialSendBatchError` narrows the
    * resubmission to the failed subset. Returns the rows that ultimately
    * failed (empty = fully delivered). */
  def submitWithRetry(
      sink: StreamPipeline.BatchSink,
      tag: String,
      rows: Seq[Row],
      attempts: Int,
      baseMs: Long
  ): Seq[Row] = {
    var pending = rows
    var delay = baseMs
    var left = attempts
    while (pending.nonEmpty) {
      try {
        sink.submit(tag, pending)
        return Nil
      } catch {
        case p: PartialSendBatchError =>
          left -= 1
          if (left <= 0) return p.failed
          pending = p.failed
          Thread.sleep(delay); delay *= 2
        case _: Exception =>
          left -= 1
          if (left <= 0) return pending
          Thread.sleep(delay); delay *= 2
      }
    }
    Nil
  }

  /** Executor-side delivery of one partition of unified rows, in the
    * partition the source produced (one per shard), as kbc's batcher does
    * per shard consumer (`main.go:54-59`).
    *
    * PRECONDITION: a record's rows are consecutive and share one tag —
    * the order [[graft.fast.FastKayvee.unified]] emits them in (a record
    * with CW datums carries its region as the tag of its dd rows too).
    * The iterator is consumed streaming into one ≤`batchCount`-record
    * buffer per tag: a tag is flushed when a new record finds its buffer
    * full, and every tag at partition end. Executor memory is
    * O(distinct tags × batchCount) rows per task — the same per-shard
    * bound as the reference's ≤100 buffered records per tag
    * (`main.go:56`), never O(partition) — plus the `kind = "dead"` rows
    * the input carries, which are returned (a caller with no dead-letter
    * path drops them before this call) — plus the failed records.
    *
    * Per flush: submits the dd rows with retry, then — only after a fully
    * successful dd flush, mirroring the early return at
    * `alerts_consumer.go:266-269` — the same records' CW datums when the
    * tag is a configured region (logged-not-retried).
    *
    * Returns the partition's dead letters in the [[Unified]] row shape
    * (kind, tag, dd, cw, raw, err), counted into `deadRows` and
    * `failedRows`: its `kind = "dead"` rows as they came in (parse and
    * projection failures, never delivered), then the rows of records whose
    * dd rows exhausted retries — their dd rows AND their cw datums, so
    * replay re-drives both lanes (the reference spills the whole
    * `EncodeOutput`, DDMetrics + CWMetrics, to FailedLogsFile: `main.go:55`,
    * `alerts_consumer.go:226-231`). Delivery runs while the input is
    * consumed, before the first output row.
    */
  def deliverPartition(
      rows: Iterator[Row],
      sink: StreamPipeline.BatchSink,
      cwSink: Option[CwSink],
      attempts: Int,
      baseMs: Long,
      batchCount: Int,
      cwRegions: Set[String],
      deadRows: LongAccumulator,
      failedRows: LongAccumulator
  ): Iterator[Row] = {
    final class TagBuf(val tag: String) {
      val dd = mutable.ArrayBuffer.empty[Row]
      val cw = mutable.ArrayBuffer.empty[Row]
      var records = 0
    }
    val deadOut = mutable.ArrayBuffer.empty[Row]
    val failedOut = mutable.ArrayBuffer.empty[Row]
    val bufs = mutable.LinkedHashMap.empty[String, TagBuf]

    def flush(b: TagBuf): Unit = {
      if (b.records == 0) return
      val notDelivered =
        if (b.dd.isEmpty) Nil
        else submitWithRetry(sink, b.tag, b.dd.toSeq, attempts, baseMs)
      if (notDelivered.nonEmpty) {
        val failedRids = notDelivered.map(_.getLong(0)).toSet
        failedOut ++= notDelivered.map(d => Row("dd", b.tag, d, null, null, null))
        // failed records' cw datums spill too — replay re-drives both lanes
        failedOut ++= b.cw.filter(c => failedRids.contains(c.getLong(0)))
          .map(c => Row("cw", b.tag, null, c, null, null))
      }
      if (notDelivered.isEmpty && b.cw.nonEmpty && cwRegions.contains(b.tag))
        cwSink.foreach { cs =>
          try cs.putMetricData(b.tag, b.cw.toSeq)
          catch {
            case e: Exception =>
              // logged-not-retried (`alerts_consumer.go:278-280`)
              org.slf4j.LoggerFactory.getLogger("graft.streaming.Delivery")
                .warn(s"error-sending-to-cloudwatch region=${b.tag}: ${e.getMessage}")
          }
        }
      b.dd.clear(); b.cw.clear(); b.records = 0
    }

    var kindIdx, tagIdx, ddIdx, cwIdx = -1
    var prevTag: String = null
    var prevRid = 0L
    rows.foreach { r =>
      if (kindIdx < 0) {
        kindIdx = r.fieldIndex("kind"); tagIdx = r.fieldIndex("tag")
        ddIdx = r.fieldIndex("dd"); cwIdx = r.fieldIndex("cw")
      }
      val kind = r.getString(kindIdx)
      if (kind == "dead") deadOut += r
      else {
        val s = if (kind == "dd") r.getStruct(ddIdx) else r.getStruct(cwIdx)
        val rid = s.getLong(0)
        val tag = r.getString(tagIdx)
        val b = bufs.getOrElseUpdate(tag, new TagBuf(tag))
        if (tag != prevTag || rid != prevRid) {
          // record boundary: ≤batchCount records per SendBatch (`main.go:56`)
          if (b.records >= batchCount) flush(b)
          b.records += 1
          prevTag = tag; prevRid = rid
        }
        if (kind == "dd") b.dd += s else b.cw += s
      }
    }
    bufs.valuesIterator.foreach(flush)
    deadRows.add(deadOut.size)
    failedRows.add(failedOut.size)
    deadOut.iterator ++ failedOut.iterator
  }
}

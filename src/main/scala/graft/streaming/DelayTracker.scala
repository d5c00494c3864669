package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** O17 with exact reference semantics (`delay.go:15-39`): a lock-free
  * atomic max of pipeline delay, swap-reset and emitted every interval.
  *
  * The one streaming formulation of the gauge (the batch max is
  * `Aggregations.maxDelay`), on `flatMapGroupsWithState` so it runs on the
  * default state store provider. It keeps the *reset* contract: each
  * emitted gauge covers exactly one interval, state is a single long per
  * key (bounded), and a processing-time timeout triggers the swap — the
  * Spark analog of the 15-second ticker goroutine.
  */
object DelayTracker {

  final case class DelayState(maxDelaySec: Long, intervalStartSec: Long)
  final case class DelayGauge(key: String, max_delay_sec: Long)

  /** point-timestamped rows (key, point_ts) → per-key max-delay gauges.
    *
    * Two emission paths, together covering the reference ticker's contract
    * (emit every interval, then swap-reset):
    *  - inline, when a data batch arrives and the interval has elapsed
    *    since the stored interval start — under CONTINUOUS traffic the
    *    processing-time timeout alone never fires (each batch re-arms it),
    *    so relying on it silenced the gauge exactly when it mattered;
    *  - the processing-time timeout, which catches the traffic-went-quiet
    *    tail and flushes the last accumulated max.
    * Idle behavior is flag-gated: by default a key whose state flushed
    * emits nothing until traffic returns (bounded state, no dead-key
    * ticks); with `alwaysEmit` the timeout keeps re-arming after each
    * flush, ticking 0-gauges through data silence exactly like the
    * reference's unconditional 15-second ticker (`delay.go:35-39`) — at
    * the cost of one state entry per ever-seen key. `nowSec` is
    * injectable for deterministic tests. */
  def track(
      points: DataFrame,
      intervalMs: Long = 15000,
      nowSec: () => Long = () => System.currentTimeMillis() / 1000,
      alwaysEmit: Boolean = false
  ): Dataset[DelayGauge] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col("key").cast("string"), col("point_ts").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DelayState, DelayGauge](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout
      ) { (key, rows, state: GroupState[DelayState]) =>
        if (state.hasTimedOut) {
          // silence tick: emit the gauge and swap-reset (delay.go:35-39)
          val gauge = DelayGauge(key, state.getOption.map(_.maxDelaySec).getOrElse(0L))
          if (alwaysEmit) {
            // reference parity: the ticker never stops — re-arm and keep
            // emitting 0-gauges while idle
            state.update(DelayState(0L, nowSec()))
            state.setTimeoutDuration(intervalMs)
          } else state.remove()
          Iterator(gauge)
        } else {
          val now = nowSec()
          val incoming = rows.map(r => now - r._2).foldLeft(0L)(math.max)
          val prev = state.getOption
          val start = prev.map(_.intervalStartSec).getOrElse(now)
          val merged = math.max(incoming, prev.map(_.maxDelaySec).getOrElse(0L))
          if ((now - start) * 1000 >= intervalMs) {
            // interval elapsed under continuous traffic: emit inline and
            // start a fresh interval (swap-reset)
            state.update(DelayState(0L, now))
            state.setTimeoutDuration(intervalMs)
            Iterator(DelayGauge(key, merged))
          } else {
            state.update(DelayState(merged, start))
            state.setTimeoutDuration(intervalMs)
            Iterator.empty
          }
        }
      }
  }
}

package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O16/O17 — the consumer's own streaming aggregations (reference:
  * `metrics.go`, `delay.go`).
  *
  * The Go version hand-builds this with a 10k-buffered channel, one
  * aggregator goroutine, double-buffered hash maps and a 1-minute ticker.
  * In Spark the channel/maps/ticker are replaced by a shuffle into a
  * hash aggregate (partial map-side combine comes free), and in streaming
  * mode by the state store + a 1-minute tumbling window — strictly more
  * durable than the reference (its in-memory maps double-count on restart).
  */
object Aggregations {

  private[graft] def unknown(c: Column): Column =
    coalesce(when(c =!= "", c), lit("unknown"))

  /** Per-(env,app,team) log volume: count + byte size
    * (`metrics.go:48-68,91-157`). `windowCol` is any precomputed time-bucket
    * column (batch analog of the 1-minute flush tick).
    */
  def volumeByEnvAppTeam(parsed: DataFrame, windowCol: Column): DataFrame =
    parsed
      .groupBy(
        windowCol.as("window_start"),
        unknown(col("container_env")).as("env"),
        unknown(col("container_app")).as("application"),
        unknown(col("team")).as("team")
      )
      .agg(
        count(lit(1)).as("log_volume_count"),
        sum(col("nbytes")).as("log_volume_size")
      )

  /** Per-(app,env,rule) route counts over ALL kvmeta routes
    * (`metrics.go:63-67` — note: all route types, not just alerts).
    */
  def routeCounts(routed: DataFrame, windowCol: Column): DataFrame =
    routed
      .select(
        windowCol.as("window_start"),
        unknown(col("container_env")).as("env"),
        unknown(col("container_app")).as("application"),
        explode(col("rule_names")).as("route")
      )
      .groupBy(col("window_start"), col("env"), col("application"), col("route"))
      .agg(count(lit(1)).as("log_route_count"))

  /** Single-shuffle aggregation of the unified meta frame (columns: kind,
    * window_start, env, application, grp, nbytes — see
    * `FastKayvee.MetaRow`): ONE hash agg serves both of the reference's
    * meta maps (`metrics.go:73-89` accumulates volumes AND route counts in
    * one goroutine pass). `cnt` is log_volume_count for kind="vol" and
    * log_route_count for kind="route"; `sz` is log_volume_size (0-sum for
    * route rows). */
  def metaCounts(meta: DataFrame): DataFrame =
    meta
      .groupBy(col("kind"), col("window_start"), col("env"), col("application"), col("grp"))
      .agg(count(lit(1)).as("cnt"), sum(col("nbytes")).as("sz"))

  /** `shipMetrics` series projection over the grouped unified meta frame
    * ([[metaCounts]] output): vol groups fan into the two volume series
    * (tags `env/application/team`), route groups into the route-count
    * series (tags `env/application/route`) — `metrics.go:104-157`. One
    * scan, one explode; rows are (metric, type, tags_str, point_ts,
    * point_value). */
  def metaSeriesUnified(grouped: DataFrame): DataFrame = {
    val tagsStr = concat_ws(
      ",",
      concat(lit("env:"), col("env")),
      concat(lit("application:"), col("application")),
      concat(when(col("kind") === "vol", lit("team:")).otherwise(lit("route:")), col("grp"))
    )
    def series(metric: Column, value: Column) = struct(
      metric.as("metric"),
      lit("count").as("type"),
      tagsStr.as("tags_str"),
      col("window_start").as("point_ts"),
      value.cast("double").as("point_value")
    )
    grouped
      .select(explode(when(col("kind") === "vol", array(
        series(lit("kinesis_alerts_consumer.log_volume_count"), col("cnt")),
        series(lit("kinesis_alerts_consumer.log_volume_size"), col("sz"))
      )).otherwise(array(
        series(lit("kinesis_alerts_consumer.log_route_count"), col("cnt"))
      ))).as("s"))
      .select(col("s.metric").as("metric"), col("s.type").as("type"),
        col("s.tags_str").as("tags_str"), col("s.point_ts").as("point_ts"),
        col("s.point_value").as("point_value"))
  }

  /** O17 — max pipeline delay vs an anchor instant (`delay.go:15-33`).
    * The reference tracks `max(now - point_ts)` in a lock-free atomic; the
    * Spark analog is a partial-aggregated global max — no shuffle of note
    * (one row per partition to the final agg). `anchorSec` is a fixed
    * instant so declared queries stay deterministic.
    */
  def maxDelay(df: DataFrame, tsSecCol: Column, anchorSec: Long, groupCols: Seq[Column]): DataFrame = {
    val delay = lit(anchorSec) - tsSecCol
    if (groupCols.isEmpty) df.agg(max(delay).as("max_delay_sec"))
    else df.groupBy(groupCols: _*).agg(max(delay).as("max_delay_sec"))
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.parse.LogParse
import graft.routes.RouteEngine
import graft.project.MetricProject
import graft.agg.Aggregations
import QueryDef.q

/** The kayvee pipeline operators (SURVEY.md §2 O3–O17) exercised on the
  * driver's `events` table: each query synthesizes raw syslog+kayvee lines
  * from event columns (manual string concat — mirrored 1:1 in the DuckDB
  * oracle so even byte lengths agree), runs the REAL parse→route→project
  * pipeline, and projects a comparison-friendly output.
  *
  * Line shape (FIXTURES.md A1): `<ts> host-<u> production--<type>-svc/arn[<id>]: <body>`
  * with u = user_id % 50, deploy env "prod".
  */
object KayveeQueries {

  // --- Spark-side synthesizer -------------------------------------------

  private def tsString: Column =
    date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'")
  private def kCol: Column = get_json_object(col("props"), "$.k").cast("long")
  private def header: Column = concat(
    tsString, lit(" host-"), col("user_id") % 50,
    lit(" production--"), col("event_type"), lit("-svc/arn["), col("event_id"), lit("]: ")
  )

  /** events + helper cols (k) → raw lines from a body expression. */
  private def lines(s: SparkSession, dir: String, body: Column, host: Column = null): DataFrame = {
    val e = Tables(s, dir).events.withColumn("k", kCol)
    val h =
      if (host == null) concat(lit("host-"), col("user_id") % 50)
      else host
    e.select(
      concat(
        tsString, lit(" "), h,
        lit(" production--"), col("event_type"), lit("-svc/arn["), col("event_id"), lit("]: "),
        body
      ).as("raw")
    )
  }

  /** One kind ("dd" | "cw") of the rows `FastKayvee.unified` delivers —
    * the streaming deliver query's record pass, cross-checked against the
    * declarative chain by FastKayveeParitySpec. */
  private def unified(df: DataFrame, kind: String): DataFrame =
    graft.fast.FastKayvee.unified(df, "prod").toDF().filter(col("kind") === kind)

  /** Datadog-series lane: the dd rows of [[unified]], flattened to
    * (metric, type, tags, point_ts, point_value, rule, tag). */
  private def dd(df: DataFrame): DataFrame =
    unified(df, "dd").select(col("dd.metric"), col("dd.type"), col("dd.tags"),
      col("dd.point_ts"), col("dd.point_value"), col("dd.rule"), col("tag"))

  /** One kind ("vol" | "route") of the fused meta aggregation
    * (`Aggregations.metaCounts` over `FastKayvee.meta`), the shape
    * q_meta_series ships: (kind, window_start, env, application, grp, cnt,
    * sz). */
  private def metaCounts(raw: DataFrame, kind: String): DataFrame =
    Aggregations.metaCounts(
      graft.fast.FastKayvee.meta(raw, "prod").toDF().filter(col("kind") === kind))

  private def tagsStr(df: DataFrame): DataFrame =
    df.withColumn("tags_str", concat_ws(",", col("tags")))

  // --- shared SQL fragments (DuckDB oracle side) -------------------------

  /** Mirror of the synthesized header/body prefix; `e` binds events with k/h. */
  private val withE =
    """WITH e AS (
      |  SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |         user_id % 50 AS h, floor(epoch(ts))::BIGINT AS ts_sec
      |  FROM events)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // O3 — syslog+JSON parse/enrich round-trip.
    q(
      "q_parse_enrich",
      s"""$withE
         |SELECT event_id, ts_sec,
         |  'host-' || h AS hostname,
         |  'production' AS container_env,
         |  event_type || '-svc' AS container_app,
         |  'prod' AS env,
         |  'team-' || (user_id % 7) AS team
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"_kvmeta\":{\"team\":\"team-"), col("user_id") % 7, lit("\",\"routes\":[]}}")
      )
      LogParse.parse(lines(s, dir, body), "prod")
        .select(
          try_variant_get(try_element_at(col("fields"), lit("event_id")), "$", "bigint").as("event_id"),
          unix_timestamp(col("ts")).as("ts_sec"),
          col("hostname"), col("container_env"), col("container_app"), col("env"), col("team")
        )
    },

    // O4/O5/O9 — kvmeta route explode: alerts kept, analytics dropped,
    // default dims appended; purchases fan out to 2 routes.
    q(
      "q_route_explode",
      s"""$withE
         |SELECT event_id, 'events.' || event_type AS series, 'counter' AS stat_type,
         |       'value' AS value_field, 'evt' AS rule, 4 AS n_dims FROM e
         |UNION ALL
         |SELECT event_id, 'purchase.value', 'gauge', 'value', 'evt2', 2 FROM e
         |WHERE event_type = 'purchase'""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"title\":\""), col("event_type"),
        lit("\",\"value\":"), col("value").cast("string"),
        lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[" +
          "{\"type\":\"analytics\",\"series\":\"ignored\",\"rule\":\"ra\"}," +
          "{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
        lit("\",\"dimensions\":[\"title\",\"user_id\"],\"stat_type\":\"counter\"," +
          "\"value_field\":\"value\",\"rule\":\"evt\"}"),
        when(
          col("event_type") === "purchase",
          lit(",{\"type\":\"alerts\",\"series\":\"purchase.value\",\"dimensions\":[]," +
            "\"stat_type\":\"gauge\",\"value_field\":\"value\",\"rule\":\"evt2\"}")
        ).otherwise(lit("")),
        lit("]}}")
      )
      graft.fast.FastKayvee.routes(lines(s, dir, body), "prod", "event_id")
        .select(
          col("record_key").as("event_id"),
          col("series"), col("stat_type"), col("value_field"), col("rule"), col("n_dims")
        )
    },

    // O10 — ordered dimension projection + coercion (number %.0f, bool %t,
    // missing dim silently skipped).
    q(
      "q_dim_project",
      s"""$withE
         |SELECT 'kv.events.' || event_type AS metric, ts_sec AS point_ts,
         |  'event_id:' || event_id || ',title:' || event_type ||
         |  ',flag:' || (CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END) ||
         |  ',Hostname:host-' || h || ',env:prod' AS tags_str
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"title\":\""), col("event_type"),
        lit("\",\"flag\":"), when(col("k") % 2 === 0, "true").otherwise("false"),
        lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
        lit("\",\"dimensions\":[\"event_id\",\"title\",\"flag\",\"nope\"]," +
          "\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"evt\"}]}}")
      )
      tagsStr(dd(lines(s, dir, body)))
        .select(col("metric"), col("point_ts"), col("tags_str"))
    },

    // O11 — value resolution: present float used; absent → counter 1 /
    // gauge 0, per stat type.
    q(
      "q_value_resolve",
      s"""$withE
         |SELECT 'kv.' || event_type || '.' || event_id AS metric,
         |  CASE WHEN event_type IN ('click','view','error') THEN 'count' ELSE 'gauge' END AS type,
         |  CASE event_type
         |    WHEN 'view' THEN 1.0
         |    WHEN 'signup' THEN 0.0
         |    ELSE value END AS point_value
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val statType = when(col("event_type").isin("click", "view", "error"), "counter").otherwise("gauge")
      val valueField = when(col("event_type").isin("view", "signup"), "missing").otherwise("value")
      val body = concat(
        lit("{\"value\":"), col("value").cast("string"),
        lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\",\"series\":\""),
        col("event_type"), lit("."), col("event_id"),
        lit("\",\"dimensions\":[],\"stat_type\":\""), statType,
        lit("\",\"value_field\":\""), valueField,
        lit("\",\"rule\":\"evt\"}]}}")
      )
      dd(lines(s, dir, body)).select(col("metric"), col("type"), col("point_value"))
    },

    // O6 — process-metrics global rule (incl. the "guage" typo fix).
    q(
      "q_route_process_metrics",
      s"""$withE
         |SELECT 'kv.process-metrics.t' || k AS metric,
         |  CASE WHEN k % 2 = 0 THEN 'count' ELSE 'gauge' END AS type,
         |  ts_sec AS point_ts, value AS point_value,
         |  'Hostname:host-' || h || ',env:prod,source:' || event_type AS tags_str
         |FROM e""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"via\":\"process-metrics\",\"source\":\""), col("event_type"),
        lit("\",\"title\":\"t"), col("k"),
        lit("\",\"type\":\""), when(col("k") % 2 === 0, "counter").otherwise("guage"),
        lit("\",\"value\":"), col("value").cast("string"), lit("}")
      )
      tagsStr(dd(lines(s, dir, body)))
        .select(col("metric"), col("type"), col("point_ts"), col("point_value"), col("tags_str"))
    },

    // O7 — mongo slow-query regex extraction: derived dims + 2-route
    // emission (counter + millis gauge).
    q(
      "q_regex_extract",
      s"""$withE, m AS (
         |  SELECT *,
         |    CASE k % 6 WHEN 0 THEN 'update' WHEN 1 THEN 'command' WHEN 2 THEN 'remove'
         |               WHEN 3 THEN 'getmore' WHEN 4 THEN 'query' ELSE 'insert' END AS op,
         |    'hostname:host-' || h || ',operation:' ||
         |    (CASE k % 6 WHEN 0 THEN 'update' WHEN 1 THEN 'command' WHEN 2 THEN 'remove'
         |                WHEN 3 THEN 'getmore' WHEN 4 THEN 'query' ELSE 'insert' END) ||
         |    ',namespace:db.' || event_type || ',is_collscan:' ||
         |    (CASE WHEN k % 5 = 0 THEN 'true' ELSE 'false' END) AS tstr
         |  FROM e)
         |SELECT 'kv.mongo.slow-query' AS metric, 'count' AS type, ts_sec AS point_ts,
         |       1.0 AS point_value, tstr AS tags_str FROM m
         |UNION ALL
         |SELECT 'kv.mongo.slow-query-millis', 'gauge', ts_sec, k::DOUBLE, tstr FROM m""".stripMargin
    ) { (s, dir) =>
      val op = when(col("k") % 6 === 0, "update").when(col("k") % 6 === 1, "command")
        .when(col("k") % 6 === 2, "remove").when(col("k") % 6 === 3, "getmore")
        .when(col("k") % 6 === 4, "query").otherwise("insert")
      val body = concat(
        lit("[conn"), col("event_id"), lit("] "), op,
        lit(" db."), col("event_type"),
        lit(" nscanned:"), col("user_id"),
        when(col("k") % 5 === 0, " COLLSCAN").otherwise(""),
        lit(" "), col("k"), lit("ms")
      )
      tagsStr(dd(lines(s, dir, body)))
        .select(col("metric"), col("type"), col("point_ts"), col("point_value"), col("tags_str"))
    },

    // O8 — rds slow-query conjunctive predicates incl. rdsadmin exclusion.
    q(
      "q_filter_predicates",
      s"""$withE
         |SELECT 'kv.rds.slow-query' AS metric, ts_sec AS point_ts,
         |  'env:prod,programname:production--' || event_type || '-svc/arn' AS tags_str
         |FROM e WHERE k % 3 = 0 AND k % 2 = 0""".stripMargin
    ) { (s, dir) =>
      val host = when(col("k") % 3 === 0, lit("aws-rds"))
        .otherwise(concat(lit("host-"), col("user_id") % 50))
      val body = concat(
        lit("{\"user\":\""),
        when(col("k") % 2 === 0, "clever[clever]").otherwise("rdsadmin[rdsadmin]"),
        lit("\",\"event_id\":"), col("event_id"), lit("}")
      )
      tagsStr(dd(lines(s, dir, body, host)))
        .select(col("metric"), col("point_ts"), col("tags_str"))
    },

    // O13 — allow-list membership + CloudWatch projection (defaults
    // excluded from CW dims, region required).
    q(
      "q_allowlist_join",
      s"""$withE
         |SELECT 'ContainerExitCount' AS metric_name, 'dim1=d' || user_id AS dims_str,
         |  value, ts_sec, 'r' || (user_id % 3) AS region_tag, 1 AS storage_resolution
         |FROM e WHERE k % 8 = 0 AND k % 4 = 0""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"dim1\":\"d"), col("user_id"), lit("\""),
        when(col("k") % 8 === 0, concat(lit(",\"region\":\"r"), col("user_id") % 3, lit("\""))).otherwise(""),
        lit(",\"value\":"), col("value").cast("string"),
        when(
          col("k") % 4 === 0,
          lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\"," +
            "\"series\":\"ContainerExitCount\",\"dimensions\":[\"dim1\"]," +
            "\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"exit\"}]}}")
        ).otherwise(lit("}"))
      )
      unified(lines(s, dir, body), "cw")
        .select(
          col("cw.metric_name").as("metric_name"),
          concat_ws(",", zip_with(col("cw.dim_names"), col("cw.dim_values"),
            (n, v) => concat(n, lit("="), v))).as("dims_str"),
          col("cw.value").as("value"),
          col("cw.ts_sec").as("ts_sec"),
          col("tag").as("region_tag"),
          col("cw.storage_resolution").as("storage_resolution")
        )
    },

    // O14 — per-tag batching: routing tag = region only for allow-listed
    // series with a region, else "default".
    q(
      "q_tag_batch",
      s"""$withE
         |SELECT CASE WHEN k % 8 = 0 THEN 'r' || (user_id % 3) ELSE 'default' END AS tag,
         |  count(*) AS n, round(sum(value), 2) AS sum_value
         |FROM e WHERE k % 4 = 0
         |GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"dim1\":\"d"), col("user_id"), lit("\""),
        when(col("k") % 8 === 0, concat(lit(",\"region\":\"r"), col("user_id") % 3, lit("\""))).otherwise(""),
        lit(",\"value\":"), col("value").cast("string"),
        when(
          col("k") % 4 === 0,
          lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\"," +
            "\"series\":\"ContainerExitCount\",\"dimensions\":[\"dim1\"]," +
            "\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"exit\"}]}}")
        ).otherwise(lit("}"))
      )
      dd(lines(s, dir, body))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), round(sum(col("point_value")), 2).as("sum_value"))
    },

    // O16 — windowed volume aggregation: count + byte size per
    // (env, application, team), 1-minute tumbling buckets.
    q(
      "q_volume_agg",
      s"""$withE, l AS (
         |  SELECT floor(epoch(date_trunc('minute', ts)))::BIGINT AS window_start,
         |    'production' AS env, event_type || '-svc' AS application,
         |    'team-' || (user_id % 7) AS team,
         |    length(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00') || ' host-' || h ||
         |      ' production--' || event_type || '-svc/arn[' || event_id || ']: ' ||
         |      '{"event_id":' || event_id || ',"_kvmeta":{"team":"team-' || (user_id % 7) ||
         |      '","routes":[]}}') AS nbytes
         |  FROM e)
         |SELECT window_start, env, application, team,
         |  count(*) AS log_volume_count, sum(nbytes)::BIGINT AS log_volume_size
         |FROM l GROUP BY 1, 2, 3, 4""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"_kvmeta\":{\"team\":\"team-"), col("user_id") % 7, lit("\",\"routes\":[]}}")
      )
      metaCounts(lines(s, dir, body), "vol")
        .select(col("window_start"), col("env"), col("application"), col("grp").as("team"),
          col("cnt").as("log_volume_count"), col("sz").as("log_volume_size"))
    },

    // O16b — per-(app,env,rule) route counts over ALL kvmeta route types
    // (`metrics.go:63-67,138-157`: analytics routes count too, not just
    // alerts; "" → "unknown" null-fills per `metrics.go:48-57`). Records
    // with a non-container program name (k%5=0) exercise the unknown path.
    q(
      "q_route_counts",
      s"""$withE, l AS (
         |  SELECT floor(epoch(date_trunc('minute', ts)))::BIGINT AS window_start,
         |    CASE WHEN k % 5 = 0 THEN 'unknown' ELSE 'production' END AS env,
         |    CASE WHEN k % 5 = 0 THEN 'unknown' ELSE event_type || '-svc' END AS application,
         |    event_type
         |  FROM e)
         |SELECT window_start, env, application, 'ana-' || event_type AS route,
         |  count(*) AS log_route_count
         |FROM l GROUP BY 1, 2, 3, 4
         |UNION ALL
         |SELECT window_start, env, application, 'evt', count(*)
         |FROM l GROUP BY 1, 2, 3, 4""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir).events.withColumn("k", kCol)
      val prog = when(col("k") % 5 === 0, lit("standalone"))
        .otherwise(concat(lit("production--"), col("event_type"), lit("-svc")))
      val raw = e.select(
        concat(
          tsString, lit(" host-"), col("user_id") % 50, lit(" "),
          prog, lit("/arn["), col("event_id"), lit("]: "),
          lit("{\"_kvmeta\":{\"team\":\"t\",\"routes\":[" +
            "{\"type\":\"analytics\",\"series\":\"x\",\"rule\":\"ana-"), col("event_type"),
          lit("\"},{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
          lit("\",\"dimensions\":[],\"stat_type\":\"counter\",\"value_field\":\"value\"," +
            "\"rule\":\"evt\"}]}}")
        ).as("raw")
      )
      metaCounts(raw, "route")
        .select(col("window_start"), col("env"), col("application"), col("grp").as("route"),
          col("cnt").as("log_route_count"))
    },

    // shipMetrics series projection (`metrics.go:91-157`): the two meta
    // aggregates as Datadog series rows — log_volume_count/size tagged
    // env/application/team, log_route_count tagged env/application/route.
    q(
      "q_meta_series",
      s"""$withE, l AS (
         |  SELECT floor(epoch(date_trunc('minute', ts)))::BIGINT AS ws,
         |    'production' AS env, event_type || '-svc' AS app,
         |    'team-' || (user_id % 7) AS team, event_type,
         |    length(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00') || ' host-' || h ||
         |      ' production--' || event_type || '-svc/arn[' || event_id || ']: ' ||
         |      '{"_kvmeta":{"team":"team-' || (user_id % 7) ||
         |      '","routes":[{"type":"analytics","series":"x","rule":"ana-' || event_type ||
         |      '"},{"type":"alerts","series":"events.' || event_type ||
         |      '","dimensions":[],"stat_type":"counter","value_field":"value","rule":"evt"}]}}') AS nbytes
         |  FROM e),
         |vol AS (SELECT ws, env, app, team, count(*) AS c, sum(nbytes)::BIGINT AS sz
         |        FROM l GROUP BY 1, 2, 3, 4),
         |rc AS (
         |  SELECT ws, env, app, route, count(*) AS n FROM (
         |    SELECT ws, env, app, 'ana-' || event_type AS route FROM l
         |    UNION ALL SELECT ws, env, app, 'evt' FROM l) GROUP BY 1, 2, 3, 4)
         |SELECT 'kinesis_alerts_consumer.log_volume_count' AS metric, 'count' AS type,
         |  'env:' || env || ',application:' || app || ',team:' || team AS tags_str,
         |  ws AS point_ts, c::DOUBLE AS point_value FROM vol
         |UNION ALL
         |SELECT 'kinesis_alerts_consumer.log_volume_size', 'count',
         |  'env:' || env || ',application:' || app || ',team:' || team, ws, sz::DOUBLE FROM vol
         |UNION ALL
         |SELECT 'kinesis_alerts_consumer.log_route_count', 'count',
         |  'env:' || env || ',application:' || app || ',route:' || route, ws, n::DOUBLE FROM rc""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"_kvmeta\":{\"team\":\"team-"), col("user_id") % 7,
        lit("\",\"routes\":[{\"type\":\"analytics\",\"series\":\"x\",\"rule\":\"ana-"), col("event_type"),
        lit("\"},{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
        lit("\",\"dimensions\":[],\"stat_type\":\"counter\",\"value_field\":\"value\"," +
          "\"rule\":\"evt\"}]}}")
      )
      val raw = lines(s, dir, body)
      // single-pass meta lane: ONE FastKayvee parse + ONE hash agg feed
      // both the volume and route-count series, like the reference's one
      // aggregator goroutine (`metrics.go:73-89`)
      Aggregations.metaSeriesUnified(
        Aggregations.metaCounts(graft.fast.FastKayvee.meta(raw, "prod").toDF()))
    },

    // O17 — max pipeline delay vs a fixed anchor (2024-02-01T00:00:00Z),
    // grouped per application.
    q(
      "q_max_delay",
      s"""$withE
         |SELECT event_type || '-svc' AS application,
         |  max(1706745600 - ts_sec) AS max_delay_sec
         |FROM e GROUP BY 1""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"_kvmeta\":{\"team\":\"team-"), col("user_id") % 7, lit("\",\"routes\":[]}}")
      )
      val parsed = LogParse.parse(lines(s, dir, body), "prod")
      Aggregations.maxDelay(
        parsed, unix_timestamp(col("ts")), 1706745600L,
        Seq(col("container_app").as("application"))
      )
    },

    // O9 + §7.4 error semantics — the three-way stream split (valid /
    // dead-letter / intentionally-skipped) with exact error strings,
    // oracle-checked: one bad route poisons the whole record.
    q(
      "q_error_split",
      s"""$withE
         |SELECT event_type, 'ignored' AS status, count(*) AS n, '' AS err
         |FROM e WHERE k % 3 = 0 GROUP BY event_type
         |UNION ALL
         |SELECT event_type, 'dead', count(*),
         |  'error casting dimension value. rule=evt dim=bad'
         |FROM e WHERE k % 3 = 1 GROUP BY event_type
         |UNION ALL
         |SELECT event_type, 'ok', count(*), '' FROM e WHERE k % 3 = 2 GROUP BY event_type""".stripMargin
    ) { (s, dir) =>
      val body = concat(
        lit("{\"title\":\""), col("event_type"),
        lit("\",\"bad\":{\"x\":1}"),
        when(
          col("k") % 3 === 1,
          concat(lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
            lit("\",\"dimensions\":[\"bad\",\"title\"],\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"evt\"}]}"))
        ).when(
          col("k") % 3 === 2,
          concat(lit(",\"_kvmeta\":{\"team\":\"t\",\"routes\":[{\"type\":\"alerts\",\"series\":\"events."), col("event_type"),
            lit("\",\"dimensions\":[\"title\"],\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"evt\"}]}"))
        ).otherwise(lit("")),
        lit("}")
      )
      // FastKayvee status lane (imperative mirror of withStatus, parity
      // covered by FastKayveeParitySpec) + one hash agg — the declarative
      // per-route error scan evaluates interpreted and was 12% of the bench
      graft.fast.FastKayvee.status(lines(s, dir, body), "prod")
        .groupBy(col("title").as("event_type"), col("status"))
        .agg(count(lit(1)).as("n"), min(col("err")).as("err"))
        .select(col("event_type"), col("status"), col("n"), col("err"))
    },

    // Streaming-style session windows over events (30-minute gap), batch
    // analog of `session_window` state merging.
    q(
      "q_session_window",
      """WITH s AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, floor(epoch(min(ts)))::BIGINT AS session_start_sec,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir).events
        .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
        .groupBy(session_window(col("ts_us"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start_sec"),
          col("n_events"), col("sum_value")
        )
    },

    // ★ The FLEET dataflow as a contract-surface entry (round-10 review
    // item: MultiWorkerLeaseSpec proves union-of-workers == one batch
    // pass; this declares the same dataflow as a runnable query, not
    // only a test). A bounded deterministic subset of events becomes
    // kayvee lines sharded 4 ways into a file-backed stream; TWO
    // LeaseWorkers under a scripted clock claim, mark (wantedBy),
    // release, and re-claim until the fleet is balanced and every shard
    // is drained — the KCL join/rebalance dance — then the union of all
    // drained batches runs through the REAL distributed parse→route→
    // project pass once. Output (round-14: hash-checkable): one row per
    // SHARD with the delivered record count, the seq span, and the
    // fleet-wide dd-projection total. WHICH worker delivered each record
    // is protocol state (not SQL — that story stays spec-pinned in
    // MultiWorkerLeaseSpec); WHAT the fleet delivered is exactly the
    // union==single-batch-pass contract, and that IS declarative: with
    // exactly-once graceful handoffs every shard drains completely in
    // file order, so per-shard n_records equals the shard's line count,
    // the seq span is exactly [0, n-1], and the dd rollup is 1:1 with
    // the synthesized lines (each carries one alerts route). The oracle
    // states that contract from `events` alone — a dropped, doubled, or
    // reordered delivery during the rebalance dance breaks the hash.
    // Scale note: the drained-record buffers here are the fixture
    // harness — a real fleet's drain hands each batch to the streaming
    // query (StreamingSpec's kinesis-lite lane), never to driver memory;
    // the driver-side sample is HARD-bounded: %101 thins by RATE (still
    // proportional to sf), so the collect additionally takes only the
    // first 4096 lines in event_id order — orderBy+limit plans as
    // TakeOrderedAndProject (per-partition top-K, no global sort), and
    // the lease dance needs a few hundred lines, not a proportional
    // sample, so the demo is driver-safe at ANY sf by construction.
    q(
      "q_fleet_pipeline",
      """WITH sel AS (
        |  SELECT event_id FROM events WHERE event_id % 101 = 0
        |  ORDER BY event_id LIMIT 4096),
        |agg AS (
        |  SELECT 'shard-' || (event_id % 4) || '.txt' AS shard,
        |    count(*)::BIGINT AS n_records
        |  FROM sel GROUP BY 1)
        |SELECT shard, n_records, 0::BIGINT AS seq_min,
        |  n_records - 1 AS seq_max,
        |  (SELECT count(*)::BIGINT FROM sel) AS fleet_dd_rows
        |FROM agg ORDER BY shard""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val lines = Tables(s, dir).events
        .filter(col("event_id") % 101 === 0)
        .select(col("event_id"),
          concat(
            date_format(timestamp_micros(expr("ts div 1000")),
              "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'"),
            lit(" host-"), col("user_id") % 50,
            lit(" production--"), col("event_type"), lit("-svc/arn["),
            col("event_id"), lit("]: "),
            to_json(struct(
              col("event_type").as("title"), col("value"), col("user_id"),
              struct(
                concat(lit("team-"), col("user_id") % 7).as("team"),
                array(struct(
                  lit("alerts").as("type"),
                  concat(lit("events."), col("event_type")).as("series"),
                  array(lit("title"), lit("user_id")).as("dimensions"),
                  lit("counter").as("stat_type"),
                  lit("value").as("value_field"),
                  concat(lit("evt-"), col("event_type")).as("rule")
                )).as("routes")
              ).as("_kvmeta")
            ))).as("raw"))
        .orderBy(col("event_id"))
        .limit(4096)
        .as[(Long, String)]
        .collect()
      val nShards = 4
      // JVM-unique and exit-cleaned (ScratchDirs) so a mid-run failure
      // can't leak the tmpdir; the happy path still removes it eagerly
      val base = graft.plans.ScratchDirs.unique("graft-fleet-pipeline")
      val streamDir = new java.io.File(base, "stream")
      val leaseDir = new java.io.File(base, "lease")
      streamDir.mkdirs(); leaseDir.mkdirs()
      // two tranches per shard around the rebalance, the spec's fleet
      // story: w1 alone drains tranche 1 of every shard, then w2 joins
      // and the wantedBy handoff balances ownership 2/2, then tranche 2
      // lands and each side drains ITS shards — so the output shows the
      // same shard delivered by different owners over time
      val byShard = (0 until nShards).map { i =>
        i -> lines.filter(_._1 % nShards == i).map(_._2)
      }.toMap
      def writeTranche(second: Boolean): Unit =
        (0 until nShards).foreach { i =>
          val all = byShard(i)
          val half = all.length / 2
          val part = if (second) all.drop(half) else all.take(half)
          val f = new java.io.File(streamDir, s"shard-$i.txt").toPath
          val body = part.map(_ + "\n").mkString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (second)
            java.nio.file.Files.write(f, body,
              java.nio.file.StandardOpenOption.APPEND)
          else java.nio.file.Files.write(f, body)
        }
      writeTranche(second = false)
      var clockMs = 100000L
      val drained =
        scala.collection.mutable.Buffer[(String, String, Long, String)]()
      def worker(id: String) = new graft.streaming.LeaseWorker(
        id, streamDir.getAbsolutePath, leaseDir.getAbsolutePath,
        failoverMillis = 5000, maxRecordsPerFetch = 500, () => clockMs,
        (shard, from, recs) => recs.zipWithIndex.foreach { case (r, k) =>
          drained += ((id, shard, from + k, r))
        })
      val w1 = worker("w1")
      val w2 = worker("w2")
      // the join/rebalance dance: w1 claims the whole stream and drains
      // tranche 1; w2 joins under fair share, marks, and the graceful
      // handoff settles at 2/2 over the next few rounds
      (0 until 4).foreach { _ =>
        w1.tick(); clockMs += 10
        w2.tick(); clockMs += 10
      }
      writeTranche(second = true)
      // tick to quiescence. A tick that only moves leases
      // (release → claim) drains nothing, so "no new records" must hold
      // for several consecutive rounds before the fleet counts as
      // settled — one no-progress round would exit mid-handoff. Clock
      // steps stay far inside failoverMillis, so no hard takeover fires
      // and delivery here is exactly-once (graceful handoffs happen at
      // batch boundaries only).
      var stable = 0
      var ticks = 0
      while (ticks < 200 && stable < 5) {
        val before = drained.size
        w1.tick(); clockMs += 10
        w2.tick(); clockMs += 10
        stable = if (drained.size == before) stable + 1 else 0
        ticks += 1
      }
      val nDd = graft.streaming.StreamPipeline
        .metrics(drained.map(_._4).toSeq.toDF("raw"), "test-env").dd.count()
      // everything below is built from the drained driver-side buffers,
      // so the per-invocation stream/lease files can go now (Bench runs
      // this query repeatedly; leaking a tmpdir per rep adds up —
      // ScratchDirs' exit hook only covers abnormal paths)
      graft.plans.ScratchDirs.remove(base)
      drained.toSeq.toDF("worker", "shard", "seq", "raw")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_records"),
          min(col("seq")).as("seq_min"), max(col("seq")).as("seq_max"))
        .withColumn("fleet_dd_rows", lit(nDd))
        .orderBy(col("shard"))
    }
  )
}

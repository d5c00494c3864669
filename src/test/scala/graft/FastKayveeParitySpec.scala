package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fast.FastKayvee
import graft.parse.LogParse
import graft.routes.RouteEngine
import graft.project.MetricProject

/** The imperative lane (FastKayvee) must be row-for-row identical to the
  * declarative parse→route→project chain on a corpus covering every
  * operator branch: kvmeta routes, all three global rules, coercions,
  * default values, error poisoning, skips, and garbage.
  */
class FastKayveeParitySpec extends SparkSpec {
  import SharedSpark.spark.implicits._

  private val header = "2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn[3337]: "

  private def corpus: Seq[String] = {
    val kv = (series: String, dims: String, st: String, vf: String) =>
      s""""_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"$series","dimensions":[$dims],"stat_type":"$st","value_field":"$vf","rule":"r"}]}"""
    Seq(
      // kvmeta variants
      header + s"""{"a":"x","b":3.2,"c":true,${kv("s1", "\"a\",\"b\",\"c\",\"missing\"", "counter", "value")}}""",
      header + s"""{"value":42,${kv("s2", "", "gauge", "value")}}""",
      header + s"""{${kv("s3", "", "counter", "missing")}}""",
      header + s"""{"value":"bad",${kv("s4", "", "counter", "value")}}""",      // value type error
      header + s"""{"o":{"n":1},${kv("s5", "\"o\"", "counter", "value")}}""",   // dim type error
      header + s"""{"value":1,${kv("s6", "", "weird", "value")}}""",            // stat type error
      header + s"""{"n":null,${kv("s7", "\"n\"", "counter", "value")}}""",      // JSON-null dim → error
      // multi-route + ignored analytics
      header + """{"d":"v","_kvmeta":{"team":"t","routes":[{"type":"analytics","series":"x","rule":"ra"},{"type":"alerts","series":"m1","dimensions":["d"],"stat_type":"counter","value_field":"value","rule":"r1"},{"type":"alerts","series":"m2","dimensions":[],"stat_type":"gauge","value_field":"value","rule":"r2"}]}}""",
      // allow-listed + region (CW path)
      header + """{"dim1":"dv","region":"reg","value":2,"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["dim1"],"stat_type":"counter","value_field":"value","rule":"exit"}]}}""",
      // allow-listed w/o region → default tag, no CW
      header + """{"dim1":"dv","value":2,"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["dim1"],"stat_type":"counter","value_field":"value","rule":"exit"}]}}""",
      // process-metrics (counter + guage typo + missing-field non-match + numeric title non-match)
      header + """{"via":"process-metrics","source":"s","title":"t1","type":"counter","value":5}""",
      header + """{"via":"process-metrics","source":"s","title":"t2","type":"guage","value":0.5}""",
      header + """{"via":"process-metrics","source":"s","title":"t3"}""",
      header + """{"via":"process-metrics","source":"s","title":42,"type":"counter"}""",
      // rds rule
      "2019-10-09T20:19:43.000000+00:00 aws-rds production--db/arn[1]: " + """{"user":"clever[clever]"}""",
      "2019-10-09T20:19:43.000000+00:00 aws-rds production--db/arn[1]: " + """{"user":"rdsadmin[rdsadmin]"}""",
      "2019-10-09T20:19:43.000000+00:00 aws-rds production--db/arn[1]: " + """{"nouser":1}""",
      // mongo rule (match, COLLSCAN, non-match)
      header + "[conn1] update clever.students nscanned:1 2964ms",
      header + "[conn2] query biz.mau planSummary: COLLSCAN nscanned:0 168ms",
      header + "not a mongo line at all",
      // envelope-dim lookups + env--app decode edge
      header + s"""{${kv("e1", "\"hostname\",\"container_app\",\"programname\"", "counter", "value")}}""",
      "2017-08-15T18:39:07.000000+00:00 h noprog[1]: " + s"""{${kv("e2", "\"container_app\"", "counter", "value")}}""",
      // garbage / unparseable headers
      "total garbage",
      " ",
      "2017-13-45T99:99:99 bad-ts host--x/arn[1]: {}"
    )
  }

  private def declarative(df: DataFrame): MetricProject.Projected =
    MetricProject.project(RouteEngine.withRoutes(LogParse.parse(df, "test-env")))

  test("fast dd lane ≡ declarative dd on full branch corpus") {
    val raw = corpus.toDF("raw")
    val slow = declarative(raw).dd
      .select(col("metric"), col("type"), col("tags"), col("point_ts"), col("point_value"), col("rule"), col("tag"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Seq[String]](2).mkString("|"), r.getLong(3), r.getDouble(4), r.getString(5), r.getString(6)))
      .sortBy(_.toString)
    // the dd rows of the unified delivery pass
    val fast = FastKayvee.unified(raw, "test-env")
      .collect()
      .collect { case u if u.kind == "dd" => (u.dd.get, u.tag) }
      .map { case (d, tag) => (d.metric, d.`type`, d.tags.mkString("|"), d.point_ts, d.point_value, d.rule, tag) }
      .sortBy(_.toString)
    assert(fast.length === slow.length)
    fast.zip(slow).foreach { case (f, s) => assert(f === s) }
  }

  test("fast cw lane ≡ declarative cw") {
    val raw = corpus.toDF("raw")
    val slow = declarative(raw).cw
      .select(
        col("metric_name"),
        transform(col("dimensions"), d => concat(d.getField("name"), lit("="), d.getField("value"))).as("dims"),
        col("value"), unix_timestamp(col("timestamp")).as("ts_sec"), col("region_tag")
      )
      .collect()
      .map(r => (r.getString(0), r.getAs[Seq[String]](1).mkString("|"), r.getDouble(2), r.getLong(3), r.getString(4)))
      .sortBy(_.toString)
    // the cw rows of the unified delivery pass; their tag is the region
    val fast = FastKayvee.unified(raw, "test-env")
      .collect()
      .collect { case u if u.kind == "cw" => (u.cw.get, u.tag) }
      .map { case (c, region) => (c.metric_name, c.dim_names.zip(c.dim_values).map { case (n, v) => s"$n=$v" }.mkString("|"), c.value, c.ts_sec, region) }
      .sortBy(_.toString)
    assert(fast.length === slow.length)
    fast.zip(slow).foreach { case (f, s) => assert(f === s) }
  }

  test("fast routes lane ≡ declarative route determination") {
    val raw = corpus.toDF("raw")
    val slow = RouteEngine.withRoutes(LogParse.parse(raw, "test-env"))
      .filter(col("ts").isNotNull)
      .select(explode(col("routes")).as("r"))
      .select(col("r.series"), col("r.stat_type"), col("r.value_field"), col("r.rule"),
        size(col("r.dimensions")).as("nd"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
      .sortBy(_.toString)
    val fast = FastKayvee.routes(raw, "test-env", "event_id")
      .collect()
      .map(r => (r.series, r.stat_type, r.value_field, r.rule, r.n_dims))
      .sortBy(_.toString)
    assert(fast.toSeq === slow.toSeq)
  }

  test("fast volume lane ≡ declarative volume aggregation (parseable records)") {
    val raw = corpus.toDF("raw")
    // reference semantics: unparseable records error out before
    // recordMetrics, so only ts-parseable rows are counted
    val parsed = LogParse.parse(raw, "test-env").filter(col("ts").isNotNull)
    val slow = graft.agg.Aggregations
      .volumeByEnvAppTeam(parsed, unix_timestamp(date_trunc("minute", col("ts"))))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .sortBy(_.toString)
    // the vol rows of the single-pass meta lane, fused aggregation
    val fast = graft.agg.Aggregations
      .metaCounts(FastKayvee.meta(raw, "test-env").toDF().filter(col("kind") === "vol"))
      .select(col("window_start"), col("env"), col("application"), col("grp"), col("cnt"), col("sz"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .sortBy(_.toString)
    assert(fast.toSeq === slow.toSeq)
  }

  test("property: generated kvconfig-shaped corpus — fast unified lane ≡ declarative unified lane") {
    // Deterministic pseudo-random corpus (fixed seed) over the whole input
    // grammar: random envelopes (incl. null-hostname double-space headers,
    // aws-rds, no-container prognames), random JSON bodies with
    // string/number/bool/null/object fields — including a body "hostname"
    // key that must show through when the envelope value is null — random
    // kvmeta routes over all stat types and dimension pools, the three
    // global rules, and garbage. Compares the FULL unified delivery frame
    // (dd + cw + dead rows, record_id included) across lanes, so any drift
    // in parse, routing, projection, tagging, CW, or error strings fails.
    val rnd = new scala.util.Random(20260812L)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def genBody(): String = {
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      if (rnd.nextBoolean()) fields += s""""a":"v${rnd.nextInt(5)}""""
      if (rnd.nextBoolean()) fields += s""""b":${rnd.nextInt(2000) / 10.0}"""
      if (rnd.nextBoolean()) fields += s""""c":${rnd.nextBoolean()}"""
      if (rnd.nextInt(4) == 0) fields += """"n":null"""
      if (rnd.nextInt(4) == 0) fields += """"o":{"x":1}"""
      if (rnd.nextInt(3) == 0) fields += s""""hostname":"bodyhost${rnd.nextInt(3)}""""
      if (rnd.nextInt(3) != 0) fields += s""""value":${if (rnd.nextInt(5) == 0) "\"notnum\"" else rnd.nextInt(100).toString}"""
      if (rnd.nextInt(4) == 0) fields += s""""region":${if (rnd.nextBoolean()) s""""r${rnd.nextInt(3)}"""" else "7"}"""
      if (rnd.nextInt(5) == 0) fields += s""""user":"${pick(Seq("clever[clever]", "rdsadmin[rdsadmin]"))}""""
      if (rnd.nextInt(5) == 0)
        fields += s""""via":"process-metrics","source":"s${rnd.nextInt(2)}","title":"t${rnd.nextInt(2)}","type":"${pick(Seq("counter", "gauge", "guage", "odd"))}""""
      val nRoutes = rnd.nextInt(3)
      if (nRoutes > 0 || rnd.nextBoolean()) {
        val dimPool = Seq("a", "b", "c", "n", "o", "missing", "hostname", "container_app",
          "programname", "timestamp", "region")
        val routes = (0 until nRoutes).map { ri =>
          val tpe = pick(Seq("alerts", "alerts", "alerts", "analytics"))
          val series = pick(Seq(s"s${rnd.nextInt(4)}", "ContainerExitCount"))
          val dims = rnd.shuffle(dimPool).take(rnd.nextInt(4)).map(d => s""""$d"""").mkString(",")
          val st = pick(Seq("counter", "counter", "gauge", "weird"))
          val vf = pick(Seq("value", "missing", ""))
          s"""{"type":"$tpe","series":"$series","dimensions":[$dims],"stat_type":"$st","value_field":"$vf","rule":"r$ri"}"""
        }
        fields += s""""_kvmeta":{"team":"tm${rnd.nextInt(3)}","routes":[${routes.mkString(",")}]}"""
      }
      s"{${fields.mkString(",")}}"
    }
    def genLine(): String = {
      val ts = f"2021-03-0${1 + rnd.nextInt(8)}T1${rnd.nextInt(9)}:2${rnd.nextInt(9)}:0${rnd.nextInt(9)}.000000+00:00"
      val host = pick(Seq("h1", "h2", "aws-rds", "")) // "" → double space → null hostname
      val prog = pick(Seq("production--app-a/arn", "production--multi--dash/x", "noprog", "staging--db"))
      rnd.nextInt(12) match {
        case 0 => "total garbage " + rnd.nextInt(10)
        case 1 => s"$ts $host $prog[${rnd.nextInt(99)}]: [conn${rnd.nextInt(9)}] query db.c${rnd.nextInt(3)} nscanned:1${if (rnd.nextBoolean()) " COLLSCAN" else ""} ${rnd.nextInt(5000)}ms"
        case _ => s"$ts $host $prog[${rnd.nextInt(99)}]: ${genBody()}"
      }
    }
    val lines = (0 until 400).map(_ => genLine())
    val raw = lines.toDF("raw")
    val slow = graft.streaming.Delivery
      .unifiedFromStatused(MetricProject.withStatus(RouteEngine.withRoutes(LogParse.parse(raw, "test-env"))))
      .collect().map(_.toString).sorted
    val fast = FastKayvee.unified(raw, "test-env").toDF()
      .collect().map(_.toString).sorted
    assert(fast.length === slow.length,
      s"row counts diverge: fast ${fast.length} vs declarative ${slow.length}")
    fast.zip(slow).foreach { case (f, s) => assert(f === s) }
  }

  test("fast route-name lane ≡ declarative routeCounts (all kvmeta route types)") {
    val mixed = corpus :+
      (header + """{"_kvmeta":{"team":"t","routes":[{"type":"analytics","series":"x","rule":"ana1"},{"type":"metrics","rule":"m1"},{"type":"alerts","series":"s","dimensions":[],"stat_type":"counter","value_field":"","rule":"a1"}]}}""")
    val raw = mixed.toDF("raw")
    val parsed = LogParse.parse(raw, "test-env").filter(col("ts").isNotNull)
    val slow = graft.agg.Aggregations
      .routeCounts(RouteEngine.withRoutes(parsed), unix_timestamp(date_trunc("minute", col("ts"))))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_.toString)
    // the route rows of the single-pass meta lane, fused aggregation
    val fast = graft.agg.Aggregations
      .metaCounts(FastKayvee.meta(raw, "test-env").toDF().filter(col("kind") === "route"))
      .select(col("window_start"), col("env"), col("application"), col("grp"), col("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_.toString)
    assert(fast.toSeq === slow.toSeq)
  }

  test("fast single-pass meta lane ≡ declarative volume ∪ route-count aggregations") {
    val raw = corpus.toDF("raw")
    val parsed = LogParse.parse(raw, "test-env").filter(col("ts").isNotNull)
    val wcol = unix_timestamp(date_trunc("minute", col("ts")))
    val vol = graft.agg.Aggregations.volumeByEnvAppTeam(parsed, wcol)
      .select(lit("vol").as("kind"), col("window_start"), col("env"), col("application"),
        col("team").as("grp"), col("log_volume_count").as("cnt"), col("log_volume_size").as("sz"))
    val rc = graft.agg.Aggregations.routeCounts(RouteEngine.withRoutes(parsed), wcol)
      .select(lit("route").as("kind"), col("window_start"), col("env"), col("application"),
        col("route").as("grp"), col("log_route_count").as("cnt"), lit(0L).as("sz"))
    val slow = vol.unionByName(rc).collect().map(_.toString).sorted
    val fast = graft.agg.Aggregations.metaCounts(FastKayvee.meta(raw, "test-env").toDF())
      .collect().map(_.toString).sorted
    assert(fast.toSeq === slow.toSeq)
  }

  test("fast status lane ≡ declarative withStatus (title, status, err)") {
    val raw = corpus.toDF("raw")
    val title = {
      val f = try_element_at(col("fields"), lit("title"))
      when(schema_of_variant(f) === "STRING", f.cast("string"))
    }
    val slow = MetricProject.withStatus(RouteEngine.withRoutes(LogParse.parse(raw, "test-env")))
      .select(title.as("title"), col("status"), coalesce(col("record_err"), lit("")).as("err"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_.toString)
    val fast = FastKayvee.status(raw, "test-env")
      .collect()
      .map(s => (s.title, s.status, s.err))
      .sortBy(_.toString)
    assert(fast.toSeq === slow.toSeq)
  }

  test("fast lane error/skip accounting matches declarative splits") {
    val raw = corpus.toDF("raw")
    val out = declarative(raw)
    val (nDead, nIgnored) = (out.deadLetter.count(), out.ignored.count())
    // recompute via the fast path primitives
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val fastStates = corpus.map { l =>
      FastKayvee.parseLine(l, "test-env", mapper) match {
        case None                                 => "dead"
        case Some(p) if p.routes.isEmpty          => "ignored"
        case Some(p) =>
          FastKayvee.encode(p) match {
            case Left(_)  => "dead"
            case Right(_) => "ok"
          }
      }
    }
    assert(fastStates.count(_ == "dead") === nDead)
    assert(fastStates.count(_ == "ignored") === nIgnored)
  }
}

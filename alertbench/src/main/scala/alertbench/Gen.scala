package alertbench

import java.util.SplittableRandom

/** Deterministic kayvee line generator. Line `i` is a pure function of
  * (seed, i, shape), so the harness can regenerate any line for the output
  * checks without keeping the stream in memory. Lines are assigned to
  * shards round-robin: line `i` is record `i / shards` of shard `i % shards`.
  *
  * The mix covers every routing path of the pipeline: kayvee counter and
  * gauge routes, CloudWatch-region routes (the four configured regions plus
  * one outside the set), the mongo / RDS / process-metrics global rules,
  * lines with no alert route (ignored) and poison lines (dead-lettered).
  */
final case class Shape(
    apps: Int, // env--app keyspace: meta aggregation width
    teams: Int,
    hosts: Int,
    regions: IndexedSeq[String], // CloudWatch-route tags
    weights: IndexedSeq[Int], // per Kind, see Gen.Kinds
    stepMicros: Long, // event-time spacing of consecutive lines
    disorderShare: Double, // share of lines stamped up to 30 s early
    lateShare: Double, // share stamped 10 min early: beyond the watermark
    lateAfter: Int // no late lines before this index (watermark not yet set)
)

object Gen {
  val Kinds = IndexedSeq("counter", "gauge", "cw", "mongo", "rds", "procmet", "noroute", "badheader", "baddim")
  val ConfiguredRegions = IndexedSeq("us-west-1", "us-west-2", "us-east-1", "us-east-2")

  /** 2026-01-01T00:00:00Z */
  val BaseMicros: Long = 1767225600L * 1000000L

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val districts = IndexedSeq.tabulate(24)(i => f"d$i%02d")
  private val titles = IndexedSeq("login_start", "login_done", "sync", "export", "import", "render",
    "billing", "search", "upload", "notify")

  /** A rendered line, its event-time lateness and its kind (index into Kinds). */
  final class Line(val text: String, val late: Boolean, val kind: Int)

  final class Generator(seed: Long, shape: Shape) {
    private val cum = shape.weights.scanLeft(0)(_ + _).tail
    private val total = cum.last
    private val sb = new java.lang.StringBuilder(1024)
    private var cachedSec = Long.MinValue
    private var cachedPrefix = ""

    /** Event time of line `i` in epoch micros, and whether it is late. */
    private def eventMicros(i: Long, r: SplittableRandom): (Long, Boolean) = {
      val due = BaseMicros + i * shape.stepMicros
      val u = r.nextDouble()
      if (i >= shape.lateAfter && u < shape.lateShare) (due - 600L * 1000000L, true)
      else if (u < shape.lateShare + shape.disorderShare) (due - r.nextLong(30L * 1000000L), false)
      else (due, false)
    }

    private def appendTs(micros: Long): Unit = {
      val sec = Math.floorDiv(micros, 1000000L)
      if (sec != cachedSec) {
        cachedSec = sec
        cachedPrefix = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      }
      val frac = Math.floorMod(micros, 1000000L)
      sb.append(cachedPrefix).append('.')
      var d = 100000L
      while (d > 0) { sb.append(((frac / d) % 10).toInt); d /= 10 }
      sb.append("+00:00")
    }

    private def header(ts: Long, host: String, app: Int, pid: Long): Unit = {
      appendTs(ts)
      sb.append(' ').append(host).append(" production--app-").append(app)
        .append("/arn%3Aaws%3Aecs%3Aus-west-2%3A589690932525%3Atask%2Ft").append(pid % 97)
        .append('[').append(pid).append("]: ")
    }

    private def kvmeta(team: Int, routes: String): Unit =
      sb.append("\"_kvmeta\":{\"team\":\"team-").append(team)
        .append("\",\"kv_version\":\"3.8.2\",\"kv_language\":\"go\",\"routes\":[").append(routes).append("]}}")

    def line(i: Long): Line = {
      val r = new SplittableRandom(mix64(seed * 0x9e3779b97f4a7c15L + i))
      val (ts, late) = eventMicros(i, r)
      val pick = r.nextInt(total)
      var kind = 0
      while (cum(kind) <= pick) kind += 1
      val app = r.nextInt(shape.apps)
      val team = r.nextInt(shape.teams)
      val host = "host-" + r.nextInt(shape.hosts)
      val title = titles(r.nextInt(titles.size))
      val district = districts(r.nextInt(districts.size))
      sb.setLength(0)
      Kinds(kind) match {
        case "counter" =>
          header(ts, host, app, i)
          sb.append("{\"seq\":").append(i).append(",\"level\":\"info\",\"title\":\"").append(title)
            .append("\",\"district\":\"").append(district).append("\",\"source\":\"oauth\",")
          kvmeta(team, "{\"type\":\"analytics\",\"series\":\"series-name\",\"rule\":\"ana-" + title +
            "\"},{\"type\":\"alerts\",\"series\":\"svc." + title +
            "\",\"dimensions\":[\"district\",\"title\"],\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"r-" +
            title + "\"}")
        case "gauge" =>
          header(ts, host, app, i)
          sb.append("{\"seq\":").append(i).append(",\"title\":\"").append(title).append("\",\"latency\":")
            .append(r.nextInt(100000) / 100.0).append(',')
          kvmeta(team, "{\"type\":\"alerts\",\"series\":\"svc.latency\",\"dimensions\":[\"title\"]," +
            "\"stat_type\":\"gauge\",\"value_field\":\"latency\",\"rule\":\"r-latency\"}")
        case "cw" =>
          header(ts, host, app, i)
          val region = shape.regions(r.nextInt(shape.regions.size))
          sb.append("{\"seq\":").append(i).append(",\"dim1\":\"").append(district)
            .append("\",\"region\":\"").append(region).append("\",\"value\":").append(1 + r.nextInt(3)).append(',')
          kvmeta(team, "{\"type\":\"alerts\",\"series\":\"ContainerExitCount\",\"dimensions\":[\"dim1\"]," +
            "\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"exit\"}")
        case "mongo" =>
          header(ts, "mongo-" + (app % 5), app, i)
          val collscan = r.nextInt(4) == 0
          sb.append("[conn").append(i).append("] update clever.students query: { district: ObjectId('")
            .append(java.lang.Long.toHexString(mix64(i))).append("') } ")
            .append(if (collscan) "planSummary: COLLSCAN " else "planSummary: IXSCAN { _id: 1 } ")
            .append("nscanned:1 nMatched:1 numYields:1 ").append(1 + r.nextInt(5000)).append("ms")
        case "rds" =>
          header(ts, "aws-rds", app, i)
          sb.append("{\"seq\":").append(i).append(",\"user\":\"clever[clever]\",\"query_time\":")
            .append(r.nextInt(1000) / 100.0).append('}')
        case "procmet" =>
          header(ts, host, app, i)
          sb.append("{\"seq\":").append(i).append(",\"via\":\"process-metrics\",\"source\":\"s")
            .append(app % 7).append("\",\"title\":\"").append(if (r.nextBoolean()) "cpu" else "mem")
            .append("\",\"type\":\"").append(if (r.nextBoolean()) "guage" else "counter")
            .append("\",\"value\":").append(r.nextInt(1000) / 10.0).append('}')
        case "noroute" =>
          header(ts, host, app, i)
          sb.append("{\"seq\":").append(i).append(",\"level\":\"info\",\"msg\":\"heartbeat\",")
          kvmeta(team, "{\"type\":\"analytics\",\"series\":\"series-name\",\"rule\":\"ana-heartbeat\"}")
        case "badheader" =>
          sb.append("garbage-").append(i).append(" no syslog header here {\"seq\":").append(i).append('}')
        case "baddim" =>
          header(ts, host, app, i)
          sb.append("{\"seq\":").append(i).append(",\"district\":{\"nested\":").append(i % 13).append("},")
          kvmeta(team, "{\"type\":\"alerts\",\"series\":\"svc.bad\",\"dimensions\":[\"district\"]," +
            "\"stat_type\":\"counter\",\"value_field\":\"value\",\"rule\":\"r-bad\"}")
      }
      new Line(sb.toString, late, kind)
    }
  }
}

package alertbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer tracing, all measured from outside the program: a
  * SparkListener keys jobs, stages and tasks to (query, micro-batch) through
  * the `sql.streaming.queryId` / `streaming.sql.batchId` job properties; the
  * progress events give per-phase trigger durations and state; the sinks'
  * spans (see [[Capture]]) give the delivery layer; a layer probe times the
  * per-record layers on the workload's own lines. */
final class Trace(spark: SparkSession) {
  final class Agg {
    var jobs = 0
    val stages = mutable.HashSet.empty[Int]
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val aggs = new ConcurrentHashMap[(String, Long), Agg]()
  private val stageKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobKey = new ConcurrentHashMap[Int, ((String, Long), Long)]()
  // SQL executions (each foreachBatch action, planning included) and the
  // batch their jobs belong to
  private val execSpan = new ConcurrentHashMap[Long, (Long, Long)]()
  private val execKey = new ConcurrentHashMap[Long, (String, Long)]()
  /** Thread CPU spent inside the hooks below: the tracing cost. */
  val hookCpuNs = new AtomicLong()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  private def timed(f: => Unit): Unit = {
    val c0 = threads.getCurrentThreadCpuTime
    f
    hookCpuNs.addAndGet(threads.getCurrentThreadCpuTime - c0)
  }
  private def agg(k: (String, Long)): Agg = aggs.computeIfAbsent(k, _ => new Agg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val q = e.properties.getProperty("sql.streaming.queryId")
      val b = e.properties.getProperty("streaming.sql.batchId")
      if (q != null && b != null) {
        val k = (q, b.toLong)
        jobKey.put(e.jobId, (k, e.time))
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => execKey.put(x.toLong, k))
        e.stageInfos.foreach(si => stageKey.put(si.stageId, k))
        val a = agg(k)
        a.synchronized { a.jobs += 1; a.stages ++= e.stageIds }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobKey.remove(e.jobId)).foreach { case (k, start) =>
        val a = agg(k)
        a.synchronized { a.jobSpans += ((start, e.time)) }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart => execSpan.put(s.executionId, (s.time, Long.MaxValue))
        case x: SparkListenerSQLExecutionEnd =>
          Option(execSpan.get(x.executionId)).foreach(sp => execSpan.put(x.executionId, (sp._1, x.time)))
        case _ => ()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageKey.get(e.stageId)).foreach { k =>
        val a = agg(k)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Length of the union of [s, e) intervals, clipped to [lo, hi). */
  private def covered(spans: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    spans.map { case (s, e) => (math.max(s.toDouble, lo), math.min(e.toDouble, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def dur(b: Batch, k: String): Double = Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private var hookAtStart, hookInWindow = 0L
  def windowStart(): Unit = hookAtStart = hookCpuNs.get
  def windowEnd(): Unit = hookInWindow = hookCpuNs.get - hookAtStart

  def report(
      window: IndexedSeq[Batch],
      meta: IndexedSeq[Batch],
      e2e: Map[String, Double],
      genLagMs: Double,
      appendedAt: Double => Long,
      checks: CheckResult,
      probe: Seq[(String, Metric)]): Seq[(String, Metric)] = {
    val krec = window.map(_.rows).sum / 1000.0
    val ids = window.map(_.id).toSet
    val dKey = (b: Batch) => (b.p.id.toString, b.id)
    val dAggs = window.map(b => Option(aggs.get(dKey(b))).getOrElse(new Agg))
    def med(xs: Seq[Double]) = Stats.medianOr(xs, 0.0)
    val addBatch = window.map(dur(_, "addBatch"))
    val execs = execKey.asScala.toSeq.groupBy(_._2).map { case (k, xs) =>
      k -> xs.flatMap(x => Option(execSpan.get(x._1))).filter(_._2 != Long.MaxValue) }
    // time of each batch covered by its jobs, and by its jobs or SQL
    // executions (planning of each action included), clipped to the trigger
    val jobCover = window.zip(dAggs).map { case (b, a) =>
      covered(a.jobSpans.toSeq, b.startMs, b.endMs).min(dur(b, "addBatch")) }
    val attributed = window.zip(dAggs).map { case (b, a) =>
      covered(a.jobSpans.toSeq ++ execs.getOrElse(dKey(b), Nil), b.startMs, b.endMs).min(dur(b, "addBatch")) }
    val metaWin = meta.filter(b => b.endMs > window.head.startMs && b.endMs <= window.last.endMs)
    val mAggs = metaWin.map(b => Option(aggs.get(dKey(b))).getOrElse(new Agg))
    val metaKrec = math.max(1.0, metaWin.map(_.rows).sum) / 1000.0
    val lastState = metaWin.lastOption.flatMap(_.p.stateOperators.headOption)

    val subs = Capture.submits.asScala.filter(s => ids.contains(s.batchId)).toIndexedSeq
    val useful = subs.count(_.accepted.exists(identity))
    val skews = subs.groupBy(_.batchId).values.map { bs =>
      val perTask = bs.filter(s => s.backoffNs == 0 && !s.narrowed).groupBy(_.partition).values.map(_.map(_.rids.length).sum)
      if (perTask.isEmpty) 1.0 else perTask.max.toDouble / (perTask.sum.toDouble / perTask.size)
    }.toSeq
    val hookShare = hookInWindow.toDouble / math.max(1.0, e2e("cpu_ns"))

    // records appended by the end of a batch that it did not read
    val lag = window.map(b => (appendedAt(b.endMs) - b.to.values.sum).toDouble)
    Seq(
      "source.latest_offset_ms_p50" -> Metric(med(window.map(dur(_, "latestOffset"))), "ms"),
      "source.get_batch_ms_p50" -> Metric(med(window.map(dur(_, "getBatch"))), "ms"),
      "source.records_per_batch_p50" -> Metric(med(window.map(_.rows.toDouble)), "count"),
      "source.lag_records_max" -> Metric(if (lag.isEmpty) 0.0 else lag.max, "count"),
      "stream.batches" -> Metric(window.size, "count"),
      "stream.trigger_ms_p50" -> Metric(med(window.map(_.durMs)), "ms"),
      "stream.planning_ms_p50" -> Metric(med(window.map(dur(_, "queryPlanning"))), "ms"),
      "stream.add_batch_ms_p50" -> Metric(med(addBatch), "ms"),
      "stream.wal_commit_ms_p50" -> Metric(med(window.map(dur(_, "walCommit"))), "ms"),
      "stream.commit_offsets_ms_p50" -> Metric(med(window.map(dur(_, "commitOffsets"))), "ms"),
      "stream.jobs_per_batch" -> Metric(med(dAggs.map(_.jobs.toDouble)), "count"),
      "stream.stages_per_batch" -> Metric(med(dAggs.map(_.stages.size.toDouble)), "count"),
      "stream.tasks_per_batch" -> Metric(med(dAggs.map(_.tasks.toDouble)), "count"),
      "stream.driver_gap_ms_p50" -> Metric(med(addBatch.zip(jobCover).map { case (a, c) => a - c }), "ms"),
      "stream.executor_cpu_ms_per_krec" -> Metric(dAggs.map(_.cpuNs).sum / 1e6 / krec, "ms/krec"),
      "stream.gc_ms_per_krec" -> Metric(dAggs.map(_.gcMs).sum / krec, "ms/krec"),
      "stream.shuffle_write_bytes_per_rec" -> Metric(dAggs.map(_.shuffleWrite).sum / (krec * 1000), "B/rec"),
      "stream.attributed_share" -> Metric(attributed.sum / math.max(1.0, addBatch.sum), "ratio"),
      "delivery.submits" -> Metric(subs.count(s => s.backoffNs == 0 && !s.narrowed), "count"),
      "delivery.rows_per_submit_p50" -> Metric(med(subs.map(_.rids.length.toDouble)), "count"),
      "delivery.records_per_submit_max" -> Metric(if (subs.isEmpty) 0 else subs.map(_.rids.distinct.length).max, "count"),
      "delivery.sink_attempts" -> Metric(subs.size, "count"),
      "delivery.useful_attempt_ratio" -> Metric(useful.toDouble / math.max(1, subs.size), "ratio"),
      "delivery.narrowed_resubmits" -> Metric(subs.count(_.narrowed), "count"),
      "delivery.backoff_wait_ms" -> Metric(subs.map(_.backoffNs).sum / 1e6, "ms"),
      "delivery.sink_busy_ms" -> Metric(subs.map(s => s.endNs - s.startNs).sum / 1e6, "ms"),
      "delivery.dead_letter_rows" -> Metric(checks.sinkDeadRows, "count"),
      "delivery.task_rows_skew" -> Metric(med(skews), "ratio"),
      "delivery.cw_puts" -> Metric(Capture.cwPuts.asScala.count(p => ids.contains(p.batchId)), "count"),
      "meta.batches" -> Metric(metaWin.size, "count"),
      "meta.trigger_ms_p50" -> Metric(med(metaWin.map(_.durMs)), "ms"),
      "meta.add_batch_ms_p50" -> Metric(med(metaWin.map(dur(_, "addBatch"))), "ms"),
      "meta.executor_cpu_ms_per_krec" -> Metric(mAggs.map(_.cpuNs).sum / 1e6 / metaKrec, "ms/krec"),
      "meta.state_rows" -> Metric(lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "meta.state_bytes" -> Metric(lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B"),
      "meta.state_commit_ms_p50" -> Metric(med(metaWin.flatMap(_.p.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      "meta.rows_dropped_late" -> Metric(metaWin.flatMap(_.p.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum, "count"),
      "meta.series_rows" -> Metric(Capture.meta.asScala.count(m => metaWin.exists(_.id == m.batchId)), "count"),
      "gen.lag_ms_max" -> Metric(genLagMs, "ms"),
      "trace.overhead_cpu_ms_per_krec" -> Metric(hookInWindow / 1e6 / krec, "ms/krec"),
      "trace.overhead_throughput_rps" -> Metric(e2e("throughput_rps") * hookShare, "rec/s"),
      "trace.overhead_latency_ms_p50" -> Metric(e2e("latency_ms_p50") * hookShare, "ms")
    ) ++ probe
  }
}

/** Times each per-record layer's public function on the workload's own
  * lines, as cumulative chains written to the `noop` format (a `count()`
  * would let Catalyst prune the JSON parse). A layer's cost is its chain's
  * time minus the previous chain's. */
object Probe {
  import graft.parse.LogParse
  import graft.routes.RouteEngine
  import graft.project.MetricProject
  import graft.streaming.Delivery

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median of `reps` timed runs after one untimed run, in ns. */
  private def time(reps: Int)(f: => Unit): Double = {
    f
    Stats.median((1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble })
  }

  def run(spark: SparkSession, lines: Seq[String], reps: Int): Seq[(String, Metric)] = {
    import spark.implicits._
    val n = lines.size.toDouble
    val raw = spark.sparkContext.parallelize(lines, 16).toDF("raw").cache()
    raw.count()
    val env = Main.DeployEnv
    val parsed = LogParse.parse(raw, env)
    val routed = RouteEngine.withRoutes(parsed)
    val tScan = time(reps)(noop(raw))
    val tParse = time(reps)(noop(parsed))
    val tRoutes = time(reps)(noop(routed))
    // the stream persists the statused frame and derives the lanes from it
    val tStatus = time(reps)(noop(MetricProject.withStatus(routed)))
    val statused = MetricProject.withStatus(routed).cache()
    statused.count()
    val tUnified = time(reps)(noop(Delivery.unifiedFromStatused(statused)))
    val tFast = time(reps)(noop(graft.fast.FastKayvee.unified(raw, env).toDF()))
    val p = MetricProject.projectStatused(statused)
    val counts = Seq(
      "parse.dead_records" -> parsed.filter($"ts".isNull).count(),
      "routes.routes_out" -> routed.selectExpr("sum(size(routes))").as[Long].head(),
      "project.dd_rows" -> p.dd.count(),
      "project.cw_rows" -> p.cw.count(),
      "project.ignored_records" -> p.ignored.count())
    statused.unpersist(); raw.unpersist()
    Seq(
      "parse.ns_per_rec" -> Metric((tParse - tScan) / n, "ns/rec"),
      "routes.ns_per_rec" -> Metric((tRoutes - tParse) / n, "ns/rec"),
      "project.ns_per_rec" -> Metric((tStatus - tRoutes + tUnified) / n, "ns/rec"),
      "fast.ns_per_rec" -> Metric((tFast - tScan) / n, "ns/rec")
    ) ++ counts.map { case (k, v) => k -> Metric(v.toDouble, "count") }
  }
}

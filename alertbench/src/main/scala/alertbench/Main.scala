package alertbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{KinesisLiteOffset, StreamPipeline}
import graft.streaming.StreamPipeline.Config

/** One workload: the stream shape the pipeline sees and how it is driven. */
final case class Spec(
    name: String,
    openLoop: Boolean,
    fetchPerShard: Int, // kinesis-lite maxRecordsPerFetch
    trigger: String,
    ratePerSec: Int, // open loop only
    backlogBatches: Int, // closed loop: backlog size in fetch-capped batches
    withMeta: Boolean, // run the meta query beside the deliver query
    shape: Shape,
    faults: Option[Faults])

object Workloads {
  val Shards = 4
  /** Open loop: event time runs this many times faster than the schedule,
    * so the 2-minute watermark closes 1-minute windows within one run
    * (tiny runs, shorter, use 40×). */
  val EventTimeSpeedup = 12
  private val narrow = Shape(apps = 8, teams = 4, hosts = 16, regions = Gen.ConfiguredRegions :+ "eu-west-1",
    weights = IndexedSeq(40, 15, 10, 5, 5, 5, 15, 2, 3), stepMicros = 5000, disorderShare = 0.0,
    lateShare = 0.0, lateAfter = Int.MaxValue)

  /** `trace`: a traced run of steady_rate adds the meta query (see README). */
  def get(name: String, seed: Long, tiny: Boolean, trace: Boolean): Spec = {
    def sz(n: Int, small: Int) = if (tiny) small else n
    name match {
      case "backlog_drain" =>
        Spec(name, openLoop = false, fetchPerShard = sz(2500, 500), trigger = "0 seconds", ratePerSec = 0,
          backlogBatches = sz(40, 12), withMeta = false, shape = narrow, faults = None)
      case "steady_rate" =>
        val rate = sz(SteadyRate, 200)
        Spec(name, openLoop = true, fetchPerShard = 10000, trigger = if (tiny) "1 second" else SteadyTrigger,
          ratePerSec = rate,
          backlogBatches = 0, withMeta = trace,
          shape = narrow.copy(apps = 3000, teams = 300, hosts = 800, stepMicros = sz(EventTimeSpeedup, 40) * 1000000L / rate,
            disorderShare = 0.1, lateShare = 0.01, lateAfter = rate * 5),
          faults = None)
      case "flaky_sink" =>
        // small batches: retry backoff makes each one take seconds, and a
        // window must hold several
        Spec(name, openLoop = false, fetchPerShard = sz(1000, 100), trigger = "0 seconds", ratePerSec = 0,
          backlogBatches = sz(40, 30), withMeta = false,
          shape = narrow.copy(regions = Gen.ConfiguredRegions ++ (1 to 20).map(i => s"xx-region-$i"),
            weights = IndexedSeq(30, 10, 30, 5, 5, 5, 10, 2, 3)),
          // tiny runs see ~100× fewer records: raise the shares so every
          // failure kind still occurs
          faults = Some(Faults(seed, poisonShare = sz(2, 20) * 1e-4, partialShare = sz(2, 20) * 1e-3,
            wholeOnceShare = 0.03, wholeTwiceShare = 0.01)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
  /** steady_rate's trigger and offered rate (rec/s), chosen once so that a
    * warm deliver micro-batch takes about half of the trigger (see README). */
  val SteadyTrigger = "3 seconds"
  val SteadyRate = 300
}

/** A completed micro-batch, read off the query's progress. */
final case class Batch(id: Long, startMs: Double, endMs: Double, rows: Long,
    from: Map[String, Long], to: Map[String, Long], p: StreamingQueryProgress) {
  def durMs: Double = endMs - startMs
}

object Batch {
  /** Arrival time (epoch ms, sub-ms resolution) of each progress event, by
    * (query id, batch id): a finer batch end than the progress fields. */
  private val arrivals = new java.util.concurrent.ConcurrentHashMap[(String, Long), Double]()
  /** JVM counters at each progress event, by (query id, batch id). */
  val counters = new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Long, Long)]()
  object Clocked extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      arrivals.put((e.progress.id.toString, e.progress.batchId), Clock.nowMs())
      counters.put((e.progress.id.toString, e.progress.batchId), Jvm.snapshot())
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def of(p: StreamingQueryProgress): Batch = {
    val msStart = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val msDur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
    // the progress fields have ms resolution; anchor on the event arrival
    val end = Option(arrivals.get((p.id.toString, p.batchId))).getOrElse(msStart + msDur)
    val src = p.sources.head
    def off(s: String) = if (s == null || s == "null") Map.empty[String, Long] else KinesisLiteOffset.fromJson(s).shards
    Batch(p.batchId, msStart, end, p.numInputRows, off(src.startOffset), off(src.endOffset), p)
  }
  /** JIT compile time (ms, JVM total) when batch `b` ended. */
  def jitMs(b: Batch): Option[Long] = Option(counters.get((b.p.id.toString, b.id))).map(_._1)
  def completed(q: StreamingQuery): IndexedSeq[Batch] =
    q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0).map(of).sortBy(_.id)
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
    launchMs: Double, tiny: Boolean, corrupt: Boolean)

object Main {
  val DeployEnv = "production"

  def log(s: String): Unit = System.err.println(s"[alertbench] $s")

  private def parseArgs(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), m.get("launch-ms").map(_.toDouble)
        .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      m.get("tiny").contains("1"), m.get("corrupt").contains("1"))
  }

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("alertbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // checkpoint and state-store files through the Hadoop FileSystem API,
      // i.e. the fork-free NioLocalFileSystem above; the default FileContext
      // manager forks one `chmod` per file on hosts without native Hadoop
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spec = Workloads.get(args.workload, args.seed, args.tiny, args.trace)
    args.work.mkdirs()
    try {
      val (info, result) = Run(args, spec).execute()
      System.out.println(info)
      System.out.println(result)
      System.out.flush()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // no result line: the run failed
    }
  }
}

/** One benchmark run: set up, warm up, measure, check, report. */
final case class Run(args: Args, spec: Spec) {
  import Main.log
  private val shards = Workloads.Shards
  private val streamDir = new File(args.work, "stream")
  private val dlq = new File(args.work, "dead-letter").getAbsolutePath
  private val cores = 4

  /** Index of a line (global) from its shard file and sequence number. */
  def globalIndex(shard: String, seqNo: Long): Long =
    seqNo * shards + shard.stripPrefix("shard-").stripSuffix(".txt").toInt

  // ---- generation -------------------------------------------------------

  /** Lines [0, total) rendered before timing into per-shard staging files;
    * [[appendUpTo]] then only copies bytes into the shard files the source
    * reads, so appending costs no rendering and holds no lines on the heap. */
  final class Staged(val total: Long) {
    private val stageDir = new File(args.work, "staging")
    private val ends = new Array[Array[Long]](shards)
    private val done = new Array[Int](shards)
    @volatile var appended = 0L
    locally {
      stageDir.mkdirs()
      val ts = (0 until shards).map { s =>
        val t = new Thread(() => {
          val g = new Gen.Generator(args.seed, spec.shape)
          val n = ((total - s + shards - 1) / shards).toInt
          val os = new BufferedOutputStream(new FileOutputStream(new File(stageDir, s"stage-$s")), 1 << 20)
          val e = new Array[Long](n)
          var pos = 0L
          var k = 0
          while (k < n) {
            val b = (g.line(k.toLong * shards + s).text + "\n").getBytes("UTF-8")
            os.write(b); pos += b.length; e(k) = pos; k += 1
          }
          os.close()
          ends(s) = e
          new FileOutputStream(new File(streamDir, s"shard-$s.txt")).close()
        })
        t.start(); t
      }
      ts.foreach(_.join())
    }
    private val in = Array.tabulate(shards)(s =>
      java.nio.channels.FileChannel.open(new File(stageDir, s"stage-$s").toPath))
    private val out = Array.tabulate(shards)(s => java.nio.channels.FileChannel.open(
      new File(streamDir, s"shard-$s.txt").toPath, java.nio.file.StandardOpenOption.APPEND))

    /** Appends whole lines so that lines [0, n) are in the shard files. */
    def appendUpTo(n0: Long): Unit = {
      val n = math.min(n0, total)
      var s = 0
      while (s < shards) {
        val hi = ((n - s + shards - 1) / shards).max(0).toInt
        val lo = done(s)
        if (hi > lo) {
          val from = if (lo == 0) 0L else ends(s)(lo - 1)
          var pos = from
          val to = ends(s)(hi - 1)
          while (pos < to) pos += in(s).transferTo(pos, to - pos, out(s))
          done(s) = hi
        }
        s += 1
      }
      appended = math.max(appended, n)
    }
    def close(): Unit = { in.foreach(_.close()); out.foreach(_.close()) }
  }

  /** Open-loop generator: appends the staged lines on a fixed schedule,
    * line i due at start + i / rate, regardless of how the consumer keeps up. */
  final class OpenLoop(staged: Staged, rate: Int, val first: Long) extends Thread("generator") {
    setDaemon(true)
    @volatile var running = true
    @volatile var startNs = 0L
    @volatile var maxLagMs = 0.0
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
    /** When line `i` (>= `first`) is due. */
    def dueMs(i: Long): Double = Clock.epochMs(startNs) + (i - first) * 1000.0 / rate
    /** The first line due at or after epoch ms `t`. */
    def lineAt(t: Double): Long = first + math.ceil((t - Clock.epochMs(startNs)) * rate / 1000.0).toLong
    override def run(): Unit = {
      startNs = System.nanoTime()
      while (running && staged.appended < staged.total) {
        val now = System.nanoTime()
        val due = first + ((now - startNs) * rate / 1000000000L) + 1
        val from = staged.appended
        if (due > from) {
          staged.appendUpTo(due)
          maxLagMs = math.max(maxLagMs, (System.nanoTime() - startNs) / 1e6 - (from - first) * 1000.0 / rate)
          progress.add((Clock.nowMs(), staged.appended))
        }
        Thread.sleep(2)
      }
    }
    def halt(): Unit = { running = false; join() }
  }

  // ---- the run ------------------------------------------------------------

  private def totalLines: Long =
    if (spec.openLoop) coldLines + spec.ratePerSec.toLong * (Run.MaxWarmSec + args.seconds + 25)
    else spec.fetchPerShard.toLong * shards * spec.backlogBatches
  private def batchLines: Long = spec.fetchPerShard.toLong * shards
  /** Lines of the first, cold micro-batch: closed loop, a tenth of a fetch;
    * open loop, one trigger interval's worth. */
  private def coldLines: Long =
    if (spec.openLoop) spec.ratePerSec.toLong * Run.triggerSec(spec) else batchLines / 10

  /** Starts the deliver query and, when the workload runs it, the meta
    * query, each reading the kinesis-lite stream with its own checkpoint. */
  private def startQueries(spark: SparkSession): (StreamingQuery, Option[StreamingQuery]) = {
    def reader(): DataFrame = spark.readStream.format("kinesis-lite")
      .option("path", streamDir.getAbsolutePath)
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerFetch", spec.fetchPerShard.toString)
      .load()
    def ckpt(q: String) = Some(new File(args.work, s"ckpt-$q").getAbsolutePath)
    val cfg = Config(Main.DeployEnv, triggerInterval = spec.trigger, deadLetterPath = Some(dlq))
    val dq = StreamPipeline.deliver(reader(), cfg.copy(checkpointLocation = ckpt("deliver")), new DdSink,
      Some(new RecordingCwSink)).queryName("deliver").start()
    val mq = if (spec.withMeta) Some(StreamPipeline.shipMetaSeries(reader(), cfg.copy(checkpointLocation =
      ckpt("meta")), new MetaSink).queryName("meta").start()) else None
    (dq, mq)
  }

  /** Closed loop: the first batch reads [[coldLines]], so the cold start
    * (planning, code generation, class loading) runs on a small batch; the
    * rest of the backlog is appended once it completes, and every later
    * batch is fetch-capped. */
  private def topUp(staged: Staged, dq: StreamingQuery): Unit =
    staged.appendUpTo(if (dq.lastProgress == null) coldLines else staged.total)

  def execute(): (String, String) = {
    streamDir.mkdirs()
    Capture.reset(spec.faults)
    val sampler = new CpuSampler
    sampler.start()
    // every line is rendered before the queries start; closed loop: the
    // backlog is appended during warm-up, open loop: on the generator's clock
    var staged: Staged = null
    val genThread = new Thread(() => { staged = new Staged(totalLines) })
    genThread.start()
    val spark = Main.session(cores, args.work)
    log(f"session ready at ${(Clock.nowMs() - args.launchMs) / 1000}%.2f s")
    genThread.join()
    log(f"lines rendered at ${(Clock.nowMs() - args.launchMs) / 1000}%.2f s")
    spark.streams.addListener(Batch.Clocked)
    val trace = if (args.trace) Some(new Trace(spark)) else None
    // the cold first batch reads lines appended before the queries start;
    // the open-loop generator's clock starts once that batch has completed
    val gen = if (spec.openLoop) Some(new OpenLoop(staged, spec.ratePerSec, coldLines)) else None
    staged.appendUpTo(coldLines)
    val (dq, mq) = startQueries(spark)
    val queries = dq +: mq.toSeq

    // warm-up: same shape, untimed, until the JIT is done: at least
    // MinWarmBatches batches after the cold first one, and over the last two
    // the JIT compiled for under 2% of their time. With the launcher's JIT
    // settings that holds from the third batch on, and batch durations stay
    // flat from there (README). At most MaxWarmBatches, and no longer than
    // MaxWarmSec after the queries start.
    val warmDeadline = Clock.nowMs() + Run.MaxWarmSec * 1000.0
    val minWarm = if (args.tiny) 2 else Run.MinWarmBatches
    var warm = IndexedSeq.empty[Batch]
    def jitQuiet(bs: IndexedSeq[Batch]): Boolean = {
      val (a, b) = (bs(bs.size - 3), bs.last)
      (Batch.jitMs(a), Batch.jitMs(b)) match {
        case (Some(ja), Some(jb)) => jb - ja <= 0.02 * (b.endMs - a.endMs)
        case _ => false
      }
    }
    def settled(bs: IndexedSeq[Batch]): Boolean = {
      val full = bs.size - 1
      full >= Run.MaxWarmBatches || full >= minWarm && (args.tiny || jitQuiet(bs))
    }
    var seen = -1L
    while (!settled(warm) && Clock.nowMs() < warmDeadline) {
      failIfDead(queries: _*)
      Thread.sleep(5)
      if (!spec.openLoop) topUp(staged, dq)
      val last = Option(dq.lastProgress).map(_.batchId).getOrElse(-1L)
      if (last != seen) {
        seen = last; warm = Batch.completed(dq)
        if (warm.nonEmpty) gen.filter(_.getState == Thread.State.NEW).foreach(_.start())
      }
    }
    if (!settled(warm)) log(s"warm-up: JIT still busy after ${Run.MaxWarmSec} s")
    failIfDead(queries: _*)
    require(warm.nonEmpty, "no micro-batch completed during warm-up")
    val t0 = warm.last.endMs
    val setupS = (t0 - args.launchMs) / 1000.0
    log(f"warm-up: ${warm.size} batches (ms: ${warm.map(_.durMs.toInt).mkString(",")}), set-up $setupS%.2f s")

    trace.foreach(_.windowStart())
    val t1 = t0 + args.seconds * 1000.0
    // closed loop: the window also ends when the backlog is drained
    var drained = false
    while (Clock.nowMs() < t1 && !drained) {
      failIfDead(queries: _*)
      if (!spec.openLoop) {
        topUp(staged, dq)
        val p = dq.lastProgress
        if (p != null && p.batchId != seen) {
          seen = p.batchId
          drained = staged.appended == staged.total && Batch.of(p).to.values.sum == staged.total
        }
      }
      Thread.sleep(5)
    }
    if (drained) log("the backlog was drained before the window ended")
    trace.foreach(_.windowEnd())
    gen.foreach(_.halt())
    queries.foreach(_.stop())
    // once the queries have stopped: what the process keeps across micro-
    // batches, without the working set of a batch in flight (which depends
    // on where in the batch the collection lands)
    val liveMb = Proc.liveMb()
    staged.close()
    sampler.halt()

    val all = Batch.completed(dq)
    val window = all.filter(b => b.startMs >= t0 - 1 && b.endMs <= t1)
    require(window.size >= 2, "fewer than two deliver micro-batches completed inside the timed window")
    // records handled per second. Closed loop: the window's records, from
    // the end of the batch before its first to the end of its last. Open
    // loop: a batch reads what arrived since the one before it started, so
    // the records of all but the window's first batch, from its first
    // batch's start to its last's (an end-to-end span would follow how long
    // the two end batches happened to take)
    val prevEnd = all.filter(_.id < window.head.id).lastOption.map(_.endMs).getOrElse(window.head.startMs)
    val spanMs = window.last.endMs - prevEnd
    val rows = window.map(_.rows).sum
    val throughput =
      if (spec.openLoop) window.tail.map(_.rows).sum * 1000.0 / (window.last.startMs - window.head.startMs)
      else rows * 1000.0 / spanMs
    val cpuNs = sampler.cpuAt(window.last.endMs) - sampler.cpuAt(prevEnd)

    // latency: from when a record was due to its first accepted DD submit
    val firstAccept = new scala.collection.mutable.LongMap[Double]()
    Capture.submits.asScala.foreach { s =>
      val ms = Clock.epochMs(s.endNs)
      var k = 0
      while (k < s.rids.length) {
        if (s.accepted(k) && ms < firstAccept.getOrElse(s.rids(k), Double.MaxValue)) firstAccept.update(s.rids(k), ms)
        k += 1
      }
    }
    val g = new Gen.Generator(args.seed, spec.shape)
    // (line index, due ms): open loop, the generator's schedule; closed
    // loop, the start of the micro-batch that read the line
    val dueOf: Iterator[(Long, Double)] = gen match {
      // the records due from the window's first batch start to its last's,
      // which its later batches read: whole trigger intervals, so the wait
      // for the next trigger is spread evenly over each
      case Some(o) =>
        (o.lineAt(window.head.startMs) until o.lineAt(window.last.startMs)).iterator.map(i => i -> o.dueMs(i))
      case None =>
        window.iterator.flatMap { b =>
          b.to.iterator.flatMap { case (sh, end) =>
            (b.from.getOrElse(sh, 0L) until end).iterator.map(q => globalIndex(sh, q) -> b.startMs)
          }
        }
    }
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    dueOf.foreach { case (i, due) => firstAccept.get(Checks.rid(g.line(i).text)).foreach(a => lat += (a - due)) }
    require(lat.nonEmpty, "no record of the timed window was delivered")
    val latP50 = Stats.median(lat)
    val latP90 = Stats.quantile(lat, 0.9)
    log(f"window: ${window.size} micro-batches, $rows records in ${spanMs / 1000}%.2f s; " +
      s"latency sample: ${lat.size} records over ${window.size} micro-batches")
    val drift = {
      val d = window.map(_.durMs)
      val q = math.max(1, (d.size + 3) / 4)
      Stats.median(d.takeRight(q)) / Stats.median(d.take(q))
    }
    log("window batch durations (ms): " + window.map(b => f"${b.durMs}%.0f").mkString(","))
    log("per batch [ms, jit cpu ms, gc ms, janino]: " + all.sliding(2).map { case Seq(a, b) =>
      val (j0, g0, c0) = Batch.counters.getOrDefault((b.p.id.toString, a.id), (0L, 0L, 0L))
      val (j1, g1, c1) = Batch.counters.getOrDefault((b.p.id.toString, b.id), (0L, 0L, 0L))
      f"[${b.durMs}%.0f ${j1 - j0} ${g1 - g0} ${c1 - c0}]"
    }.mkString(" "))
    log(f"drift: median batch duration, last / first quarter of the window = $drift%.3f")
    // JIT compile time from the end of the batch before the window to the
    // end of its last batch: what the window still spent warming up
    val windowJitMs = (for {
      prev <- all.filter(_.id < window.head.id).lastOption
      a <- Batch.jitMs(prev)
      b <- Batch.jitMs(window.last)
    } yield b - a).getOrElse(-1L)

    log(f"checks start at ${(Clock.nowMs() - args.launchMs) / 1000}%.1f s")
    val checks = Checks.run(spark, this, dq, mq, t0, args.corrupt)
    checks.notes.foreach(n => log("check: " + n))

    val e2e = Seq(
      "throughput_rps" -> Metric(throughput, "rec/s"),
      "latency_ms_p50" -> Metric(latP50, "ms"),
      "latency_ms_p90" -> Metric(latP90, "ms"),
      "cpu_ms_per_krec" -> Metric(cpuNs / 1e6 / (rows / 1000.0), "ms/krec"),
      "live_mb" -> Metric(liveMb, "MB"),
      "setup_s" -> Metric(setupS, "s"))
    val metrics = trace match {
      case None => e2e
      case Some(t) =>
        log(f"probe starts at ${(Clock.nowMs() - args.launchMs) / 1000}%.1f s")
        val probe = Probe.run(spark, (0L until math.min(totalLines, ProbeLines)).map(g.line(_).text), reps = 2)
        log(f"probe done at ${(Clock.nowMs() - args.launchMs) / 1000}%.1f s")
        val progress = gen.map(_.progress.asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
        def appendedAt(ms: Double): Long =
          if (spec.openLoop) progress.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0L) else totalLines
        val layers = t.report(window, mq.map(Batch.completed).getOrElse(IndexedSeq.empty),
          e2e.map { case (k, m) => k -> m.value }.toMap + ("cpu_ns" -> cpuNs),
          gen.map(_.maxLagMs).getOrElse(0.0), appendedAt, checks, probe)
        stopSession(spark)
        val oneCore = Run(args.copy(work = new File(args.work, "one-core")),
          Workloads.get("backlog_drain", args.seed, args.tiny, trace = false)).oneCoreThroughput()
        log(f"single-core drain done at ${(Clock.nowMs() - args.launchMs) / 1000}%.1f s")
        layers :+ ("scale.throughput_rps_1core" -> Metric(oneCore, "rec/s"))
    }
    stopSession(spark)
    val info = f"""{"info": {"drift": $drift%.4f, "window_batches": ${window.size}, "latency_records": ${lat.size}, """ +
      f""""window_records": $rows, "warm_batches": ${warm.size}, "window_jit_ms": $windowJitMs, "gen_lag_ms_max": ${gen.map(_.maxLagMs).getOrElse(0.0)}%.1f}}"""
    (info, Json.result(checks.failed == 0, checks.attempted, checks.failed, metrics))
  }

  /** Single-core baseline: the backlog_drain shape at local[1], timed over
    * its first fetch-capped batch after a small cold batch. */
  def oneCoreThroughput(): Double = {
    streamDir.mkdirs()
    Capture.reset(None)
    val staged = new Staged(batchLines + coldLines)
    val spark = Main.session(1, args.work)
    spark.streams.addListener(Batch.Clocked)
    staged.appendUpTo(coldLines)
    val (dq, mq) = startQueries(spark)
    val queries = dq +: mq.toSeq
    val deadline = Clock.nowMs() + 90000
    var done = IndexedSeq.empty[Batch]
    while (!done.exists(_.rows == batchLines) && Clock.nowMs() < deadline) {
      failIfDead(queries: _*)
      Thread.sleep(10)
      done = Batch.completed(dq)
      topUp(staged, dq)
    }
    queries.foreach(_.stop()); staged.close()
    stopSession(spark)
    done.find(_.rows == batchLines).map(b => b.rows * 1000.0 / b.durMs)
      .getOrElse(throw new IllegalStateException("single-core drain did not complete a full batch"))
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val ProbeLines = 10000L

  private def failIfDead(qs: StreamingQuery*): Unit = qs.foreach { q =>
    q.exception.foreach(e => throw new IllegalStateException(s"query ${q.name} failed", e))
    if (!q.isActive) throw new IllegalStateException(s"query ${q.name} stopped")
  }

  def deadLetterPath: String = dlq
}

object Run {
  /** Bounds on the warm-up: deliver batches after the cold first one, and
    * seconds after the queries start. */
  val MinWarmBatches = 3
  val MaxWarmBatches = 10
  val MaxWarmSec = 60
  def triggerSec(spec: Spec): Int = spec.trigger.takeWhile(_.isDigit).toInt
}

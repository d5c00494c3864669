package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Benchmark main, two modes over the same rep discipline ([[runRep]]) at
  * SPARK_GRAFT_SF_DIR, after the same untimed warm-up (JIT, codegen caches,
  * parquet footers, fast-lane classloading) at its `sf0.001` sibling:
  *   - `runMain graft.Bench` — suite mode: every declared query, JSON
  *     lines with per-query and total seconds (below);
  *   - `runMain graft.Bench <reps> <lane...>` — lane mode ([[lanes]]):
  *     `reps` interleaved rounds over just those lanes, then per lane the
  *     round times and min, the min rep's phases, and its job and stage
  *     profile, plus a JVM health line per round.
  *
  * Steal-aware measurement (round-7): this host shows bursty hypervisor
  * CPU steal — a rep can measure 10-40× its true cost (BENCH_r06 published
  * 32.8 s for a query that measures 1.57 s clean). Mitigations, layered:
  *   1. each query runs in TWO interleaved full rounds (a burst spanning
  *      back-to-back reps of one query can't poison both);
  *   2. per-rep /proc/stat steal-jiffie deltas are sampled around every
  *      rep; a rep whose steal fraction exceeds STEAL_FRAC, or a query
  *      whose two reps disagree by more than DISAGREE, triggers a THIRD
  *      rep (one extra interleaved round over just the suspect queries);
  *   3. the headline number is the min over reps (steal only inflates),
  *      and the JSON carries the per-rep time and steal arrays so a
  *      polluted run is diagnosable from the artifact alone;
  *   4. (round-11) calibration probes run BETWEEN query segments and
  *      each rep is drift-corrected by its own segment's probe relative
  *      to the run median, queries over 2 s get a third mandatory rep,
  *      and the cross-round anchor stays raw × REF_CALIB / min(pre,
  *      post) — so mid-run contention corrects locally while r11+
  *      totals remain comparable with earlier rounds' estimator.
  * Cold-cache per rep (cleanup between), so the min is a real uncached run.
  */
object Bench {

  /** Hypervisor steal jiffies from the aggregate cpu line of /proc/stat
    * (field 8 after the "cpu" tag: user nice system idle iowait irq
    * softirq steal). 0 when unreadable (non-Linux / masked procfs).
    */
  def stealJiffies(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  /** Fixed single-thread CPU probe (~0.2 s on an unloaded core): measures
    * the machine's scalar speed at bench time. Steal counters catch
    * bursty hypervisor preemption, but a SUSTAINED whole-run slowdown
    * (frequency scaling, co-tenant memory bandwidth) inflates every rep
    * equally and is invisible to /proc/stat — the calibration ratio
    * between two runs is the normalizer for their totals. Emitted twice
    * (before warm-up, after the last rep) so drift within a run is
    * visible too. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 200000000) { x += i * 2654435761L; i += 1 }
    if (x == 42) System.err.println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Whole-machine probe: the same loop on every core at once (wall time
    * of the slowest thread). The single-thread probe misses co-tenant
    * MULTI-CORE pressure — an observed run was uniformly ~20% slow with
    * retried=2 and a FAST scalar calib; only an all-cores probe sees that
    * mode. `calib_par / calib` ≈ 1 on an idle host; >1 means the cores
    * are contended and the run's totals are inflated beyond what
    * `total_calib_normalized` corrects. */
  def calibratePar(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        var x = 0L
        var i = 0
        while (i < 200000000) { x += i * 2654435761L; i += 1 }
        if (x == 42) System.err.println("")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Inter-query cleanup (also asserted by DeclareGateSpec): queries
    * persist/localCheckpoint frames internally and a single JVM runs all
    * declared queries back to back; without this the storage pool fills
    * and a full-GC pause lands on whichever query happens to be running
    * (the round-4 roving 10-15 s spikes). Runs OUTSIDE the timed region.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Local property naming the lane whose rep launched a job. Set on the
    * driver thread for the rep's timed region; Spark's local properties
    * are inheritable, so jobs submitted from threads the rep starts
    * (`ParallelJobs`, broadcast and subquery pools) carry it too. */
  val LaneProperty = "graft.bench.lane"

  /** A finished job: submit/finish epoch ms, stage and task counts. */
  final case class JobRec(id: Int, desc: String, submitted: Long,
                          finished: Long, stages: Int, tasks: Int)

  /** A completed stage: wall (-1 when a timestamp is missing), executor
    * run, CPU and GC time, all in ms. */
  final case class StageRec(id: Int, wallMs: Long, runMs: Long, cpuMs: Long,
                            gcMs: Long, tasks: Int)

  /** One rep: wall seconds (-1 on failure), steal fraction of machine
    * capacity, the lane's phases, and the jobs and stages it launched. */
  final case class Rep(seconds: Double, stealFrac: Double,
                       phases: Map[String, Double], jobs: Seq[JobRec],
                       stages: Seq[StageRec])

  /** Collects the jobs and stages of one lane's rep. A stage is charged
    * through the job that submitted it: `onJobStart` carries the job's
    * local properties, so the lane is fixed when the job is submitted,
    * not read from driver state when the (asynchronous, possibly lagging)
    * listener bus delivers the stage's completion. */
  private final class RepListener(lane: String) extends SparkListener {
    private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val live = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val stages = new ConcurrentLinkedQueue[StageRec]()

    private def prop(e: SparkListenerJobStart, k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (prop(e, LaneProperty).contains(lane)) {
        e.stageIds.foreach(stageIds.add)
        // the result stage (created last) is named after the action's call site
        val desc = prop(e, "spark.job.description")
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        live.put(e.jobId, JobRec(e.jobId, desc, e.time, 0L,
          e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(live.remove(e.jobId)).foreach(j => jobs.add(j.copy(finished = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (stageIds.contains(si.stageId)) {
        val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a)
          .getOrElse(-1L)
        val tm = Option(si.taskMetrics)
        stages.add(StageRec(si.stageId, wall,
          tm.fold(0L)(_.executorRunTime), tm.fold(0L)(_.executorCpuTime / 1000000L),
          tm.fold(0L)(_.jvmGCTime), si.numTasks))
      }
    }
  }

  /** One timed cold rep of `name`. USER_HZ is 100 on every mainstream
    * Linux; `hostCpus` must be the HOST core count
    * (`Runtime.availableProcessors`) because /proc/stat aggregates steal
    * over all host CPUs — scaling by the Spark parallelism env var would
    * mis-state the fraction whenever the two differ. The rep's listener
    * is drained before it returns, so its jobs and stages are complete.
    */
  def runRep(spark: SparkSession, name: String, sfDir: String,
             hostCpus: Int): Rep = {
    val sc = spark.sparkContext
    val listener = new RepListener(name)
    sc.addSparkListener(listener)
    // Per-rep phase capture (round-20, verdict item 2): phases must come
    // from the SAME rep that produces the published min, or the artifact
    // mixes reps (r19's q_ann_recall_beam phase sum read 121% of its
    // headline because per-phase mins and the lane min came from
    // different reps). The buffer is cleared at rep start and snapshotted
    // at rep end; a phase that executes twice within one rep (a loop)
    // sums, because both executions are inside this rep's wall time.
    phaseTimes.clear()
    sc.setLocalProperty(LaneProperty, name)
    val s0 = stealJiffies()
    val t0 = System.nanoTime()
    val ok =
      try { SparkEntry.queries(name)(spark, sfDir).count(); true }
      catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      finally sc.setLocalProperty(LaneProperty, null)
    val dt = (System.nanoTime() - t0) / 1e9
    val steal = stealJiffies() - s0
    // Only this lane's phases count (all phase keys are lane-prefixed;
    // shared helpers parameterize their prefix) — a stray cross-lane key
    // would otherwise attribute one lane's work to another's rep.
    val phs = phaseTimes.asScala.collect {
      case (k, ts) if k.startsWith(name + ".") => k -> ts.sum
    }.toMap
    try org.apache.spark.sql.GraftShims.drainListenerBus(sc, 60000L)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"BENCH WARN: listener bus not drained after $name; its job stats may be short")
    }
    sc.removeSparkListener(listener)
    cleanup(spark)
    val stealFrac =
      if (dt > 0) steal.toDouble / (dt * 100.0 * hostCpus) else 0.0
    Rep(if (ok) dt else -1.0, stealFrac, phs,
      listener.jobs.asScala.toSeq.sortBy(_.id), listener.stages.asScala.toSeq.sortBy(_.id))
  }

  /** Sub-phase wall times recorded by instrumented query bodies
    * (q_compact_apply's manufacture vs rewrite), appended once per
    * execution. Bench emits the per-phase min alongside the per-query
    * mins ("phases" in the JSON), so a regression in a composite query's
    * headline number is attributable to its phase without re-profiling.
    * Verify and the specs execute the same bodies and append harmlessly —
    * only Bench reads this. */
  val phaseTimes =
    new java.util.concurrent.ConcurrentHashMap[String, List[Double]]()

  /** Time `body` into [[phaseTimes]] under `name`. Records ONLY on
    * successful completion: a body that throws mid-phase would otherwise
    * contribute a truncated sample, and the emitted per-phase min could
    * then undercut the query's own min (which comes only from successful
    * reps) — exactly the misattribution the field exists to prevent. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    phaseTimes.merge(name, List((System.nanoTime() - t0) / 1e9), _ ++ _)
    r
  }

  /** The single-thread calibration time measured on the reference host
    * (the round-7 judge run: calib_pre 0.0847 s, calib_post 0.0885 s).
    * `total_calib_normalized` = total × REF_CALIB / min(pre, post) maps a
    * run's total onto reference-machine speed so cross-round comparisons
    * need no hand math; min-of-two because steal/contention only inflate
    * the probe, never deflate it.
    */
  val REF_CALIB = 0.085

  /** The calibration wait-loop cap from `GRAFT_BENCH_CALIB_WAITS`; a
    * malformed value (e.g. "60s") falls back to 12 with a warning instead
    * of failing the bench before it measures anything. */
  def calibWaitCap(raw: Option[String]): Int = raw.fold(12) { v =>
    scala.util.Try(v.trim.toInt).getOrElse {
      System.err.println(s"BENCH WARN: GRAFT_BENCH_CALIB_WAITS=\"$v\" is not an integer; using 12")
      12
    }
  }

  private def d4s(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))

  // a rep is suspect when >5% of machine capacity was stolen during it,
  // or when the two reps of a query disagree by >3× — either way a third
  // interleaved rep runs and the min is taken.
  val STEAL_FRAC = 0.05
  val DISAGREE = 3.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.flatMap(_.toIntOption)
    require(args.isEmpty || (reps.exists(_ >= 1) && args.length > 1),
      "usage: graft.Bench [<reps> <lane...>]")
    val unknown = args.drop(1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(", ")}")
    warmDir(sfDir) // fail before calibrating, not after
    val spark = GraftSession.local("graft-bench")
    if (args.isEmpty) suite(spark, sfDir)
    else lanes(spark, sfDir, reps.get, args.toSeq.drop(1), println)
    spark.stop()
  }

  /** Bench's untimed warm-up lanes. q_ann_recall_pq_trained is included
    * because its first execution pays ~10 s of codegen/JIT that would
    * otherwise pollute rep1 of the heaviest query in the suite (min-of-reps
    * absorbs it, but the rep arrays should reflect the query, not the
    * compiler). */
  private val WARM_LANES =
    Seq("q_dim_project", "q_tag_batch", "q1_agg", "q_similarity_topk",
      "q_ann_recall_pq_trained")

  /** The warm-up fixture: the `sf0.001` sibling of `sfDir` (the smallest
    * SF exercises the same code paths). Fails when it is missing rather
    * than run cold. */
  private def warmDir(sfDir: String): String = {
    val d = new java.io.File(
      new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    require(d.isDirectory, s"Bench warm-up dir not found: $d (the sf0.001 sibling of $sfDir)")
    d.getPath
  }

  /** Runs `names` once each at [[warmDir]], untimed; failures are ignored
    * (the timed rep reports them). */
  private def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val dir = warmDir(sfDir)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).count()
      catch { case _: Throwable => }
      cleanup(spark)
    }
  }

  /** Index of a rep list's min among successful reps (-1 if none). Ties
    * break toward the LATER rep (r19 advice): on an exact time tie
    * between a shared rep and a later controlled (isolated/extra) rep,
    * provenance should name the controlled one, and phases should come
    * from it. */
  private[graft] def minRepIdx(ts: Seq[Double]): Int = {
    val clean = ts.zipWithIndex.filter(_._1 >= 0)
    if (clean.isEmpty) -1
    else {
      val m = clean.map(_._1).min
      clean.filter(_._1 == m).map(_._2).max
    }
  }

  /** A phase whose name prefixes another phase of the same lane (e.g.
    * q_hybrid_delete.bm25_lifecycle containing .bm25_lifecycle.build) is
    * an umbrella: it times a span that CONTAINS its children. */
  private def isUmbrella(phs: Map[String, Double], k: String): Boolean =
    phs.keys.exists(o => o != k && o.startsWith(k + "."))

  /** Sum of a rep's leaf (non-umbrella) phases — disjoint spans inside
    * the rep's wall time, so never above it. */
  private def leafSum(phs: Map[String, Double]): Double =
    phs.collect { case (k, v) if !isUmbrella(phs, k) => v }.sum

  /** One-line JVM health: GC counts/times, code heap, metaspace and old
    * gen occupancy, and total JIT time. */
  private def jvmHealth(): String = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => s"${b.getName.replace(' ', '_')}=${b.getCollectionCount}/${b.getCollectionTime}ms").mkString(",")
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Metaspace") || p.getName.contains("Old"))
      .map(p => s"${p.getName.replace(' ', '_')}=${p.getUsage.getUsed / 1048576}MB").mkString(",")
    val ct = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    s"gc[$gc] pools[$pools] jit=${ct}ms"
  }

  /** Lane mode: the warm-up (Bench's lanes plus `names`), then `reps`
    * interleaved rounds of [[runRep]] over `names` with a HEALTH line
    * after each round; then, per lane, its round times and min (`TIME`),
    * the min rep's phases (`PHASE`, `ATTRIB`), and its job profile
    * (`PROFILE`: jobs, stages, tasks, the union of job spans and the
    * driver gap outside it; `JOB` lines of ≥20 ms, `STAGE` lines of
    * ≥100 ms). Returns each lane's reps in round order. */
  def lanes(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String],
            out: String => Unit): Map[String, Seq[Rep]] = {
    val hostCpus = Runtime.getRuntime.availableProcessors
    warmUp(spark, sfDir, (WARM_LANES ++ names).distinct)
    val byLane = names.map(_ -> Vector.newBuilder[Rep]).toMap
    (1 to reps).foreach { r =>
      names.foreach { n =>
        val rep = runRep(spark, n, sfDir, hostCpus)
        byLane(n) += rep
        System.err.println(f"ROUND $r $n ${rep.seconds}%.2f")
      }
      out(s"HEALTH round=$r ${jvmHealth()}")
    }
    val result = byLane.map { case (n, b) => n -> b.result() }
    names.foreach { n =>
      val rs = result(n)
      val idx = minRepIdx(rs.map(_.seconds))
      out(s"TIME $n " + rs.map(r => d2(r.seconds)).mkString(" ") +
        " min=" + (if (idx < 0) "failed" else d2(rs(idx).seconds)))
      if (idx >= 0) {
        val m = rs(idx)
        m.phases.toSeq.sortBy(_._1).foreach { case (ph, t) =>
          out(s"PHASE $ph ${d2(t)}" + (if (isUmbrella(m.phases, ph)) " (umbrella)" else "") + " (min rep)")
        }
        if (m.phases.nonEmpty)
          out(s"ATTRIB $n ${d1(100 * leafSum(m.phases) / m.seconds)}% " +
            s"(leaf sum ${d2(leafSum(m.phases))} of ${d2(m.seconds)})")
        // union of job spans, so overlapping ParallelJobs count once
        val spans = m.jobs.map(j => (j.submitted, j.finished)).sorted
        val jobMs = spans.foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
        }._1
        out(s"PROFILE $n wall=${d2(m.seconds)} jobs=${m.jobs.size} " +
          s"jobwall=${d2(jobMs / 1e3)} driverGap=${d2(m.seconds - jobMs / 1e3)} " +
          s"stages=${m.stages.size} tasks=${m.stages.map(_.tasks).sum}")
        m.jobs.filter(j => j.finished - j.submitted >= 20).foreach { j =>
          out(s"  JOB ${j.id} ${d2((j.finished - j.submitted) / 1e3)}s " +
            s"stages=${j.stages} tasks=${j.tasks}  ${j.desc.take(110)}")
        }
        m.stages.filter(_.wallMs >= 100).foreach { st =>
          out(s"  STAGE ${st.id} wall=${d2(st.wallMs / 1e3)}s run=${d2(st.runMs / 1e3)}s " +
            s"cpu=${d2(st.cpuMs / 1e3)}s gc=${d2(st.gcMs / 1e3)}s tasks=${st.tasks}")
        }
      }
    }
    result
  }

  private def d1(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
  private def d2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** Suite mode: every declared query, JSON lines on stdout (the last one
    * compact) and the full line in bench_latest.json. */
  private def suite(spark: SparkSession, sfDir: String): Unit = {
    // Steal fractions scale by the HOST core count (/proc/stat aggregates
    // over all host CPUs), independent of the Spark parallelism setting.
    val hostCpus = Runtime.getRuntime.availableProcessors

    // one untimed probe first: the very first run of the loop pays JIT
    // compilation, so an unwarmed calib_pre can read 10-30% slower than
    // every later probe and skew min(pre, post) — all recorded probes
    // must measure the same (hot) quantity
    calibrate()
    // Calibration-health gate (round-12 verdict: both r12 runs shipped
    // calib_pre ≈ 0.110 vs ref 0.085 and the ~27% uniform "regression"
    // cost the judge an hour to attribute to contention). A round's
    // official artifact should come from a calibration-healthy window:
    // when the scalar probe reads > CALIB_HEALTHY_RATIO × REF_CALIB the
    // box is contended NOW, so wait and re-probe instead of measuring
    // garbage. If the window never comes the run proceeds — a late
    // number beats no number — but the artifact self-certifies via
    // "calib_pre_healthy" so a polluted run can never masquerade as a
    // clean one.
    val CALIB_HEALTHY_RATIO = 1.1
    // Wait-loop cap, env-tunable (round-20 verdict item 8): official
    // artifacts should come from a healthy window, so a local official
    // run can raise the cap (e.g. GRAFT_BENCH_CALIB_WAITS=60 = 10 min);
    // the default stays 12 so driver-run benches never stall >2 min.
    val maxWaits = calibWaitCap(sys.env.get("GRAFT_BENCH_CALIB_WAITS"))
    var calibPre = calibrate()
    var calibWaits = 0
    while (calibPre > CALIB_HEALTHY_RATIO * REF_CALIB && calibWaits < maxWaits) {
      calibWaits += 1
      System.err.println(
        s"BENCH CALIB UNHEALTHY (${d4s(calibPre)} > ${CALIB_HEALTHY_RATIO}x$REF_CALIB), wait $calibWaits/$maxWaits")
      Thread.sleep(10000)
      calibPre = calibrate()
    }
    val calibPreHealthy = calibPre <= CALIB_HEALTHY_RATIO * REF_CALIB
    // Parallel-calib publish gate (round-18 verdict item 2): BOTH r18
    // runs started with calib_par_pre 2.5-2.9× calib_par_post while the
    // scalar gate read healthy — the cores-contended-scalar-fine mode —
    // and the committed artifact carried +52-79% start-contention
    // inflation on two heavy lanes under a "±15%" narrative. The
    // all-cores probe must ALSO settle before the run counts as a
    // publishable window: on an idle host calib_par ≈ calib (same loop
    // per core), so the gate is calib_par ≤ PAR_HEALTHY_RATIO × the
    // just-measured healthy scalar probe. Like the scalar gate, a
    // window that never comes doesn't block the run — the artifact
    // self-certifies via calib_par_pre_healthy.
    val PAR_HEALTHY_RATIO = 1.5
    var calibParPre = calibratePar()
    var parWaits = 0
    while (calibParPre > PAR_HEALTHY_RATIO * calibPre && parWaits < maxWaits) {
      parWaits += 1
      System.err.println(
        s"BENCH PAR CALIB UNHEALTHY (${d4s(calibParPre)} > ${PAR_HEALTHY_RATIO}x${d4s(calibPre)}), wait $parWaits/$maxWaits")
      Thread.sleep(10000)
      calibPre = math.min(calibPre, calibrate())
      calibParPre = calibratePar()
    }
    // Composed with the scalar flag (r19 advice): on a host whose scalar
    // probe never settled, calibPre is inflated and the par ratio is
    // measured against a bad denominator — the par flag alone could read
    // healthy on exactly the contended hosts this gate exists for.
    val calibParPreHealthy =
      calibPreHealthy && calibParPre <= PAR_HEALTHY_RATIO * calibPre

    warmUp(spark, sfDir, WARM_LANES)

    val names = SparkEntry.queries.keys.toSeq
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val steals = scala.collection.mutable.Map.empty[String, List[Double]]
    val calibs = scala.collection.mutable.Map.empty[String, List[Double]]
    val repPhases =
      scala.collection.mutable.Map.empty[String, List[Map[String, Double]]]
    val repKinds = scala.collection.mutable.Map.empty[String, List[String]]
    // (stages, tasks, max tasks in any one stage) over ALL of a lane's reps
    val laneStats = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    def record(name: String, rep: Rep, calib: Double, kind: String): Unit = {
      times(name) = times.getOrElse(name, Nil) :+ rep.seconds
      steals(name) = steals.getOrElse(name, Nil) :+ rep.stealFrac
      calibs(name) = calibs.getOrElse(name, Nil) :+ calib
      repPhases(name) = repPhases.getOrElse(name, Nil) :+ rep.phases
      repKinds(name) = repKinds.getOrElse(name, Nil) :+ kind
      val (st, tk, mx) = laneStats.getOrElse(name, (0L, 0L, 0L))
      val nts = rep.stages.map(_.tasks.toLong)
      laneStats(name) = (st + nts.size, tk + nts.sum, (mx +: nts).max)
    }
    // Per-SEGMENT calibration (round-10 hardening): a single pre/post
    // scalar probe cannot correct contention that arrives MID-run — the
    // r10 artifact swung +27% normalized on queries whose source didn't
    // change, because the machine ran ~48% slow for part of the run and
    // the one global ratio split the difference. So the run is cut into
    // segments of SEGMENT queries with a probe between each; every rep is
    // normalized by min(probe-before, probe-after) of ITS segment (min
    // because contention only ever inflates the probe), and the
    // normalized total sums per-rep normalized minima. Probe cost is
    // (#segments+1) × ~0.1 s per round, outside the timed regions.
    val SEGMENT = 12
    def runRound(round: Seq[String], kind: String): Unit = {
      var pre = calibrate()
      round.grouped(SEGMENT).foreach { seg =>
        val reps = seg.map(n => n -> runRep(spark, n, sfDir, hostCpus))
        val post = calibrate()
        val segCalib = math.min(pre, post)
        reps.foreach { case (n, rep) => record(n, rep, segCalib, kind) }
        pre = post
      }
    }
    val REPS_BASE = 2
    (1 to REPS_BASE).foreach(_ => runRound(names, "shared"))
    // ISOLATED third rep for every multi-second query (round-17 verdict
    // item 4 — heavy lanes previously took their mandatory extra rep
    // interleaved in the shared segments, and the builder's 7-lane batch
    // experiments measured up to 2x session pollution on exactly those
    // lanes; the published artifact inherited it and needed a forensic
    // appendix every round). Each heavy lane's extra rep now runs ALONE:
    // the storage pool is emptied, a full GC plus a short settle keeps
    // the previous lane's tail (shuffle cleanup, GC, temp-dir deletes)
    // out of the timed region, and the rep is bracketed by its OWN
    // calibration probes so the drift normalizer corrects per-lane. The
    // two interleaved rounds double as the warm-in (JIT/codegen is hot
    // by round 3), so min-of-reps lands on the controlled number — the
    // ReproBench decay curves that justified min-of-N after round 1.
    // (A per-lane fresh session was measured irrelevant here: storage,
    // code cache, and the catalog live on the shared context, and every
    // lane already writes JVM-unique table names.)
    val HEAVY_SEC = 2.0
    val heavies = names.filter { n =>
      val ok = times(n).filter(_ >= 0)
      ok.nonEmpty && ok.min > HEAVY_SEC
    }
    if (heavies.nonEmpty) {
      System.err.println(s"BENCH ISOLATED (heavy): ${heavies.mkString(",")}")
      heavies.foreach { n =>
        cleanup(spark)
        Thread.sleep(500)
        val pre = calibrate()
        val rep = runRep(spark, n, sfDir, hostCpus)
        val post = calibrate()
        record(n, rep, math.min(pre, post), "isolated")
      }
    }
    // Third interleaved rep for the SMALL lanes too (r19 verdict item 8):
    // two reps of a sub-2 s lane leave sub-second noise reading as a
    // round-over-round regression (r19's q_filter_predicates 1.98/1.42
    // shipped as a +58% "move" that was pure sampling). One extra
    // interleaved round over the small lanes costs ~1/3 of a base round
    // and gives every lane in the artifact at least three samples.
    val smalls = names.filterNot(heavies.contains)
    if (smalls.nonEmpty) runRound(smalls, "extra")
    // retry pass over steal-polluted / disagreeing queries (still
    // interleaved so the retries of different queries decorrelate
    // against a fresh burst).
    val suspects = names.filter { n =>
      val ok = times(n).filter(_ >= 0)
      val polluted = steals(n).exists(_ > STEAL_FRAC)
      val disagree = ok.size >= 2 && ok.max / ok.min.max(1e-9) > DISAGREE
      ok.nonEmpty && (polluted || disagree) && !heavies.contains(n)
    }
    if (suspects.nonEmpty) {
      System.err.println(s"BENCH RETRY (steal/disagree): ${suspects.mkString(",")}")
      runRound(suspects, "retry")
    }

    // A failed MANDATORY rep records -1 (not its fast wall time to the
    // throw) and is listed in "failed" — a regression must look broken,
    // not quick. A failed RETRY rep, by contrast, is "no additional
    // sample": the retry pass exists to rescue polluted measurements, so
    // a transient failure there must not discard two clean mandatory reps
    // (runRep already logged the failure to stderr).
    val results = names.map { n =>
      val ts = times(n)
      val mandatoryFailed = ts.take(REPS_BASE).exists(_ < 0)
      val clean = ts.filter(_ >= 0)
      n -> (if (mandatoryFailed || clean.isEmpty) -1.0 else clean.min)
    }.toMap
    // JSON must be locale-independent: f"%.4f" uses the JVM default
    // locale (comma decimals under e.g. de_DE break parsers), so all
    // fixed-point formatting goes through Locale.ROOT.
    def d4(x: Double): String = d4s(x)
    def arr(xs: List[Double]) = xs.map(d4).mkString("[", ",", "]")
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(names.map(n => n -> results(n).toString))
    val repTimes = obj(names.map(n => n -> arr(times(n))))
    val repSteal = obj(names.map(n => n -> arr(steals(n))))
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val calibPost = calibrate()
    val calibParPost = calibratePar()
    // Normalized headline, two-level (round-11): segment probes correct
    // INTRA-run drift only — each rep is scaled by (run-median segment
    // calib / its own segment's calib), so a slow stretch mid-run
    // corrects by the probes that bracketed it — and the cross-round
    // anchor stays the LEGACY estimator, raw × REF_CALIB / min(pre,
    // post), so r11+ numbers mean the same thing r9/r10's do. (A pure
    // per-segment × REF formula was tried first and rejected: segment
    // probes are hot and single-threaded, so on a host whose CORES are
    // contended but whose scalar speed is fine — calib_par/calib ≈ 3
    // on this run — it inflates the total vs every prior round's
    // methodology.)
    val allSegCalibs = names.flatMap(calibs(_)).sorted
    val cMed =
      if (allSegCalibs.isEmpty) REF_CALIB
      else allSegCalibs(allSegCalibs.size / 2)
    val runCalib0 = math.min(calibPre, calibPost)
    val totalNorm = names.map { n =>
      val pairs = times(n).zip(calibs(n))
        .filter { case (t, _) => t >= 0 }
      val mandatoryFailed = times(n).take(REPS_BASE).exists(_ < 0)
      if (mandatoryFailed || pairs.isEmpty) 0.0
      else pairs.map { case (t, c) => t * cMed / math.max(c, 1e-9) }.min
    }.sum * REF_CALIB / math.max(runCalib0, 1e-9)
    // "reps_base" is the mandatory round count; queries that tripped the
    // steal/disagree/heavy retry carry reps_base+1 entries in rep_times
    // (the old fixed "reps":2 field misdescribed retried queries).
    val repCalib = obj(names.map(n => n -> arr(calibs(n))))
    // Index of the rep that produced the published min.
    def minRepIdx(n: String): Int = Bench.minRepIdx(times(n))
    // Phases of the min rep ONLY (round-20, verdict item 2): every phase
    // value in the artifact comes from the same execution that produced
    // the lane's published headline, so Σ(leaf phases) ≤ headline holds
    // by construction and is machine-checked below. Umbrella phases are
    // listed separately so a naive sum doesn't double-count them.
    val minPhasesByLane: Map[String, Map[String, Double]] = names.map { n =>
      val idx = minRepIdx(n)
      val phs = repPhases.getOrElse(n, Nil)
      n -> (if (idx >= 0 && idx < phs.size) phs(idx) else Map.empty[String, Double])
    }.toMap
    val allPhases = minPhasesByLane.values.flatten.toSeq.sortBy(_._1)
    val phases = obj(allPhases.map { case (k, v) => k -> d4(v) })
    val umbrellas = minPhasesByLane.flatMap { case (_, phs) =>
      phs.keys.filter(isUmbrella(phs, _))
    }.toSeq.sorted
    val umbrellaArr = umbrellas.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Publish-time machine check: for every lane, the sum of its min-rep
    // LEAF phases must not exceed its published headline (leaves are
    // disjoint spans inside the rep's wall time; an excess means a phase
    // leaked across reps or a background thread recorded into the lane).
    val phaseSumViolations = names.filter { n =>
      results(n) >= 0 && leafSum(minPhasesByLane(n)) > results(n) + 1e-6
    }
    if (phaseSumViolations.nonEmpty)
      System.err.println(
        s"BENCH PHASE-SUM VIOLATION: ${phaseSumViolations.mkString(",")}")
    val phaseSumOk = phaseSumViolations.isEmpty
    val phaseViolArr =
      phaseSumViolations.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isolatedArr = heavies.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-lane provenance of the published min (round-18 verdict item 8):
    // which rep kind produced it — "shared" (interleaved base round),
    // "isolated" (the heavy lane's own-bracket pass), "extra" (the small-
    // lane third interleaved round), or "retry" (the steal/disagree
    // rescue round) — so an auditor can see at a glance whether a heavy
    // lane's number came from its controlled rep without diffing
    // artifacts. Provenance refers to the raw "queries" min; the
    // normalized total may be driven by a different rep.
    val minRepKind = obj(names.map { n =>
      val idx = minRepIdx(n)
      val kind =
        if (idx < 0 || results(n) < 0) "failed"
        else repKinds(n)(idx)
      n -> ("\"" + kind + "\"")
    })
    // Per-lane scheduler stats (round-20 verdict item 7): stage/task
    // counts summed over the stage records of ALL of the lane's reps
    // (divide by "reps" for per-rep structure; max_stage_tasks is
    // rep-invariant). A lane with many stages but max_stage_tasks far
    // below the core count is job-overhead-bound, machine-visibly, from
    // one artifact — no cross-config run needed.
    val laneStatsJson = obj(names.map { n =>
      val (st, tk, mx) = laneStats.getOrElse(n, (0L, 0L, 0L))
      n -> s"""{"reps":${times(n).size},"stages":$st,"tasks":$tk,"max_stage_tasks":$mx}"""
    })
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"phases":$phases,"phase_umbrellas":$umbrellaArr,"phase_provenance":"min-rep","phase_sum_ok":$phaseSumOk,"phase_sum_violations":$phaseViolArr,"failed":$failed,"reps_base":$REPS_BASE,"agg":"min","norm":"segment-drift+global-anchor","segment_size":$SEGMENT,"rep_times":$repTimes,"rep_steal":$repSteal,"rep_calib":$repCalib,"lane_stats":$laneStatsJson,"steal_frac_threshold":$STEAL_FRAC,"disagree_ratio":$DISAGREE,"retried":${suspects.size},"isolated":$isolatedArr,"min_rep_kind":$minRepKind,"host_cpus":$hostCpus,"calib_pre":${d4(calibPre)},"calib_pre_healthy":$calibPreHealthy,"calib_wait_retries":$calibWaits,"calib_post":${d4(calibPost)},"calib_par_pre":${d4(calibParPre)},"calib_par_pre_healthy":$calibParPreHealthy,"par_wait_retries":$parWaits,"calib_par_post":${d4(calibParPost)},"ref_calib":$REF_CALIB,"total_calib_normalized":${d4(totalNorm)},"sf":"$sfDir"}"""
    println(full)
    // The full line is long and has been tail-truncated in past round
    // artifacts; persist it and follow with a SHORT headline line so any
    // tail capture still contains a parseable total.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_latest.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH: could not write bench_latest.json: ${e.getMessage}")
    }
    println(s"""{"metric":"total_summary","value":${d4(total)},"unit":"sec","nqueries":${names.size},"failed":${results.values.count(_ < 0)},"retried":${suspects.size},"calib_pre":${d4(calibPre)},"calib_pre_healthy":$calibPreHealthy,"calib_post":${d4(calibPost)},"total_calib_normalized":${d4(totalNorm)},"sf":"$sfDir"}""")
    // LAST stdout line (round-20 verdict item 2): the full provenance line
    // is ~45 KB (per-rep arrays for 200+ lanes) and has been tail-truncated
    // in every driver capture since r14, so PERF_* carried no per-query
    // table. This line is the driver contract line in COMPACT form —
    // metric/value/unit/queries/sf only, 4-decimal seconds, no rep arrays,
    // < 8 KB for 209 lanes — emitted last so even a tail-only capture
    // contains the whole per-query map. Full provenance stays above and in
    // bench_latest.json.
    val qsCompact = obj(names.map(n => n -> d4(results(n))))
    println(s"""{"metric":"total","value":${d4(total)},"unit":"sec","queries":$qsCompact,"failed":${results.values.count(_ < 0)},"retried":${suspects.size},"calib_pre":${d4(calibPre)},"calib_pre_healthy":$calibPreHealthy,"calib_par_pre_healthy":$calibParPreHealthy,"total_calib_normalized":${d4(totalNorm)},"sf":"$sfDir"}""")
  }
}

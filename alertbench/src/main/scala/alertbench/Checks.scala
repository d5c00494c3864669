package alertbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.agg.Aggregations
import graft.parse.LogParse
import graft.project.MetricProject
import graft.routes.RouteEngine
import graft.streaming.StreamPipeline

final case class CheckResult(attempted: Long, failed: Long, sinkDeadRows: Long, notes: Seq[String])

/** Output checks against a batch recompute over the same lines. Each
  * violation counts as one failed operation; the attempted operations are
  * the input records checked.
  *
  *  1. coverage: every record the deliver query read (warm-up and timed
  *     window alike) that has an alert route is DD-submitted at least once
  *     or dead-lettered, and every poison record is dead-lettered. The
  *     routed / poison / ignored status of each line kind comes from the
  *     batch recompute over the sampled batches;
  *  2. no submit carries more than 100 records of one tag (every submit);
  *  3. CloudWatch is put only for configured regions, after the same
  *     records' DD submit succeeded (every put);
  *  4. delivered + dead-lettered DD points equal `MetricProject.project`
  *     over the lines of the sampled batches (the first ones of the window,
  *     [[CheckedRecords]] records or just over), up to duplicates;
  *  5. with the meta query, meta series values equal a static `metaAgg`
  *     recompute, for 1-minute windows the watermark has closed and the
  *     recomputed lines fully cover; comparing no point at all is a failure.
  *
  * With `corrupt`, one output is falsified per check before checking (the
  * self-test: each check must report a violation).
  */
object Checks {
  val BatchCount = 100
  /** Lines the meta check recomputes, ending at the last checked line. */
  val MetaLines = 50000L
  /** Records the point-by-point recompute (check 4) covers, in whole deliver
    * batches from the start of the window: enough for every routing path,
    * few enough to keep a run short. */
  val CheckedRecords = 10000L

  def rid(line: String): Long =
    XxHash64Function.hash(UTF8String.fromString(line), StringType, 42L)

  def run(spark: SparkSession, run: Run, dq: StreamingQuery, mq: Option[StreamingQuery], t0: Double,
      corrupt: Boolean): CheckResult = {
    import spark.implicits._
    val shards = Workloads.Shards
    val notes = mutable.ArrayBuffer.empty[String]
    val deliver = Batch.completed(dq)
    def lines(bs: Seq[Batch]): IndexedSeq[Long] = bs.flatMap { b =>
      b.to.toSeq.flatMap { case (sh, end) => (b.from.getOrElse(sh, 0L) until end).map(run.globalIndex(sh, _)) }
    }.toIndexedSeq.sorted
    // the sample: records read by the first deliver batches of the timed
    // window, CheckedRecords or just over; the meta check also needs
    // earlier lines, since its closed windows start before the window
    val inWindow = deliver.filter(_.startMs >= t0 - 1)
    val sample = inWindow.take(1 + inWindow.scanLeft(0L)(_ + _.rows).tail.takeWhile(_ < CheckedRecords).size)
    val sampleLines = lines(sample)
    val hi = (0 until shards).map(s => sample.last.to.getOrElse(s"shard-$s.txt", 0L) * shards).min
    val batchIds = sample.map(_.id).toSet
    val g = new Gen.Generator(run.args.seed, run.spec.shape)
    val checked = sampleLines.map(g.line)
    // parallelized, not a local relation: a LocalRelation scans as one task
    def frame(xs: Seq[String]) = spark.sparkContext.parallelize(xs, 4 * shards).toDF("raw")
    val raw = frame(checked.map(_.text)).cache()
    val universe = mutable.LongMap.empty[Int] // rid -> 0 routed, 1 poison, 2 ignored
    // the same public chain as StreamPipeline.metrics, with the statused
    // frame persisted so the three lanes share one parse
    val statused = MetricProject.withStatus(RouteEngine.withRoutes(LogParse.parse(raw, Main.DeployEnv))).persist()
    val p = MetricProject.projectStatused(statused)
    val tick = System.nanoTime()
    def lap(what: String): Unit = Main.log(f"checks: $what at ${(System.nanoTime() - tick) / 1e9}%.2f s")
    val expected = mutable.HashSet.empty[Long]
    p.dd.select("record_id", "metric", "type", "tags", "point_ts", "point_value", "rule", "tag").collect()
      .foreach { r =>
        expected += Digest.dd(r.getLong(0), r.getString(1), r.getString(2), r.getSeq[String](3), r.getLong(4),
          r.getDouble(5), r.getString(6), r.getString(7))
        universe.update(r.getLong(0), 0)
      }
    p.deadLetter.select(col("raw")).as[String].collect().foreach(l => universe.update(rid(l), 1))
    p.ignored.select(col("record_id")).as[Long].collect().foreach(r => universe.update(r, 2))
    statused.unpersist()
    raw.unpersist()
    lap("batch recompute")
    // status of each line kind, where the sample shows it to be uniform
    val kindStatus: Map[Int, Int] = checked.groupBy(_.kind).flatMap { case (k, ls) =>
      ls.flatMap(l => universe.get(rid(l.text))).distinct match {
        case Seq(st) => Some(k -> st)
        case _ => None
      }
    }
    var failed = 0L
    def violate(n: Long, what: String): Unit = if (n > 0) { failed += n; notes += s"$n × $what" }

    // what the sinks saw
    val subs = Capture.submits.asScala.toIndexedSeq
    val acceptSeq = mutable.LongMap.empty[Long] // rid -> first accepting submit
    subs.foreach { s =>
      var k = 0
      while (k < s.rids.length) {
        if (s.accepted(k) && acceptSeq.getOrElse(s.rids(k), Long.MaxValue) > s.seqNo) acceptSeq.update(s.rids(k), s.seqNo)
        k += 1
      }
    }
    val got = mutable.HashSet.empty[Long]
    subs.filter(s => batchIds.contains(s.batchId)).foreach { s =>
      var k = 0
      while (k < s.rids.length) { if (s.accepted(k)) got += s.digests(k); k += 1 }
    }
    val sinkDead = mutable.LongMap.empty[Unit]
    val sinkDir = new java.io.File(run.deadLetterPath, "sink")
    if (sinkDir.exists()) spark.read.parquet(sinkDir.getPath).filter(col("kind") === "dd")
      .select("tag", "dd").collect().foreach { r =>
        val dd = r.getStruct(1)
        sinkDead.update(dd.getLong(0), ())
        if (universe.contains(dd.getLong(0))) got += Digest.ddRow(dd, r.getString(0))
      }
    val parseDead = mutable.LongMap.empty[Unit]
    val parseDir = new java.io.File(run.deadLetterPath, "parse")
    if (parseDir.exists()) spark.read.parquet(parseDir.getPath).select("raw").as[String].collect()
      .foreach(l => parseDead.update(rid(l), ()))
    lap("dead letters read")

    val puts = mutable.ArrayBuffer.empty[Capture.CwPut] ++ Capture.cwPuts.asScala
    val capSubs = mutable.ArrayBuffer.empty[Long] ++ subs.map(_.rids.distinct.length.toLong)
    val gotMetaFix: Map[(String, String, Long), Double] => Map[(String, String, Long), Double] =
      if (corrupt) m => m.headOption.map { case (k, v) => m.updated(k, v + 1) }.getOrElse(m) else identity
    if (corrupt) {
      // one falsified output per check
      universe.collectFirst { case (r, 0) if acceptSeq.contains(r) && !sinkDead.contains(r) => r }
        .foreach(acceptSeq.remove)
      capSubs += BatchCount + 1
      acceptSeq.headOption.foreach { case (r, _) =>
        puts += new Capture.CwPut(0L, -1L, "eu-west-1", Array.empty, 0L)
        puts += new Capture.CwPut(0L, -1L, Gen.ConfiguredRegions.head, Array(r), 0L)
      }
      if (got.nonEmpty) got -= got.head
      notes += "self-test: one output falsified per check"
    }

    // 1. coverage, over every record the deliver query read
    val allLines = lines(deliver)
    var covered, uncovered, unknown = 0L
    var poisonLost, windowSinkDead = 0L
    val windowFrom = deliver.find(_.startMs >= t0 - 1).map(b => lines(Seq(b)).head).getOrElse(Long.MaxValue)
    allLines.foreach { i =>
      val l = g.line(i)
      val r = rid(l.text)
      kindStatus.get(l.kind) match {
        case Some(0) =>
          covered += 1
          if (!acceptSeq.contains(r) && !sinkDead.contains(r)) uncovered += 1
          if (i >= windowFrom && sinkDead.contains(r)) windowSinkDead += 1
        case Some(1) => covered += 1; if (!parseDead.contains(r)) poisonLost += 1
        case Some(_) => covered += 1
        case None => unknown += 1
      }
    }
    lap("coverage")
    violate(uncovered, "[coverage] routed record neither DD-submitted nor dead-lettered")
    violate(poisonLost, "[coverage] poison record not dead-lettered")
    // 2. per-tag batch cap
    violate(capSubs.count(_ > BatchCount).toLong, s"[batch cap] submit with more than $BatchCount records")
    // 3. CloudWatch only for configured regions, after DD success
    violate(puts.count(p => !Gen.ConfiguredRegions.contains(p.region)).toLong, "[cw region] CloudWatch put for an unconfigured region")
    violate(puts.map(p => p.rids.count(r => acceptSeq.getOrElse(r, Long.MaxValue) > p.seqNo).toLong).sum,
      "[cw order] CloudWatch datum put before its record's DD submit succeeded")
    // 4. DD points equal the batch recompute, up to duplicates
    violate((expected -- got).size, "[dd points] expected DD point never delivered nor dead-lettered")
    violate((got -- expected).size, "[dd points] delivered DD point not in the batch recompute")
    // 5. meta series over closed, fully covered windows
    mq.foreach { q =>
      val (metaPoints, metaBad) = checkMeta(spark, run, q, g, hi, frame, gotMetaFix)
      violate(metaBad, "[meta] meta series value differs from the static recompute")
      violate(if (metaPoints == 0) 1 else 0, "[meta] no closed, covered window to compare")
      notes += s"compared $metaPoints meta series points"
    }
    lap("meta recompute")
    notes += s"coverage over ${allLines.size} records read ($unknown of kinds without a uniform status); " +
      s"recomputed ${universe.size} records (${universe.count(_._2 == 1)} poison, " +
      s"${universe.count(_._2 == 2)} without alert route), ${expected.size} DD points; ${puts.size} CW puts"
    CheckResult(covered, failed, windowSinkDead, notes.toSeq)
  }

  /** Meta series shipped for 1-minute windows that the watermark closed and
    * the recomputed lines fully cover, against a static `metaAgg`; returns
    * (points compared, points that differ). */
  private def checkMeta(spark: SparkSession, run: Run, mq: StreamingQuery, g: Gen.Generator, hi: Long,
      frame: Seq[String] => org.apache.spark.sql.DataFrame,
      falsify: Map[(String, String, Long), Double] => Map[(String, String, Long), Double]): (Int, Int) = {
    val shards = Workloads.Shards
    val meta = Batch.completed(mq)
    val metaHi = math.min(hi, (0 until shards).map(s => meta.last.to.getOrElse(s"shard-$s.txt", 0L) * shards).min)
    val wmSec = Option(mq.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(0L)
    // a window is covered when no line outside [metaLo, metaHi) can fall in
    // it: lines are at most 30 s early (late ones are excluded: the
    // watermark drops them)
    val step = run.spec.shape.stepMicros
    val metaLo = math.max(0L, hi - MetaLines)
    // (no line precedes line 0: from there, the first window is covered
    // from its start; the base is minute-aligned)
    val coverFrom =
      if (metaLo == 0) Gen.BaseMicros / 1000000L else (Gen.BaseMicros + metaLo * step) / 1000000L + 30
    val coverTo = math.min((Gen.BaseMicros + metaHi * step) / 1000000L - 30, wmSec)
    val metaLines = (metaLo until metaHi).iterator.map(g.line).filter(!_.late).map(_.text).toSeq
    val grouped = StreamPipeline.metaAgg(frame(metaLines), Main.DeployEnv)
      .select(unix_timestamp(col("window_start")).as("window_start"), col("kind"), col("env"),
        col("application"), col("grp"), col("cnt"), col("sz"))
    def inWindow(ts: Long) = ts >= coverFrom && ts + 60 <= coverTo
    val expMeta = Aggregations.metaSeriesUnified(grouped).collect()
      .filter(r => !r.isNullAt(3) && inWindow(r.getLong(3)))
      .map(r => (r.getString(0), r.getString(2), r.getLong(3)) -> r.getDouble(4)).toMap
    val gotMeta = falsify(Capture.meta.asScala.filter(m => m.pointTs != Long.MinValue && inWindow(m.pointTs))
      .toSeq.sortBy(_.seqNo).map(m => (m.metric, m.tags, m.pointTs) -> m.value).toMap)
    (expMeta.size, (expMeta.keySet ++ gotMeta.keySet).count(k => expMeta.get(k) != gotMeta.get(k)))
  }
}

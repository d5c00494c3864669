package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.{BatchSink, Config}

/** Structured-streaming wrapper tests: delivery with retry, dead-letter
  * spill, watermarked volume agg, and checkpointed restart without
  * reprocessing. */
object SinkState {
  val delivered = new ConcurrentLinkedQueue[(String, Int)]()
  val deliveredMetrics = new ConcurrentLinkedQueue[String]()
  // meta-series submissions with values: (metric, tags_str, point_ts, point_value)
  val seriesPoints = new ConcurrentLinkedQueue[(String, String, Long, Double)]()
  val threads = new ConcurrentLinkedQueue[String]()
  val attempts = new AtomicInteger(0)
  val failuresToInject = new AtomicInteger(0)
  // when >0: throw PartialSendBatchError listing the LAST row, n times
  val partialFailures = new AtomicInteger(0)
  val cwDelivered = new ConcurrentLinkedQueue[(String, Int)]()
  val cwAttempts = new AtomicInteger(0)
  val cwFail = new AtomicInteger(0)
  // every accepted row, keyed by tag (DD) or region (CW)
  val ddRows = new ConcurrentLinkedQueue[(String, Row)]()
  val cwRows = new ConcurrentLinkedQueue[(String, Row)]()
  // every accepted submit in arrival order: (lane "dd" | "cw", tag, first field of each row)
  val log = new ConcurrentLinkedQueue[(String, String, Seq[Any])]()
  // every DD submit attempt, failed ones included: (tag, first field of each row)
  val submits = new ConcurrentLinkedQueue[(String, Seq[Any])]()
  def reset(failures: Int = 0, partial: Int = 0, cwFailures: Int = 0): Unit = {
    delivered.clear(); deliveredMetrics.clear(); seriesPoints.clear(); threads.clear()
    attempts.set(0); failuresToInject.set(failures); partialFailures.set(partial)
    cwDelivered.clear(); cwAttempts.set(0); cwFail.set(cwFailures)
    ddRows.clear(); cwRows.clear(); log.clear(); submits.clear()
  }
}

class TestSink extends BatchSink {
  override def submit(tag: String, rows: Seq[Row]): Unit = {
    SinkState.attempts.incrementAndGet()
    SinkState.submits.add((tag, rows.map(_.get(0))))
    SinkState.threads.add(Thread.currentThread().getName)
    if (SinkState.failuresToInject.getAndDecrement() > 0)
      throw new RuntimeException("injected sink failure")
    SinkState.failuresToInject.set(math.max(SinkState.failuresToInject.get(), 0))
    if (SinkState.partialFailures.get() > 0 && rows.size > 1) {
      SinkState.partialFailures.decrementAndGet()
      // all but the last row accepted — PartialSendBatchError semantics
      accept(tag, rows.init)
      throw new graft.streaming.Delivery.PartialSendBatchError("partial", Seq(rows.last))
    }
    accept(tag, rows)
  }

  /** Records accepted rows in every SinkState view, whether the submit
    * accepted all of them or only part. */
  private def accept(tag: String, rows: Seq[Row]): Unit = {
    rows.foreach(r => SinkState.deliveredMetrics.add(r.getAs[String]("metric")))
    rows.foreach(r => SinkState.ddRows.add((tag, r)))
    rows.filter(r => r.schema != null && r.schema.fieldNames.contains("tags_str")).foreach { r =>
      SinkState.seriesPoints.add((r.getAs[String]("metric"), r.getAs[String]("tags_str"),
        r.getAs[Long]("point_ts"), r.getAs[Double]("point_value")))
    }
    SinkState.delivered.add((tag, rows.size))
    SinkState.log.add(("dd", tag, rows.map(_.get(0))))
  }
}

class TestCwSink extends graft.streaming.Delivery.CwSink {
  override def putMetricData(region: String, rows: Seq[Row]): Unit = {
    SinkState.cwAttempts.incrementAndGet()
    if (SinkState.cwFail.getAndDecrement() > 0)
      throw new RuntimeException("injected cw failure")
    SinkState.cwFail.set(math.max(SinkState.cwFail.get(), 0))
    SinkState.cwDelivered.add((region, rows.size))
    rows.foreach(r => SinkState.cwRows.add((region, r)))
    SinkState.log.add(("cw", region, rows.map(_.get(0))))
  }
}

class StreamingSpec extends SparkSpec {
  import SharedSpark.spark.implicits._

  private val golden =
    """2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn[3337]: {"district":"ddd","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"oauth.login_start","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"login-start"}]}}"""

  private val regionLine =
    """2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn[3337]: {"dim1":"d","region":"us-west-2","value":1,"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["dim1"],"stat_type":"counter","value_field":"value","rule":"exit"}]}}"""

  private val badHeader = "not a log line at all"
  private val badRoute =
    """2017-08-15T18:39:07.000000+00:00 h production--app/arn[1]: {"bad":{"x":1},"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"s","dimensions":["bad"],"stat_type":"counter","value_field":"v","rule":"r1"}]}}"""

  /** What the jobs of one streaming micro-batch ran: tasks per job in job
    * order, and shuffle bytes over all of them. */
  private final case class BatchShape(jobs: Int, stages: Int, jobTasks: Seq[Int], shuffleBytes: Long)

  /** Runs `body`, which runs a streaming query and returns its id, under a
    * SparkListener, and returns that query's micro-batches by batch id —
    * jobs keyed by their `sql.streaming.queryId` / `streaming.sql.batchId`
    * properties, with their stages and each job's tasks. */
  private def batchShapes(body: => String): Map[Long, BatchShape] = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val fence = java.util.UUID.randomUUID().toString
    val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
    val fenced = new CountDownLatch(1)
    // (query id, batch id) of every job, with its id and stages, and of
    // every stage; (stage, shuffle bytes) of every task
    val jobBatch = new ConcurrentLinkedQueue[((String, Long), Int, Seq[Int])]()
    val stageBatch = new ConcurrentHashMap[Int, (String, Long)]()
    val taskEnds = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        for {
          p <- props
          q <- Option(p.getProperty("sql.streaming.queryId"))
          b <- Option(p.getProperty("streaming.sql.batchId"))
        } {
          jobBatch.add(((q, b.toLong), js.jobId, js.stageIds))
          js.stageIds.foreach(stageBatch.put(_, (q, b.toLong)))
        }
        if (props.exists(_.getProperty("graft.test.fence") == fence)) fenceJobs.add(js.jobId)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        taskEnds.add((te.stageId,
          Option(te.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (fenceJobs.contains(je.jobId)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    val queryId =
      try {
        val id = body
        // the listener bus is FIFO: once the fence job's end arrives, every
        // event of the query's batches before it has been seen
        sc.setLocalProperty("graft.test.fence", fence)
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.fence", null)
        assert(fenced.await(30, TimeUnit.SECONDS), "listener bus never drained")
        id
      } finally sc.removeSparkListener(listener)
    val tasks = taskEnds.asScala.toSeq.flatMap { case (st, bytes) =>
      Option(stageBatch.get(st)).map(_ -> bytes) }
    val stageTasks = taskEnds.asScala.toSeq.groupBy(_._1).map { case (st, ts) => st -> ts.size }
    jobBatch.asScala.toSeq.filter(_._1._1 == queryId).groupBy(_._1._2).map { case (b, js) =>
      val bytes = tasks.filter(_._1 == (queryId, b)).map(_._2).sum
      val jobTasks = js.sortBy(_._2).map(_._3.map(stageTasks.getOrElse(_, 0)).sum)
      b -> BatchShape(js.size, js.flatMap(_._3).distinct.size, jobTasks, bytes)
    }
  }

  test("streaming delivery: per-tag grouping, retry on transient failure") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(failures = 2) // first two submits fail → retry covers
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds", retryBaseMs = 5), new TestSink)
      .start()
    try {
      ms.addData(golden, regionLine)
      q.processAllAvailable()
    } finally q.stop()

    val byTag = SinkState.delivered.asScala.toSeq.groupBy(_._1)
    assert(byTag.keySet === Set("default", "us-west-2"))
    assert(SinkState.attempts.get() >= 4) // 2 failures + 2 successes
  }

  test("streaming delivery: exhausted retries spill typed, replayable rows to dead-letter") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(failures = 1000) // never succeeds
    val dlq = Files.createTempDirectory("graft-dlq").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(
        raw,
        Config("test-env", triggerInterval = "1 seconds", retryAttempts = 2, retryBaseMs = 1,
          deadLetterPath = Some(dlq)),
        new TestSink
      )
      .start()
    try {
      ms.addData(golden)
      q.processAllAvailable()
    } finally q.stop()
    val spilled = spark.read.parquet(dlq + "/sink")
    assert(spilled.count() === 1)
    assert(SinkState.delivered.isEmpty)
    // fidelity: the spill is the full typed dd row, replayable through the
    // sink as-is (main.go:55 FailedLogsFile round-trip)
    val row = spilled.collect().head
    assert(row.getAs[String]("kind") === "dd")
    assert(row.getAs[String]("tag") === "default")
    val dd = row.getAs[Row]("dd")
    assert(dd.getAs[String]("metric") === "kv.oauth.login_start")
    SinkState.reset()
    new TestSink().submit(row.getAs[String]("tag"), Seq(dd))
    assert(SinkState.deliveredMetrics.asScala.toSeq === Seq("kv.oauth.login_start"))
  }

  test("sink-stage dead letters carry the failed records' CW datums for replay") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(failures = 1000) // dd never succeeds
    val dlq = Files.createTempDirectory("graft-dlq-cw").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(
        raw,
        Config("test-env", triggerInterval = "1 seconds", retryAttempts = 2, retryBaseMs = 1,
          deadLetterPath = Some(dlq)),
        new TestSink, Some(new TestCwSink)
      )
      .start()
    try {
      ms.addData(regionLine) // allow-listed series + region → has a cw datum
      q.processAllAvailable()
    } finally q.stop()
    // the reference spills the record's whole EncodeOutput (DDMetrics AND
    // CWMetrics) to FailedLogsFile — both lanes must be re-drivable
    val spilled = spark.read.parquet(dlq + "/sink").collect()
    val byKind = spilled.groupBy(_.getAs[String]("kind"))
    assert(byKind.keySet === Set("dd", "cw"))
    assert(SinkState.cwDelivered.isEmpty) // cw never submitted after dd failure
    val cw = byKind("cw").head
    assert(cw.getAs[String]("tag") === "us-west-2")
    assert(cw.getAs[Row]("cw").getAs[String]("metric_name") === "ContainerExitCount")
    // replay both lanes from the spill
    SinkState.reset()
    byKind("dd").foreach(r => new TestSink().submit(r.getAs[String]("tag"), Seq(r.getAs[Row]("dd"))))
    byKind("cw").foreach(r => new TestCwSink().putMetricData(r.getAs[String]("tag"), Seq(r.getAs[Row]("cw"))))
    assert(SinkState.deliveredMetrics.asScala.toSeq === Seq("kv.ContainerExitCount"))
    assert(SinkState.cwDelivered.asScala.toSeq === Seq(("us-west-2", 1)))
  }

  test("delivery flushes every batchCount records, never buffering the partition") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val lines = (1 to 5).map { i =>
      s"""2017-08-15T18:39:07.000000+00:00 h production--app/arn[$i]: {"district":"d$i","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"m$i","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"r"}]}}"""
    }
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      // one addData block is one source partition: all 5 records hit one
      // deliverPartition call
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds", batchCount = 2),
        new TestSink)
      .start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
    } finally q.stop()
    // 5 records / batchCount 2 → flush cadence 2,2,1 (incremental — the
    // round-2 shape submitted one 5-record batch after buffering it all)
    val sizes = SinkState.delivered.asScala.toSeq.map(_._2).sorted
    assert(sizes === Seq(1, 2, 2))
    assert(SinkState.deliveredMetrics.asScala.toSeq.sorted === (1 to 5).map(i => s"kv.m$i"))
  }

  test("per-shard delivery: single-tag flushes of whole records, CW after the same records' DD") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    def defaultLine(i: Int) =
      s"""2017-08-15T18:39:07.000000+00:00 h production--app/arn[$i]: {"district":"d$i","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"m$i","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"r"}]}}"""
    // two routes: two dd rows and one cw datum per record, all under the region tag
    def regionLine(i: Int, region: String) =
      s"""2017-08-15T18:39:07.000000+00:00 h production--app/arn[$i]: {"dim1":"d$i","region":"$region","value":$i,"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["dim1"],"stat_type":"counter","value_field":"value","rule":"exit"},{"type":"alerts","series":"exit.other","dimensions":["dim1"],"stat_type":"gauge","value_field":"value","rule":"other"}]}}"""
    val lines = (1 to 6).flatMap { i =>
      Seq(defaultLine(i), regionLine(i, "us-west-2")) ++
        (if (i % 2 == 0) Seq(regionLine(100 + i, "us-east-1")) else Nil)
    }
    val tagOf = lines.map { l =>
      graft.fast.FastKayvee.recordId(l) ->
        Seq("us-west-2", "us-east-1").find(r => l.contains(r)).getOrElse("default")
    }.toMap
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds", batchCount = 2),
        new TestSink, Some(new TestCwSink))
      .start()
    try {
      ms.addData(lines: _*) // one block = one source partition, tags interleaved
      q.processAllAvailable()
    } finally q.stop()

    val log = SinkState.log.asScala.toIndexedSeq.map { case (lane, tag, ids) =>
      (lane, tag, ids.map(_.asInstanceOf[Long]))
    }
    val dd = log.filter(_._1 == "dd")
    // every submit is single-tag with ≤ batchCount records
    dd.foreach { case (_, tag, ids) =>
      assert(ids.forall(tagOf(_) == tag), s"mixed-tag submit under $tag: $log")
      assert(ids.distinct.size <= 2, s"over batchCount: $log")
    }
    // every record delivered, and whole: all its dd rows in exactly one submit
    assert(dd.flatMap(_._3).distinct.toSet === tagOf.keySet)
    tagOf.keys.foreach { rid =>
      assert(dd.count(_._3.contains(rid)) === 1, s"record $rid split across flushes: $log")
    }
    assert(dd.filter(_._2 == "default").map(_._3.size) === Seq(2, 2, 2))
    // region records have 2 dd rows each: 2 records = 4 rows per full flush
    assert(dd.filter(_._2 == "us-west-2").map(_._3.size) === Seq(4, 4, 4))
    assert(dd.filter(_._2 == "us-east-1").map(_._3.size).sorted === Seq(2, 4))
    // each CW put carries exactly the records of the DD submit just before it
    val cwAt = log.indices.filter(log(_)._1 == "cw")
    assert(cwAt.size === 5, log.toString)
    cwAt.foreach { j =>
      val (_, region, ids) = log(j)
      assert(j > 0 && log(j - 1)._1 == "dd" && log(j - 1)._2 == region, s"cw before its dd: $log")
      assert(ids.toSet === log(j - 1)._3.toSet, s"cw put split from its dd flush: $log")
    }
  }

  test("deliver writes no shuffle bytes: delivery stays in the source partitions") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val dlq = Files.createTempDirectory("graft-dlq-noshuffle").toString + "/failed"
    val ms = MemoryStream[String]
    // two blocks before the start: the first batch has two source partitions
    ms.addData(golden, badHeader)
    ms.addData(regionLine)
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    // with a deadLetterPath and a poison line, so the parse spill's write
    // counts too: it reads delivery's cached output, in its partitions
    val shapes = batchShapes {
      val q = StreamPipeline
        .deliver(raw, Config("test-env", triggerInterval = "1 seconds", deadLetterPath = Some(dlq)),
          new TestSink, Some(new TestCwSink))
        .start()
      try q.processAllAvailable() finally q.stop()
      q.id.toString
    }
    assert(SinkState.delivered.asScala.map(_._2).sum === 2)
    assert(spark.read.parquet(dlq + "/parse").count() === 1)
    assert(shapes.keySet === Set(0L), shapes.toString)
    // the batch's first job is delivery: one task per source partition
    val deliveryTasks = shapes(0L).jobTasks.head
    assert(deliveryTasks >= 2, s"expected a delivery task per source partition, saw $deliveryTasks")
    val bytes = shapes(0L).shuffleBytes
    assert(bytes === 0L, s"deliver wrote $bytes shuffle bytes")
  }

  test("deliver job shape: a clean micro-batch is one job of one stage, a poison batch two jobs") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val dlq = Files.createTempDirectory("graft-dlq-shape").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val shapes = batchShapes {
      val q = StreamPipeline
        .deliver(raw, Config("test-env", triggerInterval = "1 seconds", deadLetterPath = Some(dlq)),
          new TestSink, Some(new TestCwSink))
        .start()
      try {
        ms.addData(golden, regionLine)
        q.processAllAvailable()
        ms.addData(golden, badHeader, badRoute)
        q.processAllAvailable()
      } finally q.stop()
      q.id.toString
    }
    assert(shapes.keySet === Set(0L, 1L), shapes.toString)
    assert((shapes(0L).jobs, shapes(0L).stages) === ((1, 1)), s"clean batch: ${shapes(0L)}")
    // delivery, then the parse spill's write
    assert(shapes(1L).jobs <= 2, s"poison batch: ${shapes(1L)}")
    assert(SinkState.delivered.asScala.map(_._2).sum === 3)
  }

  test("a faultless batch without poison lines leaves no dead-letter file") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val dlq = Files.createTempDirectory("graft-dlq-clean").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds", deadLetterPath = Some(dlq)),
        new TestSink, Some(new TestCwSink))
      .start()
    try {
      ms.addData(golden, regionLine)
      q.processAllAvailable()
    } finally q.stop()
    assert(SinkState.delivered.asScala.map(_._2).sum === 2)
    Seq("sink", "parse").foreach { d =>
      val parts = Option(new java.io.File(dlq, d).listFiles).toSeq.flatten
        .map(_.getName).filter(_.startsWith("part-"))
      assert(parts.isEmpty, s"$d/: $parts")
    }
  }

  test("delivery runs once when both dead-letter directories are written") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(failures = 1000) // dd never succeeds
    val dlq = Files.createTempDirectory("graft-dlq-once").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(
        raw,
        Config("test-env", triggerInterval = "1 seconds", retryAttempts = 2, retryBaseMs = 1,
          deadLetterPath = Some(dlq)),
        new TestSink, Some(new TestCwSink)
      )
      .start()
    try {
      ms.addData(golden, badHeader, regionLine, badRoute)
      q.processAllAvailable()
    } finally q.stop()
    // one flush per tag, each attempted exactly retryAttempts times: the
    // spill writes read delivery's output and never submit again
    val attempts = SinkState.submits.asScala.toSeq.groupBy(identity).values.map(_.size).toSeq
    assert(attempts === Seq(2, 2), SinkState.submits.toString)
    assert(SinkState.submits.asScala.map(_._1).toSet === Set("default", "us-west-2"))
    assert(SinkState.cwAttempts.get() === 0) // cw never submitted after dd failure
    val parse = spark.read.parquet(dlq + "/parse").select("raw").as[String].collect()
    assert(parse.sorted.toSeq === Seq(badHeader, badRoute).sorted)
    val expected = graft.fast.FastKayvee.unified(Seq(golden, regionLine).toDF("raw"), "test-env")
      .toDF().select("kind", "tag", "dd", "cw").collect().map(_.toString)
    val spilled = spark.read.parquet(dlq + "/sink").collect().map(_.toString)
    assert(expected.map(_.take(3)).toSet === Set("[dd", "[cw"))
    assert(spilled.sorted.toSeq === expected.sorted.toSeq)
  }

  test("parse/projection failures land under deadLetterPath/parse with the raw record") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val dlq = Files.createTempDirectory("graft-dlq-parse").toString + "/failed"
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds",
        deadLetterPath = Some(dlq)), new TestSink)
      .start()
    try {
      ms.addData(badHeader, badRoute, golden)
      q.processAllAvailable()
    } finally q.stop()
    val dead = spark.read.parquet(dlq + "/parse").collect()
      .map(r => r.getAs[String]("raw") -> r.getAs[String]("err")).toMap
    assert(dead.keySet === Set(badHeader, badRoute))
    assert(dead(badHeader).contains("unable parse Time"))
    assert(dead(badRoute) === "error casting dimension value. rule=r1 dim=bad")
    // the valid record still delivered; bad ones never reached the sink
    assert(SinkState.delivered.asScala.map(_._2).sum === 1)
  }

  // deliver always runs the FastKayvee lane; the declarative lane is the recompute
  test("fast lane: parse dead letters and CW fan-out match the declarative lane") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val dlq = Files.createTempDirectory("graft-dlq-parity").toString + "/failed"
    val header = "2017-08-15T18:39:07.000000+00:00 h production--app/arn[1]: "
    val lines = Seq(
      "not a log line at all", // bad header
      header + """{"bad":{"x":1},"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"s","dimensions":["bad"],"stat_type":"counter","value_field":"v","rule":"r1"}]}}""",
      golden,
      regionLine, // CW datum for a configured region
      regionLine.replace("us-west-2", "eu-west-1"), // region outside cwRegions
      header + "[conn1] update clever.students nscanned:1 2964ms", // mongo rule
      "2019-10-09T20:19:43.000000+00:00 aws-rds production--db/arn[1]: " + """{"user":"clever[clever]"}""",
      header + """{"via":"process-metrics","source":"s","title":"t1","type":"counter","value":5}""",
      header + """{"x":1}""" // no route: ignored
    )
    val cfg = Config("test-env", triggerInterval = "1 seconds", deadLetterPath = Some(dlq))
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline.deliver(raw, cfg, new TestSink, Some(new TestCwSink)).start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
    } finally q.stop()

    val recompute = graft.streaming.Delivery.unifiedFromStatused(
      graft.project.MetricProject.withStatus(graft.routes.RouteEngine.withRoutes(
        graft.parse.LogParse.parse(lines.toDF("raw"), "test-env")))).collect().toSeq
    def norm(tag: String, r: Row): String =
      (tag +: r.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toString
    def ofKind(k: String) = recompute.filter(_.getAs[String]("kind") == k)
    val wantDd = ofKind("dd").map(r => norm(r.getAs[String]("tag"), r.getAs[Row]("dd"))).sorted
    val wantCwAll = ofKind("cw").map(r => r.getAs[String]("tag") -> r.getAs[Row]("cw"))
    val wantCw = wantCwAll.filter(c => cfg.cwRegions.contains(c._1)).map((norm _).tupled).sorted
    val wantDead = ofKind("dead").map(r => r.getAs[String]("raw") -> r.getAs[String]("err")).toSet
    // the corpus exercises every branch the assertions below compare
    assert(wantDd.exists(_.contains("kv.oauth.login_start")))
    assert(wantDd.exists(_.contains("mongo")), wantDd.mkString("\n"))
    assert(wantDd.exists(_.contains("rds")), wantDd.mkString("\n"))
    assert(wantDd.exists(_.contains("process-metrics")), wantDd.mkString("\n"))
    assert(wantCwAll.map(_._1).toSet === Set("us-west-2", "eu-west-1"))
    assert(wantDead.size === 2)

    val gotDd = SinkState.ddRows.asScala.toSeq.map((norm _).tupled).sorted
    val gotCw = SinkState.cwRows.asScala.toSeq.map((norm _).tupled).sorted
    val gotDead = spark.read.parquet(dlq + "/parse").collect()
      .map(r => r.getAs[String]("raw") -> r.getAs[String]("err")).toSet
    assert(gotDd === wantDd)
    assert(gotCw === wantCw)
    assert(gotDead === wantDead)
  }

  test("CW fan-out: region-keyed submission after dd success; cw errors logged, not retried") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(cwFailures = 1)
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds"),
        new TestSink, Some(new TestCwSink))
      .start()
    try {
      ms.addData(golden, regionLine)
      q.processAllAvailable()
      // dd lane unaffected by the cw failure, cw attempted exactly once
      assert(SinkState.delivered.asScala.map(_._2).sum === 2)
      assert(SinkState.cwAttempts.get() === 1)
      assert(SinkState.cwDelivered.isEmpty)
      // a later batch with the same region succeeds (failure was not sticky)
      ms.addData(regionLine.replace("\"value\":1", "\"value\":2"))
      q.processAllAvailable()
      assert(SinkState.cwDelivered.asScala.toSeq === Seq(("us-west-2", 1)))
    } finally q.stop()
  }

  test("partial-batch error narrows retry and dead-letter to the failed subset") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset(partial = 1)
    val lines = (1 to 4).map { i =>
      s"""2017-08-15T18:39:07.000000+00:00 h production--app/arn[$i]: {"district":"d$i","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"m$i","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"r"}]}}"""
    }
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      // one addData block is one source partition, so all 4 rows form one
      // submit batch
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds", retryBaseMs = 1),
        new TestSink)
      .start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
    } finally q.stop()
    // every metric delivered exactly once: the retry resubmitted ONLY the
    // failed row, not the already-accepted ones
    val metrics = SinkState.deliveredMetrics.asScala.toSeq.sorted
    assert(metrics === Seq("kv.m1", "kv.m2", "kv.m3", "kv.m4"))
  }

  test("delivery runs on executor task threads, never via driver collect") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val lines = (1 to 20).map { i =>
      s"""2017-08-15T18:39:07.000000+00:00 h production--app/arn[$i]: {"district":"d$i","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"m$i","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"r"}]}}"""
    }
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds"), new TestSink)
      .start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(SinkState.delivered.asScala.map(_._2).sum === 20)
    val threads = SinkState.threads.asScala.toSet
    assert(threads.nonEmpty)
    assert(threads.forall(_.startsWith("Executor task launch worker")),
      s"delivery ran on non-executor threads: $threads")
  }

  test("watermarked 1-minute volume aggregation (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val agg = StreamPipeline.metaAgg(raw, "test-env")
    val q = agg.writeStream.format("memory").queryName("vols").outputMode("update").start()
    try {
      def line(sec: Int) =
        f"""2017-08-15T18:39:$sec%02d.000000+00:00 h production--app-a/arn[1]: {"_kvmeta":{"team":"team-x","routes":[]}}"""
      ms.addData(line(1), line(2), line(3))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM vols WHERE kind = 'vol'").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("cnt") === 3)
      assert(rows.head.getAs[String]("application") === "app-a")
      assert(rows.head.getAs[String]("grp") === "team-x")
    } finally q.stop()
  }

  test("fast-lane streaming delivery matches declarative-lane output") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline
      .deliver(raw, Config("test-env", triggerInterval = "1 seconds"), new TestSink)
      .start()
    try {
      ms.addData(golden, regionLine)
      q.processAllAvailable()
    } finally q.stop()
    val byTag = SinkState.delivered.asScala.toSeq.groupBy(_._1)
    assert(byTag.keySet === Set("default", "us-west-2"))
    assert(byTag.values.flatten.map(_._2).sum === 2)
  }

  test("late rows beyond the watermark are dropped from the closed window (§7.4 tolerance)") {
    // the late-data contract the volume agg documents: a record arriving
    // after the watermark passed its window is DISCARDED — the closed
    // window's count neither re-emits nor grows
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val t = 1700000000L
    val ws = (t / 60) * 60 // epoch-minute-aligned window start
    val events = ms.toDF().toDF("k", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
      .withWatermark("ts", "1 minute")
    val agg = events.groupBy(window(col("ts"), "1 minute"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), unix_timestamp(col("window.start")).as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("latedrop")
      .outputMode("append").start()
    try {
      ms.addData(("a", t), ("a", t + 10))
      q.processAllAvailable()
      // advance the watermark far past the window: closes + emits (a, ws, 2)
      ms.addData(("b", t + 600))
      q.processAllAvailable()
      // a LATE row inside the already-closed window — must be discarded
      ms.addData(("a", t + 20))
      q.processAllAvailable()
      // push the watermark again so any illegally-retained state would flush
      ms.addData(("b", t + 1200))
      q.processAllAvailable()
      val aRows = spark.sql("SELECT k, ws, n FROM latedrop WHERE k = 'a'").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(aRows === Set(("a", ws, 2L)),
        s"late row leaked into the closed window: $aRows")
    } finally q.stop()
  }

  test("streaming session windows merge within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val t = 1700000000L
    val events = ms.toDF().toDF("user", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
      .withWatermark("ts", "1 minute")
    val agg = events
      .groupBy(session_window(col("ts"), "10 seconds").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), unix_timestamp(col("w.start")).as("ws"),
        unix_timestamp(col("w.end")).as("we"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two sessions for u1 (gap 25 s > 10 s), one for u2
      ms.addData(("u1", t), ("u1", t + 5), ("u1", t + 30), ("u2", t + 2))
      q.processAllAvailable()
      ms.addData(("u2", t + 300)) // advances the watermark, closing all three
      q.processAllAvailable()
      val got = spark.sql("SELECT user, ws, we, n FROM sessions").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        ("u1", t, t + 15, 2L),      // [t, last(t+5)+gap)
        ("u1", t + 30, t + 40, 1L), // split: 25 s silence > 10 s gap
        ("u2", t + 2, t + 12, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join: alerts match events within their time bound") {
    implicit val sqlCtx = spark.sqlContext
    val t = 1700000000L
    val msEvents = MemoryStream[(String, Long, Long)] // (host, event_id, sec)
    val msAlerts = MemoryStream[(String, String, Long)] // (host, alert_id, sec)
    val events = msEvents.toDF().toDF("ehost", "event_id", "esec")
      .withColumn("ets", col("esec").cast("timestamp")).withWatermark("ets", "1 minute")
    val alerts = msAlerts.toDF().toDF("ahost", "alert_id", "asec")
      .withColumn("ats", col("asec").cast("timestamp")).withWatermark("ats", "1 minute")
    // each alert matches its HOST's events in the 10 s before it — the
    // equi-key Spark requires for stream-stream joins, plus the interval
    // bound that (with both watermarks) makes join state evictable
    val joined = alerts.join(
      events,
      col("ahost") === col("ehost") &&
        col("ets") <= col("ats") && col("ets") >= col("ats") - expr("INTERVAL 10 seconds"))
      .select(col("alert_id"), col("event_id"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      msEvents.addData(("h1", 1L, t), ("h1", 2L, t + 8), ("h1", 3L, t + 30), ("h2", 4L, t + 8))
      msAlerts.addData(("h1", "a", t + 9)) // events 1 (9 s before) + 2 (1 s before); not h2's
      q.processAllAvailable()
      // advance both watermarks so results finalize
      msEvents.addData(("hx", 99L, t + 300)); msAlerts.addData(("hx", "z", t + 300))
      q.processAllAvailable()
      val got = spark.sql("SELECT alert_id, event_id FROM ss_join WHERE alert_id = 'a'")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // event 3 is outside the time bound, event 4 is another host
      assert(got === Set(("a", 1L), ("a", 2L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched alerts after watermark expiry") {
    // the outer side of a stream-stream join can only emit its
    // null-extended rows once the watermark proves no future match can
    // arrive — the subtle half of interval-join semantics the inner test
    // above doesn't cover
    implicit val sqlCtx = spark.sqlContext
    val t = 1700000000L
    val msEvents = MemoryStream[(String, Long, Long)]
    val msAlerts = MemoryStream[(String, String, Long)]
    val events = msEvents.toDF().toDF("ehost", "event_id", "esec")
      .withColumn("ets", col("esec").cast("timestamp")).withWatermark("ets", "1 minute")
    val alerts = msAlerts.toDF().toDF("ahost", "alert_id", "asec")
      .withColumn("ats", col("asec").cast("timestamp")).withWatermark("ats", "1 minute")
    val joined = alerts.join(
      events,
      col("ahost") === col("ehost") &&
        col("ets") <= col("ats") && col("ets") >= col("ats") - expr("INTERVAL 10 seconds"),
      "left_outer")
      .select(col("alert_id"), col("event_id"))
    val q = joined.writeStream.format("memory").queryName("ss_left_join")
      .outputMode("append").start()
    try {
      msEvents.addData(("h1", 1L, t))
      // alert "m" matches event 1; alert "u" has no event in its window
      msAlerts.addData(("h1", "m", t + 5), ("h1", "u", t + 30))
      q.processAllAvailable()
      // push both watermarks far past the alerts so the unmatched row's
      // join state expires and the null-extended row finalizes
      msEvents.addData(("hx", 99L, t + 300)); msAlerts.addData(("hx", "z", t + 300))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      def rows() = spark.sql(
        "SELECT alert_id, event_id FROM ss_left_join WHERE alert_id IN ('m','u')")
        .collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
      // outer-row emission can trail the watermark by a micro-batch: poll
      var got = rows()
      while (got.size < 2 && System.currentTimeMillis() < deadline) {
        msEvents.addData(("hy", 98L, t + 400)); msAlerts.addData(("hy", "y", t + 400))
        q.processAllAvailable()
        got = rows()
      }
      assert(got === Set(("m", Some(1L)), ("u", None)))
    } finally q.stop()
  }

  test("stream-static join: streaming facts enrich against a static broadcast dim") {
    // the streaming analog of the allow-list join (O13): each micro-batch
    // joins against a STATIC frame — stateless (no join state store, no
    // watermark needed), re-planned per batch so the dim broadcasts
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)] // (id, team)
    val dim = spark.createDataFrame(Seq(
      ("eng-team", "infra"), ("web-team", "product"))).toDF("team", "org")
    val joined = ms.toDF().toDF("id", "team")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("team"))
      .select(col("id"), col("org"))
    val q = joined.writeStream.format("memory").queryName("sb_join")
      .outputMode("append").start()
    try {
      ms.addData((1L, "eng-team"), (2L, "web-team"), (3L, "unknown-team"))
      q.processAllAvailable()
      val got = spark.sql("SELECT id, org FROM sb_join")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // inner join: the unmatched team drops, matched rows carry the dim
      assert(got === Set((1L, "infra"), (2L, "product")))
    } finally q.stop()
  }

  test("streaming dedup with watermark drops duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val parsed = graft.parse.LogParse.parse(
      ms.toDF().withColumnRenamed("value", "raw"), "test-env")
    val deduped = parsed
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("record_id"))
      .select(col("record_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(golden)
      q.processAllAvailable()
      ms.addData(golden, regionLine) // golden is a duplicate (same raw → same record_id)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(DISTINCT record_id) FROM dedup_out").head.getLong(0) === 2)
      assert(spark.sql("SELECT count(*) FROM dedup_out").head.getLong(0) === 2)
    } finally q.stop()
  }

  test("flatMapGroupsWithState delay tracker: gauge emitted on timeout, then reset") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val anchor = 1700000000L
    val points = ms.toDF().toDF("key", "point_ts")
    val gauges = graft.streaming.DelayTracker
      .track(points, intervalMs = 100, nowSec = () => anchor + 60)
    val q = gauges.writeStream.format("memory").queryName("delays")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      ms.addData(("app-a", anchor + 50), ("app-a", anchor + 20), ("app-b", anchor + 59))
      // gauges appear once the processing-time timeout fires on a later
      // trigger; poll with a deadline (processAllAvailable doesn't settle
      // while timeouts are pending)
      val deadline = System.currentTimeMillis() + 60000
      def rows() = spark.sql("SELECT key, max_delay_sec FROM delays").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      while (rows().size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(rows().get("app-a").contains(40L)) // max(60-50, 60-20)
      assert(rows().get("app-b").contains(1L))
    } finally q.stop()
  }

  test("always-emit delay tracker keeps ticking 0-gauges through data silence") {
    implicit val sqlCtx = spark.sqlContext
    val anchor = 1700000000L
    val ms = MemoryStream[(String, Long)]
    val points = ms.toDF().toDF("key", "point_ts")
    val gauges = graft.streaming.DelayTracker
      .track(points, intervalMs = 100, nowSec = () => anchor + 5, alwaysEmit = true)
    val q = gauges.writeStream.format("memory").queryName("delays_idle")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      ms.addData(("app", anchor)) // delay 5, then silence
      val deadline = System.currentTimeMillis() + 60000
      def rows() = spark.sql("SELECT max_delay_sec FROM delays_idle").collect().map(_.getLong(0))
      // reference parity (delay.go:35-39): the ticker keeps firing while
      // idle — the accumulated 5, then 0-gauges forever
      while (rows().length < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val got = rows()
      assert(got.count(_ == 5L) === 1, got.mkString(","))
      assert(got.count(_ == 0L) >= 2, got.mkString(","))
    } finally q.stop()
  }

  test("watermarked 1-minute route-count aggregation counts ALL kvmeta route types") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val agg = StreamPipeline.metaAgg(raw, "test-env")
    val q = agg.writeStream.format("memory").queryName("rcounts").outputMode("update").start()
    try {
      def line(sec: Int) =
        f"""2017-08-15T18:39:$sec%02d.000000+00:00 h production--app-b/arn[1]: {"_kvmeta":{"team":"t","routes":[{"type":"analytics","series":"x","rule":"ana"},{"type":"alerts","series":"s","dimensions":[],"stat_type":"counter","value_field":"","rule":"al"}]}}"""
      ms.addData(line(1), line(2))
      q.processAllAvailable()
      val rows = spark.sql("SELECT grp, cnt FROM rcounts WHERE kind = 'route'").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // analytics routes count too (metrics.go:63-67), not just alerts
      assert(rows === Map("ana" -> 2L, "al" -> 2L))
    } finally q.stop()
  }

  test("meta-series shipping: one query over one source ships volume AND route series") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    val line =
      """2017-08-15T18:39:07.000000+00:00 h production--app-c/arn[1]: {"_kvmeta":{"team":"tz","routes":[{"type":"analytics","series":"x","rule":"ana"}]}}"""
    val noRoutes =
      """2017-08-15T18:39:08.000000+00:00 h production--app-c/arn[2]: {"_kvmeta":{"team":"tz","routes":[]}}"""
    val ms = MemoryStream[String]
    // the fused lane: both series families from ONE streaming query (the
    // round-2 shape ran two independent queries over the same source)
    val q = StreamPipeline.shipMetaSeries(
      ms.toDF().withColumnRenamed("value", "raw"),
      Config("test-env", triggerInterval = "1 seconds"), new TestSink).start()
    try {
      ms.addData(line, noRoutes)
      q.processAllAvailable()
      val metrics = SinkState.deliveredMetrics.asScala.toSet
      assert(metrics === Set(
        "kinesis_alerts_consumer.log_volume_count",
        "kinesis_alerts_consumer.log_volume_size",
        "kinesis_alerts_consumer.log_route_count"))
      assert(SinkState.delivered.asScala.forall(_._1 == "meta"))
    } finally q.stop()
  }

  test("exactly-once meta shipping: a closed window ships once with its final total") {
    implicit val sqlCtx = spark.sqlContext
    SinkState.reset()
    def line(min: Int, sec: Int, n: Int) =
      f"""2017-08-15T18:$min%02d:$sec%02d.000000+00:00 h production--app-x/arn[$n]: {"_kvmeta":{"team":"tx","routes":[]}}"""
    val ms = MemoryStream[String]
    val q = StreamPipeline.shipMetaSeries(
      ms.toDF().withColumnRenamed("value", "raw"),
      Config("test-env", triggerInterval = "1 seconds"), new TestSink,
      exactlyOnce = true).start()
    def countsFor(minuteTs: Long) = SinkState.seriesPoints.asScala.toSeq
      .filter(p => p._1 == "kinesis_alerts_consumer.log_volume_count" && p._3 == minuteTs)
      .map(_._4)
    val m39 = 1502822340L // 18:39:00
    try {
      ms.addData(line(39, 1, 1), line(39, 2, 2), line(39, 3, 3))
      q.processAllAvailable()
      // window still open (watermark 2 min hasn't passed 18:40) → nothing
      assert(countsFor(m39).isEmpty)
      ms.addData(line(43, 0, 4)) // advances watermark past 18:41
      q.processAllAvailable()
      assert(countsFor(m39) === Seq(3.0)) // shipped once, final total
      ms.addData(line(44, 0, 5)) // later traffic must not re-ship 18:39
      q.processAllAvailable()
      assert(countsFor(m39) === Seq(3.0))
    } finally q.stop()
  }

  test("meta-series shipping: failures retried, narrowed, then logged; never fatal or dead-lettered") {
    implicit val sqlCtx = spark.sqlContext
    def line(min: Int) =
      f"""2017-08-15T18:$min%02d:07.000000+00:00 h production--app-f/arn[1]: {"_kvmeta":{"team":"tf","routes":[{"type":"analytics","series":"x","rule":"ana"}]}}"""
    val all = Seq(
      "kinesis_alerts_consumer.log_route_count",
      "kinesis_alerts_consumer.log_volume_count",
      "kinesis_alerts_consumer.log_volume_size")
    val dlq = Files.createTempDirectory("graft-meta-dlq").resolve("failed")
    val ms = MemoryStream[String]
    SinkState.reset()
    val q = StreamPipeline.shipMetaSeries(
      ms.toDF().withColumnRenamed("value", "raw"),
      Config("test-env", triggerInterval = "1 seconds", retryBaseMs = 1,
        deadLetterPath = Some(dlq.toString)),
      new TestSink).start()
    // one record per phase, each in a later 1-minute window, so a trigger
    // ships only that window's three series
    def ship(min: Int): Seq[String] = {
      ms.addData(line(min))
      q.processAllAvailable()
      SinkState.deliveredMetrics.asScala.toSeq.sorted
    }
    try {
      SinkState.reset(failures = 2) // fails twice, then accepts
      assert(ship(39) === all)
      // the two failures plus one accepted submit per non-empty partition
      assert(SinkState.attempts.get() === 2 + SinkState.delivered.size)
      SinkState.reset(partial = 1) // the first multi-row submit rejects its last row
      // a whole-batch resubmit would ship the accepted rows twice
      assert(ship(40) === all)
      SinkState.reset(failures = 1000) // every attempt fails
      assert(ship(41).isEmpty)
      assert(SinkState.attempts.get() >= 5)
      assert(q.isActive && q.exception.isEmpty) // logged, not fatal
      SinkState.reset()
      assert(ship(42) === all) // the next trigger ships as usual
    } finally q.stop()
    assert(!Files.exists(dlq)) // meta points are never dead-lettered
  }

  test("fused metaAgg ≡ separate volume + route-count aggregations") {
    implicit val sqlCtx = spark.sqlContext
    val lines = Seq(
      """2017-08-15T18:39:07.000000+00:00 h production--app-c/arn[1]: {"_kvmeta":{"team":"tz","routes":[{"type":"analytics","series":"x","rule":"ana"},{"type":"alerts","series":"s","dimensions":[],"stat_type":"counter","value_field":"","rule":"al"}]}}""",
      """2017-08-15T18:39:12.000000+00:00 h production--app-c/arn[2]: {"_kvmeta":{"team":"tz","routes":[]}}""",
      """2017-08-15T18:40:03.000000+00:00 h standalone[1]: {"x":1}""" // unknown env/app, no kvmeta
    )
    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "raw")
    val q = StreamPipeline.metaAgg(raw, "test-env").writeStream
      .format("memory").queryName("meta_fused").outputMode("update").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT kind, unix_timestamp(window_start) AS ws, env, application, grp, cnt, sz FROM meta_fused")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5), r.getLong(6))).toSet
      val t0 = 1502822340L // 18:39 bucket
      val t1 = 1502822400L // 18:40 bucket
      val sz0 = lines(0).length.toLong + lines(1).length.toLong
      assert(got === Set(
        ("vol", t0, "production", "app-c", "tz", 2L, sz0),
        ("vol", t1, "unknown", "unknown", "unknown", 1L, lines(2).length.toLong),
        ("route", t0, "production", "app-c", "ana", 1L, 0L),
        ("route", t0, "production", "app-c", "al", 1L, 0L)))
    } finally q.stop()
  }

  test("delay tracker emits inline under continuous traffic (timeout never fires)") {
    implicit val sqlCtx = spark.sqlContext
    val anchor = 1700000000L
    val clock = new java.util.concurrent.atomic.AtomicLong(anchor)
    val ms = MemoryStream[(String, Long)]
    val points = ms.toDF().toDF("key", "point_ts")
    // 5-second interval >> test wall time: any emission must come from the
    // inline elapsed-interval path, not the data-silence timeout
    val gauges = graft.streaming.DelayTracker
      .track(points, intervalMs = 5000, nowSec = () => clock.get())
    val q = gauges.writeStream.format("memory").queryName("delays_cont")
      .outputMode("append").start()
    try {
      // processAllAvailable never settles while a processing-time timeout
      // is armed — poll progress/table with deadlines instead
      def deadline = System.currentTimeMillis() + 30000
      ms.addData(("app", anchor - 10)) // delay 10 at t=anchor
      val d1 = deadline
      while (q.recentProgress.map(_.numInputRows).sum < 1 && System.currentTimeMillis() < d1)
        Thread.sleep(100)
      clock.set(anchor + 6) // interval (5 s) elapsed, traffic continues
      ms.addData(("app", anchor - 3)) // delay 9 at t=anchor+6
      def rows() = spark.sql("SELECT key, max_delay_sec FROM delays_cont").collect()
      val d2 = deadline
      while (rows().isEmpty && System.currentTimeMillis() < d2) Thread.sleep(100)
      assert(rows().length === 1)
      assert(rows().head.getString(0) === "app")
      assert(rows().head.getLong(1) === 10L) // max over the elapsed interval
    } finally q.stop()
  }

  test("meta lane checkpoint restart: volume buckets resume, not reset or double-counted") {
    val dir = Files.createTempDirectory("graft-meta-restart")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    def line(sec: Int) =
      f"""2017-08-15T18:39:$sec%02d.000000+00:00 h production--app-m/arn[$sec]: {"_kvmeta":{"team":"tm","routes":[{"type":"analytics","series":"x","rule":"ana"}]}}"""
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name), lines.mkString("\n").getBytes)
    def volCounts() = SinkState.seriesPoints.asScala.toSeq
      .filter { case (m, t, _, _) =>
        m == "kinesis_alerts_consumer.log_volume_count" && t.contains("application:app-m")
      }
      .map(_._4)

    SinkState.reset()
    writeFile("a.txt", Seq(line(1), line(2)))
    def startQuery() = StreamPipeline.shipMetaSeries(
      spark.readStream.text(srcDir).withColumnRenamed("value", "raw"),
      Config("test-env", triggerInterval = "1 seconds", checkpointLocation = Some(ckpt)),
      new TestSink).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(volCounts().max === 2.0)

    writeFile("b.txt", Seq(line(30))) // same 1-minute bucket, after restart
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // state-store recovery: the bucket RESUMES at 2+1=3 — a reset would
    // re-emit 1 (lost records), a source replay would reach 4 (duplicates)
    assert(volCounts().max === 3.0, volCounts().mkString(","))
    assert(!volCounts().contains(1.0) && !volCounts().contains(4.0), volCounts().mkString(","))
  }

  test("delay tracker checkpoint restart: accumulated max + interval start survive (idle-emit mode)") {
    // The one streaming lane whose restart wasn't exercised: the
    // flatMapGroupsWithState delay gauge with idle-emit (alwaysEmit) on.
    // Phase 1 accumulates max 7 into state WITHOUT emitting (60-s interval
    // stays open), stops. Phase 2 restarts from the checkpoint 120 s later
    // with one low-delay row: the inline swap-reset path must flush the
    // RESTORED interval — gauge 7 proves both the stored max (a fresh
    // state would emit 3's interval instead: nothing, since its start
    // would be now) and the stored interval start survived the state-store
    // round trip. Source replay would instead produce 127 (recomputed
    // delay of the old row under the new clock).
    val dir = Files.createTempDirectory("graft-delay-restart")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val anchor = 1700000000L
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name), lines.mkString("\n").getBytes)
    // memory sink can't recover from a checkpoint — collect via
    // foreachBatch into a static buffer instead (TestSink's approach)
    DelayRestartBuf.rows.clear()
    def startQuery(now: Long) = {
      val points = spark.readStream.text(srcDir)
        .selectExpr("split(value, ',')[0] AS key",
          "CAST(split(value, ',')[1] AS LONG) AS point_ts")
      graft.streaming.DelayTracker
        .track(points, intervalMs = 60000, nowSec = () => now, alwaysEmit = true)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[graft.streaming.DelayTracker.DelayGauge], _: Long) =>
            batch.collect().foreach(g => DelayRestartBuf.rows.add(g.key -> g.max_delay_sec))
        }
        .start()
    }

    writeFile("a.txt", Seq(s"app,${anchor - 7}"))
    val q1 = startQuery(anchor)
    try {
      // poll progress, not processAllAvailable (armed timeout never settles)
      val d1 = System.currentTimeMillis() + 30000
      while (q1.recentProgress.map(_.numInputRows).sum < 1 && System.currentTimeMillis() < d1)
        Thread.sleep(100)
      assert(q1.recentProgress.map(_.numInputRows).sum >= 1)
      // interval still open: the max sits in state only
      assert(DelayRestartBuf.rows.isEmpty)
    } finally q1.stop()

    writeFile("b.txt", Seq(s"app,${anchor + 120 - 3}"))
    val q2 = startQuery(anchor + 120)
    try {
      def rows() = DelayRestartBuf.rows.asScala.toSeq
      val d2 = System.currentTimeMillis() + 30000
      while (rows().isEmpty && System.currentTimeMillis() < d2) Thread.sleep(100)
      assert(rows() === Seq("app" -> 7L), rows().mkString(","))
    } finally q2.stop()
  }

  test("rate-limited ingest: maxFilesPerTrigger bounds each micro-batch (READ_RATE_LIMIT analog)") {
    val dir = Files.createTempDirectory("graft-rate")
    (1 to 3).foreach { i =>
      Files.write(dir.resolve(s"f$i.txt"), Seq(golden).mkString("\n").getBytes)
    }
    val raw = graft.streaming.Sources.fileLines(spark, dir.toString, maxFilesPerTrigger = 1)
    val q = raw.writeStream.format("memory").queryName("rated").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM rated").head.getLong(0) === 3)
      // one file (= 1 record here) per micro-batch, never a catch-up gulp
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 3, batches.map(_.numInputRows).mkString(","))
      assert(batches.forall(_.numInputRows === 1))
    } finally q.stop()
  }

  test("checkpointed restart does not reprocess delivered records") {
    val dir = Files.createTempDirectory("graft-restart")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()

    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name), lines.mkString("\n").getBytes)

    SinkState.reset()
    writeFile("a.txt", Seq(golden))
    def startQuery() = {
      val raw = spark.readStream.text(srcDir).withColumnRenamed("value", "raw")
      StreamPipeline
        .deliver(
          raw,
          Config("test-env", triggerInterval = "1 seconds", checkpointLocation = Some(ckpt)),
          new TestSink
        )
        .start()
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(SinkState.delivered.asScala.map(_._2).sum === 1)

    writeFile("b.txt", Seq(golden, golden))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // only the 2 new records delivered after restart — the checkpoint
    // (DynamoDB-lease-table analog) prevents reprocessing a.txt
    assert(SinkState.delivered.asScala.map(_._2).sum === 3)
  }

  test("streaming OHLC: live candles equal the batch roll-up under split arrival") {
    // q_ohlc's scaladoc calls the candle agg the metrics-store roll-up;
    // here the SAME ohlcCandles aggregation runs as a complete-mode
    // STREAMING aggregation — points arrive in two micro-batches split by
    // event_id parity (so nearly every candle is fed by BOTH batches and
    // the state-store min_by/max_by partials must merge across them), and
    // the final sink table must equal the batch candles of the same rows.
    implicit val sqlCtx = SharedSpark.spark.sqlContext
    // fold the fixture's 30-day span into 30 minutes so candles hold
    // several points each — with real spacing nearly every minute has one
    // point and no candle would span both micro-batches
    val pts = Tables(SharedSpark.spark, "/root/testdata/sf0.001").events
      .select(col("event_type"), expr("(ts div 1000) % 1800000000").as("t_us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val ms = MemoryStream[(String, Long, Long, Double)]
    val candles = graft.queries.AnalyticsQueries.ohlcCandles(
      ms.toDF().toDF("event_type", "t_us", "event_id", "value"))
    val q = candles.writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_stream").start()
    try {
      val (even, odd) = pts.partition(_._3 % 2 == 0)
      ms.addData(even: _*)
      q.processAllAvailable()
      val mid = SharedSpark.spark.table("ohlc_stream")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(6)).toMap
      ms.addData(odd: _*)
      q.processAllAvailable()
      val fin = SharedSpark.spark.table("ohlc_stream").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
        .toMap
      // candles UPDATED across micro-batches (not rebuilt per batch only)
      assert(fin.exists { case (k, v) => mid.get(k).exists(_ < v._5) },
        "no candle grew between micro-batches — split fixture broken")
      // parity with the batch roll-up of the same rows
      import SharedSpark.spark.implicits._
      val batch = graft.queries.AnalyticsQueries.ohlcCandles(
        pts.toDF("event_type", "t_us", "event_id", "value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
        .toMap
      assert(fin === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }
}

/** Cross-restart gauge buffer for the delay-tracker checkpoint test —
  * object-static so the foreachBatch closure reaches it from executor
  * threads in both query incarnations. */
object DelayRestartBuf {
  val rows = new ConcurrentLinkedQueue[(String, Long)]()
}

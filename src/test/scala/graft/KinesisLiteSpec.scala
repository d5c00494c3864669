package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.streaming.Trigger

/** The kinesis-lite DSv2 source must honor the KCL consumption contract
  * it emulates (Sources.scala mapping table): TRIM_HORIZON/LATEST start
  * positions, per-shard ordering with sequence numbers, the GetRecords
  * per-fetch cap, and checkpoint-resume from committed per-shard
  * sequences (the DynamoDB-lease analog). foreachBatch sinks into a
  * static buffer — the memory sink can't recover a checkpoint.
  */
object KinesisLiteBuffers {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  // foreachBatch is at-least-once: stop() can race the WAL commit, and the
  // restart then replays the uncommitted batch with the SAME batchId. The
  // documented idempotent-sink pattern keys side effects on batchId.
  val seenBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
}

class KinesisLiteSpec extends SparkSpec {

  private def writeShard(dir: String, shard: Int, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, s"shard-$shard.txt"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def drainTo(n: Int, deadlineMs: Long = 30000): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (KinesisLiteBuffers.rows.size < n && System.currentTimeMillis() < end)
      Thread.sleep(100)
  }

  test("TRIM_HORIZON reads every shard from sequence 0, capped per fetch, in shard order") {
    KinesisLiteBuffers.rows.clear(); KinesisLiteBuffers.batchSizes.clear()
    val dir = Files.createTempDirectory("klite").toString
    writeShard(dir, 0, (0 until 10).map(i => s"a$i"))
    writeShard(dir, 1, (0 until 7).map(i => s"b$i"))
    val q = spark.readStream.format("kinesis-lite")
      .option("path", dir)
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerFetch", 3)
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.collect()
        KinesisLiteBuffers.batchSizes.add(got.length.toLong)
        got.foreach(r =>
          KinesisLiteBuffers.rows.add((r.getString(0), r.getString(1), r.getLong(2))))
      }
      .start()
    try {
      drainTo(17)
      import scala.jdk.CollectionConverters._
      val rows = KinesisLiteBuffers.rows.asScala.toSeq
      assert(rows.size === 17, rows.mkString(","))
      // per-shard: all records, sequence = line number, arrival in order
      val byShard = rows.zipWithIndex.groupBy(_._1._2)
      assert(byShard.keySet === Set("shard-0.txt", "shard-1.txt"))
      val s0 = byShard("shard-0.txt").sortBy(_._2).map(_._1)
      assert(s0.map(_._1) === (0 until 10).map(i => s"a$i"), s0.mkString(","))
      assert(s0.map(_._3) === (0L until 10L), s0.mkString(","))
      // GetRecords cap: no batch exceeds shards × maxRecordsPerFetch, and
      // the cap actually forced multiple non-empty batches
      val sizes = KinesisLiteBuffers.batchSizes.asScala.toSeq.filter(_ > 0)
      assert(sizes.forall(_ <= 6), sizes.mkString(","))
      assert(sizes.size >= 3, sizes.mkString(","))
    } finally q.stop()
  }

  test("kinesis-lite feeds the full kayvee delivery pipeline end-to-end (O1→O15)") {
    // the complete reference path with the emulated source in the O1
    // slot: shard files → kinesis-lite → parse → route → project →
    // per-tag delivery — the same golden lines StreamingSpec drives
    // through MemoryStream, now entering through a real DSv2 source
    val golden =
      """2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn[3337]: {"district":"ddd","_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"oauth.login_start","dimensions":["district"],"stat_type":"counter","value_field":"value","rule":"login-start"}]}}"""
    val regionLine =
      """2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn[3337]: {"dim1":"d","region":"us-west-2","value":1,"_kvmeta":{"team":"t","routes":[{"type":"alerts","series":"ContainerExitCount","dimensions":["dim1"],"stat_type":"counter","value_field":"value","rule":"exit"}]}}"""
    SinkState.reset(failures = 0)
    val dir = Files.createTempDirectory("klite-pipe").toString
    writeShard(dir, 0, Seq(golden))
    writeShard(dir, 1, Seq(regionLine))
    // through the SAME KCL envelope the production reader uses — config
    // parity and the emulated source exercised together
    val cfg = graft.streaming.Sources.KclConfig(
      streamName = "local", regionName = "us-west-2",
      applicationName = "graft-test",
      initialPositionInStream = "TRIM_HORIZON")
    val raw = graft.streaming.Sources.kinesisLite(spark, cfg, dir)
      .select(org.apache.spark.sql.functions.col("raw"))
    val q = graft.streaming.StreamPipeline
      .deliver(raw,
        graft.streaming.StreamPipeline.Config("test-env",
          triggerInterval = "1 seconds", retryBaseMs = 5),
        new TestSink)
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val byTag = SinkState.delivered.asScala.toSeq.groupBy(_._1)
    assert(byTag.keySet === Set("default", "us-west-2"), byTag.toString)
  }

  test("reshard: a shard appearing mid-stream is picked up from sequence 0") {
    KinesisLiteBuffers.rows.clear(); KinesisLiteBuffers.batchSizes.clear()
    val dir = Files.createTempDirectory("klite-reshard").toString
    writeShard(dir, 0, Seq("s0-a", "s0-b"))
    val q = spark.readStream.format("kinesis-lite")
      .option("path", dir)
      .option("startingPosition", "TRIM_HORIZON")
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          KinesisLiteBuffers.rows.add((r.getString(0), r.getString(1), r.getLong(2))))
      }
      .start()
    try {
      drainTo(2)
      writeShard(dir, 1, Seq("s1-a", "s1-b", "s1-c")) // the reshard
      drainTo(5)
      import scala.jdk.CollectionConverters._
      val rows = KinesisLiteBuffers.rows.asScala.toSeq
      val s1 = rows.filter(_._2 == "shard-1.txt").sortBy(_._3)
      assert(s1.map(_._1) === Seq("s1-a", "s1-b", "s1-c"), rows.mkString(","))
      assert(s1.map(_._3) === Seq(0L, 1L, 2L), rows.mkString(","))
    } finally q.stop()
  }

  test("shardEnd counts lines incrementally: appended bytes only, partial trailing line counted") {
    import graft.streaming.KinesisLiteSource
    val dir = Files.createTempDirectory("klite-inc").toString
    val f = Paths.get(dir, "shard-0.txt")
    def append(s: String): Unit =
      Files.write(f, s.getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    def delta[A](body: => A): (A, Long) = {
      val before = KinesisLiteSource.bytesScanned.get()
      val r = body
      (r, KinesisLiteSource.bytesScanned.get() - before)
    }
    append("a\nb\n")
    val (n1, d1) = delta(KinesisLiteSource.shardEnd(f.toFile))
    assert(n1 === 2L && d1 === 4L, s"full first scan: n=$n1 bytes=$d1")
    // idle re-check: NOTHING is read
    val (n2, d2) = delta(KinesisLiteSource.shardEnd(f.toFile))
    assert(n2 === 2L && d2 === 0L, s"idle re-check must read 0 bytes, read $d2")
    // unterminated trailing line is a record; only the 1 new byte is read
    append("c")
    val (n3, d3) = delta(KinesisLiteSource.shardEnd(f.toFile))
    assert(n3 === 3L && d3 === 1L, s"n=$n3 bytes=$d3")
    // terminating it + one more line reads only the 3 appended bytes
    append("\nd\n")
    val (n4, d4) = delta(KinesisLiteSource.shardEnd(f.toFile))
    assert(n4 === 4L && d4 === 3L, s"n=$n4 bytes=$d4")
  }

  test("shardEnd detects in-place rewrites instead of serving a stale cached count") {
    import graft.streaming.KinesisLiteSource
    val dir = Files.createTempDirectory("klite-rewrite").toString
    val f = Paths.get(dir, "shard-0.txt")
    Files.write(f, "a\nb\n".getBytes("UTF-8"))
    assert(KinesisLiteSource.shardEnd(f.toFile) === 2L)
    // GROWN but rewritten: the bytes at the old scan frontier differ from
    // the cached tail fingerprint → full rescan, correct new count (a naive
    // (file,length)→count cache would count only the 6-byte suffix and
    // return a garbled total)
    Files.write(f, "xxxxx\nyyyyy\nzzzzz\n".getBytes("UTF-8"))
    assert(KinesisLiteSource.shardEnd(f.toFile) === 3L,
      "rewritten-and-grown shard must be fully rescanned")
    // SAME-LENGTH rewrite (18 bytes again, but 6 lines now): length matches
    // the cache so only the mtime betrays the rewrite → rescan must see 6,
    // a stale cache would answer 3 (force an mtime step so the test doesn't
    // race the filesystem clock resolution)
    val newer = f.toFile.lastModified() + 2000
    Files.write(f, "qq\nrr\nss\ntt\nuu\nvv\n".getBytes("UTF-8"))
    assert(f.toFile.setLastModified(newer))
    assert(KinesisLiteSource.shardEnd(f.toFile) === 6L,
      "same-length rewrite with a newer mtime must be fully rescanned")
    // SAME-LENGTH SAME-MTIME rewrite: filesystem timestamps are coarse
    // (1-2 s on some stores), so a rewrite can land inside one timestamp
    // tick — pin the mtime back to the cached value and let the TAIL
    // FINGERPRINT catch it (trusting mtime alone served the stale 6)
    val pinned = f.toFile.lastModified()
    Files.write(f, "k\nl\nm\nn\no\np\nq\nr\ns\n".getBytes("UTF-8")) // 18 bytes, 9 lines
    assert(f.toFile.setLastModified(pinned))
    assert(KinesisLiteSource.shardEnd(f.toFile) === 9L,
      "same-length same-mtime rewrite must be caught by the tail fingerprint")
    // deleted file: count 0 and the cache entry is evicted via shardFiles
    Files.delete(f)
    assert(KinesisLiteSource.shardEnd(f.toFile) === 0L)
    assert(KinesisLiteSource.shardFiles(dir).isEmpty)
  }

  test("shard reader keeps a lone CR in its record and reads a deep range exactly") {
    import graft.streaming.{KinesisLiteShardPartition, KinesisLiteShardReader, KinesisLiteSource}
    val dir = Files.createTempDirectory("klite-reader").toString
    val f = Paths.get(dir, "shard-0.txt")
    // lone \r inside records (a line-reader would split them), a record
    // longer than the reader's 64 KiB buffer, an empty record, multi-byte
    // UTF-8, and an unterminated last record
    val records = (0 until 3000).map {
      case 7    => "a\rb"
      case 8    => "\r"
      case 1500 => "x" * 100000
      case 2000 => ""
      case i    => s"rec-$i-é漢-" + ("y" * (i % 50))
    }
    Files.write(f, records.mkString("\n").getBytes("UTF-8"))
    assert(KinesisLiteSource.shardEnd(f.toFile) === records.size.toLong)
    def read(start: Long, end: Long): Seq[(String, Long)] = {
      val r = new KinesisLiteShardReader(
        KinesisLiteShardPartition(f.toString, "shard-0.txt", start, end))
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => (r.get().getUTF8String(0).toString, r.get().getLong(2))).toList
      finally r.close()
    }
    val expect = records.zipWithIndex.map { case (l, i) => (l, i.toLong) }
    // the whole shard: one record per \n-terminated line, sequence = index
    assert(read(0L, records.size.toLong) === expect)
    assert(read(5L, 12L) === expect.slice(5, 12))
    // deep batches, across the long record and to the unterminated end
    assert(read(1499L, 1502L) === expect.slice(1499, 1502))
    assert(read(2900L, 3000L) === expect.slice(2900, 3000))
    assert(read(2999L, 5000L) === expect.slice(2999, 3000))
  }

  test("shard reader seeks to the driver's line index: full-scan sequences, O(batch) reads, restart") {
    import graft.streaming.{KinesisLiteOffset, KinesisLiteShardPartition, KinesisLiteSource,
      KinesisLiteStream}
    val dir = Files.createTempDirectory("klite-seek").toString
    val f = Paths.get(dir, "shard-0.txt")
    val stride = KinesisLiteSource.IndexStride
    val records = (0 until 5 * stride + 300).map {
      case 1500 => "lone\rcr" // a lone \r is inside its record, not a line end
      case 3001 => "\r"
      case i    => s"rec-$i-" + ("z" * (i % 37))
    }
    Files.write(f, records.mkString("", "\n", "\n").getBytes("UTF-8"))
    val lineBytes = records.map(_.getBytes("UTF-8").length + 1L)
    def bytes(from: Long, to: Long): Long = lineBytes.slice(from.toInt, to.toInt).sum
    val fullScan = records.zipWithIndex.map { case (l, i) => (l, i.toLong) }

    def read(stream: KinesisLiteStream, p: KinesisLiteShardPartition): (Seq[(String, Long)], Long) = {
      val before = KinesisLiteSource.readerBytes.get()
      val r = stream.createReaderFactory().createReader(p)
      val got =
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => (r.get().getUTF8String(0).toString, r.get().getLong(2))).toList
        finally r.close()
      (got, KinesisLiteSource.readerBytes.get() - before)
    }
    // drives the MicroBatchStream calls Spark makes per trigger
    def batches(stream: KinesisLiteStream, from: KinesisLiteOffset, n: Int)
        : (Seq[(String, Long)], KinesisLiteOffset) = {
      var start = from
      val out = Seq.newBuilder[(String, Long)]
      (1 to n).foreach { _ =>
        val end = stream.latestOffset(start, stream.getDefaultReadLimit)
          .asInstanceOf[KinesisLiteOffset]
        stream.planInputPartitions(start, end).foreach { ip =>
          val p = ip.asInstanceOf[KinesisLiteShardPartition]
          val (got, walked) = read(stream, p)
          out ++= got
          // seeks to the last indexed line start: walks at most one stride
          // of prefix besides the batch's own bytes
          assert(p.hintSeq <= p.startSeq && p.startSeq - p.hintSeq < stride, p.toString)
          assert(walked === bytes(p.hintSeq, p.endSeq), p.toString)
          assert(walked <= bytes(p.startSeq, p.endSeq) + bytes(p.startSeq - stride, p.startSeq),
            p.toString)
        }
        start = end
      }
      (out.result(), start)
    }

    val first = new KinesisLiteStream(dir, "TRIM_HORIZON", 700)
    val (got1, committed) =
      batches(first, first.initialOffset().asInstanceOf[KinesisLiteOffset], 3)
    // restart: a new stream resumes from the checkpointed offset JSON
    val second = new KinesisLiteStream(dir, "TRIM_HORIZON", 700)
    val (got2, end) = batches(second,
      second.deserializeOffset(committed.json()).asInstanceOf[KinesisLiteOffset], 6)
    assert(end.shards === Map("shard-0.txt" -> records.size.toLong))
    assert(got1 ++ got2 === fullScan)

    // a rewritten file invalidates the hint: the byte before it is no
    // longer a line end, so the reader counts from byte 0 instead
    val (hintSeq, hintByte) = KinesisLiteSource.seekHint(f.toFile, 2L * stride + 5)
    assert(hintSeq === 2L * stride && hintByte === bytes(0, hintSeq))
    val rewritten = "x" +: records.tail
    Files.write(f, rewritten.mkString("", "\n", "\n").getBytes("UTF-8"))
    val stale = KinesisLiteShardPartition(f.toString, "shard-0.txt", hintSeq + 5, hintSeq + 15,
      hintSeq, hintByte)
    val (afterRewrite, walked) = read(second, stale)
    assert(afterRewrite === rewritten.zipWithIndex.map { case (l, i) => (l, i.toLong) }
      .slice(hintSeq.toInt + 5, hintSeq.toInt + 15))
    assert(walked === lineBytes.drop(1).take(hintSeq.toInt + 14).sum + 2)
  }

  test("idle triggers re-read no shard bytes (driver I/O is O(appended), not O(stream))") {
    import graft.streaming.KinesisLiteSource
    KinesisLiteBuffers.rows.clear(); KinesisLiteBuffers.batchSizes.clear()
    val dir = Files.createTempDirectory("klite-idle").toString
    writeShard(dir, 0, (0 until 50).map(i => s"r$i"))
    val q = spark.readStream.format("kinesis-lite")
      .option("path", dir)
      .option("startingPosition", "TRIM_HORIZON")
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          KinesisLiteBuffers.rows.add((r.getString(0), r.getString(1), r.getLong(2))))
      }
      .start()
    try {
      drainTo(50)
      assert(KinesisLiteBuffers.rows.size === 50)
      // several idle triggers: the driver must not re-scan the shard file
      // (the executor-side reader still reads its assigned range — only
      // driver offset resolution is instrumented, and nothing is planned
      // on an idle trigger)
      val before = KinesisLiteSource.bytesScanned.get()
      Thread.sleep(1500)
      val idleBytes = KinesisLiteSource.bytesScanned.get() - before
      assert(idleBytes === 0L, s"idle triggers scanned $idleBytes bytes")
      // an append is charged only its own bytes ("x0\n" = 3)
      writeShard(dir, 0, Seq("x0"))
      drainTo(51)
      val appendBytes = KinesisLiteSource.bytesScanned.get() - before
      assert(appendBytes === 3L, s"append scanned $appendBytes bytes, expected 3")
    } finally q.stop()
  }

  test("LATEST skips history; checkpoint restart resumes from committed sequences") {
    KinesisLiteBuffers.rows.clear(); KinesisLiteBuffers.batchSizes.clear()
    KinesisLiteBuffers.seenBatches.clear()
    val dir = Files.createTempDirectory("klite").toString
    val ckpt = Files.createTempDirectory("klite-ckpt").toString
    writeShard(dir, 0, Seq("old0", "old1")) // history LATEST must skip
    def startQuery() = spark.readStream.format("kinesis-lite")
      .option("path", dir)
      .option("startingPosition", "LATEST")
      .option("maxRecordsPerFetch", 100)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      // idempotent on batchId: a replay of the batch stop() interrupted
      // must not double-count (exactly-once = at-least-once + idempotence)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (KinesisLiteBuffers.seenBatches.add(batchId))
          df.collect().foreach(r =>
            KinesisLiteBuffers.rows.add((r.getString(0), r.getString(1), r.getLong(2))))
      }
      .start()
    val q1 = startQuery()
    try {
      // LATEST pins the initial offset during stream init — wait for real
      // progress (not a fixed sleep: under suite-level load, init can take
      // seconds, and appending before it would make the new records look
      // like history)
      val end = System.currentTimeMillis() + 30000
      while (q1.recentProgress.isEmpty && System.currentTimeMillis() < end)
        Thread.sleep(100)
      assert(q1.recentProgress.nonEmpty, "stream never initialized")
      writeShard(dir, 0, Seq("new2", "new3"))
      drainTo(2)
    } finally q1.stop()
    import scala.jdk.CollectionConverters._
    val first = KinesisLiteBuffers.rows.asScala.toSeq
    assert(first.map(_._1).toSet === Set("new2", "new3"), first.mkString(","))
    assert(first.map(_._3).toSet === Set(2L, 3L), first.mkString(","))
    // restart against the SAME checkpoint: only post-restart appends flow,
    // nothing committed is replayed (lease-table resume)
    writeShard(dir, 0, Seq("new4"))
    val q2 = startQuery()
    try drainTo(3) finally q2.stop()
    val all = KinesisLiteBuffers.rows.asScala.toSeq
    assert(all.map(_._1).count(_ == "new2") === 1, all.mkString(","))
    assert(all.map(_._1).count(_ == "new3") === 1, all.mkString(","))
    assert(all.map(_._1).contains("new4"), all.mkString(","))
    assert(!all.map(_._1).exists(_.startsWith("old")), all.mkString(","))
  }
}

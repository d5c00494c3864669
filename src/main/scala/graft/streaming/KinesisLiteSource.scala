package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** O1 as a REAL Spark source — `kinesis-lite`, a DataSource V2
  * micro-batch stream that emulates the Kinesis/KCL consumption model the
  * reference runs on (`run_kcl.sh`, `consumer.properties.template`,
  * `main.go:54-59`) inside the zero-egress sandbox:
  *
  *  - a "stream" is a directory; each shard is a line file
  *    (`shard-0.txt`, `shard-1.txt`, …) whose 0-based line number is the
  *    record's SEQUENCE NUMBER within the shard — append-only, like a
  *    shard's record log;
  *  - offsets are per-shard sequence maps, serialized into Spark's
  *    checkpoint exactly where the KCL keeps its DynamoDB lease table —
  *    restart resumes from the committed sequences (at-least-once, the
  *    KCL contract);
  *  - `startingPosition` = TRIM_HORIZON (sequence 0 everywhere) or
  *    LATEST (current end of every shard), the two positions the
  *    reference template allows;
  *  - `maxRecordsPerFetch` caps how far each shard advances per
  *    micro-batch via `SupportsAdmissionControl` — the GetRecords fetch
  *    limit (`maxRecords` in the template, default 10000);
  *  - `planInputPartitions` emits ONE partition per shard — the
  *    shard-to-worker assignment of the KCL, so per-shard ordering is
  *    preserved end-to-end while shards read in parallel.
  *
  * Schema: (raw STRING, shard_id STRING, sequence LONG). The production
  * deployment swaps this format for the real connector
  * ([[Sources.kinesis]]); everything downstream is source-agnostic.
  */
final class KinesisLiteSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesis-lite"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisLiteSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisLiteTable(properties.asScala.toMap)
}

object KinesisLiteSource {
  val schema: StructType = new StructType()
    .add("raw", StringType)
    .add("shard_id", StringType)
    .add("sequence", LongType)

  // Strict shard-file name pattern: the checkpoint offset JSON is keyed by
  // file name, so names are confined to [-\d.a-z] — a file named e.g.
  // "shard-a,b.txt" could otherwise silently corrupt the hand-parsed
  // offset map on restart.
  private val ShardName = "shard-\\d+\\.txt".r

  /** Shard files of a stream dir, sorted by name for stable shard ids.
    * Also the cache janitor: entries for files that vanished from this dir
    * (fixture teardown, stream deletion) are evicted here, so the JVM-global
    * [[scanCache]] cannot grow past the set of LIVE shard files. */
  def shardFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && ShardName.matches(f.getName))
      .sortBy(_.getName)
    val live = files.map(_.getAbsolutePath).toSet
    val prefix = d.getAbsolutePath + java.io.File.separator
    scanCache.keySet.removeIf(k => k.startsWith(prefix) && !live.contains(k))
    files
  }

  /** Incremental scan state of one shard file: how many bytes have been
    * consumed into the newline count, whether the last byte seen was a
    * newline (an unterminated trailing line still counts as a record), the
    * sparse line index (`lineStarts(k)` = byte offset where sequence
    * `(k + 1) * IndexStride` starts), and the rewrite guards — mtime at
    * scan time plus a fingerprint of the last `tailLen` (≤8) consumed
    * bytes. The append-only shard model is now VERIFIED, not assumed: a
    * file rewritten in place (equal length but new mtime, or grown but with
    * a different byte sequence where the old scan ended) falls back to a
    * full rescan instead of serving a stale or garbled count. */
  private final case class ShardScanState(
      scannedBytes: Long, newlines: Long, endsWithNewline: Boolean,
      lastModified: Long, tailLen: Int, tail: Long, lineStarts: Vector[Long])

  /** Lines between two entries of a shard's sparse line index. */
  val IndexStride = 1024

  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardScanState]()

  /** Total bytes read by [[shardEnd]] across the JVM — spec
    * instrumentation for the no-rescan-on-idle-trigger contract. */
  val bytesScanned = new java.util.concurrent.atomic.AtomicLong()

  /** Total bytes the shard readers walked — the skipped prefix from their
    * seek point plus the records they returned (spec instrumentation for
    * the seek; the last buffer fetch may read up to 64 KiB past it). */
  val readerBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Current record count (= next sequence) of one shard file.
    *
    * Incremental: the driver calls this for EVERY shard on EVERY trigger
    * (`initialOffset`/`latestOffset`), so a full-file line count would be
    * O(total stream bytes) of driver I/O per micro-batch, forever — the
    * round-8 shape did exactly that. The cache keys on consumed byte
    * count; an idle trigger compares file length to the cache and reads
    * NOTHING, an appended shard reads only the appended suffix. A file
    * that shrank (fixture reset — impossible in the append-only shard
    * model) falls back to a full rescan. */
  private val emptyState =
    ShardScanState(0L, 0L, endsWithNewline = true, lastModified = 0L, tailLen = 0, tail = 0L,
      lineStarts = Vector.empty)

  /** Pack the `n` bytes ending at file offset `end` into a Long fingerprint
    * (NOT charged to [[bytesScanned]] — that counter documents line-count
    * scan I/O, and these ≤8 verification bytes are constant per trigger). */
  private def tailAt(raf: java.io.RandomAccessFile, end: Long, n: Int): Long = {
    val b = new Array[Byte](n)
    raf.seek(end - n)
    raf.readFully(b)
    var h = 0L
    var i = 0
    while (i < n) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
    h
  }

  def shardEnd(f: java.io.File): Long = {
    val path = f.getAbsolutePath
    if (!f.exists()) { scanCache.remove(path); return 0L }
    val len = f.length()
    val mtime = f.lastModified()
    val cached = Option(scanCache.get(path))
    // a shrunken file, a same-length file touched OR rewritten since the
    // scan, or a grown file whose bytes at the old scan frontier changed
    // is a REWRITE — drop the cache and rescan from 0. The equal-length
    // arm checks the tail fingerprint as well as mtime: filesystem
    // timestamps are coarse (1-2 s on some stores), so an in-place
    // rewrite landing inside the same timestamp tick would otherwise
    // serve the stale count — the ≤8 verification bytes per trigger are
    // the same price the grown-file arm already pays.
    val prev = cached match {
      case Some(p) if p.scannedBytes > len => emptyState
      case Some(p) if p.scannedBytes == len =>
        if (p.lastModified != mtime) emptyState
        else if (p.tailLen > 0) {
          val raf = new java.io.RandomAccessFile(path, "r")
          val same = try tailAt(raf, p.scannedBytes, p.tailLen) == p.tail finally raf.close()
          if (same) p else emptyState
        } else p
      case Some(p) if p.scannedBytes < len && p.tailLen > 0 =>
        val raf = new java.io.RandomAccessFile(path, "r")
        val same = try tailAt(raf, p.scannedBytes, p.tailLen) == p.tail finally raf.close()
        if (same) p else emptyState
      case Some(p) => p
      case None => emptyState
    }
    val st =
      if (len == prev.scannedBytes) prev
      else {
        val raf = new java.io.RandomAccessFile(path, "r")
        try {
          raf.seek(prev.scannedBytes)
          val buf = new Array[Byte](64 * 1024)
          var nl = prev.newlines
          var endNl = prev.endsWithNewline
          var scanned = prev.scannedBytes
          var starts = prev.lineStarts
          var read = raf.read(buf)
          while (read > 0) {
            var i = 0
            while (i < read) {
              if (buf(i) == '\n') {
                nl += 1
                if (nl % IndexStride == 0) starts :+= scanned + i + 1
              }
              i += 1
            }
            endNl = buf(read - 1) == '\n'
            scanned += read
            bytesScanned.addAndGet(read.toLong)
            read = raf.read(buf)
          }
          val tl = math.min(8L, scanned).toInt
          val next = ShardScanState(scanned, nl, endNl, f.lastModified(), tl,
            if (tl > 0) tailAt(raf, scanned, tl) else 0L, starts)
          scanCache.put(path, next)
          next
        } finally raf.close()
      }
    st.newlines + (if (!st.endsWithNewline && st.scannedBytes > 0) 1L else 0L)
  }

  /** The indexed (sequence, byte offset) of the last line start at or
    * before `seq` that [[shardEnd]] recorded for this file, or (0, 0) when
    * it has none. A hint, not a fact: the reader verifies it. */
  def seekHint(f: java.io.File, seq: Long): (Long, Long) = {
    val starts = Option(scanCache.get(f.getAbsolutePath)).fold(Vector.empty[Long])(_.lineStarts)
    val k = math.min(seq / IndexStride, starts.size.toLong).toInt
    if (k == 0) (0L, 0L) else (k.toLong * IndexStride, starts(k - 1))
  }
}

final class KinesisLiteTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"kinesis-lite:${properties.getOrElse("path", "")}"
  override def schema(): StructType = KinesisLiteSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KinesisLiteSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KinesisLiteStream(
            properties.getOrElse("path",
              throw new IllegalArgumentException("kinesis-lite requires option path=<stream dir>")),
            properties.getOrElse("startingPosition", "LATEST").toUpperCase(java.util.Locale.ROOT),
            properties.getOrElse("maxRecordsPerFetch", "10000").toInt)
      }
    }
}

/** Per-shard sequence map — the checkpointed offset (lease-table analog). */
final case class KinesisLiteOffset(shards: Map[String, Long]) extends Offset {
  // stable key order so the checkpoint JSON is deterministic
  override def json(): String =
    shards.toSeq.sortBy(_._1)
      .map { case (s, n) => "\"" + s + "\":" + n }
      .mkString("{", ",", "}")
}

object KinesisLiteOffset {
  def fromJson(json: String): KinesisLiteOffset = {
    // {"shard-0.txt":12,...} — flat string->long, parsed without a json lib
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    val m =
      if (body.isEmpty) Map.empty[String, Long]
      else body.split(",").map { kv =>
        val Array(k, v) = kv.split(":", 2)
        k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
      }.toMap
    KinesisLiteOffset(m)
  }
}

final class KinesisLiteStream(dir: String, startingPosition: String, maxRecords: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  require(Set("TRIM_HORIZON", "LATEST").contains(startingPosition),
    s"startingPosition must be TRIM_HORIZON or LATEST, got $startingPosition")
  // 0 would admit nothing per batch: the stream would stall silently
  require(maxRecords >= 1, s"maxRecordsPerFetch must be >= 1, got $maxRecords")

  private def available(): Map[String, Long] =
    KinesisLiteSource.shardFiles(dir)
      .map(f => f.getName -> KinesisLiteSource.shardEnd(f)).toMap

  override def initialOffset(): Offset =
    if (startingPosition == "TRIM_HORIZON")
      KinesisLiteOffset(available().map { case (s, _) => s -> 0L })
    else KinesisLiteOffset(available())

  /** Advertised batch-wide budget = per-shard GetRecords cap × shard
    * count, so Spark's admission-control accounting matches what
    * `latestOffset` can actually admit (the round-8 shape advertised the
    * per-shard cap as if it were batch-wide). */
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxRecords.toLong * math.max(1, KinesisLiteSource.shardFiles(dir).size))

  /** GetRecords semantics: each shard advances at most `maxRecords` per
    * fetch (the KCL per-call cap), further narrowed by the PASSED batch
    * budget split evenly across backlogged shards — every backlogged
    * shard gets ≥1 record so a tiny budget still makes progress (bounded
    * overrun ≤ #shards, the same rounding Kafka's rate limit accepts).
    * A shard file that appeared after start (reshard) begins at 0. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KinesisLiteOffset].shards
    val avail = available()
    val backlogged = avail.count { case (shard, end) => end > s.getOrElse(shard, 0L) }
    val perShard: Long = limit match {
      case _: ReadAllAvailable => Long.MaxValue // Trigger.AvailableNow: page to end
      case r: ReadMaxRows if backlogged > 0 =>
        math.min(maxRecords.toLong, math.max(1L, r.maxRows / backlogged))
      case _ => maxRecords.toLong
    }
    KinesisLiteOffset(avail.map { case (shard, end) =>
      val from = s.getOrElse(shard, 0L)
      shard -> (if (perShard == Long.MaxValue) end else math.min(end, from + perShard))
    })
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KinesisLiteOffset].shards
    val e = end.asInstanceOf[KinesisLiteOffset].shards
    e.toSeq.sortBy(_._1).flatMap { case (shard, endSeq) =>
      val startSeq = s.getOrElse(shard, 0L)
      if (endSeq > startSeq) {
        val f = new java.io.File(dir, shard)
        val (hintSeq, hintByte) = KinesisLiteSource.seekHint(f, startSeq)
        Some(KinesisLiteShardPartition(f.getPath, shard, startSeq, endSeq, hintSeq, hintByte))
      } else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[KinesisLiteShardPartition]
        new KinesisLiteShardReader(p)
      }
    }

  override def deserializeOffset(json: String): Offset = KinesisLiteOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Records [startSeq, endSeq) of one shard file. (hintSeq, hintByte) is
  * where the driver's line index says sequence `hintSeq` starts
  * (≤ startSeq); (0, 0) = no hint. */
final case class KinesisLiteShardPartition(
    path: String, shardId: String, startSeq: Long, endSeq: Long,
    hintSeq: Long = 0L, hintByte: Long = 0L) extends InputPartition

/** Reads records [startSeq, endSeq) of one shard file, in order.
  *
  * A record is the bytes before a `\n` (or before end of file), the unit
  * [[KinesisLiteSource.shardEnd]] counts, so sequence numbers always match
  * the checkpointed offsets — a record containing a lone `\r` stays one
  * record. The reader seeks to the partition's index hint and skips the
  * [hintSeq, startSeq) remainder by counting `\n` bytes, without decoding
  * it; with no hint, or when the byte before `hintByte` is not `\n` (the
  * file was rewritten since the driver indexed it), it counts from byte 0.
  * Record bytes go to the row as UTF-8 (malformed sequences replaced)
  * without a round trip through `java.lang.String`. */
final class KinesisLiteShardReader(p: KinesisLiteShardPartition)
    extends PartitionReader[InternalRow] {
  private val in = new java.io.FileInputStream(p.path)
  private val buf = new Array[Byte](64 * 1024)
  private var pos = 0
  private var lim = 0
  private val shardId = UTF8String.fromString(p.shardId)
  private var seq = 0L // sequence of the next record to read
  private var current: UTF8String = _

  private val startByte: Long =
    if (p.hintByte > 0 && p.hintSeq <= p.startSeq && {
          in.getChannel.position(p.hintByte - 1); in.read() == '\n'
        }) { seq = p.hintSeq; p.hintByte }
    else { in.getChannel.position(0L); 0L }
  private var base = startByte // file offset of buf(0)

  private def fill(): Boolean = {
    if (pos < lim) return true
    base += lim
    pos = 0
    lim = math.max(in.read(buf), 0)
    lim > 0
  }

  // skip the remainder of the prefix: count newlines, decode nothing
  while (seq < p.startSeq && fill()) {
    var i = pos
    while (i < lim && buf(i) != '\n') i += 1
    if (i < lim) seq += 1
    pos = math.min(i + 1, lim)
  }

  override def next(): Boolean = {
    if (seq >= p.endSeq || !fill()) return false
    val line = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && fill()) {
      var i = pos
      while (i < lim && buf(i) != '\n') i += 1
      line.write(buf, pos, i - pos)
      done = i < lim
      pos = if (done) i + 1 else lim
    }
    current = UTF8String.fromBytes(line.toByteArray).makeValid()
    seq += 1
    true
  }
  override def get(): InternalRow = InternalRow(current, shardId, seq - 1)
  override def close(): Unit = {
    KinesisLiteSource.readerBytes.addAndGet(base + pos - startByte)
    in.close()
  }
}

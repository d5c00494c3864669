package alertbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row

import graft.streaming.Delivery.{CwSink, PartialSendBatchError}
import graft.streaming.StreamPipeline.BatchSink

/** In-memory stand-ins for the Datadog and CloudWatch clients. Tasks run in
  * the harness JVM (local master), so every sink call lands in the shared
  * [[Capture]] state: one span per `submit` / `putMetricData`, carrying what
  * the output checks and the delivery-layer metrics need. */
object Capture {
  /** One DD `submit` attempt. `accepted(k)` tells whether row k was taken. */
  final class Submit(
      val batchId: Long, val partition: Int, val tag: String,
      val startNs: Long, val endNs: Long, val seqNo: Long,
      val rids: Array[Long], val digests: Array[Long], val accepted: Array[Boolean],
      val outcome: Int, // 0 accepted, 1 whole failure, 2 partial failure
      val narrowed: Boolean, val backoffNs: Long)

  final class CwPut(val seqNo: Long, val batchId: Long, val region: String, val rids: Array[Long], val endNs: Long)

  final class MetaPoint(val seqNo: Long, val metric: String, val tags: String, val pointTs: Long,
      val value: Double, val batchId: Long)

  val seq = new AtomicLong()
  val submits = new ConcurrentLinkedQueue[Submit]()
  val cwPuts = new ConcurrentLinkedQueue[CwPut]()
  val meta = new ConcurrentLinkedQueue[MetaPoint]()
  @volatile var faults: Option[Faults] = None
  // retry-chain bookkeeping, keyed by submitted content
  private[alertbench] val chainAttempts = new ConcurrentHashMap[Long, Integer]()
  private[alertbench] val chainLastEnd = new ConcurrentHashMap[Long, java.lang.Long]()
  private[alertbench] val pendingNarrow = ConcurrentHashMap.newKeySet[Long]()
  private[alertbench] val recordAttempts = new ConcurrentHashMap[Long, Integer]()

  def reset(f: Option[Faults]): Unit = {
    submits.clear(); cwPuts.clear(); meta.clear()
    chainAttempts.clear(); chainLastEnd.clear(); pendingNarrow.clear(); recordAttempts.clear()
    faults = f
  }

  def batchId(): Long =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)

  def contentKey(tag: String, rids: Array[Long]): Long = {
    var h = tag.hashCode.toLong * 0x9e3779b97f4a7c15L + rids.length
    var i = 0
    while (i < rids.length) { h = java.lang.Long.rotateLeft(h ^ rids(i), 27) * 0xbf58476d1ce4e5b9L; i += 1 }
    h
  }
}

/** Digest of one DD point, identical for a sink row and a batch-recompute
  * row, so delivered points can be compared as sets of longs. */
object Digest {
  import scala.util.hashing.MurmurHash3
  def dd(rid: Long, metric: String, tpe: String, tags: collection.Seq[String], pointTs: Long,
      value: Double, rule: String, tag: String): Long = {
    val s = new java.lang.StringBuilder(160)
    s.append(rid).append('|').append(metric).append('|').append(tpe).append('|')
    tags.foreach(t => s.append(t).append(','))
    s.append('|').append(pointTs).append('|').append(java.lang.Double.doubleToLongBits(value))
      .append('|').append(rule).append('|').append(tag)
    val str = s.toString
    (MurmurHash3.stringHash(str, 0x1234).toLong << 32) | (MurmurHash3.stringHash(str, 0x9876).toLong & 0xffffffffL)
  }

  /** Digest of a `Delivery.DDRec`-shaped struct delivered under `tag`. */
  def ddRow(r: Row, tag: String): Long =
    dd(r.getLong(0), r.getString(1), r.getString(2), r.getSeq[String](3), r.getLong(4), r.getDouble(5),
      r.getString(6), tag)
}

/** Content-keyed failure schedule of the flaky DD sink. Record classes come
  * from a hash of (seed, record id), so the same records fail on every
  * commit: `poison` records fail every attempt (dead-lettered after the
  * retry budget), `partial` records fail their first attempt only (a
  * `PartialSendBatchError` narrows the resubmit). Whole-submit failures are
  * keyed by the submitted content and attempt number. */
final case class Faults(seed: Long, poisonShare: Double, partialShare: Double,
    wholeOnceShare: Double, wholeTwiceShare: Double) {
  private def unit(a: Long, b: Long): Double = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    ((z ^ (z >>> 31)) >>> 11) * (1.0 / (1L << 53))
  }
  def poison(rid: Long): Boolean = unit(seed, rid) < poisonShare
  def partial(rid: Long): Boolean = { val u = unit(seed, rid); u >= poisonShare && u < poisonShare + partialShare }
  /** How many leading attempts of this content fail wholesale. */
  def wholeFailures(key: Long): Int = {
    val u = unit(seed ^ 0x5bd1e995L, key)
    if (u < wholeTwiceShare) 2 else if (u < wholeTwiceShare + wholeOnceShare) 1 else 0
  }
}

final class DdSink extends BatchSink {
  import Capture._
  override def submit(tag: String, rows: Seq[Row]): Unit = {
    val t0 = System.nanoTime()
    val n = rows.size
    val rids = new Array[Long](n)
    val digests = new Array[Long](n)
    var k = 0
    rows.foreach { r => rids(k) = r.getLong(0); digests(k) = Digest.ddRow(r, tag); k += 1 }
    val key = contentKey(tag, rids)
    val attempt: Int = chainAttempts.merge(key, 1, (a: Integer, b: Integer) => a + b)
    val prevEnd = chainLastEnd.get(key)
    val backoff = if (prevEnd == null) 0L else t0 - prevEnd
    val narrowed = pendingNarrow.remove(key)
    val accepted = Array.fill(n)(true)
    var outcome = 0
    faults.foreach { f =>
      if (attempt <= f.wholeFailures(key)) {
        java.util.Arrays.fill(accepted, false); outcome = 1
      } else {
        var i = 0
        while (i < n) {
          val rid = rids(i)
          val fail = f.poison(rid) || (f.partial(rid) &&
            recordAttempts.merge(rid, 1, (a: Integer, b: Integer) => a + b) == 1)
          if (fail) { accepted(i) = false; outcome = 2 }
          i += 1
        }
      }
    }
    val seqNo = seq.incrementAndGet()
    val t1 = System.nanoTime()
    submits.add(new Submit(batchId(), Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1),
      tag, t0, t1, seqNo, rids, digests, accepted, outcome, narrowed, backoff))
    outcome match {
      case 0 => ()
      case 1 =>
        chainLastEnd.put(key, t1)
        throw new RuntimeException("injected submit failure")
      case _ =>
        val failed = rows.zip(accepted).collect { case (r, false) => r }
        val fkey = contentKey(tag, failed.map(_.getLong(0)).toArray)
        chainLastEnd.put(fkey, t1)
        pendingNarrow.add(fkey)
        throw new PartialSendBatchError("injected partial failure", failed)
    }
  }
}

final class RecordingCwSink extends CwSink {
  override def putMetricData(region: String, rows: Seq[Row]): Unit =
    Capture.cwPuts.add(new Capture.CwPut(Capture.seq.incrementAndGet(), Capture.batchId(), region,
      rows.map(_.getLong(0)).toArray, System.nanoTime()))
}

final class MetaSink extends BatchSink {
  override def submit(tag: String, rows: Seq[Row]): Unit = {
    val b = Capture.batchId()
    rows.foreach { r =>
      Capture.meta.add(new Capture.MetaPoint(Capture.seq.incrementAndGet(), r.getAs[String]("metric"),
        r.getAs[String]("tags_str"), if (r.isNullAt(r.fieldIndex("point_ts"))) Long.MinValue
        else r.getAs[Long]("point_ts"), r.getAs[Double]("point_value"), b))
    }
  }
}

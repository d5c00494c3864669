package alertbench

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile of an unsorted sample (q in [0, 1]). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr(xs: collection.Seq[Double], empty: Double): Double = if (xs.isEmpty) empty else median(xs)
}

/** A metric value with its unit, printed into the result line. */
final case class Metric(value: Double, unit: String)

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: collection.Seq[(String, Metric)]): String =
    metrics.map { case (k, m) => s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Memory the process holds on to: heap in use right after a full
    * collection plus non-heap in use (metaspace, code cache), in MB. Unlike
    * the resident set, it does not follow how far the collector has grown
    * the heap. */
  def liveMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    // the least of three readings: one single reading came out at three
    // times the others (a requested collection is not guaranteed to have
    // collected everything unreachable when it returns)
    (1 to 3).map { _ =>
      System.gc()
      (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }.min
  }
}

/** JVM counters read at each batch end, to show what a warm-up still spends:
  * JIT compile time, GC time and Janino (Spark codegen) compilations. */
object Jvm {
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  def jitMs(): Long = jit.getTotalCompilationTime
  def gcMs(): Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def janino(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def snapshot(): (Long, Long, Long) = (jitMs(), gcMs(), janino())
}

/** Wall-clock anchor: converts System.nanoTime stamps to epoch milliseconds
  * (progress events carry epoch-ms timestamps). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs(): Double = epochMs(System.nanoTime())
}

/** Samples process CPU time every few ms, so it can be read off at batch
  * boundaries after the fact. */
final class CpuSampler extends Thread("cpu-sampler") {
  setDaemon(true)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
  @volatile private var running = true
  override def run(): Unit = while (running) {
    buf.add((Clock.nowMs(), Proc.cpuNs())); Thread.sleep(5)
  }
  def halt(): Unit = { running = false; join() }
  /** Process CPU ns at epoch ms `t`, linearly interpolated between samples. */
  def cpuAt(t: Double): Double = {
    val xs = buf.toArray(Array.empty[(Double, Long)])
    val i = xs.indexWhere(_._1 >= t)
    if (xs.isEmpty) 0.0
    else if (i < 0) xs.last._2.toDouble
    else if (i == 0) xs.head._2.toDouble
    else {
      val ((t0, c0), (t1, c1)) = (xs(i - 1), xs(i))
      c0 + (c1 - c0) * (if (t1 > t0) (t - t0) / (t1 - t0) else 0.0)
    }
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftShims

/** Lane attribution must not depend on when the asynchronous listener bus
  * delivers an event. A listener that sleeps on every stage completion is
  * registered ahead of the reps' own listeners, so each stage-completed
  * event reaches them well after the stage ran, and a rep's last ones
  * after its timed region has ended. Two lanes then run back to back:
  * q_bm25_incremental, whose artifact writes overlap on `ParallelJobs`
  * threads, and q_dim_project.
  */
class BenchLaneStatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a lagging listener bus still charges every stage to the lane whose rep launched it") {
    val sc = spark.sparkContext
    val hostCpus = Runtime.getRuntime.availableProcessors
    GraftShims.drainListenerBus(sc, 60000L)
    val completed = new ConcurrentLinkedQueue[Int]()
    val reference = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.add(e.stageInfo.stageId)
    }
    val sleeper = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(50)
    }
    sc.addSparkListener(reference)
    sc.addSparkListener(sleeper)
    try {
      val a = Bench.runRep(spark, "q_bm25_incremental", sf, hostCpus)
      val b = Bench.runRep(spark, "q_dim_project", sf, hostCpus)
      assert(a.seconds >= 0 && b.seconds >= 0, "a rep failed")
      val (ia, ib) = (a.stages.map(_.id), b.stages.map(_.id))
      assert(ia.nonEmpty && ib.nonEmpty)
      // stage ids are allocated in submission order: nothing of the first
      // lane may be charged to the second, or the other way round
      assert(ia.max < ib.min, s"stages crossed lanes: $ia / $ib")
      // and nothing is dropped: every stage completed in the two reps,
      // the ParallelJobs writes' included, is charged to one of them
      assert((ia ++ ib).sorted == completed.asScala.toSeq.sorted)
      assert(a.jobs.nonEmpty && b.jobs.nonEmpty)
      assert(a.jobs.map(_.stages).sum >= ia.size)
    } finally {
      sc.removeSparkListener(sleeper)
      sc.removeSparkListener(reference)
    }
  }

  test("ParallelJobs threads inherit the rep's lane property") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    def probe(): Unit = { seen.add(sc.getLocalProperty(Bench.LaneProperty)); () }
    sc.setLocalProperty(Bench.LaneProperty, "lane-x")
    try graft.plans.ParallelJobs.await(() => probe(), () => probe())
    finally sc.setLocalProperty(Bench.LaneProperty, null)
    assert(seen.asScala.toSeq == Seq("lane-x", "lane-x"))
  }
}

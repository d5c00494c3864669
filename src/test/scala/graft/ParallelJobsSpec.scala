package graft

import java.util.concurrent.atomic.AtomicReference

import graft.plans.ParallelJobs

/** Executor-side probe: tasks run in the test JVM (local mode), so a task
  * closure reaches this object directly instead of a serialized copy. */
object ParallelJobsProbe {
  val tasksStarted = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** `ParallelJobs.await` must never return — normally or by rethrowing —
  * while a sibling of a failed thunk is still running: the caller's
  * cleanup (cache clears, store-dir reuse) would race it. */
class ParallelJobsSpec extends SparkSpec {

  test("a failing thunk interrupts its siblings before await rethrows") {
    val sibling = new AtomicReference("not started")
    val started = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      ParallelJobs.await(
        () => { started.await(); Thread.sleep(100); throw new IllegalStateException("boom") },
        () => {
          sibling.set("running")
          started.countDown()
          try { Thread.sleep(60000); sibling.set("finished") }
          catch { case _: InterruptedException => sibling.set("interrupted") }
        }
      )
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(err.getMessage === "boom")
    // settled when await returned, and by interruption, not by running out its sleep
    assert(sibling.get() === "interrupted")
    assert(elapsedMs < 30000, s"await waited ${elapsedMs} ms")
  }

  test("a failing thunk cancels a sibling's Spark job before await rethrows") {
    val sc = spark.sparkContext
    ParallelJobsProbe.tasksStarted.set(0)
    val sibling = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      ParallelJobs.await(
        () => {
          while (ParallelJobsProbe.tasksStarted.get() == 0) Thread.sleep(10)
          throw new IllegalStateException("boom")
        },
        () =>
          try
            sc.parallelize(1 to 2, 2).foreach { _ =>
              ParallelJobsProbe.tasksStarted.incrementAndGet()
              val ctx = org.apache.spark.TaskContext.get()
              val end = System.currentTimeMillis() + 60000
              while (!ctx.isInterrupted() && System.currentTimeMillis() < end) Thread.sleep(20)
            }
          catch { case t: Throwable => sibling.set(t) }
      )
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(sibling.get() != null, "the sibling's Spark job ran to completion")
    assert(elapsedMs < 30000, s"await waited ${elapsedMs} ms")
    // the job was cancelled, not merely abandoned by its interrupted thread
    val deadline = System.currentTimeMillis() + 10000
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}

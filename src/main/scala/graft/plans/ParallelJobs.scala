package graft.plans

/** Run independent Spark ACTIONS concurrently (optimization guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially; submitting independent jobs from a small pool lets the
  * next job's tasks back-fill executors freed by the current job's tail).
  *
  * Used by the store-build lanes whose artifact writes are independent
  * once the shared upstream cache is warm (round-20 verdict item 5: the
  * bm25 postings/docstats/totals and WAND-artifact writes ran strictly
  * sequentially).
  *
  * Rules the call sites follow:
  *   - Every thunk commits to a DIFFERENT output path. Two concurrent
  *     jobs into one directory race on the shared `_temporary` staging
  *     dir of the Hadoop committer — appends to the same store path stay
  *     sequential.
  *   - The shared upstream frame is materialized (written or counted)
  *     BEFORE the overlap, so concurrent thunks read a warm cache
  *     instead of racing to compute it.
  *
  * Spark's job-level properties (description, scheduler pool) live in
  * InheritableThreadLocals, so pool threads created here inherit the
  * caller's. Blocks until all thunks complete; on the first failure it
  * interrupts the sibling thunks, cancels their Spark jobs (tagged per
  * call), waits for the pool to drain, then rethrows that failure's cause
  * — it never returns, normally or exceptionally, with a thunk still
  * running.
  */
object ParallelJobs {
  def await(thunks: (() => Unit)*): Unit = {
    if (thunks.size <= 1) { thunks.foreach(_.apply()); return }
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-parallel-jobs-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    val futs = thunks.map { t =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = { sc.foreach(_.addJobTag(tag)); t() }
      })
    }
    try {
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
      pool.shutdown()
    } catch {
      case e: Throwable =>
        futs.foreach(_.cancel(true))
        sc.foreach(_.cancelJobsWithTag(tag))
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.MILLISECONDS)
        throw e
    }
  }
}

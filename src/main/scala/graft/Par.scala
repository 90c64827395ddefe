package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Driver-thread overlap for INDEPENDENT chains of eager Spark work
  * (guide §2.6: actions are only sequential because driver code calls
  * them sequentially). An index build or per-batch fold runs several
  * disjoint chains of small jobs (localCheckpoints, bounded collects,
  * classifier rounds); submitting each chain from its own thread lets
  * the scheduler back-fill executor slots one chain's stragglers leave
  * idle, so the eager section's wall approaches the slowest chain
  * instead of the sum.
  *
  * The pool is CACHED (unbounded): chains are few (2-5 per call site)
  * and short-lived, and a bounded pool shared across nested call sites
  * could deadlock. Threads are daemons — they never hold the JVM open. */
object Par {
  private lazy val pool =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })

  /** Run the tasks concurrently and return their results in order.
    * Surfaces the FIRST task's failure after all complete (the job
    * chains are independent, so letting the rest finish is safe).
    * Each task runs under the caller's thread-local state, captured at
    * submit and restored after: the active session, Spark's local
    * properties (job group, description, scheduler pool, SQL
    * execution ids) and the session's artifact state. Local properties
    * are inherited only when a thread is CREATED, so a pooled thread
    * would otherwise keep those of whichever caller first spawned it. */
  def run[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val session =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val fs = tasks.map(t =>
        SQLExecution.withThreadLocalCaptured(session, pool)(t()))
      fs.map(f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
    }
}

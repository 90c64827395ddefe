package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler facts the benchmark needs that Spark keeps
  * package-private: how many jobs have been submitted so far (job ids
  * are handed out in submit order, so the ids a closed-loop operation
  * was given are exactly the range between two reads), and a way to
  * wait until the listener bus has delivered every queued event. */
object BenchBus {
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

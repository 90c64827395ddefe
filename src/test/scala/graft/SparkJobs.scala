package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code launches: every job
  * run under a fresh job group while the block runs — threads the
  * block's jobs run on (broadcast builds) inherit the group — is
  * counted by a listener. The listener bus is asynchronous but
  * ordered, so once a later sentinel job's start is seen, every job
  * the block launched was seen first. */
object SparkJobs {
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener-bus flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!started.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.contains(sentinel), "listener bus never flushed")
      (out, started.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}

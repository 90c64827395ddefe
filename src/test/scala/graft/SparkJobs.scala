package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Counts what a block of driver code costs Spark: the jobs it
  * launches, and the rows its tasks read from files. Every job run
  * under a fresh job group while the block runs — threads the block's
  * jobs run on (broadcast builds) inherit the group — is counted by a
  * listener. The listener bus is asynchronous but ordered, so once a
  * later sentinel job's start is seen, every job, stage and task the
  * block launched was seen first. */
object SparkJobs {
  /** Jobs launched, and the rows and bytes their scans read from files
    * (input metrics: checkpoint and shuffle reads do not count). Bytes
    * count every footer a scan opens, so they also grow with the files
    * it plans when parquet's row-group statistics skip their rows. */
  final case class Cost(jobs: Int, rowsRead: Long, bytesRead: Long)

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, cost) = measure(spark)(body)
    (out, cost.jobs)
  }

  def measure[T](spark: SparkSession)(body: => T): (T, Cost) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(groupOf(e.properties))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        }
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
      (out, Cost(started.toArray.count(_ == group), rows.get(),
        bytes.get()))
    } finally sc.removeSparkListener(listener)
  }
}

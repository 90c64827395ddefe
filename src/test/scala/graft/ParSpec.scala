package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class ParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("jobs launched from reused Par threads carry the caller's job " +
      "group and description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        seen.add((prop("spark.jobGroup.id"), prop("spark.job.description")))
      }
    }
    def tag(group: String) = (group, s"$group description")
    def under(group: String, tasks: Int): Unit = {
      sc.setJobGroup(group, tag(group)._2)
      try Par.run(spark,
        Seq.fill(tasks)(() => spark.range(0, 100, 1, 2).count()))
      finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      under("par-caller", 1) // one task runs on the caller's own thread
      // the first overlapped run leaves idle pool threads behind, and
      // the second reuses them: they were created under another group
      under("par-first", 4)
      Thread.sleep(200)
      under("par-second", 4)
      under("par-flush", 1) // the bus is ordered: seen after the rest
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(tag("par-flush")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen.toArray.toSeq
      val perTask = jobs.count(_ == tag("par-caller"))
      assert(perTask > 0 && jobs.contains(tag("par-flush")))
      assert(jobs.count(_ == tag("par-second")) === 4 * perTask,
        s"a job of the second run lost its caller's group: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}

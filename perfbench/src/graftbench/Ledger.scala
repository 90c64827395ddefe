package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job. `label` is its `vkt: <phase>` description (or
  * "unlabeled"); `plan` holds the features of the SQL plan it runs
  * (see [[Ledger.features]]). Stage metrics are filled in traced runs
  * only. */
final class JobRec(val id: Int, val startMs: Long, val label: String,
    val plan: Set[String]) {
  @volatile var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
}

/** A span: one call into a layer, placed by the benchmark around a
  * public function. Spans of one operation share `op`; `parent` is the
  * enclosing span (0 = none). `[jobFrom, jobTo)` is the range of job
  * ids submitted while the span was open. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, jobFrom: Int, jobTo: Int,
    cpuS: Double, gcS: Double) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One micro-batch as the StreamingQueryListener reported it. */
final case class BatchRec(batchId: Long, startMs: Long,
    durations: Map[String, Long]) {
  def seconds: Double = durations.getOrElse("triggerExecution", 0L) / 1e3
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** The benchmark's view of Spark: a listener that records every job
  * (with stage metrics and plan features when `detailed`), a streaming
  * listener that records every micro-batch, and — while `tracing` —
  * spans kept in memory. Jobs belong to an operation or span by job
  * id: ids are handed out in submit order, and the client is one
  * thread in a closed loop, so the ids submitted between two reads of
  * the scheduler's counter are exactly that interval's jobs, also
  * those run from `Par` threads or a stream's thread. */
final class Ledger(spark: SparkSession, detailed: Boolean,
    markers: Seq[String]) {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val sqlPlans = new ConcurrentHashMap[Long, Set[String]]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  @volatile var tracing = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long, Int, Double, Double)]
  private var nextSpan = 1
  private var currentOp = 0

  def jobsSubmitted: Int = org.apache.spark.scheduler.BenchBus.jobsSubmitted(sc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val label = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .filter(_.startsWith("vkt: ")).map(_.stripPrefix("vkt: "))
        .getOrElse("unlabeled")
      val plan = if (!detailed) Set.empty[String] else
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .flatMap(i => Option(sqlPlans.get(i.toLong))).getOrElse(Set.empty)
      val j = new JobRec(e.jobId, e.time, label, plan)
      if (detailed) e.stageIds.foreach(s => stageToJob.putIfAbsent(s, j))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (detailed) {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).foreach { j =>
          j.synchronized {
            j.stages += 1
            j.tasks += si.numTasks
            Option(si.taskMetrics).foreach { m =>
              j.bytesRead += m.inputMetrics.bytesRead
              j.recordsRead += m.inputMetrics.recordsRead
              j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
              j.bytesWritten += m.outputMetrics.bytesWritten
            }
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if detailed =>
        sqlPlans.put(s.executionId,
          Ledger.features(s.physicalPlanDescription, markers))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        batches.add(BatchRec(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d))
    }
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Deliver every queued listener event before records are read. */
  def drain(): Unit = org.apache.spark.scheduler.BenchBus.drain(sc)

  def close(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    sc.removeSparkListener(jobListener)
  }

  /** Jobs with ids in `[from, to)`, in id order ([[drain]] first). */
  def jobsIn(from: Int, to: Int): Seq[JobRec] =
    (from until to).flatMap(i => Option(jobs.get(i)))

  /** Every job recorded, in id order ([[drain]] first). */
  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  def newOp(): Int = { currentOp += 1; currentOp }
  /** The op most recently started. */
  def lastOp: Int = currentOp

  /** Run `body` inside a span named `name` when tracing. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      stack.push((id, System.nanoTime(), jobsSubmitted, Jvm.cpuS(), Jvm.gcS()))
      val parent = if (stack.size > 1) stack(1)._1 else 0
      try body
      finally {
        val (_, ns, from, c0, g0) = stack.pop()
        spans += Span(id, name, currentOp, parent, ns, System.nanoTime(),
          from, jobsSubmitted, Jvm.cpuS() - c0, Jvm.gcS() - g0)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Each job of a span tree goes to the innermost span whose id range
    * holds it. */
  def innermost(): Map[Int, Seq[JobRec]] = {
    val byWidth = spans.sortBy(s => s.jobTo - s.jobFrom)
    val owner = mutable.HashMap.empty[Int, Int]
    byWidth.foreach(s => (s.jobFrom until s.jobTo).foreach(j =>
      if (!owner.contains(j)) owner(j) = s.id))
    owner.toSeq.flatMap { case (j, s) => Option(jobs.get(j)).map(s -> _) }
      .groupMap(_._1)(_._2).map { case (s, js) => s -> js.sortBy(_.id) }
  }
}

object Ledger {
  /** Seconds during which at least one of `js` was running. */
  def busy(js: Seq[JobRec]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (js.nonEmpty) total += curE - curS
    total / 1e3
  }

  /** Sum of job durations: with `busy`, the overlap of concurrent jobs. */
  def summed(js: Seq[JobRec]): Double = js.map(j => j.endMs - j.startMs).sum / 1e3

  private val Lambda = """graft\.[a-z.]+\.([A-Za-z0-9]+)\$\$\$Lambda""".r

  /** Features of a physical plan (Spark's formatted explain): `reads:<m>`
    * for each marker in a scanned location, `writes:<m>` for each in the
    * arguments of a file-write node, and `fn:<Object>` for each graft
    * object whose function a typed operator calls. */
  def features(plan: String, markers: Seq[String]): Set[String] = {
    var node = ""
    val tags = plan.linesIterator.flatMap { l =>
      if (l.matches("""^\(\d+\) .*""")) node = l
      if (l.startsWith("Location:"))
        markers.filter(l.contains).map(m => s"reads:$m")
      else if (l.startsWith("Arguments:") && node.contains("InsertInto"))
        markers.filter(l.contains).map(m => s"writes:$m")
      else Nil
    }.toSet
    tags ++ Lambda.findAllMatchIn(plan).map(m => s"fn:${m.group(1)}")
  }
}

/** Process-wide JVM and Spark counters, read around the timed loop and
  * around each span. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3
  def jitS(): Double = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime / 1e3
  /** Bytes allocated by live threads so far (Spark's pools keep their
    * threads, so differences over the loop are close to its
    * allocation). */
  def allocBytes(): Long = threads.getTotalThreadAllocatedBytes
  def codegenCompiles(): Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  def filesListed(): Long = org.apache.spark.metrics.source.HiveCatalogMetrics
    .METRIC_FILES_DISCOVERED.getCount

  /** Heap still in use after full collections: what the run retains
    * (state, caches, cached blocks). The first collection lets Spark's
    * ContextCleaner see dropped RDDs, shuffles and broadcasts; after it
    * has freed their blocks the second leaves only what is referenced. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def heapFlags: Seq[String] = ManagementFactory.getRuntimeMXBean
    .getInputArguments.asScala.toSeq.filter(a => a.startsWith("-Xm") ||
      a.startsWith("-XX"))

  /** `/proc/stat`'s aggregate cpu line: (total, iowait, steal) jiffies. */
  def procStat(): (Long, Long, Long) =
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (l.sum, l.lift(4).getOrElse(0L), l.lift(7).getOrElse(0L))
    } catch { case _: Exception => (0L, 0L, 0L) }

  def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }
}

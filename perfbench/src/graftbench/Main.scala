package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A closed-loop workload: one client thread issues the next operation
  * only after the previous one returned. */
trait Workload {
  /** Build the state the operations run on, from scratch. */
  def setup(): Unit
  /** An untimed pass over every op kind of the workload. */
  def warmup(): Unit
  /** Set-up rebuilds all the state the timed loop needs, so the later
    * set-up repetitions can follow the warm-up. */
  def setupAfterWarmup: Boolean
  /** Untimed, before each timed cycle: bring the state to the shape
    * every cycle starts from; with `again`, back to exactly where the
    * last cycle started, so that a cycle measured again does the same
    * work. */
  def prepare(again: Boolean): Unit
  /** One cycle of operations: a fixed mix, from the same state shape. */
  def cycle(): Unit
  /** Seconds one warm cycle takes on 4 cores. The run times
    * `round(seconds / nominalCycleS)` cycles (at least one): the amount
    * of work follows from the run length alone, never from the speed
    * being measured. */
  def nominalCycleS: Double
  /** Told before set-up how many timed cycles the run keeps. */
  def plan(cycles: Int): Unit = ()
  /** Check the whole state after the loop (problems go to the Run). */
  def finalCheck(): Unit
  /** The workload's own per-layer metrics (traced runs). */
  def layer(l: Layer): Map[String, Double]
  /** The jobs an op ran; ops timed elsewhere override this. */
  def jobsOf(o: OpRec, ledger: Ledger): Seq[JobRec] =
    ledger.jobsIn(o.jobFrom, o.jobTo)
}

/** The traced run's view of its timed loop: ops, spans and jobs. */
final class Layer(val ops: Seq[OpRec], val ledger: Ledger, wl: Workload) {
  val spans: Seq[Span] = ledger.allSpans
  val opSeqs: Set[Int] = ops.map(_.seq).toSet
  private val byOp = ops.map(o => o.seq -> wl.jobsOf(o, ledger)).toMap
  def jobs(o: OpRec): Seq[JobRec] = byOp.getOrElse(o.seq, Nil)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The benchmark's JVM entry point; `perfbench/run.py` launches it.
  *
  *   --workload store|stream_curation --seed N
  *   --seconds S --trace 0|1 --corrupt 0|1 --work DIR --data DIR
  *   --source HASH --out FILE
  *
  * Sets the workload up [[SetupReps]] times and runs one untimed warm-up
  * pass (see [[Workload.setupAfterWarmup]]), then a fixed number of cycles (see [[Workload.nominalCycleS]]),
  * checks every op outside the timing, and writes the run record as
  * JSON to `out`. */
object Main {
  val SetupReps = 3
  /** The tail percentile of per-kind latencies (the record gives each
    * kind's sample count). */
  val TailPct = 0.9
  /** At most this many Spark slots (the host's cores when fewer). */
  val MaxSlots = 4
  /** Share of the machine's CPU time the host may steal during a timed
    * cycle before the cycle is measured again; and how many extra
    * cycles a run may spend on that. A cycle measured again runs one
    * cycle warmer, some 10% less CPU per op on a 4-core host, so a
    * smaller steal is cheaper to keep than to re-measure. */
  val MaxSteal = 0.05
  val Retries = 1
  /** Path fragments whose reads and writes the ledger tags in plans. */
  val Markers = Seq("stream_index", "/state/ingest", "/curated")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val slots = math.min(MaxSlots, Runtime.getRuntime.availableProcessors())
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val spark = SparkSession.builder().master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.log.level", "ERROR")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    val base = Data.ensureBase(spark, a("data"))
    val ledger = new Ledger(spark, detailed = trace, Markers)
    val r = new Run(spark, seed, work, a("data"), base, a("source"), ledger,
      trace, corrupt = a.get("corrupt").contains("1"))
    val wl: Workload = workload match {
      case "store" => new StoreCycle(r)
      case "stream_curation" => new StreamCuration(r)
    }

    val cycles = math.max(1, math.round(seconds / wl.nominalCycleS).toInt)
    wl.plan(cycles)
    def setup(i: Int): Double = {
      val c0 = r.checks
      val t0 = System.nanoTime()
      wl.setup()
      val dt = (System.nanoTime() - t0) / 1e9 - (r.checks - c0).wallS
      log(f"set-up $i: $dt%.2f s")
      dt
    }
    def warmup(): Double = {
      val c0 = r.checks
      val t0 = System.nanoTime()
      wl.warmup()
      val dt = (System.nanoTime() - t0) / 1e9 - (r.checks - c0).wallS
      log(f"warm-up: $dt%.2f s")
      dt
    }
    // a workload whose set-up rebuilds everything its cycles need sets up
    // once, warms up, then sets up again; otherwise the warm-up comes
    // last, on the state it then leaves for the timed loop
    val (setupS, warmupS) =
      if (wl.setupAfterWarmup) {
        val first = setup(0)
        val w = warmup()
        (first +: (1 until SetupReps).map(setup), w)
      } else {
        val reps = (0 until SetupReps).map(setup)
        (reps, warmup())
      }

    // The timed loop. A cycle during which the host took more than
    // MaxSteal of the CPU time from this machine (other tenants: steal
    // in /proc/stat) is run again from the state it started from, at
    // most Retries times in all; the last attempts are kept whatever
    // their steal, so a run always ends with `cycles` measured cycles.
    // A traced run measures each cycle twice from the same state:
    // traced, then untraced, the base of `trace.overhead`. Every attempt
    // stays in the record.
    val load0 = Jvm.loadAvg()
    r.timed = true
    val attempts = mutable.ArrayBuffer.empty[Attempt]
    def attempt(tracing: Boolean, again: Boolean): Attempt = {
      val c = attempts.size
      r.check(wl.prepare(again))
      r.cycle = c
      val checks0 = r.checks
      val extra0 = r.extraJobs
      ledger.tracing = tracing
      val stat0 = Jvm.procStat()
      val s0 = Snap.now()
      wl.cycle()
      val cost = Snap.now() - s0 - (r.checks - checks0)
      val stat1 = Jvm.procStat()
      ledger.tracing = false
      val total = math.max(1L, stat1._1 - stat0._1)
      val steal = (stat1._3 - stat0._3).toDouble / total
      val iowait = (stat1._2 - stat0._2).toDouble / total
      val spare = Retries - attempts.count(!_.kept)
      val x = Attempt(c, tracing, steal <= MaxSteal || spare <= 0, steal,
        iowait, cost, r.extraJobs - extra0)
      attempts += x
      log(f"cycle $c${if (tracing) " (traced)" else ""}: " +
        f"${r.ops.count(_.cycle == c)} ops, ${cost.wallS}%.2f s, " +
        f"steal $steal%.3f${if (x.kept) "" else ", measured again"}")
      if (x.kept) x else attempt(tracing, again = true)
    }
    val (kept, twins) = (0 until cycles).map { _ =>
      val x = attempt(tracing = trace, again = false)
      (x, if (trace) Some(attempt(tracing = false, again = true)) else None)
    }.unzip
    r.timed = false
    val load1 = Jvm.loadAvg()
    val heapLiveMb = Jvm.liveHeapMb()
    wl.finalCheck()
    log("final check done")

    def opsOf(xs: Seq[Attempt]) = {
      val cs = xs.map(_.cycle).toSet
      r.ops.toSeq.filter(o => cs(o.cycle))
    }
    val ops = opsOf(kept)
    val loop = kept.map(_.cost).foldLeft(Snap.Zero)(_ + _)
    val n = math.max(1, ops.size)
    val endToEnd = Map(
      "setup_s" -> Run.median(setupS),
      "ops_per_s" -> ops.size / loop.wallS,
      "op_gmean_s" -> Run.gmean(ops.map(_.seconds)),
      "cpu_per_op_s" -> loop.cpuS / n,
      "heap_live_mb" -> heapLiveMb,
      "jobs_per_op" -> (ops.map(_.jobs).sum + kept.map(_.extraJobs).sum)
        .toDouble / n)

    ledger.drain()
    val layer = if (!trace) Map.empty[String, Double] else {
      val l = new Layer(ops, ledger, wl)
      val all = ops.flatMap(l.jobs)
      def sumOf(f: JobRec => Long) = all.map(f).sum.toDouble / n
      val busy = ops.map(o => Ledger.busy(l.jobs(o)))
      val kinds = ops.groupBy(_.kind).toSeq.flatMap { case (k, os) =>
        Seq(s"${k}_s" -> Run.median(os.map(_.seconds)),
          s"${k}_tail_s" -> Run.pct(os.map(_.seconds), TailPct),
          s"$k.jobs" -> os.map(_.jobs).sum.toDouble / os.size)
      }
      Map(
        "spark.stages_per_op" -> sumOf(_.stages),
        "spark.tasks_per_op" -> sumOf(_.tasks),
        "spark.job_busy_s" -> l.mean(busy),
        "spark.driver_gap_s" -> l.mean(ops.zip(busy).map { case (o, b) => o.seconds - b }),
        "spark.job_overlap" -> (if (busy.sum == 0) 0.0 else
          ops.map(o => Ledger.summed(l.jobs(o))).sum / busy.sum),
        "spark.bytes_read_per_op" -> sumOf(_.bytesRead),
        "spark.shuffle_bytes_per_op" -> sumOf(_.shuffleBytes),
        "spark.bytes_written_per_op" -> sumOf(_.bytesWritten),
        "spark.codegen_compiles_per_op" -> loop.codegen.toDouble / n,
        "spark.files_listed_per_op" -> loop.filesListed.toDouble / n,
        "jvm.gc_s_per_op" -> loop.gcS / n,
        "jvm.alloc_mb_per_op" -> loop.allocB / 1048576.0 / n,
        "jvm.jit_s" -> loop.jitS,
        "warmup_s" -> warmupS,
        "trace.overhead" -> (endToEnd("op_gmean_s") /
          Run.gmean(opsOf(twins.flatten).map(_.seconds)) - 1)
      ) ++ kinds ++ wl.layer(l)
    }

    val all = r.ops.toSeq
    val failed = all.count(!_.ok) +
      (if (r.problems.nonEmpty && all.forall(_.ok)) 1 else 0)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "cycles" -> cycles,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_slots" -> slots, "master" -> s"local[$slots]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "heap_flags" -> Jvm.heapFlags, "spark_version" -> spark.version,
      "load_avg_start" -> load0, "load_avg_end" -> load1,
      "cpu_steal_frac" -> kept.map(_.steal).max,
      "cpu_iowait_frac" -> kept.map(_.iowait).max,
      "max_steal" -> MaxSteal,
      "cycle_attempts" -> attempts.map(x => Map("cycle" -> x.cycle,
        "traced" -> x.traced, "kept" -> x.kept, "steal" -> x.steal, "iowait" -> x.iowait,
        "seconds" -> x.cost.wallS, "cpu_s" -> x.cost.cpuS)),
      "loop_jit_ms" -> loop.jitS * 1e3, "loop_gc_ms" -> loop.gcS * 1e3,
      "loop_s" -> loop.wallS,
      "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
      "attempted" -> all.size, "failed" -> failed,
      "correct" -> (r.problems.isEmpty && all.nonEmpty),
      "problems" -> r.problems.take(20).toSeq,
      "ops_by_kind" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "ops" -> all.map(o => Map("kind" -> o.kind, "cycle" -> o.cycle,
        "seconds" -> o.seconds, "cpu_s" -> o.cpuS, "jobs" -> o.jobs, "ok" -> o.ok)),
      "end_to_end" -> endToEnd, "per_layer" -> layer)
    if (trace) {
      val owner = ledger.innermost()
      record("spans") = ledger.allSpans.map(s => Map("id" -> s.id,
        "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "cpu_s" -> s.cpuS, "gc_s" -> s.gcS,
        "jobs" -> owner.getOrElse(s.id, Nil).map(j => Map(
          "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "label" -> j.label, "plan" -> j.plan.toSeq.sorted,
          "stages" -> j.stages, "tasks" -> j.tasks,
          "bytes_read" -> j.bytesRead, "records_read" -> j.recordsRead,
          "shuffle_bytes" -> j.shuffleBytes, "bytes_written" -> j.bytesWritten))))
    }
    ledger.close()
    Json.write(a("out"), record)
    // the run's work dir is removed by the caller: skip the orderly
    // Spark shutdown (local dirs, block manager) and end the JVM now
    Runtime.getRuntime.halt(0)
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f $msg")
}

/** One timed cycle: whether it was traced, whether its ops are
  * measured, the host's CPU steal and iowait shares over it, what it
  * cost (checks excluded), and the jobs that belong to none of its ops. */
final case class Attempt(cycle: Int, traced: Boolean, kept: Boolean, steal: Double,
    iowait: Double, cost: Snap, extraJobs: Int)

/** Minimal JSON writer over Jackson for Scala values. */
object Json {
  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case s: Array[_] => s.toSeq.map(toJava).asJava
    case (x, y) => java.util.Arrays.asList(toJava(x), toJava(y))
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
  def write(path: String, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), toJava(v))
}

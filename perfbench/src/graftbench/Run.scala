package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of the closed loop: its kind, latency, process
  * CPU, whether its answer was right, and the Spark jobs it ran. */
final case class OpRec(seq: Int, cycle: Int, kind: String, seconds: Double,
    cpuS: Double, ok: Boolean, jobs: Int, jobFrom: Int, jobTo: Int)

/** Process counters at one instant; differences give what an interval
  * cost. */
final case class Snap(wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
    allocB: Long, codegen: Long, filesListed: Long) {
  def -(o: Snap): Snap = Snap(wallS - o.wallS, cpuS - o.cpuS, gcS - o.gcS,
    jitS - o.jitS, allocB - o.allocB, codegen - o.codegen,
    filesListed - o.filesListed)
  def +(o: Snap): Snap = Snap(wallS + o.wallS, cpuS + o.cpuS, gcS + o.gcS,
    jitS + o.jitS, allocB + o.allocB, codegen + o.codegen,
    filesListed + o.filesListed)
}

object Snap {
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0)
  def now(): Snap = Snap(System.nanoTime() / 1e9, Jvm.cpuS(), Jvm.gcS(),
    Jvm.jitS(), Jvm.allocBytes(), Jvm.codegenCompiles(), Jvm.filesListed())
}

/** What a workload needs while it runs: the session, its seed and
  * directories, the hash of the compiled sources (the key of anything
  * the program makes that later runs reuse), the ledger, and the op
  * recorder of the closed loop. With `corrupt`, every expected answer
  * is deliberately made wrong on the benchmark's side (`want`), which
  * shows that the checks are live. */
final class Run(val spark: SparkSession, val seed: Long, val work: String,
    val data: String, val base: String, val source: String,
    val ledger: Ledger, trace: Boolean, val corrupt: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val problems = mutable.ArrayBuffer.empty[String]
  var cycle = 0
  /** Inside the timed loop: ops are recorded. */
  var timed = false
  /** What checking outputs has cost (excluded from every timing). */
  var checks: Snap = Snap.Zero
  /** Jobs of the timed loop that belong to no single op (a stream's
    * start and stop), counted in `jobs_per_op`. */
  var extraJobs = 0

  /** A traced run's timed loop: record per-layer facts (also inside
    * checks, which the ledger does not trace). */
  def traced: Boolean = trace && timed

  def problem(msg: String): Unit = {
    System.err.println(s"[perfbench] WRONG: $msg")
    problems += msg
  }

  /** The expected answer `x`, or a wrong one made by `bump` when the
    * run deliberately corrupts its expectations. */
  def want[T](x: T)(bump: T => T): T = if (corrupt) bump(x) else x

  /** Checks that only timed ops need: set-up and warm-up ops keep the
    * model up to date but skip reading the answer back. */
  def verifying(check: => Boolean): Boolean = !timed || check

  /** Mark ops already recorded as failed (a check that covers several
    * ops found a wrong answer). */
  def markFailed(seqs: Set[Int]): Unit =
    for (i <- ops.indices if seqs(ops(i).seq)) ops(i) = ops(i).copy(ok = false)

  /** Time one operation: `call` runs the public function and returns
    * what it produced; `verify` then keeps the model and checks the
    * answer outside the timing. An exception or a wrong answer counts
    * as a failed op. */
  def op[T](kind: String)(call: => T)(verify: T => Boolean): Unit = {
    val seq = ledger.newOp()
    val j0 = ledger.jobsSubmitted
    val c0 = Jvm.cpuS()
    val t0 = System.nanoTime()
    val res = try Right(ledger.span(kind)(call)) catch {
      case e: Exception => Left(e)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.cpuS() - c0
    val j1 = ledger.jobsSubmitted
    val ok = res match {
      case Left(e) =>
        problem(s"$kind (cycle $cycle) threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        false
      case Right(v) =>
        val good = check(try verify(v) catch {
          case e: Exception =>
            problem(s"$kind (cycle $cycle) check threw $e")
            false
        })
        if (!good) problem(s"$kind (cycle $cycle) returned a wrong answer")
        good
    }
    if (timed) ops += OpRec(seq, cycle, kind, dt, cpu, ok, j1 - j0, j0, j1)
  }

  /** An op that changes nothing: its answer is checked only when timed. */
  def read[T](kind: String)(call: => T)(verify: T => Boolean): Unit =
    op(kind)(call)(v => verifying(verify(v)))

  /** Record an operation timed elsewhere (a micro-batch, timed by the
    * streaming listener). */
  def external(kind: String, seconds: Double, cpuS: Double, ok: Boolean,
      jobs: Int): Unit =
    if (timed) ops += OpRec(ledger.newOp(), cycle, kind, seconds, cpuS, ok,
      jobs, -1, -1)

  /** Output checking and model upkeep: excluded from the timed loop's
    * wall time, CPU, jobs and counters. */
  def check[T](body: => T): T = {
    val s0 = Snap.now()
    val wasTracing = ledger.tracing
    ledger.tracing = false
    try body finally {
      ledger.tracing = wasTracing
      checks = checks + (Snap.now() - s0)
    }
  }

  def dir(name: String): String = s"$work/$name"
}

object Run {
  /** Order-insensitive fingerprint of a relation: row count and the
    * sum of per-row hashes of its columns rendered as strings (so two
    * formulations that differ only in numeric type still agree). */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Linear-interpolated percentile of `xs` (p in [0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x max 1e-9)).sum / xs.size)

  /** Bytes of every file under `path`. */
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
  }

  /** Make `dir` unless a previous run did: `make` fills a temporary
    * directory that is then renamed into place. */
  def once(dir: String)(make: String => Unit): Unit =
    if (!new java.io.File(s"$dir/_DONE").exists()) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
      deleteTree(tmp)
      make(tmp)
      new java.io.File(s"$tmp/_DONE").createNewFile()
      if (!new java.io.File(tmp).renameTo(new java.io.File(dir))) deleteTree(tmp)
    }

  /** Copy the tree at `from` to `to`, keeping modification times. */
  def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(x => deleteTree(x.getPath)))
    f.delete()
  }
}

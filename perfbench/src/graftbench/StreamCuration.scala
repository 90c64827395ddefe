package graftbench

import graft.functions.TextCuration
import graft.streaming.{ServingState, StreamingJobs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream_curation`: the durable serving-mode curation path,
  * `StreamingJobs.streamingCurationDurable`, over the first
  * [[CorpusDocs]] documents. The corpus side (doc_id % 4 != 0) is
  * indexed once per checkout and source tree with
  * `TextCuration.buildServingIndex` and persisted with
  * `ServingState.saveServingIndex`. The ingest side (doc_id % 4 == 0)
  * has a fixed share rewritten into exact and near duplicates of
  * earlier docs, so every dedup tier does work. The documents are the
  * same for every seed, so runs at different seeds hold the same work;
  * the seed moves the cut points of the doc_id-ordered ingest files,
  * one file per micro-batch.
  *
  * Set-up loads the index and stages the files. The warm-up stream
  * runs the first two batches: the first creates the ingest state, the
  * second upserts into it. Each timed cycle stages the next
  * [[BatchesPerCycle]] files and resumes the stream on that state, so
  * every timed micro-batch is a steady-state batch (decisions, the
  * `Par`-overlapped shingle and anchor checkpoints, and
  * `ServingState.fold`'s four `KeyedTable` upserts). Each batch is one
  * op, timed by the StreamingQueryListener, and its output is checked
  * against the one-shot `servingDecisions` answer over the whole ingest
  * (same index, empty prior) restricted to the batch's documents. A
  * cycle measured again restarts from a copy of the stream's state and
  * output taken before its first attempt, with its files unstaged, so
  * it runs the same batch on the same state. */
final class StreamCuration(r: Run) extends Workload {
  import StreamCuration._
  private val spark = r.spark
  import spark.implicits._
  // the program builds the index and the answer, so the source hash
  // keys them: a changed program never reuses an older one's
  private val docsDir =
    s"${r.data}/stream_docs-${r.source}-${Data.Version}-$CorpusDocs"
  private val indexDir =
    s"${r.data}/stream_index-${r.source}-${Data.Version}-$CorpusDocs"
  private val pending = r.dir("stream_pending")
  private val staging = r.dir("stream_staging")
  private val stateDir = r.dir("stream/state")
  private val outDir = r.dir("stream/curated")
  private val cfg = TextCuration.Config(stopwords = TextCuration.DemoStopwords,
    classifierRounds = 4)

  /** Files staged so far, and the doc ids of each file. */
  private var staged = 0
  private var fileDocs: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  private var files = 0
  private var answerCols: Seq[String] = Nil

  /** Where the last timed cycle started: a copy of the stream's state
    * and output, and the files staged by then. */
  private val mark = r.dir("stream_mark")
  private var markStaged = 0

  /** Traced and per-layer facts; timed ones by cycle or by op. */
  private val loadS = mutable.ArrayBuffer.empty[Double]
  private val resumeS = mutable.Map.empty[Int, Double]
  private val timedBatches = mutable.ArrayBuffer.empty[(Int, BatchRec)]
  private var stateBytes = 0.0

  /** The documents: the corpus slice with a fixed share of the ingest
    * docs rewritten as copies (exact, or near: first word replaced) of
    * an earlier doc. */
  private def writeDocuments(dir: String): Unit = {
    val rng = new scala.util.Random(Data.BaseSeed * 31)
    val rows = spark.read.parquet(s"${r.base}/documents.parquet")
      .where(col("doc_id") < CorpusDocs).select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    val ingest = rows.indices.filter(i => rows(i)._1 % 4 == 0 && i >= 16)
    val picked = rng.shuffle(ingest).take(ingest.size * 2 * DupPercent / 100)
    val rewritten = picked.zipWithIndex.map { case (i, n) =>
      val src = rows(rng.nextInt(i))._2
      i -> (if (n % 2 == 0) src else src.replaceFirst("^\\S+", "dup"))
    }.toMap
    rows.indices.map { i =>
      val (id, t, lang, source) = rows(i)
      val text = rewritten.getOrElse(i, t)
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  private def docs = spark.read.parquet(s"$docsDir/documents.parquet")
  private def ingest = docs.where(col("doc_id") % 4 === 0)

  private def buildIndex(dir: String): Unit = {
    val idx = TextCuration.buildServingIndex(spark,
      docs.where(col("doc_id") % 4 =!= 0), cfg)
    ServingState.saveServingIndex(spark, idx, dir)
  }

  /** The one-shot answer over the whole ingest, made once per source
    * tree. */
  private def writeAnswer(dir: String): Unit =
    TextCuration.servingDecisions(spark, ingest,
      ServingState.loadServingIndex(spark, indexDir),
      TextCuration.IngestPrior(), cfg)
      .write.parquet(s"$dir/answer.parquet")

  private def answer: DataFrame = spark.read.parquet(s"$docsDir/answer/answer.parquet")

  /** Load the index and stage the ingest as doc_id-ordered files
    * (two warm-up batches plus the timed ones) whose cut points the
    * seed moves by up to a tenth of a file either way. */
  def setup(): Unit = {
    r.check {
      Run.once(docsDir)(writeDocuments)
      Run.once(indexDir)(buildIndex)
      Run.once(s"$docsDir/answer")(writeAnswer)
      answerCols = answer.columns.toSeq
    }
    Seq(pending, staging, r.dir("stream"), mark).foreach(Run.deleteTree)
    val t0 = System.nanoTime()
    ServingState.loadServingIndex(spark, indexDir)
    loadS += (System.nanoTime() - t0) / 1e9
    val rng = new scala.util.Random(r.seed + 1)
    val ids = ingest.select("doc_id").as[Long].collect().sorted
    val per = ids.length / files
    val cuts = (1 until files).map(i =>
      ids(i * per + rng.nextInt(per / 5 + 1) - per / 10))
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    fileDocs = (0 until files).map(i =>
      ids.filter(d => d >= bounds(i) && d < bounds(i + 1)).toSeq)
    val all = ingest.cache()
    for (i <- 0 until files) {
      val tmp = s"$pending/_tmp_$i"
      all.where(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(pending, f"ingest_$i%03d.parquet")
      part.renameTo(dst)
      Run.deleteTree(tmp)
      dst.setLastModified((i + 1) * 60000L)
    }
    all.unpersist()
    new java.io.File(staging).mkdirs()
    staged = 0
  }

  /** Move staged file `i` from directory `from` to `to`. */
  private def move(i: Int, from: String, to: String): Unit = {
    val f = f"ingest_$i%03d.parquet"
    val src = new java.io.File(from, f)
    val mtime = src.lastModified()
    val dst = new java.io.File(to, f)
    src.renameTo(dst)
    dst.setLastModified(mtime)
  }

  /** Move the next `k` staged files where the stream reads, then run
    * (or resume) the stream over them. Returns the batches it ran. */
  private def stream(k: Int): (Seq[BatchRec], Double, Double, Int) = {
    (staged until staged + k).foreach(move(_, pending, staging))
    staged += k
    val j0 = r.ledger.jobsSubmitted
    val c0 = Jvm.cpuS()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    r.ledger.span("stream.resume") {
      StreamingJobs.streamingCurationDurable(spark, docsDir, outDir, stateDir,
        staging, cfg, indexDirOpt = Some(indexDir))
    }
    val wall = (System.nanoTime() - n0) / 1e9
    val cpu = Jvm.cpuS() - c0
    val jobs = r.ledger.jobsSubmitted - j0
    r.ledger.drain()
    val bs = r.ledger.batches.asScala.toSeq.filter(_.startMs >= t0)
      .sortBy(_.batchId)
    (bs, wall, cpu, jobs)
  }

  /** A batch's output against the one-shot answer for its documents. */
  private def batchOk(b: BatchRec): Boolean = {
    val ids = fileDocs.lift(b.batchId.toInt).getOrElse(Nil)
    val cols = answerCols.map(col)
    val got = Run.fingerprint(spark.read.parquet(s"$outDir/batch_id=${b.batchId}")
      .select(cols: _*))
    val want = r.want(Run.fingerprint(answer.where(col("doc_id").isin(ids: _*))
      .select(cols: _*)))(w => (w._1, w._2.add(java.math.BigDecimal.ONE)))
    if (got != want) r.problem(s"batch ${b.batchId}: output $got, one-shot $want")
    got == want
  }

  private def run(k: Int): Unit = {
    val (bs, wall, cpu, jobs) =
      try stream(k) catch {
        case e: Exception =>
          r.problem(s"stream threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
          (Nil, 0.0, 0.0, 0)
      }
    val oks = r.check {
      if (bs.size != k) r.problem(s"stream ran ${bs.size} batches, staged $k")
      bs.map(b => r.verifying(batchOk(b)))
    }
    val windows = bs.map(b => r.ledger.allJobs.count(j =>
      j.startMs >= b.startMs && j.startMs <= b.endMs))
    bs.zip(oks).zip(windows).foreach { case ((b, ok), js) =>
      r.external("stream.batch", b.seconds, cpu / bs.size, ok && bs.size == k, js)
      if (r.timed) timedBatches += r.ledger.lastOp -> b
    }
    if (r.timed) {
      r.extraJobs += jobs - windows.sum
      resumeS(r.cycle) = wall - bs.map(_.seconds).sum
      (bs.size until k).foreach(_ => r.external("stream.batch", wall, cpu,
        ok = false, 0))
    }
  }

  def warmup(): Unit = run(WarmBatches)

  def prepare(again: Boolean): Unit =
    if (!again) {
      Run.deleteTree(mark)
      Run.copyTree(r.dir("stream"), mark)
      markStaged = staged
    } else {
      Run.deleteTree(r.dir("stream"))
      Run.copyTree(mark, r.dir("stream"))
      (markStaged until staged).foreach(move(_, staging, pending))
      staged = markStaged
    }

  def cycle(): Unit = run(BatchesPerCycle)

  val setupAfterWarmup = false

  val nominalCycleS = 8.0

  /** Files for every cycle; a cycle measured again re-stages its own. */
  override def plan(cycles: Int): Unit =
    files = WarmBatches + cycles * BatchesPerCycle

  def finalCheck(): Unit = r.check {
    stateBytes = Run.du(s"$stateDir/ingest").toDouble
  }

  /** A micro-batch runs its phases in order: the batch's shingle and
    * anchor checkpoints (overlapped by `Par`), the decisions (from the
    * first read of the index or the prior state to the end of the
    * output write), then the state fold. Jobs are assigned to phases by
    * their submit times against those two boundaries; in the first
    * phase the shingle job is the one running `TextDedup`'s function. */
  private def phases(js: Seq[JobRec]): Map[String, Seq[JobRec]] = {
    val decideAt = js.find(j => j.plan("reads:stream_index") ||
      j.plan("reads:/state/ingest")).map(_.startMs).getOrElse(Long.MaxValue)
    val writes = js.filter(_.plan("writes:/curated"))
    val foldAt = if (writes.isEmpty) Long.MaxValue else writes.map(_.endMs).max
    js.groupBy { j =>
      if (j.startMs >= foldAt && !j.plan("writes:/curated")) "serving.fold"
      else if (j.startMs >= decideAt) "curation.decide"
      else if (j.plan("fn:TextDedup")) "dedup.shingles"
      else "substr.anchors"
    }
  }

  private lazy val byBatch: Map[Int, BatchRec] = timedBatches.toMap

  override def jobsOf(o: OpRec, ledger: Ledger): Seq[JobRec] =
    byBatch.get(o.seq).toSeq.flatMap(b => ledger.allJobs.filter(j =>
      j.startMs >= b.startMs && j.startMs <= b.endMs))

  def layer(l: Layer): Map[String, Double] = {
    val phased = l.ops.map(o => phases(l.jobs(o)))
    def in(ph: String) = phased.map(_.getOrElse(ph, Nil))
    def busyPer(ph: String) = l.mean(in(ph).map(Ledger.busy))
    def jobsPer(ph: String) = l.mean(in(ph).map(_.size.toDouble))
    def dur(k: String) = Run.median(l.ops.flatMap(o => byBatch.get(o.seq))
      .map(_.durations.getOrElse(k, 0L) / 1e3))
    Map(
      "stream.resume_s" -> l.mean(l.ops.map(_.cycle).distinct.flatMap(resumeS.get)),
      "stream.trigger_s" -> dur("triggerExecution"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "serving.prior_s" -> l.mean(in("curation.decide")
        .map(js => Ledger.busy(js.filter(_.plan("reads:/state/ingest"))))),
      "serving.fold_s" -> busyPer("serving.fold"),
      "serving.fold.jobs" -> jobsPer("serving.fold"),
      // every timed batch resumes on existing state: its fold upserts
      "kt.upsert.jobs" -> jobsPer("serving.fold") / ServingTables,
      "serving.state_bytes" -> stateBytes,
      "curation.decide_s" -> busyPer("curation.decide"),
      "curation.decide.jobs" -> jobsPer("curation.decide"),
      "dedup.shingles_s" -> busyPer("dedup.shingles"),
      "substr.anchors_s" -> busyPer("substr.anchors"),
      "index.load_s" -> Run.median(loadS.toSeq))
  }
}

object StreamCuration {
  /** Documents (a doc_id-range slice of `documents`) the workload uses. */
  val CorpusDocs = 400L
  /** Share of ingest docs rewritten as exact plus near duplicates. */
  val DupPercent = 8
  val WarmBatches = 2
  val BatchesPerCycle = 1
  /** `KeyedTable`s one fold upserts into. */
  val ServingTables = 4
}

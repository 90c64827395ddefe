package graft.streaming

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import graft.functions.TextCuration
import graft.sinks.{KeyedTable, VersionedKeyedTable}

/** DURABLE serving-mode curation state — the round-10 closure of the
  * one gap between the streaming capstone and a production
  * continuous-ingest deployment: `streamingCuration`'s ServingIndex
  * and per-run IngestPrior fold lived as localCheckpoints, so a
  * restart lost the fold and rebuilt the index. Here both persist, and
  * an ingest resumes across process restarts with batch-split-invariant
  * labels. (Reference analogue: every reference job checkpoints ALL
  * state between slices — handlers.py:696-786,
  * impl/shardedjob/IncrementalTaskState.java — state survives the
  * process, always; its output writers append each slice and finalize
  * it, never rewriting what an earlier slice wrote.)
  *
  * Layout under `dir`:
  *  - `index/`: the frozen corpus-side ServingIndex, one [[KeyedTable]]
  *    per relation, written once per corpus ([[saveServingIndex]]).
  *  - `ingest/log/batch=B/kind=K/`: the ingest fold, an APPEND-ONLY log
  *    partitioned by micro-batch. Each kind (hashes, shingles, grams,
  *    bands) holds one row shape — the string key (hash, shingle, gram
  *    or band signature), `doc_id` and `band`, null where the kind has
  *    none — distinct within its batch. A row is keyed by its content
  *    and its batch and is never updated, so the log needs no keyed
  *    store: there is nothing to merge.
  *
  * Retry and crash discipline:
  *  - [[fold]] writes batch B's four kinds in ONE write that overwrites
  *    `batch=B` — a RETRIED batch rewrites exactly its own rows and
  *    touches no other batch's;
  *  - "prior state for batch B" = the log's files of batches < B, which
  *    is correct at EVERY crash point: a crash mid-fold or after the
  *    fold but before the streaming checkpoint commit re-runs B, whose
  *    own half-written rows the prior never reads (and a crashed
  *    attempt's `_temporary` parts are skipped), with no in-memory
  *    guard (this replaces `IngestFoldGuard` for the durable path);
  *  - the same content in two different batches keeps BOTH rows, so a
  *    retry of batch 5 never erases batch 3's fact that it saw the
  *    same hash.
  *
  * Scale: a fold writes only its own batch's rows (O(batch) bytes and
  * one job, whatever the state's size; ScaleInvarianceSpec), and
  * [[priorFor]] lists the log once on the driver and scans the files
  * of earlier batches through a pre-listed index: no listing job and no
  * schema inference. A bounded micro-batch
  * ([[TextCuration.servingDecisions]]) then brings to the driver only
  * the rows matching its own probe keys, in the one collect that also
  * probes the index, and an unbounded one joins them whole; either way
  * the scan reads the whole log, which holds the INGEST's rows, never
  * the corpus (the corpus lives in the frozen index). The log's file
  * count grows by up to four per batch; compacting old batches into
  * fewer files is not done here.
  *
  * State written by the earlier KeyedTable fold (`ingest/hashes` and
  * its siblings) is refused with an error, never read as an empty
  * prior.
  */
object ServingState {

  private def indexDir(dir: String) = s"$dir/index"
  private def logDir(dir: String) = s"$dir/ingest/log"

  /** The log's kinds, one per IngestPrior component; the earlier
    * format kept one KeyedTable per kind at `ingest/<kind>`. */
  private val Kinds = Seq("hashes", "shingles", "grams", "bands")

  /** The one row shape of every kind. */
  private val LogSchema = StructType(Seq(StructField("k", StringType),
    StructField("doc_id", LongType), StructField("band", IntegerType)))

  /** Version marker for the PERSISTED index format and the logic that
    * builds it (shingling, banding, anchor selection, classifier
    * training). BUMP THIS on any change to index-build semantics: it
    * salts every cross-run index cache key, so a stale persisted
    * index from older code can never serve a newer run. */
  val IndexCodeVersion = "r11.1"

  /** Bucket count for the check-scale index tables: the index is
    * written once per corpus and probed whole, so the bounded replay
    * keeps it coarse; a production deployment sizes this to the corpus
    * (the KeyedTable sizing rule — a bucket ≈ a few hundred MB),
    * passed through here. */
  private val CheckNumBuckets = 4

  /** True when a persisted ServingIndex exists at `dir` (the marker is
    * the weights table — written last by [[saveServingIndex]], so a
    * crash mid-save reads as absent and the index rebuilds). */
  def indexExists(spark: SparkSession, dir: String): Boolean =
    KeyedTable.exists(spark, s"${indexDir(dir)}/weights")

  /** Persist every ServingIndex relation as a KeyedTable under
    * `dir/index`. The six tables land in a scratch directory that is
    * RENAMED into place once complete, so the index becomes visible
    * atomically: a concurrent saver can never expose a half-written
    * index to [[indexExists]], and the loser of the rename race
    * discards its scratch copy and uses the winner's (the tables are
    * deterministic functions of the corpus, so either copy serves).
    * Inside the scratch dir the weights map (bounded by the
    * classifier's bucket space) still lands last, so even a crash
    * mid-scratch-write followed by a manual rename reads as absent. */
  def saveServingIndex(spark: SparkSession, idx: TextCuration.ServingIndex,
      dir: String): Unit = graft.BenchProbe.time("index_build") {
    import spark.implicits._
    val d = s"${indexDir(dir)}-build-${java.util.UUID.randomUUID()}"
    KeyedTable.create(idx.corpusHashes, s"$d/hashes", keyCol = "h",
      numBuckets = CheckNumBuckets)
    KeyedTable.create(idx.corpusShingles, s"$d/shingles",
      keyCol = "doc_id", numBuckets = CheckNumBuckets)
    KeyedTable.create(idx.corpusBands, s"$d/bands", keyCol = "doc_id",
      numBuckets = CheckNumBuckets)
    KeyedTable.create(idx.indexGrams, s"$d/grams", keyCol = "g",
      numBuckets = CheckNumBuckets)
    KeyedTable.create(idx.benchGrams, s"$d/bench", keyCol = "bs",
      numBuckets = CheckNumBuckets)
    KeyedTable.create(
      idx.weights.toSeq.toDF("b", "wv"), s"$d/weights", keyCol = "b",
      numBuckets = CheckNumBuckets)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(d)
    val dst = new org.apache.hadoop.fs.Path(indexDir(dir))
    val won =
      if (fs.getUri.getScheme == "file") {
        // rename(2): fails if dst exists non-empty, so exactly one
        // concurrent saver wins — no exists-check TOCTOU (Hadoop's
        // local rename would instead NEST tmp inside an existing dst)
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(org.apache.hadoop.fs.Path
              .getPathWithoutSchemeAndAuthority(tmp).toString),
            java.nio.file.Paths.get(org.apache.hadoop.fs.Path
              .getPathWithoutSchemeAndAuthority(dst).toString),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.io.IOException => false }
      } else {
        try !fs.exists(dst) && fs.rename(tmp, dst)
        catch { case _: java.io.IOException => false }
      }
    if (!won) fs.delete(tmp, true) // a racer's index is already live
  }

  /** Load a persisted ServingIndex. Relations are served straight off
    * the bucketed store (the production shape — no rebuild, no
    * re-train); the weights map is driver-held, bounded by the
    * classifier bucket space exactly as at training time. */
  def loadServingIndex(spark: SparkSession, dir: String)
      : TextCuration.ServingIndex = {
    val d = indexDir(dir)
    TextCuration.ServingIndex(
      corpusHashes = KeyedTable.read(spark, s"$d/hashes"),
      corpusShingles = KeyedTable.read(spark, s"$d/shingles"),
      corpusBands = KeyedTable.read(spark, s"$d/bands"),
      indexGrams = KeyedTable.read(spark, s"$d/grams"),
      // broadcast-gated ONCE per load (the per-restart cost), so each
      // micro-batch's contamination join pays no gating jobs
      benchGrams = TextCuration.gatedBroadcast(
        KeyedTable.read(spark, s"$d/bench")),
      weights = KeyedTable.read(spark, s"$d/weights")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Fold one committed micro-batch's relations into the durable
    * ingest log: one write of the four kinds' per-batch-distinct rows
    * over one partition, overwriting `batch=batchId` (see object doc).
    * Bands are the DERIVED per-batch bands — folding shingles alone
    * would force later batches to re-derive bands over the cumulative
    * ingest, quadratic across a run; derived over a one-partition
    * input ([[TextCuration.servingBands]]), they join this write's
    * task with no exchange. */
  def fold(spark: SparkSession, dir: String, batchId: Long,
      hashes: DataFrame, shingles: DataFrame, grams: DataFrame,
      bands: DataFrame): Unit = {
    def rows(df: DataFrame, kind: String, k: String,
        doc: Column = lit(null), band: Column = lit(null)): DataFrame =
      df.select(lit(kind).as("kind"), col(k).cast("string").as("k"),
        doc.cast("long").as("doc_id"), band.cast("int").as("band"))
    Seq(rows(hashes, "hashes", "h"),
        rows(shingles, "shingles", "s", col("doc_id")),
        rows(grams, "grams", "g"),
        rows(bands, "bands", "sig", col("doc_id"), col("band")))
      .reduce(_ union _).coalesce(1).distinct()
      .write.mode("overwrite").partitionBy("kind")
      .parquet(s"${logDir(dir)}/batch=$batchId")
  }

  /** The IngestPrior for micro-batch `batchId`: every logged row of
    * EARLIER batches (correct across retries at every crash point; see
    * object doc). One recursive listing on the driver picks the files;
    * paths with a `_`- or `.`-prefixed part (a crashed attempt's
    * `_temporary`, `_SUCCESS`, checksums) are skipped. A component is
    * None while no earlier batch logged a row of its kind, so batch 0
    * sees the empty prior. */
  def priorFor(spark: SparkSession, dir: String, batchId: Long)
      : TextCuration.IngestPrior = {
    Kinds.map(k => s"$dir/ingest/$k").find(KeyedTable.exists(spark, _))
      .foreach(t => throw new IllegalStateException(
        s"ServingState at $dir: $t is ingest state in the earlier " +
          "KeyedTable format, which this code does not read (it would " +
          "serve an empty prior); resume the ingest into a fresh state " +
          "directory"))
    val root = new Path(logDir(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(root).toUri.getPath
    val logged = mutable.Map.empty[String, mutable.ArrayBuffer[FileStatus]]
    val it = try fs.listFiles(root, true)
      catch { case _: java.io.FileNotFoundException => null }
    while (it != null && it.hasNext) {
      val st = it.next()
      st.getPath.toUri.getPath.stripPrefix(rootPath + "/").split('/') match {
        case Array(b, k, f) if b.startsWith("batch=") &&
            k.startsWith("kind=") && !f.startsWith("_") &&
            !f.startsWith(".") &&
            b.stripPrefix("batch=").toLongOption.exists(_ < batchId) =>
          logged.getOrElseUpdate(k.stripPrefix("kind="),
            mutable.ArrayBuffer.empty) += st
        case _ => ()
      }
    }
    def scan(kind: String, cols: Column*): Option[DataFrame] =
      logged.get(kind).map(sts => VersionedKeyedTable.scanStatuses(spark,
        root.toString, LogSchema, sts.toSeq).select(cols: _*))
    TextCuration.IngestPrior(
      hashes = scan("hashes", col("k").as("h")),
      shingles = scan("shingles", col("doc_id"), col("k").as("s")),
      grams = scan("grams", col("k").as("g")),
      bands = scan("bands", col("doc_id"), col("band"), col("k").as("sig")))
  }
}

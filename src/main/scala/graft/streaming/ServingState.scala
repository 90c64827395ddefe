package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextCuration
import graft.sinks.KeyedTable

/** DURABLE serving-mode curation state — the round-10 closure of the
  * one gap between the streaming capstone and a production
  * continuous-ingest deployment: `streamingCuration`'s ServingIndex
  * and per-run IngestPrior fold lived as localCheckpoints, so a
  * restart lost the fold and rebuilt the index. Here both persist as
  * [[KeyedTable]]s (the store the library already ships), and an
  * ingest resumes across process restarts with batch-split-invariant
  * labels. (Reference analogue: every reference job checkpoints ALL
  * state between slices — handlers.py:696-786,
  * impl/shardedjob/IncrementalTaskState.java — state survives the
  * process, always.)
  *
  * Idempotency discipline: every folded row carries its micro-batch id
  * and a CONTENT-derived key (md5 of the row's columns + batch id), so
  *  - a RETRIED batch upserts exactly the rows it wrote before — a
  *    no-op by the KeyedTable contract;
  *  - "prior state for batch B" = rows with `batch_id < B`, which is
  *    correct at EVERY crash point: a crash after the fold but before
  *    the streaming checkpoint commit re-runs B, and the filter
  *    excludes B's own half-folded rows without any in-memory guard
  *    (this replaces `IngestFoldGuard` for the durable path);
  *  - the same content in two different batches keeps BOTH rows (the
  *    batch id is part of the key), so a retry of batch 5 never
  *    erases batch 3's fact that it saw the same hash.
  *
  * Scale: each fold touches only the buckets its batch keys hash into
  * (O(batch) writes). `priorFor` returns the state tables unread; a
  * bounded micro-batch ([[TextCuration.servingDecisions]]) then
  * brings to the driver only their rows matching its own probe keys,
  * in the one collect that also probes the index, and an unbounded
  * one joins them whole. Either way the scan is not pruned by bucket,
  * but the tables hold the INGEST's rows, never the corpus (the corpus
  * lives in the frozen index). A deployment sizes numBuckets to the
  * ingest.
  */
object ServingState {

  private def indexDir(dir: String) = s"$dir/index"
  private def stateTable(dir: String, name: String) = s"$dir/ingest/$name"

  /** Version marker for the PERSISTED index format and the logic that
    * builds it (shingling, banding, anchor selection, classifier
    * training). BUMP THIS on any change to index-build semantics: it
    * salts every cross-run index cache key, so a stale persisted
    * index from older code can never serve a newer run. */
  val IndexCodeVersion = "r11.1"

  /** Bucket count for the check-scale state tables: every fold/upsert
    * pays one Spark job per touched bucket's rewrite, so the bounded
    * replay keeps tables coarse; a production deployment sizes this to
    * the ingest (the KeyedTable sizing rule — a bucket ≈ a few hundred
    * MB), passed through here. */
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
    * ingest state. Content-keyed + batch-id-stamped rows (see object
    * doc); bands are the DERIVED per-batch bands — folding shingles
    * alone would force later batches to re-derive bands over the
    * cumulative ingest, quadratic across a run. */
  def fold(spark: SparkSession, dir: String, batchId: Long,
      hashes: DataFrame, shingles: DataFrame, grams: DataFrame,
      bands: DataFrame): Unit = {
    def up(name: String, df: DataFrame, keyExpr: org.apache.spark.sql.Column): Unit = {
      val table = stateTable(dir, name)
      val rows = df.distinct()
        .withColumn("batch_id", lit(batchId))
        .withColumn("k", md5(keyExpr))
      if (KeyedTable.exists(spark, table))
        KeyedTable.upsert(spark, table, rows, keyCol = "k",
        numBuckets = CheckNumBuckets)
      else KeyedTable.create(rows, table, keyCol = "k",
        numBuckets = CheckNumBuckets)
    }
    val sep = lit(":")
    // the four tables are disjoint directories (guide §2.6): overlap
    // their upsert chains so the per-batch fold wall is ~the slowest
    // table's chain, not the sum of four; a half-folded batch is
    // retry-correct by the batch_id discipline either way
    graft.Par.run(spark, Seq(
      () => up("hashes", hashes.select(col("h")),
        concat(col("h"), sep, lit(batchId))),
      () => up("shingles", shingles.select(col("doc_id"), col("s")),
        concat(col("doc_id"), sep, col("s"), sep, lit(batchId))),
      () => up("grams", grams.select(col("g")),
        concat(col("g"), sep, lit(batchId))),
      () => up("bands", bands.select(col("doc_id"), col("band"), col("sig")),
        concat(col("doc_id"), sep, col("band"), sep, col("sig"), sep,
          lit(batchId)))))
    ()
  }

  /** The IngestPrior for micro-batch `batchId`: all durably folded
    * rows of EARLIER batches (`batch_id < batchId` — correct across
    * retries at every crash point; see object doc). Components are
    * None until their table exists, so batch 0 sees the empty prior. */
  def priorFor(spark: SparkSession, dir: String, batchId: Long)
      : TextCuration.IngestPrior = {
    def tbl(name: String, cols: Seq[String]): Option[DataFrame] = {
      val table = stateTable(dir, name)
      if (!KeyedTable.exists(spark, table)) None
      else Some(KeyedTable.read(spark, table)
        .filter(col("batch_id") < batchId)
        .select(cols.map(col): _*))
    }
    TextCuration.IngestPrior(
      hashes = tbl("hashes", Seq("h")),
      shingles = tbl("shingles", Seq("doc_id", "s")),
      grams = tbl("grams", Seq("g")),
      bands = tbl("bands", Seq("doc_id", "band", "sig")))
  }
}

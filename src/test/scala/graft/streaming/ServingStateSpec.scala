package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.TextCuration

/** The durable-state contracts the streaming capstone leans on:
  * weights-last save marker (a crash mid-save reads as absent),
  * per-batch fold idempotency, the empty prior, a job-free prior over
  * the batch log, and the refusal of state in the earlier format. */
class ServingStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-servingstate")
      .toString + "/s"

  private lazy val cfg = TextCuration.Config(
    stopwords = TextCuration.DemoStopwords, classifierRounds = 2)

  private def tinyIndex(dir: String): TextCuration.ServingIndex = {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
      .where(col("doc_id") % 4 =!= 0).limit(50).localCheckpoint(true)
    val idx = TextCuration.buildServingIndex(spark, docs, cfg)
    ServingState.saveServingIndex(spark, idx, dir)
    idx
  }

  test("save/load round trip preserves every index relation and the " +
      "weights map; a save missing its weights marker reads as absent") {
    val dir = freshDir()
    val built = tinyIndex(dir)
    assert(ServingState.indexExists(spark, dir))
    val loaded = ServingState.loadServingIndex(spark, dir)
    assert(loaded.weights === built.weights)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(loaded.corpusHashes) === rows(built.corpusHashes))
    assert(rows(loaded.corpusShingles) === rows(built.corpusShingles))
    assert(rows(loaded.corpusBands) === rows(built.corpusBands))
    assert(rows(loaded.indexGrams) === rows(built.indexGrams))
    assert(rows(loaded.benchGrams) === rows(built.benchGrams))
    // simulate a crash mid-save: the weights table (written LAST) is
    // missing -> the index must read as absent and rebuild, never
    // serve a partial index
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/index/weights"))
    assert(!ServingState.indexExists(spark, dir),
      "a partial save (no weights marker) must not read as an index")
  }

  test("fold is idempotent per batch id and priorFor sees exactly the " +
      "earlier batches; the empty prior has no components") {
    val dir = freshDir()
    val empty = ServingState.priorFor(spark, dir, 0L)
    assert(empty.hashes.isEmpty && empty.shingles.isEmpty &&
      empty.grams.isEmpty && empty.bands.isEmpty)
    def foldBatch(id: Long, tag: String): Unit =
      ServingState.fold(spark, dir, id,
        hashes = Seq(s"h-$tag").toDF("h"),
        shingles = Seq((id, s"s-$tag")).toDF("doc_id", "s"),
        grams = Seq(s"g-$tag").toDF("g"),
        bands = Seq((id, 0, s"b-$tag")).toDF("doc_id", "band", "sig"))
    foldBatch(0L, "zero")
    foldBatch(1L, "one")
    def hashesFor(batchId: Long): Set[String] =
      ServingState.priorFor(spark, dir, batchId).hashes
        .map(_.as[String].collect().toSet).getOrElse(Set.empty)
    assert(hashesFor(0L) === Set.empty, "batch 0 sees no prior")
    assert(hashesFor(1L) === Set("h-zero"))
    assert(hashesFor(2L) === Set("h-zero", "h-one"))
    // a RETRIED batch folds the same rows -> tables unchanged
    foldBatch(1L, "one")
    assert(hashesFor(2L) === Set("h-zero", "h-one"))
    // the same content in TWO batches keeps both facts (batch id is
    // part of the key): retrying batch 1 never erases batch 0's row
    ServingState.fold(spark, dir, 2L,
      hashes = Seq("h-zero").toDF("h"), // batch 2 re-sees batch 0's hash
      shingles = Seq((2L, "s-two")).toDF("doc_id", "s"),
      grams = Seq("g-two").toDF("g"),
      bands = Seq((2L, 0, "b-two")).toDF("doc_id", "band", "sig"))
    assert(hashesFor(3L) === Set("h-zero", "h-one"),
      "distinct content view: h-zero present (from batches 0 AND 2)")
    assert(hashesFor(1L) === Set("h-zero"),
      "batch 1's prior still excludes batch 2's rows")
  }

  test("state in the earlier KeyedTable fold format is refused with an " +
      "error naming the directory, never read as an empty prior") {
    val dir = freshDir()
    graft.sinks.KeyedTable.create(
      Seq(("h-old", 0L, "k-old")).toDF("h", "batch_id", "k"),
      s"$dir/ingest/hashes", keyCol = "k", numBuckets = 4)
    val e = intercept[IllegalStateException](
      ServingState.priorFor(spark, dir, 1L))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("ingest/hashes"), e.getMessage)
  }

  test("priorFor over more than 32 logged batches lists the log on the " +
      "driver (0 Spark jobs), skips _- and .-prefixed paths, and reads " +
      "back exactly the earlier batches' rows of each component") {
    val dir = freshDir()
    val n = 36
    (0 until n).foreach { i =>
      val id = i.toLong
      ServingState.fold(spark, dir, id,
        hashes = Seq(s"h-$i").toDF("h"),
        shingles = Seq((id, s"s-$i"), (id, s"s-$i")).toDF("doc_id", "s"),
        grams = Seq(s"g-$i").toDF("g"),
        bands = Seq((id, i % 4, s"b-$i")).toDF("doc_id", "band", "sig"))
    }
    // leftovers of a crashed attempt and hidden files: never read
    val log = s"$dir/ingest/log"
    Seq("h-junk").toDF("k").write
      .parquet(s"$log/batch=2/_temporary/0/kind=hashes")
    val junk = new java.io.File(s"$log/batch=2/_temporary/0/kind=hashes")
      .listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    Seq(".junk.parquet", "_junk.parquet").foreach(f =>
      java.nio.file.Files.copy(junk,
        java.nio.file.Paths.get(s"$log/batch=3/kind=hashes/$f")))
    val (prior, jobs) =
      graft.SparkJobs.count(spark)(ServingState.priorFor(spark, dir, n))
    assert(jobs === 0, "building the prior must launch no Spark job")
    assert(prior.hashes.get.inputFiles.length === n)
    for (b <- Seq(0, 1, 17, n)) {
      val p = ServingState.priorFor(spark, dir, b.toLong)
      def rows(df: Option[org.apache.spark.sql.DataFrame]) =
        df.map(_.collect().map(_.toSeq).toSeq).getOrElse(Nil)
      val ids = 0 until b
      assert(rows(p.hashes).sortBy(_.toString) ===
        ids.map(i => Seq(s"h-$i")).sortBy(_.toString), s"hashes < $b")
      assert(rows(p.shingles).sortBy(_.toString) ===
        ids.map(i => Seq(i.toLong, s"s-$i")).sortBy(_.toString),
        s"shingles < $b (distinct within a batch)")
      assert(rows(p.grams).sortBy(_.toString) ===
        ids.map(i => Seq(s"g-$i")).sortBy(_.toString), s"grams < $b")
      assert(rows(p.bands).sortBy(_.toString) ===
        ids.map(i => Seq(i.toLong, i % 4, s"b-$i")).sortBy(_.toString),
        s"bands < $b")
    }
  }
}

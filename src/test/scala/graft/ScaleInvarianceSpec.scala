package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorSearch
import graft.sinks.{IncrementalView, VersionedKeyedTable}

/** The store's and the serving path's scale claims, as deterministic
  * counters. Each case runs one FIXED operation against a base at 1×
  * and at 4× its size and asserts that the counter carrying the claim
  * stays flat: Spark jobs and rows read ([[SparkJobs.measure]]), files
  * planned, or files a commit adds. Wall time on a shared host swings
  * ±20–40% between runs of identical code; these counts repeat
  * exactly, so an operation that starts to grow with its table fails
  * here. */
class ScaleInvarianceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-scale").toString + "/t"

  /** `run` at 1× and at `grown`× base size. */
  private def atScales[A](grown: Int = 4)(run: Int => A): (A, A) =
    (run(1), run(grown))

  private def latest(dir: String): Long =
    VersionedKeyedTable.snapshot(spark, dir).version

  /** A (k, g, cents) base of 2000·s rows over `s`·2 input partitions,
    * so its file count grows with it. */
  private def createBase(dir: String, s: Int, groups: Column): Unit =
    VersionedKeyedTable.create(
      spark.range(1, 2000L * s + 1).select(col("id").as("k"),
          groups.as("g"), pmod(col("id") * 7919L, lit(10007L)).as("cents"))
        .repartition(2 * s),
      dir, "k", numBuckets = 4)

  /** 50 updates of keys 1..50 (groups unchanged) and 50 inserts. */
  private def fixedBatch(groups: Long => Long) =
    ((1L to 50L).map(k => (k, groups(k), 777L)) ++
      (1L to 50L).map(k => (-k, groups(k), 100L))).toDF("k", "g", "cents")

  test("CDF: a fixed 100-row batch's span plans only its own change " +
      "files while the base's files grow 4x") {
    val ((one, baseOne), (four, baseFour)) = atScales() { s =>
      val dir = freshDir()
      createBase(dir, s, pmod(col("id"), lit(64L)))
      VersionedKeyedTable.upsert(spark, dir, fixedBatch(_ % 64), "k")
      val v = latest(dir)
      val planned = VersionedKeyedTable.changesBetween(spark, dir, "k",
        v - 1, v).inputFiles.toSeq
      assert(planned.nonEmpty && planned.forall(_.contains("/ch-")),
        s"the span must plan change files only: ${planned.take(3)}")
      (planned.size, VersionedKeyedTable.snapshot(spark, dir, Some(v - 1))
        .files.values.map(_.size).sum)
    }
    assert(baseFour >= 4 * baseOne)
    assert(four === one, "change files planned")
  }

  test("IVM: a count/sum refresh of a fixed batch runs the same jobs " +
      "and reads the same rows while the base grows 4x") {
    val (one, four) = atScales() { s =>
      val (base, view) = (freshDir(), freshDir())
      createBase(base, s, pmod(col("id"), lit(64L)))
      val watermark = IncrementalView.createFrom(spark, base, view, "g",
        "cents", numBuckets = 4)
      VersionedKeyedTable.upsert(spark, base, fixedBatch(_ % 64), "k")
      SparkJobs.measure(spark)(IncrementalView.refresh(spark, base, view,
        "k", "g", "cents", watermark, latest(base)))._2
    }
    assert(four.jobs === one.jobs, "refresh jobs")
    assert(four.rowsRead === one.rowsRead, "refresh rows read")
  }

  test("IVM: a min/max refresh over extremum deletes, after " +
      "clusterBy(g), runs the same jobs while the base grows 4x") {
    val (one, four) = atScales() { s =>
      val (base, view) = (freshDir(), freshDir())
      // ten rows per group: the groups grow with the base, and the
      // batch's groups keep their rows at every size
      createBase(base, s, col("id").divide(10L).cast("long"))
      VersionedKeyedTable.clusterBy(spark, base, "k", "g",
        targetRowsPerFile = 100L)
      val watermark = IncrementalView.createFromFull(spark, base, view,
        "g", "cents", numBuckets = 4)
      VersionedKeyedTable.upsert(spark, base, fixedBatch(_ / 10), "k")
      // the current max row of groups 6..25 breaks their envelopes
      val doomed = (6L to 25L).map(g =>
        (10 * g until 10 * g + 10).maxBy(k => (k * 7919L % 10007L, -k)))
      VersionedKeyedTable.delete(spark, base, doomed.toDF("k"), "k")
      SparkJobs.measure(spark)(IncrementalView.refreshToLatestFull(spark,
        base, view, "k", "g", "cents", watermark))._2.jobs
    }
    assert(four === one, "refresh jobs")
  }

  test("point and range lookups: a fixed 20-key keyFiles and a fixed " +
      "rangeFiles keep the same files while the table's files grow 4x") {
    // 5x rows: each bucket's last file is partial, so files grow a
    // little slower than rows
    val (one, four) = atScales(5) { s =>
      val dir = freshDir()
      VersionedKeyedTable.create(
        spark.range(1, 3200L * s + 1).select(col("id").as("k"),
          col("id").cast("double").as("v")).repartition(8),
        dir, "k", numBuckets = 8)
      VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 50L)
      val (keyKept, _) = VersionedKeyedTable.keyFiles(spark, dir, "k",
        (1L to 20L).map(_ * 61L))
      val (rangeKept, total) = VersionedKeyedTable.rangeFiles(spark, dir,
        "k", 1000L, 1400L)
      (keyKept.size, rangeKept.size, total)
    }
    assert(four._3 >= 4 * one._3)
    assert(four._1 === one._1, "keyFiles kept")
    assert(four._2 === one._2, "rangeFiles kept")
  }

  test("merge-on-read: a fixed 50-key deleteMor and upsertMor run the " +
      "same jobs, read the same rows and bytes and add the same files " +
      "at 4x") {
    val (one, four) = atScales() { s =>
      val dir = freshDir()
      VersionedKeyedTable.create(
        spark.range(1, 3200L * s + 1).select(col("id").as("k"),
          col("id").cast("double").as("v")).repartition(8),
        dir, "k", numBuckets = 8)
      VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 50L)
      def refs() = {
        val snap = VersionedKeyedTable.snapshot(spark, dir)
        (snap.files.valuesIterator ++ snap.deletes.valuesIterator)
          .flatten.toSet
      }
      def commit(body: => Unit) = {
        val before = refs()
        val (_, cost) = SparkJobs.measure(spark)(body)
        (cost, (refs() -- before).size)
      }
      (commit(VersionedKeyedTable.deleteMor(spark, dir,
          (51L to 100L).toDF("k"), "k")),
        commit(VersionedKeyedTable.upsertMor(spark, dir,
          (151L to 200L).map(k => (k, -3.0)).toDF("k", "v"), "k")))
    }
    val Seq(((delOne, delAddedOne), (upOne, upAddedOne)),
        ((delFour, delAddedFour), (upFour, upAddedFour))) = Seq(one, four)
    assert(delFour.jobs === delOne.jobs, "deleteMor jobs")
    assert(delFour.rowsRead === delOne.rowsRead, "deleteMor rows read")
    assert(delFour.bytesRead === delOne.bytesRead, "deleteMor bytes read")
    assert(delAddedFour === delAddedOne, "deleteMor files added")
    assert(upFour.jobs === upOne.jobs, "upsertMor jobs")
    assert(upFour.rowsRead === upOne.rowsRead, "upsertMor rows read")
    assert(upFour.bytesRead === upOne.bytesRead, "upsertMor bytes read")
    assert(upAddedFour === upAddedOne, "upsertMor files added")
  }

  test("IVF serving: a fixed query batch against a 4x corpus, with the " +
      "codebook scaled 4x, runs the same jobs") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sfDir)
    val (one, four) = atScales() { s =>
      // copies with shifted ids; the codebook's first-k ids are copy 0's
      val corpus = (0 until s).map(i =>
        emb.withColumn("vec_id", col("vec_id") + i * 1000000000L))
        .reduce(_ unionByName _)
      val cents = VectorSearch.firstKCodebook(corpus, 4 * s)
      val indexed = VectorSearch.assignWithCodebook(
        corpus.where(col("vec_id") % 5 =!= 0), cents).localCheckpoint(true)
      val batch = emb.where(col("vec_id") % 5 === 0)
      SparkJobs.count(spark)(VectorSearch.ivfSearch(batch, indexed, cents,
        k = 1, nprobe = 2).count())._2
    }
    assert(four === one, "ivfSearch jobs")
  }

  test("serving curation: a fixed batch's decisions against a corpus " +
      "index at 4x run the same jobs") {
    import graft.functions.TextCuration
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val cfg = TextCuration.Config(stopwords = TextCuration.DemoStopwords,
      classifierRounds = 2)
    val batch = docs.where(col("doc_id") % 4 === 0)
    val (one, four) = atScales() { s =>
      // copies with shifted ids; the shift keeps doc_id % 4
      val corpus = (0 until s).map(i => docs.where(col("doc_id") % 4 =!= 0)
          .withColumn("doc_id", col("doc_id") + i * 1000000000L))
        .reduce(_ unionByName _)
      val idx = TextCuration.buildServingIndex(spark, corpus, cfg)
      val out = freshDir()
      SparkJobs.count(spark)(TextCuration.servingDecisions(spark, batch,
        idx, TextCuration.IngestPrior(), cfg).write.parquet(out))._2
    }
    assert(four === one, "servingDecisions jobs")
  }

  test("serving fold: a fixed batch folded on top of 1x and 4x prior " +
      "ingest state runs the same jobs and adds the same bytes") {
    import graft.streaming.ServingState
    def files(f: java.io.File): Map[String, Long] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files).toMap
      else Map(f.getPath -> f.length)
    /** `n` rows of each relation, keyed by `tag`. */
    def fold(dir: String, id: Long, n: Long, tag: String): Unit = {
      val ids = spark.range(n)
      def key(p: String) = md5(concat(lit(s"$tag-$p-"), col("id")))
      ServingState.fold(spark, dir, id,
        hashes = ids.select(key("h").as("h")),
        shingles = ids.select(col("id").as("doc_id"), key("s").as("s")),
        grams = ids.select(key("g").as("g")),
        bands = ids.select(col("id").as("doc_id"),
          pmod(col("id"), lit(4L)).cast("int").as("band"),
          key("b").as("sig")))
    }
    val (one, four) = atScales() { s =>
      val dir = freshDir()
      fold(dir, 0L, 500L * s, "p0")
      fold(dir, 1L, 500L * s, "p1")
      val before = files(new java.io.File(dir))
      val jobs = SparkJobs.count(spark)(fold(dir, 2L, 100L, "fixed"))._2
      val added = files(new java.io.File(dir)).collect {
        case (p, n) if !before.get(p).contains(n) => n
      }.sum
      (jobs, added)
    }
    assert(four._1 === one._1, "fold jobs")
    assert(four._2 === one._2, "bytes the fold adds to the state")
  }
}

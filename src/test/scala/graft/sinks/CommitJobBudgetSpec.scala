package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkJobs, TestSpark}

/** The keyed commit paths' Spark job budgets, counted on a 4-bucket
  * table. A commit's change rows come from rows its merge pass already
  * pinned: a merge's and a merge-on-read commit's cost one map-only
  * write, an upsert's one broadcast of its pre-images and the write. A
  * change that re-derives them (a diff join of the touched buckets)
  * shows up here as extra jobs. Each operation's result is
  * checked against a driver-side model, so a budget can never be met
  * by skipping work. */
class CommitJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-budget").toString + "/t"

  test("upsert, merge and upsertMor run at most 9 jobs each and an " +
      "IncrementalView refresh at most 11") {
    val (dir, view) = (freshDir(), freshDir())
    val model = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    (1L to 2000L).foreach(k => model(k) = (k % 16, k * 7 % 101))
    VersionedKeyedTable.create(
      model.toSeq.map { case (k, (g, c)) => (k, g, c, "A") }
        .toDF("k", "g", "cents", "status").repartition(4),
      dir, "k", numBuckets = 4)
    val watermark = IncrementalView.createFrom(spark, dir, view, "g",
      "cents", numBuckets = 4)

    def table(): Map[Long, (Long, Long)] =
      VersionedKeyedTable.read(spark, dir).select("k", "g", "cents")
        .as[(Long, Long, Long)].collect()
        .map { case (k, g, c) => k -> (g, c) }.toMap
    def jobs(body: => Unit): Int = SparkJobs.count(spark)(body)._2

    // 50 changed rows, 10 identical rows and 40 new keys
    val up = (1L to 50L).map(k => (k, k % 16, 500L + k)) ++
      (51L to 60L).map(k => (k, model(k)._1, model(k)._2)) ++
      (3001L to 3040L).map(k => (k, k % 16, 9L))
    val upJobs = jobs(VersionedKeyedTable.upsert(spark, dir,
      up.map { case (k, g, c) => (k, g, c, "A") }
        .toDF("k", "g", "cents", "status"), "k"))
    up.foreach { case (k, g, c) => model(k) = (g, c) }
    assert(table() === model.toMap, "table after upsert")

    // matched deletes (status D), matched adds, and inserts
    val src = (101L to 140L).map(k =>
        (k, k % 16, 3L, if (k % 4 == 0) "D" else "A")) ++
      (4001L to 4020L).map(k => (k, k % 16, 5L, "A"))
    val mergeJobs = jobs(VersionedKeyedTable.merge(spark, dir,
      src.toDF("k", "g", "cents", "status"), "k",
      whenMatchedDelete = Some(col("s.status") === "D"),
      whenMatchedUpdate = Map("cents" -> (col("t.cents") + col("s.cents")))))
    src.foreach { case (k, g, c, st) =>
      model.get(k) match {
        case Some(_) if st == "D" => model.remove(k)
        case Some((g0, c0)) => model(k) = (g0, c0 + c)
        case None => model(k) = (g, c)
      }
    }
    assert(table() === model.toMap, "table after merge")

    val mor = (201L to 250L).map(k => (k, k % 16, 42L)) ++
      (5001L to 5050L).map(k => (k, k % 16, 7L))
    val morJobs = jobs(VersionedKeyedTable.upsertMor(spark, dir,
      mor.map { case (k, g, c) => (k, g, c, "A") }
        .toDF("k", "g", "cents", "status"), "k"))
    mor.foreach { case (k, g, c) => model(k) = (g, c) }
    assert(table() === model.toMap, "table after upsertMor")

    val latest = VersionedKeyedTable.snapshot(spark, dir).version
    val refreshJobs = jobs(IncrementalView.refresh(spark, dir, view, "k",
      "g", "cents", watermark, latest))
    val groups = model.values.groupBy(_._1).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.map(_._2).sum) }
    assert(VersionedKeyedTable.read(spark, view)
      .select("g", "cnt", "total").as[(Long, Long, Long)].collect()
      .map { case (g, n, t) => g -> (n, t) }.toMap === groups,
      "view after refresh")

    info(s"jobs: upsert $upJobs, merge $mergeJobs, upsertMor $morJobs, " +
      s"refresh $refreshJobs")
    assert(upJobs <= 9, "upsert jobs")
    assert(mergeJobs <= 9, "merge jobs")
    assert(morJobs <= 9, "upsertMor jobs")
    assert(refreshJobs <= 11, "refresh jobs")
  }
}

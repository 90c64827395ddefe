package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

/** The subscribable change feed: one-span catch-ups, the durable
  * stamp discipline, and the replica consumer under every
  * membership transition a filtered copy can see. */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(s"graft-cdc-$name").toString + "/t"

  private def rowsOf(dir: String): Map[Long, Long] =
    VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap

  test("syncReplica: a filtered replica tracks inserts, deletes, and " +
      "updates crossing the predicate in BOTH directions, span by span") {
    val base = fresh("base"); val repl = fresh("repl")
    VersionedKeyedTable.create(
      Seq((1L, 10L), (2L, 100L), (3L, 30L), (4L, 400L))
        .toDF("k", "v"), base, "k", numBuckets = 2)
    // replica: rows with v <= 50
    val filt = col("v") <= 50L
    val v1 = ChangeFeed.syncReplica(spark, base, repl, "k", filt, 2)
    assert(v1 === 1L)
    assert(rowsOf(repl) === Map(1L -> 10L, 3L -> 30L))
    // v2: k1 crosses OUT (10 -> 99), k2 crosses IN (100 -> 20),
    // k5 inserts qualifying, k6 inserts non-qualifying
    VersionedKeyedTable.upsert(spark, base,
      Seq((1L, 99L), (2L, 20L), (5L, 5L), (6L, 600L)).toDF("k", "v"), "k")
    // v3: delete k3 (in replica) and k4 (never replicated)
    VersionedKeyedTable.delete(spark, base, Seq(3L, 4L).toDF("k"), "k")
    val v3 = ChangeFeed.syncReplica(spark, base, repl, "k", filt, 2)
    assert(v3 === 3L)
    assert(rowsOf(repl) === Map(2L -> 20L, 5L -> 5L))
    // the stamp rides the replica's own commits
    assert(ChangeFeed.stampedWatermark(spark, repl) === Some(3L))
    // idempotence: a re-invocation (crash-retry) applies nothing
    val vCount = VersionedKeyedTable.completeVersions(spark, repl).size
    ChangeFeed.syncReplica(spark, base, repl, "k", filt, 2)
    assert(VersionedKeyedTable.completeVersions(spark, repl).size
      === vCount, "a caught-up sync must commit nothing")
    assert(rowsOf(repl) === Map(2L -> 20L, 5L -> 5L))
  }

  test("syncReplica resumes from its durable stamp: spans committed " +
      "while the consumer was down apply exactly once on restart") {
    val base = fresh("rbase"); val repl = fresh("rrepl")
    VersionedKeyedTable.create(
      (1L to 20L).map(i => (i, i)).toDF("k", "v"), base, "k",
      numBuckets = 2)
    ChangeFeed.syncReplica(spark, base, repl, "k", numBuckets = 2)
    // consumer goes down; base keeps committing
    VersionedKeyedTable.upsert(spark, base,
      Seq((1L, 111L), (21L, 21L)).toDF("k", "v"), "k")
    VersionedKeyedTable.delete(spark, base, Seq(2L).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, base,
      Seq((3L, 333L)).toDF("k", "v"), "k")
    // restart: catch-up from the stamp, one span for all three commits
    ChangeFeed.syncReplica(spark, base, repl, "k", numBuckets = 2)
    assert(rowsOf(repl) === rowsOf(base))
    assert(ChangeFeed.stampedWatermark(spark, repl) ===
      Some(VersionedKeyedTable.snapshot(spark, base).version))
  }

  test("merge: insertNotMatchedWhen gates inserts per row, and carry " +
      "columns feed assignments without becoming table state") {
    val dir = fresh("merge")
    VersionedKeyedTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), dir, "k", numBuckets = 2)
    val src = Seq((2L, 200L, true), (3L, 30L, true), (4L, 40L, false))
      .toDF("k", "v", "want")
    VersionedKeyedTable.merge(spark, dir, src, "k",
      whenMatchedUpdate = Map("v" ->
        when(col("s.want"), col("s.v")).otherwise(col("t.v"))),
      insertNotMatchedWhen = Some(col("s.want")),
      carryCols = Set("want"))
    assert(rowsOf(dir) === Map(1L -> 10L, 2L -> 200L, 3L -> 30L),
      "k4's insert is gated off; k3's is gated on")
    // the carry column never became table state
    assert(VersionedKeyedTable.read(spark, dir).columns.toSet ===
      Set("k", "v"))
    // a carry column colliding with a table column is refused
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.merge(spark, dir,
        Seq((1L, 1L)).toDF("k", "v"), "k",
        whenMatchedUpdate = Map("v" -> col("s.v")),
        carryCols = Set("v"))
    }
    assert(e.getMessage.contains("collides"))
  }

  test("syncReplica: a catch-up over three base commits adds exactly " +
      "one replica commit, stamped with the base's latest version") {
    val base = fresh("obase"); val repl = fresh("orepl")
    VersionedKeyedTable.create(
      (1L to 10L).map(i => (i, i)).toDF("k", "v"), base, "k",
      numBuckets = 2)
    ChangeFeed.syncReplica(spark, base, repl, "k", numBuckets = 2)
    VersionedKeyedTable.upsert(spark, base,
      Seq((1L, 100L), (11L, 11L)).toDF("k", "v"), "k")
    VersionedKeyedTable.delete(spark, base, Seq(2L, 11L).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, base,
      Seq((3L, 300L)).toDF("k", "v"), "k")
    val n0 = VersionedKeyedTable.completeVersions(spark, repl).size
    val latest = VersionedKeyedTable.snapshot(spark, base).version
    assert(ChangeFeed.syncReplica(spark, base, repl, "k",
      numBuckets = 2) === latest)
    assert(VersionedKeyedTable.completeVersions(spark, repl).size
      === n0 + 1)
    assert(VersionedKeyedTable.snapshot(spark, repl)
      .meta.get(ChangeFeed.AppliedBaseKey) === Some(latest.toString))
    assert(rowsOf(repl) === rowsOf(base))
  }

  test("changesBetween plans ONE change-file scan however many " +
      "versions the span holds") {
    val dir = fresh("plan")
    VersionedKeyedTable.create(
      (1L to 4L).map(i => (i, i)).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    // 12 commits: commit c inserts key c + 4 and rewrites key 1;
    // commit 6 instead deletes key 2 and key 5 (inserted by commit 1,
    // so it nets away inside the span)
    (1L to 12L).foreach { c =>
      if (c == 6L)
        VersionedKeyedTable.delete(spark, dir, Seq(2L, 5L).toDF("k"), "k")
      else VersionedKeyedTable.upsert(spark, dir,
        Seq((1L, 1000L + c), (c + 4L, c)).toDF("k", "v"), "k")
    }
    def scans(from: Long, to: Long): Int = {
      val leaves = VersionedKeyedTable.changesBetween(spark, dir, "k",
        from, to).queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.LogicalRelation]))
      leaves.size
    }
    assert(scans(1L, 13L) === 1, "a 12-version span plans one scan")
    assert(scans(12L, 13L) === 1)
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 13L)
      .select("k", "change_type", "v", "v_prev")
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cdf(1L) === (("update", Some(1012L), Some(1L))),
      "first change's prev, last change's new")
    assert(cdf(2L) === (("delete", None, Some(2L))))
    assert(!cdf.contains(5L), "inserted then deleted: no net change")
    assert(cdf(16L) === (("insert", Some(12L), None)))
    assert(cdf.size === 1 + 1 + 10)
  }
}

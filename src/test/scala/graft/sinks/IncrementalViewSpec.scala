package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

/** The delta rule under every lifecycle event the CDF can emit —
  * inserts, value updates, GROUP-MOVING updates, deletes down to
  * group disappearance — plus the exactly-once watermark discipline
  * that makes refresh crash-safe. */
class IncrementalViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): (String, String) = (
    Files.createTempDirectory("graft-ivm-base").toString + "/t",
    Files.createTempDirectory("graft-ivm-view").toString + "/t")

  private def viewOf(viewDir: String): Map[String, (Long, Long)] =
    VersionedKeyedTable.read(spark, viewDir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def recompute(baseDir: String): Map[String, (Long, Long)] =
    VersionedKeyedTable.read(spark, baseDir)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("v")).as("total"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("delta maintenance equals recompute through inserts, updates, " +
      "group moves, and group-emptying deletes") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("k", "g", "v"), baseDir, "k", numBuckets = 2)
    var wm = IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    assert(viewOf(viewDir) === recompute(baseDir))
    // v2: insert + value update + GROUP MOVE (key 3: b -> a)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((5L, "b", 50L), (1L, "a", 11L), (3L, "a", 30L))
        .toDF("k", "g", "v"), "k")
    // v3: delete key 4 — group c disappears entirely
    VersionedKeyedTable.delete(spark, baseDir, Seq(4L).toDF("k"), "k")
    wm = IncrementalView.refreshToLatest(
      spark, baseDir, viewDir, "k", "g", "v", wm)
    val got = viewOf(viewDir)
    assert(got === recompute(baseDir))
    assert(got === Map("a" -> ((3L, 61L)), "b" -> ((1L, 50L))))
    assert(!got.contains("c"), "an emptied group is deleted, not zeroed")
  }

  private def fullViewOf(viewDir: String)
      : Map[String, (Long, Long, Long, Long)] =
    VersionedKeyedTable.read(spark, viewDir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  private def recomputeFull(baseDir: String)
      : Map[String, (Long, Long, Long, Long)] =
    VersionedKeyedTable.read(spark, baseDir)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("v")).as("total"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("full view: min/max survive extremum deletes (re-derive tier), " +
      "extend on inserts (delta tier), and track group moves — " +
      "equal to recompute at every span") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L), (2L, "a", 50L), (3L, "a", 30L),
        (4L, "b", 7L), (5L, "b", 70L), (6L, "c", 40L))
        .toDF("k", "g", "v"), baseDir, "k", numBuckets = 2)
    val wm = IncrementalView.createFromFull(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    assert(fullViewOf(viewDir) === recomputeFull(baseDir))
    // v2: delete a's MAX (k2=50) and b's MIN (k4=7) — both groups
    // must recover their runner-up exactly (the non-self-maintainable
    // case a pure delta rule cannot handle)
    VersionedKeyedTable.delete(spark, baseDir,
      Seq(2L, 4L).toDF("k"), "k")
    IncrementalView.refreshToLatestFull(
      spark, baseDir, viewDir, "k", "g", "v", wm)
    var got = fullViewOf(viewDir)
    assert(got === recomputeFull(baseDir))
    assert(got("a") === ((2L, 40L, 10L, 30L)), "a's max fell to 30")
    assert(got("b") === ((1L, 70L, 70L, 70L)), "b's min rose to 70")
    // v3: inserts extend envelopes; an update REPLACES a's min (10->5)
    // and a GROUP MOVE takes c's only row to b (c disappears, b's
    // envelope re-derives around the arrival)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((7L, "a", 100L), (1L, "a", 5L), (6L, "b", 40L))
        .toDF("k", "g", "v"), "k")
    // v4: delete b's new min (k6=40)
    VersionedKeyedTable.delete(spark, baseDir, Seq(6L).toDF("k"), "k")
    IncrementalView.refreshFromCommittedFull(
      spark, baseDir, viewDir, "k", "g", "v")
    got = fullViewOf(viewDir)
    assert(got === recomputeFull(baseDir))
    assert(got("a") === ((3L, 135L, 5L, 100L)))
    assert(got("b") === ((1L, 70L, 70L, 70L)))
    assert(!got.contains("c"), "an emptied group is deleted, not zeroed")
    // exactly-once: a crash-retry of the caught-up maintainer no-ops
    val nv = VersionedKeyedTable.completeVersions(spark, viewDir).size
    IncrementalView.refreshFromCommittedFull(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(VersionedKeyedTable.completeVersions(spark, viewDir).size
      === nv)
    assert(fullViewOf(viewDir) === recomputeFull(baseDir))
  }

  test("full view: the semi-join re-derive path (above the isin cap) " +
      "produces the same result") {
    val cap0 = IncrementalView.rederiveIsinCap
    IncrementalView.rederiveIsinCap = 0 // force the semi-join path
    try {
      val (baseDir, viewDir) = fresh()
      VersionedKeyedTable.create(
        (1L to 60L).map(i => (i, s"g${i % 5}", i)).toDF("k", "g", "v"),
        baseDir, "k", numBuckets = 2)
      val wm = IncrementalView.createFromFull(
        spark, baseDir, viewDir, "g", "v", numBuckets = 2)
      // delete every group's max (k 56..60)
      VersionedKeyedTable.delete(spark, baseDir,
        (56L to 60L).toDF("k"), "k")
      IncrementalView.refreshToLatestFull(
        spark, baseDir, viewDir, "k", "g", "v", wm)
      assert(fullViewOf(viewDir) === recomputeFull(baseDir))
    } finally IncrementalView.rederiveIsinCap = cap0
  }

  test("exactly-once watermark: a re-applied span is a no-op, the " +
      "stamp rides the view's own commits, and refreshFromCommitted " +
      "resumes where the last durable refresh stopped") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "v"),
      baseDir, "k", numBuckets = 2)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    assert(IncrementalView.committedWatermark(spark, viewDir) === 1L)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((3L, "a", 30L)).toDF("k", "g", "v"), "k")
    IncrementalView.refresh(spark, baseDir, viewDir, "k", "g", "v", 1L, 2L)
    assert(viewOf(viewDir)("a") === ((2L, 40L)))
    assert(IncrementalView.committedWatermark(spark, viewDir) === 2L)
    // a crashed-and-retried maintainer re-applies the same span: the
    // durable stamp makes it a no-op — never a double count
    IncrementalView.refresh(spark, baseDir, viewDir, "k", "g", "v", 1L, 2L)
    assert(viewOf(viewDir)("a") === ((2L, 40L)), "no double application")
    // two more base commits, then a restart-shaped catch-up from the
    // committed stamp alone (no caller-held watermark)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((4L, "b", 40L)).toDF("k", "g", "v"), "k")
    VersionedKeyedTable.delete(spark, baseDir, Seq(1L).toDF("k"), "k")
    val wm = IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(wm === 4L)
    assert(viewOf(viewDir) === recompute(baseDir))
    // and once caught up, another catch-up finds nothing to do
    assert(IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v") === 4L)
    assert(viewOf(viewDir) === recompute(baseDir))
  }

  test("a span STARTING below the durable watermark is clamped to it: " +
      "only the unapplied remainder lands, never the committed prefix") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "v"),
      baseDir, "k", numBuckets = 2)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((3L, "a", 30L)).toDF("k", "g", "v"), "k")
    IncrementalView.refresh(spark, baseDir, viewDir, "k", "g", "v", 1L, 2L)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((4L, "a", 40L)).toDF("k", "g", "v"), "k")
    // a caller holding a STALE watermark asks for the whole (1, 3]
    // span: the (1, 2] prefix is already in the view — re-applying it
    // would double-count key 3 — so the refresh clamps to (2, 3]
    IncrementalView.refresh(spark, baseDir, viewDir, "k", "g", "v", 1L, 3L)
    assert(viewOf(viewDir)("a") === ((3L, 80L)),
      "the committed prefix must not re-apply under a stale caller span")
    assert(viewOf(viewDir) === recompute(baseDir))
    // the OTHER direction: a span starting ABOVE the watermark must
    // not skip the (watermark, from] gap — the durable watermark is
    // authoritative over the caller's fromVersion entirely
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((5L, "a", 50L)).toDF("k", "g", "v"), "k") // v4 (unapplied)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((6L, "b", 60L)).toDF("k", "g", "v"), "k") // v5
    IncrementalView.refresh(spark, baseDir, viewDir, "k", "g", "v", 4L, 5L)
    assert(viewOf(viewDir) === recompute(baseDir),
      "a gap span must refresh from the watermark, never skip changes")
  }

  test("REAL race: writers commit to the base while the maintainer " +
      "refreshes concurrently — the caught-up view equals the recompute") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((0L, "seed", 1L)).toDF("k", "g", "v"), baseDir, "k",
      numBuckets = 4)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try {
          for (b <- 0 until 4) {
            VersionedKeyedTable.upsert(spark, baseDir,
              (1L to 10L).map(i => (w * 1000L + b * 100L + i,
                s"g${(i + w) % 3}", i)).toDF("k", "g", "v"), "k")
          }
        } catch { case t: Throwable => errs.add(t) }
        finally { writersDone.incrementAndGet(): Unit }
      }, s"graft-ivm-writer-$w")
    }
    val maintainer = new Thread(() => {
      try {
        while (writersDone.get() < 2) {
          IncrementalView.refreshFromCommitted(
            spark, baseDir, viewDir, "k", "g", "v"): Unit
        }
      } catch { case t: Throwable => errs.add(t) }
    }, "graft-ivm-maintainer")
    writers.foreach(_.start()); maintainer.start()
    writers.foreach(_.join(180000)); maintainer.join(180000)
    assert(errs.isEmpty, s"race failed: ${Option(errs.peek())}")
    IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(viewOf(viewDir) === recompute(baseDir),
      "every committed span applied exactly once under the race")
  }

  test("refresh across a compaction span is a no-op (CDF-invisible) " +
      "and the watermark discipline survives maintenance on BOTH " +
      "tables — compacting the view does not erase the stamp") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      (1L to 40L).map(i => (i, if (i % 2 == 0) "e" else "o", i))
        .toDF("k", "g", "v").repartition(4), baseDir, "k", numBuckets = 2)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    VersionedKeyedTable.compact(spark, baseDir, "k")
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((41L, "o", 41L)).toDF("k", "g", "v"), "k")
    IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(viewOf(viewDir) === recompute(baseDir))
    // maintenance on the VIEW: compaction carries no watermark stamp,
    // but committedWatermark walks the base-pointer chain back to the
    // last refresh commit — the stamp survives
    VersionedKeyedTable.compact(spark, viewDir, "g")
    val wm = IncrementalView.committedWatermark(spark, viewDir)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((42L, "e", 42L)).toDF("k", "g", "v"), "k")
    IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(viewOf(viewDir) === recompute(baseDir))
    assert(IncrementalView.committedWatermark(spark, viewDir) > wm)
  }

  test("single-maintainer lock: a held lock fails a second refresh " +
      "loudly; a provably stale lock is stolen") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L)).toDF("k", "g", "v"), baseDir, "k",
      numBuckets = 2)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((2L, "a", 20L)).toDF("k", "g", "v"), "k")
    // another maintainer "holds" the lock
    val lock = java.nio.file.Paths.get(s"$viewDir/_maintainer.lock")
    java.nio.file.Files.createFile(lock)
    val e = intercept[IllegalStateException] {
      IncrementalView.refreshFromCommitted(
        spark, baseDir, viewDir, "k", "g", "v")
    }
    assert(e.getMessage.contains("another maintainer"))
    // a crashed maintainer's stale lock (old mtime) is stolen
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
    IncrementalView.refreshFromCommitted(
      spark, baseDir, viewDir, "k", "g", "v")
    assert(viewOf(viewDir) === recompute(baseDir))
    assert(!java.nio.file.Files.exists(lock), "lock released after")
  }

  private def multiViewOf(viewDir: String)
      : Map[String, Seq[Long]] =
    VersionedKeyedTable.read(spark, viewDir)
      .select(col("g"), col("cnt"),
        col("total_v"), col("mn_v"), col("mx_v"),
        col("total_w"), col("mn_w"), col("mx_w"))
      .collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap

  private def recomputeMulti(baseDir: String): Map[String, Seq[Long]] =
    VersionedKeyedTable.read(spark, baseDir)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("v")).as("total_v"), min(col("v")).as("mn_v"),
        max(col("v")).as("mx_v"),
        sum(col("w")).as("total_w"), min(col("w")).as("mn_w"),
        max(col("w")).as("mx_w"))
      .collect()
      .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap

  test("multi-aggregate view: two value columns maintained in one " +
      "pass — a delete can break ONE column's envelope and extend " +
      "nothing on the other, and both recover exactly") {
    val (baseDir, viewDir) = fresh()
    // w is deliberately ANTI-correlated with v: the row holding a
    // group's v-max holds its w-min, so one delete breaks both
    // columns' envelopes at once
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L, 90L), (2L, "a", 50L, 5L), (3L, "a", 30L, 70L),
        (4L, "b", 7L, 93L), (5L, "b", 70L, 30L))
        .toDF("k", "g", "v", "w"), baseDir, "k", numBuckets = 2)
    val wm = IncrementalView.createFromFullMulti(
      spark, baseDir, viewDir, "g", Seq("v", "w"), numBuckets = 2)
    assert(multiViewOf(viewDir) === recomputeMulti(baseDir))
    // delete a's v-max/w-min (k2) and b's v-min/w-max (k4): every
    // broken column must recover its runner-up, per group, in ONE
    // refresh commit
    VersionedKeyedTable.delete(spark, baseDir, Seq(2L, 4L).toDF("k"), "k")
    IncrementalView.refreshToLatestFullMulti(
      spark, baseDir, viewDir, "k", "g", Seq("v", "w"), wm)
    var got = multiViewOf(viewDir)
    assert(got === recomputeMulti(baseDir))
    assert(got("a") === Seq(2L, 40L, 10L, 30L, 160L, 70L, 90L))
    assert(got("b") === Seq(1L, 70L, 70L, 70L, 30L, 30L, 30L))
    // inserts extend both envelopes as pure delta; an update replaces
    // a's v-min; a group move empties b into a new group c
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((6L, "a", 100L, 1L), (1L, "a", 5L, 95L), (5L, "c", 70L, 30L))
        .toDF("k", "g", "v", "w"), "k")
    IncrementalView.refreshFromCommittedFullMulti(
      spark, baseDir, viewDir, "k", "g", Seq("v", "w"))
    got = multiViewOf(viewDir)
    assert(got === recomputeMulti(baseDir))
    assert(!got.contains("b"), "the emptied group is deleted")
    assert(got("c") === Seq(1L, 70L, 70L, 70L, 30L, 30L, 30L))
    // exactly-once: a caught-up retry commits nothing
    val nv = VersionedKeyedTable.completeVersions(spark, viewDir).size
    IncrementalView.refreshFromCommittedFullMulti(
      spark, baseDir, viewDir, "k", "g", Seq("v", "w"))
    assert(VersionedKeyedTable.completeVersions(spark, viewDir).size
      === nv)
  }

  /** The view's commit count and its latest commit's stamp. */
  private def viewCommits(viewDir: String): (Int, Option[String]) = (
    VersionedKeyedTable.completeVersions(spark, viewDir).size,
    VersionedKeyedTable.snapshot(spark, viewDir).meta
      .get(IncrementalView.AppliedBaseKey))

  private def baseLatest(baseDir: String): Long =
    VersionedKeyedTable.snapshot(spark, baseDir).version

  test("a catch-up over a CoW upsert, a merge, an upsertMor, a " +
      "deleteMor and a compaction adds exactly ONE view commit, " +
      "stamped with the base's latest version") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      (1L to 12L).map(i => (i, s"g${i % 3}", i * 10)).toDF("k", "g", "v"),
      baseDir, "k", numBuckets = 2)
    val wm = IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((1L, "g1", 11L), (13L, "g0", 130L)).toDF("k", "g", "v"), "k")
    VersionedKeyedTable.merge(spark, baseDir,
      Seq((2L, "g0", 21L), (14L, "g2", 140L)).toDF("k", "g", "v"), "k",
      whenMatchedUpdate = Map("g" -> col("s.g"), "v" -> col("s.v")))
    VersionedKeyedTable.upsertMor(spark, baseDir,
      Seq((3L, "g1", 31L), (15L, "g1", 150L)).toDF("k", "g", "v"), "k")
    VersionedKeyedTable.deleteMor(spark, baseDir,
      Seq(4L, 13L).toDF("k"), "k")
    VersionedKeyedTable.compact(spark, baseDir, "k")
    val latest = baseLatest(baseDir)
    assert(latest - wm === 5L)
    val (n0, _) = viewCommits(viewDir)
    assert(IncrementalView.refreshToLatest(
      spark, baseDir, viewDir, "k", "g", "v", wm) === latest)
    assert(viewCommits(viewDir) === ((n0 + 1, Some(latest.toString))),
      "one merge commit for the whole span, stamped with latest")
    assert(viewOf(viewDir) === recompute(baseDir))
  }

  test("full view: a catch-up span holding an insert, an update and " +
      "a delete of ONE key plus a lost extremum is one exact commit") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L), (2L, "a", 50L), (3L, "a", 30L),
        (4L, "b", 7L), (5L, "b", 70L)).toDF("k", "g", "v"),
      baseDir, "k", numBuckets = 2)
    val wm = IncrementalView.createFromFull(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    // key 9 is inserted below a's min, moved to b above b's max, and
    // deleted: the span nets it away entirely
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((9L, "a", 1L)).toDF("k", "g", "v"), "k")
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((9L, "b", 900L)).toDF("k", "g", "v"), "k")
    // a loses its max (k2=50); b gains a new max through an update
    VersionedKeyedTable.delete(spark, baseDir, Seq(9L, 2L).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((5L, "b", 75L)).toDF("k", "g", "v"), "k")
    val latest = baseLatest(baseDir)
    val (n0, _) = viewCommits(viewDir)
    assert(IncrementalView.refreshToLatestFull(
      spark, baseDir, viewDir, "k", "g", "v", wm) === latest)
    assert(viewCommits(viewDir) === ((n0 + 1, Some(latest.toString))))
    val got = fullViewOf(viewDir)
    assert(got === recomputeFull(baseDir))
    assert(got("a") === ((2L, 40L, 10L, 30L)), "a's max fell to 30")
    assert(got("b") === ((2L, 82L, 7L, 75L)))
  }

  test("multi-aggregate view: a many-version catch-up is one exact " +
      "commit stamped with the base's latest version") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L, 90L), (2L, "a", 50L, 5L), (3L, "a", 30L, 70L),
        (4L, "b", 7L, 93L), (5L, "b", 70L, 30L))
        .toDF("k", "g", "v", "w"), baseDir, "k", numBuckets = 2)
    val wm = IncrementalView.createFromFullMulti(
      spark, baseDir, viewDir, "g", Seq("v", "w"), numBuckets = 2)
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((9L, "a", 100L, 1L)).toDF("k", "g", "v", "w"), "k")
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((9L, "b", 1L, 100L)).toDF("k", "g", "v", "w"), "k")
    VersionedKeyedTable.delete(spark, baseDir, Seq(9L, 2L).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, baseDir,
      Seq((4L, "c", 8L, 94L)).toDF("k", "g", "v", "w"), "k")
    val latest = baseLatest(baseDir)
    val (n0, _) = viewCommits(viewDir)
    assert(IncrementalView.refreshToLatestFullMulti(
      spark, baseDir, viewDir, "k", "g", Seq("v", "w"), wm) === latest)
    assert(viewCommits(viewDir) === ((n0 + 1, Some(latest.toString))))
    assert(multiViewOf(viewDir) === recomputeMulti(baseDir))
  }

  test("a catch-up from a watermark whose base manifest was vacuumed " +
      "fails loudly and commits nothing") {
    val (baseDir, viewDir) = fresh()
    VersionedKeyedTable.create(
      Seq((1L, "a", 10L)).toDF("k", "g", "v"), baseDir, "k",
      numBuckets = 2)
    IncrementalView.createFrom(
      spark, baseDir, viewDir, "g", "v", numBuckets = 2)
    (2L to 4L).foreach(i => VersionedKeyedTable.upsert(spark, baseDir,
      Seq((i, "a", i)).toDF("k", "g", "v"), "k"))
    VersionedKeyedTable.vacuum(spark, baseDir, keepVersions = 2,
      graceMs = 0L)
    val before = viewCommits(viewDir)
    val e = intercept[IllegalStateException] {
      IncrementalView.refreshFromCommitted(
        spark, baseDir, viewDir, "k", "g", "v")
    }
    assert(e.getMessage.contains("no complete version v1"),
      e.getMessage)
    assert(viewCommits(viewDir) === before, "no change may be skipped")
  }

  test("maintainer lock: maintainers racing from a barrier never both " +
      "hold the lock") {
    val (_, viewDir) = fresh()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewDir))
    val holding = new java.util.concurrent.atomic.AtomicInteger(0)
    val most = new java.util.concurrent.atomic.AtomicInteger(0)
    for (_ <- 0 until 25) {
      val racers = 4
      val barrier = new java.util.concurrent.CyclicBarrier(racers)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until racers).map { i =>
        new Thread(() => {
          barrier.await()
          try IncrementalView.withMaintainerLock(spark, viewDir) {
            most.accumulateAndGet(holding.incrementAndGet(), math.max)
            wins.incrementAndGet()
            Thread.sleep(20)
            holding.decrementAndGet(): Unit
          } catch { case _: IllegalStateException => () }
        }, s"graft-ivm-racer-$i")
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(wins.get >= 1, "some racer must win")
    }
    assert(most.get === 1, "two maintainers held the lock at once")
  }
}

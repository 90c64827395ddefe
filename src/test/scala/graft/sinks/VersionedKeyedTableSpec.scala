package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

/** The optimistic-concurrency contract: snapshot-isolated reads, CAS
  * commits, rebase on disjoint conflict, recompute on overlap — each
  * path pinned deterministically through the onBeforeCommit seam, then
  * exercised with REAL racing threads. */
class VersionedKeyedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-versioned").toString + "/t"

  private def contents(dir: String, version: Option[Long] = None)
      : Map[Long, String] =
    VersionedKeyedTable.read(spark, dir, version)
      .as[(Long, String)].collect().toMap

  /** Keys grouped by their bucket under numBuckets=4, so tests can
    * build provably disjoint / overlapping writers (one Spark job). */
  private lazy val bucketOf: Map[Long, Int] =
    spark.range(1, 401).select(col("id"),
        pmod(xxhash64(col("id")), lit(4L)).cast("int").as("b"))
      .as[(Long, Int)].collect().toMap

  test("create/read/upsert/delete round trip with time travel and an " +
      "emptied bucket as a plain manifest entry") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    assert(contents(dir) === (1L to 100L).map(i => i -> s"v$i").toMap)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((7L, "NEW7"), (101L, "NEW101")).toDF("k", "v"), "k")
    val afterUpsert = contents(dir)
    assert(afterUpsert(7L) === "NEW7" && afterUpsert(101L) === "NEW101")
    assert(afterUpsert.size === 101 && afterUpsert(8L) === "v8")
    // empty one bucket entirely: no dynamic-overwrite edge — the next
    // manifest simply lists it with no files
    val doomed = (1L to 101L).filter(k => bucketOf.getOrElse(k, -1) == 0)
    assert(doomed.nonEmpty)
    VersionedKeyedTable.delete(spark, dir, doomed.toDF("k"), "k")
    val afterDelete = contents(dir)
    assert(afterDelete.keySet === afterUpsert.keySet -- doomed)
    // time travel: version 1 is still the creation snapshot
    assert(contents(dir, Some(1L)) ===
      (1L to 100L).map(i => i -> s"v$i").toMap)
    assert(contents(dir, Some(2L)) === afterUpsert)
  }

  test("disjoint-bucket race REBASES: the loser's files commit without " +
      "a data rewrite and both writers' rows land") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val aKeys = (1L to 100L).filter(k => bucketOf(k) == 0).take(10)
    val bKeys = (1L to 100L).filter(k => bucketOf(k) == 1).take(10)
    assert(aKeys.nonEmpty && bKeys.nonEmpty)
    var bRan = false
    // A writes its files; before A's CAS, B commits a DISJOINT-bucket
    // upsert — A must lose the CAS once, classify the conflict as
    // disjoint, and rebase the same files onto B's snapshot
    VersionedKeyedTable.mutate(spark, dir,
      aKeys.map(k => (k, "A")).toDF("k", "v"), "k", isDelete = false,
      onBeforeCommit = () => if (!bRan) {
        bRan = true
        VersionedKeyedTable.upsert(spark, dir,
          bKeys.map(k => (k, "B")).toDF("k", "v"), "k")
      })
    val got = contents(dir)
    aKeys.foreach(k => assert(got(k) === "A", s"key $k"))
    bKeys.foreach(k => assert(got(k) === "B", s"key $k"))
    // three commits total: create, B, A-rebased
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
  }

  test("overlapping-bucket race RECOMPUTES: the loser re-applies its " +
      "puts on the winner's state — serializable put order") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val shared = (1L to 100L).filter(k => bucketOf(k) == 2).take(8)
    assert(shared.size >= 2)
    var bRan = false
    VersionedKeyedTable.mutate(spark, dir,
      shared.map(k => (k, "A")).toDF("k", "v"), "k", isDelete = false,
      onBeforeCommit = () => if (!bRan) {
        bRan = true
        VersionedKeyedTable.upsert(spark, dir,
          shared.map(k => (k, "B")).toDF("k", "v"), "k")
      })
    // B committed first; A recomputed from B's snapshot and re-applied
    // its puts — A's values win everywhere (B-then-A serial order)
    val got = contents(dir)
    shared.foreach(k => assert(got(k) === "A", s"key $k"))
    assert(got.size === 100)
  }

  test("REAL racing threads on disjoint key ranges: every writer " +
      "commits, no rows lost, one version per commit") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      Seq((0L, "seed")).toDF("k", "v"), dir, "k", numBuckets = 8)
    val writers = 4
    val latch = new java.util.concurrent.CountDownLatch(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          val rows = (1L to 20L).map(i => (w * 1000L + i, s"w$w-$i"))
          latch.countDown(); latch.await() // maximize overlap
          VersionedKeyedTable.upsert(spark, dir,
            rows.toDF("k", "v"), "k")
        } catch { case t: Throwable => errs.add(t) }
      }, s"graft-versioned-writer-$w")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val got = contents(dir)
    assert(got.size === 1 + writers * 20)
    for (w <- 0 until writers; i <- 1L to 20L)
      assert(got(w * 1000L + i) === s"w$w-$i")
    assert(VersionedKeyedTable.snapshot(spark, dir).version ===
      1L + writers)
  }

  test("REAL racing threads on the SAME keys: the final state is one " +
      "writer's puts applied last — never an interleaved mix") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 50L).map(i => (i, "seed")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val contested = (1L to 50L).filter(k => bucketOf(k) == 3)
    assert(contested.size >= 3)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("A", "B").map { who =>
      new Thread(() => {
        try {
          latch.countDown(); latch.await()
          VersionedKeyedTable.upsert(spark, dir,
            contested.map(k => (k, who)).toDF("k", "v"), "k")
        } catch { case t: Throwable => errs.add(t) }
      }, s"graft-versioned-$who")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val got = contents(dir)
    val winners = contested.map(got).toSet
    assert(winners.size === 1 && (winners("A") || winners("B")),
      s"contested keys must all show ONE writer's puts, got $winners")
  }

  test("additive schema evolution: new columns read null for old rows, " +
      "time travel keeps each version's schema, type changes refused") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    // widen: the update batch carries a new column
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "NEW3", 33L), (21L, "NEW21", 42L)).toDF("k", "v", "extra"),
      "k")
    val widened = VersionedKeyedTable.read(spark, dir)
    assert(widened.columns.toSeq === Seq("k", "v", "extra"))
    val rows = widened.as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(3L) === (("NEW3", Some(33L))))
    assert(rows(21L) === (("NEW21", Some(42L))))
    assert(rows(5L) === (("v5", None)), "old rows read the column null")
    // time travel: version 1 keeps the pre-evolution schema
    assert(VersionedKeyedTable.read(spark, dir, Some(1L))
      .columns.toSeq === Seq("k", "v"))
    // a narrower later put still works (missing columns become null —
    // put semantics replace the whole row)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "NARROW3")).toDF("k", "v"), "k")
    val after = VersionedKeyedTable.read(spark, dir)
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after(3L) === (("NARROW3", None)))
    assert(after(21L) === (("NEW21", Some(42L))))
    // type change is refused loudly
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.upsert(spark, dir,
        Seq((4L, 99L)).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("additive only"))
  }

  test("transact: concurrent derived increments BOTH land — the lost " +
      "update plain value-puts cannot avoid") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, 0L)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try {
          latch.countDown(); latch.await() // collide the derivations
          VersionedKeyedTable.transact(spark, dir, "k") { snap =>
            // derived update: every row's counter + 1 (reads the
            // whole table — any intervening commit must re-derive)
            snap.select(col("k"), (col("n") + 1L).as("n"))
          }
        } catch { case t: Throwable => errs.add(t) }
      }, s"graft-transact-$w")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"transact failed: ${Option(errs.peek())}")
    val got = VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(2L),
      s"both increments must land on every key, got ${got.values.toSet}")
    // and the log shows both committed: create + 2 transacts
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
  }

  test("a torn version claim (crashed weak-scheme writer) never wedges " +
      "the protocol: mutate and transact skip past it, vacuum's " +
      "retention ignores it and reclaims the dead claim") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, 0L)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    // plant a torn claim at v2: content without the '#end' marker —
    // what a fallback-scheme writer crashing mid-write leaves behind
    val torn = java.nio.file.Paths.get(s"$dir/_versions/v000000000002")
    java.nio.file.Files.write(torn,
      "touched\t0\n0\tdata/ghost.parquet\n".getBytes("UTF-8"))
    // upsert must skip the dead claim and commit (previously: the CAS
    // at latest-complete+1 = v2 would fail forever)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((1L, 7L)).toDF("k", "n"), "k")
    val got = VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 7L && got.size === 30)
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L,
      "the commit lands past the torn claim")
    // transact takes the same skip without re-deriving spuriously
    VersionedKeyedTable.transact(spark, dir, "k")(snap =>
      snap.select(col("k"), (col("n") + 1L).as("n")))
    assert(VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap.apply(1L) === 8L)
    // vacuum: the torn claim counts toward NOTHING — complete versions
    // govern retention, and the dead claim itself is reclaimed
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(!java.nio.file.Files.exists(torn), "dead claim reclaimed")
    assert(VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap.apply(1L) === 8L,
      "the latest complete version survives retention")
  }

  test("every commit entry point skips a torn claim at latest+1: it " +
      "commits at latest+2 and reads back the expected rows") {
    val base = (1L to 30L).map(i => i -> s"v$i").toMap
    def rows(kvs: (Long, String)*) = kvs.toDF("k", "v")
    val vkt = VersionedKeyedTable
    val x = Seq(org.apache.spark.sql.types.StructField("x",
      org.apache.spark.sql.types.LongType))
    val none: String => Unit = _ => ()
    val kv = Seq("k", "v")
    // (entry point, set-up after create, the call, rows and columns
    // it leaves)
    val cases: Seq[(String, String => Unit, String => Unit,
        Map[Long, String], Seq[String])] = Seq(
      ("upsertMor", none,
        d => vkt.upsertMor(spark, d, rows(1L -> "M1", 31L -> "M31"), "k"),
        base ++ Map(1L -> "M1", 31L -> "M31"), kv),
      ("deleteMor", none,
        d => vkt.deleteMor(spark, d, Seq(2L).toDF("k"), "k"),
        base - 2L, kv),
      ("mutateMor", none,
        d => vkt.mutateMor(spark, d, rows(3L -> "P3"),
          Some(Seq(4L).toDF("k")), "k"),
        base + (3L -> "P3") - 4L, kv),
      ("replaceAll", none,
        d => vkt.replaceAll(spark, d, rows(1L -> "R1", 2L -> "R2"), "k"),
        Map(1L -> "R1", 2L -> "R2"), kv),
      ("replaceFiles", none,
        d => {
          val snap = vkt.snapshot(spark, d)
          vkt.replaceFiles(spark, d, snap.files.values.flatten.toSeq,
            rows(5L -> "F5"), "k", Some(snap.version))
        },
        Map(5L -> "F5"), kv),
      ("merge", none,
        d => vkt.merge(spark, d, rows(6L -> "G6", 32L -> "G32"), "k",
          whenMatchedUpdate = Map("v" -> col("s.v"))),
        base ++ Map(6L -> "G6", 32L -> "G32"), kv),
      ("transact", none,
        d => vkt.transact(spark, d, "k")(snap => snap
          .where(col("k") === 7L).select(col("k"), lit("T7").as("v"))),
        base + (7L -> "T7"), kv),
      ("restore", d => vkt.upsert(spark, d, rows(8L -> "U8"), "k"),
        d => vkt.restore(spark, d, 1L),
        base, kv),
      ("compact", d => vkt.upsertMor(spark, d, rows(9L -> "C9"), "k"),
        d => vkt.compact(spark, d, "k"),
        base + (9L -> "C9"), kv),
      ("cluster", none,
        d => vkt.cluster(spark, d, "k", targetRowsPerFile = 4L),
        base, kv),
      ("addColumns", none,
        d => vkt.addColumns(spark, d, x),
        base, kv :+ "x"),
      ("dropColumn", d => vkt.addColumns(spark, d, x),
        d => vkt.dropColumn(spark, d, "x"),
        base, kv))
    cases.foreach { case (name, setUp, call, expected, columns) =>
      val dir = freshDir()
      vkt.create(base.toSeq.toDF("k", "v"), dir, "k", numBuckets = 4)
      setUp(dir)
      val latest = vkt.snapshot(spark, dir).version
      // a crashed weak-scheme writer's claim: no '#end' marker
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/_versions/v${latest + 1}%012d"),
        "touched\t0\n0\tdata/ghost.parquet\n".getBytes("UTF-8"))
      call(dir)
      assert(vkt.snapshot(spark, dir).version === latest + 2,
        s"$name commits past the torn claim")
      val got = vkt.read(spark, dir)
      assert(got.columns.toSeq === columns, s"$name columns")
      assert(got.select("k", "v").as[(Long, String)].collect().toMap ===
        expected, s"$name rows")
    }
  }

  test("merge: three-clause MERGE INTO — matched-delete, matched-update " +
      "with t/s expressions, not-matched-insert, untouched non-matches") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 20L).map(i => (i, i * 10L)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    // source: keys 1-5 (matched, n small -> delete when s.flag),
    // 16-25 (16-20 matched -> update n = t.n + s.n; 21-25 inserted)
    val source = ((1L to 5L).map(i => (i, 1000L, true)) ++
      (16L to 25L).map(i => (i, i, false))).toDF("k", "n", "flag")
    VersionedKeyedTable.merge(spark, dir, source, "k",
      whenMatchedDelete = Some(col("s.flag")),
      whenMatchedUpdate = Map("n" -> (col("t.n") + col("s.n"))))
    val got = VersionedKeyedTable.read(spark, dir)
      .select(col("k"), col("n")).as[(Long, Long)].collect().toMap
    // 1-5 deleted; 6-15 untouched; 16-20 updated to 10k+k; 21-25
    // inserted with source's n (flag column extends the schema: null
    // for untouched rows, carried for inserts)
    assert((1L to 5L).forall(k => !got.contains(k)))
    (6L to 15L).foreach(k => assert(got(k) === k * 10L))
    (16L to 20L).foreach(k => assert(got(k) === k * 10L + k))
    (21L to 25L).foreach(k => assert(got(k) === k))
    assert(got.size === 20)
    // additive evolution: the source-only column is readable
    val flags = VersionedKeyedTable.read(spark, dir)
      .select(col("k"), col("flag")).as[(Long, Option[Boolean])]
      .collect().toMap
    assert(flags(8L) === None && flags(22L) === Some(false))
  }

  test("merge refuses key-reassigning updates: a moved key would land " +
      "in a bucket outside the commit's manifest") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      Seq((1L, "a")).toDF("k", "v"), dir, "k", numBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.merge(spark, dir,
        Seq((1L, "b")).toDF("k", "v"), "k",
        whenMatchedUpdate = Map("k" -> (col("t.k") + 1000L)))
    }
    assert(e.getMessage.contains("may not reassign the key"))
  }

  test("lineage: an out-of-lineage complete version (a skipped claim " +
      "that finished late) is excluded from CDF spans by the base-" +
      "pointer chain — its delta can never double-apply") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "n"), dir, "k", numBuckets = 1)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((1L, 11L)).toDF("k", "n"), "k") // v2, base=1
    // a weak-scheme writer claims v3 and stalls: plant the torn claim
    val v3 = java.nio.file.Paths.get(f"$dir/_versions/v${3L}%012d")
    java.nio.file.Files.write(v3,
      "touched\t0\n0\tdata/ghost.parquet\n".getBytes("UTF-8"))
    // a live writer skips it and commits v4 (base=2)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((2L, 22L)).toDF("k", "n"), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 4L)
    // the stalled writer now FINISHES v3 — complete, never in lineage,
    // and maliciously re-referencing v2's change file so a span that
    // wrongly included it would visibly double-apply v2's delta
    val v2changes = VersionedKeyedTable.snapshot(spark, dir, Some(2L))
      .changes.get
    val v2snap = VersionedKeyedTable.snapshot(spark, dir, Some(2L))
    val files = v2snap.files(0).map(f => s"0\t$f").mkString("\n")
    java.nio.file.Files.write(v3,
      (s"touched\t0\nmeta\tgraft.base\t2\n" +
        v2changes.map(c => s"changes\t$c\n").mkString +
        files + "\n#end\n").getBytes("UTF-8"))
    assert(VersionedKeyedTable.completeVersions(spark, dir)
      .contains(3L), "the late commit is complete in the log")
    // the net CDF 1->4 follows the chain 4(base 2)->2(base 1): exactly
    // the two real deltas, v3's injected copy excluded
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 4L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cdf === Map(
      1L -> (("update", Some(11L), Some(10L))),
      2L -> (("update", Some(22L), Some(20L)))))
  }

  test("merge: empty update map keeps matched rows verbatim; " +
      "insertNotMatched=false makes it filter-only") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.merge(spark, dir,
      Seq((3L, "zap"), (99L, "ghost")).toDF("k", "v"), "k",
      insertNotMatched = false)
    val got = contents(dir)
    assert(got(3L) === "v3", "no update clause: matched row untouched")
    assert(!got.contains(99L), "insertNotMatched=false drops new keys")
    assert(got.size === 10)
  }

  test("changesBetween: net diff classifies insert/update/delete with " +
      "prev values, collapses upsert-then-delete, and skips unchanged " +
      "rows in touched buckets") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 40L).map(i => (i, i * 1L)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    // v2: update 1-10 (+100), insert 41-45
    VersionedKeyedTable.upsert(spark, dir,
      ((1L to 10L).map(i => (i, i + 100L)) ++
        (41L to 45L).map(i => (i, i))).toDF("k", "n"), "k")
    // v3: delete 5-8 and 41 (41 = inserted-then-deleted: must vanish
    // from the net diff), delete 20 (present since v1)
    VersionedKeyedTable.delete(spark, dir,
      (Seq(5L, 6L, 7L, 8L, 41L, 20L)).toDF("k"), "k")
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 3L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val inserts = cdf.collect { case (k, ("insert", _, _)) => k }.toSet
    val updates = cdf.collect { case (k, ("update", _, _)) => k }.toSet
    val deletes = cdf.collect { case (k, ("delete", _, _)) => k }.toSet
    assert(inserts === (42L to 45L).toSet)
    assert(updates === Set(1L, 2L, 3L, 4L, 9L, 10L))
    assert(deletes === Set(5L, 6L, 7L, 8L, 20L))
    assert(cdf(3L) === (("update", Some(103L), Some(3L))), "new + prev")
    assert(cdf(42L) === (("insert", Some(42L), None)))
    assert(cdf(20L) === (("delete", None, Some(20L))))
    // unchanged rows in touched buckets (e.g. 11-19 share buckets with
    // the mutated keys) never appear
    assert(cdf.size === inserts.size + updates.size + deletes.size)
    // adjacent span = the per-commit event log: v2->v3 shows only the
    // deletes, including 41 (it existed AT v2)
    val log23 = VersionedKeyedTable.changesBetween(spark, dir, "k", 2L, 3L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
    assert(log23.map(_._1).toSet === Set(5L, 6L, 7L, 8L, 41L, 20L))
    assert(log23.forall(_._2 === "delete"))
    // v4 REVERTS key 9 to its v1 value: the net span 1->4 must drop it
    // (mutated-back-to-start is not a change), while 2->4 shows it as
    // the update it is from v2's viewpoint
    VersionedKeyedTable.upsert(spark, dir, Seq((9L, 9L)).toDF("k", "n"), "k")
    val net14 = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 4L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(!net14.contains(9L), "revert-to-start collapses out")
    assert(net14(10L) === "update", "non-reverted update survives")
    val net24 = VersionedKeyedTable.changesBetween(spark, dir, "k", 2L, 4L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(net24(9L) === (("update", Some(9L), Some(109L))))
  }

  test("compact: fragmented buckets collapse to one file each, content " +
      "and zone maps intact, CDF-invisible, old versions readable") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 400L).map(i => (i, i * 2L)).toDF("k", "n")
        .repartition(8), dir, "k", numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      (1L to 50L).map(i => (i, i * 100L)).toDF("k", "n").repartition(8),
      "k")
    val before = VersionedKeyedTable.snapshot(spark, dir)
    assert(before.files.values.exists(_.size > 1), "fragmented fixture")
    val expect = VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap
    VersionedKeyedTable.compact(spark, dir, "k")
    val after = VersionedKeyedTable.snapshot(spark, dir)
    assert(after.version === before.version + 1)
    assert(after.files.values.forall(_.size <= 1),
      s"every bucket compacts to one file, got " +
        s"${after.files.view.mapValues(_.size).toMap}")
    assert(VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap === expect, "content unchanged")
    // compaction is invisible to CDF consumers: the span crossing it
    // nets to exactly the real mutation, and the compaction commit
    // alone nets to nothing
    assert(VersionedKeyedTable.changesBetween(spark, dir, "k",
      before.version, after.version).count() === 0L)
    assert(VersionedKeyedTable.changesBetween(spark, dir, "k",
      1L, after.version).count() === 50L)
    // fresh zone maps cover the compacted files
    val (kept, total) = VersionedKeyedTable.rangeFiles(spark, dir, "k", 1L, 400L)
    assert(kept.size === total && after.files.values.flatten
      .forall(f => after.stats.contains(f)))
    // time travel to the pre-compaction version still reads
    assert(VersionedKeyedTable.read(spark, dir, Some(before.version))
      .as[(Long, Long)].collect().toMap === expect)
    // idempotent: nothing left to compact, no new version
    VersionedKeyedTable.compact(spark, dir, "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === after.version)
  }

  test("Catalyst-integrated zone maps: WHERE clauses on the key prune " +
      "files dynamically before split planning; unknown predicates " +
      "never prune and never break") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      spark.range(1, 2001).select(col("id").as("k"),
          (col("id") * 3L).as("n"))
        .repartitionByRange(8, col("k")), dir, "k", numBuckets = 4)
    val (df, idx) = VersionedKeyedTable.tableIndexed(spark, dir, "k")
    val got = df.where(col("k") >= 100L && col("k") <= 120L)
      .as[(Long, Long)].collect().toMap
    assert(got === (100L to 120L).map(i => i -> i * 3L).toMap)
    val (kept1, total) = idx.lastListed
    assert(kept1 < total, s"range WHERE must prune ($kept1/$total)")
    // equality and IN shapes prune too
    assert(df.where(col("k") === 1500L).as[(Long, Long)].collect()
      .toMap === Map(1500L -> 4500L))
    assert(idx.lastListed._1 < total)
    assert(df.where(col("k").isin(5L, 6L, 7L)).count() === 3L)
    assert(idx.lastListed._1 < total)
    // a non-key predicate contributes no bound: all files read,
    // result exact
    assert(df.where(col("n") === 300L).count() === 1L)
    assert(idx.lastListed._1 === total)
    // the pruned plan composes with downstream operators
    assert(df.where(col("k") between (1L, 50L))
      .agg(sum(col("n"))).as[Long].head() === (1L to 50L).map(_ * 3L).sum)
  }

  test("captureChanges=false: the commit skips the capture pass and " +
      "CDF spans crossing it fall back to the snapshot diff with " +
      "identical results") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 20L).map(i => (i, i)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, 33L), (21L, 21L)).toDF("k", "n"), "k",
      captureChanges = false)
    VersionedKeyedTable.delete(spark, dir, Seq(5L).toDF("k"), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir,
      Some(2L)).changes === None, "opt-out commit records no capture")
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 3L)
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cdf === Map(
      3L -> (("update", Some(33L), Some(3L))),
      21L -> (("insert", Some(21L), None)),
      5L -> (("delete", None, Some(5L)))))
  }

  test("plan shape: the CDF fast path scans captured change files " +
      "only (never bucket data), and range reads scan only zone-map " +
      "surviving files") {
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.inputFiles.toSeq
    val dir = freshDir()
    VersionedKeyedTable.create(
      spark.range(1, 1001).select(col("id").as("k"), (col("id") * 2L).as("n"))
        .repartitionByRange(8, col("k")), dir, "k", numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((5L, 50L), (900L, 9000L)).toDF("k", "n"), "k")
    val cdfFiles = scannedFiles(
      VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 2L))
    assert(cdfFiles.nonEmpty && cdfFiles.forall(_.contains("/ch-")),
      s"CDF must read change files only, scanned: ${cdfFiles.take(3)}")
    assert(cdfFiles.forall(f => !f.contains("__bucket=")),
      "CDF fast path must never touch bucket data files")
    // range read: scanned set == the zone-map-surviving set, a strict
    // subset of the table's files
    val (kept, total) = VersionedKeyedTable.rangeFiles(spark, dir, "k", 10L, 40L)
    assert(kept.size < total)
    val rangeFilesScanned = scannedFiles(
      VersionedKeyedTable.readRange(spark, dir, "k", 10L, 40L))
    assert(rangeFilesScanned.size === kept.size,
      "the range plan must scan exactly the zone-map survivors")
  }

  test("TIMESTAMP AS OF resolves the commit instant: reads pin to the " +
      "version current at the given wall clock, pre-creation asks fail " +
      "loudly") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 10L).map(i => (i, "v1")).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    val t1 = java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths
      .get(s"$dir/_versions/v000000000001")).toMillis
    Thread.sleep(1100)
    VersionedKeyedTable.upsert(spark, dir,
      (1L to 10L).map(i => (i, "v2")).toDF("k", "v"), "k")
    assert(VersionedKeyedTable.versionAsOf(spark, dir, t1) === 1L)
    assert(VersionedKeyedTable.readAsOf(spark, dir, t1)
      .as[(Long, String)].collect().forall(_._2 === "v1"))
    assert(VersionedKeyedTable.versionAsOf(spark, dir,
      System.currentTimeMillis()) === 2L)
    val e = intercept[IllegalStateException] {
      VersionedKeyedTable.versionAsOf(spark, dir, t1 - 3600000L)
    }
    assert(e.getMessage.contains("no complete version"))
  }

  test("CDF across additive schema evolution: spans mixing pre- and " +
      "post-evolution change files read under the TO schema, late " +
      "columns null where they did not exist") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 10L).map(i => (i, i)).toDF("k", "n"), dir, "k",
      numBuckets = 2)
    // v2: pre-evolution update (change file has columns k, n, n_prev)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((1L, 11L)).toDF("k", "n"), "k")
    // v3: the batch adds a column (change file gains extra, extra_prev)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((2L, 22L, "x2"), (11L, 110L, "x11")).toDF("k", "n", "extra"),
      "k")
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 3L)
    assert(cdf.columns.toSeq ===
      Seq("k", "change_type", "n", "extra", "n_prev", "extra_prev"))
    val got = cdf
      .as[(Long, String, Option[Long], Option[String], Option[Long],
        Option[String])].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, "update", Some(11L), None, Some(1L), None)),
      "pre-evolution change rows read the late column as null")
    assert(got(2L) === ((2L, "update", Some(22L), Some("x2"), Some(2L),
      None)))
    assert(got(11L) === ((11L, "insert", Some(110L), Some("x11"), None,
      None)))
    assert(got.size === 3)
  }

  test("restore: rollback is a metadata-only commit; history stays " +
      "time-travelable and the CDF across the restore shows the " +
      "reverted rows") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "BAD3"), (31L, "BAD31")).toDF("k", "v"), "k")
    VersionedKeyedTable.delete(spark, dir, Seq(7L).toDF("k"), "k")
    val dataFilesBefore = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .count(_.getName.endsWith(".parquet"))
    }
    VersionedKeyedTable.restore(spark, dir, 1L)
    // state equals v1 exactly
    assert(contents(dir) === (1L to 30L).map(i => i -> s"v$i").toMap)
    // metadata-only: no new data files were written
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(s"$dir/data"))
      .count(_.getName.endsWith(".parquet")) === dataFilesBefore)
    // history preserved: the bad versions still read
    assert(contents(dir, Some(3L)).get(3L) === Some("BAD3"))
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 4L)
    // CDF across the restore = exactly the reverted rows
    val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 3L, 4L)
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cdf === Map(
      3L -> (("update", Some("v3"), Some("BAD3"))),
      31L -> (("delete", None, Some("BAD31"))),
      7L -> (("insert", Some("v7"), None))))
    // restoring to the current state is a no-op commit
    VersionedKeyedTable.restore(spark, dir, 4L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 4L)
  }

  test("zone maps: range reads prune files by manifest min/max and " +
      "point lookups touch only the keys' buckets") {
    val dir = freshDir()
    // key-sorted repartitionByRange layout gives each file a narrow
    // key interval — the layout a zone map rewards
    VersionedKeyedTable.create(
      spark.range(1, 2001).select(col("id").as("k"),
          (col("id") * 3L).as("n"))
        .repartitionByRange(8, col("k")),
      dir, "k", numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((5L, 555L), (1500L, 4500L)).toDF("k", "n"), "k")
    val (kept, total) =
      VersionedKeyedTable.rangeFiles(spark, dir, "k", 100L, 120L)
    assert(kept.size < total,
      s"zone map must prune files (kept ${kept.size} of $total)")
    val got = VersionedKeyedTable.readRange(spark, dir, "k", 100L, 120L)
      .as[(Long, Long)].collect().toMap
    assert(got === (100L to 120L).map(i => i -> i * 3L).toMap)
    // the updated row reads from the new file through the range path
    assert(VersionedKeyedTable.readRange(spark, dir, "k", 5L, 5L)
      .as[(Long, Long)].collect().toMap === Map(5L -> 555L))
    // point lookups: only the keys' buckets are candidates
    val pts = VersionedKeyedTable.readKeys(spark, dir, "k",
      Seq(5L, 700L, 1500L))
      .as[(Long, Long)].collect().toMap
    assert(pts === Map(5L -> 555L, 700L -> 2100L, 1500L -> 4500L))
  }

  // ---- weak-scheme (non-file) fallback paths ----------------------
  // Local disk exposed under scheme weak:// — the hard-link CAS is
  // bypassed, so commits take the rename-claim fallback and CAS losses
  // take the bounded torn-claim poll.

  private def weakDir(): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.weak.impl", classOf[WeakFileSystem].getName)
    val local = Files.createTempDirectory("graft-weak").toString + "/t"
    (s"weak://$local", local)
  }

  /** Strip the trailing `#end` off a committed manifest, turning it
    * back into what a mid-claim (or dead) weak-scheme writer exposes;
    * returns the full content for later restoration. */
  private def tearManifest(localDir: String, v: Long): Array[Byte] = {
    val p = java.nio.file.Paths.get(f"$localDir/_versions/v$v%012d")
    val full = java.nio.file.Files.readAllBytes(p)
    java.nio.file.Files.write(p, full.dropRight("#end\n".length))
    full
  }

  test("weak scheme: exclusive-create-claimed commits round-trip — " +
      "upsert, overlap recompute, and read all work off the fallback " +
      "CAS") {
    val (dir, _) = weakDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "NEW3"), (31L, "NEW31")).toDF("k", "v"), "k")
    val got = contents(dir)
    assert(got(3L) === "NEW3" && got(31L) === "NEW31" && got.size === 31)
    // the deterministic overlap race (seam-injected) still serializes
    var bRan = false
    val shared = (1L to 30L).filter(k => bucketOf(k) == 2).take(4)
    VersionedKeyedTable.mutate(spark, dir,
      shared.map(k => (k, "A")).toDF("k", "v"), "k", isDelete = false,
      onBeforeCommit = () => if (!bRan) {
        bRan = true
        VersionedKeyedTable.upsert(spark, dir,
          shared.map(k => (k, "B")).toDF("k", "v"), "k")
      })
    shared.foreach(k => assert(contents(dir)(k) === "A"))
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 4L)
  }

  test("weak scheme: a claim that COMPLETES during the bounded poll is " +
      "a real commit — the loser recomputes over it instead of " +
      "skipping it as torn and dropping its rows") {
    val (dir, local) = weakDir()
    // one bucket: every commit overlaps, so a skipped-as-torn claim
    // that later completes would be a silently lost update
    VersionedKeyedTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k", numBuckets = 1)
    // racer's commit lands normally at v2, then is torn back to the
    // mid-claim shape (name exists, no '#end' yet)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((2L, "b2")).toDF("k", "v"), "k")
    val full = tearManifest(local, 2L)
    val (polls0, ms0) =
      (VersionedKeyedTable.tornClaimPolls, VersionedKeyedTable.tornClaimPollMs)
    VersionedKeyedTable.tornClaimPolls = 50
    VersionedKeyedTable.tornClaimPollMs = 100L
    try {
      // the racer "finishes its write" while the loser is polling
      val restorer = new Thread(() => {
        Thread.sleep(500L)
        java.nio.file.Files.write(java.nio.file.Paths.get(
          f"$local/_versions/v${2L}%012d"), full)
      })
      restorer.start()
      VersionedKeyedTable.upsert(spark, dir,
        Seq((1L, "a3")).toDF("k", "v"), "k")
      restorer.join()
      // both updates visible: the loser waited, saw v2 complete, and
      // recomputed on top of it (overlap) rather than committing a
      // manifest based on v1 that erases b2
      assert(contents(dir) === Map(1L -> "a3", 2L -> "b2"))
      assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
    } finally {
      VersionedKeyedTable.tornClaimPolls = polls0
      VersionedKeyedTable.tornClaimPollMs = ms0
    }
  }

  test("weak scheme: transact re-derives over a claim that completes " +
      "mid-poll — the increment lands on the racer's state") {
    val (dir, local) = weakDir()
    VersionedKeyedTable.create(
      Seq((1L, 0L)).toDF("k", "n"), dir, "k", numBuckets = 1)
    VersionedKeyedTable.transact(spark, dir, "k")(snap =>
      snap.select(col("k"), (col("n") + 1L).as("n"))) // v2: n=1
    val full = tearManifest(local, 2L)
    val (polls0, ms0) =
      (VersionedKeyedTable.tornClaimPolls, VersionedKeyedTable.tornClaimPollMs)
    VersionedKeyedTable.tornClaimPolls = 50
    VersionedKeyedTable.tornClaimPollMs = 100L
    try {
      val restorer = new Thread(() => {
        Thread.sleep(500L)
        java.nio.file.Files.write(java.nio.file.Paths.get(
          f"$local/_versions/v${2L}%012d"), full)
      })
      restorer.start()
      VersionedKeyedTable.transact(spark, dir, "k")(snap =>
        snap.select(col("k"), (col("n") + 1L).as("n")))
      restorer.join()
      // serializable: the second increment derived from n=1, not from
      // the stale v1 a torn-skip would have re-exposed
      assert(VersionedKeyedTable.read(spark, dir)
        .as[(Long, Long)].collect().toMap.apply(1L) === 2L)
      assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
    } finally {
      VersionedKeyedTable.tornClaimPolls = polls0
      VersionedKeyedTable.tornClaimPollMs = ms0
    }
  }

  test("weak scheme: a claim that stays incomplete past the poll bound " +
      "is adjudicated torn — bounded wait, then the commit skips past") {
    val (dir, _) = weakDir()
    VersionedKeyedTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k", numBuckets = 1)
    val (polls0, ms0) =
      (VersionedKeyedTable.tornClaimPolls, VersionedKeyedTable.tornClaimPollMs)
    VersionedKeyedTable.tornClaimPolls = 2
    VersionedKeyedTable.tornClaimPollMs = 50L
    try {
      // a dead writer's claim at v2 that never completes
      val (_, local) = (dir, dir.stripPrefix("weak://"))
      java.nio.file.Files.write(java.nio.file.Paths.get(
        f"$local/_versions/v${2L}%012d"),
        "touched\t0\n0\tdata/ghost.parquet\n".getBytes("UTF-8"))
      val t0 = System.nanoTime()
      VersionedKeyedTable.upsert(spark, dir,
        Seq((1L, "a2")).toDF("k", "v"), "k")
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(waitedMs >= 100L, s"must poll before skipping (${waitedMs}ms)")
      assert(contents(dir) === Map(1L -> "a2", 2L -> "b"))
      assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L,
        "the commit lands past the dead claim")
    } finally {
      VersionedKeyedTable.tornClaimPolls = polls0
      VersionedKeyedTable.tornClaimPollMs = ms0
    }
  }

  // ---- rename-claim backend (HDFS semantics) ----------------------

  private def hdfsLikeDir(): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    VersionedKeyedTable.renameClaimSchemes += "hdfslike"
    val local = Files.createTempDirectory("graft-hdfslike").toString + "/t"
    (s"hdfslike://$local", local)
  }

  test("rename claim backend: commits round-trip, and a crashed " +
      "mid-claim writer leaves NO torn claim — only an unreferenced " +
      "temp file, so the next commit neither polls nor skips") {
    val (dir, local) = hdfsLikeDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "NEW3"), (31L, "NEW31")).toDF("k", "v"), "k")
    val got = contents(dir)
    assert(got(3L) === "NEW3" && got(31L) === "NEW31" && got.size === 31)
    // a writer that died mid-claim: full content in a temp file, the
    // rename never happened — the version NAMESPACE is untouched
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$local/_versions/.tmp-dead-writer"),
      "touched\t0\n0\tdata/ghost.parquet\n#end\n".getBytes("UTF-8"))
    val (polls0, ms0) =
      (VersionedKeyedTable.tornClaimPolls, VersionedKeyedTable.tornClaimPollMs)
    // make any accidental poll VERY visible in wall time
    VersionedKeyedTable.tornClaimPolls = 50
    VersionedKeyedTable.tornClaimPollMs = 200L
    try {
      val t0 = System.nanoTime()
      VersionedKeyedTable.upsert(spark, dir,
        Seq((1L, "a3")).toDF("k", "v"), "k")
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(waitedMs < 5000L,
        s"an atomic-with-content backend must never poll (${waitedMs}ms)")
      assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L,
        "the commit lands at the NEXT number — no claim was torn")
      assert(contents(dir)(1L) === "a3")
    } finally {
      VersionedKeyedTable.tornClaimPolls = polls0
      VersionedKeyedTable.tornClaimPollMs = ms0
    }
  }

  test("rename claim backend: a lost rename CAS always means a " +
      "COMPLETE racing commit — the loser recomputes over it " +
      "immediately, no poll, no lost update") {
    val (dir, _) = hdfsLikeDir()
    VersionedKeyedTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k", numBuckets = 1)
    // seam-injected race on the SAME bucket: B commits between A's
    // data write and A's claim — A's rename loses to a COMPLETE v2
    // and must recompute (puts re-apply serializably)
    var bRan = false
    VersionedKeyedTable.mutate(spark, dir,
      Seq((1L, "A")).toDF("k", "v"), "k", isDelete = false,
      onBeforeCommit = () => if (!bRan) {
        bRan = true
        VersionedKeyedTable.upsert(spark, dir,
          Seq((2L, "B")).toDF("k", "v"), "k")
      })
    assert(contents(dir) === Map(1L -> "A", 2L -> "B"))
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
  }

  // ---- conditional-put claim backend (object-store semantics) -----

  private def condPutDir(): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.condput.impl", classOf[CondPutFileSystem].getName)
    VersionedKeyedTable.condPutClaimSchemes += "condput"
    val local = Files.createTempDirectory("graft-condput").toString + "/t"
    (s"condput://$local", local)
  }

  test("conditional-put claim backend: commits round-trip, and a " +
      "crashed mid-claim writer leaves NOTHING visible — the name " +
      "only exists once the conditional PUT completes, so the next " +
      "commit neither polls nor skips") {
    val (dir, local) = condPutDir()
    VersionedKeyedTable.create(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.upsert(spark, dir,
      Seq((3L, "NEW3"), (31L, "NEW31")).toDF("k", "v"), "k")
    val got = contents(dir)
    assert(got(3L) === "NEW3" && got(31L) === "NEW31" && got.size === 31)
    // a writer that died mid-claim: create() called, bytes written,
    // close() NEVER ran — on a conditional-write store the object was
    // never published, so the version namespace is untouched
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = fs.create(new org.apache.hadoop.fs.Path(
      f"$dir/_versions/v${3L}%012d"), false)
    dead.write("touched\t0\n0\tdata/ghost.parquet\n#end\n"
      .getBytes("UTF-8")) // never closed
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      f"$local/_versions/v${3L}%012d")),
      "an unpublished conditional PUT must be invisible")
    val (polls0, ms0) =
      (VersionedKeyedTable.tornClaimPolls, VersionedKeyedTable.tornClaimPollMs)
    // make any accidental poll VERY visible in wall time
    VersionedKeyedTable.tornClaimPolls = 50
    VersionedKeyedTable.tornClaimPollMs = 200L
    try {
      val t0 = System.nanoTime()
      VersionedKeyedTable.upsert(spark, dir,
        Seq((1L, "a3")).toDF("k", "v"), "k")
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(waitedMs < 5000L,
        s"an atomic-with-content backend must never poll (${waitedMs}ms)")
      assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L,
        "the commit claims the number the dead writer never published")
      assert(contents(dir)(1L) === "a3")
    } finally {
      VersionedKeyedTable.tornClaimPolls = polls0
      VersionedKeyedTable.tornClaimPollMs = ms0
    }
  }

  test("conditional-put claim backend: a lost conditional PUT always " +
      "means a COMPLETE racing commit — the loser recomputes over it " +
      "immediately, no poll, no lost update") {
    val (dir, _) = condPutDir()
    VersionedKeyedTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k", numBuckets = 1)
    var bRan = false
    VersionedKeyedTable.mutate(spark, dir,
      Seq((1L, "A")).toDF("k", "v"), "k", isDelete = false,
      onBeforeCommit = () => if (!bRan) {
        bRan = true
        VersionedKeyedTable.upsert(spark, dir,
          Seq((2L, "B")).toDF("k", "v"), "k")
      })
    assert(contents(dir) === Map(1L -> "A", 2L -> "B"))
    assert(VersionedKeyedTable.snapshot(spark, dir).version === 3L)
  }

  test("snapshot-isolated reader: a DataFrame resolved before a commit " +
      "keeps reading its version's immutable files") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 40L).map(i => (i, "old")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val pinned = VersionedKeyedTable.read(spark, dir) // resolves v1 files
    VersionedKeyedTable.upsert(spark, dir,
      (1L to 40L).map(i => (i, "new")).toDF("k", "v"), "k")
    // the pinned plan still reads v1's files — unchanged results
    assert(pinned.as[(Long, String)].collect().toMap.values.toSet ===
      Set("old"))
    assert(contents(dir).values.toSet === Set("new"))
  }

  test("crash pre-commit leaves only unreferenced files; vacuum removes " +
      "them and old versions; vacuumed version reads fail loudly") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 60L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val before = contents(dir)
    // writer dies after writing data files, before its CAS
    intercept[RuntimeException] {
      VersionedKeyedTable.mutate(spark, dir,
        Seq((5L, "X")).toDF("k", "v"), "k", isDelete = false,
        onBeforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(contents(dir) === before, "no partially-applied state")
    VersionedKeyedTable.upsert(spark, dir,
      Seq((5L, "Y"), (6L, "Z")).toDF("k", "v"), "k")
    VersionedKeyedTable.upsert(spark, dir,
      Seq((7L, "W")).toDF("k", "v"), "k")
    val latest = contents(dir)
    // default grace window: freshly-written commit dirs (a possibly
    // in-flight writer's) are protected — nothing is deleted here
    def parquetCount(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .count(_.getName.endsWith(".parquet"))
    }
    val beforeGraced = parquetCount()
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 2)
    assert(parquetCount() === beforeGraced,
      "grace window must protect fresh (possibly in-flight) files")
    // zero grace: the full reclamation path
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 2, graceMs = 0L)
    assert(contents(dir) === latest, "latest survives vacuum")
    // version 1 is gone — pinned readers past retention fail loudly
    intercept[IllegalStateException] {
      VersionedKeyedTable.read(spark, dir, Some(1L)).collect()
    }
    // every remaining data file is referenced by a retained version
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val onDisk = walk(new java.io.File(s"$dir/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath.stripPrefix(
        new java.io.File(dir).getAbsolutePath + "/")).toSet
    val referenced = Seq(
        VersionedKeyedTable.snapshot(spark, dir),
        VersionedKeyedTable.snapshot(spark, dir,
          Some(VersionedKeyedTable.snapshot(spark, dir).version - 1)))
      .flatMap(s => s.files.values.flatten ++
        s.changes.getOrElse(Seq.empty)).toSet
    assert(onDisk === referenced,
      "vacuum must keep exactly the retained versions' files " +
        "(data AND captured-change files)")
  }

  test("clusterBy: secondary-column zone maps prune reads on a non-key " +
      "dimension, converge, and survive later upserts (inherited stats)") {
    val dir = freshDir()
    val rnd = new scala.util.Random(13)
    // c is decorrelated from k, so neither key order nor key zone maps
    // say anything about a c-range — only the named maps can prune
    val rows = rnd.shuffle((1L to 4000L).toVector)
      .map(k => (k, (k * 7919L) % 4000L, s"v$k"))
    VersionedKeyedTable.create(
      rows.toDF("k", "c", "v").repartition(8), dir, "k", numBuckets = 2)
    val (keptBefore, total) =
      VersionedKeyedTable.rangeFilesOn(spark, dir, "c", 100L, 300L)
    assert(keptBefore.size === total, "no named maps yet: nothing prunes")
    VersionedKeyedTable.clusterBy(spark, dir, "k", "c",
      targetRowsPerFile = 500L)
    val after = VersionedKeyedTable.snapshot(spark, dir)
    val (kept, total2) =
      VersionedKeyedTable.rangeFilesOn(spark, dir, "c", 100L, 300L)
    assert(kept.size < total2 / 2,
      s"named maps must prune the c-range (kept ${kept.size}/$total2)")
    // per-bucket c-intervals disjoint: the secondary sort survived
    after.files.foreach { case (_, fs0) =>
      val ivs = fs0.flatMap(f => after.extraStats.get(f).flatMap(_.get("c")))
        .map { case (a, b) => (a.toLong, b.toLong) }.sortBy(_._1)
      ivs.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2)
        case _ => ()
      }
    }
    val expect = rows.filter(r => r._2 >= 100L && r._2 <= 300L).toSet
    assert(VersionedKeyedTable.readRangeOn(spark, dir, "c", 100L, 300L)
      .as[(Long, Long, String)].collect().toSet === expect)
    // convergence: re-running is a no-op
    VersionedKeyedTable.clusterBy(spark, dir, "k", "c",
      targetRowsPerFile = 500L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version ===
      after.version)
    // inheritance: an ordinary upsert's new files carry c maps too,
    // and the read stays exact across the mixed layout
    VersionedKeyedTable.upsert(spark, dir,
      Seq((9001L, 150L, "NEW")).toDF("k", "c", "v"), "k")
    val snap3 = VersionedKeyedTable.snapshot(spark, dir)
    val newFiles = snap3.files.values.flatten.toSet --
      after.files.values.flatten.toSet
    assert(newFiles.nonEmpty &&
      newFiles.forall(f => snap3.extraStats.get(f).exists(_.contains("c"))),
      "mutations must inherit the secondary-stats column")
    assert(VersionedKeyedTable.readRangeOn(spark, dir, "c", 100L, 300L)
      .count() === expect.size + 1L)
  }

  test("clusterBy guards: string-typed dimensions never numeric-prune " +
      "(string envelopes would drop matching rows), duplicate-heavy " +
      "dimensions converge, and byCol == keyCol is refused") {
    // 1. STRING dimension holding digit strings: string order inverts
    // the numeric envelope (a file with {"9","10"} records mn="10",
    // mx="9") — numeric pruning would drop the row "9"; the type
    // guard keeps every file and the read stays exact
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 200L).map(i => (i, (i % 20).toString))
        .toDF("k", "s").repartition(8), dir, "k", numBuckets = 2)
    VersionedKeyedTable.clusterBy(spark, dir, "k", "s",
      targetRowsPerFile = 30L)
    val (kept, total) = VersionedKeyedTable.rangeFilesOn(
      spark, dir, "s", 9L, 9L)
    assert(kept.size === total,
      "non-integral dimensions must keep every file (never prune)")
    assert(VersionedKeyedTable.readRangeOn(spark, dir, "s", 9L, 9L)
      .count() === 10L, "all s=\"9\" rows survive (200/20 values)")
    // 2. duplicate-heavy LONG dimension: sorted files share boundary
    // values, which is the best a split can do — still converges
    val dir2 = freshDir()
    VersionedKeyedTable.create(
      (1L to 400L).map(i => (i, i % 4)).toDF("k", "n").repartition(8),
      dir2, "k", numBuckets = 2)
    VersionedKeyedTable.clusterBy(spark, dir2, "k", "n",
      targetRowsPerFile = 50L)
    val v = VersionedKeyedTable.snapshot(spark, dir2).version
    VersionedKeyedTable.clusterBy(spark, dir2, "k", "n",
      targetRowsPerFile = 50L)
    assert(VersionedKeyedTable.snapshot(spark, dir2).version === v,
      "touching intervals (shared boundary values) must converge")
    assert(VersionedKeyedTable.readRangeOn(spark, dir2, "n", 2L, 2L)
      .count() === 100L)
    // 3. clusterBy on the key column is a loud error, not a silent
    // never-converging rewrite
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.clusterBy(spark, dir2, "k", "k")
    }
    assert(e.getMessage.contains("cluster()"))
    // 4. CONVERGENCE on the digit-string dimension: its envelopes
    // parse as longs but are STRING-ordered — interval order must
    // follow the SCHEMA type, or every maintenance run would misjudge
    // disjointness and pay a full O(table) rewrite forever
    val v1 = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.clusterBy(spark, dir, "k", "s",
      targetRowsPerFile = 30L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v1,
      "a re-run on a string-clustered table must be a no-op commit")
  }

  test("typed zone maps: TIMESTAMP keys record epoch-micro images — " +
      "cluster converges, readRange prunes, and Catalyst WHERE " +
      "clauses with timestamp literals prune through table()") {
    val dir = freshDir()
    val t0 = 1700000000000000L // µs
    val rows = (1L to 600L).map { i =>
      (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(0, (t0 + i * 60000000L) * 1000L)),
        i)
    }.toDF("ts", "n")
    VersionedKeyedTable.create(rows.repartition(8), dir, "ts",
      numBuckets = 2)
    VersionedKeyedTable.cluster(spark, dir, "ts",
      targetRowsPerFile = 60L)
    val v = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.cluster(spark, dir, "ts",
      targetRowsPerFile = 60L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v,
      "epoch-image stats must let cluster() converge on a ts key")
    // explicit range read in the µs image
    val (lo, hi) = (t0 + 100L * 60000000L, t0 + 130L * 60000000L)
    val (kept, total) = VersionedKeyedTable.rangeFiles(
      spark, dir, "ts", lo, hi)
    assert(kept.size < total,
      s"ts zone maps must prune a clustered layout ($kept/$total)")
    assert(VersionedKeyedTable.readRange(spark, dir, "ts", lo, hi)
      .count() === 31L)
    // Catalyst-integrated: a WHERE on the raw ts column prunes files
    // at planning time (timestamp literals ARE Long micros)
    val (df, idx) = VersionedKeyedTable.tableIndexed(spark, dir, "ts")
    val n = df.where(col("ts") >=
          lit(java.time.Instant.ofEpochSecond(0, lo * 1000L)) &&
        col("ts") <= lit(java.time.Instant.ofEpochSecond(0, hi * 1000L)))
      .count()
    assert(n === 31L)
    val (k2, t2) = idx.lastListed
    assert(k2 < t2, s"Catalyst ts predicate must prune files ($k2/$t2)")
    // a mutation inherits the typed encoding: upsert then re-read
    VersionedKeyedTable.upsert(spark, dir,
      Seq((java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        0, (t0 + 105L * 60000000L) * 1000L)), 99999L)).toDF("ts", "n"),
      "ts")
    assert(VersionedKeyedTable.readRange(spark, dir, "ts", lo, hi)
      .where(col("n") === 99999L).count() === 1L)
  }

  test("typed zone maps: a DATE secondary column prunes via clusterBy " +
      "in the epoch-day image, including Catalyst date literals") {
    val dir = freshDir()
    val rows = (1L to 400L).map { i =>
      (i, java.sql.Date.valueOf(java.time.LocalDate
        .ofEpochDay(19000L + i % 40)))
    }.toDF("k", "d")
    VersionedKeyedTable.create(rows.repartition(8), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.clusterBy(spark, dir, "k", "d",
      targetRowsPerFile = 50L)
    val (kept, total) = VersionedKeyedTable.rangeFilesOn(
      spark, dir, "d", 19010L, 19012L)
    assert(kept.size < total,
      s"date zone maps must prune after clusterBy ($kept/$total)")
    assert(VersionedKeyedTable.readRangeOn(spark, dir, "d",
      19010L, 19012L).count() === 30L)
    val (df, idx) = VersionedKeyedTable.tableIndexed(spark, dir, "k")
    val n = df.where(col("d") ===
      lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19011L))))
      .count()
    assert(n === 10L)
    val (k2, t2) = idx.lastListed
    assert(k2 < t2, s"Catalyst date predicate must prune ($k2/$t2)")
  }

  test("Catalyst string-order pruning: a clustered STRING secondary " +
      "column prunes WHERE clauses with string literals, exactly") {
    val dir = freshDir()
    val rows = (1L to 400L).map(i => (i, f"g${i % 40}%02d"))
      .toDF("k", "s")
    VersionedKeyedTable.create(rows.repartition(8), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.clusterBy(spark, dir, "k", "s",
      targetRowsPerFile = 50L)
    val (df, idx) = VersionedKeyedTable.tableIndexed(spark, dir, "k")
    val n = df.where(col("s") >= "g10" && col("s") <= "g12").count()
    assert(n === 30L)
    val (k2, t2) = idx.lastListed
    assert(k2 < t2,
      s"string envelopes must prune string predicates ($k2/$t2)")
    // digit-string inversion stays exact: zero-padded here, but probe
    // an equality that string order places correctly regardless
    assert(df.where(col("s") === "g05").count() === 10L)
  }

  test("compliance purge: delete(captureChanges=false) + vacuum " +
      "leaves NO byte-level trace of the keys anywhere under the table") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 60L).map(i => (i, s"secret$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    // v2 captures changes as usual — its ch- files hold row VALUES and
    // must also be reclaimed once the version drops out of retention
    VersionedKeyedTable.upsert(spark, dir,
      Seq((7L, "secret7b"), (13L, "secret13b")).toDF("k", "v"), "k")
    // the purge delete itself must NOT capture: a captured diff would
    // persist the doomed rows' prev values in the retained version's
    // own change files — the CDF/erasure trade a deployment must pick
    VersionedKeyedTable.delete(spark, dir,
      Seq(7L, 13L).toDF("k"), "k", captureChanges = false)
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val got = contents(dir)
    assert(!got.contains(7L) && !got.contains(13L) && got.size === 58)
    // byte-level: every parquet file still on disk is readable data
    // (no ch- change files survive) and none carries the purged keys
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(s"$dir/data"))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    assert(!files.exists(_.getAbsolutePath.contains("/ch-")),
      "no change file may outlive the purge")
    val onDisk = spark.read
      .parquet(files.map(_.getAbsolutePath): _*)
      .as[(Long, String)].collect()
    assert(!onDisk.exists(r => r._1 == 7L || r._1 == 13L),
      "purged keys must not exist in ANY surviving file")
    assert(!onDisk.exists(r => r._2.contains("secret7") ||
      r._2.contains("secret13")), "purged values gone byte-for-byte")
  }

  test("shallow clone: zero-copy branch diverges independently and " +
      "survives a vacuum of the source; history() reads the log") {
    val src = freshDir()
    val dst = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), src, "k",
      numBuckets = 4)
    VersionedKeyedTable.upsert(spark, src,
      Seq((7L, "UP7"), (101L, "NEW101")).toDF("k", "v"), "k")
    VersionedKeyedTable.cloneAt(spark, src, dst)
    val atClone = contents(src)
    assert(contents(dst) === atClone, "clone equals the source version")
    // divergence: each table mutates privately
    VersionedKeyedTable.delete(spark, dst,
      (1L to 100L).filter(_ % 4 == 1).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, src,
      Seq((9L, "SRC9")).toDF("k", "v"), "k")
    val expectDst = atClone.filterNot(e => e._1 <= 100 && e._1 % 4 == 1)
    assert(contents(dst) === expectDst)
    assert(contents(src) === atClone + (9L -> "SRC9"))
    // vacuum the SOURCE to one version: files only the clone still
    // names survive as its own directory entries (hard links) — the
    // clone's full history stays readable, including ITS v1
    VersionedKeyedTable.vacuum(spark, src, keepVersions = 1, graceMs = 0L)
    assert(contents(dst) === expectDst,
      "source vacuum must not reclaim blocks the clone references")
    assert(contents(dst, Some(1L)) === atClone,
      "the clone's own time travel survives the source vacuum")
    // history: complete versions ascending with base-pointer lineage
    val h = VersionedKeyedTable.history(spark, src)
      .orderBy(col("version"))
      .select(col("version"), col("base_version"), col("meta_keys"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(h.map(_._1).toSeq === h.map(_._1).sorted.toSeq)
    assert(h.drop(1).forall(r => r._2 >= 1L),
      "every post-create commit stamps its base version")
    val hc = VersionedKeyedTable.history(spark, dst).collect()
    assert(hc.exists(_.getAs[String]("meta_keys")
      .contains("graft.clonedFrom")), "clone provenance in commit meta")
    // cloning INTO a live table would overwrite its meta and append a
    // manifest referencing another table's files — refused loudly
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.cloneAt(spark, src, dst)
    }
    assert(e.getMessage.contains("already holds a table"))
    assert(contents(dst) === expectDst,
      "a refused clone must leave the destination untouched")
  }

  test("bloom file skipping: point lookups prune hash-scattered files " +
      "zone maps cannot, absent keys prune to nothing, and results " +
      "stay exact") {
    val dir = freshDir()
    // shuffled keys: every file spans ~the full key range, so the
    // zone-map tier keeps everything and only the bloom can prune
    val rnd = new scala.util.Random(7)
    VersionedKeyedTable.create(
      rnd.shuffle((1L to 4000L).toVector).map(i => (i, s"v$i"))
        .toDF("k", "v").repartition(8), dir, "k", numBuckets = 2)
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.files.values.map(_.size).sum >= 8,
      "fixture needs multiple files per bucket")
    val probes = Seq(3L, 977L, 2044L)
    val (kept, total) = VersionedKeyedTable.keyFiles(
      spark, dir, "k", probes)
    assert(total >= 8)
    assert(kept.size < total,
      s"blooms must prune full-range files (kept ${kept.size}/$total)")
    assert(VersionedKeyedTable.readKeys(spark, dir, "k", probes)
      .as[(Long, String)].collect().toMap ===
      probes.map(k => k -> s"v$k").toMap)
    // absent keys: every file's bloom rejects (up to fp noise), and
    // the read is exactly empty regardless
    val absent = Seq(999999L, 888888L)
    val (keptAbsent, _) = VersionedKeyedTable.keyFiles(
      spark, dir, "k", absent)
    assert(keptAbsent.size <= 2,
      s"absent keys should bloom-prune ~all files (${keptAbsent.size})")
    assert(VersionedKeyedTable.readKeys(spark, dir, "k", absent).isEmpty)
  }

  test("cluster: key-sorted bounded files make zone maps selective on " +
      "a hash-scattered table, content unchanged, CDF-invisible") {
    val dir = freshDir()
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((1L to 4000L).toVector).map(i => (i, s"v$i"))
    VersionedKeyedTable.create(
      rows.toDF("k", "v").repartition(8), dir, "k", numBuckets = 2)
    val (keptBefore, totalBefore) =
      VersionedKeyedTable.rangeFiles(spark, dir, "k", 100L, 200L)
    assert(totalBefore >= 8)
    assert(keptBefore.size > totalBefore / 2,
      "hash-scattered files should span ~the whole key range")
    val before = VersionedKeyedTable.snapshot(spark, dir)
    VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 500L)
    val after = VersionedKeyedTable.snapshot(spark, dir)
    val (keptAfter, totalAfter) =
      VersionedKeyedTable.rangeFiles(spark, dir, "k", 100L, 200L)
    assert(keptAfter.size < keptBefore.size &&
      keptAfter.size <= totalAfter / 2,
      s"clustered zone maps must prune (kept ${keptAfter.size}/$totalAfter)")
    // per-file key intervals are DISJOINT within a bucket (the sorted
    // run really survived the write) — overlapping intervals would
    // mean the writer re-shuffled rows across the sort
    after.files.foreach { case (_, fs0) =>
      val ivs = fs0.flatMap(after.stats.get)
        .map { case (a, b) => (a.toLong, b.toLong) }.sortBy(_._1)
      ivs.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
          "clustered files within a bucket must cover disjoint key runs")
        case _ => ()
      }
    }
    assert(VersionedKeyedTable.changesBetween(spark, dir, "k",
      before.version, after.version).isEmpty, "clustering is CDF-invisible")
    assert(contents(dir) === rows.toMap, "content unchanged")
    assert(VersionedKeyedTable.readRange(spark, dir, "k", 100L, 200L)
      .count() === 101L)
    // CONVERGENCE: a second cluster() on the already-clustered table
    // is a no-op — no rewrite, no new version (the periodic-
    // maintenance usage must not re-pay O(table) every run)
    VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 500L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version ===
      after.version, "re-clustering a clustered table must be a no-op")
    // but a mutation that breaks the layout re-triggers it. The batch
    // must ACTUALLY break it: a single out-of-range key can land in
    // its own file with a disjoint one-point interval, leaving the
    // bucket legitimately clustered (a correct no-op — the broadcast
    // anti-join preserves the survivors' sorted file runs). Spread the
    // updates across the key range so each touched bucket's rewritten
    // batch rows span many survivor intervals.
    val updates = (1L to 4000L by 37).map(k => (k, "x"))
    VersionedKeyedTable.upsert(spark, dir, updates.toDF("k", "v"), "k")
    VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 500L)
    assert(VersionedKeyedTable.snapshot(spark, dir).version >
      after.version + 1, "a post-mutation cluster must rewrite again")
    assert(contents(dir) === rows.toMap ++ updates.toMap)
  }

  test("bloom sidecars: STRING keys bloom xxhash64(key) — point " +
      "lookups prune scattered files, absent keys prune to nothing — " +
      "and vacuum reclaims a sidecar with its commit dir") {
    val sdir = freshDir()
    // many small files per bucket (repartition) so probes have
    // something to prune; string zone envelopes barely help on a
    // hash-scattered layout — the bloom is what prunes
    VersionedKeyedTable.create(
      (1L to 300L).map(i => (f"id-${i * 7919 % 1000}%03d", i))
        .toDF("k", "v").repartition(12), sdir, "k",
      numBuckets = 2)
    def sidecars(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$d/data")).filter(_.getName == "_blooms.tsv")
    }
    assert(sidecars(sdir).nonEmpty, "string keys carry a bloom sidecar")
    val probe = Seq(f"id-${3L * 7919 % 1000}%03d")
    val (kept, cand) = VersionedKeyedTable.keyFilesStr(
      spark, sdir, "k", probe)
    assert(kept.size < cand,
      s"string-key blooms must prune scattered files ($kept/$cand)")
    val got = VersionedKeyedTable.readKeysStr(spark, sdir, "k", probe)
      .as[(String, Long)].collect()
    assert(got.nonEmpty && got.forall(_._1 == probe.head),
      "pruned lookup returns exactly the probed key's rows")
    // absent key: zone + bloom pruning leaves (almost) nothing; the
    // result is exactly empty either way
    assert(VersionedKeyedTable.readKeysStr(spark, sdir, "k",
      Seq("zz-absent")).count() === 0L)
    // probing a long-keyed path against a string key fails loudly
    val te = intercept[IllegalArgumentException] {
      VersionedKeyedTable.keyFilesStr(spark, sdir, "v",
        Seq("1"))
    }
    assert(te.getMessage.contains("STRING keys"))
    // vacuum reclamation: two upserts strand v1's commit dir entirely
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 2)
    assert(sidecars(dir).size === 1)
    VersionedKeyedTable.upsert(spark, dir,
      (1L to 40L).map(i => (i, s"w$i")).toDF("k", "v"), "k")
    val nBefore = sidecars(dir).size
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val after = sidecars(dir)
    assert(after.size < nBefore,
      "an orphaned commit dir's bloom sidecar must be reclaimed")
    // the retained commit's sidecar survives and lookups stay exact
    assert(VersionedKeyedTable.readKeys(spark, dir, "k", Seq(7L))
      .as[(Long, String)].collect().toSeq === Seq((7L, "w7")))
  }

  test("string zone pruning compares in UTF-8 binary order, not " +
      "java.lang.String order: a supplementary-plane envelope must " +
      "not prune a probed key it legitimately contains") {
    // UTF-8 byte order: U+E000 (EE 80 80) < U+F000 (EF 80 80) <
    // U+1F600 (F0 9F 98 80). UTF-16 code-unit order DISAGREES:
    // U+1F600 encodes as surrogates (0xD83D 0xDE00), so java.lang
    // .String sorts it BELOW both — an envelope aggregated by Spark
    // as (U+E000, U+1F600) probed with U+F000 would be pruned under
    // String order ("\uf000" > "\ud83d\ude00"), silently dropping
    // the row.
    val probe = "\uf000"
    val keys = Seq("\ue000", probe, "\ud83d\ude00")
    val dir = freshDir()
    VersionedKeyedTable.create(
      keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "v").coalesce(1), // one file => one envelope
      dir, "k", numBuckets = 1)
    // Spark's own min/max on the file must have recorded the UTF-8
    // envelope (sanity: the emoji IS the max in stat order)
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    val (mn, mx) = snap.stats.values.head
    assert(mn == "\ue000" && mx == "\ud83d\ude00",
      s"expected UTF-8-ordered envelope, got ($mn, $mx)")
    // point lookup: zone + bloom path must keep the file
    val got = VersionedKeyedTable.readKeysStr(spark, dir, "k",
      Seq(probe)).as[(String, Long)].collect()
    assert(got.toSeq === Seq((probe, 1L)),
      "UTF-16 envelope comparison pruned a matching file")
    // Catalyst path: the FileIndex's string bounds must keep it too
    val (df, idx) = VersionedKeyedTable.tableIndexed(spark, dir, "k")
    assert(df.where(col("k") === probe).count() === 1L)
    assert(idx.lastListed._1 === 1, "the file must be listed, not pruned")
  }

  test("broadcast gate: over-threshold batches join WITHOUT a broadcast " +
      "hint (no BroadcastExchange) and mutations stay correct; under the " +
      "gate the hint stays") {
    // disable auto-broadcast so the ONLY possible BroadcastExchange in
    // the probe plans is the explicit hint the gate controls
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "-1")
    try {
      val big = spark.range(0, 1000).select(col("id").as("k"))
      val batch = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      // above the gate (declared rows > limit): no hint -> no broadcast
      spark.conf.set("spark.graft.maxBroadcastKeys", "1")
      val ungated = big.join(
        VersionedKeyedTable.keysMaybeBroadcast(batch, "k", 2L),
        Seq("k"), "left_semi")
      assert(!ungated.queryExecution.executedPlan.toString
          .contains("BroadcastExchange"),
        "over-threshold batch must not be broadcast-hinted")
      // under the gate: the hint survives even with auto-broadcast off
      spark.conf.set("spark.graft.maxBroadcastKeys", "1000000")
      val gated = big.join(
        VersionedKeyedTable.keysMaybeBroadcast(batch, "k", 2L),
        Seq("k"), "left_semi")
      assert(gated.queryExecution.executedPlan.toString
          .contains("BroadcastExchange"),
        "small batch must keep the broadcast fast path")
      // end-to-end: a full mutation lifecycle with EVERY broadcast
      // gated off (limit 0) produces the identical table state + CDF
      spark.conf.set("spark.graft.maxBroadcastKeys", "0")
      val dir = freshDir()
      VersionedKeyedTable.create(
        (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
        numBuckets = 4)
      VersionedKeyedTable.upsert(spark, dir,
        Seq((7L, "NEW7"), (101L, "NEW101")).toDF("k", "v"), "k")
      VersionedKeyedTable.delete(spark, dir, Seq(8L).toDF("k"), "k")
      val after = contents(dir)
      assert(after(7L) === "NEW7" && after(101L) === "NEW101")
      assert(!after.contains(8L) && after.size === 100)
      val cdf = VersionedKeyedTable.changesBetween(spark, dir, "k", 1L, 3L)
        .as[(Long, String, Option[String], Option[String])].collect()
        .map(r => r._1 -> r._2).toMap
      assert(cdf === Map(7L -> "update", 101L -> "insert",
        8L -> "delete"))
    } finally {
      spark.conf.unset("spark.graft.maxBroadcastKeys")
      spark.conf.set(autoKey, prevAuto)
    }
  }

  test("commit-time broadcasts and collects gate on MEASURED row " +
      "bytes: wide text rows the schema's static estimate calls small " +
      "stay off the broadcast and the driver") {
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.get(autoKey)
    // 200 rows of ~8 KB text: ~1.6 MB, where the schema's default
    // sizes (8 B + 20 B a row) estimate under 6 KB
    val wide = (1L to 200L).map(k => (k, "x" * 8000)).toDF("k", "text")
      .repartition(4)
    assert(wide.schema.defaultSize * 200L < 6000L)
    val pinned = wide.localCheckpoint(true)
    val measured = VersionedKeyedTable.pinnedBytes(pinned)
    assert(measured.exists(_ >= 200L * 8000L),
      s"checkpoint measured at $measured")
    spark.conf.set(autoKey, "1048576")
    try {
      val bytes = measured.get
      assert(!VersionedKeyedTable.fitsBroadcast(spark, 200L, bytes, 200L),
        "1.6 MB of rows must not pass a 1 MB threshold")
      assert(VersionedKeyedTable.fitsBroadcast(spark, 20L, bytes, 200L),
        "a tenth of the rows fits")
      assert(VersionedKeyedTable.collectSmall(wide).isEmpty,
        "rows past the threshold must not be collected")
      assert(VersionedKeyedTable.collectSmall(wide.where(col("k") <= 20L))
        .map(_.map(_.getLong(0)).sorted) === Some(1L to 20L))
      spark.conf.set(autoKey, "-1")
      assert(!VersionedKeyedTable.fitsBroadcast(spark, 1L, 1L, 200L))
      assert(VersionedKeyedTable.collectSmall(wide.limit(1)).isEmpty)
    } finally spark.conf.set(autoKey, prevAuto)
  }

  test("bounded key lists route on the driver: keyFiles, keyFilesStr, " +
      "readKeys and readKeysStr launch no Spark job") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val keys = Seq(3L, 17L, 42L, 99L, 1000L)
    val ((kept, candidates), jobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.keyFiles(spark, dir, "k", keys))
    assert(jobs === 0, "keyFiles must route its keys without a job")
    assert(kept.nonEmpty && kept.size <= candidates)
    val (read, readJobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.readKeys(spark, dir, "k", keys))
    assert(readJobs === 0, "readKeys must plan its lookup without a job")
    assert(read.as[(Long, String)].collect().toMap ===
      Seq(3L, 17L, 42L, 99L).map(k => k -> s"v$k").toMap)

    val sdir = freshDir()
    VersionedKeyedTable.create(
      (1 to 100).map(i => (s"doc-$i", i.toLong)).toDF("k", "v"), sdir,
      "k", numBuckets = 4)
    val probes = Seq("doc-3", "doc-77", "absent")
    val ((sKept, _), sJobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.keyFilesStr(spark, sdir, "k", probes))
    assert(sJobs === 0, "keyFilesStr must route its keys without a job")
    assert(sKept.nonEmpty)
    val (sRead, sReadJobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.readKeysStr(spark, sdir, "k", probes))
    assert(sReadJobs === 0,
      "readKeysStr must plan its lookup without a job")
    assert(sRead.as[(String, Long)].collect().toMap ===
      Map("doc-3" -> 3L, "doc-77" -> 77L))
  }

  test("merge-on-read commits of a bounded batch keep their job " +
      "budgets (upsertMor <= 12, deleteMor <= 9) and their results") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    // a pending delete backlog, so the existence reads apply deletes
    VersionedKeyedTable.deleteMor(spark, dir, Seq(5L, 6L).toDF("k"), "k")
    val puts = (1L to 20L).map(i => (i, s"u$i")) :+ ((500L, "new"))
    val (_, upJobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.upsertMor(spark, dir, puts.toDF("k", "v"), "k"))
    assert(upJobs <= 12, s"upsertMor ran $upJobs jobs")
    val v = VersionedKeyedTable.snapshot(spark, dir).version
    val (_, delJobs) = graft.SparkJobs.count(spark)(
      VersionedKeyedTable.deleteMor(spark, dir,
        Seq(7L, 8L, 9L, 999L).toDF("k"), "k"))
    assert(delJobs <= 9, s"deleteMor ran $delJobs jobs")
    val want = ((1L to 200L).map(i => i -> s"v$i").toMap ++ puts) --
      Seq(7L, 8L, 9L)
    assert(contents(dir) === want)
    val changes = VersionedKeyedTable.changesBetween(spark, dir, "k", v,
        v + 1)
    assert(changes.columns.toSeq === Seq("k", "change_type", "v", "v_prev"))
    assert(changes.as[(Long, String, Option[String], Option[String])]
        .collect().toSet ===
      Seq(7L, 8L, 9L).map(k => (k, "delete", None, Some(s"u$k"))).toSet)
  }

  test("a merge-on-read delete of absent keys commits nothing and " +
      "leaves no delete-file directory") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    def deleteDirs = Option(new java.io.File(s"$dir/data").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(_.getName.startsWith("dl-"))
    val v = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.deleteMor(spark, dir, Seq(77L, 78L).toDF("k"), "k")
    VersionedKeyedTable.mutateMor(spark, dir,
      Seq.empty[(Long, String)].toDF("k", "v"),
      Some(Seq(79L).toDF("k")), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v)
    assert(deleteDirs === 0)
    VersionedKeyedTable.deleteMor(spark, dir, Seq(7L, 77L).toDF("k"), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v + 1)
    assert(deleteDirs === 1 && !contents(dir).contains(7L))
  }

  test("merge-on-read deletes keyed by a narrower integral type than " +
      "the table's key find their rows in the table's buckets") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    // xxhash64 of an Int differs from that of the same Long: keys
    // whose Int hash lands in another bucket must still be routed
    // under the TABLE's key type
    val intBucket = (1 to 100).toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(4L)).cast("int"))
      .as[(Int, Int)].collect().toMap
    val Seq(a, b) = (1 to 100)
      .filter(k => intBucket(k) != bucketOf(k.toLong)).take(2)
    VersionedKeyedTable.deleteMor(spark, dir, Seq(a).toDF("k"), "k")
    VersionedKeyedTable.mutateMor(spark, dir,
      Seq((50L, "u50")).toDF("k", "v"), Some(Seq(b).toDF("k")), "k")
    assert(contents(dir) ===
      ((1L to 100L).map(i => i -> s"v$i").toMap -- Seq(a.toLong, b.toLong) +
        (50L -> "u50")))
  }

  test("merge-on-read deletes keyed by DATE values on a TIMESTAMP table " +
      "route by the table's key type on the unbounded path") {
    val dir = freshDir()
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def at(i: Int) = day0.plusDays(i).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant
    VersionedKeyedTable.create(
      (0 until 40).map(i => (at(i), s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 8)
    // time keys never take the bounded driver route: `touchedBuckets`
    // reads the batch's own `__bucket`, which must hash the timestamp
    // the date casts to (midnight in the session's UTC zone)
    def days(r: Range) = r.map(day0.plusDays(_)).toDF("k")
    VersionedKeyedTable.deleteMor(spark, dir, days(0 until 10), "k")
    def live = VersionedKeyedTable.read(spark, dir)
      .as[(java.time.Instant, String)].collect().toMap
    assert(live === (10 until 40).map(i => at(i) -> s"v$i").toMap)
    VersionedKeyedTable.mutateMor(spark, dir,
      Seq((at(30), "u30")).toDF("k", "v"), Some(days(10 until 20)), "k")
    assert(live === ((20 until 40).map(i => at(i) -> s"v$i").toMap +
      (at(30) -> "u30")))
  }

  test("driver routing equals SQL bucketOf over a DataFrame for " +
      "integral and string keys") {
    import org.apache.spark.sql.types._
    val integral: Seq[(DataType, Seq[Long])] = Seq(
      ByteType -> Seq(Byte.MinValue, -1, 0, 1, Byte.MaxValue)
        .map(_.toLong),
      ShortType -> Seq(Short.MinValue.toLong, -129L, -1L, 0L, 128L,
        Short.MaxValue.toLong),
      IntegerType -> Seq(Int.MinValue.toLong, -40000L, -1L, 0L, 1L,
        65536L, Int.MaxValue.toLong),
      LongType -> Seq(Long.MinValue, -5000000000L, -1L, 0L, 1L,
        5000000000L, Long.MaxValue))
    val strings = Seq("", "a", "doc-42", "é", "日本語", "\u0000x",
      "\ud83d\ude00", "a\ud800\udc00b")
    for (nb <- Seq(1, 4, 7, 16)) {
      for ((t, ks) <- integral) {
        // executor-side: the SQL expression over a non-local relation
        val sql = spark.sparkContext.parallelize(ks, 2).toDF("k")
          .select(col("k"), col("k").cast(t).as("t"))
          .select(col("k"), KeyedTable.bucket("t", nb))
          .as[(Long, Int)].collect().toMap
        ks.foreach { k =>
          assert(VersionedKeyedTable.keyBuckets(spark, "k", Left(Seq(k)),
            t, nb) === Set(sql(k)), s"$t key $k, $nb buckets")
        }
        assert(VersionedKeyedTable.keyBuckets(spark, "k", Left(ks), t,
          nb) === sql.values.toSet)
      }
      val sql = spark.sparkContext.parallelize(strings, 2).toDF("k")
        .select(col("k"), KeyedTable.bucket("k", nb))
        .as[(String, Int)].collect().toMap
      strings.foreach { k =>
        assert(VersionedKeyedTable.keyBuckets(spark, "k", Right(Seq(k)),
          StringType, nb) === Set(sql(k)), s"string key '$k', $nb buckets")
      }
    }
  }

  test("a Long key overflowing an Int key column fails under ANSI, as " +
      "a scan's cast would, and wraps without it") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1 to 40).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)
    val big = 1L << 40
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val e = intercept[Exception](
        VersionedKeyedTable.keyFiles(spark, dir, "k", Seq(big)))
      assert(chain(e).exists(_.contains("CAST_OVERFLOW")), chain(e))
      spark.conf.set(key, "false")
      val (kept, candidates) =
        VersionedKeyedTable.keyFiles(spark, dir, "k", Seq(big))
      assert(candidates > 0 && kept.size <= candidates)
      assert(VersionedKeyedTable.readKeys(spark, dir, "k", Seq(big))
        .count() === 0L)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

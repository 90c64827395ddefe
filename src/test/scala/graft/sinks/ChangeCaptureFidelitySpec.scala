package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Commit-time change capture against an independent oracle. Every
  * mutation runs on two twin tables: `cap` commits it with
  * `captureChanges = true`, so its `changesBetween` reads the change
  * files the commit wrote; `raw` commits it with `captureChanges =
  * false`, so its `changesBetween` takes the snapshot-diff fallback.
  * Each commit's change rows must be equal on both: same columns and
  * types, same rows. Entry points without a capture flag
  * (`applyChanges`, a view refresh) follow a no-op commit that is
  * captured on `cap` and not on `raw`, and the two-commit span is
  * compared. */
class ChangeCaptureFidelitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vkt = VersionedKeyedTable

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-cdf").toString + "/t"

  private def latest(dir: String): Long = vkt.snapshot(spark, dir).version

  /** `step(dir, capture)` on both twins; the span's change rows must
    * agree, with `expect` changes of each type. */
  private def sameChanges(cap: String, raw: String, key: String,
      what: String, expect: Map[String, Int])(
      step: (String, Boolean) => Unit): Seq[String] = {
    val from = latest(cap)
    assert(latest(raw) === from, s"$what: twins at one version")
    step(cap, true)
    step(raw, false)
    val to = latest(cap)
    assert(latest(raw) === to, s"$what: twins at one version")
    def captured(dir: String) =
      (from + 1 to to).map(v => vkt.snapshot(spark, dir, Some(v))
        .changes.isDefined)
    assert(captured(cap).forall(identity), s"$what: cap captured its changes")
    assert(captured(raw).contains(false),
      s"$what: raw's span holds a capture-less commit, so it diffs snapshots")
    def changes(dir: String): DataFrame =
      vkt.changesBetween(spark, dir, key, from, to)
    val (a, b) = (changes(cap), changes(raw))
    assert(a.schema.map(f => f.name -> f.dataType) ===
      b.schema.map(f => f.name -> f.dataType), s"$what: change columns")
    val got = a.collect().map(_.toString).sorted.toSeq
    assert(got === b.collect().map(_.toString).sorted.toSeq,
      s"$what: change rows")
    assert(a.groupBy("change_type").count().as[(String, Long)].collect()
      .map { case (t, n) => t -> n.toInt }.toMap === expect,
      s"$what: change types")
    a.columns.toSeq
  }

  /** A capture-less commit on `raw` (captured on `cap`) that changes
    * nothing: deleting an absent key still rewrites its bucket. */
  private def noOp(dir: String, capture: Boolean, key: String,
      absent: Long): Unit =
    vkt.delete(spark, dir, Seq(absent).toDF(key), key,
      captureChanges = capture)

  test("every keyed mutation's captured change rows equal the " +
      "snapshot diff of a capture-less twin") {
    val (cap, raw) = (freshDir(), freshDir())
    val base = (1L to 40L).map(k => (k, k % 5, s"v$k", 1L))
    Seq(cap, raw).foreach(d => vkt.create(
      base.toDF("k", "g", "v", "seq").repartition(2), d, "k",
      numBuckets = 4))
    def rows(rs: (Long, Long, String, Long)*) = rs.toDF("k", "g", "v", "seq")
    def same(what: String, expect: (String, Int)*)(
        step: (String, Boolean) => Unit) =
      sameChanges(cap, raw, "k", what, expect.toMap)(step)

    same("upsert of new, changed and identical rows",
        "update" -> 2, "insert" -> 2) { (d, c) =>
      vkt.upsert(spark, d, rows((1L, 1L, "u1", 1L), (2L, 2L, null, 1L),
        (3L, 3L, "v3", 1L), (41L, 1L, "n41", 1L), (42L, 2L, null, 1L)),
        "k", captureChanges = c)
    }
    same("delete of present and absent keys", "delete" -> 2) { (d, c) =>
      vkt.delete(spark, d, Seq(5L, 6L, 999L).toDF("k"), "k",
        captureChanges = c)
    }
    same("merge: matched delete, unchanged matched update, guarded " +
        "insert", "delete" -> 1, "update" -> 1, "insert" -> 1) { (d, c) =>
      vkt.merge(spark, d,
        Seq((7L, 2L, "x", 1L, "D"), (8L, 3L, "v8", 1L, "U"),
          (9L, 4L, "m9", 1L, "U"), (50L, 0L, "m50", 1L, "I"),
          (51L, 1L, "m51", 1L, "X")).toDF("k", "g", "v", "seq", "status"),
        "k",
        whenMatchedDelete = Some(col("s.status") === "D"),
        whenMatchedUpdate = Map("v" -> col("s.v")),
        insertNotMatchedWhen = Some(col("s.status") === "I"),
        captureChanges = c, carryCols = Set("status"))
    }
    same("applyChanges with a stale and a replayed event",
        "update" -> 1, "delete" -> 1, "insert" -> 1) { (d, c) =>
      noOp(d, c, "k", 996L)
      vkt.applyChanges(spark, d,
        Seq((10L, 0L, "stale", 0L, "U"), (11L, 1L, "replay", 1L, "U"),
          (12L, 2L, "fresh", 2L, "U"), (13L, 3L, null, 2L, "D"),
          (60L, 0L, "new", 1L, "U")).toDF("k", "g", "v", "seq", "op"),
        "k", "seq", "op")
    }
    same("upsertMor of new, changed and identical rows",
        "update" -> 1, "insert" -> 1) { (d, c) =>
      vkt.upsertMor(spark, d, rows((14L, 4L, "r14", 1L),
        (15L, 0L, "v15", 1L), (70L, 0L, "n70", 1L)), "k",
        captureChanges = c)
    }
    same("deleteMor of present and absent keys", "delete" -> 2) { (d, c) =>
      vkt.deleteMor(spark, d, Seq(16L, 17L, 998L).toDF("k"), "k",
        captureChanges = c)
    }
    same("mutateMor with puts and delete keys",
        "update" -> 2, "insert" -> 1, "delete" -> 1) { (d, c) =>
      vkt.mutateMor(spark, d, rows((18L, 3L, "p18", 1L),
          (19L, 4L, "p19", 1L), (71L, 1L, "n71", 1L)),
        Some(Seq(19L, 20L, 997L).toDF("k")), "k", captureChanges = c)
    }
    same("null data values", "update" -> 2) { (d, c) =>
      vkt.upsert(spark, d, rows((2L, 2L, null, 1L), (42L, 2L, "x42", 1L),
        (21L, 1L, null, 1L)), "k", captureChanges = c)
    }
    val evolved = same("schema-evolving upsert", "update" -> 1,
        "insert" -> 1) { (d, c) =>
      vkt.upsert(spark, d, Seq((22L, 2L, "v22", 1L, 5L),
          (80L, 0L, "n80", 1L, 8L)).toDF("k", "g", "v", "seq", "extra"),
        "k", captureChanges = c)
    }
    assert(evolved.contains("extra") && evolved.contains("extra_prev"))
    same("upsert without the evolved column", "update" -> 1) { (d, c) =>
      vkt.upsert(spark, d, rows((23L, 3L, "u23", 1L)), "k",
        captureChanges = c)
    }
  }

  /** `body` under the session settings `kv`, restored after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("wide rows past the broadcast threshold and batches past the " +
      "broadcast-key gate capture the snapshot diff too") {
    val (cap, raw) = (freshDir(), freshDir())
    // ~8 KB of text per row: a batch's 10 pre-images measure ~80 KB
    def text(tag: String) = tag + "x" * 8000
    def rows(ks: Seq[Long], tag: String) =
      ks.map(k => (k, k % 3, text(s"$tag$k"))).toDF("k", "g", "text")
    Seq(cap, raw).foreach(d => vkt.create(
      rows(1L to 80L, "v").repartition(2), d, "k", numBuckets = 4))
    def same(what: String, expect: (String, Int)*)(
        step: (String, Boolean) => Unit) =
      sameChanges(cap, raw, "k", what, expect.toMap)(step)

    // 32 KB: the pre-images of every batch below overflow it, so the
    // upsert's pairing shuffles and the merge-on-read commits
    // checkpoint their pre-images instead of collecting them
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "32768") {
      same("wide upsert", "update" -> 10, "insert" -> 2) { (d, c) =>
        vkt.upsert(spark, d, rows((1L to 10L) ++ Seq(81L, 82L), "u"),
          "k", captureChanges = c)
      }
      same("wide upsertMor", "update" -> 10, "insert" -> 2) { (d, c) =>
        vkt.upsertMor(spark, d, rows((11L to 20L) ++ Seq(83L, 84L), "m"),
          "k", captureChanges = c)
      }
      same("wide mutateMor", "update" -> 5, "delete" -> 5) { (d, c) =>
        vkt.mutateMor(spark, d, rows(21L to 25L, "p"),
          Some((26L to 30L).toDF("k")), "k", captureChanges = c)
      }
      same("wide deleteMor", "delete" -> 10) { (d, c) =>
        vkt.deleteMor(spark, d, (31L to 40L).toDF("k"), "k",
          captureChanges = c)
      }
    }
    // no batch passes the key gate: every pairing join shuffles
    withConf("spark.graft.maxBroadcastKeys" -> "0") {
      same("upsert past the key gate", "update" -> 5, "insert" -> 1) {
        (d, c) =>
          vkt.upsert(spark, d, rows((41L to 45L) ++ Seq(85L), "g"), "k",
            captureChanges = c)
      }
      same("delete past the key gate", "delete" -> 3) { (d, c) =>
        vkt.delete(spark, d, Seq(46L, 47L, 48L, 999L).toDF("k"), "k",
          captureChanges = c)
      }
    }
  }

  test("a full view refresh's carry-column merge captures the view's " +
      "snapshot diff, with no carry column in its change rows") {
    val base = freshDir()
    vkt.create(spark.range(1, 201).select(col("id").as("k"),
        (col("id") / 10L).cast("long").as("g"),
        pmod(col("id") * 7919L, lit(10007L)).as("cents")),
      base, "k", numBuckets = 4)
    val (cap, raw) = (freshDir(), freshDir())
    val watermark = IncrementalView.createFromFull(spark, base, cap, "g",
      "cents", numBuckets = 4)
    assert(IncrementalView.createFromFull(spark, base, raw, "g", "cents",
      numBuckets = 4) === watermark)
    vkt.upsert(spark, base, Seq((1L, 0L, 1L), (500L, 3L, 20000L),
      (501L, 99L, 5L)).toDF("k", "g", "cents"), "k")
    // each group's current max row: deleting it forces the re-derive
    val doomed = Seq(4L, 5L).map(g =>
      (10 * g until 10 * g + 10).filter(_ > 0)
        .maxBy(k => (k * 7919L % 10007L, -k)))
    vkt.delete(spark, base, doomed.toDF("k"), "k")
    val cols = sameChanges(cap, raw, "g", "refreshToLatestFull",
        Map("update" -> 4, "insert" -> 1)) { (d, c) =>
      noOp(d, c, "g", -1L)
      IncrementalView.refreshToLatestFull(spark, base, d, "k", "g",
        "cents", watermark)
    }
    assert(!cols.exists(c => Seq("redo", "abs_mn", "abs_mx")
      .exists(c.startsWith)), s"carry columns in the change rows: $cols")
  }
}

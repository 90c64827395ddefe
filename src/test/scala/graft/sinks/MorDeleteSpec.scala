package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

/** MERGE-ON-READ deletes (`deleteMor`): deferred per-bucket delete
  * files instead of bucket rewrites — the Iceberg equality-delete /
  * Delta deletion-vector shape over the manifest log. Pins: no data
  * file moves on a MOR delete; every read path applies the deletes;
  * copy-on-write mutations and compaction CONSUME them; metadata
  * COUNT(*) stays exact; CDF captures ordinary delete rows; clone /
  * restore / vacuum carry or reclaim the files correctly; and the SQL
  * catalog filters deleted keys on all three scan shapes (vectorized
  * row scan, `_file` CoW read, aggregate pushdown declining min/max
  * but not count). */
class MorDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-mor").toString + "/t"

  private def contents(dir: String, version: Option[Long] = None)
      : Map[Long, String] =
    VersionedKeyedTable.read(spark, dir, version)
      .as[(Long, String)].collect().toMap

  private def make(dir: String, n: Long = 100L): Unit =
    VersionedKeyedTable.create(
      (1L to n).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k",
      numBuckets = 4)

  test("deleteMor hides rows WITHOUT touching data files; time travel " +
      "still sees them; countRows subtracts exactly") {
    val dir = freshDir()
    make(dir)
    val before = VersionedKeyedTable.snapshot(spark, dir)
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(3L, 7L, 50L).toDF("k"), "k")
    val after = VersionedKeyedTable.snapshot(spark, dir)
    // the delete commit moved NO data file — that is the point
    assert(after.files === before.files,
      "a MOR delete must not rewrite, add or drop data files")
    assert(after.deletes.nonEmpty &&
      after.deletes.values.flatten.nonEmpty)
    val now = contents(dir)
    assert(now.size === 97 && !now.contains(3L) && !now.contains(7L) &&
      !now.contains(50L) && now(4L) === "v4")
    // time travel: the pre-delete version still reads all 100
    assert(contents(dir, Some(before.version)).size === 100)
    // metadata-only count stays exact under pending deletes
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(97L))
  }

  test("absent and already-deleted keys are no-ops: no commit, no " +
      "double-count in the delete files") {
    val dir = freshDir()
    make(dir)
    VersionedKeyedTable.deleteMor(spark, dir, Seq(10L).toDF("k"), "k")
    val v1 = VersionedKeyedTable.snapshot(spark, dir).version
    // absent key: nothing exists to delete -> no new version
    VersionedKeyedTable.deleteMor(spark, dir, Seq(9999L).toDF("k"), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v1)
    // already-deleted key rides the existence check the same way
    VersionedKeyedTable.deleteMor(spark, dir, Seq(10L).toDF("k"), "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).version === v1)
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(99L))
    // a mixed batch deletes only what exists, once
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(10L, 11L, 8888L).toDF("k"), "k")
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(98L))
    assert(!contents(dir).contains(11L))
  }

  test("an upsert of a MOR-deleted key REVIVES it and CONSUMES the " +
      "bucket's delete entries; other buckets' deletes survive") {
    val dir = freshDir()
    make(dir)
    // two keys in provably different buckets under numBuckets=4
    val byBucket = spark.range(1, 101).select(col("id"),
        pmod(xxhash64(col("id")), lit(4L)).cast("int").as("b"))
      .as[(Long, Int)].collect().toMap
    val (kA, kB) = {
      val a = byBucket.keys.head
      (a, byBucket.keys.find(k => byBucket(k) != byBucket(a)).get)
    }
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(kA, kB).toDF("k"), "k")
    VersionedKeyedTable.upsert(spark, dir,
      Seq((kA, "REVIVED")).toDF("k", "v"), "k")
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(!snap.deletes.contains(byBucket(kA)),
      "the rewrite of kA's bucket must consume its delete entries")
    assert(snap.deletes.contains(byBucket(kB)),
      "kB's untouched bucket keeps its pending delete file")
    val now = contents(dir)
    assert(now(kA) === "REVIVED" && !now.contains(kB))
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(99L))
  }

  test("compact PURGES pending deletes: reads unchanged, delete " +
      "entries gone, vacuum then reclaims the delete files") {
    val dir = freshDir()
    make(dir)
    VersionedKeyedTable.deleteMor(spark, dir,
      (1L to 20L).toDF("k"), "k")
    val pendingRels = VersionedKeyedTable.snapshot(spark, dir)
      .deletes.values.flatten.toSeq
    assert(pendingRels.nonEmpty)
    VersionedKeyedTable.compact(spark, dir, "k")
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.deletes.isEmpty, "compaction must consume delete files")
    assert(contents(dir).size === 80 && !contents(dir).contains(5L))
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(80L))
    // with the consuming commit as the only retained version, vacuum
    // reclaims the now-unreferenced delete files
    VersionedKeyedTable.vacuum(spark, dir, keepVersions = 1,
      graceMs = 0L, stagingGraceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pendingRels.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")),
        s"vacuum must reclaim consumed delete file $rel")
    }
    assert(contents(dir).size === 80)
  }

  test("CDF: a MOR delete captures ordinary delete change rows with " +
      "_prev values — consumers cannot tell deferred from CoW") {
    val dir = freshDir()
    make(dir)
    val v0 = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(3L, 7L).toDF("k"), "k")
    val v1 = VersionedKeyedTable.snapshot(spark, dir).version
    val ch = VersionedKeyedTable.changesBetween(spark, dir, "k", v0, v1)
      .select("k", "change_type", "v_prev").as[(Long, String, String)]
      .collect().sortBy(_._1)
    assert(ch.toSeq === Seq((3L, "delete", "v3"), (7L, "delete", "v7")))
  }

  test("point lookups, range reads and the Catalyst table path all " +
      "apply pending deletes") {
    val dir = freshDir()
    make(dir)
    VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 20L)
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(10L, 11L, 12L).toDF("k"), "k")
    assert(VersionedKeyedTable.readKeys(spark, dir, "k",
      Seq(10L, 13L)).as[(Long, String)].collect().toSeq
      === Seq((13L, "v13")))
    assert(VersionedKeyedTable.readRange(spark, dir, "k", 9L, 14L)
      .select("k").as[Long].collect().sorted.toSeq
      === Seq(9L, 13L, 14L))
    assert(VersionedKeyedTable.table(spark, dir, "k")
      .where(col("k") between (9L, 14L))
      .select("k").as[Long].collect().sorted.toSeq
      === Seq(9L, 13L, 14L))
  }

  test("merge() over pending deletes treats a deleted key as NOT " +
      "matched (inserts fresh instead of updating a ghost)") {
    val dir = freshDir()
    make(dir)
    VersionedKeyedTable.deleteMor(spark, dir, Seq(5L).toDF("k"), "k")
    VersionedKeyedTable.merge(spark, dir,
      Seq((5L, "MERGED"), (6L, "MERGED")).toDF("k", "v"), "k",
      whenMatchedUpdate = Map("v" -> concat(col("t.v"), lit("+upd"))))
    val now = contents(dir)
    assert(now(5L) === "MERGED", "deleted key must insert fresh")
    assert(now(6L) === "v6+upd", "live key must take the update branch")
  }

  test("clone and restore carry pending deletes with the snapshot") {
    val dir = freshDir()
    make(dir)
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(1L, 2L).toDF("k"), "k")
    val vDel = VersionedKeyedTable.snapshot(spark, dir).version
    // clone at the MOR-delete snapshot: the copy must hide the keys
    val dst = freshDir()
    VersionedKeyedTable.cloneAt(spark, dir, dst)
    assert(contents(dst).size === 98 && !contents(dst).contains(1L))
    assert(VersionedKeyedTable.countRows(spark, dst) === Some(98L))
    // bury the deletes under a CoW rewrite, then restore across it
    VersionedKeyedTable.compact(spark, dir, "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).deletes.isEmpty)
    VersionedKeyedTable.restore(spark, dir, vDel)
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.deletes.nonEmpty,
      "restore must re-impose the target version's delete entries")
    assert(contents(dir).size === 98 && !contents(dir).contains(2L))
  }

  test("string-keyed MOR delete rides the same paths (UTF-8 envelope " +
      "pruning, bloom sidecars, readKeysStr)") {
    val dir = freshDir()
    VersionedKeyedTable.create(
      (1L to 60L).map(i => (f"doc$i%03d", i)).toDF("k", "n"), dir, "k",
      numBuckets = 4)
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq("doc005", "doc006").toDF("k"), "k")
    assert(VersionedKeyedTable.read(spark, dir).count() === 58L)
    assert(VersionedKeyedTable.readKeysStr(spark, dir, "k",
      Seq("doc005", "doc007")).select("n").as[Long].collect().toSeq
      === Seq(7L))
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(58L))
  }

  test("upsertMor APPENDS instead of rewriting: old data files stay, " +
      "new files + a sequence-stamped delete file land, reads show " +
      "the newest values, countRows stays exact") {
    val dir = freshDir()
    make(dir)
    val before = VersionedKeyedTable.snapshot(spark, dir)
    val beforeFiles = before.files.values.flatten.toSet
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((3L, "NEW3"), (101L, "NEW101")).toDF("k", "v"), "k")
    val after = VersionedKeyedTable.snapshot(spark, dir)
    val afterFiles = after.files.values.flatten.toSet
    assert(beforeFiles.subsetOf(afterFiles),
      "a MOR upsert must not rewrite or drop any existing data file")
    assert((afterFiles -- beforeFiles).nonEmpty, "new files appended")
    assert((afterFiles -- beforeFiles).forall(f =>
        after.seqs.get(f).contains(after.version)),
      "appended files must be sequence-stamped with the commit")
    assert(after.deletes.values.flatten.nonEmpty,
      "the replaced key needs a delete entry for its older row")
    val now = contents(dir)
    assert(now.size === 101 && now(3L) === "NEW3" &&
      now(101L) === "NEW101" && now(4L) === "v4")
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(101L))
    // time travel still shows the pre-upsert row
    assert(contents(dir, Some(before.version))(3L) === "v3")
  }

  test("sequence rule end-to-end: upsert -> delete -> re-upsert of " +
      "ONE key leaves exactly the newest row live; repeated upserts " +
      "never double-count") {
    val dir = freshDir()
    make(dir, 40L)
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((7L, "gen2")).toDF("k", "v"), "k")
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((7L, "gen3")).toDF("k", "v"), "k")
    assert(contents(dir)(7L) === "gen3")
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(40L))
    VersionedKeyedTable.deleteMor(spark, dir, Seq(7L).toDF("k"), "k")
    assert(!contents(dir).contains(7L))
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(39L))
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((7L, "gen4")).toDF("k", "v"), "k")
    assert(contents(dir)(7L) === "gen4",
      "a later upsert must survive the earlier delete (sequence rule)")
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(40L))
    // point lookup and Catalyst path agree across the classes
    assert(VersionedKeyedTable.readKeys(spark, dir, "k", Seq(7L))
      .as[(Long, String)].collect().toSeq === Seq((7L, "gen4")))
    assert(VersionedKeyedTable.table(spark, dir, "k")
      .where(col("k") === 7L).as[(Long, String)].collect().toSeq
      === Seq((7L, "gen4")))
    // compaction folds the classes back to plain files
    VersionedKeyedTable.compact(spark, dir, "k")
    val purged = VersionedKeyedTable.snapshot(spark, dir)
    assert(purged.deletes.isEmpty && purged.seqs.isEmpty)
    assert(contents(dir)(7L) === "gen4" &&
      VersionedKeyedTable.countRows(spark, dir) === Some(40L))
  }

  test("upsertMor captures ordinary CDF insert/update rows with " +
      "_prev values; a copy-on-write mutation consumes the pending " +
      "state exactly") {
    val dir = freshDir()
    make(dir, 30L)
    val v0 = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((5L, "UP5"), (99L, "IN99")).toDF("k", "v"), "k")
    val v1 = VersionedKeyedTable.snapshot(spark, dir).version
    val ch = VersionedKeyedTable.changesBetween(spark, dir, "k", v0, v1)
      .select("k", "change_type", "v", "v_prev")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(ch.toSeq === Seq((5L, "update", "UP5", "v5"),
      (99L, "insert", "IN99", null)))
    // a CoW upsert on the same bucket materializes and clears
    VersionedKeyedTable.upsert(spark, dir,
      Seq((5L, "COW5")).toDF("k", "v"), "k")
    val now = contents(dir)
    assert(now(5L) === "COW5" && now(99L) === "IN99" && now.size === 31)
    assert(VersionedKeyedTable.countRows(spark, dir) === Some(31L))
  }

  test("SQL catalog over pending upsertMor state: multi-class scans " +
      "return exactly the live rows, count(*) stays metadata-only, " +
      "and a CoW UPDATE folds the state without losing rows") {
    val base = Files.createTempDirectory("graft-morup-cat").toString
    spark.conf.set("spark.sql.catalog.ucat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ucat.base", base)
    val dir = s"$base/t"
    VersionedKeyedTable.create(
      (1L to 50L).map(i => (i, s"v$i", i * 10L)).toDF("k", "s", "x"),
      dir, "k", numBuckets = 2)
    VersionedKeyedTable.upsertMor(spark, dir,
      Seq((1L, "UP1", -1L), (60L, "IN60", -2L)).toDF("k", "s", "x"),
      "k")
    assert(spark.sql("SELECT s FROM ucat.t WHERE k = 1")
      .as[String].head() === "UP1")
    val cq = spark.sql("SELECT count(*) AS n FROM ucat.t")
    assert(cq.collect()(0).getLong(0) === 51L)
    assert(graft.sinks.v2.GraftScanInspect.aggScans(cq)
        .exists(_.totalFiles > 0) &&
        graft.sinks.v2.GraftScanInspect.rowScans(cq).isEmpty,
      "count(*) must stay metadata-only under MOR state (GraftAggScan " +
        "only in the plan)")
    assert(spark.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM ucat.t")
      .as[Long].head() === (2L to 50L).map(_ * 10L).sum - 1L - 2L)
    // CoW UPDATE over the pending state: scan-all + per-class filter,
    // then the group replace folds everything — nothing lost, nothing
    // resurrected
    spark.sql("UPDATE ucat.t SET s = concat(s, '!') WHERE k <= 2")
    assert(spark.sql("SELECT count(*) AS n FROM ucat.t")
      .as[Long].head() === 51L)
    assert(spark.sql("SELECT s FROM ucat.t WHERE k = 1")
      .as[String].head() === "UP1!")
    assert(VersionedKeyedTable.snapshot(spark, dir).deletes.isEmpty,
      "the full CoW replace must consume the pending delete files")
  }

  test("the executor delete-set materialization is BOUNDED: a " +
      "backlog past spark.graft.mor.maxDeleteRows refuses the DSv2 " +
      "scan at PLAN time with 'compact first' (computed from manifest " +
      "delete counts — no executor ever builds the set), programmatic " +
      "reads and metadata COUNT(*) stay available, and compaction " +
      "restores the scan") {
    val base = Files.createTempDirectory("graft-morcap").toString
    spark.conf.set("spark.sql.catalog.capcat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.capcat.base", base)
    val dir = s"$base/t"
    VersionedKeyedTable.create(
      (1L to 500L).map(i => (i, i * 2L)).toDF("k", "v"),
      dir, "k", numBuckets = 2)
    VersionedKeyedTable.deleteMor(spark, dir,
      (1L to 100L).toDF("k"), "k")
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    spark.conf.set("spark.graft.mor.maxDeleteRows", "50")
    try {
      // the row scan refuses at plan time, loudly, with the remedy
      val e = intercept[Exception] {
        spark.sql("SELECT sum(v) AS s FROM capcat.t WHERE k > 0")
          .collect()
      }
      assert(causes(e).exists(m => m.contains("compact") &&
          m.contains("maxDeleteRows")),
        s"the refusal must name the remedy (got ${causes(e)})")
      // the programmatic read rides the anti-join (no set), unaffected
      assert(VersionedKeyedTable.read(spark, dir).count() === 400L)
      // metadata COUNT(*) never materializes the set either
      val cq = spark.sql("SELECT count(*) AS n FROM capcat.t")
      assert(cq.collect()(0).getLong(0) === 400L)
      // compaction folds the backlog and the scan returns
      VersionedKeyedTable.compact(spark, dir, "k")
      assert(spark.sql("SELECT sum(k) AS s FROM capcat.t WHERE k > 0")
        .collect()(0).getLong(0) === (101L to 500L).sum)
    } finally spark.conf.unset("spark.graft.mor.maxDeleteRows")
    // under the default bound a small backlog scans fine
    VersionedKeyedTable.deleteMor(spark, dir, Seq(500L).toDF("k"), "k")
    assert(spark.sql("SELECT sum(k) AS s FROM capcat.t WHERE k > 0")
      .collect()(0).getLong(0) === (101L to 499L).sum)
  }

  test("REGRESSION: sequence stamps OUTLIVE their deletes — an " +
      "all-new-keys upsertMor leaves stamped files with no pending " +
      "delete, and catalog scans (incl. storage-partitioned reads) " +
      "must still read every class") {
    val base = Files.createTempDirectory("graft-spjmor-cat").toString
    spark.conf.set("spark.sql.catalog.scat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.scat.base", base)
    val dir = s"$base/t"
    VersionedKeyedTable.create(
      (1L to 40L).map(i => (i, i * 2L)).toDF("k", "x"), dir, "k", 2)
    // ALL-NEW keys: prevRows empty -> NO delete file, but the
    // appended data files are sequence-stamped
    VersionedKeyedTable.upsertMor(spark, dir,
      (41L to 60L).map(i => (i, i * 2L)).toDF("k", "x"), "k")
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.deletes.isEmpty && snap.seqs.nonEmpty,
      "the regression precondition: stamps without pending deletes")
    // plain catalog scan sees both classes
    assert(spark.sql("SELECT count(*) AS n FROM scat.t WHERE x > 0")
      .as[Long].head() === 60L)
    // storage-partitioned (bucket-grouped) scan must too — the bug
    // was classes.head dropping every stamped file's rows
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM (SELECT k, max(x) FROM scat.t " +
          "GROUP BY k)").as[Long].head()
      assert(n === 60L,
        "bucket-grouped reads must include upsertMor-appended files")
    } finally
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("REGRESSION: maintenance and mutations with a WRONG key " +
      "column are refused (a wrong-key compact would read delete " +
      "files as all-null and resurrect deleted rows)") {
    val dir = freshDir()
    make(dir, 30L)
    VersionedKeyedTable.deleteMor(spark, dir, Seq(5L).toDF("k"), "k")
    intercept[IllegalArgumentException] {
      VersionedKeyedTable.compact(spark, dir, "v")
    }
    intercept[IllegalArgumentException] {
      VersionedKeyedTable.upsert(spark, dir,
        Seq(("x", 1L)).toDF("v", "k"), "v")
    }
    // the table is untouched: deletes pending, row still hidden
    assert(VersionedKeyedTable.snapshot(spark, dir).deletes.nonEmpty)
    assert(!contents(dir).contains(5L) && contents(dir).size === 29)
    // the RIGHT key still works
    VersionedKeyedTable.compact(spark, dir, "k")
    assert(VersionedKeyedTable.snapshot(spark, dir).deletes.isEmpty)
  }

  test("a wrong-key merge-on-read mutation names the entry point the " +
      "caller used") {
    val dir = freshDir()
    make(dir, 10L)
    val rows = Seq(("x", 1L)).toDF("v", "k")
    def refusal(call: => Unit): String =
      intercept[IllegalArgumentException](call).getMessage
    assert(refusal(VersionedKeyedTable.upsertMor(spark, dir, rows, "v"))
      .startsWith("requirement failed: upsertMor key 'v'"))
    assert(refusal(VersionedKeyedTable.mutateMor(spark, dir, rows,
      Some(Seq("x").toDF("v")), "v"))
      .startsWith("requirement failed: mutateMor key 'v'"))
  }

  test("REGRESSION: a zone-map-pruned SQL UPDATE rewrites ONLY the " +
      "covering files and loses no rows (group-based replace, not " +
      "whole-table replace)") {
    val base = Files.createTempDirectory("graft-rf-cat").toString
    spark.conf.set("spark.sql.catalog.rcat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rcat.base", base)
    val dir = s"$base/t"
    VersionedKeyedTable.create(
      (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "s"), dir, "k",
      numBuckets = 2)
    VersionedKeyedTable.cluster(spark, dir, "k", targetRowsPerFile = 200L)
    val filesBefore = VersionedKeyedTable.snapshot(spark, dir)
      .files.values.flatten.toSet
    spark.sql("UPDATE rcat.t SET s = 'X' WHERE k <= 3")
    // the whole point: every row survives; only matched rows changed
    assert(spark.sql("SELECT count(*) AS n FROM rcat.t")
      .as[Long].head() === 2000L)
    assert(spark.sql("SELECT count(*) AS n FROM rcat.t WHERE s = 'X'")
      .as[Long].head() === 3L)
    assert(spark.sql("SELECT s FROM rcat.t WHERE k = 1999")
      .as[String].head() === "v1999")
    // and the efficiency half: the clustered layout pruned the CoW
    // read, so MOST pre-update files survive untouched in the manifest
    val after = VersionedKeyedTable.snapshot(spark, dir)
    val surviving = after.files.values.flatten.toSet & filesBefore
    assert(surviving.size > filesBefore.size / 2,
      s"a key-ranged UPDATE must rewrite only covering files " +
        s"(${surviving.size}/${filesBefore.size} survived)")
    // MERGE rides the same group replace
    (2100L to 2105L).map(i => (i, s"m$i")).toDF("k", "s")
      .createOrReplaceTempView("mor_merge_src")
    spark.sql(
      """MERGE INTO rcat.t AS t USING mor_merge_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM rcat.t")
      .as[Long].head() === 2006L)
    // expression DELETE (not filter-expressible -> row-level path)
    spark.sql("DELETE FROM rcat.t WHERE k % 1000 = 7 AND length(s) > 1")
    assert(spark.sql("SELECT count(*) AS n FROM rcat.t")
      .as[Long].head() === 2004L)
  }

  test("SQL catalog over pending deletes: row scans filter, count(*) " +
      "stays metadata-only and exact, min/max declines to a real " +
      "scan, t$deletes lists the files, CoW UPDATE does not " +
      "resurrect, and delete.mode=mor defers SQL DELETE") {
    val base = Files.createTempDirectory("graft-mor-cat").toString
    spark.conf.set("spark.sql.catalog.mcat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mcat.base", base)
    val dir = s"$base/t"
    VersionedKeyedTable.create(
      (1L to 100L).map(i => (i, s"v$i", i * 2L)).toDF("k", "s", "x"),
      dir, "k", numBuckets = 2)
    VersionedKeyedTable.deleteMor(spark, dir,
      Seq(1L, 100L).toDF("k"), "k")
    // vectorized-path row scan: deleted keys filtered even when the
    // projection lacks the key column
    assert(spark.sql("SELECT s FROM mcat.t ORDER BY s LIMIT 1")
      .as[String].head() === "v10")
    assert(spark.sql("SELECT sum(x) AS s FROM mcat.t WHERE k <= 5")
      .as[Long].head() === (2L to 5L).map(_ * 2L).sum)
    // count(*): still answered from the manifest, zero files planned
    val cq = spark.sql("SELECT count(*) AS n FROM mcat.t")
    assert(cq.collect()(0).getLong(0) === 98L)
    assert(graft.sinks.v2.GraftScanInspect.aggScans(cq)
        .exists(_.totalFiles > 0) &&
        graft.sinks.v2.GraftScanInspect.rowScans(cq).isEmpty,
      "count(*) must stay metadata-only under MOR deletes " +
        "(GraftAggScan only in the plan)")
    // min/max: the deleted extremum makes envelope folds unsound —
    // declines to a scan and returns the LIVE extremum
    assert(spark.sql("SELECT min(k) AS mn, max(k) AS mx FROM mcat.t")
      .as[(Long, Long)].head() === ((2L, 99L)))
    // metadata table
    assert(spark.sql("SELECT sum(rows) AS r FROM mcat.`t$deletes`")
      .as[Long].head() === 2L)
    // CoW UPDATE (the _file scan) must not resurrect deleted keys
    spark.sql("UPDATE mcat.t SET s = concat(s, '!') WHERE k <= 3")
    assert(spark.sql("SELECT count(*) AS n FROM mcat.t")
      .as[Long].head() === 98L)
    assert(spark.sql("SELECT s FROM mcat.t WHERE k = 2")
      .as[String].head() === "v2!")
    assert(spark.sql("SELECT count(*) AS n FROM mcat.t WHERE k = 1")
      .as[Long].head() === 0L)
    // SQL DELETE under spark.graft.delete.mode=mor defers: data files
    // stay put, a delete file appears
    val beforeFiles = VersionedKeyedTable.snapshot(spark, dir).files
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql("DELETE FROM mcat.t WHERE k = 50")
    finally spark.conf.unset("spark.graft.delete.mode")
    val after = VersionedKeyedTable.snapshot(spark, dir)
    assert(after.files === beforeFiles &&
      after.deletes.values.flatten.nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM mcat.t")
      .as[Long].head() === 97L)
  }
}

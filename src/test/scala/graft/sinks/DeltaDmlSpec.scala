package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark

/** DELTA-BASED SQL DML on merge-on-read tables (SupportsDelta): a
  * surgical UPDATE/MERGE/DELETE on a `write.mode=mor` table writes
  * O(matched rows) — appended data files + equality-delete entries in
  * ONE commit — instead of rewriting every file its scan read. */
class DeltaDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(): (String, String) = {
    val base = Files.createTempDirectory("graft-deltadml").toString
    val cat = "gd" + scala.util.Random.alphanumeric.take(6)
      .mkString.toLowerCase
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    (cat, base)
  }

  private def mk(cat: String, base: String, name: String)
      : String = {
    val dir = s"$base/$name"
    spark.sql(s"CREATE TABLE $cat.$name (k BIGINT, v BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('write.mode'='mor')")
    (1L to 100L).map(i => (i, i * 10L, s"s$i")).toDF("k", "v", "s")
      .createOrReplaceTempView(s"graft_dml_src_$name")
    spark.sql(s"INSERT INTO $cat.$name " +
      s"SELECT k, v, s FROM graft_dml_src_$name")
    dir
  }

  private def dataFiles(dir: String): Set[String] =
    VersionedKeyedTable.snapshot(spark, dir).files.values.flatten.toSet

  test("SQL UPDATE on a write.mode=mor table is merge-on-read: every " +
      "pre-existing data file survives, the matched rows land as an " +
      "appended file + delete entries in ONE commit, and results are " +
      "exact (metadata count included)") {
    val (cat, base) = freshCat()
    val dir = mk(cat, base, "u")
    val before = dataFiles(dir)
    val vBefore = VersionedKeyedTable.snapshot(spark, dir).version
    spark.sql(s"UPDATE $cat.u SET v = v + 1, s = concat(s, '!') " +
      "WHERE k <= 5")
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.version === vBefore + 1, "one commit")
    assert(before.subsetOf(snap.files.values.flatten.toSet),
      "no pre-existing data file is rewritten or dropped")
    assert(snap.deletes.valuesIterator.flatten.nonEmpty,
      "the matched rows' old images die via delete entries")
    assert(spark.sql(s"SELECT v, s FROM $cat.u WHERE k = 3")
      .collect()(0).toSeq === Seq(31L, "s3!"))
    assert(spark.sql(s"SELECT v FROM $cat.u WHERE k = 50")
      .collect()(0).getLong(0) === 500L, "unmatched rows untouched")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.u")
      .collect()(0).getLong(0) === 100L,
      "metadata count stays exact (each delete kills exactly one row)")
    // compaction folds the pending state without changing the answer
    VersionedKeyedTable.compact(spark, dir, "k")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.u")
      .collect()(0).getLong(0) ===
      (1L to 100L).map(i => if (i <= 5) i * 10 + 1 else i * 10).sum)
  }

  test("SQL MERGE INTO with all three clauses on a mor table: one " +
      "commit, appended-only, deletes/updates/inserts all exact; an " +
      "expression DELETE (not filter-translatable) also rides the " +
      "delta path with ZERO data files written") {
    val (cat, base) = freshCat()
    val dir = mk(cat, base, "m")
    Seq((1L, -1L, "upd"), (2L, -2L, "del"), (200L, -3L, "ins"))
      .toDF("mk", "mv", "op").createOrReplaceTempView("graft_dml_feed")
    val before = dataFiles(dir)
    val vBefore = VersionedKeyedTable.snapshot(spark, dir).version
    spark.sql(
      s"""MERGE INTO $cat.m t USING graft_dml_feed f ON t.k = f.mk
          WHEN MATCHED AND f.op = 'del' THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = f.mv
          WHEN NOT MATCHED THEN INSERT (k, v, s) VALUES (f.mk, f.mv, f.op)""")
    val snap = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap.version === vBefore + 1, "one commit for the MERGE")
    assert(before.subsetOf(snap.files.values.flatten.toSet))
    val got = spark.sql(s"SELECT k, v FROM $cat.m WHERE k IN (1, 2, 200)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> -1L, 200L -> -3L))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.m")
      .collect()(0).getLong(0) === 100L) // -1 delete, +1 insert
    // an expression predicate can't reach deleteWhere — the row-level
    // DELTA delete writes ONLY delete files
    val files2 = dataFiles(dir)
    spark.sql(s"DELETE FROM $cat.m WHERE k % 10 = 7")
    val snap3 = VersionedKeyedTable.snapshot(spark, dir)
    assert(snap3.files.values.flatten.toSet === files2,
      "a pure delta DELETE adds no data file")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.m")
      .collect()(0).getLong(0) === 90L)
  }

  test("a KEY-REASSIGNING UPDATE works on the delta path (update = " +
      "delete old id + insert new image, one commit) — the move the " +
      "CoW merge contract must refuse") {
    val (cat, base) = freshCat()
    val dir = mk(cat, base, "kr")
    spark.sql(s"UPDATE $cat.kr SET k = k + 1000 WHERE k <= 3")
    val ks = spark.sql(s"SELECT k FROM $cat.kr WHERE k <= 3 OR k > 1000")
      .collect().map(_.getLong(0)).toSet
    assert(ks === Set(1001L, 1002L, 1003L),
      "old keys die, reassigned keys live")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.kr")
      .collect()(0).getLong(0) === 100L)
    assert(spark.sql(s"SELECT v FROM $cat.kr WHERE k = 1001")
      .collect()(0).getLong(0) === 10L, "the moved row keeps its image")
  }

  test("the keyed contract holds everywhere the non-nullable key " +
      "schema promises it: create/replaceAll drop null-keyed rows " +
      "like upsert always has (no unaddressable row can exist)") {
    val dir = Files.createTempDirectory("graft-nullkey").toString + "/t"
    VersionedKeyedTable.create(
      Seq((Some(1L), 10L), (None, 99L), (Some(2L), 20L))
        .toDF("k", "v"), dir, "k", 2)
    assert(VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    VersionedKeyedTable.replaceAll(spark, dir,
      Seq((Some(3L), 30L), (None, 98L)).toDF("k", "v"), "k")
    assert(VersionedKeyedTable.read(spark, dir)
      .as[(Long, Long)].collect().toMap === Map(3L -> 30L))
  }

  test("copy-on-write upsert and merge drop null-keyed rows too, so a " +
      "capture-less commit's snapshot diff reports only its real change") {
    val dir = Files.createTempDirectory("graft-nullkey-cow").toString + "/t"
    VersionedKeyedTable.create(
      Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "v"), dir, "k", 2)
    val nullRow = Seq((Option.empty[Long], "n")).toDF("k", "v")
    VersionedKeyedTable.upsert(spark, dir, nullRow, "k")
    VersionedKeyedTable.merge(spark, dir, nullRow, "k")
    def rows = VersionedKeyedTable.read(spark, dir)
      .as[(Option[Long], String)].collect().toSet
    assert(rows === Set((Some(1L), "a"), (Some(2L), "b")))
    val before = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.upsert(spark, dir,
      Seq((Some(1L), "u")).toDF("k", "v"), "k", captureChanges = false)
    val changes = VersionedKeyedTable.changesBetween(spark, dir, "k",
        before, before + 1)
      .collect().map(r => (Option(r.get(0)), r.getString(1)))
    assert(changes.toSeq === Seq((Some(1L), "update")),
      changes.mkString(", "))
  }

  test("the serializable gate: a mutateMor pinned to a stale snapshot " +
      "fails loudly instead of re-applying derived rows") {
    val dir = Files.createTempDirectory("graft-deltagate").toString + "/t"
    VersionedKeyedTable.create(
      (1L to 20L).map(i => (i, i)).toDF("k", "v"), dir, "k", 2)
    val v1 = VersionedKeyedTable.snapshot(spark, dir).version
    VersionedKeyedTable.upsert(spark, dir,
      Seq((1L, 99L)).toDF("k", "v"), "k") // someone else commits
    val e = intercept[IllegalArgumentException] {
      VersionedKeyedTable.mutateMor(spark, dir,
        Seq((2L, -2L)).toDF("k", "v"),
        Some(Seq(3L).toDF("k")), "k",
        expectedVersion = Some(v1))
    }
    assert(e.getMessage.contains("serializable conflict"))
    // and the session override routes row-level ops back to CoW even
    // on a mor table (the dense-mutation escape hatch)
    val (cat, base) = freshCat()
    val dir2 = mk(cat, base, "ov")
    val before = dataFiles(dir2)
    spark.conf.set("spark.graft.rowlevel.mode", "cow")
    try spark.sql(s"UPDATE $cat.ov SET v = -v WHERE k <= 5")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    assert(dataFiles(dir2) !== before,
      "the cow override must take the group-based replace path")
    assert(spark.sql(s"SELECT v FROM $cat.ov WHERE k = 2")
      .collect()(0).getLong(0) === -20L)
  }
}

package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A [[VersionedKeyedTable]]'s commit log as a SUBSCRIBABLE CHANGE
  * FEED — the micro-batch discipline [[IncrementalView]] pioneered,
  * extracted so ANY downstream consumer can ride it: a catch-up hands
  * the consumer the NET change of the whole span (watermark, latest]
  * as one CDF, and the consumer stamps `latest` ATOMICALLY with its
  * own effect (the stamp IS the watermark — a crashed consumer
  * resumes exactly at its last durable stamp, applies the interrupted
  * span again, and never double-applies a committed one). This is the
  * event-log face of the store: the base table is the topic,
  * committed versions are offsets, and `changesBetween` is the fetch.
  *
  * Built-in consumer: [[syncReplica]] — a filtered/projected replica
  * table kept in sync by ONE three-clause merge per catch-up (inserts
  * and updates upsert, deletes delete, rows crossing the replica's
  * filter enter and leave), with the stamp riding the merge's own
  * commit metadata. The downstream-sync shape every derived store
  * needs (a serving copy, a region mirror, a compliance-scoped
  * subset).
  *
  * Scale: a consumer pays O(its span's changed rows) per catch-up —
  * never a base re-scan — and one CDF read plus one commit however
  * many base versions it missed: `changesBetween` collapses the span
  * per key, so a far-behind consumer's plan stays the same size.
  * (Reference analogue: the reference had no incremental surface at
  * all — a changed input meant a full re-run of the MapReduce; the
  * CDF catch-up is what replaces those re-runs at 100 TB.)
  */
object ChangeFeed {

  /** Commit-metadata key a replica stamps with the base version its
    * sync commit applied. */
  val AppliedBaseKey = "cdc.appliedBase"

  /** Catch a consumer up from `fromVersion`: resolve the base's
    * latest version and, when it is ahead, invoke `applySpan(from,
    * latest)` ONCE for the whole span; returns the latest version.
    * The span's net change is what `changesBetween` yields — the
    * first change's `_prev` and the last change's new value per key,
    * over the lineage chain (an out-of-lineage commit never injects
    * its delta) or, without a chain, a snapshot diff. A watermark
    * whose manifest was vacuumed fails loudly in `changesBetween`
    * ("no complete version"), never by skipping changes. */
  def walkSpans(spark: SparkSession, baseDir: String,
      fromVersion: Long)(applySpan: (Long, Long) => Unit): Long = {
    val latest = VersionedKeyedTable.snapshot(spark, baseDir).version
    if (latest > fromVersion) applySpan(fromVersion, latest)
    latest
  }

  /** The base version a consumer table DURABLY reflects: the most
    * recent `stampKey` in its commit lineage (non-sync commits — a
    * compaction, a restore — carry no stamp; the walk follows base
    * pointers until it finds one). None when no commit ever stamped. */
  def stampedWatermark(spark: SparkSession, dir: String,
      stampKey: String = AppliedBaseKey): Option[Long] = {
    var cur = VersionedKeyedTable.snapshot(spark, dir)
    while (true) {
      cur.meta.get(stampKey).flatMap(_.toLongOption) match {
        case some @ Some(_) => return some
        case None =>
          cur.meta.get(VersionedKeyedTable.BaseKey)
            .flatMap(_.toLongOption) match {
            case None => return None
            case Some(b) =>
              cur = VersionedKeyedTable.snapshot(spark, dir, Some(b))
          }
      }
    }
    None // unreachable
  }

  /** Create-or-catch-up a REPLICA of `baseDir` at `replicaDir`,
    * restricted to rows satisfying `rowFilter` (evaluated on the
    * row's CURRENT values — an update crossing the predicate enters
    * or leaves the replica accordingly). First call materializes the
    * filtered snapshot and stamps its version; later calls consume
    * the net CDF of everything committed since the stamp, applied as
    * ONE merge commit whose metadata stamp makes the sync exactly-once
    * across crashes — a re-invocation after a crashed catch-up resumes
    * at the stamp, and a replayed span's merge re-applies puts
    * idempotently. Returns the base version the replica now
    * reflects. */
  def syncReplica(spark: SparkSession, baseDir: String,
      replicaDir: String, keyCol: String,
      rowFilter: Column = lit(true),
      numBuckets: Int = 16): Long = {
    if (KeyedTable.readMeta(spark, replicaDir).isEmpty) {
      val snap = VersionedKeyedTable.snapshot(spark, baseDir)
      val rows = VersionedKeyedTable
        .read(spark, baseDir, Some(snap.version)).where(rowFilter)
      VersionedKeyedTable.create(rows, replicaDir, keyCol, numBuckets,
        commitMeta = Map(AppliedBaseKey -> snap.version.toString))
      return snap.version
    }
    val from = stampedWatermark(spark, replicaDir).getOrElse(
      throw new IllegalStateException(
        s"replica at $replicaDir carries no $AppliedBaseKey stamp — " +
          "was it created by ChangeFeed.syncReplica?"))
    walkSpans(spark, baseDir, from) { (a, b) =>
      applySpanToReplica(spark, baseDir, replicaDir, keyCol, rowFilter,
        a, b)
    }
  }

  private def applySpanToReplica(spark: SparkSession, baseDir: String,
      replicaDir: String, keyCol: String, rowFilter: Column,
      fromVersion: Long, toVersion: Long): Unit = {
    // idempotence guard: a span at or below the stamp already applied
    val stamp = stampedWatermark(spark, replicaDir)
    if (stamp.exists(_ >= toVersion)) return
    val cdf = VersionedKeyedTable.changesBetween(
      spark, baseDir, keyCol, fromVersion, toVersion)
    val dataCols = cdf.columns.filter(c =>
      c != keyCol && c != "change_type" && !c.endsWith("_prev")).toSeq
    // `keep`: does the row's NEW state belong in the replica? (null
    // for deletes — the matched-delete clause fires before it matters)
    val src = cdf.withColumn("__keep",
      when(col("change_type") === "delete", lit(false))
        .otherwise(rowFilter))
    VersionedKeyedTable.merge(spark, replicaDir, src, keyCol,
      // matched: drop on base-delete OR on an update that crossed out
      whenMatchedDelete = Some(!col("s.__keep")),
      whenMatchedUpdate =
        dataCols.map(c => c -> col(s"s.$c")).toMap,
      // not matched: insert only rows entering the replica (an insert
      // or an update crossing IN; a delete of a never-replicated row
      // inserts nothing)
      insertNotMatchedWhen = Some(col("s.__keep")),
      commitMeta = Map(AppliedBaseKey -> toVersion.toString),
      carryCols =
        (Seq("change_type", "__keep") ++ dataCols.map(_ + "_prev")).toSet)
  }
}

package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL VIEW MAINTENANCE over a [[VersionedKeyedTable]]: a
  * materialized per-group (count, sum) aggregate kept current by
  * applying only each refresh span's CHANGE DATA FEED — never by
  * re-aggregating the base table. This is the classic delta-rule for
  * distributive aggregates (self-maintainable views: inserts, deletes
  * and updates each contribute a signed delta; groups whose count
  * reaches zero are deleted), re-expressed as one CDF scan + one
  * grouped aggregate + one three-clause [[VersionedKeyedTable.merge]].
  *
  * The summed column must be an integer/long (exact, order-independent
  * arithmetic): incremental addition applies deltas in a different
  * order than a full recompute, so floating sums would drift —
  * callers carry money as cents. (Reference analogue: the combiner
  * contract — partial aggregates must be associative/commutative,
  * CombinerContext in java/.../Combiners; same algebra, applied
  * across table versions instead of across shards.)
  *
  * Scale: a refresh reads ONLY the span's touched buckets (the CDF
  * contract), aggregates the delta — O(changed rows) — and merges
  * into O(changed groups) of the view's buckets. A 100 TB base with a
  * per-hour delta pays per-hour costs, never a re-scan. The view is
  * itself a VersionedKeyedTable: refreshes are atomic commits,
  * readers are snapshot-isolated, and a crashed refresh leaves only
  * unreferenced files.
  */
object IncrementalView {

  /** Create the view table at `viewDir` from the base's CURRENT state:
    * one full aggregate (the only table-scale pass the view ever
    * pays), grouped by `groupCol`, counting rows and summing the
    * integral `valueCol`. Returns the base version the view now
    * reflects — the caller's refresh watermark. */
  /** Commit-metadata key recording the base version a view commit
    * reflects — stamped atomically with every create/refresh commit,
    * so the view's own log IS the refresh watermark (see
    * [[committedWatermark]]). */
  val AppliedBaseKey = "ivm.appliedBase"

  def createFrom(spark: SparkSession, baseDir: String, viewDir: String,
      groupCol: String, valueCol: String,
      numBuckets: Int = 16): Long = {
    val snap = VersionedKeyedTable.snapshot(spark, baseDir)
    val agg = VersionedKeyedTable.read(spark, baseDir, Some(snap.version))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"))
    VersionedKeyedTable.create(agg, viewDir, groupCol, numBuckets,
      commitMeta = Map(AppliedBaseKey -> snap.version.toString))
    snap.version
  }

  /** The base version the view DURABLY reflects: the most recent
    * stamped watermark in the view's commit lineage. Non-refresh
    * commits to the view (a compaction, a restore) carry no stamp —
    * the walk follows base pointers back until it finds one, so
    * maintenance on the view never erases the watermark. Exactly-once
    * refresh discipline across crashes falls out of commit atomicity:
    * a refresh that died before its merge commit left no stamp (the
    * span re-applies, correctly), one that died after left the stamp
    * (the span is skipped). Empty-delta spans commit nothing and
    * re-apply harmlessly (their CDF is empty by definition). */
  def committedWatermark(spark: SparkSession, viewDir: String): Long =
    committedWatermarkOpt(spark, viewDir).getOrElse(
      throw new IllegalStateException(
        s"view at $viewDir carries no $AppliedBaseKey stamp — was it " +
          "created by IncrementalView.createFrom?"))

  /** [[committedWatermark]] starting from a PINNED view snapshot
    * (never re-reads the view's head): the serving path's freshness
    * check must pair the watermark with the exact snapshot it will
    * read, or a refresh racing in between could report a NEWER
    * watermark than the files being served. */
  def watermarkOf(spark: SparkSession, viewDir: String,
      from: VersionedKeyedTable.Snapshot): Option[Long] = {
    var cur = from
    while (true) {
      cur.meta.get(AppliedBaseKey).map(_.toLong) match {
        case some @ Some(_) => return some
        case None =>
          cur.meta.get(VersionedKeyedTable.BaseKey)
            .flatMap(_.toLongOption) match {
            case None => return None
            case Some(b) =>
              cur = VersionedKeyedTable.snapshot(spark, viewDir, Some(b))
          }
      }
    }
    None // unreachable
  }

  private def committedWatermarkOpt(spark: SparkSession,
      viewDir: String): Option[Long] =
    watermarkOf(spark, viewDir,
      VersionedKeyedTable.snapshot(spark, viewDir))

  /** Advance the view from base version `fromVersion` to `toVersion`
    * using only the CDF: every changed row contributes its OLD value
    * negatively (delete/update) on its old group and its NEW value
    * positively (insert/update) on its new group — group-moving
    * updates therefore maintain both groups. Idempotence is the
    * caller's watermark discipline: apply each span exactly once, in
    * order. */
  /** SINGLE-MAINTAINER exclusion for a view: refreshes are guarded by
    * an atomic-exclusive lock file under the view dir, because two
    * concurrent maintainers would both pass the watermark guard and
    * the loser's optimistic merge retry would re-apply its
    * NON-IDEMPOTENT delta onto the winner's already-refreshed state —
    * double counts. A second maintainer fails LOUDLY instead; a lock
    * older than `staleLockMs` (a crashed maintainer — refreshes are
    * minutes, not hours) is stolen with a log line. The lock file is
    * created through [[KeyedTable.tryCreateMarker]] (an atomic
    * CREATE_NEW on `file://`, where Hadoop's `createNewFile` is
    * exists-then-create and two maintainers could both win).
    * Reentrant within a thread so refreshToLatest acquires once. */
  private val lockHeld = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private val staleLockMs = 600000L

  private[sinks] def withMaintainerLock[T](spark: SparkSession,
      viewDir: String)(body: => T): T =
    if (lockHeld.get) body
    else {
      val fs = new org.apache.hadoop.fs.Path(viewDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = new org.apache.hadoop.fs.Path(viewDir, "_maintainer.lock")
      def acquire(): Boolean = KeyedTable.tryCreateMarker(fs, lock,
        s"pid=${ProcessHandle.current().pid()} " +
          s"acquired=${System.currentTimeMillis()}")
      var got = acquire()
      if (!got && fs.exists(lock) && System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime > staleLockMs) {
        // provably stale: the holder crashed long ago — steal loudly
        System.err.println(s"[incremental-view] stealing stale " +
          s"maintainer lock at $lock")
        fs.delete(lock, false)
        got = acquire()
      }
      if (!got) throw new IllegalStateException(
        s"another maintainer holds the refresh lock at $lock — " +
          "views are single-maintainer (concurrent refreshes would " +
          "double-apply deltas); wait for it or remove a stale lock")
      lockHeld.set(true)
      try body finally {
        lockHeld.set(false)
        fs.delete(lock, false): Unit
      }
    }

  def refresh(spark: SparkSession, baseDir: String, viewDir: String,
      baseKey: String, groupCol: String, valueCol: String,
      fromVersion: Long, toVersion: Long): Unit
      = withMaintainerLock(spark, viewDir) {
    if (fromVersion >= toVersion) return
    // idempotence guard: a span at or below the view's durable
    // watermark has already been applied — a crashed-and-retried
    // maintainer (or a caller holding a stale watermark) is a no-op,
    // never a double count. When a durable watermark exists it is
    // AUTHORITATIVE over the caller's fromVersion in both directions:
    // a span starting below it would re-apply the committed prefix
    // (double count), and a span starting above it would silently skip
    // the (watermark, from] changes and then stamp toVersion —
    // permanently corrupting the view. Either way the only correct
    // span is (watermark, to]. NOTE this is crash-retry protection for
    // a SINGLE maintainer; concurrent maintainers are excluded by the
    // refresh lock (see withMaintainerLock).
    val watermark = committedWatermarkOpt(spark, viewDir)
    if (watermark.exists(_ >= toVersion)) return
    val effFrom = watermark.getOrElse(fromVersion)
    val cdf = VersionedKeyedTable.changesBetween(
      spark, baseDir, baseKey, effFrom, toVersion)
    val oldSide = cdf
      .where(col("change_type").isin("delete", "update"))
      .select(col(s"${groupCol}_prev").as(groupCol),
        (-col(s"${valueCol}_prev")).as("d_total"), lit(-1L).as("d_cnt"))
    val newSide = cdf
      .where(col("change_type").isin("insert", "update"))
      .select(col(groupCol), col(valueCol).as("d_total"),
        lit(1L).as("d_cnt"))
    val delta = oldSide.unionByName(newSide)
      .groupBy(col(groupCol))
      .agg(sum(col("d_cnt")).as("cnt"), sum(col("d_total")).as("total"))
      // all-zero deltas (an update within the group at the same value
      // never reaches here, but offsetting moves can): dropping them
      // avoids touching buckets the span did not net-change
      .where(col("cnt") =!= 0L || col("total") =!= 0L)
    VersionedKeyedTable.merge(spark, viewDir, delta, groupCol,
      whenMatchedDelete = Some(col("t.cnt") + col("s.cnt") === 0L),
      whenMatchedUpdate = Map(
        "cnt" -> (col("t.cnt") + col("s.cnt")),
        "total" -> (col("t.total") + col("s.total"))),
      // the watermark advances ATOMICALLY with the delta application:
      // a crash leaves either both or neither — exactly-once refresh
      commitMeta = Map(AppliedBaseKey -> toVersion.toString))
  }

  /** Crash-safe [[refreshToLatest]]: the starting watermark comes from
    * the view's own committed log, so a restarted maintainer resumes
    * exactly where the last durable refresh left off — an interrupted
    * span re-applies, a committed one never does. */
  def refreshFromCommitted(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCol: String): Long =
    refreshToLatest(spark, baseDir, viewDir, baseKey, groupCol,
      valueCol, committedWatermark(spark, viewDir))

  /** Refresh through everything the base committed between the
    * watermark and its latest version as ONE span (watermark, latest]:
    * one CDF read, one delta aggregate and one merge commit stamped
    * with `latest`, however many base versions the span holds — the
    * count/sum delta rule is linear and the CDF already nets each key
    * over the span. Returns the new watermark. */
  def refreshToLatest(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCol: String, fromVersion: Long): Long
      = withMaintainerLock(spark, viewDir) {
    graft.sinks.ChangeFeed.walkSpans(spark, baseDir, fromVersion) {
      (a, b) =>
        refresh(spark, baseDir, viewDir, baseKey, groupCol, valueCol,
          a, b)
    }
  }

  // ---- FULL aggregate view: count, sum, min, max (avg derived) -----

  /** [[createFrom]] maintaining (cnt, total, mn, mx) per group — avg
    * is total/cnt at read time, the standard derived-pair form. Min
    * and max are NOT self-maintainable under deletes (losing a
    * group's extremum says nothing about the runner-up), so
    * [[refreshFull]] pairs the delta rule with a bounded per-group
    * re-derive — the classic escape for non-distributive aggregates. */
  def createFromFull(spark: SparkSession, baseDir: String,
      viewDir: String, groupCol: String, valueCol: String,
      numBuckets: Int = 16): Long = {
    val snap = VersionedKeyedTable.snapshot(spark, baseDir)
    val agg = VersionedKeyedTable.read(spark, baseDir, Some(snap.version))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    VersionedKeyedTable.create(agg, viewDir, groupCol, numBuckets,
      commitMeta = Map(AppliedBaseKey -> snap.version.toString))
    snap.version
  }

  /** Driver-side cap on the re-derive group list: below it the
    * affected groups ride an `isin` filter through the Catalyst table
    * path (file-pruned when the base is clusterBy'd on the group
    * column); above it a semi join — same result, no driver list. */
  private[sinks] var rederiveIsinCap = 10000

  /** The affected groups as `redo0 = true` flags for the merge source's
    * left join. A bounded list is broadcast: the checkpoint's size
    * estimate is the product of the delete-side and view relations it
    * joined, so it grows with the view's group count and would flip
    * the join to a shuffle — two more jobs per refresh — as the base
    * grows, though the rows it holds do not. */
  private def redoFlags(aff: DataFrame, bounded: Boolean): DataFrame = {
    val flags = aff.withColumn("redo0", lit(true))
    if (bounded) broadcast(flags) else flags
  }

  /** [[refresh]] for the full view. Count and sum advance by the
    * signed delta rule exactly as before. Min/max advance in two
    * tiers:
    *
    *  - inserts (and updates' new values) can only EXTEND a group's
    *    envelope: `mn' = least(mn, min(new values))` — pure delta,
    *    no base access;
    *  - deletes (and updates' old values) can BREAK it: a group whose
    *    deleted values reach its recorded mn or mx loses the proof of
    *    its extremum, so exactly those groups re-aggregate min/max
    *    from the base AT the span's target version — O(affected
    *    groups' rows), never O(table), and file-pruned when the base
    *    is clustered by the group column (the zone-map `isin` path).
    *
    * Both tiers land in ONE merge commit (re-derive flags ride carry
    * columns), so the watermark stays atomic with the application —
    * the exactly-once contract is unchanged. */
  def refreshFull(spark: SparkSession, baseDir: String, viewDir: String,
      baseKey: String, groupCol: String, valueCol: String,
      fromVersion: Long, toVersion: Long): Unit
      = withMaintainerLock(spark, viewDir) {
    if (fromVersion >= toVersion) return
    val watermark = committedWatermarkOpt(spark, viewDir)
    if (watermark.exists(_ >= toVersion)) return
    val effFrom = watermark.getOrElse(fromVersion)
    val cdf = VersionedKeyedTable.changesBetween(
        spark, baseDir, baseKey, effFrom, toVersion)
      .localCheckpoint(true) // two scan branches; compute the span once
    // count/sum deltas, the new-value envelopes, AND the deleted-value
    // envelopes (break tier) all ride ONE union + ONE grouped
    // aggregate: the old/new sides tag their contribution (`nv` = new
    // value, null on the old side; `ov` = deleted/old value, null on
    // the new side) and min/max ignore the other side's nulls. Round
    // 14 folded delta+newMM; round 15 folds delMM's separate
    // aggregate + its localCheckpoint in too, and checkpoints the one
    // combined result so the merge source reads a materialized
    // relation instead of re-planning the union-aggregate (two fewer
    // job chains per refresh span).
    val oldSide = cdf
      .where(col("change_type").isin("delete", "update"))
      .select(col(s"${groupCol}_prev").as(groupCol),
        (-col(s"${valueCol}_prev")).as("d_total"), lit(-1L).as("d_cnt"),
        lit(null).cast(cdf.schema(valueCol).dataType).as("nv"),
        col(s"${valueCol}_prev").as("ov"))
    val newSide = cdf
      .where(col("change_type").isin("insert", "update"))
      .select(col(groupCol), col(valueCol).as("d_total"),
        lit(1L).as("d_cnt"), col(valueCol).as("nv"),
        lit(null).cast(cdf.schema(valueCol).dataType).as("ov"))
    val deltaMM = oldSide.unionByName(newSide)
      .groupBy(col(groupCol))
      .agg(sum(col("d_cnt")).as("cnt"), sum(col("d_total")).as("total"),
        min(col("nv")).as("mn"), max(col("nv")).as("mx"),
        min(col("ov")).as("del_mn"), max(col("ov")).as("del_mx"))
      .localCheckpoint(true)
    // break tier: groups whose DELETED values reach the recorded
    // envelope (old group for updates — a group-moving update is a
    // delete on its old group). A group whose deleted values are all
    // null can never break an envelope (the old `broken` null
    // comparison dropped it too), so the isNotNull filter is exact.
    val delMM = deltaMM.where(col("del_mn").isNotNull)
      .select(col(groupCol), col("del_mn"), col("del_mx"))
    // the recorded envelopes of EXACTLY the delete-touched groups:
    // the view is KEYED by the group column, so a bounded group list
    // rides the bucket+zone+bloom point-lookup path — O(probed
    // buckets' surviving files), not a view scan that would grow with
    // the group count; unbounded lists fall back to the full read.
    // ONE take(cap+1) both bounds the list and fetches it (the
    // count()+collect() pair cost two jobs per span), and a span with
    // NO delete-side rows (pure inserts — the common append span)
    // skips the whole break tier: no view read, no affected
    // checkpoint, no base access.
    val delKeyRows = delMM.select(col(groupCol))
      .take(rederiveIsinCap + 1)
    val affected: Option[DataFrame] =
      if (delKeyRows.isEmpty) None
      else {
        val boundedDel = delKeyRows.length <= rederiveIsinCap
        val vSchema = VersionedKeyedTable.read(spark, viewDir).schema
        val gType = vSchema(groupCol).dataType
        val integralG = Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType).contains(gType)
        val stringG = gType == org.apache.spark.sql.types.StringType
        val full =
          if (!boundedDel || !(integralG || stringG))
            VersionedKeyedTable.read(spark, viewDir)
          else if (integralG)
            VersionedKeyedTable.readKeys(spark, viewDir, groupCol,
              delKeyRows.map(_.get(0).asInstanceOf[Number].longValue)
                .toSeq)
          else
            VersionedKeyedTable.readKeysStr(spark, viewDir, groupCol,
              delKeyRows.map(_.getString(0)).toSeq)
        val viewCur = full.select(col(groupCol), col("mn"), col("mx"))
        Some(delMM.join(viewCur, Seq(groupCol))
          .where(col("del_mn") <= col("mn") || col("del_mx") >= col("mx"))
          .select(col(groupCol))
          .localCheckpoint(true))
      }
    val affKeyRows = affected.map(_.take(rederiveIsinCap + 1))
      .getOrElse(Array.empty[org.apache.spark.sql.Row])
    val source =
      if (affKeyRows.isEmpty)
        // no broken envelope: count/sum deltas + extend-only min/max
        deltaMM.select(col(groupCol),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            coalesce(col("total"), lit(0L)).as("total"),
            col("mn"), col("mx"),
            lit(false).as("redo"),
            lit(null).cast(deltaMM.schema("mn").dataType).as("abs_mn"),
            lit(null).cast(deltaMM.schema("mx").dataType).as("abs_mx"))
      else {
        val aff = affected.get
        val boundedAff = affKeyRows.length <= rederiveIsinCap
        val baseAt =
          if (boundedAff)
            // bounded list: the Catalyst table path prunes base files
            // by the group column's zone maps (clusterBy layout)
            // before any split is planned
            VersionedKeyedTable.table(spark, baseDir, baseKey,
              Some(toVersion))
              .where(col(groupCol).isin(affKeyRows.map(_.get(0)).toSeq: _*))
          else
            VersionedKeyedTable.read(spark, baseDir, Some(toVersion))
              .join(aff, Seq(groupCol), "left_semi")
        val red = baseAt.groupBy(col(groupCol))
          .agg(min(col(valueCol)).as("abs_mn"),
            max(col(valueCol)).as("abs_mx"))
          .withColumn("redo", lit(true))
        deltaMM
          .join(redoFlags(aff, boundedAff), Seq(groupCol), "left")
          .join(red, Seq(groupCol), "left")
          .select(col(groupCol),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            coalesce(col("total"), lit(0L)).as("total"),
            col("mn"), col("mx"),
            coalesce(col("redo0"), lit(false)).as("redo"),
            col("abs_mn"), col("abs_mx"))
      }
    VersionedKeyedTable.merge(spark, viewDir, source, groupCol,
      whenMatchedDelete = Some(col("t.cnt") + col("s.cnt") === 0L),
      whenMatchedUpdate = Map(
        "cnt" -> (col("t.cnt") + col("s.cnt")),
        "total" -> (col("t.total") + col("s.total")),
        // redo: the re-derived absolute envelope (exact at toVersion);
        // else extend-only (least/greatest ignore a null s side)
        "mn" -> when(col("s.redo"), col("s.abs_mn"))
          .otherwise(least(col("t.mn"), col("s.mn"))),
        "mx" -> when(col("s.redo"), col("s.abs_mx"))
          .otherwise(greatest(col("t.mx"), col("s.mx")))),
      commitMeta = Map(AppliedBaseKey -> toVersion.toString),
      carryCols = Set("redo", "abs_mn", "abs_mx"))
  }

  /** Crash-safe full-view catch-up off the view's own durable
    * watermark — [[refreshFromCommitted]] for the (cnt, total, mn,
    * mx) view. */
  def refreshFromCommittedFull(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCol: String): Long =
    refreshToLatestFull(spark, baseDir, viewDir, baseKey, groupCol,
      valueCol, committedWatermark(spark, viewDir))

  /** [[refreshToLatest]] for the full view: ONE [[refreshFull]] over
    * (watermark, latest] — broken envelopes re-derive at `latest`, so
    * a span holding many base versions is exact in one commit. */
  def refreshToLatestFull(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCol: String, fromVersion: Long): Long
      = withMaintainerLock(spark, viewDir) {
    graft.sinks.ChangeFeed.walkSpans(spark, baseDir, fromVersion) {
      (a, b) =>
        refreshFull(spark, baseDir, viewDir, baseKey, groupCol,
          valueCol, a, b)
    }
  }

  // ---- MULTI-AGGREGATE view: N value columns in one refresh pass ---

  /** [[createFromFull]] over SEVERAL value columns at once: one row
    * per group holding a shared `cnt` plus, per value column `c`,
    * `total_c`, `mn_c`, `mx_c` (avg derived at read time). One view,
    * one refresh pass, ONE CDF read per span — the shape a real
    * dashboard view has (a per-customer view tracks order count AND
    * spend AND quantity envelopes together, not in three tables). */
  def createFromFullMulti(spark: SparkSession, baseDir: String,
      viewDir: String, groupCol: String, valueCols: Seq[String],
      numBuckets: Int = 16): Long = {
    require(valueCols.nonEmpty, "createFromFullMulti needs value columns")
    val snap = VersionedKeyedTable.snapshot(spark, baseDir)
    val aggs = count(lit(1)).as("cnt") +: valueCols.flatMap(c => Seq(
      sum(col(c)).as(s"total_$c"),
      min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val agg = VersionedKeyedTable.read(spark, baseDir, Some(snap.version))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    VersionedKeyedTable.create(agg, viewDir, groupCol, numBuckets,
      commitMeta = Map(AppliedBaseKey -> snap.version.toString))
    snap.version
  }

  /** [[refreshFull]] generalized to N value columns, same two tiers,
    * ONE CDF localCheckpoint and ONE merge commit for all of them:
    *  - counts and every column's sum advance by the signed delta;
    *  - every column's envelope EXTENDS from the span's new values;
    *  - a group re-derives when ANY column's deleted values reach
    *    that column's recorded extremum — and the bounded re-derive
    *    pass recomputes ALL columns' envelopes for those groups in
    *    one aggregate (re-deriving only the broken column would read
    *    the same files anyway; the group list is what's bounded).
    * Scale: per span this stays O(changed rows) + O(affected groups'
    * covering files) — columns multiply the aggregate width, never
    * the data read. */
  def refreshFullMulti(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCols: Seq[String], fromVersion: Long, toVersion: Long): Unit
      = withMaintainerLock(spark, viewDir) {
    require(valueCols.nonEmpty, "refreshFullMulti needs value columns")
    if (fromVersion >= toVersion) return
    val watermark = committedWatermarkOpt(spark, viewDir)
    if (watermark.exists(_ >= toVersion)) return
    val effFrom = watermark.getOrElse(fromVersion)
    val cdf = VersionedKeyedTable.changesBetween(
        spark, baseDir, baseKey, effFrom, toVersion)
      .localCheckpoint(true) // two scan branches; compute the span once
    // count/sum deltas, the per-column new-value envelopes, AND the
    // break tier's deleted-value envelopes ride ONE union + ONE
    // grouped aggregate, checkpointed once — see refreshFull for the
    // job accounting (delMM's separate aggregate + checkpoint folded
    // in this round)
    val oldSide = cdf
      .where(col("change_type").isin("delete", "update"))
      .select(col(s"${groupCol}_prev").as(groupCol) +:
        lit(-1L).as("d_cnt") +:
        (valueCols.map(c => (-col(s"${c}_prev")).as(s"d_$c")) ++
          valueCols.map(c =>
            lit(null).cast(cdf.schema(c).dataType).as(s"nv_$c")) ++
          valueCols.map(c => col(s"${c}_prev").as(s"ov_$c"))): _*)
    val newSide = cdf
      .where(col("change_type").isin("insert", "update"))
      .select(col(groupCol) +: lit(1L).as("d_cnt") +:
        (valueCols.map(c => col(c).as(s"d_$c")) ++
          valueCols.map(c => col(c).as(s"nv_$c")) ++
          valueCols.map(c =>
            lit(null).cast(cdf.schema(c).dataType).as(s"ov_$c"))): _*)
    val dAggs = sum(col("d_cnt")).as("cnt") +:
      (valueCols.map(c => sum(col(s"d_$c")).as(s"total_$c")) ++
        valueCols.flatMap(c => Seq(
          min(col(s"nv_$c")).as(s"mn_$c"),
          max(col(s"nv_$c")).as(s"mx_$c"))) ++
        valueCols.flatMap(c => Seq(
          min(col(s"ov_$c")).as(s"del_mn_$c"),
          max(col(s"ov_$c")).as(s"del_mx_$c"))))
    val deltaMM = oldSide.unionByName(newSide)
      .groupBy(col(groupCol)).agg(dAggs.head, dAggs.tail: _*)
      .localCheckpoint(true)
    // break tier: groups with at least one non-null deleted value (an
    // all-null deleted envelope can never break a recorded one)
    val delMM = deltaMM
      .where(valueCols.map(c => col(s"del_mn_$c").isNotNull)
        .reduce(_ || _))
      .select(col(groupCol) +: valueCols.flatMap(c =>
        Seq(col(s"del_mn_$c"), col(s"del_mx_$c"))): _*)
    // same take(cap+1) gating + pure-insert early-out as refreshFull
    val delKeyRows = delMM.select(col(groupCol))
      .take(rederiveIsinCap + 1)
    val affected: Option[DataFrame] =
      if (delKeyRows.isEmpty) None
      else {
        val boundedDel = delKeyRows.length <= rederiveIsinCap
        val vSchema = VersionedKeyedTable.read(spark, viewDir).schema
        val gType = vSchema(groupCol).dataType
        val integralG = Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType).contains(gType)
        val stringG = gType == org.apache.spark.sql.types.StringType
        val full =
          if (!boundedDel || !(integralG || stringG))
            VersionedKeyedTable.read(spark, viewDir)
          else if (integralG)
            VersionedKeyedTable.readKeys(spark, viewDir, groupCol,
              delKeyRows.map(_.get(0).asInstanceOf[Number].longValue)
                .toSeq)
          else
            VersionedKeyedTable.readKeysStr(spark, viewDir, groupCol,
              delKeyRows.map(_.getString(0)).toSeq)
        val viewCur = full.select(col(groupCol) +: valueCols.flatMap(c =>
          Seq(col(s"mn_$c"), col(s"mx_$c"))): _*)
        // ANY column's broken envelope re-derives the group
        val broken = valueCols.map(c =>
            col(s"del_mn_$c") <= col(s"mn_$c") ||
              col(s"del_mx_$c") >= col(s"mx_$c"))
          .reduce(_ || _)
        Some(delMM.join(viewCur, Seq(groupCol))
          .where(broken)
          .select(col(groupCol))
          .localCheckpoint(true))
      }
    val affKeyRows = affected.map(_.take(rederiveIsinCap + 1))
      .getOrElse(Array.empty[org.apache.spark.sql.Row])
    val source =
      if (affKeyRows.isEmpty) {
        val cols: Seq[org.apache.spark.sql.Column] =
          Seq(col(groupCol), coalesce(col("cnt"), lit(0L)).as("cnt")) ++
            valueCols.map(c =>
              coalesce(col(s"total_$c"), lit(0L)).as(s"total_$c")) ++
            valueCols.flatMap(c => Seq(col(s"mn_$c"), col(s"mx_$c"))) ++
            Seq(lit(false).as("redo")) ++
            valueCols.flatMap(c => Seq(
              lit(null).cast(deltaMM.schema(s"mn_$c").dataType)
                .as(s"abs_mn_$c"),
              lit(null).cast(deltaMM.schema(s"mx_$c").dataType)
                .as(s"abs_mx_$c")))
        deltaMM.select(cols: _*)
      } else {
        val aff = affected.get
        val boundedAff = affKeyRows.length <= rederiveIsinCap
        val baseAt =
          if (boundedAff)
            VersionedKeyedTable.table(spark, baseDir, baseKey,
              Some(toVersion))
              .where(col(groupCol).isin(affKeyRows.map(_.get(0)).toSeq: _*))
          else
            VersionedKeyedTable.read(spark, baseDir, Some(toVersion))
              .join(aff, Seq(groupCol), "left_semi")
        val rAggs = valueCols.flatMap(c => Seq(
          min(col(c)).as(s"abs_mn_$c"), max(col(c)).as(s"abs_mx_$c")))
        val red = baseAt.groupBy(col(groupCol))
          .agg(rAggs.head, rAggs.tail: _*)
          .withColumn("redo", lit(true))
        val sourceCols: Seq[org.apache.spark.sql.Column] =
          Seq(col(groupCol), coalesce(col("cnt"), lit(0L)).as("cnt")) ++
            valueCols.map(c =>
              coalesce(col(s"total_$c"), lit(0L)).as(s"total_$c")) ++
            valueCols.flatMap(c => Seq(col(s"mn_$c"), col(s"mx_$c"))) ++
            Seq(coalesce(col("redo0"), lit(false)).as("redo")) ++
            valueCols.flatMap(c =>
              Seq(col(s"abs_mn_$c"), col(s"abs_mx_$c")))
        deltaMM
          .join(redoFlags(aff, boundedAff), Seq(groupCol), "left")
          .join(red, Seq(groupCol), "left")
          .select(sourceCols: _*)
      }
    val updates = Map("cnt" -> (col("t.cnt") + col("s.cnt"))) ++
      valueCols.flatMap(c => Seq(
        s"total_$c" -> (col(s"t.total_$c") + col(s"s.total_$c")),
        s"mn_$c" -> when(col("s.redo"), col(s"s.abs_mn_$c"))
          .otherwise(least(col(s"t.mn_$c"), col(s"s.mn_$c"))),
        s"mx_$c" -> when(col("s.redo"), col(s"s.abs_mx_$c"))
          .otherwise(greatest(col(s"t.mx_$c"), col(s"s.mx_$c")))))
    VersionedKeyedTable.merge(spark, viewDir, source, groupCol,
      whenMatchedDelete = Some(col("t.cnt") + col("s.cnt") === 0L),
      whenMatchedUpdate = updates,
      commitMeta = Map(AppliedBaseKey -> toVersion.toString),
      carryCols = Set("redo") ++
        valueCols.flatMap(c => Seq(s"abs_mn_$c", s"abs_mx_$c")))
  }

  /** Crash-safe multi-view catch-up off the view's durable
    * watermark — [[refreshFromCommittedFull]] for N value columns. */
  def refreshFromCommittedFullMulti(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCols: Seq[String]): Long =
    refreshToLatestFullMulti(spark, baseDir, viewDir, baseKey, groupCol,
      valueCols, committedWatermark(spark, viewDir))

  /** [[refreshToLatestFull]] for N value columns: ONE
    * [[refreshFullMulti]] over (watermark, latest]. */
  def refreshToLatestFullMulti(spark: SparkSession, baseDir: String,
      viewDir: String, baseKey: String, groupCol: String,
      valueCols: Seq[String], fromVersion: Long): Long
      = withMaintainerLock(spark, viewDir) {
    graft.sinks.ChangeFeed.walkSpans(spark, baseDir, fromVersion) {
      (a, b) =>
        refreshFullMulti(spark, baseDir, viewDir, baseKey, groupCol,
          valueCols, a, b)
    }
  }
}

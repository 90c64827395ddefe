package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert ("merge into") over a hash-bucketed parquet table — the
  * DatastoreOutput semantics (reference outputs/DatastoreOutput.java:1-50
  * performs keyed entity upserts, batched through
  * DatastoreMutationPool.java:56).
  *
  * Layout: the table directory is partitioned by `__bucket =
  * pmod(xxhash64(key), numBuckets)`. An upsert batch therefore touches
  * only the buckets its keys hash into: those partitions are read,
  * merged (updates win by key), and rewritten under
  * partitionOverwriteMode=dynamic — untouched buckets' files are never
  * read or rewritten, which is what makes a small mutation batch
  * against a 100 TB table O(batch), not O(table). Each bucket rewrite
  * goes through Spark's commit protocol (task-attempt tmp + rename), so
  * a retried writer never leaves a partially-applied bucket — the same
  * exactly-once contract the reference gets from datastore transactions.
  *
  * numBuckets trades batch-write amplification (each touched bucket is
  * rewritten whole) against small-file count; a real deployment sizes
  * it so a bucket ≈ a few hundred MB.
  */
object KeyedTable {

  private[sinks] def bucket(keyCol: String, numBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")

  /** Read a small control file fully (meta sidecars, manifests). */
  private[sinks] def readFully(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** True when a keyed table (this store or [[VersionedKeyedTable]])
    * exists at `dir` — the metadata sidecar is the authoritative
    * marker, so callers never hand-roll its filename. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = metaPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Lease duration written into the lock marker: a holder that has
    * not heartbeat-renewed within this window is presumed crashed. */
  private[sinks] val DefaultLeaseMs = 600000L // 10 min

  private def lockPayload(leaseMs: Long): String = {
    val now = System.currentTimeMillis()
    s"pid=${ProcessHandle.current().pid()} host=${
      java.net.InetAddress.getLocalHost.getHostName
    } acquired=$now expires=${now + leaseMs}"
  }

  /** Atomic marker creation. HDFS `createNewFile` is genuinely atomic,
    * but Hadoop's LOCAL implementation is exists-then-create — a
    * check-then-act race two local writers can both win. For `file://`
    * the acquire goes through java.nio CREATE_NEW instead: one atomic
    * open(O_CREAT|O_EXCL) syscall that also writes the payload. Object
    * stores without atomic create keep the weaker HDFS-path guarantee
    * (documented: the lock is best-effort there; a table format is the
    * real answer for multi-writer isolation). Shared by every lock
    * marker in the package (this store's write lock, the
    * [[IncrementalView]] maintainer lock). */
  private[sinks] def tryCreateMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, payload: String): Boolean =
    if (fs.getUri.getScheme == "file") {
      try {
        val local = java.nio.file.Paths.get(
          org.apache.hadoop.fs.Path
            .getPathWithoutSchemeAndAuthority(path).toString)
        java.nio.file.Files.write(local, payload.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.io.IOException => false }
    } else {
      val created =
        try fs.createNewFile(path)
        catch { case _: java.io.IOException => false }
      if (created) {
        val out = fs.create(path, true)
        try out.write(payload.getBytes("UTF-8")) finally out.close()
      }
      created
    }

  /** Single-writer enforcement. The merge-into protocol reads the
    * touched buckets and rewrites them under a dynamic-partition
    * overwrite; two writers interleaving those phases would silently
    * lose one writer's rows (read-modify-write with no isolation — the
    * reference got transactional batching from the Datastore itself,
    * `outputs/DatastoreOutput.java:1-50`). Full snapshot isolation
    * needs a table format; what this guard promises is strictly less
    * but loud: a second concurrent writer FAILS with a clear error
    * instead of corrupting the table.
    *
    * The lock marker carries a LEASE (holder pid/host + acquired +
    * expires timestamps), renewed by a heartbeat thread at a third of
    * the lease period while the write runs. A supervisor hitting the
    * conflict can therefore tell a live writer from a crashed one from
    * the error alone: within the lease → live, wait; past it → no
    * heartbeat for a full lease period, holder presumed crashed, safe
    * to [[clearLock]]. Recovery stays explicit (still loud, never an
    * automatic lock steal — two writers that both think the other is
    * stale must not both proceed); what the lease removes is the need
    * for out-of-band knowledge about whether the holder is alive. */
  private def withTableLock[T](spark: SparkSession, dir: String,
      leaseMs: Long = DefaultLeaseMs)(body: => T): T = {
    val path = new org.apache.hadoop.fs.Path(dir, "_graft_write_lock")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path.getParent)
    if (!tryCreateMarker(fs, path, lockPayload(leaseMs))) {
      val holder =
        try {
          val in = fs.open(path)
          try {
            val buf = new Array[Byte](256)
            val n = in.read(buf)
            new String(buf, 0, math.max(n, 0), "UTF-8")
          } finally in.close()
        } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
      val expired = "expires=(\\d+)".r.findFirstMatchIn(holder)
        .map(_.group(1).toLong < System.currentTimeMillis())
      throw new IllegalStateException(expired match {
        case Some(true) =>
          s"KeyedTable at $dir holds an EXPIRED write lease [$holder] — " +
            "the holder stopped heartbeating for a full lease period and " +
            "is presumed crashed; stealExpiredLock() (or clearLock() " +
            "after confirming it is dead)"
        case _ =>
          s"KeyedTable at $dir is locked by a LIVE writer [$holder] — " +
            "concurrent upserts are not isolated and would corrupt the " +
            "table; wait for the writer (its lease expires if it crashes)"
      })
    }
    // heartbeat: renew the lease while the write runs, so a long write
    // never looks crashed and a crashed writer stops renewing
    val hb = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(math.max(leaseMs / 3, 1L))
        val out = fs.create(path, true)
        try out.write(lockPayload(leaseMs).getBytes("UTF-8"))
        finally out.close()
      } catch {
        case _: InterruptedException => ()
        case scala.util.control.NonFatal(_) => ()
      }
    }, s"graft-keyedtable-lease-$dir")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      // join BEFORE deleting: interrupt() does not stop a heartbeat
      // already inside its fs.create rewrite, which could otherwise
      // recreate the marker AFTER the delete and leave an orphaned
      // lease the next writer mistakes for a live one. The rewrite is
      // millisecond-scale, so the join is cheap.
      hb.interrupt(); hb.join(); fs.delete(path, false)
    }
  }

  /** Remove a stale writer lock left by a crashed writer. Only safe
    * once the operator has confirmed no writer is alive. */
  def clearLock(spark: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir, "_graft_write_lock")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, false)
  }

  /** Supervisor takeover of an EXPIRED lease: verifies from the marker
    * itself that the holder stopped heartbeat-renewing for a full lease
    * period (presumed crashed), then removes the lock LOUDLY — the old
    * holder's recorded identity is returned and logged so the steal is
    * auditable. Refuses (throws) while the lease is still live or the
    * marker is unreadable: two writers that both think the other is
    * stale must never both proceed, so the only automatic path is the
    * one the lease protocol itself proves safe.
    *
    * @return the stolen lease's payload (pid/host/acquired/expires of
    *         the presumed-crashed holder) */
  def stealExpiredLock(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir, "_graft_write_lock")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      throw new IllegalStateException(
        s"KeyedTable at $dir has no write lock to steal")
    val holder = {
      val in = fs.open(path)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0), "UTF-8")
      } finally in.close()
    }
    val expiresAt = "expires=(\\d+)".r.findFirstMatchIn(holder)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"KeyedTable at $dir lock payload is unreadable [$holder] — " +
          "cannot prove the lease expired; use clearLock() only after " +
          "out-of-band confirmation the holder is dead"))
    val now = System.currentTimeMillis()
    if (expiresAt >= now)
      throw new IllegalStateException(
        s"KeyedTable at $dir lease is still LIVE [$holder] — refusing " +
          s"to steal (expires in ${expiresAt - now} ms); a heartbeating " +
          "writer must never lose its lock underneath a running write")
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"KeyedTable at $dir: stealing EXPIRED write lease from presumed-" +
        s"crashed holder [$holder] (expired ${now - expiresAt} ms ago)")
    fs.delete(path, false)
    holder
  }

  /** Table metadata sidecar: the creation-time bucket count and the
    * table schema, written by [[create]] and consulted by every later
    * mutation. Without it, a caller passing a DIFFERENT numBuckets
    * than the table was created with would compute touched buckets
    * under the wrong modulus — an upsert would duplicate keys, and a
    * delete would SILENTLY RETAIN roughly half the named rows (a
    * silent right-to-be-forgotten failure). The stored count wins
    * over the parameter; tables created before the sidecar existed
    * fall back to the caller's value. The stored schema also keeps an
    * emptied table (every row deleted) readable. */
  private[sinks] def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_table_meta")

  private[sinks] def writeMeta(spark: SparkSession, dir: String,
      numBuckets: Int, schema: org.apache.spark.sql.types.StructType,
      keyCol: Option[String] = None): Unit = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    // line 3 (key=<url-encoded col>) is additive: pre-key sidecars
    // simply lack it, and readMeta parses by line, never by tail
    val tail = keyCol.fold("")(k =>
      "\nkey=" + java.net.URLEncoder.encode(k, "UTF-8"))
    try out.write(s"$numBuckets\n${schema.json}$tail".getBytes("UTF-8"))
    finally out.close()
  }

  private[sinks] def readMeta(spark: SparkSession, dir: String)
      : Option[(Int, org.apache.spark.sql.types.StructType)] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val lines = readFully(fs, p).split('\n')
      Some((lines(0).trim.toInt,
        org.apache.spark.sql.types.DataType.fromJson(lines(1))
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The table's KEY COLUMN from the sidecar (recorded since the
    * sidecar gained its `key=` line; None for older tables — callers
    * must degrade, e.g. the SQL catalog skips key-predicate
    * pruning). */
  private[sinks] def readMetaKey(spark: SparkSession,
      dir: String): Option[String] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try readFully(fs, p).split('\n')
      .find(_.startsWith("key="))
      .map(l => java.net.URLDecoder.decode(l.stripPrefix("key="), "UTF-8"))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The table's authoritative bucket count: sidecar metadata when
    * present (creation-time truth), else the caller's value. */
  private def resolveBuckets(spark: SparkSession, dir: String,
      callerValue: Int): Int =
    readMeta(spark, dir).map(_._1).getOrElse(callerValue)

  /** True when the table currently holds no partition directories —
    * the state a delete that removes every row leaves behind. */
  private def isEmptyTable(spark: SparkSession, dir: String): Boolean = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(base) || !fs.listStatus(base).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("__bucket="))
  }

  /** Create (or replace) the bucketed table from a full snapshot. */
  def create(df: DataFrame, dir: String, keyCol: String,
      numBuckets: Int = 16): Unit = {
    val withB = df.withColumn("__bucket", bucket(keyCol, numBuckets))
    withB.write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(dir)
    writeMeta(df.sparkSession, dir, numBuckets, withB.schema,
      Some(keyCol))
  }

  /** Read the table back without the physical bucket column. An
    * emptied table (all rows deleted) reads as zero rows with the
    * creation-time schema. */
  def read(spark: SparkSession, dir: String): DataFrame =
    if (isEmptyTable(spark, dir))
      readMeta(spark, dir) match {
        case Some((_, schema)) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
            .drop("__bucket")
        case None => spark.read.parquet(dir).drop("__bucket") // loud
      }
    else scan(spark, dir).drop("__bucket")

  /** The table's files (with `__bucket`) under the sidecar's stored
    * schema: inferring it instead launches a one-task Spark job that
    * reads a parquet footer on every call. Tables without a sidecar
    * fall back to inference. */
  private def scan(spark: SparkSession, dir: String): DataFrame =
    readMeta(spark, dir).fold(spark.read.parquet(dir))(m =>
      spark.read.schema(m._2).parquet(dir))

  /** Delete a batch of keys — the right-to-be-forgotten operation a
    * training-data store must support (the reference's Datastore gave
    * it entity deletes; here it is the upsert protocol minus the
    * inserts): touched buckets are discovered from the (bounded) key
    * batch, survivors come from an anti join of ONLY those partitions,
    * and the rewrite goes through the same dynamic-partition overwrite
    * + commit protocol as [[upsert]] — O(batch), not O(table), and a
    * retried delete of the same keys is a no-op.
    *
    * Edge the overwrite protocol cannot express: a bucket whose rows
    * are ALL deleted produces zero output rows, and a dynamic
    * overwrite never rewrites a partition it emits no rows for — the
    * doomed rows would silently survive. Those buckets' partition
    * directories are removed explicitly after the commit, still under
    * the write lease. */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, numBuckets: Int = 16): Unit =
    deleteImpl(spark, dir, keys, keyCol, numBuckets, () => ())

  /** Test seam: `onEmptiedRemoved` fires after the fully-emptied
    * bucket dirs are removed but BEFORE the survivors' commit — the
    * one crash point a delete still has (a partial delete that a
    * retry completes); specs inject a crash there to pin the
    * delete-then-compact lifecycle pairing. */
  private[sinks] def deleteImpl(spark: SparkSession, dir: String,
      keys: DataFrame, keyCol: String, numBuckets: Int,
      onEmptiedRemoved: () => Unit): Unit =
    withTableLock(spark, dir) {
      // an emptied table has nothing to delete — the retried-delete
      // no-op path after a previous delete removed every row
      if (!isEmptyTable(spark, dir)) {
      val nb = resolveBuckets(spark, dir, numBuckets)
      val del = keys.select(col(keyCol))
        .withColumn("__bucket", bucket(keyCol, nb))
        .localCheckpoint(true)
      val (touchedSet, delRows) =
        VersionedKeyedTable.touchedBucketsAndCount(del)
      val touched = touchedSet.toArray.sorted // bounded by numBuckets
      if (touched.nonEmpty) {
        val existing = scan(spark, dir)
          .filter(col("__bucket")
            .isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
        // size-gated broadcast: the delete batch is caller-supplied
        // and unbounded (guide §3.1) — see keysMaybeBroadcast
        val survivors = existing.join(
            VersionedKeyedTable.keysMaybeBroadcast(del, keyCol, delRows),
            Seq(keyCol), "left_anti")
          .localCheckpoint(true)
        val surviving = VersionedKeyedTable.touchedBuckets(survivors)
        // fully-emptied buckets: a dynamic overwrite never rewrites a
        // partition it emits no rows for, so their dirs are removed
        // explicitly — and BEFORE the survivors' commit. Every row in
        // an emptied bucket is a named delete target, so removing the
        // dir is applying part of the delete; ordering it first means
        // no crash point leaves doomed rows behind a COMPLETED commit
        // (crash before the commit = a partial delete either way, and
        // re-running the same delete finishes it: the vanished buckets
        // read as empty and the survivor rewrite is idempotent). Safe
        // to remove before the write because `survivors` is already
        // localCheckpointed — no write task re-reads the deleted files.
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        touched.filterNot(surviving).foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(dir, s"__bucket=$b"), true)
        }
        onEmptiedRemoved()
        if (surviving.nonEmpty) {
          // dynamic overwrite as a PER-WRITE OPTION, never a session
          // conf: under foreachBatch the write executes with the
          // STREAMING CLONE session's conf, so a conf set here (on the
          // caller's session) may not be the one the write reads — a
          // static-mode clone would then TRUNCATE the whole table on a
          // one-bucket rewrite. The option rides the write itself.
          survivors.write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket").parquet(dir)
        }
      }
      }
    }

  /** Per-bucket compaction report: files before/after and bytes. */
  final case class CompactionReport(bucket: Int, filesBefore: Int,
      filesAfter: Int, bytes: Long)

  /** Compact buckets that have accumulated small files (every upsert's
    * dynamic-partition overwrite writes one file per task that held
    * rows for the bucket, so a bucket's file count creeps toward the
    * writer's parallelism): group each listed bucket's files into
    * `ceil(totalBytes / targetBytes)` bins by GREEDY CONTIGUOUS
    * cumulative-size binning — the `compaction_plan` rule in its
    * overflow-free form, bin = min(cumStartBytes div targetBytes,
    * nBins - 1) over the name-ordered listing —
    * then rewrite the bucket with one output file per bin through the
    * same dynamic-partition overwrite + commit protocol as [[upsert]]
    * (a crashed rewrite never leaves a partially-replaced bucket).
    *
    * Runs under the table write lease: compaction is a writer like any
    * other — an upsert interleaving with a compaction would lose the
    * upsert's rows when the compacted partition commits over them.
    *
    * Idempotent and resumable: a bucket already at or below its bin
    * count is skipped (a second run is a metadata-only no-op), and a
    * crash between buckets leaves every committed bucket compacted,
    * every other bucket untouched, and the table's ROWS identical —
    * re-running finishes the rest.
    *
    * File listings are metadata-scale; only compacted buckets' data is
    * read. At 100 TB a maintenance job passes `buckets` from the same
    * listing-driven plan a `compaction_plan` query produces, bounding
    * each run.
    *
    * @return one report per INSPECTED bucket (skipped buckets report
    *         filesAfter == filesBefore). */
  def compact(spark: SparkSession, dir: String,
      buckets: Option[Seq[Int]] = None,
      targetBytes: Long = 128L << 20): Seq[CompactionReport] =
    compactImpl(spark, dir, buckets, targetBytes, _ => ())

  /** Test seam: `onBucketCompacted` fires after each bucket's commit —
    * specs inject a crash there to pin mid-compaction recovery. */
  private[sinks] def compactImpl(spark: SparkSession, dir: String,
      buckets: Option[Seq[Int]], targetBytes: Long,
      onBucketCompacted: Int => Unit): Seq[CompactionReport] =
    withTableLock(spark, dir) {
      require(targetBytes > 0, "targetBytes must be positive")
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bucketDirs = fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
        .map(s => s.getPath.getName.stripPrefix("__bucket=").toInt -> s.getPath)
        .filter { case (b, _) => buckets.forall(_.contains(b)) }
        .sortBy(_._1)
      bucketDirs.map { case (b, path) =>
        val files = fs.listStatus(path).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val total = files.map(_.getLen).sum
        val nBins = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
        if (files.size <= nBins)
          CompactionReport(b, files.size, files.size, total) // already compact
        else {
          // greedy contiguous binning by cumulative bytes (the
          // compaction_plan rule, expressed as cumStart div target so
          // no product can overflow Long on very large buckets); one
          // coalesced output file per bin
          var cum = 0L
          val binned = files.map { f =>
            val bin = math.min(cum / targetBytes, nBins - 1L).toInt
            cum += f.getLen
            (bin, f.getPath.toString)
          }.groupBy(_._1).toSeq.sortBy(_._1)
          // one DataFrame per bin, coalesced to one partition, united
          // at the RDD level: a Dataset-level union of coalesce(1)
          // children gets collapsed by the optimizer into ONE partition
          // (one output file regardless of bins); sparkContext.union
          // preserves each bin's partition, so the write emits exactly
          // one file per bin
          val binDfs = binned.map { case (_, fsInBin) =>
            spark.read.parquet(fsInBin.map(_._2): _*).coalesce(1)
          }
          val merged = spark.createDataFrame(
              spark.sparkContext.union(binDfs.map(_.rdd)),
              binDfs.head.schema)
            .withColumn("__bucket", lit(b))
            .localCheckpoint(true) // never read a file the commit replaces
          // per-write dynamic option (see upsert for why never a conf)
          merged.write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket").parquet(dir)
          onBucketCompacted(b)
          val after = fs.listStatus(path).count(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet"))
          CompactionReport(b, files.size, after, total)
        }
      }
    }

  /** Apply a keyed mutation batch: rows whose key exists are replaced,
    * new keys are inserted (entity put semantics — the reference has no
    * partial-property update either). Idempotent: re-applying the same
    * batch is a no-op. Schema of `updates` must match the table's.
    *
    * Plan shape: updates are checkpointed (they may derive from this
    * very table), touched buckets are discovered from the (bounded)
    * bucket set, survivors come from an anti join of ONLY those
    * partitions (partition pruning asserted in OutputsSpec), and the
    * merged rows are checkpointed before the dynamic-partition
    * overwrite so no task reads a file the commit is about to replace. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, numBuckets: Int = 16): Unit = withTableLock(spark, dir) {
    val nb = resolveBuckets(spark, dir, numBuckets)
    val up = updates.withColumn("__bucket", bucket(keyCol, nb))
      .localCheckpoint(true)
    val (touchedSet, upRows) =
      VersionedKeyedTable.touchedBucketsAndCount(up)
    val touched = touchedSet.toArray.sorted // bounded by numBuckets
    // an emptied table (all rows deleted) has no files to read:
    // survivors are empty and the upsert degenerates to pure inserts
    val existing =
      if (isEmptyTable(spark, dir))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], up.schema)
      else scan(spark, dir)
        .filter(col("__bucket")
          .isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
    // size-gated broadcast: the update batch is caller-supplied and
    // unbounded (guide §3.1) — see keysMaybeBroadcast
    val survivors = existing.join(
      VersionedKeyedTable.keysMaybeBroadcast(up, keyCol, upRows),
      Seq(keyCol), "left_anti")
    val merged = up.unionByName(survivors).localCheckpoint(true)
    // dynamic overwrite as a PER-WRITE OPTION, never a session conf:
    // under foreachBatch this write executes with the STREAMING CLONE
    // session's conf (SQLConf.get is thread-local), so a conf set on
    // the caller's session object may not be the conf the write
    // actually reads — a static-mode clone would then TRUNCATE the
    // whole table on a one-bucket upsert (every untouched bucket's
    // rows silently gone). The write option is read by the insert
    // command itself, independent of session or thread.
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(dir)
  }
}

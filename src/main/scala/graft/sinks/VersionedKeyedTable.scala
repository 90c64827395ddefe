package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** MVCC keyed table with OPTIMISTIC multi-writer concurrency — the
  * round-10 upgrade of the one capability [[KeyedTable]] documents as
  * out of scope: its pessimistic write lease makes a second concurrent
  * writer FAIL loudly; this table lets disjoint writers BOTH SUCCEED,
  * with snapshot-isolated readers, by re-expressing the store as an
  * immutable-file manifest log (the mechanism Delta/Iceberg built into
  * a table format, reduced here to the two primitives a filesystem
  * gives: immutable data files + one atomic create-if-absent per
  * commit). The reference's analogue is DatastoreOutput, which
  * inherited transactions from the Datastore itself
  * (outputs/DatastoreOutput.java:1-50).
  *
  * Layout:
  * {{{
  *   dir/_graft_table_meta        numBuckets + data schema (immutable)
  *   dir/data/c-<uuid>/__bucket=N/part-*.parquet   immutable data files
  *   dir/_versions/v%012d         manifest: full bucket -> file listing
  * }}}
  *
  * Every version file is a FULL snapshot manifest (metadata-scale:
  * buckets × files) plus the set of buckets that commit changed. A
  * mutation never rewrites or deletes a referenced file — it writes
  * NEW files for its touched buckets and commits a new manifest, so:
  *
  *  - '''Readers are snapshot-isolated for free''': a read resolves
  *    the latest complete manifest once; every file it references is
  *    immutable, so concurrent commits cannot tear the view. Older
  *    versions stay readable (time travel) until [[vacuum]].
  *  - '''Commit is compare-and-swap''': version N+1 is claimed by an
  *    atomic create-if-absent (a hard link on local filesystems — one
  *    link(2) syscall that fails with EEXIST on conflict). The loser
  *    re-reads the log: if the intervening commits touched a DISJOINT
  *    bucket set, its already-written files are still valid and it
  *    REBASES (re-targets its manifest onto the new snapshot — no
  *    data rewrite); if they overlap, its merge inputs are stale and
  *    it RECOMPUTES from the new snapshot. Bounded retries, then a
  *    loud failure.
  *  - '''Upsert semantics are puts''' (replace-by-key with given
  *    VALUES, the Datastore entity-put contract, like KeyedTable):
  *    under an overlap retry the mutation's rows are re-applied onto
  *    the winner's state, which is exactly serializable for puts.
  *    Read-modify-write derivations must re-derive inside a caller
  *    retry loop — the standard optimistic-concurrency contract.
  *  - '''Crash safety''': a writer that dies pre-commit leaves only
  *    unreferenced files (invisible; removed by [[vacuum]]); there is
  *    no partially-applied state to recover, because visibility IS
  *    the manifest commit.
  *
  * Scale: mutations remain O(batch) — only touched buckets' files are
  * read and rewritten; manifests are metadata-scale and commits are
  * one syscall, so writer throughput is bounded by data movement, not
  * coordination. The fully-emptied-bucket edge that needed explicit
  * handling under dynamic partition overwrite disappears: an emptied
  * bucket is just an empty file list in the next manifest.
  */
object VersionedKeyedTable {

  // meta sidecar, bucket expression, and control-file IO are SHARED
  // with KeyedTable (one definition of the sidecar format and the
  // bucket function — the two stores can never silently diverge)
  private def bucketOf(keyCol: String, numBuckets: Int) =
    KeyedTable.bucket(keyCol, numBuckets)

  private def hfs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Distinct `__bucket` values of a (checkpointed) batch WITHOUT a
    * shuffle: `distinct().collect()` plans an Exchange (2 stages + an
    * AQE round trip) to deduplicate what is at most `numBuckets`
    * small integers — a per-partition set + a driver union computes
    * the same thing in one map-only stage (guide §2.4: remove
    * shuffles outright). Called once per commit on every mutation
    * path, so the saved stage round-trip compounds across lifecycle
    * checks. */
  private[sinks] def touchedBuckets(batch: DataFrame): Set[Int] =
    touchedBucketsAndCount(batch)._1

  /** [[touchedBuckets]] PLUS the batch's exact row count, from the
    * same single map-only pass (no extra job): the count feeds the
    * broadcast-size gate below, so commit paths learn whether a
    * caller-supplied batch is broadcast-safe for free. */
  private[sinks] def touchedBucketsAndCount(batch: DataFrame)
      : (Set[Int], Long) = {
    import batch.sparkSession.implicits._
    val partials = batch.select(col("__bucket")).as[Int]
      .mapPartitions { it =>
        val s = scala.collection.mutable.HashSet.empty[Int]
        var n = 0L
        while (it.hasNext) { s += it.next(); n += 1 }
        Iterator.single((s.toArray, n))
      }.collect()
    (partials.iterator.flatMap(_._1).toSet,
      partials.iterator.map(_._2).sum)
  }

  /** Broadcast-key row limit for batch-key semi/anti joins. The batch
    * in a mutation is CALLER-SUPPLIED and unbounded — at 100 TB an
    * ingest/merge batch can carry billions of keys, and an
    * unconditional `broadcast()` hint bypasses
    * autoBroadcastJoinThreshold straight into the 8 GB / 512M-row
    * broadcast cap (driver OOM). Default 4M keys ≈ tens of MB built
    * hash relation — comfortably broadcastable on any executor —
    * overridable per session via `spark.graft.maxBroadcastKeys`. */
  private[sinks] def maxBroadcastKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.maxBroadcastKeys")
      .map(_.toLong).getOrElse(4000000L)

  /** The batch's key relation for semi/anti joins, broadcast-hinted
    * only when `batchRows` (a known exact count — free from
    * [[touchedBucketsAndCount]]) is under the gate; above it the
    * planner picks a shuffled join from its own size estimates
    * (guide §3.1: broadcast deliberately, never unconditionally). */
  private[sinks] def keysMaybeBroadcast(batch: DataFrame,
      keyCol: String, batchRows: Long): DataFrame = {
    val keys = batch.select(col(keyCol))
    if (batchRows <= maxBroadcastKeys(batch.sparkSession))
      broadcast(keys)
    else keys
  }

  /** FileStatuses for manifest-listed relative paths with one
    * listStatus per PARENT DIRECTORY, not one getFileStatus RPC per
    * file: a snapshot's files cluster under a handful of commit dirs,
    * so this is O(commit dirs) metadata calls even for wide tables. */
  private[sinks] def statFiles(spark: SparkSession, dir: String,
      relFiles: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] =
    statPaths(spark, dir, relFiles.map(f => s"$dir/$f"))

  /** [[statFiles]] over full path strings (staged files, absolute
    * lists) — same one-listStatus-per-parent discipline. */
  private[sinks] def statPaths(spark: SparkSession, root: String,
      paths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = hfs(spark, root)
    val byParent = paths.groupBy(f => f.take(f.lastIndexOf('/')))
    val listed: Map[String, Map[String, org.apache.hadoop.fs.FileStatus]] =
      byParent.keys.map { parent =>
        parent -> fs.listStatus(new Path(parent))
          .map(st => st.getPath.getName -> st).toMap
      }.toMap
    paths.map { f =>
      val parent = f.take(f.lastIndexOf('/'))
      val name = f.drop(f.lastIndexOf('/') + 1)
      listed(parent).getOrElse(name,
        throw new IllegalStateException(
          s"VersionedKeyedTable at $root: referenced file is missing: " +
            s"$f (vacuumed past this version?)"))
    }
  }

  /** [[scanFiles]] over full path strings. */
  private[sinks] def scanPaths(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame =
    scanStatuses(spark, root, schema,
      statPaths(spark, root, paths))

  /** [[scanPaths]] over FileStatuses the caller already holds (a
    * write path's own listing): zero metadata calls of any kind at
    * scan build — no listing, no schema inference. */
  private[graft] def scanStatuses(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      statuses: Seq[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    // force every level nullable, as DataFrameReader.schema() does
    // (asNullable): the evolution contract reads missing columns as
    // null, and the vectorized reader REFUSES a missing column that
    // the requested schema marks required
    def nullable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(s.fields.map(f =>
          f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullable(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = nullable(m.valueType),
          valueContainsNull = true)
      case other => other
    }
    val relation = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(
        new PreListedFileIndex(spark, new Path(root), statuses),
        new org.apache.spark.sql.types.StructType(),
        nullable(schema)
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat,
        Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Scan EXACTLY the given manifest-listed files under the forced
    * `schema` (missing columns read null — the evolution contract),
    * via a [[PreListedFileIndex]]: no InMemoryFileIndex build and no
    * distributed listing job, which `spark.read.parquet(paths: _*)`
    * pays on every call (a full Spark job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32
    * paths — i.e. on every read of any non-trivial table). */
  private[sinks] def scanFiles(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rels: Seq[String]): DataFrame =
    scanPaths(spark, dir, schema, rels.map(f => s"$dir/$f"))

  /** One pass over freshly written files computing, per file (keyed
    * by the file's URI): row count, each stat column's (min, max) as
    * strings, and the key bloom (`graft_bloom_agg` =
    * `BloomFilterAggregate`, whose sketch bytes stay
    * `BloomFilter.readFrom`-compatible). Shape: ONE codegen'd
    * vectorized-scan → (object-)hash aggregate grouped by
    * `input_file_name()`, with map-side partial aggregation — the
    * Exchange it plans carries ONE tiny row per (file, task), so its
    * payload is noise. Round 14 replaced this with an interpreted
    * per-row `mapPartitions` pass over `queryExecution.toRdd` to save
    * that Exchange; the driver's bench convicted the trade (write-heavy
    * queries +27-39% wall, cpu +39%, gc 8x — per-row `InternalRow.get`
    * boxing and `getInterpretedOrdering` compares on EVERY written row
    * of EVERY commit). This restores the codegen'd aggregate (guide
    * §1.2: per-task work dominates; the exchange payload was never the
    * cost). Min/max aggregate in NATIVE type (statImage pre-converts
    * date/timestamp to int/long), then cast to string AFTER the
    * aggregate — identical envelope strings to every previous round. */
  private def perFileStats(spark: SparkSession, src: DataFrame,
      statCols: Seq[org.apache.spark.sql.Column],
      bloomExpr: Option[String],
      bloomBits: Long)
      : Map[String, (Long, Seq[Option[(String, String)]],
          Option[Array[Byte]])] = {
    if (bloomExpr.isDefined) graft.functions.BloomFunctions.register(spark)
    val n = statCols.size
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__cnt") +:
        (statCols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(c).cast("string").as(s"__mn$i"),
            max(c).cast("string").as(s"__mx$i"))
        } ++
          bloomExpr.map(e => expr(
            s"graft_bloom_agg($e, ${math.max(1L, bloomBits / 8)}L, " +
              s"${bloomBits}L)").as("__bloom")).toSeq)
    val rows = src
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per freshly-written file
    rows.iterator.map { r =>
      val mnmx = (0 until n).map { i =>
        val (mnI, mxI) = (2 + 2 * i, 3 + 2 * i)
        if (r.isNullAt(mnI) || r.isNullAt(mxI)) None // all-null column
        else Some((r.getString(mnI), r.getString(mxI)))
      }
      val bloom = bloomExpr.flatMap { _ =>
        Option(r.getAs[Array[Byte]](2 + 2 * n)) // all-null keys: no bloom
      }
      r.getString(0) -> ((r.getLong(1), mnmx, bloom))
    }.toMap
  }

  /** Exact per-file row counts read from the PARQUET FOOTERS the write
    * just produced — zero Spark jobs, zero data-page reads (guide §6:
    * the metadata already exists; don't re-derive it with a scan).
    * Used where only counts are needed (delete files). Returns
    * absolute-URI-keyed counts matching [[perFileStats]]'s key shape. */
  private def footerRowCounts(spark: SparkSession,
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
      : Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    statuses.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val cnt = try reader.getRecordCount finally reader.close()
      st.getPath.toString -> cnt
    }.toMap
  }

  /** Label every Spark job a commit phase runs (guide §1.5) — the
    * UI/listener evidence that attributes the many small lifecycle
    * jobs to their call sites. Thread-local; restores the caller's
    * description so nested phases keep the outermost caller's label
    * visible on jobs it runs after this phase. */
  private def jobPhase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"vkt: $label")
    try body finally sc.setJobDescription(prev)
  }

  private def writeMeta(spark: SparkSession, dir: String, numBuckets: Int,
      schema: org.apache.spark.sql.types.StructType,
      keyCol: Option[String] = None): Unit =
    KeyedTable.writeMeta(spark, dir, numBuckets, schema, keyCol)

  private def readMeta(spark: SparkSession, dir: String)
      : (Int, org.apache.spark.sql.types.StructType) =
    KeyedTable.readMeta(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"VersionedKeyedTable at $dir has no metadata sidecar"))

  // ---- manifest log ------------------------------------------------

  /** One committed table state: the version number, the full
    * bucket → data-file listing (paths relative to the table dir),
    * the buckets this version's commit changed, the schema AT THIS
    * VERSION (None only for pre-evolution manifests — the meta
    * sidecar's creation schema governs those), and per-file ZONE MAPS
    * (key min/max, URL-encoded strings; absent for files written
    * before zone maps existed — those are never pruned). */
  final case class Snapshot(version: Long, files: Map[Int, Seq[String]],
      touched: Set[Int],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      stats: Map[String, (String, String)] = Map.empty,
      changes: Option[Seq[String]] = None,
      meta: Map[String, String] = Map.empty,
      counts: Map[String, Long] = Map.empty,
      extraStats: Map[String, Map[String, (String, String)]] = Map.empty,
      /** MERGE-ON-READ delete files per bucket (the Iceberg
        * equality-delete / Delta deletion-vector shape): each file
        * holds keys of rows deleted WITHOUT rewriting the bucket's
        * data files — readers anti-join them, copy-on-write mutations
        * CONSUME them (a bucket rewrite materializes the post-delete
        * state, so its commit clears the bucket's delete entries).
        * Invariant: a live delete file holds only keys that were
        * VISIBLE at its commit — so each delete entry kills exactly
        * one older data row, which keeps metadata-only COUNT(*)
        * exact by subtraction even when [[upsertMor]] re-adds a key
        * in a newer file. */
      deletes: Map[Int, Seq[String]] = Map.empty,
      /** Per-file SEQUENCE numbers (the commit version that added the
        * file) — the Iceberg sequence-number rule that makes
        * merge-on-read UPSERTS possible: a delete file applies only
        * to data files with a STRICTLY LOWER sequence, so a key
        * re-added by a later [[upsertMor]] survives the delete entry
        * that killed its older row. Files absent from this map (all
        * pre-MoR files, and every file of a copy-on-write commit
        * that consumed its buckets' deletes) read as sequence 0 —
        * every delete applies, which is exactly the pre-sequence
        * behavior. */
      seqs: Map[String, Long] = Map.empty)

  /** Commit-metadata key every writer stamps with the version its
    * commit was BUILT ON. The base pointers make the table's true
    * LINEAGE reconstructible: on weak schemes, a claim skipped as
    * torn that completes late sits in the log but is reachable from
    * no later commit's chain — CDF spans and incremental-view walks
    * follow the chain, so an out-of-lineage commit can never inject
    * its delta (readers already ignored it: latest-complete wins). */
  private[sinks] val BaseKey = "graft.base"

  private def versionsDir(dir: String) = new Path(dir, "_versions")
  private def versionPath(dir: String, v: Long) =
    new Path(versionsDir(dir), f"v$v%012d")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def renderManifest(touched: Set[Int],
      files: Map[Int, Seq[String]],
      schema: org.apache.spark.sql.types.StructType,
      stats: Map[String, (String, String)],
      changes: Option[Seq[String]],
      meta: Map[String, String] = Map.empty,
      counts: Map[String, Long] = Map.empty,
      extraStats: Map[String, Map[String, (String, String)]] = Map.empty,
      deletes: Map[Int, Seq[String]] = Map.empty,
      seqs: Map[String, Long] = Map.empty): String = {
    val sb = new StringBuilder
    sb.append("touched\t").append(touched.toSeq.sorted.mkString(","))
      .append('\n')
    // opaque per-COMMIT metadata (URL-encoded): consumers record facts
    // atomically with the commit itself — e.g. an incremental view
    // stamps the base version a refresh applied, making the refresh
    // exactly-once across crashes (the watermark IS the commit)
    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("meta\t").append(enc(k)).append('\t').append(enc(v))
        .append('\n')
    }
    // per-VERSION schema: additive evolution changes it going forward
    // while time-travel reads keep each version's own (schema.json is
    // a single line — no tabs or newlines)
    sb.append("schema\t").append(schema.json).append('\n')
    // commit-time CHANGE CAPTURE file listing: `-` = captured, no
    // changed rows; absent = this commit did not capture (pre-capture
    // manifests, metadata-only restores) and CDF spans crossing it
    // fall back to the snapshot diff
    changes.foreach { cs =>
      if (cs.isEmpty) sb.append("changes\t-\n")
      else cs.foreach(c => sb.append("changes\t").append(c).append('\n'))
    }
    files.toSeq.sortBy(_._1).foreach { case (b, fs0) =>
      fs0.foreach { f =>
        sb.append(b).append('\t').append(f)
        // zone map rides the file's own line (URL-encoded: the key
        // may be a string containing tabs/newlines), followed by the
        // file's ROW COUNT when known (cluster() convergence + cheap
        // metadata; old manifests without it parse fine)
        stats.get(f).foreach { case (mn, mx) =>
          sb.append('\t').append(enc(mn)).append('\t').append(enc(mx))
          counts.get(f).foreach { c =>
            sb.append('\t').append(c)
            // SECONDARY-column zone maps as named (col, min, max)
            // triples — self-describing, so readers need no catalog
            // and old manifests without them parse fine
            extraStats.getOrElse(f, Map.empty).toSeq.sortBy(_._1)
              .foreach { case (cName, (a, b)) =>
                sb.append('\t').append(enc(cName))
                  .append('\t').append(enc(a)).append('\t').append(enc(b))
              }
          }
        }
        sb.append('\n')
      }
      if (fs0.isEmpty) sb.append(b).append("\t-\n") // emptied bucket
    }
    // merge-on-read DELETE files: `delete TAB bucket TAB relpath TAB
    // rows` — rows always known (the writer counted them), kept per
    // line so metadata COUNT(*) can subtract them without opening any
    // file; pre-MOR manifests simply have no such lines
    deletes.toSeq.sortBy(_._1).foreach { case (b, fs0) =>
      fs0.foreach { f =>
        sb.append("delete\t").append(b).append('\t').append(f)
        counts.get(f).foreach(c => sb.append('\t').append(c))
        sb.append('\n')
      }
    }
    // per-file SEQUENCE numbers: `seq TAB relpath TAB n` — only files
    // a MoR commit added carry one (absent = 0, the oldest class);
    // filtered to files this manifest still references, so rewrites
    // shed stale entries with the files themselves
    val seqRef: Set[String] = files.valuesIterator.flatten.toSet ++
      deletes.valuesIterator.flatten.toSet
    seqs.view.filterKeys(seqRef).toSeq.sortBy(_._1).foreach {
      case (f, n) =>
        sb.append("seq\t").append(f).append('\t').append(n).append('\n')
    }
    sb.append("#end\n")
    sb.toString
  }

  private def parseManifest(v: Long, txt: String): Option[Snapshot] = {
    val lines = txt.split('\n')
    // a manifest without the end marker is a torn write from a
    // non-atomic fallback scheme — skip it, an older version governs
    if (!lines.lastOption.contains("#end")) return None
    if (!lines.headOption.exists(_.startsWith("touched\t"))) return None
    val touched = lines.head.stripPrefix("touched\t").split(',')
      .filter(_.nonEmpty).map(_.toInt).toSet
    val schema = lines.find(_.startsWith("schema\t")).map(ln =>
      org.apache.spark.sql.types.DataType
        .fromJson(ln.stripPrefix("schema\t"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val files = scala.collection.mutable.Map.empty[Int, Vector[String]]
    val stats = scala.collection.mutable.Map.empty[String, (String, String)]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val extras = scala.collection.mutable
      .Map.empty[String, Map[String, (String, String)]]
    val changes = Vector.newBuilder[String]
    var captured = false
    val meta = scala.collection.mutable.Map.empty[String, String]
    val dels = scala.collection.mutable.Map.empty[Int, Vector[String]]
    val seqs = scala.collection.mutable.Map.empty[String, Long]
    lines.iterator.drop(1).takeWhile(_ != "#end").foreach { ln =>
      if (ln.startsWith("changes\t")) {
        captured = true
        val c = ln.stripPrefix("changes\t")
        if (c != "-") changes += c
      } else if (ln.startsWith("delete\t")) {
        val parts = ln.split('\t')
        if (parts.length >= 3) {
          val b = parts(1).toInt
          dels(b) = dels.getOrElse(b, Vector.empty) :+ parts(2)
          if (parts.length >= 4)
            parts(3).toLongOption.foreach(counts(parts(2)) = _)
        }
      } else if (ln.startsWith("seq\t")) {
        val parts = ln.split('\t')
        if (parts.length >= 3)
          parts(2).toLongOption.foreach(seqs(parts(1)) = _)
      } else if (ln.startsWith("meta\t")) {
        val parts = ln.split('\t')
        if (parts.length >= 3) meta(dec(parts(1))) = dec(parts(2))
      } else if (!ln.startsWith("schema\t")) {
        val parts = ln.split('\t')
        if (parts.length >= 2) {
          val b = parts(0).toInt
          val f = parts(1)
          if (f == "-") files.getOrElseUpdate(b, Vector.empty)
          else {
            files(b) = files.getOrElse(b, Vector.empty) :+ f
            if (parts.length >= 4)
              stats(f) = (dec(parts(2)), dec(parts(3)))
            if (parts.length >= 5)
              parts(4).toLongOption.foreach(counts(f) = _)
            if (parts.length >= 8) {
              val triples = (5 until parts.length - 2 by 3).map(i =>
                dec(parts(i)) -> (dec(parts(i + 1)), dec(parts(i + 2))))
              if (triples.nonEmpty) extras(f) = triples.toMap
            }
          }
        }
      }
    }
    Some(Snapshot(v, files.toMap, touched, schema, stats.toMap,
      if (captured) Some(changes.result()) else None, meta.toMap,
      counts.toMap, extras.toMap, dels.toMap, seqs.toMap))
  }

  private def readVersionFile(fs: FileSystem, p: Path): String =
    KeyedTable.readFully(fs, p)

  private def listVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val vd = versionsDir(dir)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted
  }

  /** Every COMPLETE committed version, ascending — the numbers a
    * consumer may time-travel to or span with [[changesBetween]]
    * (claim numbers can have gaps where torn claims were skipped). */
  def completeVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = hfs(spark, dir)
    listVersions(fs, dir).filter { v =>
      val p = versionPath(dir, v)
      fs.exists(p) && parseManifest(v, readVersionFile(fs, p)).isDefined
    }
  }

  /** TIMESTAMP AS OF: the latest complete version whose manifest was
    * committed at or before `tsMillis` (manifest-file mtime — the
    * commit instant, since a claim only exists once its content is
    * durable). Loud failure when the table did not exist yet or the
    * span was vacuumed. */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val fs = hfs(spark, dir)
    val at = listVersions(fs, dir)
      .filter { v =>
        val p = versionPath(dir, v)
        // a concurrent vacuum may delete a listed version between the
        // listing and the stat — skip, don't throw from a read
        try fs.exists(p) &&
          fs.getFileStatus(p).getModificationTime <= tsMillis &&
          parseManifest(v, readVersionFile(fs, p)).isDefined
        catch { case _: java.io.FileNotFoundException => false }
      }
    at.lastOption.getOrElse(throw new IllegalStateException(
      s"VersionedKeyedTable at $dir has no complete version committed " +
        s"at or before $tsMillis (created later, or vacuumed past it)"))
  }

  /** [[read]] pinned to the state as of a wall-clock instant. */
  def readAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAsOf(spark, dir, tsMillis)))

  /** The snapshot at `version`, or the latest complete one. */
  def snapshot(spark: SparkSession, dir: String,
      version: Option[Long] = None): Snapshot = {
    val fs = hfs(spark, dir)
    val candidates = version match {
      case Some(v) => Seq(v)
      case None => listVersions(fs, dir).reverse
    }
    candidates.iterator
      .flatMap { v =>
        val p = versionPath(dir, v)
        if (!fs.exists(p)) None
        else parseManifest(v, readVersionFile(fs, p))
      }
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"VersionedKeyedTable at $dir has no " +
          version.fold("committed version")(v => s"complete version v$v")))
  }

  /** The next CLAIMABLE version number at or after `atLeast`: one past
    * the highest claimed name, complete or torn. A torn claim (a
    * crashed weak-scheme writer's file without `#end`) permanently
    * occupies its number — committers must skip past it, or a single
    * dead claim at latest-complete+1 would wedge the protocol forever.
    * Weak-scheme caveat, documented: a glacially slow fallback writer
    * whose claim is skipped and who then finishes lands at a number
    * BELOW the latest — readers resolve the latest complete manifest,
    * so that late commit is never observed (lost, not corrupting). */
  private def nextClaimable(fs: FileSystem, dir: String,
      atLeast: Long): Long =
    math.max(atLeast, listVersions(fs, dir).lastOption.getOrElse(0L) + 1)

  /** One way of CLAIMING a version name with content — the commit
    * protocol's only filesystem-dependent move, factored so each
    * scheme gets the strongest primitive it actually has. The key
    * property a backend declares is `atomicWithContent`: whether a
    * claim NAME can ever be observed without its complete content.
    * Atomic backends have NO torn window — a lost CAS always implies
    * a complete commit, so [[commitLoop]] never polls on them and its
    * torn-claim skip is unreachable. */
  private[sinks] sealed trait ClaimBackend {
    def atomicWithContent: Boolean
    def tryClaim(fs: FileSystem, versions: Path, target: Path,
        content: String): Boolean
  }

  /** file://— content lands in a temp file and a HARD LINK claims the
    * name: link(2) fails with EEXIST if a racer won, and the content
    * is complete the instant the name exists. */
  private[sinks] object LinkCasClaim extends ClaimBackend {
    val atomicWithContent = true
    def tryClaim(fs: FileSystem, versions: Path, target: Path,
        content: String): Boolean = {
      val tmp = new Path(versions, s".tmp-${java.util.UUID.randomUUID()}")
      val local = (p: Path) => java.nio.file.Paths.get(
        Path.getPathWithoutSchemeAndAuthority(p).toString)
      java.nio.file.Files.write(local(tmp), content.getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(local(target), local(tmp))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(local(tmp))
    }
  }

  /** HDFS-semantics schemes — rename is atomic and FAILS when the
    * destination exists (the HDFS `rename` contract), so writing the
    * full content to a temp file and renaming it onto the version
    * name is a true CAS, atomic with content: a writer that crashes
    * mid-claim leaves only an unreferenced temp file, never a torn
    * claim. This closes the create-to-write window the
    * exclusive-create fallback's `#end` marker + bounded poll exist
    * to manage. */
  private[sinks] object RenameClaim extends ClaimBackend {
    val atomicWithContent = true
    def tryClaim(fs: FileSystem, versions: Path, target: Path,
        content: String): Boolean = {
      val tmp = new Path(versions, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      val won = try fs.rename(tmp, target)
        catch { case _: java.io.IOException => false }
      if (!won) fs.delete(tmp, false): Unit
      won
    }
  }

  /** Object stores with CONDITIONAL WRITES — the S3 `If-None-Match: *`
    * / GCS `ifGenerationMatch=0` / Azure create-with-ETag contract: a
    * PUT uploads the FULL manifest body and the store publishes it
    * atomically iff the name is absent, failing the whole request on
    * conflict. The object is therefore either invisible or complete —
    * never torn — which makes this backend atomic-with-content like
    * the link and rename claims, with NO temp file and NO rename
    * emulation (object stores have neither). Through Hadoop the
    * primitive is `create(path, overwrite = false)` + write + close
    * on a connector whose close() performs the conditional upload
    * (s3a with fs.s3a.create.conditional.enabled, gs, abfs): the name
    * appears only when close() succeeds. Conflict surfaces as
    * FileAlreadyExistsException at create OR as the conditional-PUT
    * failure at close — both read as a lost CAS and the committer
    * re-reads the log. */
  private[sinks] object ConditionalPutClaim extends ClaimBackend {
    val atomicWithContent = true
    def tryClaim(fs: FileSystem, versions: Path, target: Path,
        content: String): Boolean =
      try {
        val out = fs.create(target, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch {
        // create-time conflict (the connector knew) or close-time
        // conditional-PUT failure (the store said no): lost CAS
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
  }

  /** Schemes whose `create(overwrite=false)` is a true conditional
    * write (content-atomic PUT-if-absent). Mutable like
    * [[renameClaimSchemes]]: a deployment registers its store once
    * conditional writes are enabled on the connector; specs register
    * a masquerading local scheme that defers visibility to close().
    * NOT defaulted to s3a/gs/abfs — on a connector with conditional
    * writes DISABLED, create(overwrite=false) is a HEAD-then-PUT
    * TOCTOU that could overwrite a committed manifest; the operator
    * opts in per deployment. */
  private[sinks] val condPutClaimSchemes: scala.collection.mutable.Set[String] =
    scala.collection.mutable.Set.empty

  /** The documented FALLBACK for schemes with neither primitive:
    * ATOMIC-EXCLUSIVE CREATE claims the name (createNewFile — exactly
    * one racer can ever win; an exists-check + rename would be a
    * TOCTOU on schemes whose rename OVERWRITES, silently replacing a
    * committed manifest), then the content is written. The
    * create-to-write gap is the torn window the `#end` marker makes
    * detectable and [[commitLoop]]'s bounded poll manages on the loser
    * side — a live racer mid-write is waited for, never adjudicated
    * dead. */
  private[sinks] object ExclusiveCreateClaim extends ClaimBackend {
    val atomicWithContent = false
    def tryClaim(fs: FileSystem, versions: Path, target: Path,
        content: String): Boolean = {
      val created =
        try fs.createNewFile(target)
        catch { case _: java.io.IOException => false }
      if (created) {
        val out = fs.create(target, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
      created
    }
  }

  /** Schemes whose rename is known atomic-no-overwrite (the HDFS
    * family). Mutable so a deployment whose store honors the HDFS
    * rename contract can register its scheme (specs register a
    * masquerading local scheme to drive the path). */
  private[sinks] val renameClaimSchemes: scala.collection.mutable.Set[String] =
    scala.collection.mutable.Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Backend SELECTION, per scheme — the deployment story:
    *
    *  - `file://` → hard-link CAS (POSIX link(2) is atomic-exclusive).
    *  - HDFS family (`hdfs`/`viewfs`/`webhdfs`/`swebhdfs`) → rename
    *    CAS (the HDFS rename contract: atomic, fails on existing
    *    destination).
    *  - Object stores (`s3a`/`gs`/`abfs`) are NOT auto-detected:
    *    whether `create(path, overwrite=false)` is a true conditional
    *    PUT depends on the CONNECTOR'S configuration, not the scheme —
    *    s3a only with `fs.s3a.create.conditional.enabled` (Hadoop
    *    3.4.1+, riding S3 `If-None-Match: *`), gs via
    *    `ifGenerationMatch=0`, abfs via create-with-ETag. On a
    *    connector with conditional writes DISABLED the same call is a
    *    HEAD-then-PUT TOCTOU that could overwrite a committed
    *    manifest, so the operator must OPT IN once per deployment:
    *    either `spark.graft.claim.condput.schemes=s3a,gs` (the conf
    *    knob) or registering the scheme in [[condPutClaimSchemes]]
    *    programmatically.
    *  - Everything else → exclusive-create fallback (torn-claim
    *    window managed by the `#end` marker + bounded loser poll).
    *
    * `spark.graft.claim.backend` ∈ link | rename | condput | create
    * FORCES one backend for every scheme — the escape hatch for a
    * store whose contract the operator knows better than the scheme
    * table (e.g. a rename-atomic NFS mount, or an S3-compatible store
    * with conditional writes verified). Forcing `link` on a non-local
    * scheme fails at claim time (it uses local syscalls) — loud, never
    * torn. Read from the active session (claims run driver-side). */
  private[sinks] def claimBackendFor(fs: FileSystem): ClaimBackend = {
    val conf = SparkSession.getActiveSession
    conf.flatMap(_.conf.getOption("spark.graft.claim.backend")) match {
      case Some("link") => LinkCasClaim
      case Some("rename") => RenameClaim
      case Some("condput") => ConditionalPutClaim
      case Some("create") => ExclusiveCreateClaim
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.claim.backend must be one of link, rename, " +
          s"condput, create (got '$other')")
      case None =>
        val scheme = fs.getUri.getScheme
        val confCondPut = conf
          .flatMap(_.conf.getOption("spark.graft.claim.condput.schemes"))
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
        if (scheme == "file") LinkCasClaim
        else if (renameClaimSchemes.contains(scheme)) RenameClaim
        else if (condPutClaimSchemes.contains(scheme) ||
          confCondPut.contains(scheme)) ConditionalPutClaim
        else ExclusiveCreateClaim
    }
  }

  private def tryCommit(fs: FileSystem, dir: String, target: Path,
      content: String): Boolean = {
    fs.mkdirs(versionsDir(dir))
    claimBackendFor(fs).tryClaim(fs, versionsDir(dir), target, content)
  }

  /** How long a committer waits on a blocking incomplete claim before
    * declaring it torn (weak schemes only — the file:// hard-link CAS
    * makes a lost CAS imply a complete commit). Total wait =
    * polls × interval; sized for rename-emulation latency, not for
    * writer runtime, because a rename-claimed manifest is complete
    * before the name ever exists. */
  private[sinks] var tornClaimPolls = 10
  private[sinks] var tornClaimPollMs = 200L

  /** [[commitLoop]]'s wait after a lost CAS with NO new complete
    * version: the blocking claim is either a dead writer's torn file or
    * (on the exclusive-create fallback) a live racer mid-claim. Poll
    * briefly for a complete commit to appear; `true` means one did (the
    * loop re-reads the log), `false` after the bound means the claim is
    * adjudicated torn and skipped. On atomic-with-content backends (file:// hard
    * links, HDFS-family renames) this returns immediately — a claim
    * name cannot exist without complete content there. */
  private def awaitBlockingClaim(fs: FileSystem, spark: SparkSession,
      dir: String, baseVersion: Long): Boolean = {
    if (claimBackendFor(fs).atomicWithContent) return false
    var i = 0
    while (i < tornClaimPolls) {
      Thread.sleep(tornClaimPollMs)
      if (snapshot(spark, dir).version > baseVersion) return true
      i += 1
    }
    false
  }

  /** THE optimistic commit loop — every mutation entry point except
    * the base-less first commits of [[create]] and [[cloneAt]] commits
    * through it (Delta's `OptimisticTransaction` shape over the
    * manifest log). `prepare` reads one snapshot, writes whatever
    * data, delete and change files the commit needs, and returns a
    * RENDERER building the manifest from `(base, target)` — or None
    * when there is nothing to commit. The loop then claims `target`
    * (initially `snapshot.version + 1`) and, on a lost claim:
    *
    *  - re-reads the log; with NO new complete version it waits out a
    *    live weak-scheme racer ([[awaitBlockingClaim]]; immediate on
    *    atomic-with-content backends, where a lost claim always means
    *    a complete commit);
    *  - still no new complete version: the blocking claim is TORN (a
    *    dead weak-scheme writer) — skip past every claimed name
    *    ([[nextClaimable]]), same base, same files;
    *  - a new complete version, and `rebaseFor` holds my touched
    *    buckets that no intervening commit touched: REBASE — re-render
    *    the same files onto the new base (no data rewrite);
    *  - otherwise (overlap, or a strict caller — `rebaseFor = None` —
    *    whose content was derived from the whole snapshot): RECOMPUTE —
    *    `prepare` runs again on the new snapshot; the files just
    *    written become unreferenced (vacuum removes them).
    *
    * `maxAttempts` bounds the lost claims, torn skips included (one
    * skip clears any run of torn claims), then the commit fails
    * loudly. */
  private def commitLoop(spark: SparkSession, dir: String, op: String,
      maxAttempts: Int, rebaseFor: Option[Set[Int]])(
      prepare: Snapshot => Option[(Snapshot, Long) => String]): Unit = {
    val fs = hfs(spark, dir)
    var snap = snapshot(spark, dir)
    var lost = 0
    while (true) {
      val render = prepare(snap) match {
        case Some(r) => r
        case None => return // nothing to commit
      }
      var base = snap
      var target = base.version + 1
      var resolved = false
      while (!resolved) {
        if (tryCommit(fs, dir, versionPath(dir, target),
            render(base, target))) return
        lost += 1
        if (lost >= maxAttempts) throw new IllegalStateException(
          s"VersionedKeyedTable at $dir: $op contention exceeded " +
            s"$maxAttempts attempts — backlogged writers on this table")
        val cur0 = snapshot(spark, dir)
        val cur =
          if (cur0.version > base.version) cur0
          else if (awaitBlockingClaim(fs, spark, dir, base.version))
            snapshot(spark, dir)
          else cur0
        if (cur.version <= base.version)
          target = nextClaimable(fs, dir, target + 1)
        else if (rebaseFor.exists(mine =>
            (base.version + 1 to cur.version).forall { v =>
              val p = versionPath(dir, v)
              !fs.exists(p) || parseManifest(v, readVersionFile(fs, p))
                .forall(s => (s.touched & mine).isEmpty)
            })) {
          base = cur
          target = math.max(base.version + 1, target)
        } else {
          snap = cur
          resolved = true
        }
      }
    }
  }

  /** The recorded key IS the layout contract: a wrong-column write
    * would hash rows into wrong buckets AND read pending MoR delete
    * files as all-null (resurrecting deleted rows) — refuse loudly.
    * Tables whose sidecar predates the recorded key pass, except for
    * merge-on-read writes (`recorded`): readers resolve the delete
    * files' anti-join key from the sidecar, so it must be there. */
  private def requireKey(spark: SparkSession, dir: String,
      keyCol: String, op: String, recorded: Boolean = false): Unit = {
    val rec = KeyedTable.readMetaKey(spark, dir)
    if (recorded) require(rec.contains(keyCol),
      s"$op key '$keyCol' must match the table's recorded key " +
        s"column (${rec.getOrElse("none")})")
    else require(rec.forall(_ == keyCol),
      s"$op at $dir: key '$keyCol' does not match the table's " +
        s"recorded key column (${rec.getOrElse("none")})")
  }

  /** ADDITIVE-ONLY schema evolution, the contract every write path
    * shares: `current` widened by the incoming batch's new columns
    * (`__bucket` excluded). A shared column must keep its type — a
    * batch that changes one would write files later reads cannot
    * convert — and a new name must not be a dropped column's. Old
    * files read the added columns as null, the parquet missing-column
    * contract the source_evolving_schema row pins. */
  private def evolveSchema(spark: SparkSession, dir: String,
      current: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val fields = incoming.fields.filterNot(_.name == "__bucket")
    fields.foreach { f =>
      current.fields.find(_.name == f.name).foreach { cf =>
        require(cf.dataType == f.dataType,
          s"schema evolution is additive only: column '${f.name}' " +
            s"cannot change ${cf.dataType} -> ${f.dataType}")
      }
    }
    val added = fields.filterNot(f => current.fieldNames.contains(f.name))
    requireNotDropped(spark, dir, added.map(_.name).toSeq)
    org.apache.spark.sql.types.StructType(current.fields ++ added)
  }

  /** A rebased commit's schema: mine, plus any columns a DISJOINT racer
    * added on `base` (rebase keeps both evolutions additive). */
  private def carrySchema(mine: org.apache.spark.sql.types.StructType,
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(mine.fields ++
      base.fields.filterNot(f => mine.fieldNames.contains(f.name)))

  // ---- data files --------------------------------------------------

  /** Bits per freshly-written file's key bloom filter (serialized
    * size ≈ bits/8 bytes; the sidecar is per COMMIT, never in the
    * manifest). Sized so a file of ~bits/8 keys keeps a useful false-
    * positive rate — a production deployment sizes it to its target
    * rows-per-file; an oversubscribed bloom saturates and merely stops
    * pruning (never wrong). */
  private[sinks] var bloomBitsPerFile: Int = 65536

  /** Name of the per-commit bloom sidecar: `relpath TAB base64(bloom)`
    * per data file, addressed by convention next to the commit's
    * bucket dirs — the manifest format is untouched, so blooms are a
    * pure read-side optimization old logs simply lack. */
  private val BloomSidecar = "_blooms.tsv"

  /** Whether numeric pruning may be applied to `name`'s recorded
    * stats: ONLY when the column's schema type records a NUMERIC
    * IMAGE — integral columns record the value itself, DATE columns
    * epoch days and TIMESTAMP columns epoch micros (order-preserving
    * integral images; see [[statImage]]), so time-keyed tables prune
    * exactly like long-keyed ones. A STRING column's stats are its
    * string-ordered envelope (e.g. a file holding {"9","10"} records
    * mn="10", mx="9"), and parsing those as longs would prune files
    * whose rows match — wrong results, not just missed pruning —
    * so string columns serve only string-order consumers
    * (isClustered, the string-bounds pruning in [[ZoneMapFileIndex]],
    * [[keyFilesStr]]). The reference's own range splitter was typed
    * the same way (python/src/mapreduce/property_range.py:316-423
    * splits datetime ranges; java DatastoreShardStrategy.java:406
    * long/double/string/date). */
  private[sinks] def numericPrunable(
      schema: org.apache.spark.sql.types.StructType,
      name: String): Boolean =
    schema.fields.find(_.name == name)
      .exists(f => hasNumericImage(f.dataType))

  /** BINARY (UTF-8 byte) ordering over strings — the order Spark's
    * min/max aggregated the manifest's string envelopes in
    * (UTF8String compares bytewise = by code point), which diverges
    * from java.lang.String's UTF-16 code-unit order for
    * supplementary-plane characters (an emoji sorts BELOW U+E000+ in
    * UTF-8 order but ABOVE it in UTF-16 order, because it encodes as
    * surrogates 0xD800+). Every consumer of a string envelope MUST
    * compare in this order, or a file legitimately containing a
    * probed key could be pruned — silently dropped rows, not a missed
    * optimization. */
  private[graft] object Utf8Ord extends Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  private[sinks] def hasNumericImage(
      t: org.apache.spark.sql.types.DataType): Boolean =
    isIntegralKey(t) ||
      t == org.apache.spark.sql.types.DateType ||
      t == org.apache.spark.sql.types.TimestampType

  // Spark's IntegralType marker is private[sql]; enumerate explicitly
  private def isIntegralKey(
      t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** The image a column's manifest stats are recorded in (and that
    * range predicates must be expressed in): identity for integral
    * columns, epoch DAYS for DATE, epoch MICROS for TIMESTAMP — each
    * a monotone integral image, so min/max commute with it and ONE
    * numeric pruning rule serves longs, dates and timestamps alike.
    * (Catalyst's own literals use the same images — a `WHERE ts >=
    * TIMESTAMP'...'` carries Literal(micros, TimestampType) — which
    * is what lets [[ZoneMapFileIndex]] prune typed predicates with no
    * conversion at all.) Every other type is its own image: strings
    * keep their native string-ordered envelope. */
  private def statImage(t: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    t match {
      case org.apache.spark.sql.types.DateType => unix_date(c)
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case _ => c
    }

  /** Write `withBucket` (data columns + __bucket) as immutable files
    * under a fresh commit dir; returns bucket → relative paths plus a
    * per-file ZONE MAP (key min/max) computed in one distributed pass
    * over only the new files — O(batch), never O(table). The same pass
    * builds a per-file KEY BLOOM (integral keys only) persisted as the
    * commit's `_blooms.tsv` sidecar: the point-lookup complement of
    * zone maps, since hash-scattered keys give every file a full-range
    * (min, max) that prunes nothing while the bloom still can. The
    * partition column stays in the PATH, so data files carry the pure
    * data schema. */
  private def writeDataFiles(spark: SparkSession, dir: String,
      withBucket: DataFrame, keyCol: String,
      maxRecordsPerFile: Long = 0L,
      statsCols: Seq[String] = Nil,
      /** false ONLY for maintenance rewrites ([[rewriteBuckets]]):
        * they re-write rows that already committed, so re-running the
        * constraint guard can only re-fail on rows that slipped in
        * through the documented addConstraint race — and a compact/
        * cluster (including the streaming sink's auto-compaction,
        * which runs inside every epoch commit) that throws PERMANENTLY
        * wedges maintenance until someone drops the constraint. DML
        * writes always enforce. */
      enforceConstraints: Boolean = true)
      : (Map[Int, Seq[String]], Map[String, (String, String)],
         Map[String, Long],
         Map[String, Map[String, (String, String)]]) = {
    val rel = s"data/c-${java.util.UUID.randomUUID()}"
    // CHECK constraints guard every row in the write's own pass — a
    // violation fails the job here, before any manifest can commit
    val guarded =
      if (enforceConstraints) withConstraintChecks(spark, dir, withBucket)
      else withBucket
    val w = guarded.write.partitionBy("__bucket")
    jobPhase(spark, "write-data") {
      (if (maxRecordsPerFile > 0L)
         w.option("maxRecordsPerFile", maxRecordsPerFile)
       else w).parquet(s"$dir/$rel")
    }
    val fs = hfs(spark, dir)
    val base = new Path(s"$dir/$rel")
    // keep the FileStatuses: the stats pass below scans exactly these
    // files via a PreListedFileIndex under the KNOWN write schema —
    // no re-listing and no schema-inference job per commit (guide §6)
    val fileSts = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
      .map { d =>
        val b = d.getPath.getName.stripPrefix("__bucket=").toInt
        b -> fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
    val files = fileSts.map { case (b, sts) =>
      b -> sts.map(f => s"$rel/__bucket=${b}/${f.getPath.getName}")
    }
    val keyType = withBucket.schema.fields
      .find(_.name == keyCol).map(_.dataType)
    val isStrKey = keyType.contains(org.apache.spark.sql.types.StringType)
    // blooms: integral keys bloom the RAW long; STRING keys bloom
    // xxhash64(key) (seed 42, Spark's default) — the read side probes
    // the matching encoding by the key's SCHEMA TYPE (keyFilesOf /
    // keyFilesStrOf), so build and probe can never disagree
    val withBloom = keyType.exists(isIntegralKey) || isStrKey
    def typeOf(c: String): org.apache.spark.sql.types.DataType =
      withBucket.schema.fields.find(_.name == c).get.dataType
    // secondary stats only for columns the batch actually carries
    val extraCols = statsCols.distinct
      .filter(c => c != keyCol && withBucket.columns.contains(c))
    val (stats, counts, extra) =
      if (files.valuesIterator.forall(_.isEmpty))
        (Map.empty[String, (String, String)], Map.empty[String, Long],
          Map.empty[String, Map[String, (String, String)]])
      else {
        val bloomIn =
          if (!withBloom) None
          else if (isStrKey) Some(s"xxhash64(`$keyCol`)")
          else Some(s"CAST(`$keyCol` AS BIGINT)")
        // native-typed stat images; perFileStats casts to string
        // after the aggregate
        val statCols = (keyCol +: extraCols).map(c =>
          statImage(typeOf(c), col(c)))
        // the files were just written and listed: scan them under the
        // write's own schema (data columns only — __bucket lives in
        // the path), skipping listing and inference entirely
        val dataSchema = org.apache.spark.sql.types.StructType(
          guarded.schema.fields.filterNot(_.name == "__bucket"))
        val src = scanStatuses(spark, s"$dir/$rel", dataSchema,
          fileSts.valuesIterator.flatten.toSeq)
        val per = jobPhase(spark, "file-stats") {
          perFileStats(spark, src, statCols, bloomIn,
            bloomBitsPerFile)
        }
        def relOf(uri: String): String = {
          val b = "__bucket=(\\d+)/".r.findFirstMatchIn(uri)
            .getOrElse(throw new IllegalStateException(
              s"freshly written data file outside a bucket dir: $uri"))
            .group(1)
          s"$rel/__bucket=$b/" + uri.substring(uri.lastIndexOf('/') + 1)
        }
        if (withBloom) {
          val lines = per.toSeq.flatMap { case (uri, (_, _, bloom)) =>
            bloom.map(bs => relOf(uri) + "\t" + // all-null-key: no bloom
              java.util.Base64.getEncoder.encodeToString(bs))
          }
          if (lines.nonEmpty) {
            val out = fs.create(new Path(base, BloomSidecar), true)
            try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
            finally out.close()
          }
        }
        val st = per.flatMap { case (uri, (_, mnmxs, _)) =>
          mnmxs.head.map(relOf(uri) -> _) // all-null-key file: no stats
        }
        val cn = per.map { case (uri, (cnt, _, _)) => relOf(uri) -> cnt }
        val ex = per.flatMap { case (uri, (_, mnmxs, _)) =>
          val perCol = extraCols.zip(mnmxs.tail).flatMap {
            case (c, mm) => mm.map(c -> _)
          }.toMap
          if (perCol.isEmpty) None else Some(relOf(uri) -> perCol)
        }
        (st, cn, ex)
      }
    (files, stats, counts, extra)
  }

  /** The secondary-stats column set a mutation must maintain: whatever
    * columns the current snapshot's files already carry extra stats
    * for — self-propagating, so one clusterBy (or a stats-collecting
    * create) keeps the pruning dimension alive across later upserts
    * without any catalog. */
  private def inheritedStatsCols(snap: Snapshot): Seq[String] =
    snap.extraStats.valuesIterator.flatMap(_.keysIterator)
      .toSet.toSeq.sorted

  /** The key blooms of a snapshot's candidate files, loaded lazily per
    * COMMIT DIR (one sidecar read covers every candidate in that
    * commit): relpath → deserialized filter. Files whose commit wrote
    * no sidecar (string keys, pre-bloom logs) are simply absent —
    * callers must treat absence as "cannot prune". */
  private[sinks] def bloomsFor(fs: FileSystem, dir: String,
      relFiles: Seq[String])
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val byCommit = relFiles.groupBy { f =>
      // data/c-<uuid>/__bucket=N/part-*.parquet -> data/c-<uuid>
      val i = f.indexOf('/', f.indexOf('/') + 1)
      if (i < 0) f else f.take(i)
    }
    byCommit.keys.flatMap { commitRel =>
      val p = new Path(s"$dir/$commitRel/$BloomSidecar")
      if (!fs.exists(p)) Seq.empty
      else KeyedTable.readFully(fs, p).split('\n').toSeq.flatMap { ln =>
          // tolerate any malformed line (torn sidecar write): an
          // unreadable bloom means "cannot prune", never a crash
          try {
            val i = ln.indexOf('\t')
            if (i <= 0 || ln.indexOf('\t', i + 1) >= 0) None
            else Some(ln.take(i) ->
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  java.util.Base64.getDecoder.decode(ln.drop(i + 1)))))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
    }.toMap
  }

  /** Shared driver-side bound for point-lookup key lists
    * ([[readKeys]], [[keyFiles]] and their string-key variants, and
    * the probe keys of a bounded serving-curation batch). */
  private[graft] val MaxPointLookupKeys = 100000

  /** The file pruning a [[readKeys]] point lookup performs, exposed
    * for inspection: (files kept, candidate files in the keys'
    * buckets) at the given version. A candidate survives only if its
    * zone map can contain SOME key AND its bloom might contain some
    * key (files without either are never pruned). */
  def keyFiles(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], version: Option[Long] = None)
      : (Seq[String], Int) = {
    // same bound as readKeys: the key list is driver-held and probed
    // per candidate file (zone maps, then blooms) — O(files × keys)
    // driver work must stay bounded
    require(keys.size <= MaxPointLookupKeys,
      s"keyFiles is for bounded point lookups (${keys.size} keys); " +
        "join against read() for larger key sets")
    val (nb, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    keyFilesOf(spark, dir, keyCol, keys, snap, nb,
      snap.schema.getOrElse(metaSchema))
  }

  /** The buckets a DRIVER-HELD key list routes to, with no Spark
    * job: the keys become a LocalRelation, cast to the table's key
    * type (xxhash64 is physical-type-sensitive: hash of 5: Int != 5:
    * Long) and bucketed by the one `bucketOf` expression. The
    * optimizer folds that projection into the local rows
    * (ConvertToLocalRelation) and the collect reads them on the
    * driver — the in-process routing of the reference's
    * HashingSharder, under Spark's exact cast and hash semantics (an
    * ANSI cast overflow raises as it would in a scan). The set
    * dedupes: a `distinct()` would plan an exchange and two jobs. */
  private[sinks] def keyBuckets(spark: SparkSession, keyCol: String,
      keys: Either[Seq[Long], Seq[String]],
      keyType: org.apache.spark.sql.types.DataType, nb: Int): Set[Int] = {
    import spark.implicits._
    keys.fold(_.toDF(keyCol), _.toDF(keyCol))
      .select(col(keyCol).cast(keyType).as(keyCol))
      .select(bucketOf(keyCol, nb))
      .collect().iterator.map(_.getInt(0)).toSet
  }

  /** [[keyFiles]] against an ALREADY-RESOLVED snapshot — so a read can
    * prune and scan under ONE snapshot (resolving twice would both
    * double the log I/O and open a window where the kept files and the
    * schema come from different versions). The keys route to their
    * buckets on the driver ([[keyBuckets]]), so pruning launches no
    * Spark job. */
  private def keyFilesOf(spark: SparkSession, dir: String,
      keyCol: String, keys: Seq[Long], snap: Snapshot, nb: Int,
      schema: org.apache.spark.sql.types.StructType)
      : (Seq[String], Int) = {
    val wanted = keyBuckets(spark, keyCol, Left(keys),
      schema(keyCol).dataType, nb)
    val candidate = snap.files.filter(e => wanted(e._1))
      .values.flatten.toSeq
    // numeric zone checks only for INTEGRAL keys: string-ordered
    // envelopes numeric-parsed would wrongly prune, and a Seq[Long]
    // probe against a date/timestamp key has no defined unit (the
    // string-key path is keyFilesStrOf; time keys range-read instead)
    val zonePrunable =
      schema.fields.find(_.name == keyCol).exists(f =>
        isIntegralKey(f.dataType))
    val zoneKept =
      if (!zonePrunable) candidate
      else candidate.filter { f =>
        snap.stats.get(f) match {
          case Some((mn, mx)) =>
            (mn.toLongOption, mx.toLongOption) match {
              case (Some(a), Some(b)) => keys.exists(k => k >= a && k <= b)
              case _ => true
            }
          case None => true
        }
      }
    val blooms = bloomsFor(hfs(spark, dir), dir, zoneKept)
    val kept = zoneKept.filter { f =>
      blooms.get(f) match {
        case Some(bl) => keys.exists(bl.mightContainLong)
        case None => true // no bloom recorded: must read
      }
    }
    (kept, candidate.size)
  }

  // ---- change capture ----------------------------------------------

  /** The change annotation a commit's merge pass carries beside each
    * row it produces, so the change files are a projection of rows the
    * commit already materialized:
    *  - [[ChangeCol]]: the row's change type (insert | update | delete),
    *    null for an untouched or unchanged row;
    *  - [[LiveCol]]: the row belongs to the post-image (the data write
    *    keeps it); a false row is a pre-image only — a deleted row, or
    *    the row an upsert's put replaced;
    *  - [[PutCol]]: only in a put remerge's output ([[putRemerge]]):
    *    the row is a put (live) or the pre-image a put replaced (not
    *    live), to be paired by key in the change write ([[pairPuts]]);
    *  - [[prevCol]]`(c)`: the row's old value of `c` when it changed. */
  private val ChangeCol = "__change"
  private val LiveCol = "__live"
  private val PutCol = "__put"
  private def prevCol(c: String): String = s"__prev_$c"

  /** The change type of a key whose old image is present iff `hadOld`
    * and new image iff `hasNew`: insert, delete, update, or null when
    * every data column is null-safe equal (an unchanged put). */
  private def changeOf(hadOld: org.apache.spark.sql.Column,
      hasNew: org.apache.spark.sql.Column, dataCols: Seq[String],
      old: String => org.apache.spark.sql.Column,
      cur: String => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val sameRow = dataCols.map(c => old(c) <=> cur(c))
      .foldLeft(lit(true))(_ && _)
    when(!hadOld, lit("insert"))
      .when(!hasNew, lit("delete"))
      .when(!sameRow, lit("update"))
  }

  /** The change-file rows of an annotated frame: the key, `change_type`,
    * every data column's new value (typed nulls for a delete) and its
    * old value as `<col>_prev`, in `schema`'s column order. */
  private def changeRows(annotated: DataFrame, keyCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    val ct = col(ChangeCol)
    annotated.where(ct.isNotNull)
      .select((col(keyCol) +: ct.as("change_type") +:
        (dataCols.map(c => when(ct =!= "delete", col(c)).as(c)) ++
          dataCols.map(c => col(prevCol(c)).as(s"${c}_prev")))): _*)
  }

  /** Row-level diff old → new, classified into [[changeRows]]. Only
    * paths that hold no pairing of their own use it: the snapshot-diff
    * CDF fallback, whole-table and file-set replacement
    * ([[replaceAll]], [[replaceFiles]]) and merge-on-read batches
    * that are unbounded or whose pre-images overflow the collect
    * ([[visibleRows]]). The other keyed commit paths take their change
    * rows from their own merge pass. */
  private def classifyDiff(oldDF: DataFrame, newDF: DataFrame,
      keyCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val o = oldDF.alias("o")
    val n = newDF.alias("n")
    val oKey = col(s"o.$keyCol")
    val nKey = col(s"n.$keyCol")
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    changeRows(o.join(n, oKey === nKey, "full_outer")
      .select((coalesce(nKey, oKey).as(keyCol) +:
        changeOf(oKey.isNotNull, nKey.isNotNull, dataCols,
          c => col(s"o.$c"), c => col(s"n.$c")).as(ChangeCol) +:
        (dataCols.map(c => col(s"n.$c").as(c)) ++
          dataCols.map(c => col(s"o.$c").as(prevCol(c))))): _*),
      keyCol, schema)
  }

  /** Whether `n` rows of a frame of `rows` rows measuring `bytes` fit
    * a broadcast: `n` under the [[maxBroadcastKeys]] gate, and `n`
    * rows at the frame's measured bytes per row within
    * `spark.sql.autoBroadcastJoinThreshold` (negative: never). */
  private[sinks] def fitsBroadcast(spark: SparkSession, n: Long,
      bytes: Long, rows: Long): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    n <= maxBroadcastKeys(spark) &&
      BigInt(bytes) * n <= BigInt(math.max(rows, 1L)) * threshold
  }

  /** The measured bytes of a localCheckpoint-ed frame: its cached
    * blocks' sizes as the block manager reports them (no job). None
    * when its blocks are not found. */
  private[sinks] def pinnedBytes(pinned: DataFrame): Option[Long] = {
    val ids = pinned.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    val infos = pinned.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids(i.id))
    if (ids.isEmpty || infos.isEmpty) None
    else Some(infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Persist a commit's captured change rows as immutable files under
    * `data/ch-<uuid>`; returns their relative paths (recorded in the
    * manifest, reclaimed by vacuum with their version). */
  private def writeChangeFiles(spark: SparkSession, dir: String,
      changeRows: DataFrame): Seq[String] = {
    val rel = s"data/ch-${java.util.UUID.randomUUID()}"
    jobPhase(spark, "write-cdf") {
      changeRows.write.parquet(s"$dir/$rel")
    }
    val fs = hfs(spark, dir)
    fs.listStatus(new Path(s"$dir/$rel")).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s"$rel/${f.getPath.getName}")
  }

  // ---- merge-on-read deletes ---------------------------------------

  /** The sequence a DATA file reads at: absent = 0 (pre-MoR files and
    * copy-on-write commits' files — every delete applies, the
    * pre-sequence behavior). */
  private[sinks] def dataSeq(snap: Snapshot, f: String): Long =
    snap.seqs.getOrElse(f, 0L)

  /** The sequence a DELETE file applies below: absent = +inf (a
    * legacy unstamped delete kills every current file — safe only
    * while no NEWER data file exists; [[upsertMor]] refuses to append
    * over unstamped deletes). */
  private[sinks] def deleteSeq(snap: Snapshot, f: String): Long =
    snap.seqs.getOrElse(f, Long.MaxValue)

  /** The merge-on-read SCAN: read the given data files with the
    * snapshot's pending delete files applied under the SEQUENCE rule
    * — a delete file kills a row only in data files with a STRICTLY
    * LOWER sequence (so a key re-added by a later [[upsertMor]]
    * survives the delete that killed its older row). With no pending
    * deletes this is a plain parquet scan (identical plan to pre-MoR
    * reads); with deletes the files group into their few sequence
    * classes, each anti-joined against exactly the delete files above
    * it and unioned — filters/projections push through the joins to
    * every class's scan, and the delete relations are small by
    * regimen (compaction consumes them). `buckets` restricts which
    * delete entries can apply (deletes are bucket-local by key
    * hashing, so a bucket-scoped read loads only its own). */
  private[sinks] def morScan(spark: SparkSession, dir: String,
      snap: Snapshot, schema: org.apache.spark.sql.types.StructType,
      keyCol: String, rels: Seq[String],
      buckets: Option[Set[Int]] = None): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (rels.isEmpty) return empty
    // deletes are bucket-local by key hashing — callers that pass no
    // bucket set still only need the deletes of the buckets their
    // FILES live in, parsed off the `__bucket=N` path segment (a
    // point lookup must not pay O(all delete files); any unparsable
    // path falls back to every bucket, conservative as ever)
    val scopedBuckets: Option[Set[Int]] = buckets.orElse {
      val bs = rels.map { f =>
        "__bucket=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toInt)
      }
      if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
    }
    val delRels = (scopedBuckets match {
      case Some(bs) => snap.deletes.view.filterKeys(bs).values.toSeq
      case None => snap.deletes.values.toSeq
    }).flatten
    def scan(fs0: Seq[String]): DataFrame =
      scanFiles(spark, dir, schema, fs0)
    if (delRels.isEmpty) return scan(rels)
    val keySchema = org.apache.spark.sql.types.StructType(
      Seq(schema(keyCol).copy(nullable = false)))
    rels.groupBy(dataSeq(snap, _)).toSeq.sortBy(_._1).map {
      case (s, classFiles) =>
        val applicable = delRels.filter(d => deleteSeq(snap, d) > s)
        if (applicable.isEmpty) scan(classFiles)
        else scan(classFiles).join(
          scanFiles(spark, dir, keySchema, applicable),
          Seq(keyCol), "left_anti")
    }.reduce(_ unionByName _)
  }

  /** Persist a MOR delete batch's keys as immutable per-bucket files
    * under `data/dl-<uuid>`; returns bucket → relative paths and each
    * file's ROW COUNT (always recorded — what keeps COUNT(*)
    * metadata-only under deferred deletes). An empty batch writes no
    * file and returns empty maps: the write IS the emptiness check,
    * so callers need no separate probe job. */
  private def writeDeleteFiles(spark: SparkSession, dir: String,
      doomedKeys: DataFrame /* keyCol + __bucket */)
      : (Map[Int, Seq[String]], Map[String, Long]) = {
    val rel = s"data/dl-${java.util.UUID.randomUUID()}"
    jobPhase(spark, "write-data") {
      doomedKeys.write.partitionBy("__bucket").parquet(s"$dir/$rel")
    }
    val fs = hfs(spark, dir)
    val base = new Path(s"$dir/$rel")
    val fileSts = (if (fs.exists(base)) fs.listStatus(base).toSeq else Nil)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
      .map { d =>
        val b = d.getPath.getName.stripPrefix("__bucket=").toInt
        b -> fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.filter(_._2.nonEmpty).toMap
    val files = fileSts.map { case (b, sts) =>
      b -> sts.map(f => s"$rel/__bucket=${b}/${f.getPath.getName}")
    }
    if (files.isEmpty) { // no doomed key: leave no empty commit dir
      fs.delete(base, true)
      return (Map.empty, Map.empty)
    }
    // per-file row counts straight from the freshly written parquet
    // footers: zero Spark jobs for the delete-file count pass
    val per = jobPhase(spark, "file-stats") {
      footerRowCounts(spark, fileSts.valuesIterator.flatten.toSeq)
    }
    val cnts = per.map { case (uri, cnt) =>
      val b = "__bucket=(\\d+)/".r.findFirstMatchIn(uri)
        .getOrElse(throw new IllegalStateException(
          s"freshly written delete file outside a bucket dir: $uri"))
        .group(1)
      (s"$rel/__bucket=$b/" +
        uri.substring(uri.lastIndexOf('/') + 1)) -> cnt
    }
    (files, cnts)
  }

  /** MERGE-ON-READ delete: the given keys' rows become invisible in
    * ONE commit that writes only per-bucket DELETE FILES — no data
    * file is read back in bulk, rewritten, or dropped. Copy-on-write
    * [[delete]] rewrites every touched bucket's files, the right cost
    * when the delete is dense; at 100 TB deleting a handful of keys
    * from TB-scale buckets must instead cost O(doomed rows):
    * Iceberg's equality deletes / Delta's deletion vectors,
    * re-expressed over the manifest log. Every read path anti-joins
    * the live delete files; copy-on-write mutations and [[compact]]
    * CONSUME them (their rewrite materializes the post-delete state,
    * so their commit clears the bucket's entries); metadata COUNT(*)
    * subtracts their recorded row counts.
    *
    * The batch is first semi-joined against the touched buckets' LIVE
    * state (zone-map-scoped to those buckets, prior delete files
    * applied), so a delete file holds exactly the doomed keys that
    * EXISTED — absent or already-deleted keys are a no-op, never a
    * double-count — and each live delete file's keys appear in no
    * other live delete file, the invariant exact metadata counts rest
    * on. CDF: the commit captures ordinary delete change rows (with
    * `_prev` values) by projecting the same semi-join's rows, so
    * views, replicas and streams cannot tell deferred from
    * copy-on-write deletes.
    *
    * Jobs: a batch of at most [[MaxPointLookupKeys]] keys (integral
    * or string key) is fetched once ([[pointLookupKeys]]) and routed
    * to its buckets on the driver, so routing, the existence filter
    * and the emptiness check (the delete-file write's own result)
    * launch no job of their own. The existence read COLLECTS the
    * doomed rows when they measure within the broadcast threshold
    * ([[visibleRows]]), and the delete-file and CDF writes project
    * that local relation — the checkpointed batch, the key take, the
    * existence read and the two writes are the commit's jobs. Larger
    * batches find their buckets with one map-only pass, semi-join
    * shuffled and checkpoint the doomed rows, as do bounded batches
    * whose rows overflow the collect.
    * Concurrency is [[commitLoop]]'s: disjoint racers rebase (my
    * delete files stay valid — their buckets' data and delete entries
    * are untouched), overlap re-runs the existence check. */
  def deleteMor(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    // read paths resolve the anti-join key from the meta sidecar —
    // a MOR delete under a different (or unrecorded) key would write
    // files no reader could ever apply
    requireKey(spark, dir, keyCol, "deleteMor", recorded = true)
    // keys typed as the TABLE's key before `__bucket`: xxhash64 of a
    // date is not that of the same instant as a timestamp, so every
    // route — bounded or not — hashes one typed column
    val batch = jobPhase(spark, "checkpoint-batch") {
      keys.select(col(keyCol).cast(metaSchema(keyCol).dataType).as(keyCol))
        .where(col(keyCol).isNotNull).distinct()
        .withColumn("__bucket", bucketOf(keyCol, nb))
        .localCheckpoint(true)
    }
    val (keyList, myTouched) = boundedKeysAndBuckets(spark, batch,
      keyCol, metaSchema(keyCol).dataType, nb)
    if (myTouched.isEmpty) return
    commitLoop(spark, dir, "deleteMor", 20, Some(myTouched)) { snap =>
      val schema = snap.schema.getOrElse(metaSchema)
      val doomedRows = visibleRows(spark, dir, snap, schema, nb, batch,
        keyCol, keyList, myTouched).fold(localFrame(spark, _, schema),
        identity)
      val (delFiles, delCounts) = writeDeleteFiles(spark, dir,
        doomedRows.select(col(keyCol))
          .withColumn("__bucket", bucketOf(keyCol, nb)))
      if (delFiles.isEmpty) None // nothing exists to delete
      else {
        // every doomed row is a delete
        val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
        val changeFiles =
          if (!captureChanges) None
          else Some(writeChangeFiles(spark, dir, changeRows(
            doomedRows.select((col(keyCol) +:
              lit("delete").as(ChangeCol) +: (dataCols.map(col) ++
                dataCols.map(c => col(c).as(prevCol(c))))): _*),
            keyCol, schema)))
        // disjoint racers keep my delete files valid; the files are
        // SEQUENCE-STAMPED with the committing version: they kill below
        // it, so rows a LATER upsertMor appends (higher sequence) live
        Some((base, target) => renderManifest(myTouched, base.files,
          base.schema.getOrElse(metaSchema), base.stats, changeFiles,
          commitMeta + (BaseKey -> base.version.toString),
          base.counts ++ delCounts, base.extraStats,
          appendPerBucket(base.deletes, myTouched, delFiles)
            .filter(_._2.nonEmpty),
          base.seqs ++ delFiles.valuesIterator.flatten.map(_ -> target)))
      }
    }
  }

  /** A merge-on-read batch's keys for the point-lookup existence read.
    * DRIVER-BOUNDED batches prune that read through the zone maps and
    * blooms: a surgical delete on a clustered 100 TB table reads the
    * few COVERING files, never whole buckets — the pruning is
    * conservative, and the key filter is the exact residual either
    * way. None (unbounded batch, or a date/timestamp key) reads the
    * touched buckets: still O(touched region), no rewrite. One
    * take(cap+1) both decides boundedness and fetches the keys — a
    * count()+collect() pair would cost two jobs per commit — and the
    * fetched list is all the commit needs of the batch's keys from
    * then on: [[boundedKeysAndBuckets]] routes it, [[visibleRows]]
    * filters by it. */
  private def pointLookupKeys(keys: DataFrame, keyCol: String,
      keyType: org.apache.spark.sql.types.DataType)
      : Option[Either[Seq[Long], Seq[String]]] = keyType match {
    case org.apache.spark.sql.types.StringType =>
      val rows = keys.select(col(keyCol)).take(MaxPointLookupKeys + 1)
      if (rows.length > MaxPointLookupKeys) None
      else Some(Right(rows.map(_.getString(0)).toSeq))
    case t if isIntegralKey(t) =>
      val rows = keys.select(col(keyCol).cast("long"))
        .take(MaxPointLookupKeys + 1)
      if (rows.length > MaxPointLookupKeys) None
      else Some(Left(rows.map(_.getLong(0)).toSeq))
    case _ => None
  }

  /** The batch's bounded key list ([[pointLookupKeys]], one job) and
    * the buckets it touches. A bounded list routes on the driver
    * ([[keyBuckets]], no job), under the table's key type; an
    * unbounded batch finds its buckets with [[touchedBuckets]]'
    * map-only pass over its `__bucket` column. */
  private def boundedKeysAndBuckets(spark: SparkSession,
      batch: DataFrame, keyCol: String,
      keyType: org.apache.spark.sql.types.DataType, nb: Int)
      : (Option[Either[Seq[Long], Seq[String]]], Set[Int]) =
    jobPhase(spark, "touched-buckets") {
      val keyList = pointLookupKeys(batch, keyCol, keyType)
      (keyList, keyList match {
        case Some(ks) => keyBuckets(spark, keyCol, ks, keyType, nb)
        case None => touchedBuckets(batch) // bounded by numBuckets
      })
    }

  /** The rows of `snap` VISIBLE under the merge-on-read state whose
    * keys `keys` carries — what a MoR commit deletes or replaces —
    * pinned before any racer commits or vacuums. A bounded `keyList`
    * (at most [[MaxPointLookupKeys]] keys, already on the driver)
    * prunes the files through [[keyFilesOf]] and filters the rows
    * with an IN list, as [[readKeys]] does — no key relation to
    * build, so no broadcast job — and the rows are COLLECTED (Left)
    * when they measure within the broadcast threshold
    * ([[collectSmall]]): the commit's later writes then run against a
    * local relation. Otherwise they are checkpointed (Right); an
    * unbounded batch semi-joins shuffled first. One job pins them, two
    * when a bounded batch's rows overflow the collect. */
  private def visibleRows(spark: SparkSession, dir: String,
      snap: Snapshot, schema: org.apache.spark.sql.types.StructType,
      nb: Int, keys: DataFrame, keyCol: String,
      keyList: Option[Either[Seq[Long], Seq[String]]],
      touched: Set[Int])
      : Either[Seq[org.apache.spark.sql.Row], DataFrame] = {
    def scan(rels: Seq[String]) =
      morScan(spark, dir, snap, schema, keyCol, rels, Some(touched))
    val bounded = keyList.map {
      case Left(ks) =>
        scan(keyFilesOf(spark, dir, keyCol, ks, snap, nb, schema)._1)
          .where(col(keyCol).isin(ks: _*))
      case Right(ss) =>
        scan(keyFilesStrOf(spark, dir, keyCol, ss, snap, nb, schema)._1)
          .where(col(keyCol).isin(ss: _*))
    }
    jobPhase(spark, "checkpoint-merged") {
      bounded.flatMap(collectSmall) match {
        case Some(rows) => Left(rows)
        case None => Right(bounded.getOrElse(scan(touched.toSeq.sorted
            .flatMap(b => snap.files.getOrElse(b, Seq.empty)))
          .join(keys.select(col(keyCol)), Seq(keyCol), "left_semi"))
          .localCheckpoint(true))
      }
    }
  }

  /** `rows` on the driver when their measured size, as UnsafeRows,
    * fits `spark.sql.autoBroadcastJoinThreshold`: one job, each
    * partition held to an even share of the threshold. A partition past
    * its share stops reading and returns nothing, and the result is
    * None. */
  private[sinks] def collectSmall(rows: DataFrame)
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection,
      UnsafeRow}
    val schema = rows.schema
    val plan = rows.queryExecution.toRdd
    val share = rows.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold / math.max(plan.getNumPartitions, 1)
    val parts = plan.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      val kept = Array.newBuilder[UnsafeRow]
      var bytes = 0L
      while (bytes <= share && it.hasNext) {
        val r = toUnsafe(it.next()).copy()
        bytes += r.getSizeInBytes
        kept += r
      }
      Iterator.single(if (bytes <= share) Some(kept.result()) else None)
    }.collect()
    if (parts.exists(_.isEmpty)) None
    else {
      val toRow = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      Some(parts.iterator.flatMap(_.get).map(toRow).toSeq)
    }
  }

  /** Driver-held rows as a DataFrame over a local relation: writes and
    * projections of it run with no job beyond their own. */
  private def localFrame(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A bounded merge-on-read commit's change rows: each put of `puts`
    * paired with its pre-image among the collected `pre` rows, plus a
    * delete for each `doomed` (delete-only) key that had one. One
    * map-only pass over the two checkpointed frames: `pre`, measured
    * within the broadcast threshold ([[collectSmall]]), travels as a
    * broadcast variable, which launches no job, so the change write
    * is the only job. The pairing looks keys up by value, which the
    * bounded route guarantees are integral or strings of the table's
    * key type. */
  private def pairedChanges(spark: SparkSession, puts: DataFrame,
      doomed: DataFrame, pre: Seq[org.apache.spark.sql.Row],
      keyCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    val dataIdx = dataCols.map(schema.fieldIndex).toArray
    val keyIdx = schema.fieldIndex(keyCol)
    val (hadOld, hasNew) = ("__had_old", "__has_new")
    val out = StructType(schema.fields.map(_.copy(nullable = true)) ++
      dataCols.map(c =>
        schema(c).copy(name = prevCol(c), nullable = true)) ++
      Seq(StructField(hadOld, BooleanType),
        StructField(hasNew, BooleanType)))
    val before = spark.sparkContext.broadcast(
      pre.map(r => r.get(keyIdx) -> r).toMap)
    def pair(side: DataFrame, isPut: Boolean): DataFrame = {
      // -1: the side lacks the column (it reads as null)
      val idx = schema.fieldNames.map(side.columns.indexOf(_))
      val sideKey = side.columns.indexOf(keyCol)
      side.mapPartitions { it =>
        val m = before.value
        it.flatMap { r =>
          val old = m.get(r.get(sideKey))
          if (!isPut && old.isEmpty) None
          else Some(org.apache.spark.sql.Row.fromSeq(
            idx.toSeq.map(i => if (i < 0) null else r.get(i)) ++
              dataIdx.toSeq.map(j => old.map(_.get(j)).orNull) ++
              Seq(old.isDefined, isPut)))
        }
      }(org.apache.spark.sql.Encoders.row(out))
    }
    changeRows(pair(puts, isPut = true)
        .unionByName(pair(doomed, isPut = false))
        .withColumn(ChangeCol, changeOf(col(hadOld), col(hasNew),
          dataCols, c => col(prevCol(c)), col)),
      keyCol, schema)
  }

  /** `cur` with `add`'s files appended to each of `buckets`' lists. */
  private def appendPerBucket(cur: Map[Int, Seq[String]],
      buckets: Set[Int], add: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
    cur ++ buckets.toSeq.map(b =>
      b -> (cur.getOrElse(b, Seq.empty) ++ add.getOrElse(b, Seq.empty)))

  /** MERGE-ON-READ UPSERT: put semantics in one commit that APPENDS
    * new data files and records an equality-delete file for the
    * replaced keys — NO bucket rewrite (copy-on-write [[upsert]]
    * reads and rewrites every touched bucket's files, write
    * amplification that grows with bucket size; at 100 TB a
    * continuously-ingesting table — the streaming-sink shape — must
    * pay O(batch) per commit instead). The Iceberg merge-on-read
    * write, reduced to the manifest log:
    *
    *  - the batch's rows land as ordinary new data files (zone maps,
    *    blooms, row counts — all stats machinery applies), SEQUENCE-
    *    STAMPED with the committing version;
    *  - keys that were VISIBLE at the snapshot get an equality-delete
    *    file stamped the same version: it kills their OLDER rows
    *    (strictly lower sequence) while the batch's own rows — same
    *    sequence — survive, so repeated upserts of one key leave
    *    exactly the newest row live;
    *  - metadata COUNT(*) stays exact: each delete entry kills
    *    exactly one older visible row (the existence semi-join is
    *    against the merge-on-read state), so data counts minus
    *    delete counts is the live count even with a key's rows in
    *    several files;
    *  - CDF captures ordinary insert/update rows (with `_prev` from
    *    the replaced rows), indistinguishable from copy-on-write;
    *  - reads pay the sequence-class anti-joins until [[compact]]
    *    (or any copy-on-write mutation of the bucket) folds the
    *    pending state back into plain files — the
    *    write-fast/read-amplified trade merge-on-read IS, chosen per
    *    call site.
    *
    * Refuses to append over UNSTAMPED pending delete files (legacy
    * entries whose sequence is unknown apply to everything — a new
    * row would be killed by an older delete): run [[compact]] first.
    * Concurrency is [[commitLoop]]'s: disjoint racers rebase (my
    * files stay valid), overlap re-runs the existence check. */
  def upsertMor(spark: SparkSession, dir: String, rows: DataFrame,
      keyCol: String, captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): Unit =
    mutateMorAs("upsertMor", spark, dir, rows, None, keyCol,
      captureChanges, commitMeta, None)

  /** The GENERAL merge-on-read mutation — puts AND deletes in ONE
    * commit: the puts land as appended, sequence-stamped data files
    * (exactly [[upsertMor]]), and ONE equality-delete file set covers
    * both the puts' replaced rows and `deleteKeys`' visible rows — so
    * a SQL UPDATE expressed as delete+reinsert of the same key, or a
    * MERGE mixing all three clauses, is one atomic commit with exact
    * metadata counts (every delete entry kills exactly one older
    * visible row) and ordinary CDF capture (updates with `_prev`,
    * deletes, inserts — indistinguishable from copy-on-write).
    *
    * Jobs: a bounded batch (at most [[MaxPointLookupKeys]] integral
    * or string keys, puts and deletes together) collects the rows it
    * replaces or deletes in the existence read ([[visibleRows]]) when
    * they measure within the broadcast threshold; the delete-file
    * write runs over that local relation, and the change rows pair
    * each put with its collected pre-image in a map-only pass over
    * the checkpointed batch ([[pairedChanges]]) — no broadcast job, no
    * shuffle: the CDF write is one job. An unbounded batch, or one
    * whose rows overflow the collect, checkpoints the replaced rows
    * and diffs them against the puts ([[classifyDiff]]).
    *
    * `expectedVersion` (the SQL row-level operations' serializable
    * gate): when set, ANY intervening commit fails the call with the
    * standard serializable-conflict error instead of rebasing — the
    * puts/deletes were derived from that snapshot's rows, and
    * re-applying them over racer state could clobber it. Programmatic
    * callers that want put-semantics convergence leave it None and
    * get [[upsertMor]]'s optimistic rebase/recompute protocol. */
  def mutateMor(spark: SparkSession, dir: String, rows: DataFrame,
      deleteKeys: Option[DataFrame], keyCol: String,
      captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty,
      expectedVersion: Option[Long] = None): Unit =
    mutateMorAs("mutateMor", spark, dir, rows, deleteKeys, keyCol,
      captureChanges, commitMeta, expectedVersion)

  /** [[mutateMor]]'s body; `op` names the caller's entry point in its
    * errors. */
  private def mutateMorAs(op: String, spark: SparkSession, dir: String,
      rows: DataFrame, deleteKeys: Option[DataFrame], keyCol: String,
      captureChanges: Boolean, commitMeta: Map[String, String],
      expectedVersion: Option[Long]): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    requireKey(spark, dir, keyCol, op, recorded = true)
    val batch = jobPhase(spark, "checkpoint-batch") {
      rows.where(col(keyCol).isNotNull)
        .dropDuplicates(keyCol)
        .withColumn("__bucket", bucketOf(keyCol, nb))
        .localCheckpoint(true)
    }
    // delete-only keys: doomed keys NOT re-put by this same commit (a
    // key in both is an update — its delete entry comes from the
    // existence semi-join below, like any replaced key). They are typed
    // as the table's key before `__bucket`, as in deleteMor; puts keep
    // their own type, which the commit's schema check refuses if it
    // differs from the table's
    val doomed = deleteKeys.map(dk => jobPhase(spark, "checkpoint-batch") {
        dk.select(col(keyCol).cast(metaSchema(keyCol).dataType).as(keyCol))
          .where(col(keyCol).isNotNull).distinct()
          .join(batch.select(col(keyCol)), Seq(keyCol), "left_anti")
          .withColumn("__bucket", bucketOf(keyCol, nb))
          .localCheckpoint(true)
      })
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          metaSchema(keyCol),
          org.apache.spark.sql.types.StructField("__bucket",
            org.apache.spark.sql.types.IntegerType)))))
    val allKeys = batch.select(col(keyCol), col("__bucket"))
      .unionByName(doomed.select(col(keyCol), col("__bucket")))
    val (keyList, myTouched) = boundedKeysAndBuckets(spark, allKeys,
      keyCol, metaSchema(keyCol).dataType, nb)
    if (myTouched.isEmpty) return
    // with no delete keys every touched key is a put, so the batch is
    // non-empty; otherwise one probe, shared by every attempt
    val putsEmpty = deleteKeys.isDefined &&
      jobPhase(spark, "checkpoint-batch")(batch.isEmpty)
    // the serializable gate (expectedVersion set): the puts/deletes
    // were DERIVED from that snapshot's rows — any intervening commit
    // (even a bucket-disjoint one: the statement's WHERE may have read
    // it) fails the statement instead of re-applying, so such calls
    // commit strictly (no rebase) and the gate rejects every retry
    commitLoop(spark, dir, op, 20,
        if (expectedVersion.isEmpty) Some(myTouched) else None) { snap =>
      expectedVersion.foreach(ev => require(snap.version == ev,
        s"$op at $dir: the table advanced past the snapshot the " +
          s"mutation was derived from (v${snap.version} != v$ev) — " +
          "serializable conflict; re-run the statement"))
      val evolved = evolveSchema(spark, dir,
        snap.schema.getOrElse(metaSchema), batch.schema)
      // refuse unstamped pending deletes in my buckets: their
      // sequence is unknown (= +inf), so they would kill the rows
      // this commit appends
      myTouched.foreach { b =>
        snap.deletes.getOrElse(b, Seq.empty).foreach { d =>
          require(snap.seqs.contains(d),
            s"$op at $dir: bucket $b carries an unstamped " +
              s"pending delete file ($d) that would kill appended " +
              "rows — run compact() first")
        }
      }
      // the rows this commit REPLACES OR DELETES — visible state only
      val prevRows = visibleRows(spark, dir, snap, evolved, nb, allKeys,
        keyCol, keyList, myTouched)
      val pre = prevRows.fold(localFrame(spark, _, evolved), identity)
      val (newFiles, newStats, newCounts, newExtra) =
        if (putsEmpty)
          (Map.empty[Int, Seq[String]],
            Map.empty[String, (String, String)],
            Map.empty[String, Long],
            Map.empty[String, Map[String, (String, String)]])
        else writeDataFiles(spark, dir, batch, keyCol,
          statsCols = inheritedStatsCols(snap))
      // the delete-file write reports whether any replaced row exists
      val (delFiles, delCounts) = writeDeleteFiles(spark, dir,
        pre.select(col(keyCol))
          .withColumn("__bucket", bucketOf(keyCol, nb)))
      // a pure delete of ABSENT keys is a no-op, like deleteMor's
      if (putsEmpty && delFiles.isEmpty) None
      else {
        val changeFiles =
          if (!captureChanges) None
          else Some(writeChangeFiles(spark, dir, prevRows.fold(
            pairedChanges(spark, batch, doomed, _, keyCol, evolved),
            classifyDiff(_, batch.drop("__bucket"), keyCol, evolved))))
        // new data AND delete files stamp the committing version: the
        // deletes kill strictly below it, the appended rows sit AT it
        // and survive
        Some((base, target) => renderManifest(myTouched,
          appendPerBucket(base.files, myTouched, newFiles),
          carrySchema(evolved, base.schema.getOrElse(metaSchema)),
          base.stats ++ newStats, changeFiles,
          commitMeta + (BaseKey -> base.version.toString),
          base.counts ++ newCounts ++ delCounts,
          base.extraStats ++ newExtra,
          appendPerBucket(base.deletes, myTouched, delFiles)
            .filter(_._2.nonEmpty),
          base.seqs ++ (newFiles.valuesIterator.flatten ++
            delFiles.valuesIterator.flatten).map(_ -> target)))
      }
    }
  }

  // ---- public API --------------------------------------------------

  /** Create the table from a full snapshot (version 1, or a full
    * replace committed as the next version of an existing table). */
  def create(df: DataFrame, dir: String, keyCol: String,
      numBuckets: Int = 16,
      commitMeta: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    writeMeta(spark, dir, numBuckets, df.schema, Some(keyCol))
    // NULL-keyed rows are dropped, matching upsert/delete/merge: the
    // key is the row's identity (no later mutation could ever address
    // a null-keyed row, and the SQL catalog declares the key
    // non-nullable) — a keyed store never holds one
    val (files, stats, counts, extra) = writeDataFiles(spark, dir,
      df.where(col(keyCol).isNotNull)
        .withColumn("__bucket", bucketOf(keyCol, numBuckets)), keyCol,
      statsCols = statsColumns)
    val fs = hfs(spark, dir)
    var v = listVersions(fs, dir).lastOption.getOrElse(0L) + 1
    val all = (0 until numBuckets)
      .map(b => b -> files.getOrElse(b, Seq.empty)).toMap
    while (!tryCommit(fs, dir, versionPath(dir, v),
        renderManifest(all.keySet, all, df.schema, stats, None,
          commitMeta, counts, extra))) { v += 1 }
  }

  /** REPLACE the table's ENTIRE content in ONE atomic commit — the
    * INSERT OVERWRITE / batch-refresh primitive (the nightly
    * dimension-rebuild shape; Delta's overwrite as remove-all +
    * add-all in one transaction), and the landing half of
    * copy-on-write SQL UPDATE/MERGE. The replacement rows are FIXED
    * (checkpointed once; data files written once); only the captured
    * CDF diff re-derives when the CAS is lost — content is the
    * caller's, the diff must stay honest against the snapshot the
    * commit actually replaces. With `expectedVersion` the commit
    * instead FAILS LOUDLY on any intervening commit
    * (ConcurrentModificationException): the caller derived the
    * content FROM that snapshot, so retrying with the same rows would
    * silently drop the racer's writes — SQL UPDATE/MERGE route here
    * and surface the standard serializable-conflict error.
    *
    * CDF: with `captureChanges` the commit captures the NET keyed
    * diff old → new (insert/update/delete, `_prev` values), so views,
    * replicas and CDC streams consume an overwrite like any other
    * commit — O(old + new), which a full replace already pays. */
  def replaceAll(spark: SparkSession, dir: String, rows: DataFrame,
      keyCol: String, captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty,
      expectedVersion: Option[Long] = None): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    requireKey(spark, dir, keyCol, "replaceAll")
    val pinned = rows.where(col(keyCol).isNotNull)
      .withColumn("__bucket", bucketOf(keyCol, nb))
      .localCheckpoint(true)
    var written: Option[(Map[Int, Seq[String]],
      Map[String, (String, String)], Map[String, Long],
      Map[String, Map[String, (String, String)]])] = None
    // strict: a racer's commit re-diffs (or fails, if pinned)
    commitLoop(spark, dir, "replaceAll", 10, rebaseFor = None) { snap =>
      requireExpected("replaceAll", dir, expectedVersion, snap)
      val evolved = evolveSchema(spark, dir,
        snap.schema.getOrElse(metaSchema), pinned.schema)
      val (newFiles, newStats, newCounts, newExtra) = written.getOrElse {
        val w = writeDataFiles(spark, dir, pinned, keyCol,
          statsCols = inheritedStatsCols(snap))
        written = Some(w); w
      }
      val changes =
        if (!captureChanges) None
        else {
          // diff against the LIVE old state: pending MOR deletes
          // applied (a replace also clears every delete entry — the
          // committed manifest simply carries none)
          val old = morScan(spark, dir, snap, evolved, keyCol,
            snap.files.values.flatten.toSeq)
          Some(writeChangeFiles(spark, dir,
            classifyDiff(old, pinned.drop("__bucket"), keyCol, evolved)))
        }
      val all = (0 until nb)
        .map(b => b -> newFiles.getOrElse(b, Seq.empty)).toMap
      Some((_, _) => renderManifest(all.keySet, all, evolved, newStats,
        changes, commitMeta + (BaseKey -> snap.version.toString),
        newCounts, newExtra))
    }
  }

  /** The row-level SQL writes' serializable gate: content derived from
    * `expected` must not land on any other version. */
  private def requireExpected(op: String, dir: String,
      expected: Option[Long], snap: Snapshot): Unit =
    expected.filter(_ != snap.version).foreach { v =>
      throw new java.util.ConcurrentModificationException(
        s"$op at $dir expected version $v but found " +
          s"${snap.version} — the replacement content was derived " +
          "from a stale snapshot; re-run the statement")
    }

  /** REPLACE a SPECIFIC SET of data files in one commit: drop
    * `removeRels` from the manifest, add files written from `rows` —
    * the GROUP-BASED (copy-on-write) row-level write. Spark's SQL
    * UPDATE/MERGE/DELETE rewrite reads exactly the GROUPS (files)
    * containing matching rows — static zone-map pruning on the
    * statement's WHERE narrows the read set — and its ReplaceData
    * output carries ONLY those files' rows (matched rows updated or
    * dropped, the rest carried verbatim). The write must therefore
    * replace exactly the files the scan read: replacing the whole
    * table would silently drop every unread file's rows. At 100 TB
    * this is also the efficiency contract — a key-ranged UPDATE
    * rewrites the few covering files, not the table.
    *
    * Key reassignment is safe here (unlike [[merge]]): an updated
    * row's OLD file is by construction in `removeRels` (the row was
    * read from it), and the new row lands in its key's bucket
    * normally, so a key move is one removal plus one placement.
    *
    * Pending MOR deletes: callers must remove ALL data files when the
    * snapshot carries delete entries (`require`d) — the commit clears
    * them (the rewrite materialized the post-delete state); partial
    * file replacement under pending deletes would leave dangling
    * delete keys double-counted by metadata COUNT(*).
    *
    * With `expectedVersion` the commit FAILS LOUDLY on any
    * intervening commit (the serializable-conflict contract row-level
    * SQL rides); without it, the file set and CDF diff re-derive
    * against each new snapshot (then `removeRels` must still exist
    * there — callers pin a version in practice). */
  def replaceFiles(spark: SparkSession, dir: String,
      removeRels: Seq[String], rows: DataFrame, keyCol: String,
      expectedVersion: Option[Long],
      captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    requireKey(spark, dir, keyCol, "replaceFiles")
    val removed = removeRels.toSet
    val pinned = rows.where(col(keyCol).isNotNull)
      .withColumn("__bucket", bucketOf(keyCol, nb))
      .localCheckpoint(true)
    var written: Option[(Map[Int, Seq[String]],
      Map[String, (String, String)], Map[String, Long],
      Map[String, Map[String, (String, String)]])] = None
    // strict: a racer's commit re-derives (or fails, if pinned)
    commitLoop(spark, dir, "replaceFiles", 10, rebaseFor = None) { snap =>
      requireExpected("replaceFiles", dir, expectedVersion, snap)
      val live = snap.files.values.flatten.toSet
      require(removed.subsetOf(live),
        s"replaceFiles: ${removed.diff(live).take(3).mkString(", ")} " +
          "not in the current snapshot — stale file set")
      require(snap.deletes.isEmpty || removed == live,
        "replaceFiles under pending merge-on-read deletes must " +
          "replace ALL data files (partial replacement would leave " +
          "dangling delete keys); compact() first, or scan unpruned")
      val evolved = evolveSchema(spark, dir,
        snap.schema.getOrElse(metaSchema), pinned.schema)
      val (newFiles, newStats, newCounts, newExtra) = written.getOrElse {
        val w = writeDataFiles(spark, dir, pinned, keyCol,
          statsCols = inheritedStatsCols(snap))
        written = Some(w); w
      }
      val changes =
        if (!captureChanges) None
        else {
          // net diff of the REPLACED REGION only — untouched files
          // cannot change, so the diff is O(replaced + new), the cost
          // the rewrite already paid
          val old = morScan(spark, dir, snap, evolved, keyCol,
            removeRels)
          Some(writeChangeFiles(spark, dir,
            classifyDiff(old, pinned.drop("__bucket"), keyCol, evolved)))
        }
      val manifest = (0 until nb).map { b =>
        b -> (snap.files.getOrElse(b, Seq.empty)
          .filterNot(removed) ++ newFiles.getOrElse(b, Seq.empty))
      }.toMap
      val touched = manifest.keySet.filter(b =>
        manifest(b) != snap.files.getOrElse(b, Seq.empty)).toSet
      if (touched.isEmpty) None // nothing changed: no commit
      else Some((_, _) => renderManifest(touched, manifest, evolved,
        (snap.stats -- removed) ++ newStats, changes,
        commitMeta + (BaseKey -> snap.version.toString),
        (snap.counts -- removed) ++ newCounts,
        (snap.extraStats -- removed) ++ newExtra,
        Map.empty /* empty by the require above, or cleared by the
          full replacement */,
        snap.seqs /* render keeps only surviving files' entries */))
    }
  }

  /** Read the table at the latest (or a named) version — snapshot
    * isolation by construction: every referenced file is immutable. */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    morScan(spark, dir, snap, schema, morKeyCol(spark, dir, snap),
      snap.files.values.flatten.toSeq)
  }

  /** The key column MOR reads anti-join on — the meta sidecar's
    * record ([[deleteMor]] requires it at write time, so a snapshot
    * carrying delete files can always resolve it; tables without
    * deletes never consult it). */
  private def morKeyCol(spark: SparkSession, dir: String,
      snap: Snapshot): String =
    if (snap.deletes.isEmpty) "" // never consulted: applyDeletes no-ops
    else KeyedTable.readMetaKey(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"VersionedKeyedTable at $dir carries merge-on-read delete " +
          "files but its meta sidecar records no key column"))

  /** Keyed put batch: rows whose key exists are replaced, new keys
    * inserted. Optimistic: concurrent disjoint-bucket writers both
    * commit (loser rebases); overlapping writers serialize by
    * recompute-retry. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): Unit =
    mutate(spark, dir, updates, keyCol, isDelete = false, () => (),
      captureChanges, commitMeta)

  /** Keyed delete batch (same optimistic protocol; an emptied bucket
    * is just an empty manifest entry — no overwrite edge case).
    * Right-to-be-forgotten note: with `captureChanges=true` the delete
    * commit's OWN change files record the doomed rows' previous values
    * (that is what a CDF is for) — a compliance purge that must erase
    * the bytes runs `delete(captureChanges = false)` and then [[vacuum]]s
    * past every version that referenced the rows (spec-pinned:
    * byte-level absence across all surviving files). */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, captureChanges: Boolean = true): Unit =
    mutate(spark, dir, keys, keyCol, isDelete = true, () => (),
      captureChanges)

  /** SERIALIZABLE read-modify-write: `derive` computes a put batch
    * FROM the table's current snapshot, and the commit succeeds only
    * if NO other commit landed since that snapshot was read — bucket
    * overlap is irrelevant here, because the derivation may have read
    * ANY row, so any intervening commit invalidates it and the whole
    * derivation re-runs against the new snapshot. This is the
    * primitive plain [[upsert]] (puts of given values) cannot
    * express: two concurrent `transact`-ed increments of the same key
    * both land (no lost update), where two concurrent upserts of
    * derived values would overwrite each other. Bounded retries, then
    * a loud failure.
    *
    * `derive` receives the snapshot as a DataFrame and returns the
    * put batch (full rows, table schema); it must be a pure function
    * of its input — side effects re-run per retry. */
  def transact(spark: SparkSession, dir: String, keyCol: String)(
      derive: DataFrame => DataFrame): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    requireKey(spark, dir, keyCol, "transact")
    // strict: NO rebase — any intervening commit means the derivation
    // read stale state and must re-run (orphaned files -> vacuum)
    commitLoop(spark, dir, "transact", 10, rebaseFor = None) { snap =>
      val snapDF = read(spark, dir, Some(snap.version))
      val batch = derive(snapDF)
        .withColumn("__bucket", bucketOf(keyCol, nb))
        .localCheckpoint(true) // pin the derivation before any racer commits
      val (myTouched, batchRows) = touchedBucketsAndCount(batch)
      if (myTouched.isEmpty) None
      else {
        // added columns commit nullable: the merge below unions them
        // onto existing rows that lack them
        val evolvedTx = evolveSchema(spark, dir,
          snap.schema.getOrElse(metaSchema),
          org.apache.spark.sql.types.StructType(
            batch.schema.fields.map(_.copy(nullable = true))))
        val existing = morScan(spark, dir, snap, evolvedTx, keyCol,
          myTouched.toSeq.sorted
            .flatMap(b => snap.files.getOrElse(b, Seq.empty)),
          Some(myTouched))
        val ((newFiles, newStats, newCounts, newExtra), changeFiles) =
          writeMerge(spark, dir, snap,
            putRemerge(keyCol)(existing, batch, batchRows), keyCol, nb,
            evolvedTx, captureChanges = true, batchRows)
        val manifest = snap.files ++
          myTouched.toSeq.map(b => b -> newFiles.getOrElse(b, Seq.empty))
        Some((_, _) => renderManifest(myTouched, manifest, evolvedTx,
          snap.stats ++ newStats, changeFiles,
          Map(BaseKey -> snap.version.toString), snap.counts ++ newCounts,
          snap.extraStats ++ newExtra, snap.deletes -- myTouched,
          snap.seqs))
      }
    }
  }

  /** Test seam: `onBeforeCommit` runs between data-file write and the
    * manifest CAS — specs inject a racing commit there to pin the
    * rebase and recompute paths deterministically. */
  private[sinks] def mutate(spark: SparkSession, dir: String,
      rows: DataFrame, keyCol: String, isDelete: Boolean,
      onBeforeCommit: () => Unit,
      captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): Unit =
    mutateWith(spark, dir, rows, keyCol, onBeforeCommit, captureChanges,
      commitMeta) { (existing, batch, batchRows) =>
      if (!isDelete) putRemerge(keyCol)(existing, batch, batchRows)
      else {
        val hit = col(PairKey).isNotNull
        existing.join(pairKeys(batch, keyCol, batchRows),
            col(keyCol) === col(PairKey), "left_outer")
          .select(existing.columns.map(col) ++
            existing.columns.filterNot(_ == keyCol).map(c =>
              when(hit, col(c)).as(prevCol(c))) ++
            Seq(when(hit, lit("delete")).as(ChangeCol),
              (!hit).as(LiveCol)): _*)
      }
    }

  /** The put remerge of [[upsert]] and [[transact]]: each touched row
    * joins the batch's distinct keys ([[pairKeys]]). A matched row is
    * the pre-image a put replaces: it leaves the post-image, and the
    * put row takes its place. Both carry [[PutCol]]; the change write
    * pairs them by key ([[pairPuts]]). */
  private def putRemerge(keyCol: String)(existing: DataFrame,
      batch: DataFrame, batchRows: Long): DataFrame = {
    val batchCols = batch.columns.toSet
    val hit = col(PairKey).isNotNull
    existing.join(pairKeys(batch, keyCol, batchRows),
        col(keyCol) === col(PairKey), "left_outer")
      .select(existing.columns.map(col) ++
        Seq((!hit).as(LiveCol), hit.as(PutCol)): _*)
      .unionByName(batch.select(existing.schema.fields.map(f =>
          (if (batchCols(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)) ++
        Seq(lit(true).as(LiveCol), lit(true).as(PutCol)): _*))
  }

  /** The batch-key column of a pairing join's batch side. */
  private val PairKey = "__pair_key"

  /** The batch's DISTINCT keys as [[PairKey]], for the left-outer join
    * that marks each touched row a batch key addresses (a repeated key
    * would pair its row twice). Under the [[maxBroadcastKeys]] gate the
    * keys are broadcast and dedupe inside the broadcast's own single
    * task — no exchange, no extra job; above it the planner shuffles. */
  private def pairKeys(batch: DataFrame, keyCol: String,
      batchRows: Long): DataFrame = {
    val keys = batch.select(col(keyCol).as(PairKey))
    if (batchRows <= maxBroadcastKeys(batch.sparkSession))
      broadcast(keys.coalesce(1).distinct())
    else keys.distinct()
  }

  /** The copy-on-write core every keyed mutation rides: `remerge`
    * computes the touched buckets' NEW contents from their current
    * rows (`existing`, read under the additively-evolved schema) and
    * the checkpointed mutation batch (`batch`, data columns +
    * `__bucket`), each row carrying the change annotation
    * ([[ChangeCol]], [[LiveCol]], [[PutCol]], [[prevCol]]) of the pass
    * that pairs every batch key's pre-image with its post-image. It
    * must be a pure function of its inputs — an overlap conflict
    * re-runs it against the winner's snapshot. Upsert, delete, and
    * [[merge]] are thin remerge lambdas over this one write path;
    * rebase, recompute and torn-claim handling are [[commitLoop]]'s. */
  private[sinks] def mutateWith(spark: SparkSession, dir: String,
      rows: DataFrame, keyCol: String,
      onBeforeCommit: () => Unit,
      captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty,
      carryCols: Set[String] = Set.empty)(
      /** (existing, batch, batchRows): `batchRows` is the batch's exact
        * row count (free from [[touchedBucketsAndCount]]) — a remerge
        * that joins the batch broadcasts it only under the
        * [[maxBroadcastKeys]] gate. */
      remerge: (DataFrame, DataFrame, Long) => DataFrame): Unit = {
    val (nb, metaSchema) = readMeta(spark, dir)
    requireKey(spark, dir, keyCol, "mutation")
    val batch = jobPhase(spark, "checkpoint-batch") {
      // a null key addresses no row: dropped here as create does
      rows.where(col(keyCol).isNotNull)
        .withColumn("__bucket", bucketOf(keyCol, nb))
        .localCheckpoint(true)
    }
    val (myTouched, batchRows) = jobPhase(spark, "touched-buckets") {
      touchedBucketsAndCount(batch) // bounded; map-only stage
    }
    if (myTouched.isEmpty) return
    commitLoop(spark, dir, "commit", 20, Some(myTouched)) { snap =>
      // merge against THIS snapshot's touched-bucket files, under the
      // snapshot's schema evolved by the batch's new columns.
      // `carryCols` are batch-side HELPER columns (a merge's
      // assignment inputs that are not table state — e.g. an
      // incremental view's re-derive flags): excluded from evolution,
      // visible to `remerge`, and absent from its output's schema
      val evolved = evolveSchema(spark, dir,
        snap.schema.getOrElse(metaSchema),
        org.apache.spark.sql.types.StructType(
          batch.schema.fields.filterNot(f => carryCols(f.name))))
      // merge against the LIVE state: pending MOR delete files of the
      // touched buckets applied under the sequence rule — the rewrite
      // below then materializes the post-delete state, CONSUMING
      // those entries (cleared from the committed manifest)
      val existing = morScan(spark, dir, snap, evolved, keyCol,
        myTouched.toSeq.sorted
          .flatMap(b => snap.files.getOrElse(b, Seq.empty)),
        Some(myTouched))
      val ((newFiles, newStats, newCounts, newExtra), changeFiles) =
        writeMerge(spark, dir, snap, remerge(existing, batch, batchRows),
          keyCol, nb, evolved, captureChanges, batchRows)
      onBeforeCommit()
      Some((base, _) => renderManifest(myTouched,
        base.files ++
          myTouched.toSeq.map(b => b -> newFiles.getOrElse(b, Seq.empty)),
        carrySchema(evolved, base.schema.getOrElse(metaSchema)),
        base.stats ++ newStats, changeFiles,
        commitMeta + (BaseKey -> base.version.toString),
        base.counts ++ newCounts,
        base.extraStats ++ newExtra,
        // touched buckets' pending deletes are CONSUMED by the
        // rewrite; disjoint racers' entries carry forward
        base.deletes -- myTouched,
        base.seqs))
    }
  }

  /** Pin a remerge's annotated rows ([[mutateWith]]) and write them:
    * the live rows as the touched buckets' new data files and, with
    * `captureChanges`, the change rows; without it only the live rows'
    * data columns are pinned. `batchRows` bounds a put remerge's
    * pre-images. Returns the data write's (files, stats, counts, extra
    * stats) and the change files. */
  private def writeMerge(spark: SparkSession, dir: String, snap: Snapshot,
      annotated: DataFrame, keyCol: String, nb: Int,
      evolved: org.apache.spark.sql.types.StructType,
      captureChanges: Boolean, batchRows: Long)
      : ((Map[Int, Seq[String]], Map[String, (String, String)],
          Map[String, Long], Map[String, Map[String, (String, String)]]),
         Option[Seq[String]]) = {
    def live(df: DataFrame): DataFrame = df.where(col(LiveCol))
      .select((evolved.fieldNames :+ "__bucket").map(col): _*)
    val rows = annotated.withColumn("__bucket", bucketOf(keyCol, nb))
    val merged = jobPhase(spark, "checkpoint-merged") {
      // never read a file a racer vacuums
      (if (captureChanges) rows else live(rows)).localCheckpoint(true)
    }
    val written = writeDataFiles(spark, dir,
      if (captureChanges) live(merged) else merged, keyCol,
      statsCols = inheritedStatsCols(snap))
    // commit-time CHANGE CAPTURE: the checkpoint already holds every
    // batch key's pre-image beside its post-image, so every later
    // changesBetween over this commit reads O(changed rows) instead of
    // re-diffing bucket snapshots. A merge or delete annotated each
    // row in its own join, so its change rows are a map-only
    // projection — one job, the write. An upsert's puts pair with the
    // pre-images they replaced in one join of O(batch) rows: the
    // pre-images are broadcast when their size, at the checkpoint's
    // measured bytes per row, fits the broadcast threshold (one more
    // job), else both sides shuffle. captureChanges=false skips the
    // write for write-only tables; spans crossing such a commit take
    // the snapshot-diff fallback.
    val changeFiles =
      if (!captureChanges) None
      else {
        // a null key addresses no row, so it has no change row
        val keyed = merged.where(col(keyCol).isNotNull)
        Some(writeChangeFiles(spark, dir, changeRows(
          if (!annotated.columns.contains(PutCol)) keyed
          else pairPuts(keyed, keyCol, evolved,
            pinnedBytes(merged).exists(fitsBroadcast(spark, batchRows, _,
              written._3.values.sum))),
          keyCol, evolved)))
      }
    (written, changeFiles)
  }

  /** A put remerge's change annotation ([[putRemerge]]): each put row
    * paired by key with the pre-image it replaced — an update when a
    * data column differs, none when none does, an insert when it
    * replaced nothing. The pre-images, at most the batch's rows, are
    * broadcast when `broadcastPre`; otherwise both sides shuffle. */
  private def pairPuts(pinned: DataFrame, keyCol: String,
      schema: org.apache.spark.sql.types.StructType,
      broadcastPre: Boolean): DataFrame = {
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    val pre = pinned.where(col(PutCol) && !col(LiveCol))
      .select((col(keyCol).as(PairKey) +:
        dataCols.map(c => col(c).as(prevCol(c)))): _*)
    pinned.where(col(PutCol) && col(LiveCol))
      .join(if (broadcastPre) broadcast(pre) else pre,
        col(keyCol) === col(PairKey), "left_outer")
      .withColumn(ChangeCol, changeOf(col(PairKey).isNotNull, lit(true),
        dataCols, c => col(prevCol(c)), col))
  }

  /** MERGE INTO — the general three-clause keyed merge (the SQL
    * `MERGE` statement's semantics, expressed over the same optimistic
    * commit core as upsert/delete):
    *
    *  - a source row whose key MATCHES a table row is deleted when
    *    `whenMatchedDelete` holds, else updated by the
    *    `whenMatchedUpdate` assignments (unassigned columns keep
    *    their table value; empty map = the row is kept verbatim);
    *  - a source row with no match is inserted when
    *    `insertNotMatched` — or, when `insertNotMatchedWhen` is
    *    given, when that per-row condition holds (SQL MERGE's
    *    `WHEN NOT MATCHED AND <cond>`); columns the source lacks
    *    become null;
    *  - table rows with no matching source row are untouched.
    *
    * Condition and assignment expressions see the table row as alias
    * `t` and the source row as alias `s` (e.g.
    * `col("s.v") > col("t.v")`, update `"v" -> (col("t.v") + col("s.v"))`).
    *
    * Scale: the merge join runs only over the buckets the source's
    * keys hash into — O(source + touched buckets), never O(table) —
    * and concurrent disjoint-bucket merges both commit (the
    * rebase/recompute protocol is [[commitLoop]]'s). Schema evolution
    * stays additive: source-only columns extend the schema, shared
    * columns must keep their type. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenMatchedUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
      insertNotMatched: Boolean = true,
      captureChanges: Boolean = true,
      commitMeta: Map[String, String] = Map.empty,
      carryCols: Set[String] = Set.empty,
      insertNotMatchedWhen: Option[org.apache.spark.sql.Column] = None)
      : Unit = {
    // a key-reassigning update would write rows into buckets outside
    // the commit's touched set — the manifest would drop them. Keys
    // are immutable under MERGE (delete + insert expresses a move).
    require(!whenMatchedUpdate.contains(keyCol),
      s"merge may not reassign the key column '$keyCol' — " +
        "express a key move as matched-delete + a fresh insert")
    // carry columns feed condition/assignment expressions through the
    // `s` alias without ever becoming table state — they must be
    // source-only names, or an assignment meaning "the table column"
    // and one meaning "my helper" would collide
    require(carryCols.forall(source.columns.contains),
      s"carryCols ${carryCols.mkString(",")} must be source columns")
    mutateWith(spark, dir, source, keyCol, () => (),
      captureChanges, commitMeta, carryCols) { (existing, batch, _) =>
      carryCols.foreach(c => require(
        !existing.columns.contains(c),
        s"carry column '$c' collides with a table column — rename it"))
      val src = batch.drop("__bucket")
      val srcCols = src.columns.toSet
      val t = existing.alias("t")
      val sAl = src.alias("s")
      val tKey = col(s"t.$keyCol")
      val sKey = col(s"s.$keyCol")
      val matched = tKey.isNotNull && sKey.isNotNull
      val newValue = existing.schema.fields.map { f =>
        val tc = col(s"t.${f.name}")
        val sc =
          if (srcCols(f.name)) col(s"s.${f.name}")
          else lit(null).cast(f.dataType)
        f.name -> when(tKey.isNull, sc) // not matched by target: insert values
          .when(matched,
            whenMatchedUpdate.getOrElse(f.name, tc)) // update assignment
          .otherwise(tc) // not matched by source: untouched
      }.toMap
      // WHEN NOT MATCHED [AND <cond>] THEN INSERT: a conditional
      // clause (SQL MERGE's guarded insert) overrides the boolean
      val insertGate = insertNotMatchedWhen
        .map(c => coalesce(c, lit(false)))
        .getOrElse(lit(insertNotMatched))
      val deleted = matched &&
        coalesce(whenMatchedDelete.getOrElse(lit(false)), lit(false))
      val keep = when(tKey.isNull, insertGate).otherwise(!deleted)
      // the full-outer join already pairs each key's old and new rows:
      // a deleted row stays as a delete-annotated pre-image
      val dataCols = existing.columns.filterNot(_ == keyCol).toSeq
      t.join(sAl, tKey === sKey, "full_outer")
        .where(keep || deleted)
        .select(existing.columns.map(c => newValue(c).as(c)) ++
          dataCols.map(c => when(matched, col(s"t.$c")).as(prevCol(c))) ++
          Seq(when(deleted, lit("delete"))
              .when(tKey.isNull, lit("insert"))
              .when(matched, changeOf(lit(true), lit(true), dataCols,
                c => col(s"t.$c"), newValue)).as(ChangeCol),
            keep.as(LiveCol)): _*)
    }
  }

  /** APPLY a CDC EVENT FEED — upserts and deletes tagged with a
    * per-key SEQUENCE — with out-of-order and duplicate delivery
    * handled (the Delta Live Tables `APPLY CHANGES INTO` shape, built
    * on [[merge]]'s conditional clauses): each event is
    * (key, sequence, op, full row image), and the table converges to
    * "the highest-sequence event per key, deletes removing the row"
    * no matter how the feed is batched, ordered, or replayed.
    *
    *  - WITHIN a batch: only the latest event per key applies
    *    (sequence desc; a delete outranks an upsert at the same
    *    sequence — the conservative tie).
    *  - ACROSS batches: the applied sequence is TABLE STATE (`seqCol`
    *    is a real column, stamped by every apply), and the merge's
    *    clauses are gated on the stored sequence — upserts apply when
    *    `source.seq > target.seq` (a stale or replayed event is a
    *    per-row no-op, so redelivery is idempotent and late events
    *    never regress a newer row) and deletes when `source.seq >=
    *    target.seq`, matching the within-batch tiebreak so an
    *    equal-sequence delete/upsert pair converges to the same state
    *    no matter how the feed is batched. A matched row with a NULL
    *    stored sequence (written by a plain upsert) accepts any
    *    event.
    *  - Deletes remove the row AND its sequence (no tombstone
    *    retention): an event OLDER than a delete, arriving AFTER it,
    *    re-inserts the key — the documented tradeoff of
    *    tombstone-free CDC (Delta's APPLY CHANGES has the same window
    *    without `applyAsDeletes` retention); feeds whose deletes are
    *    terminal per key (the common CDC contract) are exact.
    *
    * Events carry the FULL row image: a table column absent from the
    * feed keeps its target value on update and inserts as null.
    * Events should carry a NON-NULL sequence: a null-sequence event
    * sorts last within its batch and never beats a sequenced stored
    * row (its matched clauses gate false) — it can only land on keys
    * with no sequenced state. One
    * optimistic commit per call; O(touched buckets), CDF-captured.
    * At 100 TB this is the standing ingest shape: a Kafka/Debezium
    * feed lands in arrival order, and correctness comes from the
    * sequence gate, not from coordination upstream. */
  def applyChanges(spark: SparkSession, dir: String, feed: DataFrame,
      keyCol: String, seqCol: String, opCol: String,
      deleteOp: String = "D",
      commitMeta: Map[String, String] = Map.empty): Unit = {
    Seq(keyCol, seqCol, opCol).foreach(c => require(
      feed.columns.contains(c),
      s"applyChanges: the feed lacks required column '$c' " +
        s"(found ${feed.columns.mkString(", ")})"))
    val (_, metaSchema) = readMeta(spark, dir)
    val schema = snapshot(spark, dir).schema.getOrElse(metaSchema)
    require(schema.fieldNames.contains(seqCol),
      s"applyChanges: sequence column '$seqCol' must be a TABLE " +
        "column — the applied sequence is table state (create the " +
        "table with it)")
    require(!schema.fieldNames.contains(opCol),
      s"applyChanges: op column '$opCol' collides with a table " +
        "column — rename it in the feed")
    // within-batch dedup: latest event per key; delete outranks
    // upsert at an equal sequence (deterministic, conservative)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(col(seqCol).desc,
        when(col(opCol) === deleteOp, 1).otherwise(0).desc)
    val latest = feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val sSeq = col(s"s.$seqCol")
    val tSeq = col(s"t.$seqCol")
    // a stored NULL sequence (plain-upsert provenance) accepts any event
    val fresh = coalesce(sSeq > tSeq, tSeq.isNull)
    // DELETES gate on >= so the cross-batch rule matches the
    // within-batch tiebreak (a delete outranks an upsert at an equal
    // sequence): an equal-sequence D/U pair — which real CDC feeds do
    // produce — reaches the SAME final state whether the two events
    // ship in one batch (window tiebreak: delete wins) or across
    // batches (this gate: the delete still lands against the stored
    // seq-S row). Upserts stay STRICT (>): an upsert replaying at the
    // stored sequence is a per-row no-op, which keeps redelivery
    // idempotent.
    val freshDel = coalesce(sSeq >= tSeq, tSeq.isNull)
    val isDel = col(s"s.$opCol") === deleteOp
    val feedCols = latest.columns.toSet
    // update assignments over the EVOLVED column set (table schema ∪
    // feed columns): a column the feed introduces evolves the table
    // additively inside merge's remerge, so it needs an assignment
    // too — without one, a fresh update would keep the target's null
    // while the same batch's inserts carry the value (inconsistent
    // row images from one batch)
    val updates = (schema.fieldNames ++ latest.columns).distinct
      .filterNot(c => c == keyCol || c == opCol).collect {
        case c if feedCols(c) =>
          c -> when(fresh && !isDel, col(s"s.$c")).otherwise(col(s"t.$c"))
      }.toMap
    merge(spark, dir, latest, keyCol,
      whenMatchedDelete = Some(isDel && freshDel),
      whenMatchedUpdate = updates,
      insertNotMatchedWhen = Some(!isDel),
      commitMeta = commitMeta,
      carryCols = Set(opCol))
  }

  /** CHANGE DATA FEED: the NET row-level diff between two committed
    * versions — what an incremental consumer (a materialized view, a
    * downstream sync) applies instead of re-reading the table. Output:
    * the key, `change_type` ∈ insert | update | delete, every data
    * column's NEW value (null for deletes), and its OLD value as
    * `<col>_prev` (null for inserts).
    *
    * Adjacent versions give the per-commit event log; a wider span
    * gives the collapsed net change (a row upserted then deleted in
    * the span does not appear; a row mutated back to its starting
    * value does not either).
    *
    * Scale — two tiers:
    *  - when every commit in the span CAPTURED its changes (mutations
    *    do; see [[mutateWith]]), the feed is the union of the span's
    *    change files collapsed per key — '''O(changed rows)''' read,
    *    independent of table AND bucket size;
    *  - otherwise (a metadata-only [[restore]] or a pre-capture
    *    commit in the span) it falls back to diffing the two
    *    snapshots over the span's TOUCHED buckets — O(changed
    *    region), still never O(table).
    * Old files read under the TO version's schema (additive evolution
    * makes missing columns null). */
  /** The commit LINEAGE from `to` back to `from` (exclusive),
    * following each manifest's base pointer: the snapshots whose
    * deltas actually produced `to`'s state from `from`'s, ascending.
    * None when the chain cannot be established — a legacy manifest
    * without a base pointer, a vacuumed link, or `from` not an
    * ancestor of `to` — in which case a consumer must fall back to
    * STATE diffing (always correct: it compares snapshots, not
    * commit deltas). */
  private[sinks] def lineageSpan(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): Option[Seq[Snapshot]] =
    try {
      val acc = scala.collection.mutable.ListBuffer[Snapshot]()
      var cur = snapshot(spark, dir, Some(toVersion))
      while (cur.version > fromVersion) {
        acc += cur
        cur.meta.get(BaseKey).flatMap(_.toLongOption) match {
          case None => return None
          case Some(b) if b < fromVersion => return None
          case Some(b) if b == fromVersion =>
            return Some(acc.toList.reverse)
          case Some(b) => cur = snapshot(spark, dir, Some(b))
        }
      }
      if (acc.isEmpty) Some(Seq.empty) else None // to <= from
    } catch { case _: IllegalStateException => None } // vacuumed link

  def changesBetween(spark: SparkSession, dir: String, keyCol: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, got " +
        s"$fromVersion >= $toVersion")
    val (_, metaSchema) = readMeta(spark, dir)
    val from = snapshot(spark, dir, Some(fromVersion))
    val to = snapshot(spark, dir, Some(toVersion))
    val fs = hfs(spark, dir)
    // the span is the LINEAGE chain when base pointers allow — an
    // out-of-lineage commit (a skipped weak-scheme claim completing
    // late) can then never inject its delta; without a chain, fall
    // back to every version in the numeric range (their touched sets
    // only widen the state diff — over-inclusion is safe)
    val chain = lineageSpan(spark, dir, fromVersion, toVersion)
    val span = chain.getOrElse(
      (fromVersion + 1 to toVersion).flatMap { v =>
        val p = versionPath(dir, v)
        if (!fs.exists(p)) None
        else parseManifest(v, readVersionFile(fs, p))
      })
    val schema = to.schema.getOrElse(metaSchema)
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    val outNames = keyCol +: "change_type" +:
      (dataCols ++ dataCols.map(_ + "_prev"))
    // the captured-change fast path is sound only over a PROVEN
    // lineage — chain.isDefined — since change files are commit
    // deltas, not state
    if (chain.isDefined && span.nonEmpty &&
        span.forall(_.changes.isDefined)) {
      // fast path: scan the span's captured change files, collapse
      // per key to (first change's prev, last change's new). ALL the
      // span's files are read by ONE scan under the forced TO-snapshot
      // CDF schema via a PreListedFileIndex (guide §6: no
      // InMemoryFileIndex build / listing — the manifests already
      // name the files), so a far-behind consumer's plan is the same
      // size whatever its backlog; each row's version `_v` comes from
      // its file's path through the span's file → version map. A
      // pre-evolution change file reads its missing columns as typed
      // nulls directly from the forced schema.
      val cdfSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(keyCol,
          schema(keyCol).dataType) +:
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType) +:
        (dataCols.map(c => schema(c).copy(name = c, nullable = true)) ++
          dataCols.map(c => schema(c).copy(name = c + "_prev",
            nullable = true))))
      val fileVersions = span.flatMap(s => s.changes.get.map(_ -> s.version))
      if (fileVersions.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdfSchema)
      // keyed by the file's last two path components
      // (`ch-<uuid>/<part>`, unique per commit and free of characters
      // a URI would escape), so the key is the same however the scan
      // qualifies the path; an unmapped file fails the read loudly
      // rather than dropping its rows from the min_by/max_by collapse
      def tail2(p: String) = p.split('/').takeRight(2).mkString("/")
      val versionOf = typedLit(
        fileVersions.map { case (f, v) => tail2(f) -> v }.toMap)
      val path = col("_metadata.file_path")
      val fileV = element_at(versionOf, substring_index(path, "/", -2))
      val all = scanFiles(spark, dir, cdfSchema, fileVersions.map(_._1))
        .withColumn("_v", when(fileV.isNull, raise_error(concat(
          lit("changesBetween: change file outside the span: "), path)))
          .otherwise(fileV))
      val firstS = min_by(struct(col("change_type") +:
        dataCols.map(c => col(s"${c}_prev")): _*), col("_v"))
      val lastS = max_by(struct(col("change_type") +:
        dataCols.map(c => col(c)): _*), col("_v"))
      val g = all.groupBy(col(keyCol)).agg(firstS.as("f"), lastS.as("l"))
      val hadOld = col("f.change_type") =!= "insert"
      val hasNew = col("l.change_type") =!= "delete"
      val same = dataCols
        .map(c => col(s"f.${c}_prev") <=> col(s"l.$c"))
        .foldLeft(lit(true))(_ && _)
      val ct = when(!hadOld && hasNew, lit("insert"))
        .when(hadOld && !hasNew, lit("delete"))
        .when(hadOld && hasNew && !same, lit("update")) // else null
      g.where(ct.isNotNull)
        .select((col(keyCol) +: ct.as("change_type") +:
          (dataCols.map(c => col(s"l.$c").as(c)) ++
            dataCols.map(c => col(s"f.${c}_prev").as(s"${c}_prev")))): _*)
    } else {
      // fallback: snapshot diff over the span's touched buckets —
      // each side is that snapshot's LIVE state (its own pending MOR
      // delete files applied), so a deferred delete diffs exactly
      // like a copy-on-write one
      val touched = span.flatMap(_.touched).toSet
      def side(s: Snapshot): DataFrame =
        morScan(spark, dir, s, schema, keyCol,
          touched.toSeq.sorted
            .flatMap(b => s.files.getOrElse(b, Seq.empty)),
          Some(touched))
      classifyDiff(side(from), side(to), keyCol, schema)
        .select(outNames.map(col): _*)
    }
  }

  /** RESTORE the table to the state of an earlier version — rollback
    * as a NEW commit whose manifest re-references the old version's
    * immutable files. O(metadata): no data is read or copied, history
    * is preserved (the bad commits stay time-travelable until vacuum),
    * and [[changesBetween]] across the restore shows exactly the
    * reverted rows. `touched` is the set of buckets whose file lists
    * differ from the current latest, so concurrent disjoint writers
    * conflict-check correctly against the restore. Strict CAS: any
    * intervening commit re-diffs against the new latest. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Unit = {
    val (_, metaSchema) = readMeta(spark, dir)
    val target = snapshot(spark, dir, Some(toVersion))
    commitLoop(spark, dir, "restore", 10, rebaseFor = None) { cur =>
      // a bucket differs when its data files OR its pending MOR delete
      // files differ — restoring across a deferred delete must revive
      // (or re-impose) the delete entries with the files
      val touched = (target.files.keySet ++ cur.files.keySet ++
          target.deletes.keySet ++ cur.deletes.keySet).filter(b =>
        target.files.getOrElse(b, Seq.empty) !=
          cur.files.getOrElse(b, Seq.empty) ||
        target.deletes.getOrElse(b, Seq.empty) !=
          cur.deletes.getOrElse(b, Seq.empty))
      // already at the target state: no commit. Metadata-only by
      // design: no change file is computed (that would re-read the
      // diffed buckets) — CDF spans crossing a restore take the
      // snapshot-diff fallback
      if (touched.isEmpty) None
      else Some((_, _) => renderManifest(touched, target.files,
        target.schema.getOrElse(metaSchema), target.stats, None,
        Map(BaseKey -> cur.version.toString), target.counts,
        target.extraStats, target.deletes, target.seqs))
    }
  }

  /** COMPACT fragmented buckets: every bucket holding more than
    * `maxFilesPerBucket` files is rewritten as one file set (fresh
    * zone maps included) and committed through the same optimistic
    * CAS. Logically a no-op — the commit records an EMPTY captured
    * change set, so CDF consumers see nothing and incremental views
    * skip it entirely; physically it bounds file counts after
    * streams of small commits (the maintenance op every
    * continuously-ingested table needs). Concurrency: an intervening
    * commit re-runs the scan — compaction never wins over a writer's
    * data (bounded retries; a contended table just stays fragmented
    * until quiet). Old files remain referenced by old versions until
    * [[vacuum]]. */
  def compact(spark: SparkSession, dir: String, keyCol: String,
      maxFilesPerBucket: Int = 1,
      /** false = ALSO purge every bucket with pending merge-on-read
        * delete files (the full maintenance pass, the default); true =
        * rewrite ONLY buckets whose data-file count exceeds the
        * threshold (their own delete files still fold — a rewritten
        * bucket always consumes its backlog). The surgical mode the
        * streaming sink's auto-compaction uses: under continuous MoR
        * ingest most buckets carry SOME pending delete at any instant,
        * and an unscoped pass would rewrite the whole table every
        * trigger. */
      fragmentedOnly: Boolean = false): Unit =
    rewriteBuckets(spark, dir, keyCol, "compaction",
      // fragmented buckets AND buckets carrying pending merge-on-read
      // delete files: compaction is also the PURGE that folds deferred
      // deletes back into plain data files (restoring the vectorized
      // no-anti-join read path and metadata min/max pushdown)
      pick = snap => snap.files.filter(_._2.size > maxFilesPerBucket)
        .keySet ++ (if (fragmentedOnly) Set.empty[Int]
                    else snap.deletes.keySet),
      // one output file per fragmented bucket: repartition on the
      // bucket id so each write task owns whole buckets
      shape = (rows, n) =>
        rows.repartition(math.max(1, n / 4), col("__bucket")),
      maxRecordsPerFile = 0L)

  /** CLUSTER the table's physical layout BY KEY: every multi-file (or
    * oversized) bucket is rewritten with its rows key-sorted and split
    * at `targetRowsPerFile` boundaries, so each data file covers a
    * narrow, disjoint key interval and the manifest zone maps become
    * maximally selective — `readRange`/[[table]] range queries then
    * prune to the few files that cover the range, where a
    * hash-scattered write order leaves every file spanning ~the whole
    * key domain and prunes nothing. This is the one-dimensional
    * OPTIMIZE/clustering maintenance a lakehouse table runs after a
    * stream of unordered commits (the 2-D composite-key form is
    * `functions.Layout.zkey` applied to a derived column). Same
    * optimistic protocol and CDF-invisible commit as [[compact]];
    * logically a no-op, physically a layout change. */
  def cluster(spark: SparkSession, dir: String, keyCol: String,
      targetRowsPerFile: Long = 1000000L): Unit = {
    val (_, metaSchema) = readMeta(spark, dir)
    rewriteBuckets(spark, dir, keyCol, "clustering",
      // CONVERGENT pick: a bucket is already clustered when every file
      // carries stats + a row count, no file exceeds the target, and
      // the key intervals are pairwise disjoint (the signature a
      // cluster rewrite leaves) — re-running on a quiet table is a
      // no-op instead of an O(table) rewrite. Pre-counts manifests and
      // overlapping/oversized layouts rewrite.
      pick = snap => snap.files.filter { case (_, fs0) =>
        fs0.nonEmpty &&
          !isClustered(snap, fs0, targetRowsPerFile, snap.stats.get,
            numericPrunable(snap.schema.getOrElse(metaSchema), keyCol))
      }.keySet,
      // whole buckets per task, rows sorted by (bucket, key): the
      // writer's required ordering (partition col prefix) is already
      // satisfied, so the key sort survives into the files and
      // maxRecordsPerFile chunks each bucket's sorted run into
      // contiguous key intervals
      shape = (rows, n) =>
        rows.repartition(math.max(1, n / 4), col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col(keyCol)),
      maxRecordsPerFile = math.max(1L, targetRowsPerFile))
  }

  /** [[cluster]] on a SECONDARY column: each bucket's rows are sorted
    * by `byCol` (key as tiebreak) and split at `targetRowsPerFile`, and
    * from this commit on every file carries a named (min, max) zone map
    * for `byCol` in the manifest — later mutations inherit the column
    * automatically (inheritedStatsCols), so the pruning dimension
    * survives ordinary upserts. [[readRangeOn]] then prunes range
    * queries on `byCol` the way [[readRange]] does on the key — the
    * OPTIMIZE-BY-other-column layout (one dimension; compose
    * `functions.Layout.zkey` into a derived column for true 2-D). */
  def clusterBy(spark: SparkSession, dir: String, keyCol: String,
      byCol: String, targetRowsPerFile: Long = 1000000L): Unit = {
    require(byCol != keyCol,
      s"clusterBy on the key column is cluster() — named maps are " +
        "never written for the key")
    val (_, metaSchema) = readMeta(spark, dir)
    rewriteBuckets(spark, dir, keyCol, s"clustering by $byCol",
      pick = snap => snap.files.filter { case (_, fs0) =>
        fs0.nonEmpty && !isClustered(snap, fs0, targetRowsPerFile,
          f => snap.extraStats.get(f).flatMap(_.get(byCol)),
          numericPrunable(snap.schema.getOrElse(metaSchema), byCol))
      }.keySet,
      shape = (rows, n) =>
        rows.repartition(math.max(1, n / 4), col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col(byCol), col(keyCol)),
      maxRecordsPerFile = math.max(1L, targetRowsPerFile),
      ensureStatsCols = Seq(byCol))
  }

  /** Whether a bucket's files already have the layout a cluster
    * rewrite produces along the dimension `statsOf` reads: full stats
    * + counts, all within the size target, and pairwise-disjoint
    * intervals. Interval order is NUMERIC only when the dimension's
    * SCHEMA TYPE makes the recorded stats numeric ([[numericPrunable]])
    * — a STRING column holding digit strings records string-ordered
    * envelopes (min="10", max="9") that happen to parse as longs, and
    * judging those numerically would misread disjointness and rewrite
    * such a table on every maintenance run, forever. Legacy manifests
    * whose stats predate the typed encoding (a string-cast timestamp)
    * fail the parse check and fall back to string order — at worst a
    * re-sort, never a wrong read. */
  private def isClustered(snap: Snapshot, fs0: Seq[String],
      targetRowsPerFile: Long,
      statsOf: String => Option[(String, String)],
      numericType: Boolean): Boolean = {
    // every file must be size-bounded with a KNOWN count; files
    // WITHOUT a map are tolerated (an all-null dimension file — a
    // rewrite cannot give it one, so requiring it would re-rewrite
    // forever), they just never prune
    if (!fs0.forall(f =>
        snap.counts.get(f).exists(_ <= targetRowsPerFile))) return false
    val ivs = fs0.flatMap(statsOf)
    // a bucket with NO mapped file has never been stamped along this
    // dimension — rewrite it (a wholly-null-dimension bucket re-sorts
    // every run: it cannot carry maps, bounded by its own size)
    if (ivs.isEmpty) return false
    val numeric = numericType && ivs.forall { case (a, b) =>
      a.toLongOption.isDefined && b.toLongOption.isDefined }
    // string intervals order in UTF-8 binary order (Utf8Ord) — the
    // order the envelopes were aggregated in, so the overlap test
    // agrees with what the pruning consumers will see
    val sorted =
      if (numeric) ivs.sortBy(iv => (iv._1.toLong, iv._2.toLong))
      else ivs.sorted(Ordering.Tuple2(Utf8Ord, Utf8Ord))
    // TOUCHING intervals are clustered: a value spanning a file
    // boundary (duplicate-heavy dimension — file1 max == file2 min)
    // is the best a sorted split can do; only true overlap (a later
    // file starting BELOW an earlier file's max) means unsorted
    sorted.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) =>
        if (numeric) hi.toLong <= lo2.toLong else Utf8Ord.lteq(hi, lo2)
      case _ => true
    }
  }

  /** The shared maintenance-rewrite core behind [[compact]] and
    * [[cluster]]: pick buckets off the current snapshot, rewrite their
    * rows through `shape`, commit the relisted buckets as a
    * CDF-invisible version (empty captured change set) through a
    * strict [[commitLoop]] — an intervening writer re-runs the scan
    * (maintenance never wins over a writer's data). */
  private def rewriteBuckets(spark: SparkSession, dir: String,
      keyCol: String, label: String,
      pick: Snapshot => Set[Int],
      shape: (DataFrame, Int) => DataFrame,
      maxRecordsPerFile: Long,
      ensureStatsCols: Seq[String] = Nil): Unit = {
    // the rewrite consumes pending MOR delete files, which hold ONLY
    // the recorded key column — a wrong-column maintenance call would
    // read them as all-null, drop nothing in the anti-join, and
    // permanently RESURRECT deleted rows while clearing the entries;
    // refuse before touching anything
    requireKey(spark, dir, keyCol, label)
    val (nb, metaSchema) = readMeta(spark, dir)
    commitLoop(spark, dir, label, 5, rebaseFor = None) { snap =>
      val picked = pick(snap)
      if (picked.isEmpty) None
      else {
        val schema = snap.schema.getOrElse(metaSchema)
        // a maintenance rewrite materializes the LIVE state: pending
        // MOR delete files of the picked buckets are applied here
        // (sequence rule) and their entries cleared below — compact()
        // IS the delete-purge operation
        val rows = morScan(spark, dir, snap, schema, keyCol,
            picked.toSeq.sorted
              .flatMap(b => snap.files.getOrElse(b, Seq.empty)),
            Some(picked))
          .withColumn("__bucket", bucketOf(keyCol, nb))
        val (newFiles, newStats, newCounts, newExtra) =
          writeDataFiles(spark, dir,
            shape(rows, picked.size).localCheckpoint(true), keyCol,
            maxRecordsPerFile,
            statsCols = (inheritedStatsCols(snap) ++ ensureStatsCols)
              .distinct,
            // maintenance re-writes ALREADY-COMMITTED rows: re-running
            // the constraint guard would permanently wedge compact/
            // cluster (and the streaming sink's auto-compaction) on a
            // bucket poisoned through the documented addConstraint race
            enforceConstraints = false)
        val manifest = snap.files ++
          picked.toSeq.map(b => b -> newFiles.getOrElse(b, Seq.empty))
        Some((_, _) => renderManifest(picked, manifest, schema,
          snap.stats ++ newStats, Some(Seq.empty),
          Map(BaseKey -> snap.version.toString), snap.counts ++ newCounts,
          snap.extraStats ++ newExtra, snap.deletes -- picked,
          snap.seqs))
      }
    }
  }

  /** The zone-map FILE PRUNING a range read performs, exposed for
    * inspection: (files kept, total files) at the given version for a
    * numeric-key range [lo, hi]. A file is kept when its zone map can
    * intersect the range — or when it has no zone map (pre-zone-map
    * files and non-numeric stats are never pruned, only skipped). */
  def rangeFiles(spark: SparkSession, dir: String, keyCol: String,
      lo: Long, hi: Long,
      version: Option[Long] = None): (Seq[String], Int) = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    rangeFilesBy(snap, lo, hi, snap.stats.get,
      prunable = numericPrunable(
        snap.schema.getOrElse(metaSchema), keyCol))
  }

  /** The one range-prune rule both the key and the named secondary
    * maps use: keep a file unless `prunable` AND its recorded interval
    * provably misses [lo, hi] under NUMERIC order. `prunable` must be
    * true only for integral-typed columns (see [[numericPrunable]]) —
    * string-ordered envelopes numeric-parsed would prune matching
    * rows. */
  private def rangeFilesBy(snap: Snapshot, lo: Long, hi: Long,
      statsOf: String => Option[(String, String)],
      prunable: Boolean): (Seq[String], Int) = {
    val all = snap.files.values.flatten.toSeq
    val kept =
      if (!prunable) all
      else all.filter { f =>
        statsOf(f) match {
          case Some((mn, mx)) =>
            (mn.toLongOption, mx.toLongOption) match {
              case (Some(a), Some(b)) => !(b < lo || a > hi)
              case _ => true // unparseable stats: cannot prune safely
            }
          case None => true // no zone map recorded: must read
        }
      }
    (kept, all.size)
  }

  /** Range read with ZONE-MAP DATA SKIPPING: only files whose
    * (min, max) key interval intersects [lo, hi] are scanned; the
    * residual filter guarantees exactness. At 100 TB this is the
    * manifest-level analogue of parquet row-group statistics, applied
    * BEFORE any split is planned — a key-localized query touches the
    * few files that cover it, not every file of every bucket (hash
    * bucketing spreads a key RANGE over all buckets, so bucket pruning
    * cannot help here; the per-file zone map can). */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
      lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    val (kept, _) = rangeFiles(spark, dir, keyCol, lo, hi, version)
    val df = morScan(spark, dir, snap, schema, keyCol, kept)
    // residual filter in the SAME image the bounds are expressed in
    // (epoch days / micros for date / timestamp keys)
    val k = statImage(schema(keyCol).dataType, col(keyCol))
    df.where(k >= lo && k <= hi)
  }

  /** [[rangeFiles]] on a SECONDARY column's named zone maps (written
    * by [[clusterBy]] and inherited by later mutations): (files kept,
    * total). Files without a recorded map for `statCol` are never
    * pruned. */
  def rangeFilesOn(spark: SparkSession, dir: String, statCol: String,
      lo: Long, hi: Long, version: Option[Long] = None)
      : (Seq[String], Int) = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    rangeFilesBy(snap, lo, hi,
      f => snap.extraStats.get(f).flatMap(_.get(statCol)),
      prunable = numericPrunable(
        snap.schema.getOrElse(metaSchema), statCol))
  }

  /** Range read on a SECONDARY column with data skipping through its
    * named zone maps — [[readRange]]'s pruning on a non-key dimension.
    * Hash bucketing spreads ANY value range over every bucket, and the
    * key zone maps say nothing about other columns; after a
    * [[clusterBy]] the named per-file maps are tight, so a
    * `statCol`-localized query touches only covering files. */
  def readRangeOn(spark: SparkSession, dir: String, statCol: String,
      lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    val (kept, _) = rangeFilesOn(spark, dir, statCol, lo, hi, version)
    val df = morScan(spark, dir, snap, schema,
      morKeyCol(spark, dir, snap), kept)
    val c = statImage(schema(statCol).dataType, col(statCol))
    df.where(c >= lo && c <= hi)
  }

  /** The table as a CATALYST-INTEGRATED DataFrame: any `WHERE` clause
    * on the key column prunes data files through the manifest's zone
    * maps BEFORE split planning ([[ZoneMapFileIndex]]) — `readRange`'s
    * skipping without the explicit range call, composable with every
    * downstream operator. Snapshot-pinned like [[read]]. */
  def table(spark: SparkSession, dir: String, keyCol: String,
      version: Option[Long] = None): DataFrame =
    tableIndexed(spark, dir, keyCol, version)._1

  /** [[table]] plus its file index, whose `lastListed` exposes the
    * (kept, total) file counts of the most recent query — the
    * observability hook specs and in-row assertions pin dynamic
    * pruning with. */
  private[graft] def tableIndexed(spark: SparkSession, dir: String,
      keyCol: String, version: Option[Long] = None)
      : (DataFrame, ZoneMapFileIndex) = {
    val (_, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    def indexed(s: Snapshot): (DataFrame, ZoneMapFileIndex) = {
      val index = new ZoneMapFileIndex(spark, dir, s, keyCol, schema)
      val relation = org.apache.spark.sql.execution.datasources
        .HadoopFsRelation(index,
          new org.apache.spark.sql.types.StructType(),
          schema, None,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat,
          Map.empty[String, String])(spark)
      (spark.baseRelationToDataFrame(relation), index)
    }
    if (snap.deletes.isEmpty) indexed(snap)
    else {
      // pending MOR deletes: one indexed relation PER SEQUENCE CLASS
      // (a filtered Snapshot view feeds each ZoneMapFileIndex, so
      // zone-map pruning survives), each anti-joined against exactly
      // the delete files above its sequence, unioned. Filters and
      // projections push through the joins into every class's pruned
      // scan. The returned index is the largest class's — the
      // observability hook only; tables without deletes (the steady
      // state after compaction) keep the single bare relation.
      val delRels = snap.deletes.values.flatten.toSeq
      val keySchema = org.apache.spark.sql.types.StructType(
        Seq(schema(keyCol).copy(nullable = false)))
      val classes = snap.files.toSeq
        .flatMap { case (b, fs0) => fs0.map(f => (b, f)) }
        .groupBy { case (_, f) => dataSeq(snap, f) }
        .toSeq.sortBy(_._1)
      val parts = classes.map { case (s, bf) =>
        val classFiles = bf.groupBy(_._1).view
          .mapValues(_.map(_._2)).toMap
        val (df, idx) = indexed(snap.copy(files = classFiles))
        val applicable = delRels.filter(d => deleteSeq(snap, d) > s)
        val filtered =
          if (applicable.isEmpty) df
          else df.join(
            scanFiles(spark, dir, keySchema, applicable),
            Seq(keyCol), "left_anti")
        (filtered, idx, bf.size)
      }
      (parts.map(_._1).reduce(_ unionByName _),
        parts.maxBy(_._3)._2)
    }
  }

  /** Point-lookup read: the given keys' rows, touching only the
    * BUCKETS the keys hash into, zone-map- AND bloom-filtered within
    * them ([[keyFiles]]) — O(k) buckets' files for k keys, never a
    * table scan, and within a bucket only files that might actually
    * hold a probed key (hash-scattered layouts give every file a
    * full-range zone map; the per-file bloom is what prunes there).
    * The key list is driver-held and bounded (`require`) — this is the
    * dimension-lookup / debugging path, not a join replacement. */
  def readKeys(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], version: Option[Long] = None): DataFrame = {
    require(keys.size <= MaxPointLookupKeys,
      s"readKeys is for bounded point lookups (${keys.size} keys); " +
        "join against read() for larger key sets")
    val (nb, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    // hash under the TABLE's key type: xxhash64 is physical-type-
    // sensitive (hash of 5: Int != 5: Long), so a literal Long list
    // against e.g. an Int key column must be cast before bucketing
    // (keyFilesOf applies the same cast; pruning and scan share THIS
    // snapshot, so a concurrent commit cannot split them)
    val (kept, _) = keyFilesOf(spark, dir, keyCol, keys, snap, nb, schema)
    morScan(spark, dir, snap, schema, keyCol, kept)
      .where(col(keyCol).isin(keys: _*))
  }

  /** [[keyFiles]] for STRING-keyed tables: candidates are pruned by
    * the string-ordered zone envelopes (the manifest records a string
    * column's native min/max, so `mn <= k <= mx` in STRING order is
    * exact) and by the bloom sidecar, probed as
    * `mightContainLong(xxhash64(key))` — the hash image
    * [[writeDataFiles]] blooms string keys under. */
  def keyFilesStr(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[String], version: Option[Long] = None)
      : (Seq[String], Int) = {
    require(keys.size <= MaxPointLookupKeys,
      s"keyFilesStr is for bounded point lookups (${keys.size} keys); " +
        "join against read() for larger key sets")
    val (nb, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    keyFilesStrOf(spark, dir, keyCol, keys, snap, nb,
      snap.schema.getOrElse(metaSchema))
  }

  /** xxhash64 image of a string key with Spark's default seed — MUST
    * match the SQL `xxhash64(key)` the bloom build aggregates, or
    * probes would silently never prune. */
  private[sinks] def strKeyHash(k: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(k),
      org.apache.spark.sql.types.StringType, 42L)

  private def keyFilesStrOf(spark: SparkSession, dir: String,
      keyCol: String, keys: Seq[String], snap: Snapshot, nb: Int,
      schema: org.apache.spark.sql.types.StructType)
      : (Seq[String], Int) = {
    require(schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"keyFilesStr probes STRING keys; '$keyCol' is " +
        s"${schema(keyCol).dataType} — use keyFiles/readKeys")
    val wanted = keyBuckets(spark, keyCol, Right(keys),
      org.apache.spark.sql.types.StringType, nb)
    val candidate = snap.files.filter(e => wanted(e._1))
      .values.flatten.toSeq
    // string-order zone check against the native string envelopes —
    // in UTF-8 BINARY order (Utf8Ord), the order the stats were
    // aggregated in; java.lang.String's UTF-16 order would prune
    // files whose envelopes legitimately contain a probed key when
    // supplementary-plane characters are involved
    val zoneKept = candidate.filter { f =>
      snap.stats.get(f) match {
        case Some((mn, mx)) =>
          keys.exists(k => Utf8Ord.gteq(k, mn) && Utf8Ord.lteq(k, mx))
        case None => true // no zone map recorded: must read
      }
    }
    val hashes = keys.map(strKeyHash)
    val blooms = bloomsFor(hfs(spark, dir), dir, zoneKept)
    val kept = zoneKept.filter { f =>
      blooms.get(f) match {
        case Some(bl) => hashes.exists(bl.mightContainLong)
        case None => true // no bloom recorded: must read
      }
    }
    (kept, candidate.size)
  }

  /** [[readKeys]] for STRING-keyed tables: the given keys' rows,
    * zone- and bloom-pruned within the keys' buckets
    * ([[keyFilesStr]]). Same bounded-driver-list contract. */
  def readKeysStr(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[String], version: Option[Long] = None): DataFrame = {
    require(keys.size <= MaxPointLookupKeys,
      s"readKeysStr is for bounded point lookups (${keys.size} keys); " +
        "join against read() for larger key sets")
    val (nb, metaSchema) = readMeta(spark, dir)
    val snap = snapshot(spark, dir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    val (kept, _) =
      keyFilesStrOf(spark, dir, keyCol, keys, snap, nb, schema)
    morScan(spark, dir, snap, schema, keyCol, kept)
      .where(col(keyCol).isin(keys: _*))
  }

  /** SHALLOW CLONE: a new, fully independent table at `dstDir` whose
    * v1 references the SOURCE's immutable files — via hard links on
    * local filesystems (one link(2) per file, zero data copied; other
    * schemes fall back to a copy), preserving relative paths so zone
    * maps and bloom sidecars carry over verbatim. Because a link is an
    * independent directory entry over the same blocks, the two tables
    * then diverge without any interaction: mutations on either stay
    * private, and a [[vacuum]] on one can never break the other (it
    * unlinks its own names; shared blocks live until the last name
    * goes). This is the zero-cost dev/test-branch primitive
    * (Delta/Iceberg's SHALLOW CLONE — theirs references the source
    * path and breaks if the source vacuums; the link form does not).
    * O(files) metadata ops, no data movement. */
  def cloneAt(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None,
      /** Extra commit metadata for the clone's v1 manifest — how
        * [[branchFrom]] stamps the fork coordinates. */
      extraMeta: Map[String, String] = Map.empty): Unit = {
    val (nb, metaSchema) = readMeta(spark, srcDir)
    val snap = snapshot(spark, srcDir, version)
    val schema = snap.schema.getOrElse(metaSchema)
    val fs = hfs(spark, srcDir)
    // refuse a LIVE destination: overwriting an existing table's meta
    // and CAS-appending a manifest referencing ANOTHER table's files
    // would silently corrupt the destination's version chain — clone
    // only into a dir with no table state
    require(KeyedTable.readMeta(spark, dstDir).isEmpty &&
        listVersions(hfs(spark, dstDir), dstDir).isEmpty,
      s"cloneAt destination $dstDir already holds a table " +
        "(meta sidecar or version log present) — clone into a fresh " +
        "directory; overwriting would corrupt its version chain")
    writeMeta(spark, dstDir, nb, schema,
      KeyedTable.readMetaKey(spark, srcDir))
    val local = fs.getUri.getScheme == "file"
    def localPath(p: Path) = java.nio.file.Paths.get(
      Path.getPathWithoutSchemeAndAuthority(p).toString)
    // every referenced data file + each involved commit dir's bloom
    // sidecar (harmless if it lists files the clone does not reference
    // — lookups are by relative path)
    val rels = snap.files.values.flatten.toSeq ++
      snap.deletes.values.flatten.toSeq
    val sidecars = rels.map { f =>
      val i = f.indexOf('/', f.indexOf('/') + 1)
      if (i < 0) f else f.take(i)
    }.distinct.map(c => s"$c/$BloomSidecar")
      .filter(r => fs.exists(new Path(s"$srcDir/$r")))
    (rels ++ sidecars).foreach { rel =>
      val src = new Path(s"$srcDir/$rel")
      val dst = new Path(s"$dstDir/$rel")
      fs.mkdirs(dst.getParent)
      try {
        if (local) java.nio.file.Files.createLink(
          localPath(dst), localPath(src))
        else org.apache.hadoop.fs.FileUtil.copy(
          fs, src, fs, dst, false, spark.sparkContext.hadoopConfiguration)
      } catch {
        // createLink throws nio NoSuchFileException, FileUtil.copy the
        // io one — neither is a subclass of the other
        case _: java.io.FileNotFoundException |
             _: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"cloneAt raced a vacuum on $srcDir (missing $rel) — " +
              "retry against a retained version")
      }
    }
    var v = 1L
    val content = renderManifest(snap.files.keySet, snap.files, schema,
      snap.stats, None,
      extraMeta + ("graft.clonedFrom" -> s"$srcDir@v${snap.version}"),
      snap.counts,
      snap.extraStats, snap.deletes, snap.seqs)
    while (!tryCommit(fs, dstDir, versionPath(dstDir, v), content)) v += 1
  }

  // ---- WRITABLE BRANCHES (write-audit-publish) -----------------------

  private[sinks] val BranchForkKey = "graft.branch.fork"
  private[sinks] val BranchOfKey = "graft.branch.of"

  /** CREATE A WRITABLE BRANCH — the WAP (write-audit-publish) seat:
    * a zero-copy [[cloneAt]] of the table whose v1 manifest records
    * the FORK coordinates, so [[publish]] can later land the branch's
    * net changes back on the main table as one atomic commit. The
    * branch is a full, independent table: every write surface
    * (upsert/delete/merge/SQL DML/streaming sink), every constraint,
    * and every read (audit queries, CDF) work on it unchanged, and
    * nothing the branch does is visible on main until publish — the
    * Iceberg WAP workflow, with the branch as a linked clone instead
    * of an in-log ref (divergent histories never share a version
    * log, so neither table's optimistic CAS ever contends with the
    * other's). Returns the fork version. */
  def branchFrom(spark: SparkSession, mainDir: String,
      branchDir: String, version: Option[Long] = None): Long = {
    val fork = snapshot(spark, mainDir, version).version
    cloneAt(spark, mainDir, branchDir, version,
      extraMeta = Map(BranchForkKey -> fork.toString,
        BranchOfKey -> mainDir))
    fork
  }

  /** PUBLISH a branch back to its main table: the branch's NET
    * row-level changes since the fork — computed from its CHANGE
    * FILES ([[changesBetween]]), O(changed rows), never O(table) —
    * land on main as ONE merge commit (upserts replace-by-key,
    * deletes remove; CDF-captured like any mutation, so main's
    * consumers see the publish as ordinary changes). The audit step
    * is whatever the caller ran against the branch before calling
    * this — the point of WAP is that those reads saw EXACTLY the rows
    * being published.
    *
    * STRICT by default: publish refuses when main has advanced past
    * the audited fork (what was audited is no longer what would
    * result) — re-branch/re-audit, or pass `allowDiverged = true` to
    * merge anyway under keyed last-writer-wins semantics (the
    * branch's changes overwrite main's for colliding keys, disjoint
    * keys coexist). The gate is checked immediately before the merge;
    * the residual window to a racing main commit is the standard
    * optimistic-store caveat (the merge itself stays atomic and
    * serializable — nothing tears).
    *
    * A branch with no commits past the fork publishes as a NO-OP (no
    * commit on main). Additive schema evolution on the branch carries
    * through (the merge evolves main the same way a wider upsert
    * would). The fork coordinates live in the branch's FIRST manifest
    * — a [[vacuum]] on the branch that drops it makes publish refuse
    * loudly ("not a branch"); size the branch's retention to its
    * audit lifetime (branches are short-lived by the WAP workflow).
    * Returns main's version after the publish. */
  def publish(spark: SparkSession, mainDir: String, branchDir: String,
      keyCol: String, allowDiverged: Boolean = false,
      commitMeta: Map[String, String] = Map.empty): Long = {
    val branchVersions = completeVersions(spark, branchDir)
    require(branchVersions.nonEmpty, s"publish: $branchDir has no " +
      "complete version — not a table")
    val v1 = branchVersions.head
    val v1snap = snapshot(spark, branchDir, Some(v1))
    val fork = v1snap.meta.get(BranchForkKey).flatMap(_.toLongOption)
      .getOrElse(throw new IllegalArgumentException(
        s"publish: $branchDir is not a branch (no recorded fork " +
          "version) — create it with branchFrom, not cloneAt"))
    val bSnap = snapshot(spark, branchDir)
    val mainV = snapshot(spark, mainDir).version
    if (bSnap.version == v1) return mainV // nothing to publish: no-op
    if (!allowDiverged) require(mainV == fork,
      s"publish: $mainDir advanced past the audited fork " +
        s"(main at v$mainV, fork at v$fork) — what was audited is no " +
        "longer what would result; re-branch and re-audit, or publish " +
        "with allowDiverged=true (keyed last-writer-wins)")
    val (_, metaSchema) = readMeta(spark, branchDir)
    val schema = bSnap.schema.getOrElse(metaSchema)
    val dataCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    // the branch's net change per key since the fork — change-file
    // tier when every branch commit captured, snapshot-diff fallback
    // otherwise (both O(changed region))
    val feed = changesBetween(spark, branchDir, keyCol, v1,
      bSnap.version)
    val isDel = col("s.__publish_op") === lit("D")
    val src = feed.select(
      (col(keyCol) +: dataCols.map(col)) :+
        when(col("change_type") === "delete", lit("D"))
          .otherwise(lit("U")).as("__publish_op"): _*)
    merge(spark, mainDir, src, keyCol,
      whenMatchedDelete = Some(isDel),
      whenMatchedUpdate = dataCols.map(c =>
        c -> when(isDel, col(s"t.$c")).otherwise(col(s"s.$c"))).toMap,
      insertNotMatchedWhen = Some(!isDel),
      commitMeta = commitMeta ++ Map(
        "graft.publish.from" -> branchDir,
        "graft.publish.fork" -> fork.toString,
        "graft.publish.branchVersion" -> bSnap.version.toString),
      carryCols = Set("__publish_op"))
    snapshot(spark, mainDir).version
  }

  /** Metadata-only COUNT(*): the sum of the manifest's per-file row
    * counts when EVERY referenced file carries one — zero data files
    * opened (the fast path a `SELECT count(*)` planner takes off
    * table-format statistics). None when any file predates row counts
    * (pre-counts manifests) — the caller falls back to
    * `read(...).count()`; never a guess. */
  def countRows(spark: SparkSession, dir: String,
      version: Option[Long] = None): Option[Long] = {
    val snap = snapshot(spark, dir, version)
    val files = snap.files.values.flatten.toSeq
    val delFiles = snap.deletes.values.flatten.toSeq
    // pending MOR deletes SUBTRACT exactly: a live delete file holds
    // only keys that existed, each in exactly one live delete file
    // (deleteMor's existence semi-join is what pins the invariant)
    if (files.forall(snap.counts.contains) &&
        delFiles.forall(snap.counts.contains))
      Some(files.map(snap.counts).sum - delFiles.map(snap.counts).sum)
    else None
  }

  /** DESCRIBE HISTORY: one row per complete version — version, commit
    * instant (manifest mtime, ms), buckets touched, files referenced,
    * whether the commit captured changes and how many change files,
    * the base version it was built on, and its commit metadata keys.
    * Metadata-scale (parses the log, reads no data). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = hfs(spark, dir)
    import spark.implicits._
    listVersions(fs, dir).flatMap { v =>
      val p = versionPath(dir, v)
      parseManifest(v, readVersionFile(fs, p)).map { s =>
        (v, fs.getFileStatus(p).getModificationTime,
          s.touched.size.toLong,
          s.files.values.map(_.size).sum.toLong,
          s.changes.isDefined,
          s.changes.map(_.size.toLong).getOrElse(-1L),
          s.meta.get(BaseKey).flatMap(_.toLongOption).getOrElse(-1L),
          s.meta.keys.toSeq.sorted.mkString(","))
      }
    }.toDF("version", "committed_at_ms", "n_touched_buckets",
      "n_files", "captured_changes", "n_change_files", "base_version",
      "meta_keys")
  }

  // ---- sidecar registries (tags, constraints, properties, ingest) --

  /** The four sidecar registries (`_tags`, `_constraints`, `_props`,
    * `_ingest`) share one file format: a directory of named files, each
    * holding one URL-encoded payload line and the `#end` marker — a
    * file without the marker is a torn weak-scheme write and reads as
    * ABSENT. Claim semantics stay per registry: tags and constraints
    * are create-once ([[claimSidecar]]), properties last-writer-wins,
    * ingest markers create-once under digest names. */
  private def sidecarPayload(payload: String): String =
    enc(payload) + "\n#end\n"

  /** Create-once claim of a sidecar name on the claim backend (atomic
    * with content where the scheme allows); false when it exists. */
  private def claimSidecar(fs: FileSystem, regDir: Path, p: Path,
      payload: String): Boolean = {
    fs.mkdirs(regDir)
    claimBackendFor(fs).tryClaim(fs, regDir, p, sidecarPayload(payload))
  }

  /** One sidecar's decoded payload, or None (missing or torn). */
  private def readSidecar(fs: FileSystem, p: Path): Option[String] =
    try {
      val lines = readVersionFile(fs, p).split('\n')
      if (!lines.lastOption.contains("#end")) None
      else lines.headOption.map(dec)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Every complete sidecar in a registry: (decoded name, payload). */
  private def listSidecars(fs: FileSystem,
      regDir: Path): Seq[(String, String)] =
    if (!fs.exists(regDir)) Seq.empty
    else fs.listStatus(regDir).toSeq.flatMap(st =>
      readSidecar(fs, st.getPath).map(dec(st.getPath.getName) -> _))

  // ---- tags ---------------------------------------------------------

  private def tagsDir(dir: String) = new Path(dir, "_tags")
  private def tagPath(dir: String, name: String) =
    new Path(tagsDir(dir), enc(name))

  /** TAG a committed version with an immutable NAME (the
    * Iceberg/Delta named-snapshot shape): `release-2026-08` resolves
    * forever to the same snapshot — `VERSION AS OF 'release-2026-08'`
    * in SQL, [[readTagged]] programmatically — and [[vacuum]] RETAINS
    * tagged versions (manifest + files) past its retention count, so
    * a pinned audit/repro snapshot survives routine reclamation until
    * [[deleteTag]] releases it. Creation is one create-if-absent on
    * the claim backend (atomic with content where the scheme allows):
    * re-tagging the SAME version is an idempotent no-op, a DIFFERENT
    * version fails loudly — tags never move (re-point = delete +
    * re-create, an explicit two-step). Purely-numeric names are
    * refused (they would be ambiguous under `VERSION AS OF`).
    * Defaults to the latest complete version; returns the tagged
    * version. */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.toLongOption.isEmpty,
      s"tag name '$name' must be non-empty and non-numeric " +
        "(numeric strings are version literals under VERSION AS OF)")
    // the tagged version must exist and be complete — loud otherwise
    val v = snapshot(spark, dir, version).version
    if (claimSidecar(hfs(spark, dir), tagsDir(dir), tagPath(dir, name),
        v.toString)) v
    else tagVersion(spark, dir, name) match {
      case Some(existing) if existing == v => v // idempotent re-tag
      case Some(existing) => throw new IllegalStateException(
        s"tag '$name' at $dir already points to v$existing — tags " +
          s"never move; deleteTag first to re-point it (wanted v$v)")
      case None => throw new IllegalStateException(
        s"tag '$name' at $dir lost its creation race to a torn " +
          "claim — deleteTag the remnant and retry")
    }
  }

  /** The version a tag resolves to, or None (missing or torn). */
  def tagVersion(spark: SparkSession, dir: String,
      name: String): Option[Long] =
    readSidecar(hfs(spark, dir), tagPath(dir, name))
      .flatMap(_.toLongOption)

  /** Every live tag: name → version (torn remnants skipped). */
  def tags(spark: SparkSession, dir: String): Map[String, Long] =
    listSidecars(hfs(spark, dir), tagsDir(dir))
      .flatMap { case (n, v) => v.toLongOption.map(n -> _) }.toMap

  /** Remove a tag (releases its vacuum retention). Returns whether
    * anything was removed. */
  def deleteTag(spark: SparkSession, dir: String,
      name: String): Boolean = {
    val fs = hfs(spark, dir)
    fs.delete(tagPath(dir, name), false)
  }

  /** [[read]] pinned to a tagged version. */
  def readTagged(spark: SparkSession, dir: String,
      name: String): DataFrame =
    read(spark, dir, Some(tagVersion(spark, dir, name).getOrElse(
      throw new IllegalStateException(
        s"no tag '$name' on the table at $dir"))))

  // ---- CHECK CONSTRAINTS --------------------------------------------

  private def constraintsDir(dir: String) = new Path(dir, "_constraints")
  private def constraintPath(dir: String, name: String) =
    new Path(constraintsDir(dir), enc(name))

  /** ADD a named CHECK constraint: a boolean SQL predicate every row
    * of every future commit must satisfy (the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract; NOT NULL is just
    * `col IS NOT NULL`). The EXISTING table is validated first — a
    * constraint the current rows violate is refused, so a live
    * constraint always means "every row ever committed under it
    * passed". Enforcement rides [[writeDataFiles]]'s own write pass
    * (a per-row guard expression, NOT an extra scan — at 100 TB an
    * extra validation pass per commit would double write I/O), and
    * covers EVERY write surface: upsert/delete/merge/transact,
    * merge-on-read appends, SQL INSERT/UPDATE/MERGE/OVERWRITE, the
    * streaming sink, and layout rewrites. A violating batch fails the
    * write job BEFORE its manifest commits — the table is unchanged
    * (orphaned part-files reclaim via [[vacuum]], like any failed
    * write). SQL-null semantics: a row where the predicate is NULL
    * PASSES (the SQL CHECK rule — use `IS NOT NULL` to reject nulls).
    * Columns a batch does not carry (additive schema evolution)
    * evaluate as null, so evolution-lagging writers keep the same
    * null-passes rule. Re-adding an identical constraint is an
    * idempotent no-op; a different predicate under a live name fails
    * loudly (drop first). NOTE the add itself does not serialize with
    * in-flight data commits (the constraint claim is a sidecar, not a
    * manifest CAS): a writer whose batch was already validated against
    * the old constraint set may land violating rows in the race
    * window — re-run the validation read after adding when that
    * window matters. Maintenance rewrites (compact/cluster, including
    * the streaming sink's auto-compaction) deliberately do NOT
    * re-enforce constraints on the already-committed rows they move:
    * a bucket poisoned through the race stays compactable instead of
    * wedging maintenance until the constraint is dropped. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      check: String): Unit = {
    require(name.nonEmpty, "constraint name must be non-empty")
    // must resolve against the table schema AND be boolean — loud now,
    // not at some future writer's commit
    val probe = read(spark, dir).select(expr(check).as("c"))
    require(probe.schema.fields.head.dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"constraint '$name' must be a BOOLEAN predicate, got " +
        s"${probe.schema.fields.head.dataType.simpleString}: $check")
    // the ALTER TABLE contract: current rows must already satisfy it
    val bad = read(spark, dir)
      .filter(!coalesce(expr(check), lit(true))).limit(1).collect()
    require(bad.isEmpty,
      s"cannot add constraint '$name' CHECK ($check): existing rows " +
        s"violate it, e.g. ${bad.headOption.fold("")(_.toString)}")
    registerConstraint(spark, dir, name, check)
  }

  /** Registration WITHOUT the current-rows validation — the test hook
    * that simulates the documented addConstraint race (a concurrent
    * writer landing rows the new constraint would reject). Production
    * callers use [[addConstraint]]. */
  private[graft] def addConstraintUnchecked(spark: SparkSession,
      dir: String, name: String, check: String): Unit =
    registerConstraint(spark, dir, name, check)

  private def registerConstraint(spark: SparkSession, dir: String,
      name: String, check: String): Unit = {
    val fs = hfs(spark, dir)
    val p = constraintPath(dir, name)
    if (!claimSidecar(fs, constraintsDir(dir), p, check)) {
      readSidecar(fs, p) match {
        case Some(existing) if existing == check => () // idempotent
        case Some(existing) => throw new IllegalStateException(
          s"constraint '$name' at $dir already holds CHECK " +
            s"($existing) — constraints never mutate in place; " +
            "dropConstraint first")
        case None => throw new IllegalStateException(
          s"constraint '$name' at $dir lost its creation race to a " +
            "torn claim — dropConstraint the remnant and retry")
      }
    }
  }

  /** Remove a named constraint (future commits stop enforcing it).
    * Returns whether anything was removed. */
  def dropConstraint(spark: SparkSession, dir: String,
      name: String): Boolean =
    hfs(spark, dir).delete(constraintPath(dir, name), false)

  /** Every live constraint: name → CHECK predicate (torn remnants
    * skipped, like torn tags). */
  def constraints(spark: SparkSession, dir: String): Map[String, String] =
    listSidecars(hfs(spark, dir), constraintsDir(dir)).toMap

  /** The enforcement hook: fold each live constraint into the write
    * plan as a per-row guard — `assert_true` throws (failing the write
    * job before any manifest commit) on the first row whose predicate
    * is FALSE; TRUE and NULL pass. Columns the batch lacks are padded
    * as nulls for evaluation only, then dropped — the written schema
    * is untouched. Zero extra jobs: the guard rides the same pass that
    * writes the parquet. */
  private def withConstraintChecks(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val cs = constraints(spark, dir)
    if (cs.isEmpty) return df
    val cols = df.columns.toSet
    // "present" must use the SESSION's resolution rule (case-
    // insensitive by default): a constraint written as `QTY > 0`
    // against a `qty` column resolves fine in the filter — treating
    // it as missing would withColumn-REPLACE the real column with
    // nulls and then drop it, silently corrupting every write
    val resolver = spark.sessionState.analyzer.resolver
    cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      val refs = spark.sessionState.sqlParser.parseExpression(e)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
        }
      val missing = refs.distinct
        .filterNot(ref => cols.exists(c => resolver(c, ref)))
        .groupBy(_.toLowerCase).map(_._2.head).toSeq.sorted
      val padded = missing.foldLeft(d)((dd, c) =>
        dd.withColumn(c, lit(null)))
      val checked = padded.filter(coalesce(
        assert_true(coalesce(expr(e), lit(true)),
          lit(s"constraint '$n' violated: CHECK ($e)")),
        lit(true)))
      if (missing.isEmpty) checked else checked.drop(missing: _*)
    }
  }

  // ---- TABLE PROPERTIES ---------------------------------------------

  private def propsDir(dir: String) = new Path(dir, "_props")
  private def propPath(dir: String, name: String) =
    new Path(propsDir(dir), enc(name))

  /** Set a persistent TABLE PROPERTY (one sidecar file per key,
    * last-writer-wins — properties are operational knobs like
    * `write.mode`, not versioned state; a property read mid-overwrite
    * on a weak scheme reads as absent via the `#end` marker, never
    * torn). Known properties: `write.mode` ∈ cow (default) | mor —
    * the regimen SQL DML writes under (see [[v2.GraftCatalog]]). */
  def setProperty(spark: SparkSession, dir: String, name: String,
      value: String): Unit = {
    require(name.nonEmpty, "property name must be non-empty")
    val fs = hfs(spark, dir)
    fs.mkdirs(propsDir(dir))
    val out = fs.create(propPath(dir, name), true)
    try out.write(sidecarPayload(value).getBytes("UTF-8"))
    finally out.close()
  }

  /** Remove a table property; returns whether anything was removed. */
  def removeProperty(spark: SparkSession, dir: String,
      name: String): Boolean =
    hfs(spark, dir).delete(propPath(dir, name), false)

  /** Every live table property (torn sidecars read as absent). */
  def properties(spark: SparkSession, dir: String): Map[String, String] =
    listSidecars(hfs(spark, dir), propsDir(dir)).toMap

  /** One table property, or None. */
  def property(spark: SparkSession, dir: String,
      name: String): Option[String] =
    readSidecar(hfs(spark, dir), propPath(dir, name))

  // ---- ADDITIVE SCHEMA EVOLUTION (the ALTER TABLE ADD COLUMNS face) --

  /** ADD COLUMNS as ONE metadata-only commit: the manifest's
    * per-version schema widens, NO data file is touched or rewritten —
    * existing rows read the new columns as null (parquet by-name
    * resolution), exactly what a widening upsert's implicit evolution
    * already does ([[upsert]]/[[upsertMor]] evolve additively when a
    * batch carries new columns; this is the DECLARATIVE form, so a SQL
    * writer can evolve the table BEFORE any wider batch exists — Spark
    * analyzes INSERT against the table schema, so without it a
    * SQL-only user could never add a column). Rules: new columns must
    * be NULLABLE (existing rows have no value to give a non-null
    * column) and must not collide with any live column under the
    * session's resolution rule; the commit is CDF-captured as an empty
    * change set (no row changed). Touched buckets: none — incremental
    * consumers skip it entirely. At 100 TB the cost is one manifest
    * write, independent of table size. */
  def addColumns(spark: SparkSession, dir: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    require(newCols.nonEmpty, "addColumns: no columns given")
    newCols.foreach(f => require(f.nullable,
      s"addColumns: new column '${f.name}' must be nullable — " +
        "existing rows have no value for it"))
    val (_, metaSchema) = readMeta(spark, dir)
    val resolver = spark.sessionState.analyzer.resolver
    // strict: a racer's commit re-checks collisions against its schema
    commitLoop(spark, dir, "addColumns", 10, rebaseFor = None) { cur =>
      val schema = cur.schema.getOrElse(metaSchema)
      newCols.foreach { f =>
        require(!schema.fieldNames.exists(resolver(_, f.name)),
          s"addColumns: column '${f.name}' already exists " +
            s"(${schema.fieldNames.mkString(", ")})")
      }
      require(newCols.map(_.name.toLowerCase).distinct.size ==
          newCols.size,
        s"addColumns: duplicate column names in " +
          newCols.map(_.name).mkString(", "))
      requireNotDropped(spark, dir, newCols.map(_.name))
      val evolved = org.apache.spark.sql.types.StructType(
        schema.fields ++ newCols)
      // metadata-only, CDF-captured as EMPTY (no row changed): spans
      // crossing it stay on the O(changed rows) change-file path
      Some((_, _) => renderManifest(Set.empty, cur.files, evolved,
        cur.stats, Some(Seq.empty),
        Map(BaseKey -> cur.version.toString,
          "graft.alter.addColumns" -> newCols.map(_.name).mkString(",")),
        cur.counts, cur.extraStats, cur.deletes, cur.seqs))
    }
  }

  /** Column names ever DROPPED from this table — the tombstone set
    * [[dropColumn]] records (one `dropped.<name>` table property per
    * name, never a read-modify-write) and every evolution path
    * consults: data files written before a drop still physically
    * carry the column, so re-adding the NAME would silently resurrect
    * those stale values into pre-drop rows (parquet by-name
    * resolution). Iceberg avoids this with field ids and Delta with
    * physical-name mapping; this store's data files are addressed by
    * name, so the honest contract is a refusal — pick a new name, or
    * rebuild the table. */
  def droppedColumns(spark: SparkSession, dir: String): Set[String] =
    properties(spark, dir).keysIterator
      .filter(_.startsWith("dropped."))
      .map(_.stripPrefix("dropped.")).toSet

  /** Refuse an evolution that would re-introduce a dropped column
    * name (see [[droppedColumns]]). Called with only the GENUINELY
    * NEW fields of the evolution — no property read on the common
    * no-new-columns path. */
  private def requireNotDropped(spark: SparkSession, dir: String,
      added: Seq[String]): Unit =
    if (added.nonEmpty) {
      val resolver = spark.sessionState.analyzer.resolver
      val dropped = droppedColumns(spark, dir)
      added.foreach { n =>
        require(!dropped.exists(resolver(_, n)),
          s"column '$n' was previously dropped from $dir — re-adding " +
            "the name would resurrect stale values from data files " +
            "written before the drop (parquet by-name resolution); " +
            "pick a new name, or rebuild the table")
      }
    }

  /** DROP COLUMN as ONE metadata-only commit (the ALTER TABLE DROP
    * COLUMN face): the manifest's per-version schema narrows, NO data
    * file is touched — old files keep the bytes (readers simply never
    * project the column; a compliance purge that must erase the bytes
    * rewrites via [[cluster]]/[[compact]] after the drop and then
    * [[vacuum]]s). Time travel keeps each version's own schema, so
    * pre-drop versions still read the column. Refused for: the key
    * column (it IS the layout), a column any live CHECK constraint
    * references (the constraint would pad it as null forever — drop
    * the constraint first), and the last remaining column. The name
    * is tombstoned BEFORE the commit ([[droppedColumns]]) — a crash
    * between the two leaves a spurious tombstone (a refused future
    * re-add, safe) rather than a resurrectable name (silent data
    * corruption). Carried named stats for the column are stripped so
    * the manifest never references a column its schema lacks. At
    * 100 TB the cost is one manifest write, independent of table
    * size. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    val (_, metaSchema) = readMeta(spark, dir)
    val resolver = spark.sessionState.analyzer.resolver
    KeyedTable.readMetaKey(spark, dir).foreach { k =>
      require(!resolver(k, name),
        s"cannot drop '$name': it is the table's key column — the " +
          "key is the layout (bucketing, zone maps, MoR deletes)")
    }
    constraints(spark, dir).toSeq.sortBy(_._1).foreach { case (cn, check) =>
      val refs = spark.sessionState.sqlParser.parseExpression(check)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
        }
      require(!refs.exists(resolver(_, name)),
        s"cannot drop '$name': constraint '$cn' CHECK ($check) " +
          "references it — drop the constraint first")
    }
    // strict: a racer's commit re-resolves the column on its schema
    commitLoop(spark, dir, "dropColumn", 10, rebaseFor = None) { cur =>
      val schema = cur.schema.getOrElse(metaSchema)
      val field = schema.fields.find(f => resolver(f.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"dropColumn: no column '$name' in " +
            schema.fieldNames.mkString(", ")))
      val remaining = schema.fields.filterNot(_.name == field.name)
      require(remaining.nonEmpty, "cannot drop the last column")
      // tombstone FIRST (see scaladoc), idempotent across retries
      setProperty(spark, dir, s"dropped.${field.name}", "1")
      // strip the column's carried named stats — never reference a
      // column the committed schema lacks
      val prunedExtra = cur.extraStats
        .map { case (f, m) => f -> (m - field.name) }
        .filter(_._2.nonEmpty)
      Some((_, _) => renderManifest(Set.empty, cur.files,
        org.apache.spark.sql.types.StructType(remaining),
        cur.stats, Some(Seq.empty),
        Map(BaseKey -> cur.version.toString,
          "graft.alter.dropColumn" -> field.name),
        cur.counts, prunedExtra, cur.deletes, cur.seqs))
    }
  }

  // ---- IDEMPOTENT FILE INGEST (the COPY INTO shape) -----------------

  private def ingestDir(dir: String) = new Path(dir, "_ingest")

  /** A source file's ingest identity: relative path + length. Source
    * files are treated as IMMUTABLE (the lake convention COPY INTO
    * assumes) — a path re-appearing with a different length reads as a
    * NEW file and re-ingests (its rows are keyed puts, so the table
    * converges regardless). */
  private def ingestIdentity(rel: String, len: Long): String =
    s"$rel|$len"

  /** Marker FILENAME for an ingest identity: a fixed-length SHA-256
    * digest, NOT the encoded identity itself — deep source paths
    * URL-encode past the filesystem's ~255-byte filename limit, and a
    * marker that can never be created would silently re-ingest its
    * file on every scheduled run forever (state stays convergent via
    * keyed puts, but each run pays O(file) data work and churns a
    * commit, defeating the no-op contract). The identity lives in the
    * marker's CONTENT. */
  private def ingestMarkerName(id: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(id.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Source-file identities already loaded into the table: one
    * listStatus plus one tiny read per marker (identities are stored
    * as marker CONTENT under digest filenames; legacy markers that
    * encoded the identity in the filename — content "1" — still
    * resolve). Torn markers (no `#end`) are skipped: the worst case is
    * one redundant, idempotent re-ingest. */
  def ingestedFiles(spark: SparkSession, dir: String): Set[String] =
    listSidecars(hfs(spark, dir), ingestDir(dir)).map {
      case (legacyName, "1") => legacyName // legacy marker
      case (_, id) => id
    }.toSet

  /** Idempotent bulk file ingest — the `COPY INTO` shape: load every
    * DATA FILE under `sourceDir` the table has not already ingested,
    * as ONE keyed upsert commit, and remember the loaded files so a
    * RE-RUN is a no-op. The operational contract that makes
    * scheduled backfills safe to fire blindly: "load whatever landed
    * in the bucket since last time" without an external watermark.
    *
    * Mechanics: candidate files (non-hidden regular files, recursive)
    * are identified by relative-path + length; the already-ingested
    * set lives as one marker file per source file under `_ingest/`
    * (markers survive [[vacuum]] — the registry's lifetime is the
    * table's, not the retention window's). Fresh files are read
    * together in one `spark.read` (source-format parallelism), upsert
    * in one commit stamped `graft.ingest.files` with the batch's
    * identities, and the markers land AFTER the commit — a crash
    * between the two re-ingests that batch on the next run, which the
    * keyed put contract makes idempotent in effect (at-least-once
    * markers, exactly-once table state). Two concurrent ingests of
    * the same directory may both load a file for the same reason —
    * convergent, never lost.
    *
    * At 100 TB: the marker registry is O(source files) metadata (the
    * same ledger Delta's COPY INTO keeps in its txn log), the data
    * path is one distributed read + one optimistic commit, and
    * nothing is ever listed twice except names.
    *
    * Returns the number of files ingested by THIS call (0 = caught
    * up, no commit). */
  def ingestFiles(spark: SparkSession, dir: String, sourceDir: String,
      keyCol: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Int = {
    val fs = hfs(spark, dir)
    val srcRoot = new Path(sourceDir)
    val srcFs = srcRoot.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(srcFs.exists(srcRoot),
      s"ingestFiles: source directory $sourceDir does not exist")
    val rootUri = srcFs.makeQualified(srcRoot).toString
    def walk(p: Path): Seq[(String, Long)] =
      srcFs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else {
            val q = srcFs.makeQualified(s.getPath).toString
            Seq((q.stripPrefix(rootUri).stripPrefix("/"), s.getLen))
          }
        }
    val candidates = walk(srcRoot)
    val seen = ingestedFiles(spark, dir)
    val fresh = candidates.filterNot { case (rel, len) =>
      seen(ingestIdentity(rel, len)) }
    if (fresh.isEmpty) return 0
    val paths = fresh.map { case (rel, _) => s"$rootUri/$rel" }
    val rows = spark.read.format(format).options(options)
      .load(paths: _*)
    require(rows.columns.contains(keyCol),
      s"ingestFiles: source files lack the key column '$keyCol' " +
        s"(found ${rows.columns.mkString(", ")})")
    val ids = fresh.map { case (rel, len) => ingestIdentity(rel, len) }
    upsert(spark, dir, rows, keyCol,
      commitMeta = Map("graft.ingest.files" -> ids.mkString("\n"),
        "graft.ingest.source" -> sourceDir))
    // markers AFTER the commit: a crash window re-ingests (idempotent
    // puts), never skips. Claim failures are SURFACED (a marker that
    // repeatedly cannot land means that file re-ingests every run —
    // convergent but not a no-op) and never fail the call: the data
    // commit already succeeded.
    ids.foreach { id =>
      val p = new Path(ingestDir(dir), ingestMarkerName(id))
      if (!claimSidecar(fs, ingestDir(dir), p, id) && !fs.exists(p))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ingestFiles at $dir: could not record ingest marker for " +
            s"'$id' — this source file will re-ingest (idempotently) " +
            "on every run until the marker lands")
    }
    fresh.size
  }

  /** Remove versions older than the latest `keepVersions` and every
    * data file none of the retained versions references. Two safety
    * rails: (a) an in-flight WRITER's files exist unreferenced between
    * its data write and its manifest CAS, so commit dirs modified
    * within `graceMs` are never touched — size it above the longest
    * expected write; (b) a reader or writer pinned to a vacuumed
    * VERSION fails loudly on its next file access — size the retention
    * window to the longest expected reader (the standard
    * optimistic-store caveat). */
  def vacuum(spark: SparkSession, dir: String,
      keepVersions: Int = 2, graceMs: Long = 900000L,
      stagingGraceMs: Long = 3600000L): Unit = {
    val fs = hfs(spark, dir)
    // retention math runs over COMPLETE versions only: counting a torn
    // claim toward keepVersions could retain nothing parseable and
    // reclaim every referenced file. Torn claims past the grace window
    // are dead weak-scheme writers — their files are reclaimed and the
    // claim name removed (a re-commit at an old number would sit below
    // the latest complete version and never be observed anyway).
    val cutoffTorn = System.currentTimeMillis() - graceMs
    val parsed = listVersions(fs, dir).map { v =>
      val p = versionPath(dir, v)
      v -> parseManifest(v, readVersionFile(fs, p))
    }
    parsed.collect { case (v, None) => v }.foreach { v =>
      val p = versionPath(dir, v)
      if (fs.getFileStatus(p).getModificationTime < cutoffTorn)
        fs.delete(p, false)
    }
    val versions = parsed.collect { case (v, Some(_)) => v }
    // file reclamation runs even when no version needs dropping: a
    // previous vacuum may have pruned the log while the grace window
    // deferred its files — re-running finishes the job
    val (drop0, keep0) =
      if (versions.size <= keepVersions) (Seq.empty[Long], versions)
      else versions.splitAt(versions.size - keepVersions)
    // TAGGED versions are pinned: retained (manifest + files) past
    // the retention count until deleteTag releases them
    val taggedVs = tags(spark, dir).values.toSet
    val drop = drop0.filterNot(taggedVs)
    val keep = keep0 ++ drop0.filter(taggedVs)
    // referenced set comes straight off the snapshots already parsed
    // above — no second read+parse of the same control files
    val keepSet = keep.toSet
    val referenced = parsed
      .collect { case (v, Some(s)) if keepSet(v) => s }
      .flatMap(s => s.files.values.flatten ++
        s.deletes.values.flatten ++
        s.changes.getOrElse(Seq.empty)).toSet
    require(keep.nonEmpty || versions.isEmpty,
      s"vacuum at $dir would retain no complete version")
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = new Path(dir, "data")
    if (fs.exists(dataDir)) {
      // pass 1: compute deletion candidates against the initial
      // listing (no deletes yet); per commit dir, note whether ANY of
      // its data files stays referenced — when none does, the dir's
      // bloom sidecar has nothing left to describe and is reclaimed
      // with the last file
      val candidates = Seq.newBuilder[(Path, String)]
      val sidecarIfOrphaned = Seq.newBuilder[Path]
      fs.listStatus(dataDir).foreach { commit =>
        val rel0 = s"data/${commit.getPath.getName}"
        // a commit dir younger than the grace window may belong to an
        // in-flight writer whose manifest CAS has not happened yet
        if (commit.getModificationTime < cutoff) {
          var anyReferenced = false
          var sidecar = Option.empty[Path]
          fs.listStatus(commit.getPath).foreach { bd =>
            if (bd.isDirectory) fs.listStatus(bd.getPath).foreach { f =>
              val rel = s"$rel0/${bd.getPath.getName}/${f.getPath.getName}"
              if (f.getPath.getName.endsWith(".parquet")) {
                if (!referenced.contains(rel)) candidates += (f.getPath -> rel)
                else anyReferenced = true
              }
            } else if (bd.getPath.getName == BloomSidecar) {
              sidecar = Some(bd.getPath)
            } else {
              // change-capture commit dirs (ch-*) hold parquet directly
              val rel = s"$rel0/${bd.getPath.getName}"
              if (bd.getPath.getName.endsWith(".parquet")) {
                if (!referenced.contains(rel)) candidates += (bd.getPath -> rel)
                else anyReferenced = true
              }
            }
          }
          if (!anyReferenced) sidecar.foreach(sidecarIfOrphaned += _)
        }
      }
      // pass 2: re-list the log and retain anything a manifest
      // committed SINCE the initial listing references — a writer
      // whose write-to-CAS gap outran graceMs is caught here, so the
      // reclamation race shrinks from the grace window to the gap
      // between this listing and the deletes below
      val seen = parsed.map(_._1).toSet
      // a TAG may also have landed since the initial read — re-read
      // and retain any late-tagged dropped version's files (its
      // manifest is spared below for the same reason), closing the
      // tag-vs-vacuum race to the gap between this re-read and the
      // deletes
      val lateTaggedVs = tags(spark, dir).values.toSet
        .intersect(drop.toSet)
      val lateTagReferenced = parsed
        .collect { case (v, Some(s)) if lateTaggedVs(v) => s }
        .flatMap(s => s.files.values.flatten ++
          s.deletes.values.flatten ++
          s.changes.getOrElse(Seq.empty)).toSet
      val lateReferenced = listVersions(fs, dir)
        .filterNot(seen)
        .flatMap { v =>
          val p = versionPath(dir, v)
          if (!fs.exists(p)) Seq.empty
          else parseManifest(v, readVersionFile(fs, p))
            .map(s => (s.files.values.flatten ++
              s.deletes.values.flatten ++
              s.changes.getOrElse(Seq.empty)).toSeq)
            .getOrElse(Seq.empty)
        }.toSet ++ lateTagReferenced
      candidates.result().foreach { case (p, rel) =>
        if (!lateReferenced.contains(rel)) fs.delete(p, false)
      }
      // reclaim bloom sidecars of commit dirs that retain no data file
      // (pass-1 found none referenced; a late manifest referencing
      // anything under the dir vetoes, same rule as the files)
      sidecarIfOrphaned.result().foreach { p =>
        val dirRel = s"data/${p.getParent.getName}/"
        if (!lateReferenced.exists(_.startsWith(dirRel)))
          fs.delete(p, false)
      }
    }
    // final tag re-read right before the manifest deletes — a tag
    // that landed mid-vacuum keeps its version's manifest
    val finalTagged = tags(spark, dir).values.toSet
    drop.filterNot(finalTagged)
      .foreach(v => fs.delete(versionPath(dir, v), false))
    // a crashed streaming-sink job can strand staged files (its abort
    // never ran). Staged files are CREATED at epoch start and live
    // until the epoch's driver commit, so the staging grace must
    // exceed the LONGEST micro-batch, not the longest write — it gets
    // its own, longer window (never below graceMs): a vacuum racing a
    // slow-but-live epoch must not delete its staged inputs mid-epoch
    val stagingDir = new Path(dir, "_staging")
    val stagingCutoff =
      System.currentTimeMillis() - math.max(graceMs, stagingGraceMs)
    if (fs.exists(stagingDir)) {
      fs.listStatus(stagingDir).foreach { f =>
        if (f.getModificationTime < stagingCutoff)
          fs.delete(f.getPath, false)
      }
    }
  }
}

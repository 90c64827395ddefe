package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** Structured Streaming over the events table — the capability upgrade the
  * reference lacks entirely (SURVEY.md §2.10: strictly batch; its nearest
  * notions are slice checkpointing and time-range-sharded log input).
  *
  * The batch parquet drives a real streaming query: file source →
  * event-time tumbling-window aggregation → memory sink, with an
  * AvailableNow trigger so a bounded run processes everything and stops.
  * The same code runs unbounded on a live directory/Kafka source; at
  * scale, add `withWatermark` to bound state.
  */
object StreamingJobs {

  /** Overlap INDEPENDENT per-batch fold chains from driver threads
    * (guide §2.6) — see [[graft.Par]]. */
  private def inParallel[T](spark: SparkSession,
      tasks: Seq[() => T]): Seq[T] = graft.Par.run(spark, tasks)

  /** Each stateful operator allocates one state store per
    * `spark.sql.shuffle.partitions` at query start (the count is pinned
    * into the checkpoint), and store setup/commit dominates a bounded
    * replay whose state is tiny. Run the bounded checks with a few
    * stores; an unbounded production job sizes this to its key
    * cardinality and cluster instead. */
  private def withStreamShufflePartitions[T](spark: SparkSession, n: Int)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Run `body` without the no-data micro-batches Spark schedules to
    * advance the watermark after the data is consumed. Safe ONLY for
    * sinks whose results are emitted during data batches (complete-mode
    * aggregation, stream-stream INNER join matches, dropDuplicates) —
    * append-mode windowed aggregation NEEDS those batches to finalize
    * windows, so `windowedEventCountsWatermarked` must not use this. */
  private def withoutNoDataBatches[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  /** Read events as a stream, normalizing the `ts` column the same way
    * Tables.events does (nanos-as-long → µs floor, or TIMESTAMP_NTZ →
    * TimestampType — the generator's annotation has varied). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Tumbling 1-hour event-time windows: count + exact cents sum per
    * (window, event_type). Runs the stream to completion (AvailableNow)
    * and returns the final result table. */
  def windowedEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    val qname = "graft_stream_events"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"), col("total_cents"))
  }

  /** Sliding (overlapping) event-time windows: 1-hour windows advancing
    * every 30 minutes, so each event lands in exactly two windows.
    * Window starts align to epoch multiples of the slide — the property
    * the oracle replays with integer arithmetic. */
  def slidingEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val qname = "graft_stream_sliding"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"))
  }

  /** Watermarked variant for unbounded use: bounds window state to
    * `delay` of event-time lateness (append mode — only finalized
    * windows emit, which is what a downstream sink wants; the
    * complete-mode variant above is the bounded-replay form the oracle
    * checks). */
  def windowedEventCountsWatermarked(spark: SparkSession, sfDir: String,
      delay: String = "2 hours"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    val qname = "graft_stream_events_wm"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"), col("total_cents"))
  }

  /** Streaming exactly-once ingestion dedup: `dropDuplicates` on the
    * event key holds seen-key state across micro-batches (with a
    * watermark the state is bounded by event-time). The batch-equivalent
    * result is `SELECT DISTINCT ON (event_id)`-style — oracle-checked via
    * per-type counts in `stream_dedup`. */
  def dedupedEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val doubled = eventsStream(spark, sfDir) // replay the same file twice
      .union(eventsStream(spark, sfDir))
    val deduped = doubled
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val qname = "graft_stream_dedup"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 4) {
      withoutNoDataBatches(spark) {
        val q = deduped.writeStream
          .outputMode("complete").format("memory").queryName(qname)
          .trigger(Trigger.AvailableNow()).start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
    }
    spark.table(qname)
  }

  /** Stream-stream inner join with an event-time range condition:
    * purchases matched to the same user's signup within the following
    * hour. Both sides carry watermarks and the join condition bounds
    * their event-time distance, so each side's join state is evictable
    * (watermark + range ⇒ Spark drops buffered rows that can no longer
    * match) — the requirement for running this unbounded. */
  def signupPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val signups = eventsStream(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_event"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "2 hours")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = signups.join(purchases,
      col("s_user") === col("p_user")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("s_user").as("user_id"), col("signup_event"),
        col("purchase_event"))
    val qname = "graft_stream_join"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 4) {
      // inner-join matches emit during the data batch; the no-data
      // batches would only run watermark state eviction
      withoutNoDataBatches(spark) {
        val q = joined.writeStream
          .outputMode("append").format("memory").queryName(qname)
          .trigger(Trigger.AvailableNow()).start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
    }
    spark.table(qname)
  }

  /** Stream-stream LEFT OUTER join under watermarks: like
    * [[signupPurchaseJoin]], but signups with NO purchase in the
    * following hour ALSO emit (null-extended) — once the watermark
    * passes their join window and the engine can PROVE no match can
    * arrive. Inner matches emit during data batches; outer rows emit
    * at state eviction, which needs the no-data micro-batches (the
    * final watermark = min of both sides' max event time − delay).
    * The unbounded-production contract for "did NOT convert" analytics
    * — a batch left join can only say that after the fact; this says
    * it continuously with bounded state. */
  def signupPurchaseLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val signups = eventsStream(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_event"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "2 hours")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = signups.join(purchases,
      col("s_user") === col("p_user")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("s_user").as("user_id"), col("signup_event"),
        col("purchase_event"), unix_micros(col("s_ts")).as("s_us"))
    val qname = "graft_stream_join_outer"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 4) {
      val q = joined.writeStream
        .outputMode("append").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
  }

  /** Stream-static join: streamed events enrich against a STATIC
    * dimension (customer → nation), then aggregate per nation. The
    * static side is broadcast — each micro-batch joins map-side with
    * NO stream state at all (unlike stream-stream joins there is
    * nothing to watermark: the dimension is re-resolvable every
    * batch). This is the unbounded-ingest enrichment shape: at 100 TB
    * the dimension stays a broadcast (or a storage-partition-pruned
    * shuffle join for a huge dimension) while the stream scales with
    * executor count. Complete-mode memory sink over the bounded
    * replay; the final table equals the batch join+aggregate. */
  def staticEnrichedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val dim = broadcast(
      cust.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    val agg = eventsStream(spark, sfDir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    val qname = "graft_stream_static"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 4) {
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
  }

  /** Streaming upsert: each micro-batch folds into a keyed table via
    * KeyedTable.upsert inside foreachBatch — the streaming face of the
    * DatastoreOutput mutation-pool semantics (put-by-key, batched).
    * Per batch: aggregate the batch's rows per key, then merge-into
    * the bucketed parquet table (last write wins per key). foreachBatch
    * retries re-run the whole batch, and upsert is idempotent per
    * batch content, so a retried batch cannot double-apply — the same
    * exactly-once contract as eventsToParquetExactlyOnce. Returns the
    * table's final content. */
  def streamUpsertKeyed(spark: SparkSession, sfDir: String,
      tableDir: String): DataFrame = {
    val qname = "graft_stream_upsert"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    val q = eventsStream(spark, sfDir)
      .writeStream.queryName(qname)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val up = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        graft.sinks.KeyedTable.upsert(batch.sparkSession, tableDir, up,
          keyCol = "user_id")
      }
      .trigger(Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally { q.stop() }
    graft.sinks.KeyedTable.read(spark, tableDir)
  }

  /** Streaming-native session windows: the session_window operator
    * under a watermark in APPEND mode — sessions emit only once the
    * watermark passes their end (last event + gap), which is the
    * unbounded-production contract (bounded state, finalized-only
    * output). Needs the no-data micro-batches: after the data batch
    * they advance the watermark and flush finalized sessions. With a
    * zero-delay watermark the final watermark is the global max event
    * time, so exactly the sessions with end <= max(ts) emit — the
    * cutoff the oracle replays. */
  def sessionWindowStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val qname = "graft_stream_session_window"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 4) {
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
  }

  /** Idempotent micro-batch writer for `foreachBatch`: every batch
    * lands in its own batch_id partition under dynamic
    * partitionOverwrite, so a RETRIED batch (same batchId after a sink
    * failure) overwrites its own partition instead of appending
    * duplicates — the exactly-once recipe for file sinks without a
    * transactional commit protocol (the reference's
    * GoogleCloudStorageConsistentOutputWriter solves the same problem
    * with per-slice tmp files, output_writers.py:851-1053). */
  def idempotentBatchWriter(spark: SparkSession, outDir: String)
      : (DataFrame, Long) => Unit = { (df, batchId) =>
    // dynamic overwrite as a PER-WRITE OPTION, not a session conf:
    // inside foreachBatch the write executes under the STREAMING
    // CLONE session's conf, so a conf set on the caller's session may
    // not be the one the write reads (and setting the clone's without
    // restore leaks it into every later write on that thread) — the
    // option rides the write itself, session- and thread-agnostic
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** Stream events to parquet through the idempotent foreachBatch
    * sink; returns the written table. */
  def eventsToParquetExactlyOnce(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame = {
    val writer = idempotentBatchWriter(spark, outDir)
    val qname = "graft_stream_foreachbatch"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    val q = eventsStream(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.queryName(qname)
      .foreachBatch(writer)
      .trigger(Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.read.parquet(outDir)
  }

  case class SessionEvent(user_id: Long, event_id: Long, ms: Long, cents: Long)
  case class SessionOut(user_id: Long, session_no: Long,
      session_start_ms: Long, n_events: Long, total_cents: Long)
  case class UserSessions(nextSessionNo: Long, lastMs: Long)

  /** Stateful sessionization with `flatMapGroupsWithState` — the custom
    * per-key state machine shape (SURVEY.md §2.10). 30-minute inactivity
    * gap; state carries the open session across micro-batches. Events
    * within a batch arrive unordered, so each batch sorts its group
    * slice — correct when batches respect event-time order per key (as
    * with AvailableNow over one file; unbounded use would add a
    * watermark + event-time timeout). */
  def sessionizeStateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[SessionEvent]

    def fn(userId: Long, batch: Iterator[SessionEvent],
        state: GroupState[UserSessions]): Iterator[SessionOut] = {
      val evs = batch.toVector.sortBy(e => (e.ms, e.event_id))
      if (evs.isEmpty) Iterator.empty
      else {
        var st = state.getOption.getOrElse(UserSessions(0L, Long.MinValue))
        val out = Vector.newBuilder[SessionOut]
        var cur: SessionOut = null
        evs.foreach { e =>
          if (st.lastMs == Long.MinValue || e.ms - st.lastMs > 1800000L) {
            if (cur != null) out += cur
            st = UserSessions(st.nextSessionNo + 1, e.ms)
            cur = SessionOut(userId, st.nextSessionNo, e.ms, 1L, e.cents)
          } else {
            cur = cur.copy(n_events = cur.n_events + 1L,
              total_cents = cur.total_cents + e.cents)
          }
          st = st.copy(lastMs = e.ms)
        }
        if (cur != null) out += cur
        state.update(st)
        out.result().iterator
      }
    }

    val qname = "graft_stream_sessions"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(fn)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
  }

  case class AsOfIn(user_id: Long, event_id: Long, is_left: Boolean,
      ms: Long, cents: Long, ts: java.sql.Timestamp)
  case class AsOfLeft(ms: Long, event_id: Long)
  case class AsOfRight(ms: Long, cents: Long)
  case class AsOfBuf(lefts: Seq[AsOfLeft], rights: Seq[AsOfRight])
  case class AsOfOut(user_id: Long, event_id: Long, ms: Long,
      asof_cents: Option[Long], asof_ms: Option[Long])

  /** STREAM-STREAM AS-OF JOIN — the temporal enrichment operator Spark
    * has no built-in for (Flink calls it a temporal join; the batch
    * form is `functions.AsOf`): every left event is matched to the
    * latest right event at or before its time for the same key, with
    * BOTH sides arriving as streams. Stream-stream equi/range joins
    * cannot express "latest prior" (it is an argmax, not a range), so
    * this is the (d)-tier custom state machine:
    *
    *  - both sides ride ONE keyed `flatMapGroupsWithState` under an
    *    event-time watermark; arriving rows buffer per key;
    *  - a left finalizes only once the watermark passes its event time
    *    — every right at or before it has then provably arrived — so
    *    emissions are ARRIVAL-ORDER-INVARIANT within the watermark
    *    delay (nothing here assumes in-batch or cross-batch ordering);
    *  - finalization is watermark-DRIVEN, not data-driven: a key with
    *    pending lefts arms an event-time timer
    *    (`GroupStateTimeout.EventTimeTimeout`), so a quiet key still
    *    emits when the watermark passes it (the no-data micro-batch
    *    fires the timer);
    *  - state is bounded: finalized lefts leave; of the rights at or
    *    before the watermark only the LATEST survives (any older right
    *    is dominated for every future left) — per key that is the
    *    in-flight window plus ONE carry row, the temporal-table
    *    footprint, O(live keys) at 100 TB like every keyed state op.
    *
    * Left = view events, right = purchase events (value in cents);
    * equal-time rights tie-break by max cents, matching the oracle's
    * pre-reduced right side. Emits exactly the lefts the FINAL
    * watermark passed (max event time minus `delay`) — the
    * append-mode production contract the oracle replays with a
    * DuckDB ASOF LEFT JOIN under the same cutoff. */
  def streamingAsOfJoin(spark: SparkSession, sfDir: String,
      stagingDir: String, nFiles: Int = 4,
      delayMs: Long = 3600000L,
      toleranceUs: Option[Long] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // stage the two event types as time-ordered micro-batch files (the
    // one-file testdata cannot produce multiple batches naturally);
    // time order means nothing ever arrives late — the operator itself
    // only relies on the watermark contract, not on ordering
    val ev = graft.core.Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "view").as("is_left"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("ms"))
    stageKeyedSlices(spark, ev, "ms", stagingDir, nFiles)
    val schema = spark.read.parquet(stagingDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stagingDir)
      .withWatermark("ts", s"$delayMs milliseconds")
      // the watermark-tagged event-time column must stay in the
      // stateful operator's input (event-time timeouts require it)
      .select(col("user_id"), col("event_id"), col("is_left"),
        col("ms"), col("cents"), col("ts"))
      .as[AsOfIn]

    def finalizeDue(key: Long, st: AsOfBuf, wmUs: Long)
        : (Vector[AsOfOut], AsOfBuf) = {
      val (due, still) = st.lefts.partition(_.ms < wmUs)
      val sortedR = st.rights.sortBy(r => (r.ms, r.cents))
      val out = due.sortBy(l => (l.ms, l.event_id)).map { l =>
        val m = sortedR.foldLeft(Option.empty[AsOfRight]) { (acc, r) =>
          if (r.ms <= l.ms) Some(r) else acc // sorted: last wins
        // tolerance (pandas merge_asof): the carry-forward already
        // found the nearest prior right — a match staler than the
        // bound simply nulls, exactly like the batch operator's
        // post-window projection
        }.filter(r => toleranceUs.forall(t => l.ms - r.ms <= t))
        AsOfOut(key, l.event_id, l.ms, m.map(_.cents), m.map(_.ms))
      }.toVector
      // rights at/below the watermark: only the latest can ever match
      // a future (not-yet-finalizable) left — evict the dominated rest
      val (future, past) = sortedR.partition(_.ms > wmUs)
      (out, AsOfBuf(still, past.lastOption.toSeq ++ future))
    }

    def fn(key: Long, it: Iterator[AsOfIn],
        state: GroupState[AsOfBuf]): Iterator[AsOfOut] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val st0 = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
      val arrived = it.toVector
      val st1 = AsOfBuf(
        st0.lefts ++ arrived.filter(_.is_left)
          .map(e => AsOfLeft(e.ms, e.event_id)),
        st0.rights ++ arrived.filterNot(_.is_left)
          .map(e => AsOfRight(e.ms, e.cents)))
      val (out, st2) = finalizeDue(key, st1, wmUs)
      if (st2.lefts.isEmpty && st2.rights.isEmpty) state.remove()
      else {
        state.update(st2)
        // wake this key when the watermark passes its oldest pending
        // work: an unfinalized left, OR a future right that will need
        // compacting down to the single carry row once the watermark
        // passes it (without this, a quiet key's right buffer would be
        // retained forever — state must converge to carry-row-only).
        // Must arm strictly above the current watermark.
        val wake = st2.lefts.map(_.ms) ++
          st2.rights.map(_.ms).filter(_ > wmUs)
        if (wake.nonEmpty) {
          val wmMs = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(
            math.max(wake.min / 1000L, wmMs + 1L))
        }
      }
      out.iterator
    }

    val qname = "graft_stream_asof"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(fn)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    // the memory sink holds the full result; the staged event slice
    // is dead weight now — reclaim it (a leaked UUID dir per run
    // otherwise accumulates across bench/test invocations)
    new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(stagingDir), true): Unit
    spark.table(qname)
  }

  /** Streaming ingestion dedup — the continuous-ingest face of
    * `TextDedup.incrementalDedup`, the operating mode of a 100 TB
    * training pipeline: documents arrive as a stream and each
    * micro-batch is deduped against the STATIC indexed corpus (docs
    * with doc_id % 4 ≠ 0 here) without the corpus ever re-scanning —
    * the corpus participates only through its materialized shingle
    * relation (band index derived from it per batch; a production
    * deployment would keep the bands themselves in a KeyedTable and
    * `pq_index_upsert`-style maintain them). Inside `foreachBatch`
    * the batch runs the exact batch operator — LSH collision join,
    * by-id fetch, integer-Jaccard verify, keep-first within the
    * batch — so streaming and batch answers are IDENTICAL by
    * construction, and results land through the idempotent batch_id
    * writer (a retried batch overwrites its own partition; the
    * exactly-once recipe of eventsToParquetExactlyOnce). */
  def streamingIncrementalDedup(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame = {
    import graft.functions.TextDedup
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    val isBatch = col("doc_id") % 4 === 0
    // the static index a pipeline keeps materialized between ingests —
    // a one-time build cost, split out of the per-ingest bench metric
    val corpusSh = graft.BenchProbe.time("index_build") {
      TextDedup.shingles(all.where(!isBatch)).localCheckpoint(true)
    }
    val docs = spark.readStream.schema(all.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val writer = idempotentBatchWriter(spark, outDir)
    val qname = "graft_stream_incr_dedup"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    val q = docs.where(isBatch).writeStream.queryName(qname)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writer(TextDedup.incrementalDedup(
          corpusSh = corpusSh,
          batchSh = TextDedup.shingles(batch),
          batchIds = batch.select(col("doc_id"))), id)
      }
      .trigger(Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.read.parquet(outDir).drop("batch_id")
  }

  /** One-level fold guard for per-RUN ingest state: micro-batches fold
    * monotonically by batch id, and a RE-INVOKED batch (streaming
    * retries only replay the latest) reads the state captured BEFORE
    * its own fold — keeping the idempotent-writer contract without the
    * fold double-counting. foreachBatch runs sequentially, so the
    * mutation is single-threaded by construction. Shared by every
    * streaming wrapper that folds prior-ingest state
    * (streamingSubstrDedup, streamingCuration). */
  private final class IngestFoldGuard[S](empty: S) {
    private var cur = empty
    private var beforeLast = empty
    private var lastFolded = -1L
    def stateFor(id: Long): S = if (id == lastFolded) beforeLast else cur
    def fold(id: Long)(f: S => S): Unit =
      if (id > lastFolded) { beforeLast = cur; cur = f(cur); lastFolded = id }
  }

  /** Streaming ingestion dedup for the SUBSTRING tier: incoming docs
    * (doc_id % 4 = 0) run the exact batch operator
    * (`SubstringDedup.incrementalDedup`) per micro-batch inside
    * foreachBatch against the STATIC anchor-gram index (the relation a
    * pipeline keeps materialized between ingests — the substring
    * analogue of the LSH band index `streamingIncrementalDedup`
    * holds). Results land via the idempotent batch_id writer, so a
    * retried micro-batch overwrites its own partition.
    *
    * Batch-split invariance: each processed micro-batch folds its
    * anchor grams into a `priorIngestGrams` relation that later
    * micro-batches label against (`batch_dup`, not `new`), so the
    * answer matches the one-shot batch operator under ANY split of
    * the ingest into micro-batches that arrives in (doc_id, pos)
    * order — the file source here delivers files in order, and the
    * single-file case degenerates to the pure batch path. The fold is
    * guarded by batch id, so a Spark RE-INVOCATION of the same
    * micro-batch (the retry the idempotent writer absorbs) labels
    * against the same prior state instead of seeing its own grams.
    *
    * SCOPE: the fold is in-memory per-RUN state, like the
    * localCheckpointed index relation beside it — right for this
    * one-shot AvailableNow ingest, where a failed run is re-run whole.
    * A deployment resuming a LONG-LIVED query from a durable
    * checkpoint mid-ingest must persist the ingest gram set between
    * restarts the same way the corpus index is persisted — as a
    * KeyedTable-maintained anchor index (`substr_index_upsert`), with
    * each committed micro-batch's grams upserted after its write.
    * The oracle is `substr_incremental_dedup`'s SQL verbatim. */
  def streamingSubstrDedup(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame = {
    import graft.functions.SubstringDedup
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    val isBatch = col("doc_id") % 4 === 0
    // one-time index build (split out of the per-ingest bench metric)
    val idxGrams = graft.BenchProbe.time("index_build") {
      SubstringDedup.anchors(all.where(!isBatch))
        .select(col("g")).distinct().localCheckpoint(true)
    }
    val docs = spark.readStream.schema(all.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val writer = idempotentBatchWriter(spark, outDir)
    val qname = "graft_stream_substr_dedup"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    // grams of already-processed micro-batches of this ingest, guarded
    // by batch id (IngestFoldGuard: a re-invoked batch labels against
    // the state before its own fold — idempotent output)
    val guard = new IngestFoldGuard[Option[DataFrame]](None)
    val q = docs.where(isBatch).writeStream.queryName(qname)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val batchAnchors = SubstringDedup.anchors(batch)
          .localCheckpoint(true)
        writer(SubstringDedup.incrementalDedup(
          indexGrams = idxGrams,
          batchAnchors = batchAnchors,
          priorIngestGrams = guard.stateFor(id)), id)
        guard.fold(id) { prior =>
          val bg = batchAnchors.select(col("g")).distinct()
          Some(prior
            .map(_.unionByName(bg).distinct().localCheckpoint(true))
            .getOrElse(bg.localCheckpoint(true)))
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.read.parquet(outDir).drop("batch_id")
  }

  /** STREAMING serving-mode curation — the continuous-ingest face of
    * `incremental_curation` and the capstone of the streaming family:
    * the frozen [[graft.functions.TextCuration.ServingIndex]] (content
    * hashes, shingles, anchor grams, benchmark 5-grams, classifier
    * weights) is built ONCE from the indexed corpus; each micro-batch
    * of incoming documents (doc_id % 4 = 0) gets the full
    * priority-ordered keep/drop/redact decision via
    * `TextCuration.servingDecisions` inside foreachBatch, landing
    * through the idempotent batch_id writer.
    *
    * Batch-split invariance (ALL stateful tiers, not just substring):
    * each processed micro-batch folds its content hashes, shingles,
    * and anchor grams into an `IngestPrior` that later micro-batches
    * label against — exact dups of earlier batches label batch_exact,
    * near-dups ride the corpus side of the LSH operator (the merged
    * near_dup signal is split-invariant), substring grams ride
    * priorIngestGrams. The fold is guarded by batch id with one level
    * of pre-fold history, so a re-invoked micro-batch (the retry the
    * writer absorbs) labels against the state before its own fold.
    * Like `streamingSubstrDedup`, the fold is per-RUN state — a
    * durable-restart deployment persists the ingest relations in
    * ServingState's batch log (`streamingCurationDurable`). Oracle:
    * `incremental_curation`'s SQL verbatim. */
  def streamingCuration(spark: SparkSession, sfDir: String,
      outDir: String,
      cfg: graft.functions.TextCuration.Config): DataFrame = {
    import graft.functions.{SubstringDedup, TextCuration, TextDedup}
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    val isBatch = col("doc_id") % 4 === 0
    val idx = TextCuration.buildServingIndex(spark, all.where(!isBatch), cfg)
    val docs = spark.readStream.schema(all.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val writer = idempotentBatchWriter(spark, outDir)
    val qname = "graft_stream_curation"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    val guard =
      new IngestFoldGuard[TextCuration.IngestPrior](TextCuration.IngestPrior())
    val q = docs.where(isBatch).writeStream.queryName(qname)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // batch relations computed ONCE and shared between the decision
        // and the fold — the per-char anchor scan must not run twice;
        // the two checkpoints are independent, so they overlap
        val Seq(batchSh, batchAnchors) = inParallel(spark, Seq(
          () => TextDedup.shingles(batch).localCheckpoint(true),
          () => SubstringDedup.anchors(batch).localCheckpoint(true)))
        writer(TextCuration.servingDecisions(spark, batch, idx,
          guard.stateFor(id), cfg,
          batchShinglesOpt = Some(batchSh),
          batchAnchorsOpt = Some(batchAnchors)), id)
        guard.fold(id) { prior =>
          def fold(cur: Option[org.apache.spark.sql.DataFrame],
              add: org.apache.spark.sql.DataFrame) = Some(cur
            .map(_.unionByName(add).distinct().localCheckpoint(true))
            .getOrElse(add.distinct().localCheckpoint(true)))
          // bands fold DERIVED per batch (batch-sized work): folding
          // shingles alone would force later batches to re-derive bands
          // over the cumulative ingest — quadratic across a run.
          // The four components are independent eager checkpoints —
          // overlap them from driver threads (guide §2.6) so the
          // per-batch fold wall is the slowest one, not the sum
          val Seq(h, sh, g, b) = inParallel(spark, Seq(
            () => fold(prior.hashes,
              batch.select(md5(col("text")).as("h"))),
            () => fold(prior.shingles, batchSh),
            () => fold(prior.grams, batchAnchors.select(col("g"))),
            () => fold(prior.bands, TextCuration.servingBands(batchSh))))
          TextCuration.IngestPrior(
            hashes = h, shingles = sh, grams = g, bands = b)
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.read.parquet(outDir).drop("batch_id")
  }

  /** Stage the ingest side of the documents table (doc_id % 4 = 0) as
    * `nFiles` single-file parquets in doc_id order with strictly
    * increasing modification times, so a file-source stream with
    * maxFilesPerTrigger=1 delivers them as `nFiles` ordered
    * micro-batches — the multi-batch ingest shape the one-file
    * testdata cannot produce naturally. Returns the file count. */
  def stageIngestFiles(spark: SparkSession, sfDir: String,
      stagingDir: String, nFiles: Int, batchMod: Long = 4L): Int = {
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
    stageKeyedSlices(spark,
      all.where(col("doc_id") % batchMod === 0), "doc_id",
      stagingDir, nFiles)
  }

  /** Generic form of [[stageIngestFiles]]: stage ANY keyed relation as
    * `nFiles` key-ordered single-file parquets with strictly
    * increasing modification times — the multi-micro-batch ingest
    * shape for file-source streams over single-file testdata. */
  def stageKeyedSlices(spark: SparkSession, batch: DataFrame,
      idCol: String, stagingDir: String, nFiles: Int): Int = {
    val ids = batch.select(col(idCol)).orderBy(col(idCol))
      .collect().map(_.getLong(0))
    require(ids.length >= nFiles,
      s"stageKeyedSlices: only ${ids.length} rows " +
        s"— cannot stage $nFiles non-empty files")
    val cuts = (1 until nFiles).map(i => ids(i * ids.length / nFiles))
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a reused staging dir with leftover files from a prior (possibly
    // wider) run would silently re-ingest stale documents — start clean
    fs.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagingDir))
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    for (i <- 0 until nFiles) {
      val slice = batch.where(col(idCol) >= bounds(i) &&
        col(idCol) < bounds(i + 1))
      val tmp = s"$stagingDir/_stage_$i"
      slice.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .find(_.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"staging slice $i wrote no parquet part")).getPath
      val dst = new org.apache.hadoop.fs.Path(stagingDir, f"ingest_$i%03d.parquet")
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // file-source ordering is by modification time: space them out
      fs.setTimes(dst, (i + 1) * 60000L, -1)
    }
    nFiles
  }

  /** DURABLE streaming serving-mode curation — `streamingCuration`
    * with BOTH state tiers persisted (ServingState), so the ingest
    * survives process restarts:
    *   - the frozen ServingIndex is built ONCE and saved as KeyedTables
    *     under `stateDir/index`; every later invocation LOADS it (no
    *     re-scan, no re-train — the index-load production shape);
    *   - each committed micro-batch appends its content hashes,
    *     shingles, anchor grams, and DERIVED bands to the ingest log
    *     under `stateDir/ingest/log`, in one write to its own
    *     `batch=B` directory; micro-batch B labels against the logged
    *     rows of batches < B, which is retry-correct at every crash
    *     point (see ServingState's scaladoc — no in-memory fold
    *     guard);
    *   - Spark's own streaming checkpoint (`stateDir/checkpoint`)
    *     carries source progress, so a restarted query resumes at the
    *     first uncommitted micro-batch with the SAME batch id and the
    *     idempotent batch_id writer absorbs the re-run.
    * Decisions are therefore batch-split-invariant AND
    * restart-invariant: any crash/restart sequence over the staged
    * files yields the one-shot `incremental_curation` answer.
    *
    * `failAt`: fault-injection seam — the named micro-batch throws
    * AFTER writing its output and folding its state but BEFORE its
    * checkpoint commit (the worst crash point: everything half
    * applied), and the query dies as a real crash would. The caller
    * re-invokes to resume; the induced failure fires only on the
    * first attempt of that id within this invocation. */
  def streamingCurationDurable(spark: SparkSession, sfDir: String,
      outDir: String, stateDir: String, stagingDir: String,
      cfg: graft.functions.TextCuration.Config,
      failAt: Option[Long] = None,
      indexDirOpt: Option[String] = None): DataFrame = {
    import graft.functions.{SubstringDedup, TextCuration, TextDedup}
    // read under the footer's schema: inference would cost a job per
    // resume, and a loaded index needs only `all.schema`
    val all = graft.sources.Inputs.parquet(spark,
      s"$sfDir/documents.parquet")
    // the index may live OUTSIDE the per-run stateDir (indexDirOpt):
    // it is frozen corpus-side state, shared by every ingest of the
    // same corpus — only the ingest fold + checkpoint are per-run
    val idxDir = indexDirOpt.getOrElse(stateDir)
    val idx =
      if (ServingState.indexExists(spark, idxDir))
        ServingState.loadServingIndex(spark, idxDir)
      else {
        val built = TextCuration.buildServingIndex(spark,
          all.where(col("doc_id") % 4 =!= 0), cfg)
        ServingState.saveServingIndex(spark, built, idxDir)
        // serve THIS run off the persisted store too: the run after a
        // restart sees identical relations by construction
        ServingState.loadServingIndex(spark, idxDir)
      }
    val docs = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagingDir)
    val writer = idempotentBatchWriter(spark, outDir)
    val qname = "graft_stream_curation_durable"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    var failed = false
    val q = docs.writeStream.queryName(qname)
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // independent batch checkpoints overlap (guide §2.6)
        val Seq(batchSh, batchAnchors) = inParallel(spark, Seq(
          () => TextDedup.shingles(batch).localCheckpoint(true),
          () => SubstringDedup.anchors(batch).localCheckpoint(true)))
        writer(TextCuration.servingDecisions(spark, batch, idx,
          ServingState.priorFor(spark, stateDir, id), cfg,
          batchShinglesOpt = Some(batchSh),
          batchAnchorsOpt = Some(batchAnchors)), id)
        ServingState.fold(spark, stateDir, id,
          hashes = batch.select(md5(col("text")).as("h")),
          shingles = batchSh,
          grams = batchAnchors.select(col("g")),
          bands = TextCuration.servingBands(batchSh.coalesce(1)))
        if (failAt.contains(id) && !failed) {
          failed = true
          throw new IllegalStateException(
            s"graft-injected crash after batch $id state fold")
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    // an induced crash is the test's intent, not a failure to surface;
    // anything else propagates
    def causedByInjection(t: Throwable): Boolean =
      t != null && (String.valueOf(t.getMessage)
        .contains("graft-injected crash") || causedByInjection(t.getCause))
    try { q.processAllAvailable() }
    catch {
      case e: Throwable if failAt.isDefined && causedByInjection(e) => ()
    }
    finally { q.stop() }
    q.exception.foreach { e =>
      if (!(failAt.isDefined && causedByInjection(e))) throw e
    }
    graft.sources.Inputs.parquet(spark, outDir).drop("batch_id")
  }

  /** Streaming benchmark decontamination: documents arrive as a
    * stream, their 5-grams are checked against the STATIC held-out
    * benchmark gram set (docs ≡ 0 mod 7), and per-source benchmark-hit
    * counts accumulate — the continuous-ingest face of
    * `decontaminate`. The gram explode is stateless, the membership
    * check is a stream-static broadcast SEMI join (the benchmark side
    * is bounded by the eval suite, never the corpus — the same sizing
    * rule as the bloom variant), and the only stateful operator is the
    * final complete-mode aggregate. At 100 TB the semi join's
    * broadcast becomes the ~100 KB bloom-literal prefilter of
    * `decontaminate_bloom` with this exact verify join behind it. */
  def decontaminationHits(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextDedup
    val bench = broadcast(
      TextDedup.ngrams(spark.read.parquet(s"$sfDir/documents.parquet"), n = 5)
        .filter(col("doc_id") % 7 === 0)
        .select(col("s")).distinct())
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val grams = TextDedup.withTokens(docs)
      .filter(size(col("w")) >= 5 && col("doc_id") % 7 =!= 0)
      .select(col("source"), col("w"),
        explode(expr("sequence(0, size(w) - 5)")).as("i"))
      .select(col("source"),
        expr("concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])").as("s"))
    val agg = grams.join(bench, Seq("s"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_hits"))
    val qname = "graft_stream_decontaminate"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
  }

  /** Streaming media ingest with REAL sample-level decode: each
    * micro-batch synthesizes its documents' PCM-16 WAVs and decodes
    * every sample through `Multimodal.decodePcm` (a stateless
    * mapPartitions — codec init per partition, rows stream through),
    * then a complete-mode aggregate folds per-(channels, sample_rate)
    * corpus audio stats. Decode is stateless so the streaming result
    * is the batch result by construction — the oracle replays the
    * batch arithmetic; the aggregation state is bounded by the
    * (channels × rate) key space, not the corpus. This is the
    * continuous-ingest face of `audio_pcm_stats`, as
    * `stream_incremental_dedup` is of `dedup_incremental`. */
  def streamingMediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val stats = docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = Multimodal.synthPcmWav(
            channels = (1 + id % 2).toInt,
            sampleRate = (8000 + (id % 8) * 1000).toInt,
            frames = (120 + id % 37).toInt,
            seed = id)
          val st = Multimodal.decodePcm(bytes).getOrElse(
            throw new IllegalStateException(
              s"stream_media_decode: WAV for doc $id failed to decode"))
          (st.channels, st.sampleRate, st.nSamples, st.sumAbs, st.peak)
        }
      }
      .toDF("channels", "sample_rate", "n_samples", "sum_abs", "peak")
    val agg = stats.groupBy(col("channels"), col("sample_rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("sum_abs")).as("total_sum_abs"),
        max(col("peak")).as("max_peak"))
    val qname = "graft_stream_media"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    withStreamShufflePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    spark.table(qname)
  }

  /** STREAMING CDF INGESTION — the continuous face of incremental view
    * maintenance: micro-batches of late-arriving orders upsert into a
    * versioned base table, and after each commit the per-customer
    * (count, cents) view advances by consuming ONLY the new versions'
    * change-data-feed (IncrementalView.refreshToLatest). The view
    * therefore tracks the base with O(micro-batch) work per trigger,
    * and the final view is BATCH-SPLIT-INVARIANT: however the ingest
    * is carved into micro-batches, each refresh applies the net delta
    * of everything committed since the view's watermark exactly once,
    * so the oracle is the plain aggregate over the full relation.
    * Retry safety comes from the store itself: a replayed micro-batch
    * re-upserts identical puts, producing a version whose CDF is
    * EMPTY — the refresh no-ops
    * (cheaper and stronger than a batch-id output guard: idempotence
    * holds at the STATE layer, not just at the sink). */
  /** `failAt`: fault-injection seam — the named micro-batch throws
    * AFTER its base-table upsert committed but BEFORE the view
    * refresh (the worst crash point: base and view disagree). A
    * re-invocation with the same `workDir` resumes: Spark's
    * checkpoint replays the uncommitted micro-batch, whose re-upsert
    * produces an EMPTY-change version (state-layer idempotence), and
    * the view catches up from its own durable watermark
    * (IncrementalView.refreshFromCommitted) — the missed span applies
    * exactly once, the replayed one not at all. */
  def streamingCdfIngest(spark: SparkSession, sfDir: String,
      workDir: String, failAt: Option[Long] = None): DataFrame = {
    import graft.sinks.{IncrementalView, KeyedTable, VersionedKeyedTable}
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("g"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
    val baseDir = s"$workDir/base"
    val viewDir = s"$workDir/view"
    if (!KeyedTable.exists(spark, baseDir)) graft.BenchProbe.time("index_build") {
      // one-time: base table + view creation + staging (coarse check
      // buckets — each commit pays per-touched-bucket jobs; production
      // sizes buckets to the data)
      VersionedKeyedTable.create(rows.filter(col("k") % 3 =!= 2),
        baseDir, "k", numBuckets = 4)
      IncrementalView.createFrom(spark, baseDir, viewDir, "g", "cents",
        numBuckets = 4)
      stageKeyedSlices(spark, rows.filter(col("k") % 3 === 2), "k",
        s"$workDir/staging", nFiles = 3): Unit
    }
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$workDir/staging")
    val qname = "graft_stream_cdf"
    spark.streams.active.filter(_.name == qname).foreach(_.stop())
    var failed = false
    val q = stream.writeStream.queryName(qname)
      .option("checkpointLocation", s"$workDir/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        VersionedKeyedTable.upsert(spark, baseDir, batch, "k")
        if (failAt.contains(id) && !failed) {
          failed = true
          throw new IllegalStateException(
            s"graft-injected crash after batch $id base commit")
        }
        // the view advances from its own committed watermark — no
        // in-memory state survives (or needs to survive) a restart
        IncrementalView.refreshFromCommitted(
          spark, baseDir, viewDir, "k", "g", "cents"): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    def injected(t: Throwable): Boolean =
      t != null && (String.valueOf(t.getMessage)
        .contains("graft-injected crash") || injected(t.getCause))
    try { q.processAllAvailable() }
    catch { case e: Throwable if failAt.isDefined && injected(e) => () }
    finally { q.stop() }
    q.exception.foreach { e =>
      if (!(failAt.isDefined && injected(e))) throw e
    }
    VersionedKeyedTable.read(spark, viewDir)
      .select(col("g"), col("cnt"), col("total"))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The text-curation CAPSTONE: one per-document keep/drop/redact
  * manifest composing every text tier this library ships — exact
  * dedup (keep-first), MinHash+LSH near-dup (verified Jaccard),
  * winnowing exact-substring spans, 5-gram benchmark decontamination,
  * the C4/Gopher-style quality rule chain, and the pocket-perceptron
  * learned quality classifier — into the single decision relation a
  * training-data pipeline ships to its sampler, with a named drop
  * reason per document (the chained-job pattern of the reference's
  * example/.../entitycount/ChainedMapReduceJob.java, re-expressed as
  * one composed Catalyst plan).
  *
  * Decision policy, first matching rule wins (priority order is the
  * contract — each reason names the FIRST gate the doc failed):
  *   1. benchmark_member  — the doc IS eval-suite material (drop)
  *   2. exact_dup         — non-first holder of its content hash (drop)
  *   3. near_dup          — verified Jaccard >= 0.8 partner with a
  *                          smaller id (pairwise keep-first) (drop)
  *   4. contaminated      — >= `contaminatedBp` basis points of its
  *                          distinct 5-grams hit the benchmark (drop)
  *   5. low_quality       — fails the rule chain (min tokens, mean
  *                          token length band, stopword presence) (drop)
  *   6. classifier_reject — pocket-perceptron margin <= 0 (drop)
  *   7. dup_spans         — survives every drop gate but carries
  *                          duplicated substring spans or sub-threshold
  *                          contamination -> scrub, keep rest (redact)
  *   8. clean             — keep verbatim (keep)
  *
  * Scale contract, batch manifest: each tier contributes exactly its
  * own keyed exchange — content-hash groupBy (exact), band-signature
  * join + by-id verify (LSH, candidate-bounded), ONE gram-keyed
  * exchange (winnowing), a broadcast semi-type join on the bounded
  * benchmark gram set (decontamination), a stateless projection
  * (quality rules), and per-round broadcast weight joins over
  * doc-keyed aggregates (classifier). The tiers then meet in
  * per-doc-keyed left joins — no cross product, no corpus-sized
  * broadcast, nothing quadratic.
  *
  * Scale contract, serving ([[servingDecisions]]): a micro-batch whose
  * probe keys fit the point-lookup bound never joins the index. Its
  * keys reach the driver in one take, the index and prior rows they
  * match in a second collect, near-dup candidates' shingles in a
  * third, each capped at that bound, and every tier runs over the
  * batch on one partition — no exchange, and a job count that does
  * not grow with the index (the probes still scan the index whole). A
  * larger batch joins each tier against the index relations. Both
  * meet in one union + groupBy(doc_id).
  *
  * Every signal is integer (margins, basis points, counts), so a SQL
  * oracle replays the whole manifest including the decision column.
  */
object TextCuration {

  /** The multi-language demo stop list the suite's quality rules use
    * (en/es/de/fr function words) — ONE definition shared by the
    * queries, the scale probes, and the specs, so the rule can never
    * silently diverge between them. */
  val DemoStopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in",          // en
    "el", "la", "los", "de", "y", "que",           // es
    "der", "die", "das", "und", "ein", "ist",      // de
    "le", "les", "des", "et", "un", "une")         // fr

  /** Broadcast cap for the benchmark gram relations: the eval suite is
    * bounded by INTENT, but the demo definition (doc_id % benchmarkMod
    * == 0) makes the set corpus-proportional — an unconditional hint
    * would eventually OOM the driver on a large corpus despite the
    * "bounded by the eval suite" claim. Same count-gating discipline
    * as TextDedup.verifyCandidates / duplicatedAnchors. */
  private[functions] val MaxBroadcastBenchRows = 5000000L

  /** Broadcast-hint a relation only when its measured size is under
    * [[MaxBroadcastBenchRows]]; above the cap the relation goes
    * un-hinted and AQE sizes the join. The input is checkpointed so
    * the gating count and the join share one materialization. */
  private[graft] def gatedBroadcast(df: DataFrame): DataFrame = {
    val b = df.localCheckpoint(true)
    if (b.count() <= MaxBroadcastBenchRows) broadcast(b) else b
  }

  /** Tunable policy knobs; defaults mirror the standalone tier queries
    * (`quality_funnel`, `decontaminate_overlap`, `quality_classifier`)
    * so the manifest is exactly their composition. */
  final case class Config(
      stopwords: Seq[String],
      minTokens: Int = 20,
      mwlLoCc: Int = 300,
      mwlHiCc: Int = 799,
      contaminatedBp: Long = 1000L,
      classifierRounds: Int = 8,
      benchmarkMod: Long = 7L)

  /** Build the manifest over `docs` (doc_id, text, lang, n_chars) with
    * the dedup family's shared distinct-shingle relation `sh`
    * (doc_id, s) — pass the suite's memoized one so the LSH tier reuses
    * the same cached scan as the standalone dedup queries.
    *
    * `anchorsOpt` / `dupAnchorsOpt`: the (checkpointed) winnowing
    * anchor relation and its duplicated-anchor subset, when the caller
    * already computed them — [[applyManifest]] consumes the same
    * relations, and recomputing the per-char anchor scan (the most
    * expensive linear pass here) or its gram-keyed recurrence exchange
    * per consumer would double them. None = computed internally. */
  def manifest(spark: SparkSession, docs: DataFrame, sh: DataFrame,
      cfg: Config, anchorsOpt: Option[DataFrame] = None,
      dupAnchorsOpt: Option[DataFrame] = None): DataFrame = {
    // tier 1: exact keep-first — rank within content-hash groups
    val ex = docs.select(col("doc_id"),
      when(row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))) > 1,
        1).otherwise(0).as("exact_dup"))

    // tier 2: verified near-dup pairs; pairwise keep-first drops d2
    // (always the larger id), so "has a smaller verified partner" = drop
    val nd = TextDedup.lshVerifiedPairs(sh, numHashes = 12, bands = 4,
        num = 4, den = 5)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("near_dup", lit(1))

    // Tiers 3, 4 and 6 each open with a chain of EAGER driver work
    // (the winnowing anchor checkpoint; the 5-gram checkpoint + the
    // benchmark broadcast's gating count; the feature checkpoint + 8
    // driver-looped training rounds) — three independent chains, so
    // they overlap from driver threads (guide §2.6, [[graft.Par]])
    // instead of serializing ~all of the manifest's fixed cost.
    val Seq(anchA, g5A, fwA) = graft.Par.run[Any](spark, Seq(
      // tier 3 scan: winnowing anchors (per-char pass)
      () => anchorsOpt.getOrElse(
        SubstringDedup.anchors(docs).localCheckpoint(true)),
      // tier 4 scan: distinct per-doc 5-grams + gated benchmark side
      // (the benchmark side is bounded by the eval suite -> broadcast)
      () => {
        val g5 = TextDedup.shingles(docs, n = 5).localCheckpoint(true)
        val bench = g5.filter(col("doc_id") % cfg.benchmarkMod === 0)
          .select(col("s").as("bs")).distinct()
        (g5, gatedBroadcast(bench))
      },
      // tier 6: learned classifier (same features, label, and rounds
      // as `quality_classifier`; docs with < 2 tokens carry no
      // features and are out of classifier scope — the min-tokens rule
      // gates them before the margin is ever consulted)
      () => {
        val feats = classifierFeatures(docs).localCheckpoint(true)
        (feats, LinearClassifier.trainPocketPerceptron(spark, feats,
          rounds = cfg.classifierRounds))
      }))
    val anch = anchA.asInstanceOf[DataFrame]
    val (g5, benchGated) = g5A.asInstanceOf[(DataFrame, DataFrame)]
    val (feats, weights) =
      fwA.asInstanceOf[(DataFrame, Map[String, Long])]

    // tier 3: winnowing duplicated-span coverage (chars of each doc
    // inside a verbatim-repeated region anywhere in the corpus)
    val sub = SubstringDedup.duplicatedSpans(
        dupAnchorsOpt.getOrElse(SubstringDedup.duplicatedAnchors(anch)))
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_chars"))

    // tier 4: benchmark 5-gram contamination
    val cont = g5.filter(col("doc_id") % cfg.benchmarkMod =!= 0)
      .join(benchGated, col("s") === col("bs"), "left")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(count(bs) * 10000 DIV count(1) AS BIGINT)")
        .as("overlap_bp"))

    // tier 5: quality rule chain (stateless projection over tokens)
    val q = qualitySignals(docs, cfg)

    // tier 6 margins under the pocket weights trained above
    val margins = LinearClassifier.score(spark, feats, weights)
      .select(col("doc_id"), col("margin"))

    // assemble: per-doc-keyed left joins, integer signals, one CASE
    val m = docs.select(col("doc_id"))
      .join(ex, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .join(sub, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(q, Seq("doc_id"), "left")
      .join(margins, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_dup").cast("int").as("exact_dup"),
        coalesce(col("near_dup"), lit(0)).cast("int").as("near_dup"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"),
        coalesce(col("overlap_bp"), lit(0L)).cast("long").as("overlap_bp"),
        col("n_tokens"), col("quality_pass"),
        coalesce(col("margin"), lit(0L)).cast("long").as("margin"))
    val reason =
      when(col("doc_id") % cfg.benchmarkMod === 0, "benchmark_member")
        .when(col("exact_dup") === 1, "exact_dup")
        .when(col("near_dup") === 1, "near_dup")
        .when(col("overlap_bp") >= cfg.contaminatedBp, "contaminated")
        .when(col("quality_pass") === 0, "low_quality")
        .when(col("margin") <= 0, "classifier_reject")
        .when(col("dup_chars") > 0 || col("overlap_bp") > 0, "dup_spans")
        .otherwise("clean")
    m.withColumn("reason", reason)
      .withColumn("decision",
        when(col("reason") === "clean", "keep")
          .when(col("reason") === "dup_spans", "redact")
          .otherwise("drop"))
  }

  /** Execute the manifest's decisions — the curated corpus a pipeline
    * actually writes: `drop` rows removed, `keep` rows verbatim,
    * `redact` rows with their repeated/leaked regions scrubbed. The
    * scrub set is the islands-merged union of the winnowing
    * duplicated spans and the benchmark-matched (leaked) spans, so a
    * redacted doc loses exactly the regions the substring tier can
    * prove verbatim-repeated or quoted (>= w+k-1 chars guaranteed);
    * sub-threshold token-gram contamination with no provable span
    * passes through verbatim under its `redact` label — the
    * conservative action when no span is attributable.
    *
    * Scale: one winnowing anchor scan (shuffle-free), one gram-keyed
    * exchange (recurrence), a broadcast semi-join for the leak marks,
    * per-doc span windows, and the same relational scrub stitch as
    * `substr_dedup_scrub` — nothing beyond the tiers' own exchanges.
    * Returns (doc_id, decision, n_chars_out, sig) for every SURVIVING
    * document (sig = md5 of the emitted text, so an oracle pins the
    * reconstruction string-exactly). */
  def applyManifest(spark: SparkSession, docs: DataFrame,
      manifest: DataFrame, cfg: Config,
      anchorsOpt: Option[DataFrame] = None,
      dupAnchorsOpt: Option[DataFrame] = None): DataFrame = {
    // pass the manifest's checkpointed anchor relations via the Opts:
    // the per-char winnowing scan (and its gram-keyed recurrence
    // exchange) are the most expensive passes in the whole composition
    // and must not run twice
    val anch = anchorsOpt.getOrElse(
      SubstringDedup.anchors(docs).localCheckpoint(true))
    val dup = dupAnchorsOpt.getOrElse(SubstringDedup.duplicatedAnchors(anch))
    val bg = anch.filter(col("doc_id") % cfg.benchmarkMod === 0)
      .select(col("g")).distinct()
    val leaked = anch.filter(col("doc_id") % cfg.benchmarkMod =!= 0)
      .join(gatedBroadcast(bg), Seq("g"), "leftsemi")
    val marked = dup.select(col("doc_id"), col("pos"))
      .unionByName(leaked.select(col("doc_id"), col("pos"))).distinct()
    val redactIds = manifest.filter(col("reason") === "dup_spans")
      .select(col("doc_id"))
    val spans = SubstringDedup.duplicatedSpans(
        marked.join(redactIds, Seq("doc_id"), "leftsemi"))
      .localCheckpoint(true) // feeds the pre-segment window AND the tail
    val scrubbed = SubstringDedup.scrub(docs, spans)
    manifest.filter(col("decision") =!= "drop")
      .select(col("doc_id"), col("decision"))
      .join(scrubbed, Seq("doc_id"))
      .select(col("doc_id"), col("decision"),
        length(col("text_scrubbed")).cast("long").as("n_chars_out"),
        md5(col("text_scrubbed")).as("sig"))
  }

  /** BYTE-tier manifest execution — [[applyManifest]] with the scrub
    * stitched at UTF-8 BYTE offsets, for genuinely multibyte corpora
    * where char-offset stitching would mis-place every cut after the
    * first multibyte codepoint. `anchors`/`dupAnchors` must be the
    * BYTE anchor relations ([[SubstringDedup.anchorsBytes]]) the
    * manifest's dup-span tier already consumed, so manifest and apply
    * share one anchor scan exactly as the char tier does.
    *
    * Mechanics: the byte spans embed into HEX space (byte span [s, e]
    * ↦ hex span [2s-1, 2e] over `hex(encode(text))`, the same 1:1
    * encoding [[SubstringDedup.anchorsBytes]] grams use), where the
    * generic char-offset scrub machinery applies verbatim — adjacency
    * is merged in byte space first, so the embedding preserves island
    * structure. Spans may start or end mid-codepoint; the output is a
    * BYTE sequence (pinned by md5 of its hex), not necessarily valid
    * UTF-8 — the honest semantics of byte-offset scrubbing. Returns
    * (doc_id, decision, n_bytes_out, sig) for surviving documents. At
    * 100 TB the hex detour doubles scrub-stage bytes; a production
    * variant slices BinaryType directly with the same span algebra. */
  def applyManifestBytes(spark: SparkSession, docs: DataFrame,
      manifest: DataFrame, cfg: Config, anchors: DataFrame,
      dupAnchors: DataFrame): DataFrame = {
    val bg = anchors.filter(col("doc_id") % cfg.benchmarkMod === 0)
      .select(col("g")).distinct()
    val leaked = anchors.filter(col("doc_id") % cfg.benchmarkMod =!= 0)
      .join(gatedBroadcast(bg), Seq("g"), "leftsemi")
    val marked = dupAnchors.select(col("doc_id"), col("pos"))
      .unionByName(leaked.select(col("doc_id"), col("pos"))).distinct()
    val redactIds = manifest.filter(col("reason") === "dup_spans")
      .select(col("doc_id"))
    val byteSpans = SubstringDedup.duplicatedSpans(
        marked.join(redactIds, Seq("doc_id"), "leftsemi"))
      .localCheckpoint(true) // feeds the pre-segment window AND the tail
    val hexSpans = byteSpans.select(col("doc_id"),
      (col("span_start") * 2 - 1).as("span_start"),
      (col("span_end") * 2).as("span_end"))
    val hexDocs = docs.select(col("doc_id"),
      hex(encode(col("text"), "UTF-8")).as("hx"))
    val scrubbed = SubstringDedup.scrub(hexDocs, hexSpans, textCol = "hx")
    manifest.filter(col("decision") =!= "drop")
      .select(col("doc_id"), col("decision"))
      .join(scrubbed, Seq("doc_id"))
      .select(col("doc_id"), col("decision"),
        expr("CAST(length(text_scrubbed) DIV 2 AS BIGINT)")
          .as("n_bytes_out"),
        md5(col("text_scrubbed")).as("sig"))
  }

  /** The frozen corpus-side state a serving-mode curation ingest
    * labels against — every member a MATERIALIZED index relation (or a
    * driver-held bounded model), computed once per index build, never
    * per ingest: the content-hash set (exact tier), the corpus shingle
    * relation (LSH band index derives from it per batch; production
    * materializes the bands themselves), the anchor-gram relation
    * (substring tier), the benchmark 5-gram set (bounded by the eval
    * suite), and the pocket-perceptron weights (bucket-space). */
  final case class ServingIndex(
      corpusHashes: DataFrame,
      corpusShingles: DataFrame,
      corpusBands: DataFrame,
      indexGrams: DataFrame,
      benchGrams: DataFrame,
      weights: Map[String, Long])

  /** Grams/hashes/shingles of EARLIER micro-batches of the same
    * logical ingest — the fold that makes streaming labels
    * batch-split-invariant (see [[servingDecisions]]). All None =
    * one-shot batch semantics. `bands` carries the DERIVED LSH bands
    * of the prior shingles: fold them alongside the shingles (each
    * batch derives only its own, batch-sized bands) — re-deriving
    * bands from the cumulative shingle union per micro-batch would
    * make per-batch cost grow with the whole ingest so far. */
  final case class IngestPrior(
      hashes: Option[DataFrame] = None,
      shingles: Option[DataFrame] = None,
      grams: Option[DataFrame] = None,
      bands: Option[DataFrame] = None)

  /** Build the serving index from the corpus (the docs an ingest is
    * deduped against). Checkpoints every relation — these persist
    * between ingests by contract. */
  def buildServingIndex(spark: SparkSession, corpusDocs: DataFrame,
      cfg: Config): ServingIndex = graft.BenchProbe.time("index_build") {
    // five INDEPENDENT eager chains (each a checkpoint, possibly
    // followed by dependent eager work) — overlap them from driver
    // threads (guide §2.6, [[graft.Par]]); the build's wall becomes
    // ~the slowest chain (training or the anchor scan) instead of the
    // sum of five
    val Seq(hashesA, shBandsA, gramsA, benchA, weightsA) =
      graft.Par.run[Any](spark, Seq(
        () => corpusDocs.select(md5(col("text")).as("h")).distinct()
          .localCheckpoint(true),
        // the MATERIALIZED band index: with it, per-ingest LSH runs no
        // corpus-proportional work beyond the by-id candidate fetch
        () => {
          val sh = TextDedup.shingles(corpusDocs).localCheckpoint(true)
          (sh, servingBands(sh).localCheckpoint(true))
        },
        () => SubstringDedup.anchors(corpusDocs)
          .select(col("g")).distinct().localCheckpoint(true),
        // gated ONCE here (checkpoint + count + hint): the stored
        // relation is what every per-ingest decision joins — a
        // per-batch gate would re-materialize and re-count it every
        // micro-batch
        () => gatedBroadcast(TextDedup.shingles(corpusDocs, n = 5)
          .filter(col("doc_id") % cfg.benchmarkMod === 0)
          .select(col("s").as("bs")).distinct()),
        () => LinearClassifier.trainPocketPerceptron(spark,
          classifierFeatures(corpusDocs).localCheckpoint(true),
          rounds = cfg.classifierRounds)))
    val (sh, cBands) = shBandsA.asInstanceOf[(DataFrame, DataFrame)]
    ServingIndex(hashesA.asInstanceOf[DataFrame], sh, cBands,
      gramsA.asInstanceOf[DataFrame], benchA.asInstanceOf[DataFrame],
      weightsA.asInstanceOf[Map[String, Long]])
  }

  /** Per-batch-doc serving decision against a frozen [[ServingIndex]]:
    * the incremental tiers composed into the same priority-ordered
    * keep/drop/redact manifest as the batch capstone. `prior` folds
    * earlier micro-batches of the SAME ingest so the labels are
    * invariant under any in-(doc_id)-order batch split:
    *   - exact: batch_exact fires when the hash is in an earlier
    *     batch OR an earlier row of this batch (corpus_exact wins);
    *   - near-dup: earlier batches' shingles join the corpus side of
    *     the LSH operator (the merged near_dup signal is identical to
    *     the one-shot run's);
    *   - substring: earlier batches' grams ride
    *     SubstringDedup.incrementalDedup's priorIngestGrams
    *     (n_corpus_dup + n_batch_dup is split-invariant).
    * Contamination, quality, and the frozen classifier are stateless
    * per batch.
    *
    * Two routes give the same rows (TextCurationSpec holds them equal
    * row for row); the gate picks one per call:
    *   - BOUNDED, the micro-batch shape. The batch's probe keys (anchor
    *     grams, md5 content hashes, distinct 5-grams and LSH band keys)
    *     come to the driver in ONE take over the anchors, the batch and
    *     its shingles, each coalesced to one partition. That take is
    *     the gate: at most
    *     [[graft.sinks.VersionedKeyedTable.MaxPointLookupKeys]] key
    *     rows, and a batch over it stops the scan there. A second
    *     collect fetches the index and prior rows matching those keys
    *     (set-membership filters, so it works on any relation: a
    *     loaded KeyedTable index or an in-memory one), and a third the
    *     shingles of the near-dup candidate pairs, verified on the
    *     driver by TextDedup's rule. The matched rows, the candidate
    *     pairs and their shingle rows are each held to the same bound:
    *     the pairs are counted before they are formed, and each
    *     partition of the two collects hands over at most the bound
    *     + 1 rows. Every tier then runs
    *     over the one-partition batch with the matched sets as
    *     membership filters, so no stage exchanges data; the sets
    *     reach generated code as reference objects, never as
    *     literals, so its classes repeat batch to batch. Jobs: those
    *     collects, the weights broadcast and the caller's write,
    *     whatever the index's size (ScaleInvarianceSpec). Each probe
    *     still scans the index and prior relations in full, so rows
    *     read and CPU grow with the index; only the job count and the
    *     driver-held rows do not.
    *   - UNBOUNDED, when the keys, the matched rows, the candidate
    *     pairs or their shingle rows exceed that bound: each tier
    *     joins the batch against the whole index and prior relations.
    *     The gate's take is all it costs beyond the join route.
    * Both routes meet in one union + groupBy(doc_id) and one reason
    * CASE ([[assembleServing]]).
    *
    * `batchShinglesOpt` / `batchAnchorsOpt`: the (checkpointed) batch
    * relations when the caller already computed them — the streaming
    * wrapper folds the same relations into the next IngestPrior, and
    * the per-char anchor scan must not run twice per micro-batch. */
  def servingDecisions(spark: SparkSession, batchDocs: DataFrame,
      idx: ServingIndex, prior: IngestPrior, cfg: Config,
      batchShinglesOpt: Option[DataFrame] = None,
      batchAnchorsOpt: Option[DataFrame] = None): DataFrame =
    servingDecisionsWithin(spark, batchDocs, idx, prior, cfg,
      batchShinglesOpt, batchAnchorsOpt,
      graft.sinks.VersionedKeyedTable.MaxPointLookupKeys)

  /** [[servingDecisions]] with the bounded route's key bound as a
    * parameter: a bound of 0 forces the unbounded route. */
  private[functions] def servingDecisionsWithin(spark: SparkSession,
      batchDocs: DataFrame, idx: ServingIndex, prior: IngestPrior,
      cfg: Config, batchShinglesOpt: Option[DataFrame],
      batchAnchorsOpt: Option[DataFrame], maxProbeKeys: Int): DataFrame = {
    val batchSh = batchShinglesOpt.getOrElse(
      TextDedup.shingles(batchDocs).localCheckpoint(true))
    val batchAnchors = batchAnchorsOpt.getOrElse(
      SubstringDedup.anchors(batchDocs).localCheckpoint(true))
    // the MATERIALIZED band index (and the FOLDED prior bands) mean no
    // band derivation beyond this batch's own happens per ingest — a
    // caller without folded bands (one-shot use) pays a derive over
    // the prior shingles as fallback
    val priorBands = prior.bands.orElse(prior.shingles.map(servingBands))
    probedTiers(spark, batchDocs, batchSh, batchAnchors, idx, prior,
        priorBands, cfg, maxProbeKeys) match {
      case Some(tiers) => assembleServing(tiers, cfg, onePartition = true)
      case None => assembleServing(joinedTiers(spark, batchDocs, batchSh,
        batchAnchors, idx, prior, priorBands, cfg), cfg,
        onePartition = false)
    }
  }

  /** The serving LSH operator's parameters: 12 minhashes in 4 bands,
    * verified at Jaccard >= 4/5 — one definition for both routes, the
    * index build and the streaming folds ([[servingBands]]). */
  private val LshHashes = 12
  private val LshBands = 4
  private val NearNum = 4
  private val NearDen = 5

  /** The serving LSH bands (doc_id, band, sig) of a shingle relation:
    * the one derivation behind the index's corpus bands, both routes'
    * batch and prior bands, and the bands a streaming ingest folds for
    * later batches, so folded bands always meet the decisions' band
    * keys. Over a one-partition input the minhash aggregate plans no
    * exchange. */
  def servingBands(sh: DataFrame): DataFrame =
    TextDedup.lshBands(TextDedup.minhashSignatures(sh, LshHashes),
      bands = LshBands, rowsPerBand = LshHashes / LshBands)

  /** The unbounded route, and the reference the bounded one is tested
    * against: each tier joins the batch against the whole index and
    * prior relations. */
  private def joinedTiers(spark: SparkSession, batchDocs: DataFrame,
      batchSh: DataFrame, batchAnchors: DataFrame, idx: ServingIndex,
      prior: IngestPrior, priorBands: Option[DataFrame],
      cfg: Config): Seq[DataFrame] = {
    // exact tier: corpus set membership + keep-first (prior-batch aware)
    val priorH = prior.hashes
      .map(_.select(col("h")).distinct().withColumn("in_prior", lit(1)))
      .getOrElse(spark.emptyDataFrame
        .withColumn("h", lit("")).withColumn("in_prior", lit(1)).limit(0))
    val byHash = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val exact = batchDocs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(byHash))
      .join(idx.corpusHashes.withColumn("in_corpus", lit(1)),
        Seq("h"), "left")
      .join(priorH, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_corpus") === 1, 1).otherwise(0).as("corpus_exact"),
        when(col("in_corpus").isNull &&
          (col("in_prior") === 1 || col("rn") > 1), 1).otherwise(0)
          .as("batch_exact"))
    // LSH tier: prior batches' shingles and bands join the corpus side
    val corpusSide = prior.shingles
      .map(idx.corpusShingles.unionByName(_)).getOrElse(idx.corpusShingles)
    val corpusBands = priorBands
      .map(idx.corpusBands.unionByName(_)).getOrElse(idx.corpusBands)
    val nd = TextDedup.incrementalDedup(
        corpusSh = corpusSide, batchSh = batchSh,
        batchIds = batchDocs.select(col("doc_id")),
        numHashes = LshHashes, bands = LshBands, num = NearNum,
        den = NearDen, corpusBandsOpt = Some(corpusBands))
      .select(col("doc_id"),
        when(col("status") =!= "new", 1).otherwise(0).as("near_dup"))
    // substring tier
    val srep = SubstringDedup.incrementalDedup(
        indexGrams = idx.indexGrams, batchAnchors = batchAnchors,
        priorIngestGrams = prior.grams)
      .select(col("doc_id"),
        (col("n_corpus_dup") + col("n_batch_dup")).as("dup_anchors"))
    // contamination vs the indexed benchmark suite
    // idx.benchGrams arrives pre-gated (buildServingIndex /
    // ServingState.loadServingIndex apply the broadcast gate once per
    // index build or load, never per micro-batch)
    val cont = TextDedup.shingles(batchDocs, n = 5)
      .join(idx.benchGrams, col("s") === col("bs"), "left")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(count(bs) * 10000 DIV count(1) AS BIGINT)")
        .as("overlap_bp"))
    Seq(exact, nd, srep, cont) ++
      docTiers(spark, batchDocs, idx.weights, cfg, onePartition = false)
  }

  // row kinds of the bounded route's collects: batch keys, index and
  // prior hits, candidate shingles
  private final val HashKey = 0
  private final val GramKey = 1
  private final val FiveGramKey = 2
  private final val BandKey = 3
  private final val CorpusHash = 4
  private final val PriorHash = 5
  private final val IndexGram = 6
  private final val PriorGram = 7
  private final val BenchGram = 8
  private final val CorpusBand = 9
  private final val CorpusSide = 10
  private final val BatchSide = 11

  /** `c IN keys` over a driver-held set, as a UDF holding the set: the
    * set reaches generated code as the UDF's reference object, never as
    * literals, so code compiled for one batch's keys serves the next
    * batch's. (`isin` turns sets of up to 10 values into inlined
    * literals, and Spark keeps its `InSet` constructor internal.) Null
    * is never a member. */
  private def member(c: Column, keys: Set[String]): Column =
    coalesce(udf((k: String) => keys.contains(k)).apply(c), lit(false))

  private def memberId(c: Column, ids: Set[Long]): Column =
    coalesce(udf((k: Long) => ids.contains(k)).apply(c.cast("long")),
      lit(false))

  /** (kind, k, doc_id, band): the one row shape of every collect. */
  private def keyRow(kind: Int, k: Column, doc: Column = lit(null),
      band: Column = lit(null)): Seq[Column] =
    Seq(lit(kind).as("kind"), k.cast("string").as("k"),
      doc.cast("long").as("doc_id"), band.cast("int").as("band"))

  /** The rows of the union of `parts` when there are at most `n`, else
    * None. One job: each partition hands the driver at most n + 1 rows,
    * the bound Spark's own `take` keeps per partition, without the
    * rounds of jobs `take` runs over a growing range of partitions. */
  private def collectAtMost(parts: Seq[Option[DataFrame]],
      n: Int): Option[Array[Row]] =
    parts.flatten.reduceOption(_ union _) match {
      case None => Some(Array.empty[Row])
      case Some(df) =>
        val rows = df.mapPartitions((it: Iterator[Row]) => it.take(n + 1))(
          org.apache.spark.sql.Encoders.row(df.schema)).collect()
        if (rows.length > n) None else Some(rows)
    }

  /** The bounded route's tiers, or None when the batch's probe keys,
    * the index and prior rows they match, the near-dup candidate pairs
    * or those pairs' shingle rows number more than `maxProbeKeys` (see
    * [[servingDecisions]]). The pairs are counted before they are
    * formed; the collects stop each partition at the bound + 1 rows. */
  private[functions] def probedTiers(spark: SparkSession,
      batchDocs: DataFrame, batchSh: DataFrame, batchAnchors: DataFrame,
      idx: ServingIndex, prior: IngestPrior,
      priorBands: Option[DataFrame], cfg: Config,
      maxProbeKeys: Int): Option[Seq[DataFrame]] = {
    val docs = batchDocs.coalesce(1)
    val anchors = batchAnchors.coalesce(1)
    val fiveGrams = TextDedup.shingles(docs, n = 5)
    // collect 1: the batch's probe keys — also the gate. The cheapest
    // kinds come first and nothing dedupes on the executor, so the one
    // partition's scan stops after maxProbeKeys + 1 rows (repeats
    // count against the bound, then drop here) and a batch over the
    // bound never reaches the minhash aggregate
    val keys = Seq(
        anchors.select(keyRow(GramKey, col("g")): _*),
        docs.select(keyRow(HashKey, md5(col("text"))): _*),
        fiveGrams.select(keyRow(FiveGramKey, col("s")): _*),
        servingBands(batchSh.coalesce(1)).select(
          keyRow(BandKey, col("sig"), col("doc_id"), col("band")): _*))
      .reduce(_ union _).where(col("k").isNotNull)
      .coalesce(1).take(maxProbeKeys + 1)
    if (keys.length > maxProbeKeys) return None
    def keysOf(rows: Array[Row], kinds: Int*): Set[String] =
      rows.iterator.filter(r => kinds.contains(r.getInt(0)))
        .map(_.getString(1)).toSet
    def bandsOf(rows: Array[Row], kind: Int): Seq[(Long, (Int, String))] =
      rows.iterator.filter(_.getInt(0) == kind)
        .map(r => r.getLong(2) -> (r.getInt(3), r.getString(1))).toSeq
        .distinct
    val batchBands = bandsOf(keys, BandKey)
    // collect 2: the index and prior rows the keys match
    def probe(df: DataFrame, kind: Int, keyCol: String, ks: Set[String],
        banded: Boolean = false): Option[DataFrame] =
      if (ks.isEmpty) None
      else Some(df.where(member(col(keyCol), ks)).select(
        (if (banded) keyRow(kind, col(keyCol), col("doc_id"), col("band"))
         else keyRow(kind, col(keyCol))): _*))
    val (hashes, grams, fives) =
      (keysOf(keys, HashKey), keysOf(keys, GramKey), keysOf(keys, FiveGramKey))
    val sigs = batchBands.map(_._2._2).toSet
    val hits = collectAtMost(Seq(
        probe(idx.corpusHashes, CorpusHash, "h", hashes),
        prior.hashes.flatMap(probe(_, PriorHash, "h", hashes)),
        probe(idx.indexGrams, IndexGram, "g", grams),
        prior.grams.flatMap(probe(_, PriorGram, "g", grams)),
        probe(idx.benchGrams, BenchGram, "bs", fives),
        probe(idx.corpusBands, CorpusBand, "sig", sigs, banded = true),
        priorBands.flatMap(probe(_, CorpusBand, "sig", sigs, banded = true))),
      maxProbeKeys) match { case Some(h) => h; case None => return None }
    // near-dup candidates: band-bucket collisions with the corpus side
    // (index + prior docs), and between the batch's own docs
    val (crossPairs, innerPairs) = TextDedup.candidatePairsOnDriver(
        batchBands, bandsOf(hits, CorpusBand), maxProbeKeys) match {
      case Some(pairs) => pairs
      case None => return None
    }
    // collect 3: those docs' shingles, verified here pair by pair
    val corpusSide = prior.shingles
      .map(idx.corpusShingles.unionByName(_)).getOrElse(idx.corpusShingles)
    def fetch(df: DataFrame, side: Int, ids: Set[Long]): Option[DataFrame] =
      if (ids.isEmpty) None
      else Some(df.where(memberId(col("doc_id"), ids))
        .select(keyRow(side, col("s"), col("doc_id")): _*))
    val shingles = collectAtMost(Seq(
        fetch(corpusSide, CorpusSide, crossPairs.map(_._2)),
        fetch(batchSh, BatchSide, crossPairs.map(_._1) ++
          innerPairs.flatMap(p => Seq(p._1, p._2)))),
      maxProbeKeys) match { case Some(s) => s; case None => return None }
    def shingleSets(side: Int): Map[Long, Set[String]] =
      shingles.iterator.filter(_.getInt(0) == side).toSeq
        .groupMap(_.getLong(2))(_.getString(1)).view.mapValues(_.toSet).toMap
    val nearDup = TextDedup.nearDupsOnDriver(crossPairs, innerPairs,
      shingleSets(BatchSide), shingleSets(CorpusSide), NearNum, NearDen)
    // the tiers, over the one-partition batch
    val inCorpus = member(col("h"), keysOf(hits, CorpusHash))
    val exact = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .select(col("doc_id"),
        when(inCorpus, 1).otherwise(0).as("corpus_exact"),
        when(!inCorpus && (member(col("h"), keysOf(hits, PriorHash)) ||
          col("rn") > 1), 1).otherwise(0).as("batch_exact"),
        when(memberId(col("doc_id"), nearDup), 1).otherwise(0)
          .as("near_dup"))
    val dupGrams = keysOf(hits, IndexGram, PriorGram)
    val srep = anchors
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"), col("pos"))))
      .groupBy(col("doc_id"))
      .agg(sum(when(member(col("g"), dupGrams) || col("rn") > 1, 1L)
        .otherwise(0L)).as("dup_anchors"))
    val cont = fiveGrams.groupBy(col("doc_id"))
      .agg(count(when(member(col("s"), keysOf(hits, BenchGram)), 1))
        .as("hit"), count(lit(1)).as("n"))
      .select(col("doc_id"),
        expr("CAST(hit * 10000 DIV n AS BIGINT)").as("overlap_bp"))
    Some(Seq(exact, srep, cont) ++
      docTiers(spark, docs, idx.weights, cfg, onePartition = true))
  }

  /** The quality-rule and classifier-margin tiers: per-doc passes over
    * the batch alone, the same on both routes. `onePartition` keeps
    * the feature union on the batch's single partition. */
  private def docTiers(spark: SparkSession, docs: DataFrame,
      weights: Map[String, Long], cfg: Config,
      onePartition: Boolean): Seq[DataFrame] = {
    val feats = classifierFeatures(docs)
    Seq(qualitySignals(docs, cfg),
      LinearClassifier.score(spark,
          if (onePartition) feats.coalesce(1) else feats, weights)
        .select(col("doc_id"), col("margin")))
  }

  /** The rule chain's signals: (doc_id, n_tokens, quality_pass). */
  private def qualitySignals(docs: DataFrame, cfg: Config): DataFrame =
    TextDedup.withTokens(docs).select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"),
      when(size(col("w")) >= cfg.minTokens &&
        QualityFilters.meanTokenLenCentichars(col("w"))
          .between(cfg.mwlLoCc, cfg.mwlHiCc) &&
        TextStats.hasAnyStopword("w", cfg.stopwords), 1).otherwise(0)
        .as("quality_pass"))

  /** The serving decision's signal columns and their types. */
  private val ServingSignals = Seq("corpus_exact" -> "int",
    "batch_exact" -> "int", "near_dup" -> "int", "dup_anchors" -> "long",
    "overlap_bp" -> "long", "n_tokens" -> "long", "quality_pass" -> "int",
    "margin" -> "long")

  /** Both routes' assembly: every tier's (doc_id, signals) rows in one
    * union, one groupBy(doc_id) (a signal a tier does not cover for a
    * doc reads 0), and the policy's reason CASE. `onePartition` keeps
    * the bounded route's union on one partition, so the groupBy adds
    * no exchange. */
  private def assembleServing(tiers: Seq[DataFrame], cfg: Config,
      onePartition: Boolean): DataFrame = {
    val rows = tiers.map(t => t.select(col("doc_id") +: ServingSignals.map {
        case (c, ty) =>
          (if (t.columns.contains(c)) col(c) else lit(null)).cast(ty).as(c)
      }: _*))
      .reduce(_ union _)
    val signals = ServingSignals.map { case (c, ty) =>
      // n_tokens keeps the null of a null text
      if (c == "n_tokens") max(col(c)).as(c)
      else coalesce(max(col(c)), lit(0).cast(ty)).as(c)
    }
    val reason =
      when(col("doc_id") % cfg.benchmarkMod === 0, "benchmark_member")
        .when(col("corpus_exact") === 1, "corpus_exact_dup")
        .when(col("batch_exact") === 1, "batch_exact_dup")
        .when(col("near_dup") === 1, "near_dup")
        .when(col("overlap_bp") >= cfg.contaminatedBp, "contaminated")
        .when(col("quality_pass") === 0, "low_quality")
        .when(col("margin") <= 0, "classifier_reject")
        .when(col("dup_anchors") > 0 || col("overlap_bp") > 0, "dup_spans")
        .otherwise("clean")
    (if (onePartition) rows.coalesce(1) else rows)
      .groupBy(col("doc_id")).agg(signals.head, signals.tail: _*)
      .withColumn("reason", reason)
      .withColumn("decision",
        when(col("reason") === "clean", "keep")
          .when(col("reason") === "dup_spans", "redact")
          .otherwise("drop"))
  }

  /** The `quality_classifier` feature relation: md5-hashed bigram
    * bucket counts + the constant bias feature, labeled by the length
    * band (see DataPipelineQueries3.qualityClassifier for why that is
    * the one learnable signal in this synthetic corpus — the operator
    * itself is label-agnostic). */
  def classifierFeatures(docs: DataFrame): DataFrame = {
    // per-bigram md5 hashing is the CPU: never let a one-partition
    // local input pin it to one core (see TextDedup.spreadSmallInput)
    val w = TextDedup.withTokens(
      TextDedup.spreadSmallInput(docs, "doc_id")).filter(size(col("w")) >= 2)
    val y = when(col("n_chars") >= 300, 1).otherwise(-1)
    val base = w.select(col("doc_id"), y.as("y"),
        col("w"), explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(col("doc_id"), col("y"),
        substring(md5(concat(expr("w[i]"), lit(" "), expr("w[i+1]"))),
          1, 2).as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val bias = w.select(col("doc_id"), y.as("y"),
      lit("__bias__").as("b"), lit(1L).as("cnt"))
    base.unionByName(bias)
  }
}

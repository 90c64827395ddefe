package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reusable near-duplicate-detection operators over a text corpus —
  * the library form of the dedup pipeline the check queries exercise
  * (exact Jaccard verification, MinHash signatures, LSH banding).
  *
  * Shingle generation is the codegen'd explode+projection form
  * (`ngrams`); the per-document DISTINCT is a partition-local
  * streaming dedup (`shingles`) — explode emits a document's rows
  * contiguously, so a per-doc seen-set inside `mapPartitions` dedups
  * with ZERO shuffle, where the relational explode+DISTINCT pays a
  * full exchange of the shingle relation for the same result (measured
  * 2-3× slower at sf0.1, and strictly worse at 100 TB where that
  * exchange shuffles the whole corpus's shingles). The interpreted
  * alternative — `array_distinct(transform(...))` — is NOT used: the
  * optimizer's generator-filter inference duplicates the un-codegen'd
  * lambda into a Filter where it re-evaluates per reference (measured
  * 10× slower).
  *
  * All hashing is md5, so results are deterministic across runs,
  * retries, and engines.
  *
  * Scale contract (100 TB): `lshCandidatePairs` is the candidate
  * generator — one shuffle keyed on (band, band-signature), cost
  * O(docs × hashes), never O(docs²). `jaccardPairs` is the exhaustive
  * verifier — quadratic in co-shingled docs by definition — and at
  * scale runs only over candidate pairs (`lshVerifiedPairs`), not the
  * whole corpus.
  */
object TextDedup {

  /** Whitespace tokens, empties dropped — codegen'd (`array_remove`,
    * not an interpreted `filter` lambda). */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Adds a `w` token-array column. */
  def withTokens(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("w", tokens(col(textCol)))

  /** Parallelism guard for CPU-bound per-doc scans (the
    * SubstringDedup.anchors discipline, shared): a small-file local
    * corpus arrives as ONE partition, which would pin the whole
    * tokenize/explode/hash pass to one core — spread it by the doc id
    * first (HASH repartition on a deterministic unique key: no
    * sort-before-repartition cost and retry-safe, guide §2.5). Two
    * no-op cases keep it from ever hurting: inputs already at >=
    * parallelism partitions (real-scale corpora — no shuffle is added
    * to a properly partitioned input), and inputs the planner
    * estimates under ~256 KB (streaming micro-batch slices — a forced
    * 32-way exchange of a 30 KB batch costs more per-task scheduling
    * than the serial scan it saves; measured +2.3 s on
    * stream_curation before this gate). */
  private[functions] def spreadSmallInput(df: DataFrame,
      idCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(256 * 1024)) df
    else df.repartition(target, col(idCol))
  }

  /** Word n-gram shingles per document, NOT deduped: (idCol, s), one
    * row per gram position. Fully codegen'd (explode of a sequence +
    * flat projection). Use this directly when duplicates are harmless
    * — set-membership semi-joins (decontamination), minima (minhash
    * would be unchanged) — and `shingles` when per-doc distinctness
    * matters (Jaccard counts). */
  def ngrams(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    require(n >= 1)
    val gram = (0 until n)
      .map(k => if (k == 0) "w[i]" else s"w[i+$k]")
      .mkString("concat_ws(' ', ", ", ", ")")
    withTokens(spreadSmallInput(df, idCol), textCol)
      .filter(size(col("w")) >= n)
      .select(col(idCol), col("w"),
        explode(expr(s"sequence(0, size(w) - $n)")).as("i"))
      .select(col(idCol), expr(gram).as("s"))
  }

  /** Distinct word n-gram shingles per document: (idCol, s).
    *
    * The dedup is partition-local: explode emits each document's grams
    * contiguously, so one streaming seen-set per document suffices —
    * no exchange, no interpreted lambda (see the object scaladoc for
    * why both alternatives lose). */
  def shingles(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    ngrams(df, idCol, textCol, n)
      .select(col(idCol).cast("long").as("doc_id"), col("s"))
      .as[(Long, String)]
      .mapPartitions { it =>
        var started = false
        var cur = 0L
        val seen = new java.util.HashSet[String]()
        it.filter { case (id, s) =>
          if (!started || id != cur) { started = true; cur = id; seen.clear() }
          seen.add(s)
        }
      }
      .toDF(idCol, "s")
  }

  /** Shingle count per document (the |A| and |B| of the Jaccard union). */
  def sizes(sh: DataFrame, idCol: String = "doc_id"): DataFrame =
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))

  /** Shingles restricted to those appearing in more than one doc — the
    * only ones that can contribute to a pair, so pairwise self-joins
    * never shuffle the full shingle relation. The hot set is
    * proportional to the near-dup rate (tiny for real corpora), hence
    * the broadcast; a corpus with a huge dup rate would drop the hint
    * and let AQE pick the join. Pair-producing shingles all survive by
    * construction, so downstream pair/common counts are unchanged.
    *
    * The hot set is materialized eagerly (localCheckpoint, not a
    * never-unpersisted persist — checkpoint blocks are reclaimed by
    * the ContextCleaner once unreachable, where a forgotten persist
    * leaks cached partitions for the rest of a multi-query run): it is
    * referenced from both sides of every pair join, and its aggregate
    * is the one full shuffle here. */
  def pairableShingles(sh: DataFrame): DataFrame = {
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("s"))
      .localCheckpoint(true)
    // a USING join puts the join column first — restore (doc_id, s) so
    // positional toDF renames downstream stay correct
    sh.join(broadcast(hot), Seq("s"), "leftsemi")
      .select(col("doc_id"), col("s"))
  }

  /** Common-shingle counts per doc pair, generated from the grouped
    * doc lists of shared shingles: ONE exchange keyed on the shingle
    * (the unavoidable one) and a pair-count aggregate — no hot-set
    * materialization, no broadcast, no self-join. A shingle shared by
    * k docs emits k·(k-1)/2 ordered pairs, exactly what the
    * equivalent self-join would produce (a pathologically hot shingle
    * costs k² either way; boilerplate that hot belongs in a stop-list
    * upstream). Returns (d1, d2, common) with d1 < d2. */
  def commonShingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "d1")), col("ds"))
      .select(col("d1"),
        explode(expr("slice(ds, i + 2, size(ds))")).as("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))

  /** Shingle relation with HOT shingles stop-listed: grams whose
    * document frequency exceeds `maxDF` are dropped from the shingle
    * universe — the standard mitigation for the k² cost a
    * pathologically common gram (boilerplate, license headers,
    * navigation chrome) imposes on pair generation, where it carries
    * no dedup signal. The stop list itself is tiny by construction
    * (≤ total_grams/maxDF entries), so it applies as a broadcast
    * anti join — the corpus-side relation never re-shuffles.
    * Downstream Jaccard semantics stay consistent: stop-listed grams
    * leave BOTH the common counts and the per-doc sizes. */
  def stopListedShingles(sh: DataFrame, maxDF: Int): DataFrame = {
    require(maxDF >= 1, s"maxDF must be >= 1, got $maxDF")
    val stop = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDF).select(col("s"))
    sh.join(broadcast(stop), Seq("s"), "left_anti")
      .select(col("doc_id"), col("s"))
  }

  /** The near-dup rule: Jaccard >= num/den in integer arithmetic
    * (den·common >= num·union), so there is no float boundary. Every
    * verify step here and [[nearDupsOnDriver]] apply this one rule. */
  def jaccardAtLeast(common: Column, n1: Column, n2: Column, num: Int,
      den: Int): Column =
    lit(den) * common >= lit(num) * (n1 + n2 - common)

  /** [[jaccardAtLeast]] over counts already on the driver. */
  def jaccardAtLeast(common: Long, n1: Long, n2: Long, num: Int,
      den: Int): Boolean =
    den * common >= num * (n1 + n2 - common)

  /** Exhaustive near-dup pairs with Jaccard >= num/den, in integer
    * arithmetic (den·common >= num·union) so there is no float
    * boundary: (d1, d2, common, n1, n2) with d1 < d2. */
  def jaccardPairs(sh: DataFrame, num: Int = 4, den: Int = 5): DataFrame = {
    val sz = sizes(sh)
    commonShingleCounts(sh)
      .join(sz.toDF("d1k", "n1"), col("d1") === col("d1k"))
      .join(sz.toDF("d2k", "n2"), col("d2") === col("d2k"))
      .filter(jaccardAtLeast(col("common"), col("n1"), col("n2"), num, den))
      .select(col("d1"), col("d2"), col("common"), col("n1"), col("n2"))
  }

  /** Cluster representatives ("keep best"): given connected-component
    * labels (node, label) over the near-dup graph and a per-document
    * score, keep the highest-scoring doc per cluster (id tiebreak) —
    * the soft-dedup policy that keeps the best copy instead of the
    * first. Returns (cluster_id, rep_id, rep_score, sz).
    *
    * One shuffle: both window functions share the cluster-id
    * partitioning, so rank and cluster size come out of a single
    * exchange+sort. */
  def clusterRepresentatives(labels: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = labels.join(
      docs.select(col(idCol).as("node"), col(scoreCol).as("score")), Seq("node"))
    val byCluster = Window.partitionBy(col("label"))
    val w = byCluster.orderBy(col("score").desc, col("node"))
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("label").as("cluster_id"), col("node").as("rep_id"),
        col("score").as("rep_score"), col("sz"))
  }

  /** MinHash signatures: hash_i(shingle) = md5(i || ':' || shingle),
    * signature_i = min over the doc's shingles. All `numHashes`
    * signatures come out of ONE aggregation pass (`numHashes` min()
    * columns): no row explosion, no (doc, i) shuffle, no
    * collect_list/sort band assembly. Returns (doc_id, mh0..mhK). */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 12): DataFrame = {
    val mhCols = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
  }

  /** LSH banding of minhash signatures: band signature = md5 of the
    * band's minhashes joined — (doc_id, band, sig), one row per band. */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until rowsPerBand).map(r =>
        col(s"mh${rowsPerBand * b + r}")): _*)).as(s"sig$b")
    }
    val stackArgs = (0 until bands).map(b => s"$b, sig$b").mkString(", ")
    sigs.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($bands, $stackArgs) AS (band, sig)")
  }

  /** Candidate pairs = distinct doc pairs sharing any band bucket:
    * one shuffle keyed on (band, sig) — the scale path. The band
    * relation (docs × bands rows, tiny) is materialized eagerly
    * (localCheckpoint — reclaimable, see pairableShingles) so the
    * self-join does not re-run the minhash aggregation on both sides. */
  def lshCandidatePairs(sh: DataFrame, numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val b = lshBands(minhashSignatures(sh, numHashes), bands, numHashes / bands)
      .localCheckpoint(true)
    val ba = b.toDF("d1", "band", "sig")
    val bb = b.toDF("d2", "band2", "sig2")
    ba.join(bb, col("band") === col("band2") && col("sig") === col("sig2")
        && col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** LSH candidates verified with exact integer Jaccard >= num/den —
    * the full two-tier dedup operator: (d1, d2). The candidate set is
    * proportional to the near-dup rate (tiny for real corpora), so it
    * BROADCASTS into both verify joins: common counting is two
    * map-side joins over the shingle relation plus one small pair
    * aggregate — no hot-set pass, no extra exchange of the corpus.
    *
    * The broadcast is GATED, not assumed: the candidate count is a
    * data-dependent quantity (a pathological dup rate makes it
    * corpus-sized), so the hints apply only while the materialized
    * candidate set is at most `maxBroadcastCandidates` pairs — above
    * that the same joins run un-hinted and AQE picks the sides. The
    * count is free: `cand` is already eagerly checkpointed for reuse
    * across the three joins. (The broadcast pair-shingle relation is
    * candidates × shingles-per-doc; the pair gate bounds it within a
    * document-length factor, the quantity the shingle contract already
    * bounds.) */
  def lshVerifiedPairs(sh: DataFrame, numHashes: Int = 12, bands: Int = 4,
      num: Int = 4, den: Int = 5,
      maxBroadcastCandidates: Long = 100000L): DataFrame =
    verifyCandidates(sh, lshCandidatePairs(sh, numHashes, bands),
      num, den, maxBroadcastCandidates)

  /** Exact integer-Jaccard verification of an ARBITRARY candidate pair
    * relation (d1, d2) against the shingle relation — the verify tier
    * decoupled from its candidate source, so any generator (LSH bands,
    * SimHash buckets, embedding cells, a caller's own heuristic) feeds
    * the same exact filter. Candidates are materialized eagerly and
    * the broadcast gating is as in [[lshVerifiedPairs]]. */
  def verifyCandidates(sh: DataFrame, candidates: DataFrame,
      num: Int = 4, den: Int = 5,
      maxBroadcastCandidates: Long = 100000L): DataFrame = {
    val cand = candidates.localCheckpoint(true)
    val hint: DataFrame => DataFrame =
      if (cand.count() <= maxBroadcastCandidates) broadcast else identity
    // shingles of each candidate pair's d1 side, tagged with the pair
    val d1Shingles = sh.join(hint(cand), col("doc_id") === col("d1"))
      .select(col("d1"), col("d2"), col("s"))
    // matched against the d2 side's shingles: equi join on (doc, s)
    val common = hint(d1Shingles)
      .join(sh.toDF("d2k", "s2"),
        col("d2") === col("d2k") && col("s2") === col("s"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    // sizes only for docs that appear in a candidate pair
    val candDocs = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2")))
    val sz = sizes(sh.join(hint(candDocs), Seq("doc_id"), "leftsemi"))
    common
      .join(sz.toDF("n1k", "n1"), col("d1") === col("n1k"))
      .join(sz.toDF("n2k", "n2"), col("d2") === col("n2k"))
      .filter(jaccardAtLeast(col("common"), col("n1"), col("n2"), num, den))
      .select(col("d1"), col("d2"))
  }

  /** Corpus-level duplicate-span removal (the C4 rule, on consecutive
    * `chunkTokens`-token chunks): a chunk whose text appears in more
    * than one document is dropped from EVERY document, and each
    * document is reassembled from its surviving chunks in order.
    * Returns (doc_id, n_chunks, doc_sig) where doc_sig is the md5 of
    * the reassembled text.
    *
    * Plan shape at 100 TB: chunking is a codegen'd explode; the only
    * corpus-wide shuffles are the chunk-text frequency aggregate and
    * the per-doc reassembly — both keyed aggregations, no corpus
    * self-joins. The duplicated-chunk relation fed to the anti join is
    * proportional to the DUP RATE — data-dependent — so its broadcast
    * is GATED exactly like [[verifyCandidates]]: materialize eagerly
    * (localCheckpoint — ContextCleaner-reclaimed), count, and hint
    * only while at most `maxBroadcastDupChunks` rows; above the gate
    * the anti join runs un-hinted and AQE picks the sides (a
    * pathological dup rate makes the relation corpus-sized). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 8,
      maxBroadcastDupChunks: Long = 100000L): DataFrame = {
    require(chunkTokens >= 1)
    val tok = withTokens(docs)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "w")))
    val chunk = tok
      .groupBy(col("doc_id"), expr(s"i div $chunkTokens").as("c"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(i, w))), x -> x.w), ' ')")
        .as("ctxt"))
    val freq = chunk.groupBy(col("ctxt"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("ctxt").as("dup_txt"))
      .localCheckpoint(true)
    val hint: DataFrame => DataFrame =
      if (freq.count() <= maxBroadcastDupChunks) broadcast else identity
    chunk.join(hint(freq), col("ctxt") === col("dup_txt"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(c, ctxt))), x -> x.ctxt), ' ')"))
          .as("doc_sig"))
  }

  /** Incremental ingestion dedup — the 100 TB operating mode, where a
    * NEW batch is deduped against an already-indexed corpus without
    * rescanning the corpus: the corpus participates only through
    * (a) its LSH band-signature index (docs × bands rows, the thing a
    * production pipeline keeps materialized between ingests) and
    * (b) a shingle fetch restricted BY ID to corpus docs that actually
    * collide with a batch band — cost proportional to the batch size
    * and the dup rate, never to the corpus.
    *
    * Per batch doc: `corpus_dup` (verified Jaccard >= num/den against
    * some corpus doc; `dup_of` = smallest such corpus id) else
    * `batch_dup` (near-dup of an EARLIER batch doc — keep-first within
    * the batch) else `new`. `dup_of` = -1 for `new`.
    *
    * @param corpusSh shingles (doc_id, s) of the indexed corpus — only
    *                 candidate docs' rows are ever read
    * @param batchSh  shingles of the incoming batch
    * @param batchIds one row per batch doc (`doc_id`) — docs with no
    *                 shingles still get a `new` row
    * @param corpusBandsOpt the MATERIALIZED band index (doc_id, band,
    *                 sig — `lshBands(minhashSignatures(corpusSh))`)
    *                 when the deployment keeps it between ingests, as
    *                 a production pipeline does: with it, NO
    *                 corpus-proportional work runs per ingest except
    *                 the by-id candidate fetch. None = derive from
    *                 corpusSh (corpus-linear per call — fine for
    *                 one-shot jobs, not for a serving loop). */
  def incrementalDedup(corpusSh: DataFrame, batchSh: DataFrame,
      batchIds: DataFrame, numHashes: Int = 12, bands: Int = 4,
      num: Int = 4, den: Int = 5,
      maxBroadcastCandidates: Long = 100000L,
      corpusBandsOpt: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val cIdx = corpusBandsOpt.getOrElse(
      lshBands(minhashSignatures(corpusSh, numHashes), bands, rows))
    val bBands = lshBands(minhashSignatures(batchSh, numHashes), bands, rows)
    // candidate (batch, corpus) pairs = band-bucket collisions against
    // the index: one equi join keyed on (band, sig)
    // eager localCheckpoint, not persist: cand feeds three broadcasts
    // below and a forgotten persist would leak across a multi-query
    // run (checkpoint blocks are ContextCleaner-reclaimed)
    val cand = bBands.toDF("bdoc", "band", "sig")
      .join(cIdx.toDF("cdoc", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2"))
      .select(col("bdoc"), col("cdoc")).distinct()
      .localCheckpoint(true)
    // gated broadcast, same contract as lshVerifiedPairs: collisions
    // are data-dependent, so the hints hold only while the candidate
    // set is actually small; above the gate AQE picks the join sides
    val hint: DataFrame => DataFrame =
      if (cand.count() <= maxBroadcastCandidates) broadcast else identity
    // fetch-by-id: shingles only for docs appearing in a candidate pair
    val cSh = corpusSh.join(
      hint(cand.select(col("cdoc").as("doc_id")).distinct()),
      Seq("doc_id"), "leftsemi")
    val bShC = batchSh.join(
      hint(cand.select(col("bdoc").as("doc_id")).distinct()),
      Seq("doc_id"), "leftsemi")
    val tagged = bShC.join(hint(cand), col("doc_id") === col("bdoc"))
      .select(col("bdoc"), col("cdoc"), col("s"))
    val common = tagged.join(cSh.toDF("ck", "s2"),
        col("cdoc") === col("ck") && col("s2") === col("s"))
      .groupBy(col("bdoc"), col("cdoc")).agg(count(lit(1)).as("common"))
    val crossDup = common
      .join(sizes(bShC).toDF("bk", "bn"), col("bdoc") === col("bk"))
      .join(sizes(cSh).toDF("ck2", "cn"), col("cdoc") === col("ck2"))
      .filter(jaccardAtLeast(col("common"), col("bn"), col("cn"), num, den))
      .groupBy(col("bdoc")).agg(min(col("cdoc")).as("corpus_dup_of"))
    // keep-first within the batch itself (earlier doc id survives)
    val internal = lshVerifiedPairs(batchSh, numHashes, bands, num, den)
      .groupBy(col("d2")).agg(min(col("d1")).as("batch_dup_of"))
    batchIds.select(col("doc_id"))
      .join(crossDup, col("doc_id") === col("bdoc"), "left")
      .join(internal, col("doc_id") === col("d2"), "left")
      .select(col("doc_id"),
        when(col("corpus_dup_of").isNotNull, lit("corpus_dup"))
          .when(col("batch_dup_of").isNotNull, lit("batch_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_dup_of"), col("batch_dup_of"), lit(-1L))
          .as("dup_of"))
  }

  /** [[incrementalDedup]]'s candidate step on the driver, for a batch
    * whose band rows (doc_id, (band, sig)) and the corpus-side rows
    * sharing their buckets are already there: the (batch, corpus)
    * pairs and the (earlier, later) in-batch pairs sharing a bucket,
    * or None when they number more than `maxPairs` — counted bucket by
    * bucket before any pair is formed, so a bucket holding many copies
    * of one doc never expands on the driver. */
  private[functions] def candidatePairsOnDriver(
      batchBands: Seq[(Long, (Int, String))],
      corpusBands: Seq[(Long, (Int, String))],
      maxPairs: Long): Option[(Set[(Long, Long)], Set[(Long, Long)])] = {
    val corpusBuckets = corpusBands.groupMap(_._2)(_._1)
    val batchBuckets = batchBands.groupMap(_._2)(_._1).toSeq
    val pairs = batchBuckets.iterator.map { case (bucket, ds) =>
      val n = ds.size.toLong
      n * corpusBuckets.get(bucket).fold(0L)(_.size.toLong) + n * (n - 1) / 2
    }.sum
    if (pairs > maxPairs) None
    else Some((
      batchBuckets.iterator.flatMap { case (bucket, ds) =>
        corpusBuckets.getOrElse(bucket, Nil).flatMap(c => ds.map(_ -> c))
      }.toSet,
      batchBuckets.iterator.flatMap { case (_, ds) =>
        for (a <- ds; b <- ds if a < b) yield (a, b)
      }.toSet))
  }

  /** [[incrementalDedup]]'s verdict on the driver, over candidate
    * pairs from [[candidatePairsOnDriver]] and the shingle sets of
    * their docs: the batch docs that are not `new` — each with a
    * verified corpus pair, and the later doc of each verified in-batch
    * pair (keep-first). */
  private[functions] def nearDupsOnDriver(crossPairs: Set[(Long, Long)],
      innerPairs: Set[(Long, Long)], batchSh: Map[Long, Set[String]],
      corpusSh: Map[Long, Set[String]], num: Int, den: Int): Set[Long] = {
    def near(x: Set[String], y: Set[String]): Boolean =
      jaccardAtLeast(x.count(y).toLong, x.size, y.size, num, den)
    def of(sh: Map[Long, Set[String]], d: Long) =
      sh.getOrElse(d, Set.empty[String])
    crossPairs.collect {
      case (b, c) if near(of(batchSh, b), of(corpusSh, c)) => b } ++
      innerPairs.collect {
        case (a, b) if near(of(batchSh, a), of(batchSh, b)) => b }
  }
}

package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded-Hamming near-dup join over 64-bit perceptual fingerprints —
  * the LSH candidates-then-verify architecture applied to fixed-width
  * hashes (image aHash, acoustic energy-rise bits, per-frame video
  * hashes). Shared by `image_neardup` / `audio_neardup` /
  * `video_neardup`, and measured by `media_band_funnel`.
  *
  * Scale contract (100 TB): candidates come from ONE equi join keyed by
  * (group, band, 16-bit band value) — cost tracks actual collisions,
  * never pairs²; the exact bit_count(xor) verify touches candidates
  * only. Recall: with 4 bands, pairs within Hamming distance 3 are
  * GUARANTEED candidates (pigeonhole); beyond that, found iff some band
  * is untouched — the standard LSH recall trade, and the caller's
  * oracle replays the same semantics so the approximation itself is
  * checkable. [[bandedCandidatePairs]] / [[exhaustiveHammingPairs]]
  * expose the funnel's tiers individually so a deployment can MEASURE
  * candidate volume and recall (on a sample) before trusting a banding
  * config at full scale.
  *
  * STORAGE CONTRACT: each public entry persists its normalized
  * fingerprint relation (MEMORY_AND_DISK, recomputable lineage) so an
  * expensive upstream — real media decode — runs once, not per tier.
  * The persist is never unpersisted by the library (the returned
  * DataFrame is lazy; the library cannot know when its consumers
  * finish), so long-lived callers must clear storage when done
  * (`spark.catalog.clearCache()` or `df.unpersist()` — Bench's
  * resetStorage is the in-repo example). Funnel queries that need
  * several tiers over the SAME input should use [[bandedTiers]], which
  * persists the normalized relation ONCE and threads it through the
  * candidate + verified tiers instead of re-persisting per call.
  */
object Fingerprints {

  /** Normalized (id, _g, hi, lo) relation, persisted: the fingerprint
    * relation is consumed several times (banding + both verify sides +
    * the group-count check) — persist with RECOMPUTABLE lineage (never
    * a checkpoint) so an expensive upstream — real media decode — runs
    * once per executor, not 3×; rows are 4 longs each, so memory cost
    * is trivial next to the decode it saves, and eviction just falls
    * back to recompute. See the object scaladoc's storage contract. */
  private def normalized(hashes: DataFrame,
      groupCol: Option[String]): DataFrame =
    (groupCol match {
      case Some(c) => hashes.withColumn("_g", col(c))
      case None => hashes.withColumn("_g", lit(0))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate tier alone: distinct (doc_a < doc_b) pairs sharing at
    * least one (group, band, 16-bit value) bucket — the relation whose
    * VOLUME a banding config is sized by (see `media_band_funnel`). */
  def bandedCandidatePairs(hashes: DataFrame,
      groupCol: Option[String] = None): DataFrame =
    candidates(normalized(hashes, groupCol))

  /** Candidate AND verified tiers over ONE shared persisted normalized
    * relation — what the funnel measurement queries should call instead
    * of [[bandedCandidatePairs]] + [[bandedHammingPairs]] separately
    * (which would persist the identical 4-longs-per-row relation
    * twice). Returns (candidates, verified). */
  def bandedTiers(hashes: DataFrame, maxHamming: Int,
      groupCol: Option[String] = None): (DataFrame, DataFrame) = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val withG = normalized(hashes, groupCol)
    val cand = candidates(withG)
    (cand, verify(withG, cand, maxHamming, groupCol.isDefined))
  }

  private def candidates(withG: DataFrame): DataFrame = {
    val bands = withG.select(col("id"), col("_g"), explode(array(
        struct(lit(0).as("b"), col("lo").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(1).as("b"), shiftright(col("lo"), 16).as("bv")),
        struct(lit(2).as("b"), col("hi").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(3).as("b"), shiftright(col("hi"), 16).as("bv"))))
        .as("e"))
      .select(col("id"), col("_g"), col("e.b").as("b"), col("e.bv").as("bv"))
    bands.as("a").join(bands.as("c"),
        col("a._g") === col("c._g") && col("a.b") === col("c.b") &&
          col("a.bv") === col("c.bv") && col("a.id") < col("c.id"))
      .select(col("a.id").as("doc_a"), col("c.id").as("doc_b"))
      .distinct()
  }

  /** Exact verify of an arbitrary (doc_a, doc_b) candidate relation:
    * summed bit_count(xor) over shared groups, kept at <= maxHamming,
    * with the identical-group-sets contract enforced when grouped. */
  private def verify(withG: DataFrame, cand: DataFrame, maxHamming: Int,
      grouped: Boolean): DataFrame = {
    val scored = cand
      .join(withG.select(col("id").as("doc_a"), col("_g").as("ga"),
        col("hi").as("ha_hi"), col("lo").as("ha_lo")), "doc_a")
      .join(withG.select(col("id").as("b_doc"), col("_g").as("gb"),
        col("hi").as("hb_hi"), col("lo").as("hb_lo")),
        col("doc_b") === col("b_doc") && col("ga") === col("gb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(bit_count(col("ha_hi").bitwiseXOR(col("hb_hi"))) +
        bit_count(col("ha_lo").bitwiseXOR(col("hb_lo"))))
        .cast("int").as("hamming"),
        count(lit(1)).as("_n_shared"))
      .filter(col("hamming") <= maxHamming)
    val checked =
      if (!grouped) scored // single implicit group: contract trivial
      else {
        // one row per entity: its group count. Tiny relation, two equi
        // joins — enforcement cost is per-PAIR, never per-collision
        val gcnt = withG.groupBy(col("id"))
          .agg(countDistinct(col("_g")).as("_ng"))
        scored
          .join(gcnt.toDF("_a_id", "_na"), col("doc_a") === col("_a_id"))
          .join(gcnt.toDF("_b_id", "_nb"), col("doc_b") === col("_b_id"))
          .filter(col("_n_shared") === col("_na") &&
            col("_n_shared") === col("_nb"))
      }
    checked.select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Near-dup pairs (doc_a < doc_b, total Hamming <= maxHamming) from a
    * fingerprint relation with columns `id: Long, hi: Long, lo: Long`
    * (the 64-bit hash as two 32-bit halves, both non-negative) and
    * optionally `groupCol` — a per-entity sub-fingerprint key (e.g.
    * video frame index), one row per (id, group). With a group column,
    * candidates must collide within the same group and the verify SUMS
    * Hamming distance across all groups of the pair.
    *
    * The identical-group-sets contract is ENFORCED, not assumed: the
    * inner verify join sums only over SHARED groups, so a pair whose
    * group sets differ (e.g. clips with different frame counts) would
    * otherwise be scored on the shared prefix alone and reported as a
    * near-dup while its unshared frames were never compared. Pairs
    * where the shared-group count differs from either entity's own
    * group count are dropped — shared ⊆ each set, so equality on both
    * counts is exactly set equality. (Entities of differing lengths
    * are thus never near-dups, the conservative reading; callers who
    * want cross-length matching pre-align groups first.) */
  def bandedHammingPairs(hashes: DataFrame, maxHamming: Int,
      groupCol: Option[String] = None): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val withG = normalized(hashes, groupCol)
    verify(withG, candidates(withG), maxHamming, groupCol.isDefined)
  }

  /** TRUTH tier: every (doc_a < doc_b) pair verified exhaustively — n²
    * by definition, so at scale this runs over a SAMPLE (recall
    * estimation needs only a sample); it exists to measure the banded
    * tier's recall (`media_band_funnel`), never as the dedup path.
    *
    * Ungrouped plan shape: ONE broadcast nested loop with the Hamming
    * test inline as the join residual — surviving pairs are the only
    * rows that ever materialize (the n² pair relation exists only
    * inside the loop), and the broadcast side is the 4-longs-per-row
    * hash relation, sample-sized by this function's contract. The
    * grouped form needs the summed-distance aggregate and goes through
    * the general verify. */
  def exhaustiveHammingPairs(hashes: DataFrame, maxHamming: Int,
      groupCol: Option[String] = None): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val withG = normalized(hashes, groupCol)
    if (groupCol.isEmpty) {
      val a = withG.select(col("id").as("doc_a"),
        col("hi").as("ha_hi"), col("lo").as("ha_lo"))
      val b = withG.select(col("id").as("doc_b"),
        col("hi").as("hb_hi"), col("lo").as("hb_lo"))
      val ham = (bit_count(col("ha_hi").bitwiseXOR(col("hb_hi"))) +
        bit_count(col("ha_lo").bitwiseXOR(col("hb_lo")))).cast("int")
      a.join(broadcast(b),
          col("doc_a") < col("doc_b") && ham <= maxHamming)
        .select(col("doc_a"), col("doc_b"), ham.as("hamming"))
    } else {
      val ids = withG.select(col("id")).distinct()
      val allPairs = ids.toDF("doc_a").join(ids.toDF("doc_b"),
        col("doc_a") < col("doc_b"))
      verify(withG, allPairs, maxHamming, grouped = true)
    }
  }
}

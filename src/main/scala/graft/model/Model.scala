package graft.model

import java.sql.Timestamp

/** One transcript turn — the authoritative input shape (BASELINE.json input_hint). */
case class Turn(
  conv_id: String,
  turn_idx: Int,
  role: String,
  text: String,
  tool: String,
  ts: Timestamp)

/** A reassembled conversation document (post window-over-turn_idx). */
case class ConvDoc(
  conv_id: String,
  n_turns: Int,
  doc_text: String)

/**
 * Per-document signature bundle — everything downstream stages need, computed
 * in ONE narrow pass (graft.operators.Signatures). Sizes are capped so a row
 * stays O(KB) regardless of conversation length (skew armor at 100 TB).
 */
case class DocSig(
  conv_id: String,
  doc_id: Long,                  // conv_id's rank in Spark's string order
                                 //   (Signatures.docIds): the 8-byte key
                                 //   the LSH candidate join runs on
  n_turns: Int,
  n_tokens: Int,
  minhash: Array[Long],          // numPerms entries
  bands: Array[Long],            // numBands LSH keys
  simhash: Long,                 // canonical fingerprint
  simhash_bundle: Array[Long],   // normalization-variant fingerprints (X3 analog)
  sketch: Array[Long],           // bottom-k shingle sketch (sorted, mixed space)
  block_sketches: Array[Array[Long]], // per-turn-block sketches for patchwise verify (X8 analog)
  head_text: String)             // capped normalized text for span evidence (X15 analog)

/** Candidate pair out of the LSH band join (SURVEY.md §2.4 J3/J4). */
case class CandidatePair(
  pair_key: String,
  conv_a: String,
  conv_b: String,
  minhash_est: Double,
  band_id: Int,
  source: String)

/** Verified pair with full evidence columns (FIXTURES.md §3).
  * n_verified_blocks = per-turn-block sketches whose Jaccard clears the
  * block-verify floor (T4 tile-evidence analog, tile_detection.py:508-573). */
case class VerifiedPair(
  pair_key: String,
  conv_a: String,
  conv_b: String,
  minhash_est: Double,
  jaccard: Double,
  jaccard_patch_topk: Double,
  jaccard_patch_min: Double,
  n_verified_blocks: Int,
  simhash_dist: Int,
  bundle_dist: Int,
  variant_matched: Boolean,
  max_span_len: Int,
  span_frac: Double,
  span_offset: Int,              // alignment delta posA−posB of the longest
                                 //   span (X10 ECC-translation analog;
                                 //   0 when no span was computed)
  source: String)

/** Tiered pair after gating (T1/T2 analog). pair_type is the routed
  * content class the thresholds were keyed on ("cross" when endpoints
  * disagree, "default" when no profile was supplied). */
case class TieredPair(
  pair_key: String,
  conv_a: String,
  conv_b: String,
  minhash_est: Double,
  jaccard: Double,
  jaccard_patch_topk: Double,
  n_verified_blocks: Int,
  simhash_dist: Int,
  bundle_dist: Int,
  max_span_len: Int,
  span_frac: Double,
  clip_z_analog: Double,
  pair_type: String,
  tier: String,
  tier_path: String,
  source: String)

/** Connected-component cluster assignment. */
case class ClusterRow(conv_id: String, cluster_id: String, cluster_size: Long)

/**
 * Per-content-class tier thresholds (T2 analog — the reference's
 * modality-specific threshold table, tier_classifier.py:233-353 with
 * constants at ai_...AUTO.py:222-253). Classes come from
 * IntraDup.convProfile routing; a pair whose endpoints route differently
 * falls back to the base thresholds ("cross-modality fallback").
 */
case class TypeGates(
  tierAJaccard: Double,
  tierARelaxJaccard: Double,
  tierARelaxSum: Double,
  tierBJaccard: Double,
  zVeto: Double)

/**
 * Pipeline configuration — mirrors the reference's threshold constants
 * (ai_pdf_panel_duplicate_check_AUTO.py:95-215) re-based onto text signals
 * at the fixed shingle/signature config from SURVEY.md §7.
 */
case class DedupConfig(
  shingleK: Int = 5,             // word k-grams (SURVEY.md §7 fixed config)
  maskToolPayloads: Boolean = true, // F5 preprocessing: replace tool-turn
                                 //   payloads with a stable [tool:name]
                                 //   token before assembly (text analog of
                                 //   the reference's CLAHE normalization
                                 //   flag, clahe_ab_test.py — A/B-testable
                                 //   via tools/AbTest); folded into the
                                 //   checkpoint fingerprint automatically
  numPerms: Int = 128,           // MinHash permutations
  bands: Int = 64,               // LSH bands (b); b=64 × r=2 ⇒ LSH threshold
  rows: Int = 2,                 //   (1/b)^(1/r) ≈ 0.125 — catches the weakest
                                 //   planted transform (subst10, J ≈ 0.42 at
                                 //   k=5) with P(miss) < 1e-5; recall ≥ 0.99
  minhashSeed: Long = 123L,      // set_seeds(123) parity (ai_...AUTO.py:344)
  sketchK: Int = 1024,           // bottom-k sketch size per doc (payload cap)
  numBlocks: Int = 9,            // patch grid 3x3 analog (similarity_engine.py:712)
  blockSketchK: Int = 256,
  patchTopK: Int = 4,            // SSIM top-k patch mean k (similarity_engine.py:763-771)
  blockVerifyJaccard: Double = 0.5, // per-block "verified tile" floor (T4,
                                 //   tile_detection.py:508-573 analog)
  headChars: Int = 8000,         // capped text for span evidence
  simThreshold: Double = 0.25,   // candidate keep threshold on est-Jaccard (F1);
                                 //   ≥6σ below the weakest true-dup J (0.42)
  simhashMaxDist: Int = 3,       // PHASH_MAX_DIST=3 parity (ai_...AUTO.py:95)
  minBandHits: Int = 2,          // LSH-only pairs need ≥ this many distinct
                                 //   band collisions (bundle/bridge exempt):
                                 //   kills the one-hit sub-threshold
                                 //   background before the signature join
  bandBucketCap: Int = 256,      // sub-bucket size: over-cap buckets are
                                 //   SALTED into cap-sized sub-buckets (never
                                 //   dropped) — worst-case pairs per bucket
                                 //   O(bucket·cap), not O(bucket²)
  maxPairsPerDoc: Int = 64,      // F4 output cap PER DOCUMENT (reference
                                 //   analog TILE_MAX_TILES_PER_PANEL,
                                 //   tile_detection.py:36 — replaces the
                                 //   global CLIP_MAX_OUTPUT_PAIRS driver
                                 //   funnel, ai_...AUTO.py:99)
  tierAJaccard: Double = 0.90,   // strict path ≙ CLIP≥0.99 ∧ SSIM≥0.95
  tierARelaxJaccard: Double = 0.78, // relaxed path ≙ CLIP≥0.94 ∧ SSIM≥0.65 ∧ sum≥1.62
  tierARelaxSum: Double = 1.45,  // minhash_est + jaccard floor on relaxed path
  tierBJaccard: Double = 0.32,   // ≥6σ below subst10's J, far above hard-negative J (~0.01)
  spanMinLen: Int = 200,         // exact-substring Tier-A evidence
  spanMinFrac: Double = 0.30,
  zVeto: Double = 1.5,           // template-lookalike veto (CLIP_Z analog, ai_...AUTO.py:870-885)
  groupGap: Option[Int] = None,  // F2 same/adjacent-group suppression gap:
                                 //   None = OFF (reference default,
                                 //   ai_...AUTO.py:133-137); Some(0) = drop
                                 //   same-group pairs, Some(1) also drops
                                 //   adjacent groups — applied by Pipeline
                                 //   between candidates and verification
                                 //   when a groups table is supplied
  ccMaxIters: Int = 25,
  cacheVersion: String = "v1",
  // T2: per-content-class threshold overrides keyed on the convProfile
  // route (tier_classifier.py:233-353 analog). Classes absent from the map
  // — and "cross"-typed pairs — use the base thresholds above.
  //   tool_heavy: tool dumps are template-heavy → stricter relax/B gates +
  //     a more aggressive z veto (the reference tightens western_blot/gel
  //     the same way);
  //   longform: long documents give stable shingle statistics → the relax
  //     band can afford to be slightly wider (reference: bright_field).
  typeGates: Map[String, TypeGates] = Map(
    "tool_heavy" -> TypeGates(0.92, 0.85, 1.60, 0.40, 2.0),
    "longform"   -> TypeGates(0.90, 0.75, 1.40, 0.30, 1.5)))

object DedupConfig {
  /** Presets mirroring models/config.py:222-265 (fast/balanced/thorough). */
  val balanced: DedupConfig = DedupConfig()
  val fast: DedupConfig = DedupConfig(numPerms = 64, bands = 32, rows = 2, sketchK = 512)
  /** High-precision preset: LSH threshold ≈ 0.71 — the SURVEY.md §7 b=16×r=8
    * banding for corpora where only strong near-dups matter (cheaper join). */
  val precise: DedupConfig = DedupConfig(
    bands = 16, rows = 8, simThreshold = 0.71, tierBJaccard = 0.60)
}

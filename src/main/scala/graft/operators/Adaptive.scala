package graft.operators

import org.apache.spark.sql.Dataset
import graft.model.{DedupConfig, Turn}

/**
 * Size-adaptive plan dispatch (SURVEY.md §2.3 X6, §4 "Adaptive plan
 * selection" — the reference re-plans per input size in `auto_configure`,
 * /root/reference/ai_pdf_panel_duplicate_check_AUTO.py:467-530, and picks
 * its LSH prefix length from corpus size in `adaptive_bucket_prefix`,
 * :3990-4000: bigger corpus → longer prefix → more selective buckets).
 *
 * The text-domain translation: banding selectivity (the LSH similarity
 * threshold ≈ (1/b)^(1/r)) tightens as the corpus grows, and the skew caps
 * shrink — at 10⁶+ documents the candidate budget per document must fall
 * or the verify join dominates; at 10³ documents maximal recall is free.
 *
 * | corpus docs | bands×rows | LSH thr | bucket cap | pairs/doc |
 * |-------------|-----------|---------|------------|-----------|
 * | < 10k       | 64×2      | 0.125   | 512        | 64        |
 * | < 1M        | 64×2      | 0.125   | 256        | 48        |
 * | < 100M      | 32×4      | 0.42    | 192        | 32        |
 * | ≥ 100M      | 16×8      | 0.71    | 128        | 24        |
 *
 * numPerms stays 128 (bands×rows never exceeds it), so signatures are
 * config-compatible across tiers; simThreshold only ever rises with the
 * banding threshold (candidates the bands can produce are kept).
 */
object Adaptive {

  /** The broadcast-or-shuffle size gate: true when `rows` × `capBytesPerRow`
    * (an upper bound on one row of the broadcast side) fits under the
    * session's `spark.sql.autoBroadcastJoinThreshold` (-1 = never). The
    * bound is computed, not left to the planner, because a
    * localCheckpointed LogicalRDD's size estimate does not see array
    * payloads. `rows` is by-name: a disabled threshold never pays for the
    * count. */
  private[graft] def fits(spark: org.apache.spark.sql.SparkSession,
                          rows: => Long, capBytesPerRow: Long): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && rows <= threshold / capBytesPerRow
  }

  /** auto_configure analog: derive engine parameters from corpus size. */
  def configure(nDocs: Long, base: DedupConfig = DedupConfig.balanced): DedupConfig = {
    if (nDocs < 10000L)
      base.copy(bands = 64, rows = 2, bandBucketCap = 512, maxPairsPerDoc = 64)
    else if (nDocs < 1000000L)
      base.copy(bands = 64, rows = 2, bandBucketCap = 256, maxPairsPerDoc = 48)
    // Coarse tiers (rows ≥ 4) must take minBandHits down to 1: the default
    // of 2 is calibrated for b=64/r=2 where the weakest transform collides
    // in ~11 bands — at 32×4 a just-above-threshold pair (J ≈ 0.5) expects
    // only ~2 band collisions, so requiring ≥2 DISTINCT hits would cut
    // near-threshold recall from ~0.87 to ~0.60 (recall gate for this tier
    // in AdaptiveSpec).
    else if (nDocs < 100000000L)
      base.copy(bands = 32, rows = 4, bandBucketCap = 192, maxPairsPerDoc = 32,
        simThreshold = math.max(base.simThreshold, 0.35), minBandHits = 1)
    else
      base.copy(bands = 16, rows = 8, bandBucketCap = 128, maxPairsPerDoc = 24,
        simThreshold = math.max(base.simThreshold, 0.60), minBandHits = 1)
  }

  /**
   * Probe corpus size and dispatch (the reference's dispatch-by-n at
   * ai_...AUTO.py:3766-3783). The probe is one approx-distinct scan of the
   * (cached) input — on a real deployment the table's metadata/statistics
   * would substitute.
   */
  def runAuto(turns: Dataset[Turn], base: DedupConfig = DedupConfig.balanced,
              runId: String = "auto"): (DedupConfig, Pipeline.Result) = {
    import org.apache.spark.sql.functions._
    if (turns.storageLevel == org.apache.spark.storage.StorageLevel.NONE) turns.persist()
    val nDocs = turns.select(approx_count_distinct(col("conv_id")).as("n"))
      .head().getLong(0)
    val cfg = configure(nDocs, base)
    (cfg, Pipeline.runPipelined(turns, cfg, runId))
  }
}

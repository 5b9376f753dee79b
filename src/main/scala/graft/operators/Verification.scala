package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.model._

/**
 * Candidate-pair verification (SURVEY.md §2.3 X4/X8/X15, §2.4 J5): the
 * salted-repartition candidate-pair join pulling per-doc signature payloads
 * to the verifiers, then a narrow evidence map per pair.
 *
 * Evidence computed per pair —
 *   - exact Jaccard of bottom-k shingle sketches (global SSIM analog)
 *   - per-block Jaccard, top-k mean + min (3x3 patch-grid SSIM analog,
 *     /root/reference/duplicate_detector/core/similarity_engine.py:640-797)
 *   - SimHash Hamming distance + min-over-bundle distance with short-circuit
 *     (hamming_min_transform analog, similarity_engine.py:359-400)
 *   - longest-common-substring span over capped head text — exact
 *     generalized-suffix-array kernel (SuffixSpans, the north_rule's
 *     per-partition suffix-array stage) — computed ONLY on triggered pairs
 *     (progressive gating: the reference runs ORB only on CLIP≥0.985 ∨
 *     pHash≤4 triggers, geometric_verifier.py:424-441; here the expensive
 *     span check runs only where cheap evidence is inconclusive)
 *
 * Byte discipline (this stage is the pipeline's weakest scaler — the
 * memory-bus wall the scaling series attributes): the full DocSig payload
 * is ~16 KB/doc at the bench corpus (1024×8 B sketch + 9×256×8 B block
 * sketches + ~5 KB head text). On the shuffle plan, join1's output —
 * (pair + payload_a) — re-exchanges by conv_b, so every payload byte ships
 * once more PER PAIR. Three structural cuts:
 *   1. Sketches cross the joins as their HIGH-32-BIT truncations
 *      (`Array[Int]`): mix64 is a bijection, so sketch values are distinct
 *      uniform 64-bit keys and two distinct values collide in their high
 *      32 bits with p = 2⁻³² — per pair of k-sized sketches an expected
 *      k²·2⁻³² ≈ 2×10⁻⁴ spurious intersections, invisible next to the
 *      bottom-k sampling error. Truncation of a sorted array is monotonic,
 *      so the merge-scan kernel runs unchanged on ints at HALF the memory
 *      traffic; `array_distinct` guards the rare in-doc collision so
 *      intersection counting stays set-exact. The DuckDB replay consumes
 *      the SAME truncated values (oracleSurface dumps sk/bk post-
 *      truncation), so `flag_dedup_verified` remains hash-exact.
 *   2. head_text never enters the pair joins. Pass 1 computes every cheap
 *      evidence column payload-slim; the expensive span kernel's trigger
 *      (needSpan: inconclusive-but-plausible) is a pass-1 OUTPUT, so pass 2
 *      joins heads back for ONLY the triggered slice (typically a small
 *      fraction of pairs) and the union re-assembles the stage. The pass-1
 *      boundary is an eager localCheckpoint — the pipeline's stage idiom —
 *      so the fat join executes exactly once, not once per branch.
 *   3. When the whole payload table fits under the session's
 *      `spark.sql.autoBroadcastJoinThreshold` (see `Adaptive.fits`),
 *      both payload sides BROADCAST and the pair stream is read straight
 *      from the candidates checkpoint with no exchange at all: no pair
 *      ships a copy of its first document's sketches (skewed_corpus,
 *      traced: the stage's shuffle write fell from 9-11 MB to 1.4-1.5 MB,
 *      what pass 2's heads joins still ship).
 *
 * Scale notes: the payload dispatch is by an upper bound on the payload
 * table's bytes — docs × `payloadCapBytes` (~13.5 KB/doc for `balanced`) —
 * against the broadcast threshold, so at the bench session's 64 MB it
 * broadcasts up to ~4.9k docs and a threshold of -1 always shuffles. The
 * bound is computed, not left to the planner: a localCheckpointed
 * LogicalRDD's size estimate does not see array payloads (a 568-row
 * payload checkpoint: 2.2 KB estimated, 3.4 MB of rows), so a hint-free
 * join would broadcast at any scale. Above the gate (sf0.1's 21k docs
 * included) the payload joins are plain shuffled hash joins with AQE skew
 * splitting; per-pair work is bounded by the sketch caps and headChars.
 * SHUFFLE_HASH on the payload side: sort-merge would SORT the fat
 * (pair + payload) stream — measured 2.0 GB of sort spill per run at 100k
 * docs — while a hash join builds on the per-doc payload shard
 * (|docs|·payload / shuffle-partition) and streams the pair side unsorted
 * into the evidence map. Pairs need no pre-spread on either plan: per-task
 * skew is bounded by the per-doc candidate cap — a hot conversation
 * contributes at most maxPairsPerDoc pairs per side.
 */
object Verification {

  /** Upper bound on one triggered endpoint id's bytes in the pass-2 heads
    * prune's broadcast hash relation, which keeps every id, duplicates
    * included: the id as key row and as value row, each an UnsafeRow of
    * 8 B null bitset + 8 B offset word + the id (64 B), plus 16 B of record
    * lengths and chain pointer, plus up to 48 B of slot array (2 longs per
    * slot, capacity the next power of two ≥ 1.5 × rows). 224 B; measured
    * 160 B per 9-char id (local[4], 1M ids: two 64 MB pages plus a 32 MB
    * slot array). */
  private[graft] val headIdCapBytes: Long = 2L * (8 + 8 + 64) + 16 + 48

  /** Per-conversation evidence surfaces for the DuckDB replay oracle of
    * `flag_dedup_verified`: the exploded global sketch, the exploded
    * per-block sketches, and the per-doc scalars (simhash, array sizes,
    * head length) the evidence map reads. sk/bk are dumped EXACTLY as the
    * evidence map consumes them — the high-32-bit truncated, deduped
    * values — and sketch_n counts the truncated array, so the SQL replay
    * (intersection via equi-join, union via skn_a + skn_b − i) reproduces
    * the kernel bit-for-bit. With these dumped, every verified-pair column
    * except the suffix-array span is re-derivable in pure SQL (jaccard =
    * merge-scan set ratio, patch stats = ordered top-k over per-block
    * jaccards, hamming = bit_count(xor)). */
  def oracleSurface(sigs: Dataset[graft.model.DocSig]): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
    "pipe_sketch" -> sigs.select(col("conv_id"),
      explode(GraftFunctions.sketch32(col("sketch"))).as("sk")),
    "pipe_blocks" -> sigs
      .select(col("conv_id"), posexplode(GraftFunctions.blocks32(col("block_sketches"))).as(Seq("block_id", "bks")))
      .select(col("conv_id"), col("block_id"), explode(col("bks")).as("bk")),
    "pipe_doc" -> sigs.select(col("conv_id"), col("simhash"),
      size(GraftFunctions.sketch32(col("sketch"))).as("sketch_n"),
      size(col("block_sketches")).as("n_blocks"),
      length(col("head_text")).as("head_len")))

  /** The pass-1 evidence projection over the joined (pair + payload_a/_b)
    * table — split out so tooling can dump the pre-checkpoint plan (verify
    * eagerly checkpoints it, so the stage plan is invisible from the
    * returned Dataset). */
  private def pass1Plan(joined: org.apache.spark.sql.DataFrame,
                        cfg: DedupConfig): org.apache.spark.sql.DataFrame = {
    val evCol = GraftFunctions.pair_evidence(
      col("sketch_a"), col("block_sketches_a"), col("simhash_a"), col("simhash_bundle_a"),
      col("sketch_b"), col("block_sketches_b"), col("simhash_b"), col("simhash_bundle_b"),
      col("minhash_est"), cfg.patchTopK, cfg.blockVerifyJaccard,
      cfg.simhashMaxDist, cfg.tierAJaccard)
    joined.select(col("pair_key"), col("conv_a"), col("conv_b"),
      col("minhash_est"), col("source"), evCol.as("ev"))
  }

  /** Upper bound on one pass-1 payload row's bytes, from the config's
    * caps: the high-32 truncated sketch words, 4 B × (sketchK + numBlocks ×
    * blockSketchK), plus array headers and null bitsets (8 B per array),
    * the 4-variant simhash bundle and the simhash (8 B each) and the id
    * (64 B). ~13.5 KB for `balanced`; short documents carry less. */
  private[graft] def payloadCapBytes(cfg: DedupConfig): Long =
    4L * (cfg.sketchK + cfg.numBlocks.toLong * cfg.blockSketchK) +
      8L * (cfg.numBlocks + 3) + 8L * 5 + 64L

  /** Dev plan access: the full pass-1 fragment (payload joins + evidence
    * projection) as an UN-executed plan, for `.explain` dumps. `nDocs` as
    * in `verify`; Some(1L) / Some(Long.MaxValue) force either branch. */
  private[graft] def pass1PlanFor(pairs: Dataset[CandidatePair],
                                  sigs: Dataset[DocSig],
                                  cfg: DedupConfig,
                                  nDocs: Option[Long] = None): org.apache.spark.sql.DataFrame =
    pass1Plan(joinedFor(pairs, sigs, cfg, nDocs), cfg)

  /** Pairs + both endpoints' pass-1 payload (NO head text, sketches
    * truncated to ints — ~2.8 KB/doc at the bench corpus vs the full
    * DocSig's ~16 KB). When `nDocs` × `payloadCapBytes` fits (see
    * `Adaptive.fits`), both payload sides broadcast and the pair stream
    * stays where the candidates checkpoint left it — no exchange. Otherwise two SHUFFLE_HASH joins: the conv_a
    * join re-shuffles the pair table and its (pair + payload_a) output
    * re-exchanges by conv_b, the stage's dominant byte mover at scale. */
  private def joinedFor(pairs: Dataset[CandidatePair],
                        sigs: Dataset[DocSig],
                        cfg: DedupConfig,
                        nDocs: Option[Long]): org.apache.spark.sql.DataFrame = {
    val small = Adaptive.fits(pairs.sparkSession, nDocs.getOrElse(sigs.count()),
      payloadCapBytes(cfg))
    val payload = sigs.select(col("conv_id"), col("simhash"), col("simhash_bundle"),
      GraftFunctions.sketch32(col("sketch")).as("sketch"),
      GraftFunctions.blocks32(col("block_sketches")).as("block_sketches"))
    def side(s: String) = payload.toDF(payload.columns.map(_ + s): _*)
      .hint(if (small) "broadcast" else "shuffle_hash")
    pairs.toDF()
      .join(side("_a"), col("conv_a") === col("conv_id_a"))
      .join(side("_b"), col("conv_b") === col("conv_id_b"))
  }

  /** `nDocs`: the row count of `sigs` when the caller already has it (the
    * pipeline's signature-stage count); without it, `sigs` is counted here,
    * so every caller takes the same payload branch for the same input. */
  def verify(pairs: Dataset[CandidatePair], sigs: Dataset[DocSig],
             cfg: DedupConfig, nDocs: Option[Long] = None): Dataset[VerifiedPair] = {
    val spark = pairs.sparkSession
    import spark.implicits._

    val joined = joinedFor(pairs, sigs, cfg, nDocs)

    val cutoff = cfg.simhashMaxDist

    // The per-pair evidence body runs as ONE codegen'd expression
    // (graft.functions.PairEvidenceExpr — same TextKernel calls in the same
    // order as the former tuple13 Dataset.map, so outputs are bit-identical;
    // VerificationSpec pins full-row parity against a direct kernel replay).
    // Motivation (optimization r06, guide §1.2 per-task work): the encoder's
    // deserialize/serialize trees dominated the stage's Catalyst planning
    // (~0.75 s per pipeline rep) and its object boundary re-boxed every
    // sketch array per row; the expression form plans in milliseconds and
    // feeds the evidence loop ArrayData views with zero copies.
    val pass1 = pass1Plan(joined, cfg)
      // eager stage boundary: the fat join above must run ONCE, not once
      // per consuming branch below (and the checkpoint is narrow — the
      // evidence struct, ~60 B/row); checkpointing the UN-flattened struct
      // guarantees the evidence expression evaluates once per pair no
      // matter how many extractions follow
      .localCheckpoint(true)
      .select($"pair_key", $"conv_a", $"conv_b", $"minhash_est",
        $"ev.jaccard".as("jaccard"),
        $"ev.jaccard_patch_topk".as("jaccard_patch_topk"),
        $"ev.jaccard_patch_min".as("jaccard_patch_min"),
        $"ev.n_verified_blocks".as("n_verified_blocks"),
        $"ev.simhash_dist".as("simhash_dist"),
        $"ev.bundle_dist".as("bundle_dist"),
        ($"ev.bundle_dist" <= lit(cutoff)).as("variant_matched"),
        lit(0).as("max_span_len"), lit(0.0).as("span_frac"),
        lit(0).as("span_offset"), $"source",
        $"ev.need_span".as("need_span"))

    val done = pass1.filter(!$"need_span").drop("need_span").as[VerifiedPair]

    // Pass 2 — X15 span evidence for the triggered slice only: exact
    // generalized-suffix-array LCS (the north_rule's per-partition
    // suffix-array stage, running where the two texts are already
    // co-located), which also yields the span's alignment offset (X10
    // analog). Heads join in per TRIGGERED pair — the untriggered majority
    // never ships a byte of text.
    //
    // Heads prefilter (optimization r06, guide §3.2 reduce-the-big-side):
    // head_text is the fattest per-doc payload (~headChars bytes), and the
    // two SHUFFLE_HASH joins below shuffle the WHOLE heads table to serve
    // only the triggered slice's endpoints (measured 67 MB of a ~110 MB
    // verify-stage shuffle at the bench corpus for ~8% of docs actually
    // touched). The triggered pair count is a cheap count over the pass-1
    // checkpoint, so when the slice's 2 × nTrig endpoint ids fit the
    // broadcast threshold at `headIdCapBytes` each, they BROADCAST into a
    // left-semi prune of the heads scan — map-side, before the heads
    // exchange ships a byte. Otherwise the unfiltered plan is unchanged —
    // the same dispatch-by-observed-size as the pass-1 payload broadcast.
    // Plan choice only: the semi join drops rows the inner pair joins
    // would drop anyway.
    val spanned0 = pass1.filter($"need_span").drop("need_span")
    val allHeads = sigs.select($"conv_id", $"head_text")
    val heads =
      // 2 ids per triggered pair, counted by a cached scan of the pass-1
      // checkpoint
      if (Adaptive.fits(spark, 2L * spanned0.count(), headIdCapBytes)) {
        // no distinct(): it costs an exchange + agg job on every run and
        // bounds nothing in the worst case (all endpoints distinct); it
        // pays only when the triggered slice is large AND
        // endpoint-repetitive
        val ids = spanned0
          .select(explode(array($"conv_a", $"conv_b")).as("conv_id"))
        allHeads.join(broadcast(ids), Seq("conv_id"), "left_semi")
      } else allHeads
    // span kernel as one codegen'd expression (LcsSpanStats — identical
    // SuffixSpans call and Java-String length arithmetic as the
    // former tuple14 map); the three extractions below share one evaluation
    // via codegen subexpression elimination over the identical subtree
    val spCol = GraftFunctions.lcs_span_stats($"head_a", $"head_b")
    val spanned = spanned0
      .join(heads.select($"conv_id".as("conv_a"), $"head_text".as("head_a"))
        .hint("shuffle_hash"), "conv_a")
      .join(heads.select($"conv_id".as("conv_b"), $"head_text".as("head_b"))
        .hint("shuffle_hash"), "conv_b")
      .select($"pair_key", $"conv_a", $"conv_b", $"minhash_est", $"jaccard",
        $"jaccard_patch_topk", $"jaccard_patch_min", $"n_verified_blocks",
        $"simhash_dist", $"bundle_dist", $"variant_matched",
        spCol.getField("max_span_len").as("max_span_len"),
        spCol.getField("span_frac").as("span_frac"),
        spCol.getField("span_offset").as("span_offset"),
        $"source")
      .as[VerifiedPair]

    done.unionByName(spanned)
  }
}

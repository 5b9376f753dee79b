package graft

import graft.model.{ConvDoc, DedupConfig}
import graft.operators.{Adaptive, LshJoin, Pipeline, Signatures, SuffixSpans, Verification}
import graft.sources.ConversationGen
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

/**
 * The verify stage's slim-payload restructure (high-32-bit sketch
 * truncation + the deferred head-text join over only needSpan pairs) must
 * preserve the stage's contract: every candidate pair verifies exactly
 * once, the truncated jaccard equals the reference 64-bit jaccard up to
 * the 2⁻³² collision probability (exact on any test-sized corpus), and the
 * progressive span gate still fires with real spans on inconclusive-but-
 * plausible pairs while conclusive pairs never pay for text. The pass-1
 * payload dispatch (broadcast when the corpus fits, shuffled hash joins
 * otherwise) must give identical outputs on both branches.
 */
class VerificationSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val cfg = DedupConfig.balanced

  // mid-strength near-dups: enough shared text to pair, enough edits that
  // jaccard sits below tierAJaccard (0.90) so the span gate triggers
  private def corpus: Seq[ConvDoc] = {
    val base = (1 to 220).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val editedTail = base.substring(0, (base.length * 0.55).toInt) +
      (1 to 160).map(i => s"zeta$i eta$i theta$i").mkString(" ")
    val unrelated = (1 to 260).map(i => s"omicron$i rho$i sigma$i tau$i").mkString(" ")
    Seq(
      ConvDoc("c_base", 4, base),
      ConvDoc("c_exact", 4, base),              // exact dup: conclusive, no span needed
      ConvDoc("c_edit", 4, editedTail),         // partial overlap: span gate fires
      ConvDoc("c_far", 4, unrelated))
  }

  private def verifiedAll = {
    val sigs = Signatures.compute(spark.createDataset(corpus), cfg)
    val cands = LshJoin.candidates(sigs, cfg)
    (sigs, cands, Verification.verify(cands, sigs, cfg).collect())
  }

  test("every candidate pair verifies exactly once (two-branch union is a partition, not a resample)") {
    val (_, cands, verified) = verifiedAll
    val candKeys = cands.collect().map(_.pair_key).sorted
    assert(candKeys.nonEmpty, "fixture must produce candidate pairs")
    assert(verified.map(_.pair_key).sorted.toSeq === candKeys.toSeq)
  }

  test("span gate: inconclusive pairs carry a real span, conclusive pairs carry zeros") {
    val (_, _, verified) = verifiedAll
    val exact = verified.find(p =>
      Set(p.conv_a, p.conv_b) == Set("c_base", "c_exact")).get
    // exact dup: bundle variant match short-circuits the span gate
    assert(exact.variant_matched && exact.max_span_len == 0 && exact.span_offset == 0)

    val edited = verified.find(p =>
      Set(p.conv_a, p.conv_b) == Set("c_base", "c_edit")).get
    assert(edited.jaccard < cfg.tierAJaccard && edited.bundle_dist > cfg.simhashMaxDist,
      s"fixture must be inconclusive: j=${edited.jaccard} bd=${edited.bundle_dist}")
    // the deferred head join must still deliver the texts: the shared 55%
    // prefix is a long exact span
    assert(edited.max_span_len > cfg.spanMinLen,
      s"span gate must fire with a real span, got ${edited.max_span_len}")
    assert(edited.span_frac > 0.3)
  }

  test("expression-based evidence matches a direct kernel replay of the former map, full row") {
    import graft.functions.TextKernel
    val (sigs, _, verified) = verifiedAll
    val byId = sigs.collect().map(s => s.conv_id -> s).toMap
    def sk32(a: Array[Long]): Array[Int] =
      a.map(v => (v >> 32).toInt).distinct
    verified.foreach { p =>
      val (sa, sb) = (byId(p.conv_a), byId(p.conv_b))
      val (skA, skB) = (sk32(sa.sketch), sk32(sb.sketch))
      val jac = TextKernel.jaccardSorted(skA, skB)
      val blkA = sa.block_sketches.map(sk32); val blkB = sb.block_sketches.map(sk32)
      val nBlk = math.min(blkA.length, blkB.length)
      val blockJ = (0 until nBlk).map(i => TextKernel.jaccardSorted(blkA(i), blkB(i))).toArray
      val verifiedBlocks = blockJ.count(_ >= cfg.blockVerifyJaccard)
      java.util.Arrays.sort(blockJ)
      val top = blockJ.reverse.take(cfg.patchTopK)
      val patchTopK = if (top.isEmpty) 0.0 else top.sum / top.length
      val patchMin = if (nBlk == 0) 0.0 else blockJ(0)
      val shDist = TextKernel.hamming(sa.simhash, sb.simhash)
      val bunDist = TextKernel.minHammingBundle(sa.simhash_bundle, sb.simhash_bundle, cfg.simhashMaxDist)
      val needSpan = jac < cfg.tierAJaccard && bunDist > cfg.simhashMaxDist && p.minhash_est >= 0.15
      assert(p.jaccard === jac, s"${p.pair_key} jaccard")
      assert(p.jaccard_patch_topk === patchTopK, s"${p.pair_key} patch_topk")
      assert(p.jaccard_patch_min === patchMin, s"${p.pair_key} patch_min")
      assert(p.n_verified_blocks === verifiedBlocks, s"${p.pair_key} n_verified_blocks")
      assert(p.simhash_dist === shDist, s"${p.pair_key} simhash_dist")
      assert(p.bundle_dist === bunDist, s"${p.pair_key} bundle_dist")
      assert(p.variant_matched === (bunDist <= cfg.simhashMaxDist), s"${p.pair_key} variant_matched")
      if (needSpan) {
        val (l, pa, pb) = graft.operators.SuffixSpans.lcsWithPositions(sa.head_text, sb.head_text)
        val minLen = math.max(1, math.min(sa.head_text.length, sb.head_text.length))
        assert(p.max_span_len === l, s"${p.pair_key} span")
        assert(p.span_frac === l.toDouble / minLen, s"${p.pair_key} span_frac")
        assert(p.span_offset === pa - pb, s"${p.pair_key} span_offset")
      } else {
        assert(p.max_span_len === 0 && p.span_frac === 0.0 && p.span_offset === 0,
          s"${p.pair_key} untriggered pair must carry zero span")
      }
    }
  }

  test("pipeline spans equal a direct suffix-array replay of the two head texts") {
    val r = Pipeline.runPipelined(ConversationGen.corpus(spark, ConversationGen.smoke), cfg)
    val heads = r.sigs.select($"conv_id", $"head_text").as[(String, String)].collect().toMap
    val spanned = r.verified.filter($"max_span_len" > 0).collect()
    assert(spanned.nonEmpty, "fixture must carry spans")
    spanned.foreach { p =>
      val (ha, hb) = (heads(p.conv_a), heads(p.conv_b))
      val (l, pa, pb) = SuffixSpans.lcsWithPositions(ha, hb)
      val minLen = math.max(1, math.min(ha.length, hb.length))
      assert((p.max_span_len, p.span_frac, p.span_offset) == (l, l.toDouble / minLen, pa - pb),
        p.pair_key)
    }
  }

  test("high-32 truncated jaccard matches the 64-bit reference jaccard on this corpus") {
    val (sigs, _, verified) = verifiedAll
    val full = sigs.collect().map(s => s.conv_id -> s.sketch).toMap
    verified.foreach { p =>
      val ref = graft.functions.TextKernel.jaccardSorted(full(p.conv_a), full(p.conv_b))
      assert(math.abs(p.jaccard - ref) < 1e-12,
        s"${p.pair_key}: truncated ${p.jaccard} vs 64-bit $ref")
    }
  }

  test("payload gate: docs × per-doc payload cap against the broadcast threshold") {
    val cap = Verification.payloadCapBytes(cfg)
    // 4 B × (1024 + 9 × 256) sketch words plus headers, bundle and id
    assert(cap > 13312L && cap < 14000L, s"cap=$cap")
    withThreshold("64m") {
      val fit = (64L << 20) / cap
      assert(Adaptive.fits(spark, fit, cap))
      assert(!Adaptive.fits(spark, fit + 1, cap))
      assert(!Adaptive.fits(spark, 21280L, cap), "sf0.1 must shuffle")
    }
    withThreshold("-1") {
      assert(!Adaptive.fits(spark,
        throw new AssertionError("a disabled threshold must not count the docs"), cap))
    }
  }

  test("heads gate: 2 ids per triggered pair × per-id cap against the broadcast threshold") {
    val cap = Verification.headIdCapBytes
    withThreshold("64m") {
      val fitPairs = (64L << 20) / cap / 2
      assert(Adaptive.fits(spark, 2 * fitPairs, cap))
      assert(!Adaptive.fits(spark, 2 * (fitPairs + 1), cap))
      // the measured 160 MB relation of the former 500k-pair limit no longer fits
      assert(!Adaptive.fits(spark, 2 * 500000L, cap))
      // both benchmark workloads' triggered slices (391 and 341 pairs) do
      assert(Adaptive.fits(spark, 2 * 391L, cap))
    }
  }

  test("heads dispatch: pruned and unpruned heads joins give identical verified rows") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val sigs = Signatures.compute(graft.operators.Reassembly.assemble(
      ConversationGen.corpus(spark, ConversationGen.smoke)), cfg).localCheckpoint(true)
    val cands = LshJoin.candidates(sigs, cfg).localCheckpoint(true)
    // the payload pinned to its shuffle branch, so only the heads gate moves
    def run() = {
      val v = Verification.verify(cands, sigs, cfg, nDocs = Some(Long.MaxValue))
      val rows = v.collect().sortBy(_.pair_key).toSeq
      val semis = collect(v.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      }
      (rows, semis.size)
    }
    val (unpruned, unprunedSemis) = withThreshold("-1")(run())
    val (pruned, prunedSemis) = withThreshold("64m")(run())
    assert(unpruned.exists(_.max_span_len > 0), "fixture must trigger the span pass")
    assert(unprunedSemis == 0 && prunedSemis == 1, s"semi joins: $unprunedSemis / $prunedSemis")
    assert(pruned == unpruned, "verified rows differ between the heads branches")
  }

  test("payload dispatch: both branches give identical verified, tiered and clusters") {
    import spark.implicits._
    def run() = {
      val r = Pipeline.runPipelined(ConversationGen.corpus(spark, ConversationGen.smoke), cfg)
      (r.verified.collect().sortBy(_.pair_key).toSeq,
        r.tiered.collect().sortBy(_.pair_key).toSeq,
        r.clusters.collect().sortBy(_.conv_id).toSeq)
    }
    val (vShuffle, tShuffle, cShuffle) = withThreshold("-1")(run())
    val (vBroadcast, tBroadcast, cBroadcast) = withThreshold("1g")(run())
    assert(vShuffle.nonEmpty && tShuffle.exists(_.tier == "A"), "fixture must verify and tier pairs")
    assert(vBroadcast == vShuffle, "verified rows differ between the payload branches")
    assert(tBroadcast.map(t => (t.pair_key, t.tier, t.tier_path)) ==
      tShuffle.map(t => (t.pair_key, t.tier, t.tier_path)), "tiers differ")
    assert(tBroadcast == tShuffle, "tiered rows differ")
    assert(cBroadcast == cShuffle, "clusters differ")
  }

  test("payload dispatch plans: broadcast pass 1 has no shuffle, the other keeps two SHJs") {
    val (sigs, cands, _) = verifiedAll
    val sigsCk = sigs.localCheckpoint(true)
    val candsCk = cands.localCheckpoint(true)
    def nodes(nDocs: Long): Seq[SparkPlan] = collect(
      Verification.pass1PlanFor(candsCk, sigsCk, cfg, Some(nDocs))
        .queryExecution.executedPlan) { case p => p }
    val small = nodes(sigsCk.count())
    assert(!small.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"broadcast pass 1 shuffled:\n${small.head.treeString}")
    assert(small.count(_.isInstanceOf[BroadcastHashJoinExec]) == 2, small.head.treeString)
    val large = nodes(Long.MaxValue)
    assert(large.count(_.isInstanceOf[ShuffledHashJoinExec]) == 2, large.head.treeString)
    assert(!large.exists(_.isInstanceOf[BroadcastHashJoinExec]), large.head.treeString)
  }
}

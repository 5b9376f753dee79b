package graft

import graft.model._
import graft.operators._
import graft.sources.ConversationGen

/**
 * End-to-end smoke over the `smoke` fixture (FIXTURES.md §2): 100 base
 * conversations + 3 sources × 8 transforms planted dups + 10 hard negatives.
 * Mirrors the reference's synthetic validation gates
 * (/root/reference/tools/test_validation_synthetic.py:174-183):
 * recall ≥ 0.90 floor here; the ≥ 0.99 gate runs on the larger
 * `recall` fixture in RecallGateSpec.
 */
class PipelineSmokeSpec extends SparkSpec {

  lazy val result: Pipeline.Result = {
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    Pipeline.runPipelined(turns, DedupConfig.balanced)
  }

  test("corpus generation is deterministic and well-formed") {
    import spark.implicits._
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val n1 = turns.count()
    val n2 = ConversationGen.corpus(spark, ConversationGen.smoke).count()
    assert(n1 == n2 && n1 > 0)
    val convs = turns.select($"conv_id").distinct().count()
    // 100 base + 24 dups + 20 hard-negative convs
    assert(convs == 100 + 3 * 8 + 20, s"convs=$convs")
    // stable ordering invariant: turn_idx dense from 0 per conv
    val bad = turns.groupByKey(_.conv_id).mapGroups { (_, it) =>
      val idxs = it.map(_.turn_idx).toArray.sorted
      if (idxs.zipWithIndex.forall { case (v, i) => v == i }) 0 else 1
    }.filter(_ == 1).count()
    assert(bad == 0)
  }

  test("planted duplicate pairs are recovered (recall floor 0.90, all transforms)") {
    import spark.implicits._
    val gt = ConversationGen.gtPairs(ConversationGen.smoke)
      .filter(_.should_detect)
    val detected = result.tiered
      .filter(t => t.tier == "A" || t.tier == "B")
      .select($"conv_a", $"conv_b").as[(String, String)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val hits = gt.count(g => detected.contains((g.conv_a, g.conv_b)))
    val recall = hits.toDouble / gt.size
    val missed = gt.filterNot(g => detected.contains((g.conv_a, g.conv_b)))
    assert(recall >= 0.90, s"recall=$recall missed=${missed.map(_.transform_type).mkString(",")}")
  }

  /** The same run with every stage boundary a stored table. */
  lazy val stored: Pipeline.Result = Pipeline.runPipelined(
    ConversationGen.corpus(spark, ConversationGen.smoke), DedupConfig.balanced,
    checkpointDir = Some(java.nio.file.Files.createTempDirectory("graft_smoke_ck_").toString))

  test("stored and localCheckpointed stages give identical rows and stage counts") {
    def rows(r: Pipeline.Result) = Seq(r.sigs.toDF(), r.candidates.toDF(), r.verified.toDF(),
      r.tiered.toDF(), r.clusters.toDF()).map(_.collect().map(_.toString).sorted.toSeq)
    rows(result).zip(rows(stored)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"stage $i: onlyCk=${a.diff(b).take(2)} onlyStore=${b.diff(a).take(2)}")
    }
    val ck = result.metrics.map(m => m.stage -> (m.input_count, m.output_count)).toMap
    val st = stored.metrics.map(m => m.stage -> (m.input_count, m.output_count)).toMap
    Seq("signatures", "candidates", "verified", "tiered", "clusters").foreach { s =>
      assert(st(s) == ck(s), s"stage $s: store=${st(s)} localCheckpoint=${ck(s)}")
    }
  }

  test("one input hash: the observed hash without a checkpoint dir equals inputFingerprint") {
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    assert(result.inputHash == Pipeline.inputFingerprint(turns))
    assert(stored.inputHash == result.inputHash)
  }

  test("candidate output cap is per-doc and bundle pairs rank first (F4)") {
    val k = 2
    val capped = LshJoin.candidates(result.sigs,
      DedupConfig.balanced.copy(maxPairsPerDoc = k))
      .collect().map(_.pair_key).toSet
    val all = result.candidates.collect()
    // reference semantics recomputed driver-side: keep a pair if either
    // endpoint ranks it top-k by (bundle-first score desc, pair_key asc)
    def score(p: CandidatePair): Double =
      if (p.source.contains("bundle")) math.max(p.minhash_est, 1.0) else p.minhash_est
    def topK(byEndpoint: Map[String, Array[CandidatePair]]): Set[String] =
      byEndpoint.values.flatMap(
        _.sortBy(p => (-score(p), p.pair_key)).take(k).map(_.pair_key)).toSet
    val want = topK(all.groupBy(_.conv_a)) ++ topK(all.groupBy(_.conv_b))
    assert(capped == want,
      s"missing=${(want -- capped).take(3)} extra=${(capped -- want).take(3)}")
    assert(capped.size < all.length, "cap must bind on the smoke fixture")
  }

  test("pairScore (X18 gate): monotone in evidence, bounded (0,1)") {
    import spark.implicits._
    val scored = TierGate.pairScore(result.verified.toDF())
      .select($"jaccard", $"pair_score").as[(Double, Double)].collect()
    assert(scored.forall { case (_, s) => s > 0.0 && s < 1.0 })
    // strongest-evidence pair scores above weakest
    val hi = scored.maxBy(_._1)._2; val lo = scored.minBy(_._1)._2
    assert(hi > lo)
  }

  test("hard negatives are rejected (FPR ≤ 0.20 floor)") {
    import spark.implicits._
    val negs = ConversationGen.gtPairs(ConversationGen.smoke)
      .filter(_.category == "hard_negative")
    val detected = result.tiered
      .filter(t => t.tier == "A" || t.tier == "B")
      .select($"conv_a", $"conv_b").as[(String, String)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val fps = negs.count(g => detected.contains((g.conv_a, g.conv_b)))
    assert(fps.toDouble / negs.size <= 0.20, s"fps=$fps/${negs.size}")
  }

  test("funnel invariants: candidates ⊇ verified ⊇ tiered(A)") {
    val nCand = result.candidates.count()
    val nVer = result.verified.count()
    val nA = result.tiered.filter(_.tier == "A").count()
    assert(nCand >= nVer && nVer >= nA && nA > 0, s"$nCand/$nVer/$nA")
  }

  test("exact transforms land in Tier A via exact fingerprint or strict jaccard") {
    import spark.implicits._
    val exactIds = ConversationGen.gtPairs(ConversationGen.smoke)
      .filter(g => Seq("exact", "relayout", "lossy_norm").contains(g.transform_type))
      .map(g => (g.conv_a, g.conv_b)).toSet
    val tierA = result.tiered.filter(_.tier == "A")
      .select($"conv_a", $"conv_b").as[(String, String)].collect().toSet
    val found = exactIds.count(p => tierA.contains(p) || tierA.contains(p.swap))
    assert(found == exactIds.size, s"$found/${exactIds.size} exact-class dups in Tier A")
  }

  test("clusters: every detected dup pair is co-clustered; singleton-free") {
    import spark.implicits._
    val assign = result.clusters.collect().map(c => c.conv_id -> c.cluster_id).toMap
    val dupEdges = result.tiered.filter(t => t.tier == "A" || t.tier == "B").collect()
    dupEdges.foreach { e =>
      assert(assign.get(e.conv_a) == assign.get(e.conv_b),
        s"pair ${e.pair_key} not co-clustered")
    }
    assert(result.clusters.collect().forall(_.cluster_size >= 2))
  }

  test("expected output schemas (column assertions, FIXTURES.md §3)") {
    val vcols = result.verified.columns.toSet
    assert(Set("pair_key", "conv_a", "conv_b", "jaccard", "jaccard_patch_topk",
      "simhash_dist", "max_span_len", "source").subsetOf(vcols))
    val tcols = result.tiered.columns.toSet
    assert(Set("tier", "tier_path", "clip_z_analog").subsetOf(tcols))
    assert(result.clusters.columns.toSet == Set("conv_id", "cluster_id", "cluster_size"))
  }

  test("determinism: two runs produce identical tier assignments") {
    import spark.implicits._
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced)
    val t1 = result.tiered.select($"pair_key", $"tier").as[(String, String)]
      .collect().sorted.toSeq
    val t2 = r2.tiered.select($"pair_key", $"tier").as[(String, String)]
      .collect().sorted.toSeq
    assert(t1 == t2)
  }
}

package graft

import graft.model._
import graft.operators._
import graft.sources.ConversationGen

/**
 * The BASELINE.json acceptance gate: dup-pair recall ≥ 0.99 on the `recall`
 * fixture (5,000 base conversations, 38 sources × 8 transforms = 304 planted
 * dup pairs, 300 hard negatives) at the fixed shingle/signature config.
 * Also enforces the reference's synthetic-framework floor FPR ≤ 0.20
 * (/root/reference/tools/test_validation_synthetic.py:174-183) and the
 * run-policy Tier-A share check (tools/local_eval_policy.py:23-31).
 */
class RecallGateSpec extends SparkSpec {

  lazy val result: Pipeline.Result = {
    val turns = ConversationGen.corpus(spark, ConversationGen.recall)
    Pipeline.runPipelined(turns, DedupConfig.balanced)
  }

  lazy val detected: Set[(String, String)] = {
    import spark.implicits._
    result.tiered
      .filter(t => t.tier == "A" || t.tier == "B")
      .select($"conv_a", $"conv_b").as[(String, String)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
  }

  test("dup-pair recall ≥ 0.99 over 304 planted pairs") {
    val gt = ConversationGen.gtPairs(ConversationGen.recall).filter(_.should_detect)
    val hits = gt.count(g => detected.contains((g.conv_a, g.conv_b)))
    val recall = hits.toDouble / gt.size
    val missed = gt.filterNot(g => detected.contains((g.conv_a, g.conv_b)))
    assert(recall >= 0.99,
      s"recall=$recall (${hits}/${gt.size}); missed by transform: " +
        missed.groupBy(_.transform_type).view.mapValues(_.size).toMap)
  }

  test("hard-negative FPR ≤ 0.20 over 300 template-sharing pairs") {
    val negs = ConversationGen.gtPairs(ConversationGen.recall)
      .filter(_.category == "hard_negative")
    val fps = negs.count(g => detected.contains((g.conv_a, g.conv_b)))
    assert(fps.toDouble / negs.size <= 0.20, s"FPR=${fps.toDouble / negs.size}")
  }

  test("per-transform recall: every transform category fully recovered") {
    val gt = ConversationGen.gtPairs(ConversationGen.recall).filter(_.should_detect)
    val byTransform = gt.groupBy(_.transform_type).map { case (tr, pairs) =>
      tr -> pairs.count(g => detected.contains((g.conv_a, g.conv_b))).toDouble / pairs.size
    }
    // each transform individually ≥ 0.95 (tighter diagnostics than the
    // aggregate gate; catches a silently-broken transform path)
    byTransform.foreach { case (tr, r) =>
      assert(r >= 0.95, s"transform $tr recall=$r; all=$byTransform")
    }
  }

  test("clusters contain the planted sources with their clones") {
    import spark.implicits._
    val assign = result.clusters
      .select($"conv_id", $"cluster_id").as[(String, String)]
      .collect().toMap
    val gt = ConversationGen.gtPairs(ConversationGen.recall).filter(_.should_detect)
    val coClustered = gt.count(g =>
      assign.contains(g.conv_a) && assign.get(g.conv_a) == assign.get(g.conv_b))
    assert(coClustered.toDouble / gt.size >= 0.99,
      s"cluster recall=${coClustered.toDouble / gt.size}")
  }
}

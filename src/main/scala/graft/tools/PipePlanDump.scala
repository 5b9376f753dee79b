package graft.tools

import graft.model.DedupConfig
import graft.operators.{LshJoin, Pipeline, Reassembly, Signatures, TierGate, Verification}
import graft.sources.ConversationGen

/** Dev probe (optimization r06): dump `.explain("formatted")` for the
  * PIPELINE-INTERNAL stages the optimization round touched — the
  * flag_dedup_* query plans are post-checkpoint LogicalRDD scans, so the
  * stage plans have to be captured from the stage expressions themselves.
  * Args: [outDir] [nBase]. Not part of the driver contract. */
object PipePlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/pipeplans"
    val nBase = if (args.length > 1) args(1).toLong else 2000L
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val cfg = DedupConfig.balanced
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))

    val corpus = ConversationGen.corpus(spark,
      ConversationGen.CorpusSpec(nBase, 60, 400)).persist()
    corpus.count(): Unit
    val sigs = Signatures.compute(Reassembly.assemble(corpus), cfg)
      .localCheckpoint(true)
    // candidates() and verify() each run their first phase eagerly, so
    // each is called ONCE: its plan is dumped, then the same Dataset is
    // checkpointed for the next stage
    val candPlan = LshJoin.candidates(sigs, cfg)
    dump("pipeline_candidates", candPlan.toDF())
    // both sketch-side branches, whatever the gate picks at this corpus
    // size: the doc count is the only difference, so the pair of dumps IS
    // the plan diff of the candidate tail
    dump("pipeline_candidates_broadcast",
      LshJoin.candidates(sigs, cfg, nDocs = Some(1L)).toDF())
    dump("pipeline_candidates_shuffled",
      LshJoin.candidates(sigs, cfg, nDocs = Some(Long.MaxValue)).toDF())
    // the bucket phase (item generator → sizing agg → salt join → grouped
    // members) is eagerly checkpointed inside saltedBucketPairs, so its
    // plan is dumped from the exposed pre-checkpoint fragment
    dump("pipeline_bucket_phase",
      LshJoin.groupedMembers(LshJoin.itemsFor(sigs.toDF()), cfg.bandBucketCap, None))
    val cands = candPlan.localCheckpoint(true)
    // verify pass-1 (the payload joins + evidence projection) is eagerly
    // checkpointed inside verify(), so its plan is dumped from the exposed
    // pre-checkpoint fragment
    dump("pipeline_verify_pass1", Verification.pass1PlanFor(cands, sigs, cfg))
    // both payload branches, whatever the gate picks at this corpus size:
    // the doc count is the only difference, so the pair of dumps IS the
    // before/after plan diff for pass 1
    dump("pipeline_verify_pass1_broadcast",
      Verification.pass1PlanFor(cands, sigs, cfg, nDocs = Some(1L)))
    dump("pipeline_verify_pass1_shufflehash",
      Verification.pass1PlanFor(cands, sigs, cfg, nDocs = Some(Long.MaxValue)))
    val verPlan = Verification.verify(cands, sigs, cfg)
    dump("pipeline_verify", verPlan.toDF())
    val ver = verPlan.localCheckpoint(true)
    val prof = graft.operators.IntraDup.convProfile(corpus).localCheckpoint(true)
    // small-pairs broadcast shape vs the at-scale shuffle-hash shape: the
    // hint values are the only difference, so the pair of dumps IS the
    // before/after plan diff for the tiered stage
    dump("pipeline_tiergate_broadcast",
      TierGate(ver, cfg, Some(prof), pairCountHint = Some(1L), docCountHint = Some(1L)).toDF())
    dump("pipeline_tiergate_shufflehash",
      TierGate(ver, cfg, Some(prof), pairCountHint = Some(Long.MaxValue),
        docCountHint = Some(Long.MaxValue)).toDF())
    spark.stop()
  }
}

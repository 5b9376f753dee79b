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
    // pre-checkpoint fragment; the "before" twin replays the round-5
    // encoder-map STRUCTURE (tuple13 .as[...]/.map) over the same join so
    // the Deserialize/MapElements/Serialize nodes the rewrite removed are
    // visible in a committed plan (plan-shape replica only, never executed)
    dump("pipeline_verify_pass1", Verification.pass1PlanFor(cands, sigs, cfg))
    // both payload branches, whatever the gate picks at this corpus size:
    // the doc count is the only difference, so the pair of dumps IS the
    // before/after plan diff for pass 1
    dump("pipeline_verify_pass1_broadcast",
      Verification.pass1PlanFor(cands, sigs, cfg, nDocs = Some(1L)))
    dump("pipeline_verify_pass1_shufflehash",
      Verification.pass1PlanFor(cands, sigs, cfg, nDocs = Some(Long.MaxValue)))
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val payload = sigs.select($"conv_id", $"simhash", $"simhash_bundle",
        array_distinct(transform($"sketch", v => shiftright(v, 32).cast("int"))).as("sketch"),
        transform($"block_sketches",
          a => array_distinct(transform(a, v => shiftright(v, 32).cast("int")))).as("block_sketches"))
      def side(s: String) = payload.toDF(payload.columns.map(_ + s): _*)
      val joined = cands.toDF()
        .join(side("_a").hint("shuffle_hash"), col("conv_a") === col("conv_id_a"))
        .join(side("_b").hint("shuffle_hash"), col("conv_b") === col("conv_id_b"))
      val before = joined.select(
          $"pair_key", $"conv_a", $"conv_b", $"minhash_est", $"source",
          $"simhash_a", $"simhash_bundle_a", $"sketch_a", $"block_sketches_a",
          $"simhash_b", $"simhash_bundle_b", $"sketch_b", $"block_sketches_b")
        .as[(String, String, String, Double, String,
             Long, Array[Long], Array[Int], Array[Array[Int]],
             Long, Array[Long], Array[Int], Array[Array[Int]])]
        .map { case (pk, a, b, est, src, _, _, _, _, _, _, _, _) =>
          (pk, a, b, est, 0.0, 0.0, 0.0, 0, 0, 0, false, src) }
      dump("pipeline_verify_pass1_before_shape", before.toDF())
    }
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

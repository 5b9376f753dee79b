package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/**
 * Physical-plan discipline checks (the ".explain and iterate" requirement):
 * filters/projections reach the parquet scan, small dims broadcast, hot
 * expressions stay inside WholeStageCodegen.
 */
class PlanCheckSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = li.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed: $scan")
    // column pruning: only the two referenced columns in ReadSchema
    assert(scan.contains("l_orderkey") && !scan.contains("l_extendedprice"),
      s"columns not pruned: $scan")
  }

  test("dimension join broadcasts the small side") {
    val p = planString(SparkEntry.queries("q_join_agg")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = planString(SparkEntry.queries("q_topk_global")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("custom SimHash64 expression stays inside WholeStageCodegen") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.GraftFunctions.simhash64($"text").as("sh"))
      .filter($"sh" =!= 0L)
    val p = planString(df)
    // '*(n)' prefixes mark operators fused into WholeStageCodegen stage n
    assert(p.contains("*(1) Project [simhash64"), s"no codegen span:\n$p")
    // the expression must not force a fallback project outside codegen
    assert(!p.contains("!Project"), s"codegen fallback detected:\n$p")
  }

  test("aggregation uses partial (map-side) aggregation") {
    val q = SparkEntry.queries("q1_agg")(spark, sf)
    val p = planString(q)
    // two HashAggregate nodes: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("ann_lsh_topk joins on the bucket key (no degenerate cross join)") {
    val p = planString(SparkEntry.queries("ann_lsh_topk")(spark, sf))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucket equi-join degenerated to a cross join:\n$p")
  }

  test("candidate-stage plan keeps its exchange budget (shuffle-collapse discipline)") {
    import spark.implicits._
    // The round-3 rework fused bucket sizing into one window exchange and
    // made the dedup agg + cap windows ride the signature-join exchanges —
    // the whole candidate join must plan with at most 8 exchanges (it held
    // ~11 before; regressions here directly re-open the serial driver floor
    // the 2→8 scaling gate depends on).
    val turns = sources.ConversationGen.corpus(spark, sources.ConversationGen.smoke)
    val sigs = operators.Signatures.compute(
      operators.Reassembly.assemble(turns), model.DedupConfig.balanced)
      .localCheckpoint(true)
    val cand = operators.LshJoin.candidates(sigs, model.DedupConfig.balanced)
    // materialize THIS QueryExecution (count() would build a separate one)
    // so AQE finalizes the plan; count the shuffle stages that actually ran
    // in the final section (the tail repeats the pre-AQE Initial Plan)
    cand.collect()
    val full = cand.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), s"plan did not finalize:\n$full")
    val p = full.split("== Initial Plan ==").head
    val shuffles = "ShuffleQueryStage [0-9]+".r.findAllIn(p).toSet
    assert(shuffles.size <= 8, s"candidate plan ran ${shuffles.size} shuffle stages ($shuffles):\n$p")
  }

  test("candidate-stage exchange budget holds with broadcasts disabled") {
    // the same budget as above with autoBroadcastJoinThreshold -1: every
    // join the stage plans must already be a shuffle-free or
    // exchange-sharing one, so no branch of it needs more shuffle stages
    withThreshold("-1") {
      val turns = sources.ConversationGen.corpus(spark, sources.ConversationGen.smoke)
      val sigs = operators.Signatures.compute(
        operators.Reassembly.assemble(turns), model.DedupConfig.balanced)
        .localCheckpoint(true)
      val cand = operators.LshJoin.candidates(sigs, model.DedupConfig.balanced)
      cand.collect()
      val full = cand.queryExecution.executedPlan.toString
      assert(full.contains("isFinalPlan=true"), s"plan did not finalize:\n$full")
      val p = full.split("== Initial Plan ==").head
      val shuffles = "ShuffleQueryStage [0-9]+".r.findAllIn(p).toSet
      assert(shuffles.size <= 8, s"candidate plan ran ${shuffles.size} shuffle stages ($shuffles):\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"threshold -1 still broadcast:\n$p")
    }
  }

  test("a broadcast sketch side leaves the candidate tail one id-only pair exchange") {
    // when the sketch side fits, both scoring joins broadcast onto the pair
    // stream where the partner-list exchange left it: no shuffled join, at
    // least one shuffle stage fewer than with broadcasts off, and the one
    // pair exchange after scoring ships ids and scalars, no strings or bytes
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // query stages are leaves of the final plan: walk into each one, root first
    def shuffles(p: SparkPlan): Seq[ShuffleQueryStageExec] = p match {
      case s: ShuffleQueryStageExec => s +: shuffles(s.plan)
      case q: QueryStageExec => shuffles(q.plan)
      case _ => p.children.flatMap(shuffles)
    }
    val turns = sources.ConversationGen.corpus(spark, sources.ConversationGen.smoke)
    val sigs = operators.Signatures.compute(
      operators.Reassembly.assemble(turns), model.DedupConfig.balanced)
      .localCheckpoint(true)
    def plan(threshold: String): SparkPlan = withThreshold(threshold) {
      val cand = operators.LshJoin.candidates(sigs, model.DedupConfig.balanced)
      cand.collect()
      cand.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    }
    val shuffled = plan("-1")
    val broadcast = plan("1g")
    assert(!broadcast.toString.contains("ShuffledHashJoin"), s"1g:\n$broadcast")
    assert(broadcast.toString.contains("BroadcastHashJoin"), s"1g:\n$broadcast")
    val (nShuffled, nBroadcast) = (shuffles(shuffled).size, shuffles(broadcast).size)
    assert(nBroadcast <= nShuffled - 1,
      s"1g ran $nBroadcast shuffle stages, -1 ran $nShuffled:\n$broadcast")
    val tail = shuffles(broadcast).head.plan.output
    assert(tail.exists(_.name == "rk_a"), s"the last exchange is not the scored pairs: $tail")
    assert(!tail.exists(a => a.dataType == StringType || a.dataType == BinaryType),
      s"the post-scoring pair exchange ships strings or bytes: $tail")
  }

  test("signature doc ids shuffle only the id table, never the documents") {
    // over a conv_id-partitioned corpus the documents reach the doc-id join
    // with no exchange (the case below); the join must ship the (conv_id,
    // doc_id) table to them: ONE shuffle stage in the signature plan, and
    // it carries the ids only, whatever the broadcast threshold
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    // query stages are leaves of the final plan: walk into each one
    def shuffles(p: SparkPlan): Seq[ShuffleQueryStageExec] = p match {
      case s: ShuffleQueryStageExec => s +: shuffles(s.plan)
      case q: QueryStageExec => shuffles(q.plan)
      case _ => p.children.flatMap(shuffles)
    }
    val turns = sources.ConversationGen.corpus(spark, sources.ConversationGen.smoke).persist()
    turns.count()
    try {
      for (threshold <- Seq("-1", "1g")) withThreshold(threshold) {
        val sigs = operators.Signatures.compute(
          operators.Reassembly.assemble(turns), model.DedupConfig.balanced)
        sigs.collect()
        val plan = sigs.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
        assert(shuffles(plan).map(_.plan.output.map(_.name)) == Seq(Seq("conv_id", "doc_id")),
          s"threshold $threshold: the doc-id join must shuffle the ids only:\n$plan")
        assert(plan.toString.contains("ShuffledHashJoin"), s"threshold $threshold:\n$plan")
      }
    } finally turns.unpersist()
  }

  test("reassembly rides the corpus's conv_id partitioning (zero-exchange groupBy)") {
    // The generator delivers the corpus hash-distributed by conv_id (the
    // conv-bucketed input-table layout); assemble's groupBy must reuse that
    // partitioning instead of re-shuffling the full corpus text — the
    // aggregate sits DIRECTLY on the cached scan with no Exchange between.
    val turns = sources.ConversationGen.corpus(spark, sources.ConversationGen.smoke).persist()
    turns.count()
    try {
      val docs = operators.Reassembly.assemble(turns)
      docs.count()
      val p = planString(docs.toDF())
      val aboveCache = p.linesIterator
        .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      assert(!aboveCache.contains("Exchange"),
        s"assemble re-shuffled a conv_id-partitioned corpus:\n$aboveCache")
    } finally turns.unpersist()
  }

  test("semi and anti joins compile to semi/anti join operators") {
    val semi = planString(SparkEntry.queries("q_semi_join")(spark, sf))
    assert(semi.contains("LeftSemi"), s"no semi join:\n$semi")
    val anti = planString(SparkEntry.queries("q_anti_join")(spark, sf))
    assert(anti.contains("LeftAnti"), s"no anti join:\n$anti")
  }
}

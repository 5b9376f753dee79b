package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions.{col, least, lit, when}
import graft.model._
import graft.operators.{Adaptive, TierGate}

/**
 * Tier gate truth-table unit tests for the secondary gates:
 *  - T3 deep-verify override (ai_...AUTO.py:887-986 analog): a template-
 *    lookalike true dup vetoed by the z-score is rescued when the expensive
 *    span+patch evidence agrees; without that evidence the veto holds.
 *  - T2 per-content-type thresholds (tier_classifier.py:233-353 analog):
 *    identical evidence gates differently under different routed classes,
 *    with the exact-fingerprint path immune (exact-match override).
 */
class TierGateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val cfg = DedupConfig.balanced
  // (pair_key, a, b, est, jac, patch_topk, n_verified_blocks, simhash_dist,
  //  bundle_dist, max_span_len, span_frac, z, pair_type, source)
  private type R = (String, String, String, Double, Double, Double, Int, Int,
    Int, Int, Double, Double, String, String)
  private val cols = Seq("pair_key", "conv_a", "conv_b", "minhash_est",
    "jaccard", "jaccard_patch_topk", "n_verified_blocks", "simhash_dist",
    "bundle_dist", "max_span_len", "span_frac", "clip_z_analog", "pair_type",
    "source")

  /** Reference for the fused endpoint-attr pass: the separate two-join
    * z-score pass, then the separate two-join pair-type pass, over the same
    * endpoint stats. */
  private def withZScore(pairs: Dataset[VerifiedPair]): DataFrame = {
    val stats = TierGate.endpointStats(pairs)
    def z(side: String) = when(col(s"sigma_$side") > 1e-9,
      (col("minhash_est") - col(s"mu_$side")) / col(s"sigma_$side")).otherwise(lit(10.0))
    pairs.toDF()
      .join(stats.select(col("ep").as("conv_a"), col("mu").as("mu_a"), col("sigma").as("sigma_a")),
        Seq("conv_a"), "left")
      .join(stats.select(col("ep").as("conv_b"), col("mu").as("mu_b"), col("sigma").as("sigma_b")),
        Seq("conv_b"), "left")
      .withColumn("clip_z_analog", least(z("a"), z("b")))
      .drop("mu_a", "sigma_a", "mu_b", "sigma_b")
  }

  private def withPairType(pairs: DataFrame, profile: DataFrame): DataFrame = {
    val ct = profile.select(col("conv_id"), col("content_type"))
    pairs
      .join(ct.select(col("conv_id").as("conv_a"), col("content_type").as("ct_a")), Seq("conv_a"), "left")
      .join(ct.select(col("conv_id").as("conv_b"), col("content_type").as("ct_b")), Seq("conv_b"), "left")
      .withColumn("pair_type", when(col("ct_a").isNull || col("ct_b").isNull, "default")
        .when(col("ct_a") === col("ct_b"), col("ct_a")).otherwise("cross"))
      .drop("ct_a", "ct_b")
  }

  private def gate(rows: R*): Map[String, (String, String)] = {
    import spark.implicits._
    TierGate.gate(rows.toSeq.toDF(cols: _*), cfg)
      .collect().map(t => t.pair_key -> (t.tier, t.tier_path)).toMap
  }

  test("T3: z-vetoed relaxed pair is rescued by deep verify, veto holds otherwise") {
    // template-heavy TRUE dup: relaxed-range jaccard, boilerplate-hub z —
    // vetoed — but the lazily-computed expensive evidence (span 120 ≥
    // spanMinLen/2, patch_topk ≥ relax) agrees → promoted
    val rescued = ("p1", "a1", "b1", 0.80, 0.80, 0.80, 0, 20, 30, 120, 0.10, 0.2, "default", "lsh")
    // same cheap evidence, expensive evidence DISAGREES → veto holds, Tier B
    val vetoed = ("p2", "a2", "b2", 0.80, 0.80, 0.40, 0, 20, 30, 10, 0.01, 0.2, "default", "lsh")
    // same evidence in a normal (high-z) neighborhood → plain relaxed path
    val normal = ("p3", "a3", "b3", 0.80, 0.80, 0.40, 0, 20, 30, 10, 0.01, 5.0, "default", "lsh")
    val out = gate(rescued, vetoed, normal)
    assert(out("p1") == ("A", "deep_verified"), s"p1=${out("p1")}")
    assert(out("p2") == ("B", "band_b"), s"p2=${out("p2")}")
    assert(out("p3") == ("A", "relaxed_sum"), s"p3=${out("p3")}")
  }

  test("T2: identical evidence gates differently per routed content type") {
    // jac 0.80 passes the base relax gate (0.78) but not tool_heavy's (0.85)
    val asDefault = ("q1", "a1", "b1", 0.80, 0.80, 0.40, 0, 20, 30, 10, 0.01, 5.0, "dialog", "lsh")
    val asToolHeavy = ("q2", "a2", "b2", 0.80, 0.80, 0.40, 0, 20, 30, 10, 0.01, 5.0, "tool_heavy", "lsh")
    // longform widens the relax band: 0.76 ≥ 0.75 passes there, not at base
    val asLongform = ("q3", "a3", "b3", 0.80, 0.76, 0.40, 0, 20, 30, 10, 0.01, 5.0, "longform", "lsh")
    val asCross = ("q4", "a4", "b4", 0.80, 0.76, 0.40, 0, 20, 30, 10, 0.01, 5.0, "cross", "lsh")
    val out = gate(asDefault, asToolHeavy, asLongform, asCross)
    assert(out("q1") == ("A", "relaxed_sum"), s"q1=${out("q1")}")
    assert(out("q2") == ("B", "band_b"), s"q2=${out("q2")}")
    assert(out("q3") == ("A", "relaxed_sum"), s"q3=${out("q3")}")
    assert(out("q4") == ("B", "band_b"), s"q4=${out("q4")}")
  }

  test("T2: exact-fingerprint path is an unconditional override per type") {
    val exactTool = ("e1", "a1", "b1", 0.10, 0.10, 0.10, 0, 2, 1, 0, 0.0, 0.0, "tool_heavy", "bundle")
    val out = gate(exactTool)
    assert(out("e1") == ("A", "exact_fingerprint"))
  }

  test("T4: >=2 verified blocks promote; tool_heavy relaxed without blocks demotes") {
    // promotion: weak global jaccard but two verified sub-blocks -> Tier A
    val promoted = ("t1", "a1", "b1", 0.40, 0.40, 0.55, 2, 20, 30, 10, 0.01, 5.0, "default", "lsh")
    // same evidence, one verified block -> no promotion, Tier B via jaccard
    val oneBlock = ("t2", "a2", "b2", 0.40, 0.40, 0.55, 1, 20, 30, 10, 0.01, 5.0, "default", "lsh")
    // tool_heavy relaxed pair (jac 0.86 >= its 0.85 relax floor) with zero
    // verified blocks -> demoted off the relaxed path (confocal analog)
    val demoted = ("t3", "a3", "b3", 0.80, 0.86, 0.40, 0, 20, 30, 10, 0.01, 5.0, "tool_heavy", "lsh")
    // identical but one block verified -> relaxed path survives
    val kept = ("t4", "a4", "b4", 0.80, 0.86, 0.40, 1, 20, 30, 10, 0.01, 5.0, "tool_heavy", "lsh")
    val out = gate(promoted, oneBlock, demoted, kept)
    assert(out("t1") == ("A", "tile_promoted"), s"t1=${out("t1")}")
    assert(out("t2") == ("B", "band_b"), s"t2=${out("t2")}")
    assert(out("t3") == ("B", "band_b"), s"t3=${out("t3")}")
    assert(out("t4") == ("A", "relaxed_sum"), s"t4=${out("t4")}")
  }

  test("fused endpoint-attr pass == separate withZScore+withPairType passes") {
    import spark.implicits._
    def vp(k: String, a: String, b: String, est: Double) =
      VerifiedPair(k, a, b, est, 0.8, 0.7, 0.6, 1, 5, 10, false, 40, 0.1, 0, "lsh")
    // x is a hub (3 edges, varied scores) so sigma is non-degenerate;
    // w has no profile row (default route); y/z exercise same/cross routes
    val pairs = Seq(
      vp("x|y", "x", "y", 0.95), vp("x|z", "x", "z", 0.60),
      vp("w|x", "w", "x", 0.75), vp("y|z", "y", "z", 0.80)).toDS()
    val prof = Seq(("x", "tool_heavy"), ("y", "tool_heavy"), ("z", "dialog"))
      .toDF("conv_id", "content_type")
    val fused = TierGate(pairs, cfg, Some(prof))
      .collect().map(t => t.pair_key ->
        (t.tier, t.tier_path, t.pair_type, t.clip_z_analog)).toMap
    val separate = TierGate.gate(withPairType(withZScore(pairs), prof), cfg)
      .collect().map(t => t.pair_key ->
        (t.tier, t.tier_path, t.pair_type, t.clip_z_analog)).toMap
    assert(fused == separate, s"fused=$fused separate=$separate")
    assert(fused("x|y")._3 == "tool_heavy" && fused("x|z")._3 == "cross" &&
      fused("w|x")._3 == "default")
    // z-scores actually computed (hub x yields a real sigma, not the 10.0
    // degenerate sentinel on every row)
    assert(fused.values.exists(_._4 < 9.0))
  }

  test("endpoint stats are order-free: two shufflings of verified tier hash-identically") {
    import spark.implicits._
    // three hubs with 60 edges each, scores that are not dyadic, so a
    // double sum's last bits depend on the order it is folded in
    val rnd = new scala.util.Random(7)
    val pairs = for (h <- 0 until 3; i <- 0 until 60) yield {
      val (a, b) = (f"h$h", f"l$h%d_$i%02d")
      VerifiedPair(s"$a|$b", a, b, 0.3 + 0.7 * rnd.nextDouble(), 0.8, 0.7, 0.6,
        1, 5, 10, false, 40, 0.1, 0, "lsh")
    }
    val ds = pairs.toDS()
    val oneTask = ds.repartition(1).sortWithinPartitions(col("pair_key"))
    val spread = ds.repartition(6, col("conv_b")).sortWithinPartitions(col("pair_key").desc)
    def tiered(v: org.apache.spark.sql.Dataset[VerifiedPair]) =
      TierGate(v, cfg).collect().sortBy(_.pair_key).toSeq
    val (t1, t2) = (tiered(oneTask), tiered(spread))
    assert(t1.exists(_.clip_z_analog < 9.0), "fixture must produce real z-scores")
    assert(t1 == t2, t1.zip(t2).filter { case (x, y) => x != y }.take(3).mkString("\n"))
  }

  test("withPairType routes same-class pairs and cross-class fallback") {
    import spark.implicits._
    def vp(k: String, a: String, b: String) =
      VerifiedPair(k, a, b, 0.5, 0.8, 0.7, 0.6, 1, 5, 10, false, 40, 0.1, 0, "lsh")
    val pairs = Seq(vp("x|y", "x", "y"), vp("x|z", "x", "z"), vp("x|w", "x", "w")).toDS()
    val prof = Seq(("x", "tool_heavy"), ("y", "tool_heavy"), ("z", "dialog"))
      .toDF("conv_id", "content_type")
    val reference = withPairType(pairs.toDF(), prof)
      .collect().map(r => r.getAs[String]("pair_key") -> r.getAs[String]("pair_type")).toMap
    val fused = TierGate(pairs, cfg, Some(prof)).collect().map(t => t.pair_key -> t.pair_type).toMap
    for (typed <- Seq(reference, fused)) {
      assert(typed("x|y") == "tool_heavy") // both endpoints same class
      assert(typed("x|z") == "cross")      // endpoints disagree
      assert(typed("x|w") == "default")    // missing profile row
    }
  }

  test("pairScore weighs EVERY signal: isolated deltas in est, jaccard, and distance each order the score") {
    import spark.implicits._
    // the smoke-suite monotonicity check compares only the extreme-jaccard
    // pairs, which jaccard alone orders — these fixtures vary ONE signal at
    // a time so a dropped term or a flipped weight sign fails loudly
    val rows = Seq(
      //  key        est   jac  dist
      ("base",       0.5,  0.5, 10),
      ("hi_est",     0.9,  0.5, 10), // + est   → must score above base
      ("hi_jac",     0.5,  0.9, 10), // + jac   → must score above base
      ("close_dist", 0.5,  0.5,  2)) // − dist  → must score above base
      .toDF("pair_key", "minhash_est", "jaccard", "simhash_dist")
    val s = TierGate.pairScore(rows)
      .collect().map(r => r.getAs[String]("pair_key") ->
        r.getAs[Double]("pair_score")).toMap
    assert(s.values.forall(v => v > 0.0 && v < 1.0), s.toString)
    assert(s("hi_est") > s("base"), s"est signal dead or inverted: $s")
    assert(s("hi_jac") > s("base"), s"jaccard signal dead or inverted: $s")
    assert(s("close_dist") > s("base"), s"distance signal dead or inverted: $s")
  }

  test("attrs gate: both branches give identical rows; shuffle-hash at -1, broadcast at 1g") {
    import spark.implicits._
    // 24 endpoints over 3 content types, 3-4 pairs each, varied scores
    val pairs = (0 until 60).map { i =>
      val (a, b) = (i % 24, (i * 7 + 5) % 24)
      val (x, y) = (f"c$a%02d", f"c$b%02d")
      val (lo, hi) = if (x < y) (x, y) else (y, x)
      VerifiedPair(s"$lo|$hi", lo, hi, 0.5 + (i % 9) * 0.05, 0.6 + (i % 5) * 0.08,
        0.7, 0.6, i % 3, i % 12, 10, false, 20 + i, 0.1, 0, "lsh")
    }.filter(p => p.conv_a != p.conv_b).groupBy(_.pair_key).values.map(_.head).toSeq.toDS()
    val prof = (0 until 24).map(i => (f"c$i%02d", Seq("tool_heavy", "dialog", "longform")(i % 3)))
      .toDF("conv_id", "content_type")
    val n = pairs.count()
    def run() = {
      val t = TierGate(pairs, cfg, Some(prof), pairCountHint = Some(n), docCountHint = Some(24L))
      val rows = t.collect().sortBy(_.pair_key).toSeq
      val joins = collect(t.queryExecution.executedPlan) {
        case _: BroadcastHashJoinExec => "bhj"
        case _: ShuffledHashJoinExec => "shj"
      }
      (rows, joins)
    }
    val (shuffled, shuffledJoins) = withThreshold("-1")(run())
    val (broadcast, broadcastJoins) = withThreshold("1g")(run())
    assert(shuffled.map(_.tier).distinct.size > 1, "fixture must reach more than one tier")
    assert(shuffled == broadcast,
      shuffled.zip(broadcast).filter { case (x, y) => x != y }.take(3).mkString("\n"))
    assert(shuffledJoins.count(_ == "shj") >= 2 && !shuffledJoins.contains("bhj"), shuffledJoins)
    assert(broadcastJoins.count(_ == "bhj") >= 2 && !broadcastJoins.contains("shj"), broadcastJoins)
    // the factor 2 sits in the cap: a forced-shuffle hint of Long.MaxValue
    // pairs cannot overflow into "fits"
    withThreshold("1g") {
      assert(!Adaptive.fits(spark, Long.MaxValue, 2L * TierGate.attrCapBytes))
      assert(Adaptive.fits(spark, (1L << 30) / (2L * TierGate.attrCapBytes), 2L * TierGate.attrCapBytes))
    }
  }
}

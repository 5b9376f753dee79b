package graft

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.functions.Hashing
import graft.model._
import graft.operators._
import graft.sources.ConversationGen

/**
 * Skew armor acceptance (VERDICT r01 #2): a 5,000-member exact+near-dup
 * boilerplate family — the single most likely blowup shape at 100 TB
 * (template families whose band buckets and variant buckets all collide).
 * The salted sub-bucketing must (a) complete without the candidate stage
 * going O(m²) — m²/2 here would be 12.5M pairs — and (b) keep the family
 * ONE connected component via the sub-bucket bridge chain, with every
 * member clustered.
 */
class SkewFamilySpec extends SparkSpec {

  private val M = 5000
  // small + salted-capped + tight per-doc cap: the worst-case shape at
  // test-runnable scale (cap discipline is what's under test, not recall)
  private val cfg = DedupConfig.fast.copy(
    bandBucketCap = 128, maxPairsPerDoc = 8, sketchK = 256, headChars = 2000)

  /** One short source conversation cloned M times; every 5th member gets a
    * deterministic 5% token substitution (near-dup, not exact). */
  private def familyTurns: Dataset[Turn] = {
    import spark.implicits._
    val srcText = (0 until 6).map { t =>
      (0 until 40).map(j => ConversationGen.word((t * 40 + j) % 800)).mkString(" ")
    }
    val epoch = 1700000000000L
    spark.range(0, M).flatMap { i =>
      val id = f"f$i%06d"
      srcText.zipWithIndex.map { case (txt, ti) =>
        val text =
          if (i % 5 == 0) { // near-dup variant: 5% deterministic substitution
            txt.split(' ').zipWithIndex.map { case (w, j) =>
              val h = Hashing.mix64(i * 7919L + ti * 131L + j)
              if (java.lang.Long.remainderUnsigned(h, 20L) == 0L)
                ConversationGen.word((h % 5000).toInt.abs)
              else w
            }.mkString(" ")
          } else txt
        val role = if (ti == 0) "system" else if (ti % 2 == 1) "user" else "assistant"
        Turn(id, ti, role, text, null, new Timestamp(epoch + i * 1000L + ti))
      }
    }
  }

  /** Bucket-size funnel stats as a standalone job over the exploded
    * (conv_id, band_id, band_key) table: (total, paired, salted) LSH
    * buckets — the reference the pipeline's `bucketObs` observation is
    * checked against. */
  private def capStats(sigs: Dataset[DocSig], cap: Int): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, posexplode, sum, when}
    val sizes = sigs.select(col("conv_id"),
        posexplode(col("bands")).as(Seq("band_id", "band_key")))
      .groupBy("band_id", "band_key").count()
    val agg = sizes.agg(
      count(lit(1)).as("total"),
      sum(when(col("count") >= 2, 1L).otherwise(0L)).as("paired"),
      sum(when(col("count") > cap, 1L).otherwise(0L)).as("salted")
    ).head()
    (agg.getLong(0), agg.getLong(1), agg.getLong(2))
  }

  lazy val result: Pipeline.Result =
    Pipeline.runPipelined(familyTurns, cfg, runId = "skew_family")

  test("5000-member family: candidate stage stays O(m·cap), not O(m²)") {
    val nCands = result.metrics.find(_.stage == "candidates").get.output_count
    // per-doc cap k=8 with either-endpoint semantics bounds the output to
    // ~2·k·m; assert an order-of-magnitude margin below the m²/2 blowup
    assert(nCands > 0 && nCands <= 40L * M,
      s"candidates=$nCands (m²/2 would be ${M.toLong * (M - 1) / 2})")
  }

  test("over-cap buckets are salted (counted), never dropped") {
    val salted = result.metrics.find(_.stage == "lsh_buckets_salted").get
    assert(salted.output_count > 0, "family buckets must exceed the cap and be salted")
    val paired = result.metrics.find(_.stage == "lsh_buckets_paired").get
    assert(capStats(result.sigs, cfg.bandBucketCap) ==
      (salted.input_count, paired.output_count, salted.output_count))
  }

  test("family forms ONE cluster containing all 5000 members (bridge connectivity)") {
    import spark.implicits._
    val clusters = result.clusters.collect()
    val byCluster = clusters.groupBy(_.cluster_id)
    val biggest = byCluster.values.map(_.length).max
    assert(biggest == M, s"largest cluster=$biggest, want $M — family split by salting")
  }

  /**
   * Bridge immunity (VERDICT r02 "What's wrong #1"): bridges are the ONLY
   * connectivity between salted sub-buckets (salt is conv_id-keyed, so
   * cross-sub-bucket pairs never form in any band) — they must survive both
   * the estimate filter and the per-doc cap even when the bridge pair's own
   * MinHash estimate is LOW. Constructed worst case: one 300-member mega-
   * bucket whose sub-buckets are internally similar (est 0.5) but mutually
   * dissimilar (est 0.0 < simThreshold) — without bridge exemptions the
   * family splits into one cluster per sub-bucket.
   */
  test("low-estimate bridges survive the est filter + per-doc cap and keep the family connected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val n = 300
    val cfg2 = DedupConfig.balanced.copy(bandBucketCap = 64, maxPairsPerDoc = 8,
      simThreshold = 0.25)
    val nSalts = math.ceil(n.toDouble / cfg2.bandBucketCap).toInt // 5
    val ids = (0 until n).map(i => f"s$i%04d")
    // precompute each doc's salt group exactly as LshJoin assigns it
    val saltOf = ids.toDF("conv_id")
      .select(col("conv_id"), pmod(xxhash64(col("conv_id")), lit(nSalts)).cast("int").as("s"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val sigs = withDocIds(spark.createDataset(ids.map { id =>
      val g = saltOf(id)
      // minhash: first 64 positions shared within the salt group (est 0.5
      // in-group), rest unique per doc (est 0.0 cross-group)
      val mh = Array.tabulate(128)(p =>
        if (p < 64) 900000L + g * 1000L + p else Hashing.mix64(id.hashCode.toLong * 131 + p))
      DocSig(id, -1L, 1, 100, mh,
        bands = Array(111L, 222L), // two shared mega-buckets → lsh_hits = 2
        simhash = 0L, simhash_bundle = Array(Hashing.mix64(id.hashCode.toLong)),
        sketch = Array.empty, block_sketches = Array.empty, head_text = "")
    }))
    val cands = LshJoin.candidates(sigs, cfg2)
    val bridges = cands.filter($"source".contains("bridge")).collect()
    assert(bridges.nonEmpty, "expected bridge pairs in the mega-bucket")
    assert(bridges.forall(_.minhash_est < cfg2.simThreshold),
      "test shape: bridge pairs must sit BELOW the estimate threshold")
    val comp = ConnectedComponents.cluster(
      cands.select($"conv_a", $"conv_b").toDF())
    val sizes = comp.collect().groupBy(_.cluster_id).values.map(_.length)
    assert(sizes.max == n,
      s"largest component=${sizes.max}, want $n — bridge dropped by est filter or cap")
  }
}

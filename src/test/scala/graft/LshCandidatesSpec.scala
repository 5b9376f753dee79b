package graft

import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions.{lit, max}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Hashing.mix64
import graft.model._
import graft.operators.{Adaptive, LshJoin, Pipeline, Signatures}

/**
 * The LSH candidate stage: `candidates` runs on the signatures' dense doc
 * ids, ships one partner list of ids per bucket member through its doc_a
 * exchange and explodes the pairs after it; that must give exactly the
 * rows of a naive one-row-per-band-per-pair enumeration that stays keyed
 * by the conv_id strings, run through the same dedup and scoring tail.
 * Also the doc ids' string order and the bucket funnel's missing-metric
 * path.
 */
class LshCandidatesSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  // cap 8 so the 20-member family's buckets are salted and bridged
  private val cfg = DedupConfig.balanced.copy(bandBucketCap = 8)

  private val family = (0 until 20).map(i => f"fam$i%02d")
  private val background = (0 until 30).map(i => f"bg$i%02d")

  /** Synthetic signatures with every collision planted: each doc starts
    * with its own random band keys, bundle variants and MinHash values,
    * then shares exactly what its role needs — the `family` ids every band,
    * bundle variant 0 and the MinHash signature, the `shared` ids bundle
    * variant 2. */
  private def sigsFor(family: Seq[String], shared: Set[String] = Set.empty): Dataset[DocSig] = {
    import spark.implicits._
    val ids = family ++ Seq("bun_a", "bun_b", "one_a", "one_b", "two_a", "two_b") ++ background
    def keys(seed: Long, n: Int) = Array.tabulate(n)(j => mix64(seed * 1000003L + j))
    val famMinhash = keys(-1L, cfg.numPerms)
    val docs = ids.zipWithIndex.map { case (id, k) =>
      val bands = keys(3L * k, cfg.bands)
      val bundle = keys(3L * k + 1, 3)
      var minhash = keys(3L * k + 2, cfg.numPerms)
      if (family.contains(id)) {
        Array.copy(keys(-2L, cfg.bands), 0, bands, 0, cfg.bands)
        bundle(0) = mix64(-3L)
        minhash = famMinhash
      }
      id match {
        case "bun_a" | "bun_b" => bundle(1) = mix64(-4L) // bundle-only collision
        case "one_a" | "one_b" => bands(5) = mix64(-5L); minhash = famMinhash.reverse
        case "two_a" | "two_b" =>
          bands(7) = mix64(-6L); bands(9) = mix64(-7L); minhash = famMinhash.reverse
        case _ =>
      }
      if (shared(id)) bundle(2) = mix64(-8L) // pairs them whatever their salts
      DocSig(id, -1L, 1, 10, minhash, bands, 0L, bundle, Array.empty, Array.empty, "")
    }
    withDocIds(docs.toDS()).localCheckpoint(true)
  }

  private lazy val sigs = sigsFor(family)

  /** Spark's string order: UTF-8 bytes, unsigned. */
  private def sparkLess(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** The naive reference, keyed by the conv_id strings throughout: the
    * bucket phase's (bkey, salt) member lists with each conv_id as its own
    * key, every pair of every list as one row, the bridge chain between
    * consecutive sub-bucket heads, then the shared scoring tail. Returns
    * the grouped lists, the bridges and the scored rows. */
  private def reference(sigs: Dataset[DocSig], cfg: DedupConfig = cfg) = {
    import spark.implicits._
    val byConv = sigs.toDF().withColumn("doc_id", $"conv_id")
    val grouped = LshJoin.groupedMembers(LshJoin.itemsFor(byConv), cfg.bandBucketCap, None)
      .collect().toSeq
      .map(r => (r.getAs[Long]("bkey"), r.getAs[Int]("salt"),
        r.getAs[scala.collection.Seq[String]]("members").toVector,
        r.getAs[Int]("band_id"), r.getAs[Int]("src")))
    val enumerated = grouped.flatMap { case (_, _, ms, band, src) =>
      for (i <- ms.indices; j <- i + 1 until ms.size if ms(i) != ms(j))
        yield (ms(i), ms(j), band, src)
    }
    // bridge chain: consecutive sub-bucket heads of each bucket, by salt
    val bridges = grouped.groupBy(_._1).values.toSeq.flatMap { subs =>
      subs.sortBy(_._2).sliding(2).collect {
        case Seq(x, y) if x._3.head != y._3.head =>
          val (a, b) = (x._3.head, y._3.head)
          if (sparkLess(a, b)) (a, b, x._4, x._5 + 2) else (b, a, x._4, x._5 + 2)
      }
    }
    val scored = LshJoin.scorePairs(
      (enumerated ++ bridges).toDF("doc_a", "doc_b", "band_id", "src"),
      LshJoin.sketches(byConv), cfg)
    (grouped, enumerated, bridges, scored.collect().sortBy(_.pair_key).toSeq)
  }

  private def assertSameRows(out: Seq[CandidatePair], ref: Seq[CandidatePair]): Unit = {
    assert(out.size == ref.size, s"candidates ${out.size} rows, reference ${ref.size}")
    out.zip(ref).foreach { case (o, r) => assert(o == r, s"candidates $o != reference $r") }
  }

  test("partner-list candidates match a naive one-row-per-band-per-pair reference") {
    val (grouped, enumerated, bridges, ref) = reference(sigs)
    // the input exercises salting, bridges and the one-hit/two-hit edge
    assert(grouped.exists(_._2 > 0) && bridges.nonEmpty)
    assert(enumerated.count(p => p._1 == "one_a" && p._2 == "one_b") == 1)
    assert(enumerated.count(p => p._1 == "two_a" && p._2 == "two_b") == 2)

    val out = LshJoin.candidates(sigs, cfg).collect().sortBy(_.pair_key).toSeq
    assertSameRows(out, ref)

    val byKey = out.map(c => c.pair_key -> c).toMap
    assert(!byKey.contains("one_a|one_b"), "a one-band LSH pair must fail minBandHits")
    assert(byKey.get("two_a|two_b").map(c => (c.source, c.band_id)).contains(("lsh", 7)))
    assert(byKey.get("bun_a|bun_b").map(_.source).contains("bundle"))
    assert(out.exists(_.source.contains("bridge")))
  }

  test("doc ids follow Spark's UTF-8 string order: prefixes, non-ASCII, supplementary plane") {
    val fam = odd ++ family.take(20 - odd.size)
    val sparkOrder = fam.sortWith(sparkLess)
    assert(fam.sorted != sparkOrder, "the ids must order differently as UTF-16 and as UTF-8")

    // the signature kernel numbers its documents the same way
    locally {
      import spark.implicits._
      val docs = fam.map(id => ConvDoc(id, 1, s"text of $id")).toDS()
      val numbered = Signatures.compute(docs, cfg).collect().sortBy(_.doc_id).toSeq
      assert(numbered.map(_.doc_id) == fam.indices.map(_.toLong), "doc ids must be dense from 0")
      assert(numbered.map(_.conv_id) == sparkOrder)
    }
    val oddSigs = sigsFor(fam)
    val ranks = oddSigs.collect().map(s => s.doc_id -> s.conv_id).sortBy(_._1).toSeq
    assert(ranks.map(_._1) == ranks.indices.map(_.toLong), "doc ids must be dense from 0")
    assert(ranks.map(_._2).filter(fam.contains) == sparkOrder)

    val (grouped, _, bridges, ref) = reference(oddSigs)
    assert(grouped.exists(_._2 > 0) && bridges.nonEmpty, "the family bucket must be salted and bridged")
    // a pair whose orientation a JVM String sort would flip is in the output
    assert(ref.exists(p => p.conv_a > p.conv_b),
      "no reference pair orders differently as UTF-16 — the input misses the case")
    assertSameRows(LshJoin.candidates(oddSigs, cfg).collect().sortBy(_.pair_key).toSeq, ref)
  }

  /** Prefixes of one another (a < ab < a|b: 'b' sorts before '|'),
    * Latin-1 and CJK, private-use and fullwidth BMP chars above the
    * surrogate range, and supplementary-plane chars: UTF-16 (the JVM's
    * String order) puts a surrogate pair (0xD800-0xDBFF) BEFORE
    * U+E000-U+FFFF, UTF-8 puts it after. */
  private val odd = Seq("a", "a|b", "ab", "\u00e9", "\u00df", "\u65e5\u672c", "\ue000x",
    "\uff5ea", "\uff5eb", "\ud83d\ude00", "\ud83d\ude01", "\ud835\udcb3y")

  test("broadcast and shuffled sketch sides give identical candidates on UTF-8-order ids") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    // a cap of 3 pairs per doc binds on the family, whose pairs all tie at
    // estimate 1.0, so both windows' tiebreaks decide which pairs survive
    val capped = cfg.copy(maxPairsPerDoc = 3)
    val fam = odd ++ family.take(20 - odd.size)
    val oddSigs = sigsFor(fam, shared = Set("a", "ab", "a|b"))
    // within conv_b "a|b", pair_key order is NOT conv_a order: the rk_b
    // tiebreak must read the strings
    assert(sparkLess("a", "ab") && sparkLess("ab|a|b", "a|a|b"))
    def run(threshold: String) = withThreshold(threshold) {
      val c = LshJoin.candidates(oddSigs, capped)
      val rows = c.collect().sortBy(_.pair_key).toSeq
      val plan = c.queryExecution.executedPlan
      val joins = collect(plan) {
        case j: BroadcastHashJoinExec => "broadcast"
        case j: ShuffledHashJoinExec => "shuffled"
      }
      (rows, joins.toSet)
    }
    val (shuffled, shuffledJoins) = run("-1")
    val (broadcast, broadcastJoins) = run("1g")
    assert(shuffledJoins == Set("shuffled") && broadcastJoins == Set("broadcast"),
      s"-1: $shuffledJoins, 1g: $broadcastJoins")
    // the cap binds, and the prefix-ordered pairs are both in the input
    val all = LshJoin.candidates(oddSigs, cfg).collect().map(_.pair_key).toSet
    assert(Set("a|a|b", "ab|a|b").subsetOf(all), s"prefix pairs missing: $all")
    assert(shuffled.size < all.size, "the per-doc cap must drop pairs")
    assertSameRows(broadcast, shuffled)
    val ref = reference(oddSigs, capped)._4
    assertSameRows(shuffled, ref)
  }

  test("sketch gate: docs × per-row sketch cap against the broadcast threshold") {
    val cap = LshJoin.sketchCapBytes(cfg)
    // 2 × (row of 8 B bitset + 3 words + 64 B id + 128 sketch bytes + 8 B
    // chain word) + 32 B of slots
    assert(cap == 496L, s"cap=$cap")
    withThreshold("64m") {
      val fit = (64L << 20) / cap
      assert(Adaptive.fits(spark, fit, cap))
      assert(!Adaptive.fits(spark, fit + 1, cap))
      // sf0.1's pipeline (21k docs) broadcasts its sketch side
      assert(Adaptive.fits(spark, 21280L, cap), "sf0.1 must broadcast")
    }
    withThreshold("-1") {
      assert(!Adaptive.fits(spark,
        throw new AssertionError("a disabled threshold must not count the docs"), cap))
    }
  }

  test("a bucket funnel that never arrives is recorded as missing, not dropped") {
    val never = Observation("never_fires")
    val missing = Pipeline.bucketMetrics(never, fresh = true, "r", "ts", Duration(50, "ms"))
    assert(missing.map(m => (m.stage, m.input_count, m.output_count)) == Seq(
      ("lsh_buckets_paired:missing", -1L, -1L), ("lsh_buckets_salted:missing", -1L, -1L)))
    // checkpoint hit: the observed plan never ran, so no funnel rows
    assert(Pipeline.bucketMetrics(never, fresh = false, "r", "ts").isEmpty)

    val fired = Observation("fires")
    spark.range(3).observe(fired, max(lit(7L)).as("total_buckets"),
      max(lit(5L)).as("paired_buckets"), max(lit(2L)).as("salted_buckets")).collect()
    val got = Pipeline.bucketMetrics(fired, fresh = true, "r", "ts")
    assert(got.map(m => (m.stage, m.input_count, m.output_count)) == Seq(
      ("lsh_buckets_paired", 7L, 5L), ("lsh_buckets_salted", 7L, 2L)))
  }
}

package graft

import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions.{lit, max}
import graft.functions.Hashing.mix64
import graft.model._
import graft.operators.{LshJoin, Pipeline}

/**
 * The LSH candidate stage: `candidates` ships one partner list per bucket
 * member through its conv_a exchange and explodes the pairs after it; that
 * must give exactly the rows of a naive one-row-per-band-per-pair
 * enumeration run through the same dedup and scoring tail. Also the bucket
 * funnel's missing-metric path.
 */
class LshCandidatesSpec extends SparkSpec {

  // cap 8 so the 20-member family's buckets are salted and bridged
  private val cfg = DedupConfig.balanced.copy(bandBucketCap = 8)

  private val family = (0 until 20).map(i => f"fam$i%02d")
  private val background = (0 until 30).map(i => f"bg$i%02d")

  /** Synthetic signatures with every collision planted: each doc starts
    * with its own random band keys, bundle variants and MinHash values,
    * then shares exactly what its role needs. */
  private lazy val sigs: Dataset[DocSig] = {
    import spark.implicits._
    val ids = family ++ Seq("bun_a", "bun_b", "one_a", "one_b", "two_a", "two_b") ++ background
    def keys(seed: Long, n: Int) = Array.tabulate(n)(j => mix64(seed * 1000003L + j))
    val famMinhash = keys(-1L, cfg.numPerms)
    val docs = ids.zipWithIndex.map { case (id, k) =>
      val bands = keys(3L * k, cfg.bands)
      val bundle = keys(3L * k + 1, 3)
      var minhash = keys(3L * k + 2, cfg.numPerms)
      if (id.startsWith("fam")) { // every band and bundle variant 0 shared
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
      DocSig(id, 1, 10, minhash, bands, 0L, bundle, Array.empty, Array.empty, "")
    }
    docs.toDS().localCheckpoint(true)
  }

  test("partner-list candidates match a naive one-row-per-band-per-pair reference") {
    import spark.implicits._
    val grouped = LshJoin.groupedMembers(LshJoin.itemsFor(sigs), cfg.bandBucketCap, None)
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
          (if (a < b) a else b, if (a < b) b else a, x._4, x._5 + 2)
      }
    }
    // the input exercises salting, bridges and the one-hit/two-hit edge
    assert(grouped.exists(_._2 > 0) && bridges.nonEmpty)
    assert(enumerated.count(p => p._1 == "one_a" && p._2 == "one_b") == 1)
    assert(enumerated.count(p => p._1 == "two_a" && p._2 == "two_b") == 2)

    val ref = LshJoin.scorePairs((enumerated ++ bridges).toDF("conv_a", "conv_b", "band_id", "src"),
      sigs, cfg).collect().sortBy(_.pair_key).toSeq
    val out = LshJoin.candidates(sigs, cfg).collect().sortBy(_.pair_key).toSeq
    assert(out.size == ref.size, s"candidates ${out.size} rows, reference ${ref.size}")
    out.zip(ref).foreach { case (o, r) => assert(o == r, s"candidates $o != reference $r") }

    val byKey = out.map(c => c.pair_key -> c).toMap
    assert(!byKey.contains("one_a|one_b"), "a one-band LSH pair must fail minBandHits")
    assert(byKey.get("two_a|two_b").map(c => (c.source, c.band_id)).contains(("lsh", 7)))
    assert(byKey.get("bun_a|bun_b").map(_.source).contains("bundle"))
    assert(out.exists(_.source.contains("bridge")))
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

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{concat, lit, lower, regexp_replace, struct, transform,
  trim, xxhash64}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import graft.functions.{Expr0, GraftFunctions, TextKernel}
import graft.operators.SuffixSpans

/**
 * Property tests: hot kernels against naive references on generated
 * inputs — `jaccard_sorted` against a Set-based Jaccard, `norm_alnum`
 * against the `[^a-z0-9]+` regex path, the suffix-array LCS against an
 * O(n·m) dynamic program, `repeatStats` against HashMap counts and a Set
 * of covered positions, and the candidate join's b-bit scoring kernels
 * (`pack_low_bytes` + `minhash_est8`) and its `lsh_items`
 * bucket-item generator. Each kernel runs on the JVM for every generated
 * case; the SQL expressions also run once over the whole sample in a Spark
 * job, against the same references.
 */
class KernelPropertySpec extends SparkSpec {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(400).withInitialSeed(20261019L)

  private def check(p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  /** n samples from `g`, deterministic across runs. */
  private def sample[T](g: Gen[T], n: Int): Seq[T] = {
    val seed = org.scalacheck.rng.Seed(7L)
    Iterator.iterate(seed)(_.next).map(s => g.pureApply(Gen.Parameters.default, s))
      .take(n).toSeq
  }

  // small value range, so the two sets overlap often
  private val sortedSet: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(-40L, 40L)).map(_.distinct.sorted.toArray)

  private def setJaccard(a: Array[Long], b: Array[Long]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    val union = (sa | sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union
  }

  test("jaccard_sorted ≡ Set-based Jaccard on sorted distinct arrays") {
    check(Prop.forAll(sortedSet, sortedSet) { (a, b) =>
      TextKernel.jaccardSorted(a, b) == setJaccard(a, b)
    })
    import spark.implicits._
    val pairs = sample(Gen.zip(sortedSet, sortedSet), 200)
    val got = pairs.toDF("a", "b")
      .select(GraftFunctions.jaccard_sorted($"a", $"b")).as[Double].collect()
    pairs.zip(got).foreach { case ((a, b), j) =>
      assert(j == setJaccard(a, b), s"${a.mkString(",")} | ${b.mkString(",")}")
    }
  }

  // letters of both cases, digits, punctuation, whitespace, and chars
  // outside ASCII: multi-byte, one that lowercases INTO [a-z] (Kelvin
  // sign), one that lowercases to two chars (İ), and a surrogate pair
  private val text: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaLowerChar.map(_.toString), Gen.alphaUpperChar.map(_.toString),
    Gen.numChar.map(_.toString),
    Gen.oneOf(" ", "  ", "\t", "\n", ",", ".", "-", "_", "!", "'"),
    Gen.oneOf("ä", "Ö", "ß", "é", "日", "本", "K", "İ", "😀")))
    .map(_.mkString)

  /** The regex path `norm_alnum` replaces, lowercasing as Spark's `lower`. */
  private def regexNorm(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString.replaceAll("[^a-z0-9]+", " ").trim

  test("repeatStats ≡ HashMap counts and a Set of covered positions") {
    // a small value range repeats often; multiples of 2^32 and the extremes
    // share probe slots, so the open-addressing chains are exercised
    val hash = Gen.frequency(
      4 -> Gen.choose(-12L, 12L),
      1 -> Gen.choose(-3L, 3L).map(_ << 32),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, -1L),
      1 -> Gen.long)
    check(Prop.forAll(Gen.listOf(hash).map(_.toArray), Gen.choose(1, 6)) { (hs, k) =>
      val counts = scala.collection.mutable.HashMap.empty[Long, Int]
      hs.foreach(h => counts(h) = counts.getOrElse(h, 0) + 1)
      val rep = counts.filter(_._2 > 1)
      val covered = scala.collection.mutable.Set.empty[Int]
      hs.indices.filter(i => rep.contains(hs(i))).foreach(i => covered ++= i until i + k)
      TextKernel.repeatStats(hs, k) == TextKernel.RepeatStats(rep.size,
        if (rep.isEmpty) 0 else rep.values.max, rep.values.map(_ - 1L).sum, covered.size.toLong)
    })
  }

  test("norm_alnum ≡ the [^a-z0-9]+ regex path on generated text") {
    check(Prop.forAll(text) { s =>
      Expr0.normAlnum(UTF8String.fromString(s)).toString == regexNorm(s)
    })
    import spark.implicits._
    val texts = sample(text, 200)
    val got = texts.toDF("s").select(
      GraftFunctions.norm_alnum($"s"),
      trim(regexp_replace(lower($"s"), "[^a-z0-9]+", " "))).as[(String, String)].collect()
    texts.zip(got).foreach { case (s, (k, r)) =>
      assert(k == r && k == regexNorm(s), s"norm_alnum diverged on '$s'")
    }
  }

  /** Longest common substring length by the O(n·m) suffix-length table. */
  private def dpLcs(a: String, b: String): Int = {
    var best = 0
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      for (j <- 1 to b.length) {
        cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
        best = math.max(best, cur(j))
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
    }
    best
  }

  // a small alphabet makes long shared runs common; the last entry widens
  // the char range the suffix array's packed sort sees
  private val lcsText: Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ', 'é')))
      .map(_.mkString)

  // two letters in repeated blocks: many equal-length occurrences tie
  private val tieText: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "aab", "ba")))
      .map(_.mkString)

  test("suffix-array LCS ≡ O(n·m) DP; offsets locate a shared substring") {
    for (g <- Seq(lcsText, tieText)) check(Prop.forAll(g, g) { (a, b) =>
      val (l, pa, pb) = SuffixSpans.lcsWithPositions(a, b)
      l == dpLcs(a, b) && a.substring(pa, pa + l) == b.substring(pb, pb + l)
    })
    // a shared block planted in unrelated text is found at full length
    check(Prop.forAll(lcsText, lcsText, lcsText) { (pre, shared, post) =>
      val a = pre + shared + post
      val b = post + shared + pre
      SuffixSpans.lcsViaSuffixArray(a, b) == dpLcs(a, b) &&
        SuffixSpans.lcsViaSuffixArray(a, b) >= shared.length
    })
  }

  /** Agreement fraction over the common prefix of two signatures, on the
    * components' low `bits` bits. */
  private def agreement(a: Array[Long], b: Array[Long], bits: Int): Option[Double] = {
    val n = math.min(a.length, b.length)
    val mask = (1L << bits) - 1
    if (n == 0) None
    else Some(a.take(n).zip(b).count { case (x, y) => (x & mask) == (y & mask) }.toDouble / n)
  }

  /** The debiased 8-bit estimate (Li & König): (raw − 2⁻⁸)/(1 − 2⁻⁸), ≥ 0. */
  private def naiveEst8(a: Array[Long], b: Array[Long]): Double =
    agreement(a, b, 8).fold(0.0)(raw => math.max(0.0, (raw - 1.0 / 256) / (1 - 1.0 / 256)))

  private val anyLong = Gen.choose(Long.MinValue, Long.MaxValue)

  // a signature pair: b keeps a's component, changes only bits above the
  // low 32 or above the low 8, or draws a fresh one, position by position;
  // the lengths may differ
  private val sigPair: Gen[(Array[Long], Array[Long])] = for {
    n <- Gen.choose(0, 40)
    a <- Gen.listOfN(n, Gen.oneOf(anyLong, Gen.choose(-300L, 300L)))
    edits <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3), anyLong))
    extra <- Gen.listOfN(3, anyLong).flatMap(xs => Gen.choose(0, 3).map(xs.take))
  } yield {
    val b = a.zip(edits).map {
      case (x, (0, _)) => x
      case (x, (1, r)) => x ^ (r | 1L) << 32
      case (x, (2, r)) => x ^ (r | 1L) << 8
      case (_, (_, r)) => r
    }
    (a.toArray, (b ++ extra).toArray)
  }

  private def arr(a: Array[Long]) = UnsafeArrayData.fromPrimitiveArray(a)

  test("pack_low_bytes + minhash_est8 ≡ naive b-bit estimate") {
    check(Prop.forAll(sigPair) { case (a, b) =>
      val (pa, pb) = (Expr0.packLowBytes(arr(a)), Expr0.packLowBytes(arr(b)))
      pa.sameElements(a.map(_.toByte)) &&
        TextKernel.minhashEstimate8(pa, pb) == naiveEst8(a, b)
    })
    import spark.implicits._
    val pairs = sample(sigPair, 200)
    val got = pairs.toDF("a", "b").select(
      GraftFunctions.minhash_est8(GraftFunctions.pack_low_bytes($"a"),
        GraftFunctions.pack_low_bytes($"b"))).as[Double].collect()
    pairs.zip(got).foreach { case ((a, b), e8) =>
      assert(e8 == naiveEst8(a, b), s"${a.mkString(",")} | ${b.mkString(",")}")
    }
  }

  private val itemInput: Gen[(Array[Long], Array[Long])] = for {
    nb <- Gen.choose(0, 70)
    bands <- Gen.listOfN(nb, Gen.oneOf(anyLong, Gen.oneOf(0L, Long.MinValue, Long.MaxValue)))
    nv <- Gen.choose(0, 5)
    bundle <- Gen.listOfN(nv, anyLong)
  } yield (bands.toArray, bundle.toArray)

  test("lsh_items ≡ the explode(concat(transform…)) generator and Spark's xxhash64") {
    // per doc: (band key, band index, 0) per band, then
    // (xxhash64(v_id, v_hash), -1, 1) per bundle variant, Spark's seed 42
    def naive(bands: Array[Long], bundle: Array[Long]): Seq[(Long, Int, Int)] =
      bands.toSeq.zipWithIndex.map { case (k, i) => (k, i, 0) } ++
        bundle.toSeq.zipWithIndex.map { case (v, j) => (XXH64.hashLong(v, XXH64.hashInt(j, 42L)), -1, 1) }
    def rows(items: Seq[Row]) = items.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    check(Prop.forAll(itemInput) { case (bands, bundle) =>
      val out = Expr0.lshItems(arr(bands), arr(bundle))
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 3); (r.getLong(0), r.getInt(1), r.getInt(2))
      } == naive(bands, bundle)
    })
    import spark.implicits._
    val docs = sample(itemInput, 200)
    val got = docs.toDF("bands", "simhash_bundle").select(
      GraftFunctions.lsh_items($"bands", $"simhash_bundle"),
      concat(
        transform($"bands", (k, i) => struct(k.as("bkey"), i.as("band_id"), lit(0).as("src"))),
        transform($"simhash_bundle", (v, i) => struct(xxhash64(i, v).as("bkey"),
          lit(-1).as("band_id"), lit(1).as("src"))))).collect()
    docs.zip(got).foreach { case ((bands, bundle), r) =>
      val (kernel, hof) = (rows(r.getSeq[Row](0)), rows(r.getSeq[Row](1)))
      assert(kernel == hof && kernel == naive(bands, bundle), s"${bands.mkString(",")} | ${bundle.mkString(",")}")
    }
  }
}

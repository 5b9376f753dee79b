package graft

import org.apache.spark.sql.functions.{lower, regexp_replace, trim}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import graft.functions.{Expr0, GraftFunctions, TextKernel}
import graft.operators.SuffixSpans

/**
 * Property tests: three hot kernels against naive references on generated
 * inputs — `jaccard_sorted` against a Set-based Jaccard, `norm_alnum`
 * against the `[^a-z0-9]+` regex path, and the suffix-array LCS against an
 * O(n·m) dynamic program. Each kernel runs on the JVM for every generated
 * case; the two SQL expressions also run once over the whole sample in a
 * Spark job, against the same references.
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
}

package graft

import graft.operators.SuffixSpans

class SuffixSpansSpec extends SparkSpec {

  test("suffix array sorts all suffixes of 'banana'") {
    val s = "banana".map(_.toInt + 256).toArray :+ -1
    val sa = SuffixSpans.suffixArray(s)
    assert(sa.length == 7 && sa.toSet == (0 to 6).toSet)
    // suffixes must come out in lexicographic order
    val raw = sa.map(i => s.drop(i).toSeq).toSeq
    assert(raw.sliding(2).forall {
      case Seq(a, b) => Ordering.Implicits.seqOrdering[Seq, Int].lteq(a, b)
      case _ => true
    })
    // sentinel (smallest) suffix first, full string where expected
    assert(sa(0) == 6)
    assert(sa.indexOf(0) > 0)
  }

  test("groupSpans finds the longest shared substring across docs") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly"
    val docs = Seq(
      ("d1", "prefix one " + shared + " suffix alpha"),
      ("d2", "other start " + shared + " different end"),
      ("d3", "completely unrelated content here with nothing shared at all"))
    val spans = SuffixSpans.groupSpans(docs, minLen = 20)
    val d12 = spans.find(s => Set(s._1, s._2) == Set("d1", "d2"))
    assert(d12.isDefined)
    // found span covers at least the shared sentence (padding spaces may extend it)
    assert(d12.get._3 >= shared.length, s"span=${d12.get._3}")
    assert(!spans.exists(s => s._1 == "d3" || s._2 == "d3"))
  }

  test("lcsViaSuffixArray is exact: agrees with brute force") {
    val rng = new graft.sources.ConversationGen.Rng(0xC0FFEE)
    def randStr(n: Int): String =
      (0 until n).map(_ => ('a' + rng.nextInt(4)).toChar).mkString // small alphabet → long shared runs
    def brute(a: String, b: String): Int = {
      var best = 0
      for (i <- a.indices; j <- b.indices) {
        var l = 0
        while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
        if (l > best) best = l
      }
      best
    }
    val needle = ("q" * 1000 + "NEEDLE_SHARED_SPAN" + "r" * 1000,
      "z" * 500 + "NEEDLE_SHARED_SPAN" + "w" * 100)
    val literal = Seq(("hello world foo", "xx world fo yy") -> 9, // " world fo"
      ("abc", "xyz") -> 0, ("same", "same") -> 4, ("", "abc") -> 0, needle -> 18)
    literal.foreach { case ((a, b), want) => assert(brute(a, b) == want, s"brute($a, $b)") }
    val cases = literal.map(_._1) ++
      Seq(("", ""), ("abc", ""), ("abc", "abc")) ++
      (1 to 30).map(_ => (randStr(5 + rng.nextInt(120)), randStr(5 + rng.nextInt(120)))) ++
      (1 to 5).map { _ => // planted long shared span
        val shared = randStr(60)
        (randStr(20) + shared + randStr(20), randStr(15) + shared + randStr(25))
      }
    cases.foreach { case (a, b) =>
      val sa = SuffixSpans.lcsViaSuffixArray(a, b)
      assert(sa == brute(a, b), s"SA=$sa brute=${brute(a, b)} for |a|=${a.length},|b|=${b.length}")
    }
  }

  test("lcsWithPositions: span offsets locate the shared substring (X10 analog)") {
    val shared = "zqxjvkwpfyghmbtrn dlscu eoaizqxjvkwpfygh"
    val a = "0123456789" + shared + "tailtail"
    val b = "abc" + shared + "xyzxyzxyz"
    val (len, pa, pb) = SuffixSpans.lcsWithPositions(a, b)
    assert(len == shared.length)
    assert(a.substring(pa, pa + len) == b.substring(pb, pb + len))
    assert(pa == 10 && pb == 3)
    assert(pa - pb == 7) // the alignment delta (translation estimate)
    // ties: the smallest suffix-array-ADJACENT maximal pair, not the
    // smallest occurrence. "c" is at a(0) and a(2), but only "cb" sorts
    // next to b's "cd"; b's "ab" (then the -2 sentinel) sorts next to a's
    // final "ab" (then the -1 sentinel), not to "abXab"
    assert(SuffixSpans.lcsWithPositions("cacb", "cd") == (1, 2, 0))
    assert(SuffixSpans.lcsWithPositions("abXab", "Yab") == (2, 3, 1))
  }

  test("packed suffix array matches suffixes order on a long mixed input") {
    val rng = new graft.sources.ConversationGen.Rng(0xBEEF)
    val s = Array.tabulate(3000)(i =>
      if (i % 997 == 0) -(i / 997) - 1 else 'a' + rng.nextInt(3) + 256)
    val sa = SuffixSpans.suffixArray(s)
    assert(sa.length == s.length && sa.toSet == s.indices.toSet)
    // spot-check global ordering on a sample of adjacent entries
    def cmpSuffix(i: Int, j: Int): Boolean = {
      var a = i; var b = j
      while (a < s.length && b < s.length && s(a) == s(b)) { a += 1; b += 1 }
      if (a == s.length) true else if (b == s.length) false else s(a) <= s(b)
    }
    (0 until sa.length - 1).foreach(i => assert(cmpSuffix(sa(i), sa(i + 1))))
  }

  test("wide int range takes the packed sort and still matches a naive suffix sort") {
    val rng = new graft.sources.ConversationGen.Rng(0xA1FA)
    // 20k values over a 70k range: under 4n, so only the fixed alphabet
    // bound keeps the count buffer from growing with n
    val n = 20000
    val s = Array.tabulate(n)(i => if (i == n - 1) -1 else rng.nextInt(70000))
    val range = s.max.toLong - s.min + 1
    assert(range > 0x10000 + 512 && range <= 4L * n)
    assert(!SuffixSpans.countSortsRound0(range, n))
    // char-range inputs of any length keep the counting sort
    assert(SuffixSpans.countSortsRound0('z' + 256 + 2, 10) &&
      SuffixSpans.countSortsRound0(0x10000 + 256 + 2, 1 << 20))
    def suffixLess(i: Int, j: Int): Boolean = i != j && {
      var a = i; var b = j
      while (a < n && b < n && s(a) == s(b)) { a += 1; b += 1 }
      if (a == n) true else if (b == n) false else s(a) < s(b)
    }
    val naive = s.indices.sortWith(suffixLess).toArray
    assert(SuffixSpans.suffixArray(s).sameElements(naive))
  }

  test("spansForPairs: distributed spans match per-group computation") {
    import spark.implicits._
    val shared = "a long exactly repeated span of text that both conversations contain verbatim"
    val docs = Seq(
      ("c1", "aaa " + shared + " bbb"),
      ("c2", "ccc " + shared + " ddd"),
      ("c3", "eee unrelated fff")).toDF("conv_id", "head_text")
    val pairs = Seq(("c1", "c2"), ("c1", "c3")).toDF("conv_a", "conv_b")
    val out = SuffixSpans.spansForPairs(pairs, docs, minLen = 30).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(out.contains(("c1", "c2")))
    assert(out(("c1", "c2")) >= shared.length)
    assert(!out.contains(("c1", "c3")))
  }
}

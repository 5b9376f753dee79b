package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Hashing, TextKernel}

class TextKernelSpec extends AnyFunSuite {

  test("xxh64 matches reference vectors") {
    // Known-answer vectors for xxHash64 (seed 0): from the public spec
    assert(Hashing.xxh64("", 0L) == 0xEF46DB3751D8E999L)
    assert(Hashing.xxh64("a", 0L) == 0xD24EC4F1A98C6E5BL)
    assert(Hashing.xxh64("abc", 0L) == 0x44BC2CF5AD770999L)
    // longer-than-32-byte path
    assert(Hashing.xxh64("abcdefghijklmnopqrstuvwxyz0123456789", 0L) ==
      0x64F23ECF1609B766L)
  }

  test("normalize: case/whitespace/punct-invariant canonical form") {
    assert(TextKernel.normalize("Hello,   World!") == "hello world")
    assert(TextKernel.normalize("FOO\n\tbar.. baz") == "foo bar baz")
    assert(TextKernel.normalize("") == "")
    assert(TextKernel.normalize(null) == "")
  }

  test("shingleSet: distinct sorted k-grams, short-doc fallback") {
    val toks = "a b c d e f".split(' ')
    val s = TextKernel.shingleSet(toks, 5)
    assert(s.length == 2) // 6-5+1
    assert(s.sorted.sameElements(s))
    val short = TextKernel.shingleSet(Array("a", "b"), 5)
    assert(short.length == 1)
    // determinism
    assert(TextKernel.shingleSet(toks, 5).sameElements(s))
  }

  test("minhash estimate approximates exact jaccard") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(2000)(rng.nextLong())
    val a = base.take(1500)
    val b = base.drop(500) // |inter|=1000, |union|=2000 → J=0.5
    val (pa, pb) = Hashing.minhashParams(256, 123L)
    val sa = TextKernel.minhash(a.distinct.sorted, pa, pb)
    val sb = TextKernel.minhash(b.distinct.sorted, pa, pb)
    val est = TextKernel.minhashEstimate(sa, sb)
    assert(math.abs(est - 0.5) < 0.1, s"est=$est")
  }

  test("simhash: identical docs dist 0, small perturbation small dist, disjoint far") {
    val a = Array.fill(300)("tok" + (scala.util.Random.nextInt(50)))
    val sa = TextKernel.simhash64(a)
    assert(TextKernel.hamming(sa, TextKernel.simhash64(a)) == 0)
    val b = a.clone(); b(0) = "zzz"; b(1) = "yyy"
    assert(TextKernel.hamming(sa, TextKernel.simhash64(b)) <= 12)
    val c = Array.tabulate(300)(i => "other" + i)
    assert(TextKernel.hamming(sa, TextKernel.simhash64(c)) > 12)
  }

  test("jaccardSorted exact merge") {
    assert(TextKernel.jaccardSorted(Array(1L, 2, 3, 4), Array(3L, 4, 5, 6)) == 2.0 / 6)
    assert(TextKernel.jaccardSorted(Array.empty[Long], Array(1L)) == 0.0)
    assert(TextKernel.jaccardSorted(Array(1L, 2), Array(1L, 2)) == 1.0)
  }

  test("bottom-k sketch preserves jaccard estimate") {
    val rng = new scala.util.Random(11)
    val base = Array.fill(20000)(rng.nextLong()).distinct.sorted
    val a = base.take(15000)
    val b = base.drop(5000)
    val exact = TextKernel.jaccardSorted(a, b)
    val ka = TextKernel.bottomK(a, 1024)
    val kb = TextKernel.bottomK(b, 1024)
    val est = TextKernel.jaccardSorted(ka, kb)
    // bottom-k of union estimator is biased slightly by independent-k
    // sketches, but stays within a few points at k=1024
    assert(math.abs(est - exact) < 0.08, s"exact=$exact est=$est")
  }

  test("minHammingBundle short-circuit and min semantics") {
    val a = Array(0L, 0xFFL)
    val b = Array(0xF0L, 0xFFFFL)
    assert(TextKernel.minHammingBundle(a, b, 0) == 4) // 0 vs 0xF0
    assert(TextKernel.minHammingBundle(Array(5L), Array(5L), 3) == 0)
  }

  test("band keys: same signature same bands; band index mixed in") {
    val sig = Array.tabulate(128)(i => i.toLong * 31)
    val b1 = TextKernel.bandKeys(sig, 64, 2)
    val b2 = TextKernel.bandKeys(sig, 64, 2)
    assert(b1.sameElements(b2))
    assert(b1.distinct.length == 64) // no accidental cross-band collisions
  }

  test("minhash params deterministic and odd multipliers") {
    val (a1, b1) = Hashing.minhashParams(128, 123L)
    val (a2, b2) = Hashing.minhashParams(128, 123L)
    assert(a1.sameElements(a2) && b1.sameElements(b2))
    assert(a1.forall(x => (x & 1L) == 1L))
  }

  test("tokenHashesFromNorm is bit-identical to tokenHashes(tokens(norm))") {
    val rng = new scala.util.Random(42)
    val alphabets = Array(
      "abcdefghij ",                        // ascii
      "äöüßéàñç日本語中文한국 ",             // multibyte BMP
      "a😀b🤖 x9 ",     // surrogate pairs (emoji)
      "Ω≠∑ x  y\t.z, Q-7 "                  // punctuation → space collapse
    )
    val cases = Seq("", "one", "two tokens", "  padded  ", "ünïcode tökens",
      "😀 😀 same emoji") ++
      (1 to 60).map { _ =>
        val alpha = alphabets(rng.nextInt(alphabets.length))
        (1 to (1 + rng.nextInt(80)))
          .map(_ => alpha(rng.nextInt(alpha.length))).mkString
      }
    cases.foreach { raw =>
      val norm = TextKernel.normalize(raw)
      val legacy = TextKernel.tokenHashes(TextKernel.tokens(norm))
      val fused = TextKernel.tokenHashesFromNorm(norm)
      assert(fused.sameElements(legacy), s"mismatch for input: '$raw'")
    }
  }

  test("simhash vote decomposition equals direct simhash (head/tail/full)") {
    val rng = new scala.util.Random(7)
    for (nT <- Seq(0, 1, 2, 3, 4, 5, 17, 100, 101)) {
      val th = Array.fill(nT)(rng.nextLong())
      val hLen = math.min(nT, math.max(1, nT / 2))
      val tStart = nT - hLen
      val vHead = new Array[Int](64); TextKernel.simhashVotes(th, 0, hLen, vHead)
      val vTail = new Array[Int](64); TextKernel.simhashVotes(th, tStart, nT, vTail)
      val vFull = new Array[Int](64)
      if (tStart >= hLen) {
        var b = 0; while (b < 64) { vFull(b) = vHead(b) + vTail(b); b += 1 }
        TextKernel.simhashVotes(th, hLen, tStart, vFull)
      } else System.arraycopy(vHead, 0, vFull, 0, 64)
      val headH = java.util.Arrays.copyOfRange(th, 0, hLen)
      val tailH = java.util.Arrays.copyOfRange(th, tStart, nT)
      assert(TextKernel.simhashFromVotes(vFull) ==
        TextKernel.simhash64FromHashes(th), s"full, nT=$nT")
      assert(TextKernel.simhashFromVotes(vHead) ==
        TextKernel.simhash64FromHashes(headH), s"head, nT=$nT")
      assert(TextKernel.simhashFromVotes(vTail) ==
        TextKernel.simhash64FromHashes(tailH), s"tail, nT=$nT")
    }
  }
}

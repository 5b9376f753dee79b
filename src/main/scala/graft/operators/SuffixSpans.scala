package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Per-partition suffix-array stage for exact substring duplicate spans
 * (SURVEY.md §2.3 X15 — the transcript analog of the reference's lane
 * profile matching, /root/reference/wb_lane_normalization.py:24-265, and the
 * north_rule's named "per-partition suffix-array stage").
 *
 * Two surfaces:
 *  - `lcsViaSuffixArray`: EXACT longest-common-substring of one pair via a
 *    generalized suffix array + Kasai LCP — the span kernel Verification
 *    runs (lazily, only on inconclusive pairs) inside the verify join,
 *    where both texts are already co-located. This is the batch span-
 *    evidence path.
 *  - `spansForPairs`: standalone grouped stage — candidate pairs (+ their
 *    two capped texts) are routed to salted partitions; each partition
 *    computes exact per-pair spans. Doc texts are fetched once per group,
 *    so a doc appearing in many pairs ships once per partition, not once
 *    per pair.
 *
 * The suffix-array sort is allocation-free for n < 2²¹: (rank, next-rank,
 * index) pack into one primitive Long per suffix and each doubling round is
 * a single Arrays.sort(long[]) — no boxed Integer comparators (the previous
 * implementation sorted java.lang.Integer with a closure comparator, a GC
 * hot spot at high thread counts). Larger inputs fall back to the boxed
 * path (head texts are capped at cfg.headChars, so the packed path is the
 * only one the pipeline exercises).
 */
object SuffixSpans {

  private final val PackBits = 21 // 3×21 = 63 bits: rank | rank2+1 | index
  private final val PackMax = 1 << PackBits
  /** Widest value range the round-0 counting sort takes: every UTF-16 code
    * unit at the kernel's +256 offset plus 256 sentinels. Its count buffer
    * (range + 1 ints, ≤ 258 KB) then stays O(alphabet), never O(n). */
  private final val CountSortMaxRange = 0x10000L + 512L

  /** Round 0 counting-sorts when the value range is within the alphabet
    * bound and no wider than a few times the input (a sparse wide range in
    * a short input sorts faster by comparison than by an O(range) count
    * pass); otherwise the packed comparison sort. */
  private[graft] def countSortsRound0(range: Long, n: Int): Boolean =
    range <= CountSortMaxRange && range <= math.max(1024L, 4L * n)

  /** Generalized suffix array over `s` (doubling, O(n log n) rounds of one
    * primitive sort each). Values of `s` may be any ints (negative
    * sentinels allowed); ties in rank resolved by rank at offset k. */
  private[graft] def suffixArray(s: Array[Int]): Array[Int] = {
    val n = s.length
    if (n == 0) return Array.empty
    // packed path needs rank values and indices to fit 21 bits
    var minV = Int.MaxValue; var maxV = Int.MinValue
    var i = 0
    while (i < n) { val v = s(i); if (v < minV) minV = v; if (v > maxV) maxV = v; i += 1 }
    if (n < PackMax && (maxV.toLong - minV) + 1 < PackMax) suffixArrayPacked(s, minV, maxV)
    else suffixArrayBoxed(s)
  }

  /** Packed-long first round (arbitrary value range) + two-pass LSD
    * counting-sort doubling rounds (ranks live in [0, n], so each round is
    * O(n) instead of an O(n log n) comparison sort — the span kernel runs
    * once per inconclusive verify pair, ~90% of that stage's CPU, and this
    * sort was its hot loop). Zero boxing anywhere. */
  private def suffixArrayPacked(s: Array[Int], minV: Int, maxV: Int): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = s(i) - minV; i += 1 }
    val sa = new Array[Int](n)
    val ord = new Array[Int](n)
    val tmp = new Array[Int](n)
    val cnt = new Array[Int](n + 2)
    // round 0: order by raw value. The span kernel's inputs are chars (+ a
    // few sentinels), so the value range is small and one stable counting
    // sort replaces the O(n log n) packed comparison sort — measured ~25%
    // of the per-pair SA cost at the 16k-char generalized string. Stability
    // gives the same (value, index) order the packed sort produced, and
    // the final SA is unique anyway (sentinels make all suffixes distinct).
    // Large ranges (arbitrary int alphabets) keep the packed sort.
    val range = maxV.toLong - minV + 1
    if (countSortsRound0(range, n)) {
      val cnt0 = new Array[Int](range.toInt + 1)
      i = 0
      while (i < n) { cnt0(rank(i) + 1) += 1; i += 1 }
      i = 1
      while (i <= range.toInt) { cnt0(i) += cnt0(i - 1); i += 1 }
      i = 0
      while (i < n) { sa(cnt0(rank(i))) = i; cnt0(rank(i)) += 1; i += 1 }
    } else {
      val keys = new Array[Long](n)
      i = 0
      while (i < n) { keys(i) = (rank(i).toLong << PackBits) | i.toLong; i += 1 }
      java.util.Arrays.sort(keys)
      i = 0
      while (i < n) { sa(i) = (keys(i) & (PackMax - 1)).toInt; i += 1 }
    }
    // initial re-rank off the raw values (rank(sa(i)) is the sort key both
    // branches ordered by)
    tmp(sa(0)) = 0
    i = 1
    while (i < n) {
      tmp(sa(i)) = tmp(sa(i - 1)) +
        (if (rank(sa(i)) != rank(sa(i - 1))) 1 else 0)
      i += 1
    }
    System.arraycopy(tmp, 0, rank, 0, n)
    var k = 1
    while (rank(sa(n - 1)) != n - 1) {
      // r2(i) = rank(i+k)+1 (0 past the end) ∈ [0, n]; rank(i) ∈ [0, n-1]
      // pass 1: stable counting sort of all indices by r2
      java.util.Arrays.fill(cnt, 0, n + 2, 0)
      i = 0
      while (i < n) { cnt((if (i + k < n) rank(i + k) + 1 else 0) + 1) += 1; i += 1 }
      i = 1
      while (i < n + 2) { cnt(i) += cnt(i - 1); i += 1 }
      i = 0
      while (i < n) {
        val r2 = if (i + k < n) rank(i + k) + 1 else 0
        ord(cnt(r2)) = i; cnt(r2) += 1
        i += 1
      }
      // pass 2: stable counting sort of ord by rank → sa
      java.util.Arrays.fill(cnt, 0, n + 1, 0)
      i = 0
      while (i < n) { cnt(rank(i) + 1) += 1; i += 1 }
      i = 1
      while (i < n + 1) { cnt(i) += cnt(i - 1); i += 1 }
      i = 0
      while (i < n) {
        val x = ord(i)
        sa(cnt(rank(x))) = x; cnt(rank(x)) += 1
        i += 1
      }
      // re-rank: adjacent (rank, r2) comparison
      tmp(sa(0)) = 0
      i = 1
      while (i < n) {
        val x = sa(i); val y = sa(i - 1)
        val r2x = if (x + k < n) rank(x + k) + 1 else 0
        val r2y = if (y + k < n) rank(y + k) + 1 else 0
        tmp(x) = tmp(y) + (if (rank(x) != rank(y) || r2x != r2y) 1 else 0)
        i += 1
      }
      System.arraycopy(tmp, 0, rank, 0, n)
      k <<= 1
    }
    sa
  }

  /** Boxed-comparator fallback for inputs too large to pack (not on the
    * pipeline hot path — head texts are capped well below 2²¹ chars). */
  private def suffixArrayBoxed(s: Array[Int]): Array[Int] = {
    val n = s.length
    val sa = Array.tabulate(n)(identity)
    var rank = s.clone()
    var tmp = new Array[Int](n)
    var k = 1
    val saBoxed = sa.map(Integer.valueOf)
    def cmp(a: Int, b: Int): Int = {
      if (rank(a) != rank(b)) Integer.compare(rank(a), rank(b))
      else {
        val ra = if (a + k < n) rank(a + k) else -1
        val rb = if (b + k < n) rank(b + k) else -1
        Integer.compare(ra, rb)
      }
    }
    while (k < n) {
      java.util.Arrays.sort(saBoxed, (x: Integer, y: Integer) => cmp(x, y))
      var i = 0
      while (i < n) { sa(i) = saBoxed(i); i += 1 }
      tmp(sa(0)) = 0
      i = 1
      while (i < n) {
        tmp(sa(i)) = tmp(sa(i - 1)) + (if (cmp(sa(i - 1), sa(i)) < 0) 1 else 0)
        i += 1
      }
      val t = rank; rank = tmp; tmp = t
      if (rank(sa(n - 1)) == n - 1) k = n // all distinct → done
      else k <<= 1
    }
    sa
  }

  /** Kasai LCP: lcp(i) = common prefix length of sa(i) and sa(i+1). */
  private[graft] def kasaiLcp(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val lcp = new Array[Int](math.max(0, n - 1))
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) + 1 < n) {
        val j = sa(rank(i) + 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }

  /**
   * EXACT longest common substring (chars) of two strings via one
   * generalized suffix array: concat with distinct negative sentinels, then
   * max LCP over SA-adjacent suffixes of different owners (with only two
   * documents this adjacent scan is exact — any interleaving suffix belongs
   * to one of the two owners).
   */
  def lcsViaSuffixArray(a: String, b: String): Int = lcsWithPositions(a, b)._1

  /**
   * Like lcsViaSuffixArray but also returns the span's start offsets
   * (posA, posB) in each document — the text analog of the reference's ECC
   * alignment estimate (X10, ai_...AUTO.py:1276-1307): for transcripts the
   * transform family is translation (truncation/insertion shifts), so the
   * single offset delta posA−posB IS the alignment. The span comes from a
   * suffix-array-adjacent pair of suffixes, one from each document: of the
   * adjacent pairs with the maximal common prefix, the smallest (posA,
   * posB) wins. An occurrence whose two suffixes are not adjacent in the
   * suffix array is never reported, so this is NOT the smallest (posA,
   * posB) over all occurrences: ("cacb", "cd") gives (1, 2, 0), not
   * (1, 0, 0), and ("abXab", "Yab") gives (2, 3, 1), not (2, 0, 1).
   */
  def lcsWithPositions(a: String, b: String): (Int, Int, Int) = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return (0, 0, 0)
    val la = a.length
    val n = la + b.length + 2
    val s = new Array[Int](n)
    var i = 0
    while (i < la) { s(i) = a.charAt(i) + 256; i += 1 }
    s(la) = -1
    i = 0
    while (i < b.length) { s(la + 1 + i) = b.charAt(i) + 256; i += 1 }
    s(n - 1) = -2
    val sa = suffixArray(s)
    val lcp = kasaiLcp(s, sa)
    var best = 0; var bestA = 0; var bestB = 0
    i = 0
    while (i < lcp.length) {
      val x = sa(i); val y = sa(i + 1)
      // owners: A-suffixes start before la; sentinel positions excluded
      val ax = x < la; val bx = x > la && x < n - 1
      if ((ax || bx) && lcp(i) > 0) {
        val ay = y < la; val by = y > la && y < n - 1
        if ((ax && by) || (bx && ay)) {
          val pa = if (ax) x else y
          val pb = (if (ax) y else x) - la - 1
          if (lcp(i) > best ||
              (lcp(i) == best && (pa < bestA || (pa == bestA && pb < bestB)))) {
            best = lcp(i); bestA = pa; bestB = pb
          }
        }
      }
      i += 1
    }
    (best, bestA, bestB)
  }

  /** Cross-doc shared spans within one group of docs: (docA, docB, spanLen)
    * for SA-adjacent suffixes of different docs with LCP ≥ minLen. Adjacent-
    * entry scanning may attribute a span to an interleaving third document —
    * all such documents share the span, so as group-level DUP EVIDENCE the
    * attribution is sound; per-pair exactness comes from lcsViaSuffixArray. */
  private[graft] def groupSpans(docs: Seq[(String, String)], minLen: Int): Seq[(String, String, Int)] = {
    if (docs.size < 2) return Nil
    // concatenate with unique negative sentinels so no span crosses docs
    val totalLen = docs.map(_._2.length).sum + docs.size
    val s = new Array[Int](totalLen)
    val owner = new Array[Int](totalLen)
    var pos = 0
    docs.zipWithIndex.foreach { case ((_, text), di) =>
      var i = 0
      while (i < text.length) { s(pos) = text.charAt(i).toInt + 256; owner(pos) = di; pos += 1; i += 1 }
      s(pos) = -di - 1; owner(pos) = -1; pos += 1 // unique sentinel
    }
    val sa = suffixArray(s)
    val lcp = kasaiLcp(s, sa)
    val out = scala.collection.mutable.HashMap[(Int, Int), Int]()
    var i = 0
    while (i < lcp.length) {
      val a = owner(sa(i)); val b = owner(sa(i + 1))
      if (a >= 0 && b >= 0 && a != b && lcp(i) >= minLen) {
        val key = (math.min(a, b), math.max(a, b))
        val cur = out.getOrElse(key, 0)
        if (lcp(i) > cur) out(key) = lcp(i)
      }
      i += 1
    }
    out.iterator.map { case ((a, b), l) => (docs(a)._1, docs(b)._1, l) }.toSeq
  }

  /**
   * Span evidence for candidate pairs: route each pair (+ its two capped
   * texts) to a salted partition group, compute the EXACT per-pair span via
   * the suffix-array kernel, emit (conv_a, conv_b, max_span_len). Docs ship
   * once per group they appear in — bounded duplication, even spread.
   */
  def spansForPairs(pairs: DataFrame, docs: DataFrame, minLen: Int = 100,
                    numGroups: Int = 0): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val groups = if (numGroups > 0) numGroups
                 else spark.sparkContext.defaultParallelism * 4
    val withGrp = pairs.select($"conv_a", $"conv_b")
      .withColumn("grp", pmod(xxhash64($"conv_a", $"conv_b"), lit(groups)))
    // docs needed per group (a doc may replicate across groups — bounded)
    val docTexts = docs.select($"conv_id", $"head_text")
    val members = withGrp.select($"grp", explode(array($"conv_a", $"conv_b")).as("conv_id"))
      .distinct()
      .join(docTexts, "conv_id")
    val pairSet = withGrp
      .groupBy($"grp").agg(collect_list(struct($"conv_a", $"conv_b")).as("pairs"))
    members
      .groupBy($"grp").agg(collect_list(struct($"conv_id", $"head_text")).as("docs"))
      .join(pairSet, "grp")
      .as[(Long, Seq[(String, String)], Seq[(String, String)])]
      .flatMap { case (_, docSeq, pairKeys) =>
        val text = docSeq.toMap
        pairKeys.iterator.flatMap { case (a, b) =>
          (text.get(a), text.get(b)) match {
            case (Some(ta), Some(tb)) =>
              val l = lcsViaSuffixArray(ta, tb)
              if (l >= minLen) Some((a, b, l)) else None
            case _ => None
          }
        }
      }
      .toDF("conv_a", "conv_b", "span_len")
      .groupBy($"conv_a", $"conv_b").agg(max($"span_len").as("max_span_len"))
  }
}

package graft.functions

import scala.collection.mutable

/**
 * The batched signature kernel: normalization, tokenization, shingling,
 * MinHash, SimHash — pure JVM functions invoked from `mapPartitions` so the
 * hot path is a single narrow pass per document with zero shuffle
 * (the Spark re-expression of the reference's batched CLIP/pHash kernels,
 * /root/reference/duplicate_detector/core/similarity_engine.py:107-139 and
 * :313-356; batching per partition mirrors its batch-size-64 loop).
 *
 * Everything here is deterministic: fixed seeds, no per-task state.
 */
object TextKernel {

  final val ShingleSeed = 0x5CA1AB1E0FF1CE00L
  final val TokenSeed   = 0x7E57DA7A5EEDL

  /**
   * Canonicalize text before shingling — the text analog of the reference's
   * photometric normalization (similarity_engine.py:590-637): NFC, lower,
   * collapse whitespace, strip punctuation runs to single spaces.
   */
  def normalize(text: String): String = {
    if (text == null) return ""
    val nfc = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var prevSpace = true
    var i = 0
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      if (Character.isLetterOrDigit(c)) {
        sb.append(Character.toLowerCase(c)); prevSpace = false
      } else if (!prevSpace) {
        sb.append(' '); prevSpace = true
      }
      i += 1
    }
    var n = sb.length
    while (n > 0 && sb.charAt(n - 1) == ' ') n -= 1
    sb.substring(0, n)
  }

  /** Whitespace tokenization of already-normalized text. */
  def tokens(normText: String): Array[String] = {
    if (normText.isEmpty) Array.empty
    else normText.split(' ')
  }

  /** Per-token 64-bit hashes — computed ONCE per document and shared by
    * every signature below (shingles, simhash, bundle variants, block
    * sketches); re-hashing token strings per signature was the top cost of
    * the signatures stage. */
  def tokenHashes(toks: Array[String]): Array[Long] = {
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = Hashing.xxh64(toks(i), TokenSeed); i += 1 }
    th
  }

  /** Fused tokenize+hash over ALREADY-NORMALIZED text: one UTF-8 encoding
    * of the whole string, then per-token xxh64 over byte ranges between
    * space bytes — bit-identical to `tokenHashes(tokens(norm))` (U+0020 is
    * the only code point whose UTF-8 encoding contains byte 0x20, and
    * `normalize` guarantees single interior spaces with no leading/trailing
    * space) while allocating O(1) objects instead of one String + one
    * byte[] per token. The per-token allocation churn was measurable
    * memory-bus traffic in the signatures stage at 32 threads
    * (TextKernelSpec gates the parity on arbitrary unicode input). */
  def tokenHashesFromNorm(norm: String): Array[Long] = {
    if (norm.isEmpty) return Array.empty
    val b = norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var n = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') n += 1; i += 1 }
    val out = new Array[Long](n)
    var w = 0
    var start = 0
    i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        out(w) = Hashing.xxh64(b, start, i - start, TokenSeed)
        w += 1
        start = i + 1
      }
      i += 1
    }
    out
  }

  /**
   * Distinct word-k-gram shingle hashes (64-bit). Rolling re-hash of k
   * token hashes — the generator pattern of the reference's sliding
   * micro-tiles (tile_first_pipeline.py:55-94) in text space.
   * Documents shorter than k tokens yield one whole-text shingle so short
   * docs still participate.
   */
  def shingleSet(toks: Array[String], k: Int): Array[Long] =
    shingleSetFromHashes(tokenHashes(toks), k)

  /** shingleSet over precomputed token hashes. Primitive sort + in-place
    * dedup instead of a boxing HashSet: at 32 concurrent kernel threads the
    * boxed-Long allocation rate exceeded GC throughput and the signatures
    * stage ANTI-scaled (11.8s at local[8] → 51.1s at local[32]). Output is
    * bit-identical (same sorted distinct hashes). */
  def shingleSetFromHashes(th: Array[Long], k: Int): Array[Long] = {
    if (th.isEmpty) return Array.empty
    if (th.length < k) {
      var h = ShingleSeed
      var i = 0
      while (i < th.length) { h = Hashing.xxh64Long(th(i), h); i += 1 }
      return Array(h)
    }
    val n = th.length - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = ShingleSeed
      var j = i
      while (j < i + k) { h = Hashing.xxh64Long(th(j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < n) { if (hs(i) != hs(i - 1)) { hs(w) = hs(i); w += 1 }; i += 1 }
    if (w == n) hs else java.util.Arrays.copyOfRange(hs, 0, w)
  }

  /**
   * MinHash signature over a shingle set with multiply-shift permutations.
   * Returns numPerms longs. Empty set → Long.MaxValue sentinel signature.
   */
  def minhash(shingles: Array[Long], a: Array[Long], b: Array[Long]): Array[Long] = {
    val n = a.length
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var p = 0
      while (p < n) {
        val h = a(p) * s + b(p)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Estimated Jaccard from two MinHash signatures (fraction of agreeing
    * perms). Compares min(|a|,|b|) positions and returns 0.0 on empty input
    * — the pipeline always passes fixed-length signatures, but the function
    * is SQL-exposed as `minhash_est` so arbitrary arrays must not throw. */
  def minhashEstimate(sa: Array[Long], sb: Array[Long]): Double = {
    val n = math.min(sa.length, sb.length)
    if (n == 0) return 0.0
    var eq = 0; var i = 0
    while (i < n) { if (sa(i) == sb(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** 8-bit b-bit minwise estimate (Li & König, WWW 2010 §3) over packed
    * low-byte signature components: a position false-matches with
    * probability C₈ = 2⁻⁸ when the full components differ, so the raw
    * agreement fraction is debiased as (raw − C₈)/(1 − C₈) — an unbiased
    * estimator of J (clamped at 0), keeping every downstream threshold's
    * meaning while shipping ONE BYTE per position through the candidate
    * join's dominant shuffle. Every arithmetic step is IEEE-exact up to the
    * final correctly-rounded division (raw and C₈ are dyadic), so a DuckDB
    * replay computing the same expression is bit-identical. */
  def minhashEstimate8(sa: Array[Byte], sb: Array[Byte]): Double = {
    val n = math.min(sa.length, sb.length)
    if (n == 0) return 0.0
    var eq = 0; var i = 0
    while (i < n) { if (sa(i) == sb(i)) eq += 1; i += 1 }
    val c8 = 1.0 / 256.0
    math.max(0.0, (eq.toDouble / n - c8) / (1.0 - c8))
  }

  /**
   * LSH band keys: signature split into b bands of r rows, each band hashed
   * to one 64-bit key mixed with the band index (so identical row values in
   * different bands never collide) — the Spark analog of the reference's
   * hash-prefix bucketing (ai_...AUTO.py:4002-4069).
   */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var h = Hashing.mix64(0xBADBEEFL + bnd)
      var r = bnd * rows
      val end = r + rows
      while (r < end) { h = Hashing.xxh64Long(sig(r), h); r += 1 }
      out(bnd) = h
      bnd += 1
    }
    out
  }

  /**
   * 64-bit SimHash over token frequencies — the text analog of the
   * reference's perceptual DCT hash (ai_...AUTO.py:3930-3944): weighted
   * bit-vote over per-token 64-bit hashes.
   */
  def simhash64(toks: Array[String]): Long =
    simhash64FromHashes(tokenHashes(toks))

  /** simhash64 over precomputed token hashes. Votes accumulate per
    * OCCURRENCE (±1 each), which equals the frequency-weighted per-distinct
    * vote exactly — so no frequency map, zero allocation (the boxed
    * HashMap[Long,Int] was a GC hot spot at high thread counts). */
  def simhash64FromHashes(th: Array[Long]): Long = {
    if (th.isEmpty) return 0L
    val votes = new Array[Int](64)
    simhashVotes(th, 0, th.length, votes)
    simhashFromVotes(votes)
  }

  /** Accumulate the ±1 per-occurrence bit votes of th[from, until) into
    * `votes` (length 64). Votes are plain integer sums, so votes over a
    * partition of ranges add up to the whole array's votes exactly — the
    * signature kernel exploits this to derive the full-document simhash
    * from its head/tail variant votes instead of a third O(n·64) pass. */
  def simhashVotes(th: Array[Long], from: Int, until: Int,
                   votes: Array[Int]): Unit = {
    var i = from
    while (i < until) {
      val h = th(i)
      var bit = 0
      while (bit < 64) {
        // branchless ±1: (bit<<1)-1 maps {0,1} -> {-1,+1}
        votes(bit) += ((((h >>> bit) & 1L) << 1) - 1L).toInt
        bit += 1
      }
      i += 1
    }
  }

  /** Majority threshold: bit set iff its vote sum is strictly positive. */
  def simhashFromVotes(votes: Array[Int]): Long = {
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Sorted distinct copy of a primitive long array (no boxing). */
  def sortedDistinct(xs: Array[Long]): Array[Long] = {
    if (xs.length <= 1) return xs.clone()
    val a = xs.clone()
    java.util.Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) { if (a(i) != a(i - 1)) { a(w) = a(i); w += 1 }; i += 1 }
    if (w == a.length) a else java.util.Arrays.copyOfRange(a, 0, w)
  }

  /** Repeat statistics of one document's positional shingle hashes (see
    * `repeatStats`). */
  final case class RepeatStats(nRepeated: Int, maxMultiplicity: Int, excess: Long, covered: Long)

  /** Repeat statistics of positional shingle hashes `hs`, shingle i
    * covering token positions [i, i + k): the number of distinct hashes
    * that occur more than once, their largest multiplicity (0 when none
    * repeats), the excess Σ(count − 1) over them, and how many token
    * positions the repeated shingles cover (their interval union). One
    * counting pass into an open-addressing table of primitive longs (no
    * sort, no boxing; load ≤ 1/2), then one pass over the positions that
    * flags each repeated one from its slot's count as it merges the spans. */
  def repeatStats(hs: Array[Long], k: Int): RepeatStats = {
    val n = hs.length
    if (n == 0) return RepeatStats(0, 0, 0L, 0L)
    val cap = Integer.highestOneBit(2 * n - 1) << 1 // power of two ≥ 2n
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    val slotOf = new Array[Int](n)
    var i = 0
    while (i < n) {
      val h = hs(i)
      var s = (h ^ (h >>> 32)).toInt & mask
      while (counts(s) != 0 && keys(s) != h) s = (s + 1) & mask
      keys(s) = h; counts(s) += 1; slotOf(i) = s
      i += 1
    }
    var nRep = 0; var maxMult = 0; var excess = 0L
    var s = 0
    while (s < cap) {
      val c = counts(s)
      if (c > 1) { nRep += 1; if (c > maxMult) maxMult = c; excess += c - 1 }
      s += 1
    }
    var covered = 0L
    if (nRep > 0) {
      var curStart = -1; var curEnd = -1
      i = 0
      while (i < n) {
        if (counts(slotOf(i)) > 1) {
          if (i >= curEnd) { // disjoint: flush the previous run
            if (curEnd > curStart) covered += curEnd - curStart
            curStart = i
          }
          curEnd = i + k
        }
        i += 1
      }
      if (curEnd > curStart) covered += curEnd - curStart
    }
    RepeatStats(nRep, maxMult, excess, covered)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  @inline def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)

  /**
   * Min Hamming across two fingerprint bundles with short-circuit ≤ cutoff —
   * mirrors hamming_min_transform (similarity_engine.py:359-400).
   */
  def minHammingBundle(as: Array[Long], bs: Array[Long], cutoff: Int): Int = {
    var best = 64
    var i = 0
    while (i < as.length) {
      var j = 0
      while (j < bs.length) {
        val d = hamming(as(i), bs(j))
        if (d < best) { best = d; if (best <= cutoff) return best }
        j += 1
      }
      i += 1
    }
    best
  }

  /** Int twin for the verify stage's high-32-bit truncated sketches
    * (Expr0.sketch32): identical merge-scan at half the memory
    * traffic — this loop streams ~2×sketch bytes per pair and was the
    * verified stage's measured memory-bus wall. */
  def jaccardSorted(a: Array[Int], b: Array[Int]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Exact Jaccard of two SORTED distinct long arrays (merge scan, no alloc). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /**
   * Bottom-k sketch of a sorted shingle array under a fixed permutation:
   * keep the k smallest values of mix64(s). Deterministic size cap per
   * document (reference analog: TILE_MAX_TILES_PER_PANEL,
   * tile_detection.py:36) — bounds verify-join payloads at 100 TB while
   * keeping Jaccard estimable.
   */
  def bottomK(shingles: Array[Long], k: Int): Array[Long] = {
    // ALWAYS mixed space, both branches: an early `return shingles` for the
    // small case would hand back RAW values while the > k case returns
    // mix64-mapped ones — jaccard between a small doc's sketch and a large
    // doc's sketch would then compare incompatible hash spaces and read ~0
    // for true near-dups (the old call sites each re-mixed the small case
    // externally to compensate; the kernel now honors its own contract).
    val mixed = shingles.map(Hashing.mix64)
    java.util.Arrays.sort(mixed)
    if (mixed.length <= k) mixed
    else java.util.Arrays.copyOfRange(mixed, 0, k)
  }
}

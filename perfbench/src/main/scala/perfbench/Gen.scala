package perfbench

import java.sql.Timestamp
import graft.model.Turn

/** One ground-truth pair of the manifest. `kind` is exact, transformed,
  * mega (two members of one near-identical mega-family) or hard_negative. */
final case class Planted(convA: String, convB: String, kind: String,
                         transform: String, shouldDetect: Boolean)

/** A workload's input make-up. Every count is per run; the seed picks the
  * contents, never the sizes, so every seed does the same amount of work. */
final case class Spec(
  nBase: Int,             // independent base conversations
  nDupSources: Int,       // base conversations cloned once per transform
  nHardNeg: Int,          // same-family pairs with boosted boilerplate
  megaFamilies: Int,      // near-identical families larger than a bucket cap
  megaSize: Int)          // members per mega-family

/**
 * Deterministic transcript generator of the benchmark. It shares no code
 * with the engine's own generator, so a change there never moves these
 * inputs. Every value is a function of (seed, conversation index): the same
 * seed gives the same turns in the same order, byte for byte.
 *
 * Make-up: conversation lengths come from a fixed ladder (see `lengths`):
 * LogNormal(2.2, 0.8) turns clipped to [2, 100], one in ten with a 10x
 * length (the heavy tail, capped at 400); turns are 5-120 tokens from a
 * 6000-word vocabulary; each
 * conversation belongs to one of 40 template families whose 60-token
 * boilerplate makes up a quarter of its tokens and its system turn.
 */
object Gen {

  final val Vocab = 6000
  final val Families = 40
  final val MinSourceTurns = 5
  private final val Epoch = 1700000000000L

  val Transforms: Seq[String] = Seq(
    "exact", "relayout", "reorder", "subst5", "subst10",
    "truncate15", "drop2", "lossy_norm")

  /** splitmix64 step and finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = mix(seed ^ 0x2545F4914F6CDD1DL)
    def next(): Long = { s = mix(s); s }
    def double(): Double = (next() >>> 11) * (1.0 / (1L << 53))
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def gaussian(): Double = {
      val u1 = math.max(double(), 1e-12)
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * double())
    }
  }

  private val words: Array[String] = Array.tabulate(Vocab) { v =>
    var h = mix(v.toLong * 0x632BE59BD9B4E019L + 0x1234567L)
    val len = 3 + java.lang.Long.remainderUnsigned(h, 7L).toInt
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      h = mix(h)
      sb.append(('a' + java.lang.Long.remainderUnsigned(h, 26L).toInt).toChar)
      i += 1
    }
    sb.toString
  }

  def word(v: Int): String = words(v)

  private def boilerplate(family: Int): Array[String] = {
    val r = new Rng(0xB01L * (family + 1))
    Array.fill(60)(word(r.int(Vocab)))
  }

  private def ts(convNo: Long, idx: Int) = new Timestamp(Epoch + convNo * 100000L + idx * 1000L)

  /** Turn counts of `n` conversations: LogNormal(2.2, 0.8) clipped to
    * [2, 100], with every tenth one given a 10x length (capped at 400). The
    * ladder is the same for every seed — only which conversation gets which
    * length depends on the seed — so every seed gives a corpus of nearly
    * the same size, and run-to-run spread is not input-size spread. */
  def lengths(n: Int, stream: Long): Array[Int] = {
    val r = new Rng(0x1ADDE5L + stream)
    Array.tabulate(n) { i =>
      val len = math.exp(2.2 + 0.8 * r.gaussian()).toInt.max(2).min(100)
      if (i % 10 == 9) (len * 10).min(400) else len
    }
  }

  /** A seed-dependent permutation of 0 until n. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    val r = new Rng(seed ^ 0x5EED5L)
    var i = n - 1
    while (i > 0) { val j = r.int(i + 1); val x = p(i); p(i) = p(j); p(j) = x; i -= 1 }
    p
  }

  /** One conversation of `len` turns. `boost` raises the boilerplate share
    * (hard negatives); `tokens` > 0 fixes the tokens per turn instead of
    * drawing 5-120. */
  def conversation(id: String, convNo: Long, seed: Long, family: Int, len: Int,
                   boost: Boolean = false, tokens: Int = 0): Vector[Turn] = {
    val r = new Rng(seed ^ mix(convNo * 0x9E37L + 17))
    val boiler = boilerplate(family)
    val frac = if (boost) 0.55 else 0.25
    val out = Vector.newBuilder[Turn]
    out += Turn(id, 0, "system", boiler.take(40).mkString(" ") + ".", null, ts(convNo, 0))
    var idx = 1
    while (idx < len) {
      val role = if (r.double() < 0.15) "tool" else if (idx % 2 == 1) "user" else "assistant"
      val nTok = if (tokens > 0) tokens else 5 + r.int(116)
      val sb = new java.lang.StringBuilder(nTok * 7)
      var t = 0
      while (t < nTok) {
        if (t > 0) sb.append(if (r.double() < 0.08) ", " else " ")
        sb.append(if (r.double() < frac) boiler(r.int(boiler.length)) else word(r.int(Vocab)))
        t += 1
      }
      sb.append(if (r.double() < 0.5) "." else "?")
      val tool = if (role == "tool") s"tool_${r.int(12)}" else null
      out += Turn(id, idx, role, sb.toString, tool, ts(convNo, idx))
      idx += 1
    }
    out.result()
  }

  /** A labelled copy of `src` under `id`. */
  def transform(src: Vector[Turn], id: String, convNo: Long, kind: String,
                seed: Long): Vector[Turn] = {
    val r = new Rng(seed ^ mix(convNo * 31 + kind.hashCode))
    def reIdx(ts0: Seq[Turn]) = ts0.zipWithIndex.map { case (t, i) =>
      t.copy(conv_id = id, turn_idx = i, ts = ts(convNo, i)) }.toVector
    def perToken(f: String => Option[String]) = reIdx(src).map { t =>
      val toks = t.text.split(' ').flatMap(f(_))
      t.copy(text = if (toks.isEmpty) t.text else toks.mkString(" "))
    }
    kind match {
      case "exact" => reIdx(src)
      case "relayout" => reIdx(src).map { t =>
        t.copy(text = t.text.split(' ').zipWithIndex.map { case (w, i) =>
          if (i % 3 == 0) w.toUpperCase else w }.mkString("  ") + "\n") }
      case "reorder" =>
        val a = src.toArray
        var i = 1
        while (i + 1 < a.length) {
          if (r.double() < 0.3) { val x = a(i); a(i) = a(i + 1); a(i + 1) = x }
          i += 2
        }
        reIdx(a.toSeq)
      case "subst5" => perToken(w => Some(if (r.double() < 0.05) word(r.int(Vocab)) else w))
      case "subst10" => perToken(w => Some(if (r.double() < 0.10) word(r.int(Vocab)) else w))
      case "truncate15" => reIdx(src.take(math.max(2, (src.length * 0.85).toInt)))
      case "drop2" => perToken(w => if (r.double() < 0.02) None else Some(w))
      case "lossy_norm" => reIdx(src).map { t =>
        t.copy(text = t.text.replaceAll("[^a-zA-Z0-9 ]", "").replaceAll(" +", " ").trim) }
      case other => sys.error(s"unknown transform $other")
    }
  }

  /** The whole input of one workload: turns in a fixed order, plus the
    * ground-truth manifest. */
  def generate(spec: Spec, seed: Long): (Vector[Turn], Vector[Planted]) = {
    val turns = Vector.newBuilder[Turn]
    val manifest = Vector.newBuilder[Planted]
    def famOf(i: Long) = java.lang.Long.remainderUnsigned(mix(i ^ seed), Families.toLong).toInt
    // conversation i gets the length of ladder rung perm(i)
    val ladder = lengths(spec.nBase, 0L)
    val perm = permutation(spec.nBase, seed)
    val base = (0 until spec.nBase).map { i =>
      val c = conversation(f"b$i%06d", i.toLong, seed, famOf(i.toLong), ladder(perm(i)))
      turns ++= c
      c
    }
    // dup sources: the conversations on evenly spaced rungs of the ladder,
    // so the cloned volume is the same for every seed. Rungs shorter than
    // MinSourceTurns are skipped: the engine misses 10%-substituted copies
    // of 2-3 turn conversations on some seeds, which would fail the recall
    // check on those seeds only (see the README).
    val onRung = new Array[Int](spec.nBase)
    perm.zipWithIndex.foreach { case (rung, i) => onRung(rung) = i }
    val eligible = (0 until spec.nBase).filter(r => ladder(r) >= MinSourceTurns)
    val sources = (0 until spec.nDupSources).map(j =>
      onRung(eligible(j * eligible.size / spec.nDupSources)))
    var convNo = spec.nBase.toLong
    for ((s, si) <- sources.zipWithIndex; kind <- Transforms) {
      val id = f"d$si%04d_$kind"
      turns ++= transform(base(s), id, convNo, kind, seed)
      manifest += Planted(base(s).head.conv_id, id,
        if (kind == "exact") "exact" else "transformed", kind, shouldDetect = true)
      convNo += 1
    }
    // hard negatives: two independent conversations of one family with
    // boosted boilerplate; at least 12 turns each, so the shared system
    // turn is a small part of either
    val negLen = lengths(2 * spec.nHardNeg, 1L).map(_.max(12))
    val negPerm = permutation(2 * spec.nHardNeg, seed + 1)
    for (h <- 0 until spec.nHardNeg) {
      val fam = h % Families
      val a = f"h$h%05d_a"; val b = f"h$h%05d_b"
      turns ++= conversation(a, convNo, seed ^ 0x4A4AL, fam, negLen(negPerm(2 * h)), boost = true)
      turns ++= conversation(b, convNo + 1, seed ^ 0x4A4AL, fam, negLen(negPerm(2 * h + 1)), boost = true)
      manifest += Planted(a, b, "hard_negative", "hard_negative", shouldDetect = false)
      convNo += 2
    }
    // mega-families: one short template per family, each member a 0.5%
    // token substitution of it — near-identical, so every member shares
    // most band buckets with every other and each bucket exceeds the cap
    for (f <- 0 until spec.megaFamilies) {
      val tpl = conversation(s"m${f}_tpl", convNo, seed ^ 0x3E6AL, f % Families, 6, tokens = 50)
      convNo += 1
      val first = f"m$f%02d_00000"
      for (m <- 0 until spec.megaSize) {
        val id = f"m$f%02d_$m%05d"
        val r = new Rng(seed ^ mix(convNo))
        turns ++= tpl.zipWithIndex.map { case (t, i) =>
          t.copy(conv_id = id, ts = ts(convNo, i), text = t.text.split(' ')
            .map(w => if (r.double() < 0.005) word(r.int(Vocab)) else w).mkString(" "))
        }
        if (m > 0) manifest += Planted(first, id, "mega", "subst0.5", shouldDetect = true)
        convNo += 1
      }
    }
    (turns.result(), manifest.result())
  }

  /** Canonical text form of the turns and manifest: what the determinism
    * test compares byte for byte, and what the input fingerprint hashes. */
  def render(turns: Seq[Turn], manifest: Seq[Planted]): String = {
    val sb = new StringBuilder
    turns.foreach(t => sb.append(t.conv_id).append('\t').append(t.turn_idx).append('\t')
      .append(t.role).append('\t').append(t.tool).append('\t').append(t.ts.getTime)
      .append('\t').append(t.text.replace("\n", "\\n")).append('\n'))
    manifest.foreach(p => sb.append(p.convA).append('\t').append(p.convB).append('\t')
      .append(p.kind).append('\t').append(p.transform).append('\t')
      .append(p.shouldDetect).append('\n'))
    sb.toString
  }
}

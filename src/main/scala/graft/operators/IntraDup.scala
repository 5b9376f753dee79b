package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.TextKernel
import graft.model.{ConvDoc, Turn}

/**
 * Intra-conversation analyses (SURVEY.md §2.3 X11/X13/X14):
 *  - repeatedSpans: copy-move analog — positional k-gram shingles repeated
 *    WITHIN one conversation (the clone-stamp two-stage detector's text
 *    analog, /root/reference/ai_pdf_panel_duplicate_check_AUTO.py:2026-2223);
 *    per-conversation generator + in-group counting, no cross-doc shuffle.
 *  - convProfile: content-type routing — role/tool mix + turn-length stats
 *    with a confidence floor (≙ detect_image_modality + the 0.15 confidence
 *    gate, ai_...AUTO.py:572-678).
 */
object IntraDup {

  /** Positional shingle hashes of one conversation — shared by
    * repeatedSpans and its oracle surface so the two can never drift.
    * Returns (tokenCount, hashes); hashes is empty when n < k. */
  private def positionalShingles(text: String, k: Int): (Int, Array[Long]) = {
    // fused tokenize+hash (TextKernel.tokenHashesFromNorm): bit-identical
    // to xxh64(token, TokenSeed) per split token — TextKernelSpec pins the
    // parity — at O(1) allocations instead of one String per token
    // (optimization r06; the per-token churn was this kernel's top cost)
    val th = TextKernel.tokenHashesFromNorm(TextKernel.normalize(text))
    val n = th.length
    if (n < k) return (n, Array.emptyLongArray)
    val hs = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) {
      var h = TextKernel.ShingleSeed
      var j = i
      while (j < i + k) { h = graft.functions.Hashing.xxh64Long(th(j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    (n, hs)
  }

  /** Oracle surfaces for the DuckDB replay of `intra_repeated_spans`:
    * the per-conversation positional shingle hashes (`intra_shingles`) and
    * token counts (`intra_doc`). The hash chain itself is the only
    * non-SQL step — with it dumped, every output column (repeat counts,
    * max multiplicity, repeat mass, interval-union clone coverage via
    * gaps-and-islands) is re-derivable in pure SQL. */
  def shingleSurface(docs: Dataset[ConvDoc], k: Int = 5): Seq[(String, DataFrame)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.flatMap { d =>
      val (_, hs) = positionalShingles(d.doc_text, k)
      hs.iterator.zipWithIndex.map { case (h, i) => (d.conv_id, i, h) }
    }.toDF("conv_id", "pos", "h")
    // the token count alone: no k-gram hashing
    val doc = docs.map { d =>
      (d.conv_id, TextKernel.tokenHashesFromNorm(TextKernel.normalize(d.doc_text)).length)
    }.toDF("conv_id", "n_tokens")
    Seq("intra_shingles" -> sh, "intra_doc" -> doc)
  }

  /** Per conversation: repeated-shingle stats (advisory evidence).
    * clone_coverage is the TRUE interval union of repeated spans — token
    * positions covered by any shingle occurring more than once, merged as
    * intervals (A6 analog: the reference's pixel-set union of clone
    * regions → area %, ai_...AUTO.py:2200-2214). */
  def repeatedSpans(docs: Dataset[ConvDoc], k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      it.map { d =>
        val (n, hs) = positionalShingles(d.doc_text, k)
        // multiplicity stats and the repeated spans' coverage from one
        // primitive counting table (TextKernel.repeatStats) — no boxing
        // HashMap[Long, Int], no sorted copy searched once per position
        val st = TextKernel.repeatStats(hs, k)
        (d.conv_id, n,
          st.nRepeated,                                  // distinct repeated shingles
          st.maxMultiplicity,                            // max multiplicity
          if (n >= k)
            st.excess.toDouble / math.max(1, n - k + 1)
          else 0.0,                                      // repeat mass fraction
          if (n == 0) 0.0 else st.covered.toDouble / n)  // interval-union coverage
      }
    }.toDF("conv_id", "n_tokens", "n_repeated_shingles", "max_multiplicity",
           "repeat_fraction", "clone_coverage")
  }

  /** Content-type routing per conversation (modality analog).
    *
    * Integer-exact: every rounded output is round-half-up over exact
    * integer sums — (2·m·10^d + n) div (2·n), scaled once at the end —
    * and every routing comparison is a cross-multiplied integer
    * predicate, so a replaying engine reproduces the values bit-for-bit.
    * A plain round(avg(...), d) diverges across engines whenever the
    * rational mean lands on a decimal tie (observed at 10× the oracle
    * gate scale: mean 531.175 — Spark HALF_UPs the shortest decimal
    * repr of the double to 531.18 while DuckDB scales-and-rounds the
    * raw double, which sits one ulp below the tie, to 531.17).
    *
    * Null-text convention: avg_turn_chars counts a null-text turn as 0
    * chars but keeps it in the denominator (sum(length)/n, where length
    * of null contributes nothing to the sum) — deliberate for routing: a
    * conversation padded with empty/null turns is NOT longform, and the
    * ratio denominators (tool/user/confidence) already count all turns.
    * The old avg(length(text)) silently excluded null-text rows from the
    * denominator instead; the oracle SQL (sum(len(text))/n) matches the
    * current convention exactly. */
  def convProfile(turns: Dataset[Turn]): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    val agg = turns.groupBy($"conv_id").agg(
      count(lit(1)).as("n"),
      sum(when($"role" === "tool", 1L).otherwise(0L)).as("tm"),
      sum(when($"role" === "user", 1L).otherwise(0L)).as("um"),
      sum(length($"text").cast("long")).as("chars"))
    // round-half-up(m·10^d / n) via exact integers; quotients are ≤ ~1e7
    // and the true value sits ≥ 1/(2n) from any integer, far above ulp,
    // so floor over the correctly-rounded double division cannot misround
    def rhu(m: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
            pow: Long): org.apache.spark.sql.Column =
      floor((m * lit(2L * pow) + n) / (n * lit(2L)))
    // confidence margin: the three signals share denominator n, so the
    // margin is itself a ratio of exact integers
    val cm = greatest($"tm", $"um", $"n" - $"tm" - $"um")
    agg.withColumn("content_type",
        when(cm * 20 < $"n" * 3, "unknown") // conf < 0.15 (MODALITY_MIN_CONFIDENCE analog)
          .when($"tm" * 10 >= $"n" * 3, "tool_heavy")          // ratio >= 0.3
          .when($"um" * 20 >= $"n" * 9, "interactive_dialog")  // ratio >= 0.45
          .when($"chars" > $"n" * 400, "longform")             // mean chars > 400
          .otherwise("dialog"))
      .withColumn("confidence", rhu(cm, $"n", 10000L) / 10000.0)
      .select($"conv_id", $"n".as("n_turns"),
        (rhu($"tm", $"n", 10000L) / 10000.0).as("tool_ratio"),
        (rhu($"um", $"n", 10000L) / 10000.0).as("user_ratio"),
        (rhu($"chars", $"n", 100L) / 100.0).as("avg_turn_chars"),
        $"content_type", $"confidence")
  }
}
